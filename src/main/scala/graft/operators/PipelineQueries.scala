package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables

/** Driver-gated END-TO-END run of the inspector pipeline: the full
  * consolidated + toponym dataflow ([[InspectorPipeline]], the same
  * code `Engine.transform` composes) over GeoJSON-shaped inputs
  * synthesized deterministically from the parquet tables, so the
  * DuckDB oracle can replay every branch arithmetically.
  *
  * Composed semantics exercised in ONE query (SURVEY §2 rows):
  * D3 last-wins sheet keyBy (duplicate sheets 0-2), J1 broadcast sheet
  * join, J2 left-outer borough join + log side-output (region 4 and
  * layer 9 have no borough), D1 first-seen building dedup (ids collide
  * mod 1000), F6 degenerate-ring filter AFTER dedup (H2; every 11th
  * building), F2 color truthiness guard (every 5th is ''), F7 'NONE' /
  * null address sentinels, G1 positional address explode (1-2
  * addresses + positional geometry pickup), P4 mapwarper fan-out ×2,
  * P3/F3/F4 toponym hash ids incl. the non-Point recursive coord join
  * (every 10th toponym is a Polygon), D2 toponym dedup (coords repeat
  * every 50 suppliers), J3 3-way spatial outcome (match / no-match
  * log / no-index error via layer 9), U1 tagged union of all streams.
  *
  * All synthesized coordinates/ids are integer-rendered, so the
  * oracle rebuilds the exact geometry/id strings with `||`; base62 of
  * the full 128-bit md5 is replayed with a UHUGEINT hex fold +
  * recursive divmod (the f4 pattern widened to 128 bits).
  */
object PipelineQueries {

  private def pt(x: Column, y: Column) =
    concat(lit("["), x, lit(","), y, lit("]"))

  private def ring5(x0: Column, y0: Column, x1: Column, y1: Column) =
    concat(lit("[["), pt(x0, y0), lit(","), pt(x1, y0), lit(","), pt(x1, y1),
      lit(","), pt(x0, y1), lit(","), pt(x0, y0), lit("]]"))

  /** Sheets from nation: 25 sheets, layer = region (nation 24 → layer
    * 9, which no building uses → the unindexed-layer outcome), plus
    * LATER duplicates of sheets 0-2 with a different map_id so the
    * last-wins keyBy is observable through toponym mapIds.
    */
  private[operators] def synthSheets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def feat(mapBase: Int) = struct(
      lit("Feature").as("type"),
      struct(
        $"n_nationkey".cast("long").as("id"),
        (lit(mapBase) + $"n_nationkey").cast("string").as("map_id"),
        struct(
          when($"n_nationkey" === 24, lit(9)).otherwise($"n_regionkey")
            .cast("long").as("external_id"),
          (lit(1880) + $"n_nationkey").cast("string").as("year"),
        ).as("layer"),
      ).as("properties"),
    ).as("feature")
    val n = Tables.nation(s, d)
    n.select($"n_nationkey".cast("long").as("ingest_order"), feat(10000))
      .unionByName(n.filter($"n_nationkey" < 3)
        .select(($"n_nationkey" + 100).cast("long").as("ingest_order"), feat(20000)))
  }

  /** Buildings from customer: ids collide mod 1000 (D1), every 11th
    * ring is degenerate (F6/H2), geometry text is integer-rendered.
    */
  private[operators] def synthConsolidated(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = $"c_custkey"
    val x0 = k % 97
    val y0 = k % 89 + 1
    val x1 = k % 97 + 1 + k % 5
    val y1 = k % 89 + 3 + k % 7
    val ring = when(k % 11 === 0,
      concat(lit("[["), pt(x0, y0), lit(","), pt(x1, y0), lit(","), pt(x0, y0), lit("]]")))
      .otherwise(ring5(x0, y0, x1, y1))
    val addr = when(k % 4 === 0, lit("NONE"))
      .when(k % 4 === 1, lit(null).cast("string"))
      .when(k % 4 === 2, concat(lit("[{\"flag_value\":\"a"), k % 50, lit("\"}]")))
      .otherwise(concat(lit("[{\"flag_value\":\"a"), k % 50,
        lit("\"},{\"flag_value\":\"b"), k % 50, lit("\"}]")))
    Tables.customer(s, d).select(
      k.as("ingest_order"),
      struct(
        lit("Feature").as("type"),
        struct(
          (k % 1000).cast("string").as("id"),
          (k % 24).as("sheet_id"),
          (lit(30000) + k % 100).cast("string").as("map_id"),
          when(k % 5 === 0, lit("")).otherwise($"c_mktsegment").as("consensus_color"),
          addr.as("consensus_address"),
        ).as("properties"),
        struct(
          lit("GeometryCollection").as("type"),
          array(
            struct(lit("Polygon").as("type"), ring.as("coordinates")),
            struct(lit("Point").as("type"), pt(x0 + 1, y0 + 1).as("coordinates")),
            struct(lit("Point").as("type"), pt(x0 + 2, y0 + 2).as("coordinates")),
          ).as("geometries"),
        ).as("geometry"),
      ).as("feature"),
    )
  }

  /** Toponyms from supplier: every 10th is a Polygon (non-Point id
    * path), point coords repeat with period 50 while sheets repeat
    * with period 25 → D2 dedup fires on the second half.
    */
  private[operators] def synthToponyms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val j = $"s_suppkey"
    val isPoly = j % 10 === 0
    val px = j % 50 + 1
    val py = j % 50 + 2
    val qx = j % 90
    val qy = j % 80
    Tables.supplier(s, d).select(
      j.as("ingest_order"),
      struct(
        lit("Feature").as("type"),
        struct(
          (j % 25).as("sheet_id"),
          $"s_name".as("consensus"),
        ).as("properties"),
        struct(
          when(isPoly, lit("Polygon")).otherwise(lit("Point")).as("type"),
          when(isPoly, ring5(qx, qy, qx + 4, qy + 4)).otherwise(pt(px, py))
            .as("coordinates"),
        ).as("geometry"),
      ).as("feature"),
    )
  }

  /** The full composed record stream (consolidated + toponym phases)
    * over the synthesized inputs — shared by the flattened
    * `pipe_end_to_end` gate and the serialized `pipe_ndjson_lines`
    * gate. The synth inputs are localCheckpoint-ed: each is re-read
    * under several output branches (sheets feeds the dims lookup,
    * consolidated feeds 5 record branches + the spatial index), and
    * materializing them once collapses the re-derived join subtrees
    * the round-2 plan audit flagged (59 exchanges).
    */
  private def pipelineRecords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val layers = Tables.region(s, d).filter($"r_regionkey" =!= 4)
      .select($"r_regionkey".cast("long").as("id"), $"r_name".as("borough"))
    // the three synth-input materializations are independent —
    // overlap their checkpoint jobs (guide §2.6, the Par device)
    val Seq(sheets, synthCons, synthTopo) = graft.util.Par(
      () => synthSheets(s, d).localCheckpoint(),
      () => synthConsolidated(s, d).localCheckpoint(),
      () => synthToponyms(s, d).localCheckpoint())
    InspectorPipeline.records(synthCons, synthTopo, sheets, layers)
  }

  /** The DuckDB replay of the synthesized pipeline, as a WITH prefix
    * shared by `pipe_end_to_end` (flattened record compare) and
    * `pipe_ndjson_lines` (serialized byte compare): sheets last-wins
    * dedup, building dedup + degenerate filter + borough join, address
    * explode, toponym base62 ids (UHUGEINT hex fold + recursive divmod
    * 62), toponym dedup + joins, and the point-in-polygon probe.
    */
  private val SynthCtes: String =
    """WITH RECURSIVE
      |sheets0 AS (
      |  SELECT n_nationkey AS sid, n_nationkey AS ord,
      |         CAST(10000 + n_nationkey AS VARCHAR) AS smap,
      |         CASE WHEN n_nationkey = 24 THEN 9 ELSE n_regionkey END AS slayer,
      |         1880 + n_nationkey AS syear
      |  FROM nation
      |  UNION ALL
      |  SELECT n_nationkey, n_nationkey + 100, CAST(20000 + n_nationkey AS VARCHAR),
      |         CASE WHEN n_nationkey = 24 THEN 9 ELSE n_regionkey END,
      |         1880 + n_nationkey
      |  FROM nation WHERE n_nationkey < 3),
      |sheets AS (
      |  SELECT sid, smap, slayer, syear FROM (
      |    SELECT *, row_number() OVER (PARTITION BY sid ORDER BY ord DESC) AS rn
      |    FROM sheets0) WHERE rn = 1),
      |boroughs AS (
      |  SELECT r_regionkey AS lid, r_name AS borough FROM region WHERE r_regionkey <> 4),
      |bld0 AS (
      |  SELECT c_custkey AS k,
      |         CAST(c_custkey % 1000 AS VARCHAR) AS bid,
      |         c_custkey % 24 AS sheet_id,
      |         30000 + c_custkey % 100 AS map_id,
      |         CASE WHEN c_custkey % 5 = 0 THEN '' ELSE c_mktsegment END AS color,
      |         c_custkey % 4 AS amode, c_custkey % 50 AS anum,
      |         c_custkey % 97 AS x0, c_custkey % 89 + 1 AS y0,
      |         c_custkey % 97 + 1 + c_custkey % 5 AS x1,
      |         c_custkey % 89 + 3 + c_custkey % 7 AS y1,
      |         (c_custkey % 11 = 0) AS degen
      |  FROM customer),
      |bld1 AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY bid ORDER BY k) AS rn FROM bld0)
      |  WHERE rn = 1),
      |bld AS (
      |  SELECT b.*, s.slayer AS layer_id, s.syear AS yr, br.borough
      |  FROM bld1 b
      |  JOIN sheets s ON b.sheet_id = s.sid
      |  LEFT JOIN boroughs br ON s.slayer = br.lid
      |  WHERE NOT b.degen),
      |addr AS (
      |  SELECT *, 1 AS pos1, 'a' || anum AS aname FROM bld WHERE amode IN (2, 3)
      |  UNION ALL
      |  SELECT *, 2, 'b' || anum FROM bld WHERE amode = 3),
      |top0 AS (
      |  SELECT s_suppkey AS j, s_suppkey % 25 AS sheet_id, s_name AS tname,
      |         (s_suppkey % 10 = 0) AS is_poly,
      |         s_suppkey % 50 + 1 AS px, s_suppkey % 50 + 2 AS py,
      |         s_suppkey % 90 AS qx, s_suppkey % 80 AS qy
      |  FROM supplier),
      |topj AS (
      |  SELECT *,
      |         CASE WHEN is_poly
      |              THEN qx||','||qy||','||(qx+4)||','||qy||','||(qx+4)||','||(qy+4)
      |                   ||','||qx||','||(qy+4)||','||qx||','||qy
      |              ELSE px||','||py END AS cj
      |  FROM top0),
      |toph AS (SELECT j, md5(cj) AS h FROM topj),
      |hexv(j, i, v) AS (
      |  SELECT j, 0, 0::UHUGEINT FROM toph
      |  UNION ALL
      |  SELECT x.j, x.i + 1,
      |         x.v * 16 + CAST(strpos('0123456789abcdef', substr(t.h, x.i + 1, 1)) - 1 AS UHUGEINT)
      |  FROM hexv x JOIN toph t ON t.j = x.j WHERE x.i < 32),
      |nval AS (SELECT j, v FROM hexv WHERE i = 32),
      |b62(j, remaining, acc) AS (
      |  SELECT j, v, '' FROM nval
      |  UNION ALL
      |  SELECT b.j, b.remaining // 62,
      |         substr('0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ',
      |                CAST(b.remaining % 62 AS INT) + 1, 1) || b.acc
      |  FROM b62 b WHERE b.remaining > 0),
      |tids AS (
      |  SELECT n.j, CASE WHEN n.v = 0 THEN '0' ELSE b.acc END AS id62
      |  FROM nval n JOIN b62 b ON b.j = n.j AND b.remaining = 0),
      |topi AS (
      |  SELECT t.*, 'toponym-' || t.sheet_id || '-' || i.id62 AS tid
      |  FROM topj t JOIN tids i ON i.j = t.j),
      |topd AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY tid ORDER BY j) AS rn FROM topi)
      |  WHERE rn = 1),
      |topf AS (
      |  SELECT t.*, s.slayer AS layer_id, s.syear AS yr,
      |         CAST(s.smap AS INT) AS map_id, br.borough
      |  FROM topd t
      |  JOIN sheets s ON t.sheet_id = s.sid
      |  LEFT JOIN boroughs br ON s.slayer = br.lid),
      |idxlayers AS (SELECT DISTINCT layer_id FROM bld),
      |probes AS (SELECT * FROM topf WHERE NOT is_poly),
      |probed AS (
      |  SELECT p.tid, b.bid
      |  FROM probes p
      |  JOIN idxlayers il ON p.layer_id = il.layer_id
      |  LEFT JOIN bld b ON b.layer_id = p.layer_id
      |    AND p.px >= b.x0 AND p.px <= b.x1 AND p.py >= b.y0 AND p.py <= b.y1)""".stripMargin

  private val endToEnd = Q(
    "pipe_end_to_end",
    (s, d) => {
      import s.implicits._
      val flat = pipelineRecords(s, d).select(
        $"rtype", $"id", $"otype", $"valid_since", $"valid_until", $"name",
        $"data.number".as("number"), $"data.sheetId".as("sheet_id"),
        $"data.layerId".as("layer_id"), $"data.mapId".as("map_id"),
        array_join($"data.colors", "|").as("colors"),
        $"data.borough".as("borough"), $"geometry_json",
        $"rel_from", $"rel_to", $"rel_type", $"error")
      flat.orderBy(flat.columns.toSeq.map(c => col(c).asc_nulls_first): _*)
    },
    Some(SynthCtes + """
           |SELECT * FROM (
           |  SELECT 'object' AS rtype, bid AS id, 'st:Building' AS otype,
           |         yr AS valid_since, yr AS valid_until,
           |         CAST(NULL AS VARCHAR) AS name, CAST(NULL AS VARCHAR) AS number,
           |         sheet_id, layer_id, map_id,
           |         CASE WHEN color <> '' THEN color END AS colors, borough,
           |         '{"type":"Polygon","coordinates":[[[' || x0 || ',' || y0 || '],['
           |           || x1 || ',' || y0 || '],[' || x1 || ',' || y1 || '],['
           |           || x0 || ',' || y1 || '],[' || x0 || ',' || y0 || ']]]}'
           |           AS geometry_json,
           |         CAST(NULL AS VARCHAR) AS rel_from, CAST(NULL AS VARCHAR) AS rel_to,
           |         CAST(NULL AS VARCHAR) AS rel_type, CAST(NULL AS VARCHAR) AS error
           |  FROM bld
           |  UNION ALL
           |  SELECT 'relation', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |         NULL, NULL, NULL, bid, 'mapwarper/' || map_id, 'st:in', NULL
           |  FROM bld
           |  UNION ALL
           |  SELECT 'relation', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |         NULL, NULL, NULL, bid, 'mapwarper/layer-' || layer_id, 'st:in', NULL
           |  FROM bld
           |  UNION ALL
           |  SELECT 'log', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |         NULL, NULL, NULL, NULL, NULL, NULL,
           |         'Can''t find borough for layer ' || layer_id
           |  FROM bld WHERE borough IS NULL
           |  UNION ALL
           |  SELECT 'object', bid || '-' || pos1, 'st:Address', yr, yr, aname, aname,
           |         sheet_id, layer_id, map_id, NULL, borough,
           |         '{"type":"Point","coordinates":[' || (x0 + pos1) || ',' || (y0 + pos1) || ']}',
           |         NULL, NULL, NULL, NULL
           |  FROM addr
           |  UNION ALL
           |  SELECT 'relation', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |         NULL, NULL, NULL, bid || '-' || pos1, bid, 'st:in', NULL
           |  FROM addr
           |  UNION ALL
           |  SELECT 'object', tid, 'st:Building', yr, yr, tname, NULL,
           |         sheet_id, layer_id, map_id, NULL, borough,
           |         CASE WHEN is_poly
           |              THEN '{"type":"Polygon","coordinates":[[[' || qx || ',' || qy || '],['
           |                   || (qx+4) || ',' || qy || '],[' || (qx+4) || ',' || (qy+4) || '],['
           |                   || qx || ',' || (qy+4) || '],[' || qx || ',' || qy || ']]]}'
           |              ELSE '{"type":"Point","coordinates":[' || px || ',' || py || ']}' END,
           |         NULL, NULL, NULL, NULL
           |  FROM topf
           |  UNION ALL
           |  SELECT 'relation', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |         NULL, NULL, NULL, tid, 'mapwarper/' || map_id, 'st:in', NULL
           |  FROM topf
           |  UNION ALL
           |  SELECT 'relation', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |         NULL, NULL, NULL, tid, 'mapwarper/layer-' || layer_id, 'st:in', NULL
           |  FROM topf
           |  UNION ALL
           |  SELECT 'log', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |         NULL, NULL, NULL, NULL, NULL, NULL,
           |         'Can''t find borough for layer ' || layer_id
           |  FROM topf WHERE borough IS NULL
           |  UNION ALL
           |  SELECT 'relation', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |         NULL, NULL, NULL, tid, bid, 'st:sameAs', NULL
           |  FROM probed WHERE bid IS NOT NULL
           |  UNION ALL
           |  SELECT 'log', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |         NULL, NULL, NULL, NULL, NULL, NULL,
           |         'Can''t find building for toponym ' || tid
           |  FROM probed WHERE bid IS NULL
           |  UNION ALL
           |  SELECT 'log', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |         NULL, NULL, NULL, NULL, NULL, NULL,
           |         'Error computing intersection for toponym ' || tid
           |  FROM probes WHERE layer_id NOT IN (SELECT layer_id FROM idxlayers))
           |ORDER BY rtype ASC NULLS FIRST, id ASC NULLS FIRST, otype ASC NULLS FIRST,
           |         valid_since ASC NULLS FIRST, valid_until ASC NULLS FIRST,
           |         name ASC NULLS FIRST, number ASC NULLS FIRST,
           |         sheet_id ASC NULLS FIRST, layer_id ASC NULLS FIRST,
           |         map_id ASC NULLS FIRST, colors ASC NULLS FIRST,
           |         borough ASC NULLS FIRST, geometry_json ASC NULLS FIRST,
           |         rel_from ASC NULLS FIRST, rel_to ASC NULLS FIRST,
           |         rel_type ASC NULLS FIRST, error ASC NULLS FIRST""".stripMargin),
  )

  /** S7 BYTE-CONTRACT gate: the exact serialized NDJSON lines of the
    * composed pipeline ([[graft.sources.NdjsonSink.lines]]) — field
    * order, null-field omission, and the raw-geometry splice — hashed
    * against an oracle that rebuilds every line with `||`. The
    * `pipe_end_to_end` gate pins the record *content*; this pins the
    * serialized bytes a downstream NDJSON consumer actually parses.
    */
  private val ndjsonLines = Q(
    "pipe_ndjson_lines",
    (s, d) => {
      import s.implicits._
      graft.sources.NdjsonSink.lines(pipelineRecords(s, d))
        .orderBy($"value".asc_nulls_first)
    },
    Some(NdjsonOracleSql),
  )

  /** The NDJSON byte oracle, shared verbatim by `pipe_ndjson_lines`
    * (batch rendering) and `pipe_ndjson_stream` (the same lines
    * produced through the STREAMING file sink) — one source of truth,
    * two execution paths gated against it.
    */
  private lazy val NdjsonOracleSql: String = SynthCtes + """
           |SELECT value FROM (
           |  SELECT '{"type":"object","obj":{"id":"' || bid
           |      || '","type":"st:Building","validSince":' || yr
           |      || ',"validUntil":' || yr
           |      || ',"data":{"sheetId":' || sheet_id
           |      || ',"layerId":' || layer_id || ',"mapId":' || map_id
           |      || CASE WHEN color <> '' THEN ',"colors":["' || color || '"]' ELSE '' END
           |      || CASE WHEN borough IS NOT NULL THEN ',"borough":"' || borough || '"' ELSE '' END
           |      || '},"geometry":{"type":"Polygon","coordinates":[[[' || x0 || ',' || y0
           |      || '],[' || x1 || ',' || y0 || '],[' || x1 || ',' || y1
           |      || '],[' || x0 || ',' || y1 || '],[' || x0 || ',' || y0
           |      || ']]]}}}' AS value
           |  FROM bld
           |  UNION ALL
           |  SELECT '{"type":"relation","obj":{"from":"' || bid
           |      || '","to":"mapwarper/' || map_id || '","type":"st:in"}}'
           |  FROM bld
           |  UNION ALL
           |  SELECT '{"type":"relation","obj":{"from":"' || bid
           |      || '","to":"mapwarper/layer-' || layer_id || '","type":"st:in"}}'
           |  FROM bld
           |  UNION ALL
           |  SELECT '{"type":"log","obj":{"error":"Can''t find borough for layer '
           |      || layer_id || '"}}'
           |  FROM bld WHERE borough IS NULL
           |  UNION ALL
           |  SELECT '{"type":"object","obj":{"id":"' || bid || '-' || pos1
           |      || '","type":"st:Address","validSince":' || yr
           |      || ',"validUntil":' || yr
           |      || ',"name":"' || aname
           |      || '","data":{"number":"' || aname
           |      || '","sheetId":' || sheet_id
           |      || ',"layerId":' || layer_id || ',"mapId":' || map_id
           |      || CASE WHEN borough IS NOT NULL THEN ',"borough":"' || borough || '"' ELSE '' END
           |      || '},"geometry":{"type":"Point","coordinates":[' || (x0 + pos1)
           |      || ',' || (y0 + pos1) || ']}}}'
           |  FROM addr
           |  UNION ALL
           |  SELECT '{"type":"relation","obj":{"from":"' || bid || '-' || pos1
           |      || '","to":"' || bid || '","type":"st:in"}}'
           |  FROM addr
           |  UNION ALL
           |  SELECT '{"type":"object","obj":{"id":"' || tid
           |      || '","type":"st:Building","validSince":' || yr
           |      || ',"validUntil":' || yr
           |      || ',"name":"' || tname
           |      || '","data":{"sheetId":' || sheet_id
           |      || ',"layerId":' || layer_id || ',"mapId":' || map_id
           |      || CASE WHEN borough IS NOT NULL THEN ',"borough":"' || borough || '"' ELSE '' END
           |      || '},"geometry":'
           |      || CASE WHEN is_poly
           |           THEN '{"type":"Polygon","coordinates":[[[' || qx || ',' || qy
           |                || '],[' || (qx+4) || ',' || qy || '],[' || (qx+4) || ',' || (qy+4)
           |                || '],[' || qx || ',' || (qy+4) || '],[' || qx || ',' || qy || ']]]}'
           |           ELSE '{"type":"Point","coordinates":[' || px || ',' || py || ']}' END
           |      || '}}'
           |  FROM topf
           |  UNION ALL
           |  SELECT '{"type":"relation","obj":{"from":"' || tid
           |      || '","to":"mapwarper/' || map_id || '","type":"st:in"}}'
           |  FROM topf
           |  UNION ALL
           |  SELECT '{"type":"relation","obj":{"from":"' || tid
           |      || '","to":"mapwarper/layer-' || layer_id || '","type":"st:in"}}'
           |  FROM topf
           |  UNION ALL
           |  SELECT '{"type":"log","obj":{"error":"Can''t find borough for layer '
           |      || layer_id || '"}}'
           |  FROM topf WHERE borough IS NULL
           |  UNION ALL
           |  SELECT '{"type":"relation","obj":{"from":"' || tid
           |      || '","to":"' || bid || '","type":"st:sameAs"}}'
           |  FROM probed WHERE bid IS NOT NULL
           |  UNION ALL
           |  SELECT '{"type":"log","obj":{"error":"Can''t find building for toponym '
           |      || tid || '"}}'
           |  FROM probed WHERE bid IS NULL
           |  UNION ALL
           |  SELECT '{"type":"log","obj":{"error":"Error computing intersection for toponym '
           |      || tid || '"}}'
           |  FROM probes WHERE layer_id NOT IN (SELECT layer_id FROM idxlayers))
           |ORDER BY value ASC NULLS FIRST""".stripMargin

  /** STREAMING S7 gate: the same serialized bytes as
    * `pipe_ndjson_lines`, but produced by the real streaming path —
    * the synthesized records go to a parquet landing fixture, flow
    * through `spark.readStream` → [[graft.streaming.StreamingOps
    * .writeNdjsonStream]] (file sink, exactly-once commit log), and
    * the committed text files are read back and hashed against the
    * IDENTICAL byte oracle. Batch and streaming render through one
    * shared transform, and this query proves the streaming commit
    * path preserves every byte of it. The read-back is
    * localCheckpoint-ed so the temp fixture/sink dirs are deleted
    * before the result leaves the function.
    */
  private val ndjsonStream = Q(
    "pipe_ndjson_stream",
    (s, d) => {
      import s.implicits._
      val records = pipelineRecords(s, d)
      val base = EventQueries.gateTempDir("graft-ndjson-stream-gate")
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val listing = java.nio.file.Files.list(p)
          try {
            import scala.jdk.CollectionConverters._
            listing.iterator().asScala.toSeq.foreach(rm)
          } finally listing.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      try {
        val fixture = s"$base/records"
        // Render the fixture OUTSIDE the gate confs: pipelineRecords is
        // the full batch inspector dataflow and wants the session's
        // full shuffle parallelism — the 8-partition pin is for the
        // state-store-bound streaming leg only.
        records.write.parquet(fixture)
        val out = s"$base/out"
        // round-15: the stream schema is the frame we just wrote — a
        // parquet write preserves it, so re-inferring via
        // s.read.parquet(fixture).schema was a needless footer-read
        // job inside the timed region
        val fixtureSchema = records.schema
        EventQueries.withStreamGateConfs(s) {
          val q = graft.streaming.StreamingOps.writeNdjsonStream(
            s.readStream.schema(fixtureSchema).parquet(fixture),
            out, s"$base/ckpt")
          try q.processAllAvailable()
          finally q.stop()
        }
        // GATE-ONLY canonicalization: the global sort exists so the
        // byte oracle can hash a deterministic order — a production
        // sink stops at the committed text files above; do not copy
        // this orderBy into a real pipeline.
        s.read.text(out).localCheckpoint()
          .orderBy($"value".asc_nulls_first)
      } finally rm(base)
    },
    Some(NdjsonOracleSql),
  )

  /** STREAMING S4 gate, DRIVER-GATED: the DSv2 GeoJSON source's
    * micro-batch mode ([[graft.sources.v2]]) run as a real streaming
    * query over a landing directory — file A is landed before the
    * stream starts, file B while it is RUNNING (write-then-rename, the
    * landing discipline the source documents), so the gate proves
    * incremental pickup, per-file ingest_order assignment, and full
    * feature_json payload fidelity (values round-trip through the
    * byte-range JSON reader and back out of get_json_object), not
    * just a one-shot scan. Features are synthesized from `supplier`
    * so the DuckDB oracle recomputes every output column
    * arithmetically. The driver-side render collect is gate-fixture
    * construction only (a FeatureCollection is a single JSON
    * document — inherently one writer per file).
    */
  private val geojsonStreamParity = Q(
    "s4_stream_parity",
    (s, d) => EventQueries.withStreamGateConfs(s) {
      import s.implicits._
      val rows = Tables.supplier(s, d)
        .select($"s_suppkey", $"s_nationkey".cast("long").as("nk"),
          graft.util.Cols.cents($"s_acctbal").as("bal_cents"))
        .orderBy($"s_suppkey")
        .collect()
      def doc(parity: Int): String = {
        val fs = rows.iterator.filter(_.getLong(0) % 2 == parity).map { r =>
          val k = r.getLong(0)
          s"""{"type":"Feature","properties":{"id":$k,"nk":${r.getLong(1)},""" +
            s""""bal_cents":${r.getLong(2)}},"geometry":{"type":"Point",""" +
            s""""coordinates":[${k % 95 + 1},${k % 87 + 2}]}}"""
        }
        s"""{"type":"FeatureCollection","features":[${fs.mkString(",")}]}"""
      }
      val dir = java.nio.file.Files.createTempDirectory("graft-s4-stream")
      def land(name: String, body: String): Unit = {
        // write-then-rename: the file must appear atomically (the
        // source picks a file up the moment it lists; .tmp is not
        // listed because only *.geojson names are)
        val tmp = dir.resolve(s"$name.tmp")
        java.nio.file.Files.writeString(tmp, body)
        java.nio.file.Files.move(tmp, dir.resolve(name),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val listing = java.nio.file.Files.list(p)
          try {
            import scala.jdk.CollectionConverters._
            listing.iterator().asScala.toSeq.foreach(rm)
          } finally listing.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      try {
        land("a-even.geojson", doc(0))
        val stream = s.readStream.format("geojson").load(dir.toString)
          .select(
            get_json_object($"feature_json", "$.properties.id").cast("long").as("id"),
            get_json_object($"feature_json", "$.properties.nk").cast("long").as("nk"),
            get_json_object($"feature_json", "$.properties.bal_cents").cast("long").as("bal_cents"),
            get_json_object($"feature_json", "$.geometry.coordinates[0]").cast("long").as("px"),
            $"ingest_order")
        val sink = "s4_stream_parity_sink"
        val q = stream.writeStream
          .outputMode("append").format("memory").queryName(sink).start()
        try {
          q.processAllAvailable()
          land("b-odd.geojson", doc(1))
          q.processAllAvailable()
          // the gate's point is incremental pickup: one data batch per
          // landed file. A layout/option regression fails loudly here.
          val dataBatches = q.recentProgress.count(_.numInputRows > 0)
          require(dataBatches == 2,
            s"s4 stream fixture must land in 2 micro-batches, got $dataBatches")
        } finally q.stop()
        s.table(sink)
          .select($"id", $"nk", $"bal_cents", $"px", $"ingest_order")
          .orderBy($"id")
      } finally rm(dir)
    },
    Some(s"""SELECT s_suppkey AS id, CAST(s_nationkey AS BIGINT) AS nk,
            |       ${graft.util.Cols.centsSql("s_acctbal")} AS bal_cents,
            |       s_suppkey % 95 + 1 AS px,
            |       row_number() OVER (PARTITION BY s_suppkey % 2
            |                          ORDER BY s_suppkey) - 1 AS ingest_order
            |FROM supplier ORDER BY id""".stripMargin),
  )

  // Driver-gated END-TO-END training-data assembly — the LLM-pipeline
  // dual of pipe_end_to_end: five stages composed in ONE query, each
  // the exact semantics of its standalone catalogue entry, all
  // replayed by a single DuckDB oracle:
  //   S1 exact dedup           (td_exact_dedup: first id per content md5)
  //   S2 near-dup removal      (td_dedup_clusters: MinHash→LSH→connected
  //                             components; keep cluster representatives —
  //                             the full candidate+CC chain runs inside)
  //   S3 quality filter        (ta_quality_score arithmetic, ≥ 0.5)
  //   S4 language filter       (labeled lang ∈ {en, es, de})
  //   S5 weighted source mix   (td_weighted_source_mix stable-hash rates)
  // Scale shape: S1 shuffles once on the content hash, S2 reuses the
  // bucketed LSH chain (never all-pairs), S3-S5 are per-row
  // projections/filters; the stages compose as one linear dataflow
  // with no stage materializing anything wider than its own keys.
  private val trainingData = Q(
    "pipe_training_data",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val exactKeep = Window.partitionBy(md5($"text")).orderBy($"doc_id")
      val reps = DedupQueries.dedupClusters.fn(s, d)
        .select($"doc_id".as("cl_doc"), $"cluster_rep")
      val words = split($"text", " ")
      val stop = Seq("the", "a", "of", "and", "to")
      val docBucket = expr(
        "md5_prefix_long(6, CAST(doc_id AS STRING)) % 100")
      val srcRate = expr(
        "md5_prefix_long(2, source) % 50 + 10")
      docs
        .withColumn("rn_exact", row_number().over(exactKeep))
        .join(reps, $"doc_id" === $"cl_doc", "left_outer")
        .withColumn("n_words", size(words))
        .withColumn("n_stop",
          size(filter(words, w => w.isin(stop.map(x => x: Any): _*))))
        .withColumn("quality",
          ($"n_stop".cast("double") / $"n_words") * 0.4 +
            when($"n_words" >= 20 && $"n_words" <= 80, 1.0).otherwise(0.0) * 0.6)
        .withColumn("rate", srcRate)
        .filter($"rn_exact" === 1)                                     // S1
        .filter($"cluster_rep".isNull || $"cluster_rep" === $"doc_id") // S2
        .filter($"quality" >= 0.5)                                     // S3
        .filter($"lang".isin("en", "es", "de"))                        // S4
        .filter(docBucket < $"rate")                                   // S5
        .select($"doc_id", $"source", $"lang", $"n_words", $"rate")
        .orderBy($"doc_id")
    },
    Some(s"""WITH RECURSIVE ${DedupQueries.minhashCandidatesCtes},
            |sym AS (
            |  SELECT doc1, doc2 FROM candidates
            |  UNION
            |  SELECT doc2, doc1 FROM candidates),
            |cnodes AS (SELECT DISTINCT doc1 AS node FROM sym),
            |reach(src, dst) AS (
            |  SELECT node, node FROM cnodes
            |  UNION
            |  SELECT r.src, e.doc2 FROM reach r JOIN sym e ON e.doc1 = r.dst),
            |reps AS (
            |  SELECT src AS doc_id, min(dst) AS cluster_rep
            |  FROM reach GROUP BY src),
            |exact AS (
            |  SELECT doc_id,
            |         row_number() OVER (PARTITION BY md5(text)
            |                            ORDER BY doc_id) AS rn_exact
            |  FROM documents),
            |qual AS (
            |  SELECT doc_id,
            |         len(string_split(text, ' ')) AS n_words,
            |         len(list_filter(string_split(text, ' '),
            |             w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
            |  FROM documents)
            |SELECT d.doc_id, d.source, d.lang,
            |       CAST(q.n_words AS INT) AS n_words,
            |       CAST('0x' || substr(md5(d.source), 1, 2) AS BIGINT) % 50 + 10
            |         AS rate
            |FROM documents d
            |JOIN exact e ON e.doc_id = d.doc_id
            |JOIN qual q ON q.doc_id = d.doc_id
            |LEFT JOIN reps r ON r.doc_id = d.doc_id
            |WHERE e.rn_exact = 1
            |  AND (r.cluster_rep IS NULL OR r.cluster_rep = d.doc_id)
            |  AND CAST(q.n_stop AS DOUBLE) / q.n_words * 0.4 +
            |      (CASE WHEN q.n_words BETWEEN 20 AND 80
            |            THEN 1.0 ELSE 0.0 END) * 0.6 >= 0.5
            |  AND d.lang IN ('en', 'es', 'de')
            |  AND CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
            |          AS BIGINT) % 100
            |      < CAST('0x' || substr(md5(d.source), 1, 2) AS BIGINT) % 50 + 10
            |ORDER BY d.doc_id""".stripMargin),
  )

  // COMPOSED DATA-SELECTION gate — the round-7 session-3 additions
  // chained end-to-end the way a corpus curation run uses them
  // (quality-gate, then duplicate-discount, then domain-importance
  // rank — the CCNet → SoftDeDup → DSIR order of a real pipeline):
  //   1. CCNet tiers (TextQueries.ccnetBuckets): drop the per-language
  //      'tail' tercile;
  //   2. soft-dedup weights (DedupQueries.softDedupDocWeights):
  //      1/cluster-size in micro-units, absent docs = 1.0;
  //   3. DSIR importance (TextQueries.dsirScores): hashed-bigram
  //      target/raw likelihood ratio (docs with no bigram feature
  //      have no importance score and are excluded — both engines);
  //   4. final rank: combined_micro = dsir · weight (micro-rescaled),
  //      top-200 heap with doc_id tie-break.
  // Every stage is the SAME code/SQL its own catalogue entry gates —
  // the composition adds only doc_id-keyed joins, a filter, and one
  // integer product, so a mismatch here isolates to the glue. Scale
  // shape: stages keep their individually-pinned plans; the glue
  // joins key on doc_id and the top-200 is TakeOrderedAndProject.
  private val dataSelection = Q(
    "pipe_data_selection",
    (s, d) => {
      import s.implicits._
      // The three stage constructions are independent and each runs
      // eager actions (ccnet's score checkpoint, the soft-dedup LSH/CC
      // chain's checkpoints); building them concurrently overlaps
      // those jobs (guide §2.6) — same plans, same results.
      val Seq(quality, dsir, weights) = graft.util.Par(
        () => TextQueries.ccnetBuckets(s, d)
          .filter($"bucket" =!= "tail")
          .select($"doc_id", $"lang", $"bucket"),
        () => TextQueries.dsirScores(s, d)
          .select($"doc_id", $"source", $"score_micro".as("dsir_micro")),
        () => DedupQueries.softDedupDocWeights(s, d))
      quality.join(dsir, "doc_id")
        .join(weights, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"source", $"lang", $"bucket",
          coalesce($"w_micro", lit(1000000L)).as("w_micro"), $"dsir_micro")
        .withColumn("combined_micro", expr("dsir_micro * w_micro div 1000000"))
        .orderBy($"combined_micro".desc, $"doc_id")
        .limit(200)
    },
    Some(s"""WITH RECURSIVE ${DedupQueries.softDedupCtes},
            |${TextQueries.dsirCtes},
            |${TextQueries.ccnetCtes}
            |SELECT doc_id, source, lang, bucket, w_micro, dsir_micro,
            |       combined_micro
            |FROM (
            |  SELECT c.doc_id, ds.source, c.lang, c.bucket,
            |         coalesce(w.w_micro, 1000000) AS w_micro,
            |         ds.score_micro AS dsir_micro,
            |         ds.score_micro * coalesce(w.w_micro, 1000000) // 1000000
            |           AS combined_micro
            |  FROM ccnet c
            |  JOIN dsir ds USING (doc_id)
            |  LEFT JOIN sd_weights w USING (doc_id)
            |  WHERE c.bucket <> 'tail')
            |ORDER BY combined_micro DESC, doc_id
            |LIMIT 200""".stripMargin),
  )

  // RENDEZVOUS-HASH shard assignment (Thaler & Ravishankar '98, HRW):
  // every doc scores each of the 16 shards with an independent 48-bit
  // md5 weight and lands on the argmax — the data-PLACEMENT primitive
  // for sharded corpus storage. The property that matters at 100 TB
  // (and that `hash(doc) % n` lacks): when a shard is removed, ONLY
  // the docs whose argmax was that shard move — re-sharding 16 → 15
  // relocates ~1/16 of the corpus instead of 15/16. Both assignments
  // are computed side by side (shard15 = argmax over shards 0-14) so
  // the `moved` flag IS that proof, row by row. The whole operator is
  // one in-row codegen'd pass — a 16-element transform + array_max
  // argmax (struct compares (w, sh) lexicographically, the exact
  // (w DESC, sh DESC) tie-break the oracle's window replays) — zero
  // shuffles, zero joins: placement cost scales with bytes scanned,
  // never with cluster coordination.
  private val shardAssign = Q(
    "td_shard_assign",
    (s, d) => {
      import s.implicits._
      val weights = expr(
        """transform(sequence(0, 15), i -> named_struct(
          |  'w', md5_prefix_long(12,
          |         CAST(doc_id AS STRING), '#', CAST(i AS STRING)),
          |  'sh', i))""".stripMargin)
      Tables.documents(s, d)
        .select($"doc_id", weights.as("ws"))
        .select($"doc_id",
          expr("array_max(ws).sh").as("shard16"),
          expr("array_max(slice(ws, 1, 15)).sh").as("shard15"))
        .select($"doc_id", $"shard16", $"shard15",
          ($"shard16" =!= $"shard15").as("moved"))
        .orderBy($"doc_id")
    },
    Some("""WITH w AS (
           |  SELECT doc_id, i.sh,
           |         CAST('0x' || substr(md5(
           |           CAST(doc_id AS VARCHAR) || '#' || CAST(i.sh AS VARCHAR)),
           |           1, 12) AS BIGINT) AS w
           |  FROM documents CROSS JOIN range(16) i(sh)),
           |a16 AS (
           |  SELECT doc_id, sh FROM (
           |    SELECT doc_id, sh, row_number() OVER (
           |      PARTITION BY doc_id ORDER BY w DESC, sh DESC) AS rn
           |    FROM w) WHERE rn = 1),
           |a15 AS (
           |  SELECT doc_id, sh FROM (
           |    SELECT doc_id, sh, row_number() OVER (
           |      PARTITION BY doc_id ORDER BY w DESC, sh DESC) AS rn
           |    FROM w WHERE sh < 15) WHERE rn = 1)
           |SELECT a16.doc_id, CAST(a16.sh AS INTEGER) AS shard16,
           |       CAST(a15.sh AS INTEGER) AS shard15,
           |       a16.sh <> a15.sh AS moved
           |FROM a16 JOIN a15 ON a16.doc_id = a15.doc_id
           |ORDER BY a16.doc_id""".stripMargin),
  )

  // DETERMINISTIC EPOCH SHUFFLE — the training-order primitive: every
  // epoch the corpus is re-read in a pseudorandom order that (a) is
  // reproducible from the epoch number alone, (b) is uniform (no
  // correlation with doc_id, source, or time order), and (c) differs
  // BETWEEN epochs (repeating epoch-1 order is a known training
  // degradation). Order key = md5(epoch || '#' || doc_id) — at 100 TB
  // the global order never materializes as a sort; readers range-
  // partition on the key's first byte (256 hash buckets ≈ file
  // shards) and sort only within a shard. This entry emits the
  // per-bucket manifest for epochs 1 and 2 side by side plus the
  // count of docs whose bucket DIDN'T move — uniformity shows as
  // n/256-sized buckets, epoch independence as stay ≈ n/256² per
  // bucket. One scan, both hashes per row, one 256-key aggregate.
  private val epochShuffle = Q(
    "td_epoch_shuffle",
    (s, d) => {
      import s.implicits._
      val b = (e: Int) =>
        expr(s"md5_prefix_long(2, '$e', '#', CAST(doc_id AS STRING))")
      Tables.documents(s, d)
        .select($"doc_id",
          size(split($"text", " ")).cast("long").as("n_tok"),
          b(1).as("bucket"), b(2).as("b2"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_e1"),
          sum($"n_tok").as("tok_e1"),
          sum(when($"b2" === $"bucket", 1L).otherwise(0L)).as("n_stay"))
        .orderBy($"bucket")
    },
    Some("""WITH es_d AS (
           |  SELECT doc_id,
           |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           |         CAST('0x' || substr(md5('1#' || CAST(doc_id AS VARCHAR)),
           |                             1, 2) AS BIGINT) AS bucket,
           |         CAST('0x' || substr(md5('2#' || CAST(doc_id AS VARCHAR)),
           |                             1, 2) AS BIGINT) AS b2
           |  FROM documents)
           |SELECT bucket, CAST(count(*) AS BIGINT) AS n_e1,
           |       CAST(sum(n_tok) AS BIGINT) AS tok_e1,
           |       CAST(sum(CASE WHEN b2 = bucket THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_stay
           |FROM es_d GROUP BY 1 ORDER BY bucket""".stripMargin),
  )

  // CORPUS SNAPSHOT DIFF — the change-data-capture primitive between
  // two corpus versions ("what did today's crawl add, drop, or
  // rewrite"): snapshot B is synthesized deterministically from the
  // same table (every 7th doc dropped, every 5th doc's text rewritten
  // by an APPEND marker, every doc_id ≡ 3 mod 9 added fresh with a
  // shifted id), then the diff is ONE full-outer join on doc_id
  // comparing content md5 — added / removed / changed / unchanged,
  // with per-status counts. The md5 comparison is the production
  // shape: the join ships 128-bit digests, not documents, so the
  // shuffle is O(|ids|), never O(corpus bytes). Output is the status
  // summary plus the changed-id sample (bounded top-20 per status by
  // id) so both the aggregate and row-level contracts hash-gate.
  private val snapshotDiff = Q(
    "td_snapshot_diff",
    (s, d) => {
      import s.implicits._
      val a = Tables.documents(s, d)
        .select($"doc_id", md5($"text").as("h_a"))
      val b = Tables.documents(s, d)
        .filter($"doc_id" % 7 =!= 0)
        .select($"doc_id",
          when($"doc_id" % 5 === 0, md5(concat($"text", lit(" [rev2]"))))
            .otherwise(md5($"text")).as("h_b"))
        .unionByName(
          Tables.documents(s, d)
            .filter($"doc_id" % 9 === 3)
            .select(($"doc_id" + 1000000L).as("doc_id"),
              md5(concat(lit("new:"), $"text")).as("h_b")))
      val diff = a.join(b, Seq("doc_id"), "full_outer")
        .select($"doc_id",
          when($"h_a".isNull, "added")
            .when($"h_b".isNull, "removed")
            .when($"h_a" =!= $"h_b", "changed")
            .otherwise("unchanged").as("status"))
      import org.apache.spark.sql.expressions.Window
      diff
        .withColumn("rk", row_number().over(
          Window.partitionBy($"status").orderBy($"doc_id")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"status")))
        .filter($"rk" <= 20)
        .select($"status", $"n", $"rk".cast("long").as("rk"), $"doc_id")
        .orderBy($"status", $"rk")
    },
    Some("""WITH sd_a AS (
           |  SELECT doc_id, md5(text) AS h_a FROM documents),
           |sd_b AS (
           |  SELECT doc_id,
           |         CASE WHEN doc_id % 5 = 0 THEN md5(text || ' [rev2]')
           |              ELSE md5(text) END AS h_b
           |  FROM documents WHERE doc_id % 7 <> 0
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id, md5('new:' || text) AS h_b
           |  FROM documents WHERE doc_id % 9 = 3),
           |sd_d AS (
           |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           |         CASE WHEN a.h_a IS NULL THEN 'added'
           |              WHEN b.h_b IS NULL THEN 'removed'
           |              WHEN a.h_a <> b.h_b THEN 'changed'
           |              ELSE 'unchanged' END AS status
           |  FROM sd_a a FULL OUTER JOIN sd_b b ON a.doc_id = b.doc_id)
           |SELECT status, n, rk, doc_id FROM (
           |  SELECT status, doc_id,
           |         row_number() OVER (PARTITION BY status ORDER BY doc_id)
           |           AS rk,
           |         CAST(count(*) OVER (PARTITION BY status) AS BIGINT) AS n
           |  FROM sd_d)
           |WHERE rk <= 20
           |ORDER BY status, rk""".stripMargin),
  )

  // DROP AUDIT — per-document provenance of the pipeline's filtering:
  // every doc gets the FIRST stage that would drop it (stage order
  // exact-dup → quality-tail → near-dup, first-fail-wins) or 'kept'.
  // This is the lineage table every production corpus build publishes
  // next to the corpus itself ("why is doc X not in the training
  // set?") and the input to per-stage loss accounting — without it a
  // selection pipeline is unauditable. Composes three already-gated
  // stages (exact-dedup keepers, CCNet tercile buckets, LSH+CC
  // near-dup clusters); each stage is evaluated corpus-wide and
  // joined doc-keyed, so the audit costs the stages themselves plus
  // three doc_id-keyed joins — nothing new shuffles more than the
  // corpus. The stages are evaluated INDEPENDENTLY (full-corpus
  // clusters, not clusters-of-exact-survivors): the audit reports
  // every reason a doc would fail, with precedence only deciding the
  // label.
  private val dropAudit = Q(
    "pipe_drop_audit",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", $"text")
      val keep = docs
        .groupBy(md5($"text").as("h")).agg(min($"doc_id").as("keep_id"))
      // quality (ccnet checkpoint) and clusters (the LSH+CC loop's
      // per-round checkpoints) are independent eager constructions —
      // overlap their jobs (guide §2.6); plans unchanged
      val Seq(quality, clusters) = graft.util.Par(
        () => TextQueries.ccnetBuckets(s, d).select($"doc_id", $"bucket"),
        () => DedupQueries.dedupClusters.fn(s, d)
          .select($"doc_id", $"cluster_rep"))
      docs.select($"doc_id", md5($"text").as("h"))
        .join(keep, "h")
        .join(quality, "doc_id")
        .join(clusters, Seq("doc_id"), "left_outer")
        .select($"doc_id",
          when($"doc_id" =!= $"keep_id", "exact_dup")
            .when($"bucket" === "tail", "quality_tail")
            .when(coalesce($"cluster_rep", $"doc_id") =!= $"doc_id", "near_dup")
            .otherwise("kept").as("stage"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH RECURSIVE ${DedupQueries.minhashCandidatesCtes},
            |${DedupQueries.clusterCtes},
            |${TextQueries.ccnetCtes},
            |keep AS (
            |  SELECT md5(text) AS h, min(doc_id) AS keep_id
            |  FROM documents GROUP BY md5(text))
            |SELECT d.doc_id,
            |       CASE WHEN d.doc_id <> k.keep_id THEN 'exact_dup'
            |            WHEN c.bucket = 'tail' THEN 'quality_tail'
            |            WHEN coalesce(cl.cluster_rep, d.doc_id) <> d.doc_id
            |              THEN 'near_dup'
            |            ELSE 'kept' END AS stage
            |FROM documents d
            |JOIN keep k ON k.h = md5(d.text)
            |JOIN ccnet c ON c.doc_id = d.doc_id
            |LEFT JOIN clusters cl ON cl.doc_id = d.doc_id
            |ORDER BY d.doc_id""".stripMargin),
  )

  /** The `flattenPaths` CSV export — the last reference artifact
    * beyond the operator surface (building-inspector.dataset.json:
    * 35-45): the dataset declares nine JSONPath hints naming the
    * nested `data` fields a tabular consumer flattens to CSV columns.
    * [[graft.sources.CsvFlattenSink]] resolves each hint against the
    * record schema generically — `$.data.uuid` is hinted but never
    * emitted by the pipeline, so it resolves to the typed all-null
    * column that keeps the declared CSV header stable; `colors[0]` /
    * `colors[1]` index the array; bare `colors` comma-joins it.
    *
    * Scale shape: a zero-shuffle projection over the object records
    * (the orderBy is gate canonicalization, not operator semantics).
    */
  private val csvFlatten = Q(
    "pipe_csv_flatten",
    (s, d) => {
      import s.implicits._
      val flat = graft.sources.CsvFlattenSink.flatten(
        pipelineRecords(s, d).filter($"rtype" === "object"),
        graft.sources.CsvFlattenSink.BuildingInspectorPaths)
      flat.orderBy(flat.columns.toSeq.map(c => col(c).asc_nulls_first): _*)
    },
    Some(SynthCtes + """
           |SELECT * FROM (
           |  SELECT bid AS id, 'st:Building' AS obj_type,
           |         CAST(NULL AS VARCHAR) AS name,
           |         yr AS valid_since, yr AS valid_until,
           |         CAST(NULL AS VARCHAR) AS data_uuid,
           |         sheet_id AS data_sheetid, layer_id AS data_layerid,
           |         map_id AS data_mapid,
           |         CASE WHEN color <> '' THEN color END AS data_colors_0,
           |         CAST(NULL AS VARCHAR) AS data_colors_1,
           |         CASE WHEN color <> '' THEN color END AS data_colors,
           |         borough AS data_borough, CAST(NULL AS VARCHAR) AS data_number
           |  FROM bld
           |  UNION ALL
           |  SELECT bid || '-' || pos1, 'st:Address', aname, yr, yr,
           |         NULL, sheet_id, layer_id, map_id, NULL, NULL, NULL,
           |         borough, aname
           |  FROM addr
           |  UNION ALL
           |  SELECT tid, 'st:Building', tname, yr, yr,
           |         NULL, sheet_id, layer_id, map_id, NULL, NULL, NULL,
           |         borough, NULL
           |  FROM topf)
           |ORDER BY id ASC NULLS FIRST, obj_type ASC NULLS FIRST,
           |         name ASC NULLS FIRST, valid_since ASC NULLS FIRST,
           |         valid_until ASC NULLS FIRST, data_uuid ASC NULLS FIRST,
           |         data_sheetid ASC NULLS FIRST, data_layerid ASC NULLS FIRST,
           |         data_mapid ASC NULLS FIRST, data_colors_0 ASC NULLS FIRST,
           |         data_colors_1 ASC NULLS FIRST, data_colors ASC NULLS FIRST,
           |         data_borough ASC NULLS FIRST, data_number ASC NULLS FIRST""".stripMargin),
  )

  // DATASET CARD (Gebru et al. "Datasheets for Datasets": the
  // per-source summary sheet every corpus release ships — composed
  // entirely from separately-gated stages plus source-keyed glue,
  // like the other pipe_* compositions). Per source: doc/token
  // counts, the dominant language with its exact ppm share
  // (total-ordered argmax), exact-duplicate docs (md5 within the
  // source), and the Gopher-gate keep rate — the last reusing the
  // SAME catalogue entry via the public QueryCatalog surface, so
  // this row provably matches `ta_gopher_rules`' own gated output.
  // Scale shape: three source/doc-keyed partial aggs + one
  // doc_id-keyed join; the card table is |sources|-bounded.
  private val datasetCard = Q(
    "pipe_dataset_card",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"source", $"lang", $"text")
        .localCheckpoint() // feeds four roll-up legs
      val base = docs.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum(size(split($"text", " "))).cast("long").as("n_tokens"))
      val langTop = docs.groupBy($"source", $"lang")
        .agg(count(lit(1)).as("ln"))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"source").orderBy($"ln".desc, $"lang")))
        .filter($"rk" === 1)
        .select($"source", $"lang".as("top_lang"), $"ln".as("top_lang_docs"))
      val dups = docs
        .withColumn("ndup",
          count(lit(1)).over(Window.partitionBy($"source", md5($"text"))))
        .groupBy($"source")
        .agg(sum(when($"ndup" > 1, 1L).otherwise(0L)).as("dup_docs"))
      val keep = graft.QueryCatalog.all.find(_.name == "ta_gopher_rules").get
        .fn(s, d).select($"doc_id", $"keep")
        .join(docs.select($"doc_id", $"source"), "doc_id")
        .groupBy($"source").agg(sum($"keep").as("kept_docs"))
      base.join(langTop, "source").join(dups, "source").join(keep, "source")
        .select($"source", $"n_docs", $"n_tokens", $"top_lang",
          expr("(top_lang_docs * 1000000) div n_docs").as("top_lang_ppm"),
          $"dup_docs",
          expr("(kept_docs * 1000000) div n_docs").as("gopher_keep_ppm"))
        .orderBy($"source")
    },
    Some("""WITH dc_docs AS (
           |  SELECT doc_id, source, lang, text FROM documents),
           |dc_base AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(sum(len(string_split(text, ' '))) AS BIGINT)
           |           AS n_tokens
           |  FROM dc_docs GROUP BY 1),
           |dc_lang AS (
           |  SELECT source, lang AS top_lang,
           |         CAST(ln AS BIGINT) AS top_lang_docs FROM (
           |    SELECT source, lang, count(*) AS ln,
           |           row_number() OVER (PARTITION BY source
           |                              ORDER BY count(*) DESC, lang) AS rk
           |    FROM dc_docs GROUP BY source, lang)
           |  WHERE rk = 1),
           |dc_dup AS (
           |  SELECT source,
           |         CAST(sum(CASE WHEN ndup > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |           AS dup_docs
           |  FROM (
           |    SELECT source, count(*) OVER (PARTITION BY source, md5(text))
           |             AS ndup
           |    FROM dc_docs)
           |  GROUP BY 1),
           |dc_gw AS (
           |  SELECT doc_id,
           |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           |         CAST(length(text) - len(string_split(text, ' ')) + 1
           |              AS BIGINT) AS wchars,
           |         CAST(len(list_filter(string_split(text, ' '),
           |              w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
           |         CAST(len(list_distinct(string_split(text, ' ')))
           |              AS BIGINT) AS n_distinct
           |  FROM documents),
           |dc_keep AS (
           |  SELECT g.doc_id,
           |         CASE WHEN n_words BETWEEN 15 AND 90
           |               AND wchars >= n_words * 4 AND wchars <= n_words * 8
           |               AND n_stop >= 2
           |               AND n_distinct * 10 >= n_words * 3
           |               AND n_stop * 8 <= n_words
           |              THEN 1 ELSE 0 END AS keep
           |  FROM dc_gw g),
           |dc_k AS (
           |  SELECT d.source, CAST(sum(k.keep) AS BIGINT) AS kept_docs
           |  FROM dc_keep k JOIN dc_docs d USING (doc_id)
           |  GROUP BY 1)
           |SELECT b.source, b.n_docs, b.n_tokens, l.top_lang,
           |       (l.top_lang_docs * 1000000) // b.n_docs AS top_lang_ppm,
           |       u.dup_docs,
           |       (k.kept_docs * 1000000) // b.n_docs AS gopher_keep_ppm
           |FROM dc_base b
           |JOIN dc_lang l USING (source)
           |JOIN dc_dup u USING (source)
           |JOIN dc_k k USING (source)
           |ORDER BY b.source""".stripMargin),
  )

  // SMALL-FILE COMPACTION PLANNER — the lakehouse maintenance op every
  // 100 TB table needs: pack each source's documents, in doc_id order,
  // into ~64 KiB output bins (each doc lands in the bin where its
  // running byte offset STARTS — the deterministic first-fit-by-offset
  // contract), and report the per-bin manifest a rewrite job would
  // execute. Sizes come from the n_chars METADATA column, so planning
  // never scans text. The running offset is the td_concat_chunks
  // two-phase prefix sum generalized to per-source series: phase 1
  // computes (source, id-range) subtotals with one partial agg; their
  // per-source exclusive prefix runs on the ≤ |sources|·P-row artifact
  // (window per source, P rows each); phase 2 adds the in-range local
  // prefix under a (source, rid) window — no global sort, no
  // SinglePartition, every window per-key bounded. Bin assignment is
  // pure integer division of the offset, replayed verbatim by the
  // oracle's (small-data) single-window form.
  private val compactionBins = Q(
    "pipe_compaction_bins",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val Target = 65536L
      val docs = Tables.documents(s, d)
        .select($"source", $"doc_id", $"n_chars".cast("long").as("bytes"))
      val P = math.max(8, docs.rdd.getNumPartitions)
      val stats = docs.agg(
        count(lit(1)), min($"doc_id").cast("long"), max($"doc_id").cast("long"),
        countDistinct($"doc_id"))
        .head()
      val n = stats.getLong(0)
      // doc_id·P/n is an order-respecting range partitioner only for
      // dense 0..n-1 ids (same loud precondition as td_concat_chunks).
      // count+min+max alone admit a multiset like {0,1,1,3} — and
      // duplicate doc_ids also make the (source, rid) window order
      // nondeterministic — so DISTINCTNESS is asserted in the same
      // stats row: countDistinct == n together with min=0/max=n-1
      // pins true denseness.
      require(n > 0 && stats.getLong(1) == 0L && stats.getLong(2) == n - 1 &&
          stats.getLong(3) == n,
        s"pipe_compaction_bins requires dense DISTINCT doc ids 0..n-1; " +
          s"got n=$n, min=${stats.get(1)}, max=${stats.get(2)}, " +
          s"distinct=${stats.get(3)}")
      val ranged = docs
        .withColumn("rid", ($"doc_id" * P / n).cast("int"))
        .localCheckpoint() // feeds the subtotal pass + the main pass
      val wOff = Window.partitionBy($"source").orderBy($"rid")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = ranged.groupBy($"source", $"rid")
        .agg(sum($"bytes").as("t"))
        .withColumn("off", coalesce(sum($"t").over(wOff), lit(0L)))
        .select($"source".as("o_source"), $"rid".as("o_rid"), $"off")
      val wLoc = Window.partitionBy($"source", $"rid").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      ranged
        .withColumn("local_before", coalesce(sum($"bytes").over(wLoc), lit(0L)))
        .join(broadcast(offsets),
          $"source" === $"o_source" && $"rid" === $"o_rid")
        .select($"source", $"bytes",
          (($"off" + $"local_before") / Target).cast("long").as("bin"))
        .groupBy($"source", $"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"bytes").as("bytes_total"))
        .orderBy($"source", $"bin")
    },
    Some("""WITH c AS (
           |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS bytes,
           |         CAST(coalesce(sum(n_chars) OVER (PARTITION BY source
           |           ORDER BY doc_id
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           AS BIGINT) AS cb
           |  FROM documents)
           |SELECT source, CAST(cb // 65536 AS BIGINT) AS bin,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(bytes) AS BIGINT) AS bytes_total
           |FROM c
           |GROUP BY 1, 2
           |ORDER BY source, bin""".stripMargin),
  )

  /** Delete a gate temp tree (the ndjson-stream discipline) — the
    * shared children-first walk in [[EventQueries.deleteRecursively]].
    */
  private def rmTree(p: java.nio.file.Path): Unit =
    EventQueries.deleteRecursively(p)

  /** Per-JVM memo of the Latin-1 corpus guard (see
    * `pipe_warc_http_chunked`): the invariant is a property of the
    * DATASET, so one scan per (JVM, sfDir) keeps the loud abort
    * without re-scanning on every benched rep.
    */
  private val latin1Checked =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def requireLatin1Corpus(s: SparkSession, d: String): Unit =
    latin1Checked.computeIfAbsent(d, _ => {
      import s.implicits._
      val nonLatin1 = Tables.documents(s, d)
        .filter(decode(encode($"text", "iso-8859-1"), "iso-8859-1")
          =!= $"text")
        .limit(1).count()
      require(nonLatin1 == 0,
        "pipe_warc_http_chunked's iso-8859-1 arm needs Latin-1-" +
          "representable corpus text; the documents fixture now has " +
          "chars that do not round-trip ISO-8859-1 — restrict the " +
          "iso arm to such rows or change its charset")
      java.lang.Boolean.TRUE
    })

  // WARC ROUND-TRIP (the sources family, crawl-archive edition):
  // render the documents corpus as ISO-28500 WARC response records
  // ([[graft.sources.Warc]]), read the bytes back through the
  // splittable DSv2 reader (format "warc" — chunkBytes forced down to
  // 256 KiB so the gate exercises MULTI-SPLIT planning and byte-range
  // reading, not one partition per file), parse `source` back OUT of
  // the Target-URI, and aggregate count / payload bytes / a 48-bit
  // payload-md5 checksum per source. The oracle recomputes all three
  // DIRECTLY over `documents`, so a green row proves every payload
  // byte and every derived header survived graft → WARC bytes →
  // graft — the corpus-interchange story (Common Crawl in, Common
  // Crawl out) for the 100-TB pipeline. Gate files live under the
  // tmpfs gate dir and are deleted before the result leaves; the
  // per-source aggregate is localCheckpoint-ed first (eager).
  private def warcRoundtripQ(name: String, gz: Boolean) = Q(
    name,
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-gate")
      try {
        val dir = s"$base/warc"
        if (gz) graft.sources.Warc.writeGzip(Tables.documents(s, d), dir)
        else graft.sources.Warc.write(Tables.documents(s, d), dir)
        s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
          .select(
            regexp_extract($"target_uri", "^http://([^.]+)\\.example/", 1)
              .as("source"),
            $"content_length", $"payload")
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_records"),
            sum($"content_length").as("bytes_total"),
            // DECIMAL(38,0) accumulation: 48-bit per-record checksums
            // overflow a Long sum past ~65k records/source; DuckDB's
            // HUGEINT sum is the same exact-decimal shape. The OUTPUT
            // column, though, must be int64 on both engines (the driver
            // hasher renders decimal128 and HUGEINT differently — the
            // round-11 red row), so the exact wide sum is folded into
            // int64 range with a shared modulus (2^53-1, the bytes_total
            // device) before leaving the aggregate.
            (sum(expr(
              "CAST(conv(substring(md5(payload), 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long")
              .as("payload_ck"))
          .orderBy($"source")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some("""SELECT source,
           |       count(*) AS n_records,
           |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS bytes_total,
           |       CAST(sum(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT))
           |            % 9007199254740991 AS BIGINT) AS payload_ck
           |FROM documents
           |GROUP BY source
           |ORDER BY source""".stripMargin),
  )

  private val warcRoundtrip = warcRoundtripQ("pipe_warc_roundtrip", gz = false)

  // The same gate replayed over a `.warc.gz` fixture (per-record gzip
  // members — the Common Crawl layout): [[graft.sources.Warc.writeGzip]]
  // renders one gzip member per record through the DSv2 warc sink, the
  // splittable member-walking reader parses them back under forced
  // multi-split planning, and the SAME oracle proves every payload byte
  // survived graft → gzip members → graft.
  private val warcGzRoundtrip = warcRoundtripQ("pipe_warc_gz_roundtrip", gz = true)

  // WARC URL PROFILE (sources family × URL family): read the archive
  // back touching ONLY `WARC-Target-URI` — the reader's required-
  // column pruning means payload bytes are never read (WarcSourceSpec
  // pins the pruned ReadSchema; this entry exercises that path under
  // the oracle gate) — parse the host with the UrlQueries regex and
  // emit the per-host politeness profile (count + md5-stable shard).
  // This is the crawl-side audit a fetch scheduler runs over an
  // archive BEFORE deciding re-crawl shards: at 100 TB it is a
  // header-only scan (a few % of archive bytes) plus one hash
  // aggregate on host. The oracle replays the URI derivation directly
  // over `documents` (Warc.render pins uri =
  // http://<source>.example/doc/<doc_id>).
  private def warcUrlProfileQ(name: String, gz: Boolean) = Q(
    name,
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-url")
      try {
        val dir = s"$base/warc"
        if (gz) graft.sources.Warc.writeGzip(Tables.documents(s, d), dir)
        else graft.sources.Warc.write(Tables.documents(s, d), dir)
        s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
          .select(UrlQueries.urlHost($"target_uri").as("host"))
          .groupBy($"host")
          .agg(count(lit(1)).as("n_records"))
          .withColumn("shard",
            expr("CAST(conv(substring(md5(host), 1, 6), 16, 10) AS BIGINT) % 16"))
          .select($"host", $"shard", $"n_records")
          .orderBy($"host")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some("""SELECT lower(source || '.example') AS host,
           |       CAST('0x' || substr(md5(lower(source || '.example')), 1, 6) AS BIGINT) % 16 AS shard,
           |       count(*) AS n_records
           |FROM documents
           |GROUP BY 1
           |ORDER BY host""".stripMargin),
  )

  // The DuckDB replay of graft.sources.Warc.htmlBody — the one shared
  // construction behind both http-payload gates below.
  private val HtmlSql =
    """'<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
      |'</title></head><body><p>' || text || '</p></body></html>'""".stripMargin

  // WARC HTTP PARSE (the REAL Common Crawl record shape): payloads are
  // full HTTP responses (status line, headers, blank line, HTML body)
  // rendered by Warc.renderHttp through the DSv2 sink, read back under
  // forced multi-split planning, and split into status/headers/body
  // with builtin string ops (regexp_extract for the status line,
  // instr+substr for the first CRLFCRLF boundary — all whole-stage
  // codegen). The per-source aggregate pins the split: body byte count
  // and a folded md5 checksum must equal the oracle's recomputation of
  // the SAME html construction directly over `documents` — one
  // misplaced boundary byte and the checksum diverges. At 100 TB this
  // is the first map stage after the archive scan (WET extraction's
  // prerequisite), zero shuffles before the final small aggregate.
  private val warcHttpParse = Q(
    "pipe_warc_http_parse",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-http")
      try {
        val dir = s"$base/warc"
        graft.sources.Warc.writeHttp(Tables.documents(s, d), dir)
        s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
          .select(
            regexp_extract($"target_uri", "^http://([^.]+)\\.example/", 1)
              .as("source"),
            $"payload".cast("string").as("p"))
          .withColumn("status",
            regexp_extract($"p", "^HTTP/1\\.1 ([0-9]{3})", 1).cast("int"))
          .withColumn("body",
            $"p".substr(instr($"p", "\r\n\r\n") + lit(4), length($"p")))
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_records"),
            count(when($"status" === 200, 1)).as("n_ok"),
            count(when($"status" === 404, 1)).as("n_notfound"),
            sum(octet_length($"body")).as("body_bytes"),
            (sum(expr(
              "CAST(conv(substring(md5(CAST(body AS BINARY)), 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long").as("body_ck"))
          .orderBy($"source")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some(s"""WITH h AS (
            |  SELECT source, doc_id, $HtmlSql AS html
            |  FROM documents)
            |SELECT source,
            |       count(*) AS n_records,
            |       count(*) FILTER (WHERE doc_id % 17 <> 0) AS n_ok,
            |       count(*) FILTER (WHERE doc_id % 17 = 0) AS n_notfound,
            |       CAST(sum(octet_length(encode(html))) AS BIGINT) AS body_bytes,
            |       CAST(sum(CAST('0x' || substr(md5(html), 1, 12) AS BIGINT))
            |            % 9007199254740991 AS BIGINT) AS body_ck
            |FROM h
            |GROUP BY source
            |ORDER BY source""".stripMargin),
  )

  // The DuckDB replay of graft.sources.Warc.htmlBodyIntl — htmlBody
  // with the § marker whose UTF-8/ISO-8859-1 encodings differ.
  private val HtmlIntlSql =
    """'<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
      |' §</title></head><body><p>' || text || '</p></body></html>'""".stripMargin

  // WARC HTTP CHUNKED/GZIP/CHARSET (the encodings real crawl responses
  // carry, which pipe_warc_http_parse idealizes away): the fixture
  // renders one third of the records with Transfer-Encoding: chunked
  // (no Content-Length, per RFC 9112), one third with
  // Content-Encoding: gzip, and alternates declared charsets
  // (utf-8 / iso-8859-1) — applied to a body containing a § so a
  // consumer that ignores the charset gets different bytes AND a
  // different decoded string. The reader side decodes with per-row
  // codegen devices only: the ISO-8859-1 decode/encode round-trip
  // (bijective bytes↔chars) exposes the header block to builtin
  // string ops without corrupting binary bodies, then
  // chunked_decode / gzip_decompress (native codegen expressions,
  // functions/HttpCodec.scala) undo the transfer/content encodings and
  // the declared charset decodes the text. The per-source aggregate
  // pins every step: decoded byte counts and a folded md5 checksum
  // must equal the oracle's recomputation of the SAME html directly
  // over `documents` — one wrong chunk boundary, gzip byte, or
  // charset pick and the checksum diverges. At 100 TB this is still
  // the zero-shuffle map stage after the archive scan.
  private val warcHttpChunked = Q(
    "pipe_warc_http_chunked",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.{chunked_decode, gzip_decompress}
      val base = EventQueries.gateTempDir("graft-warc-enc")
      try {
        val dir = s"$base/warc"
        // the iso-8859-1 arm of the fixture assumes every corpus text
        // char IS Latin-1-representable: Spark's encode substitutes '?'
        // for unmappable chars while the oracle recomputes from the
        // original text, so real non-Latin-1 corpus text (e.g. CJK)
        // would fail the gate far downstream as a checksum divergence.
        // Make that coupling LOUD instead — checked ONCE per JVM per
        // dataset (the memo keeps the guard scan off the benched
        // path: without it the probe re-scans the corpus on every
        // timed rep).
        requireLatin1Corpus(s, d)
        graft.sources.Warc.writeHttpEncoded(Tables.documents(s, d), dir)
        s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
          .select(
            regexp_extract($"target_uri", "^http://([^.]+)\\.example/", 1)
              .as("source"),
            decode($"payload", "ISO-8859-1").as("p"))
          .withColumn("hdr", $"p".substr(lit(1), instr($"p", "\r\n\r\n") - 1))
          .withColumn("te",
            regexp_extract($"hdr", "Transfer-Encoding: ([a-z]+)", 1))
          .withColumn("ce",
            regexp_extract($"hdr", "Content-Encoding: ([a-z]+)", 1))
          .withColumn("cs",
            lower(regexp_extract($"hdr", "charset=([A-Za-z0-9-]+)", 1)))
          .withColumn("braw",
            encode($"p".substr(instr($"p", "\r\n\r\n") + lit(4), length($"p")),
              "ISO-8859-1"))
          .withColumn("b1",
            when($"te" === "chunked", chunked_decode($"braw"))
              .otherwise($"braw"))
          .withColumn("b2",
            when($"ce" === "gzip", gzip_decompress($"b1")).otherwise($"b1"))
          .withColumn("body",
            when($"cs" === "iso-8859-1", decode($"b2", "ISO-8859-1"))
              .otherwise(decode($"b2", "UTF-8")))
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_records"),
            count(when($"te" === "chunked", 1)).as("n_chunked"),
            count(when($"ce" === "gzip", 1)).as("n_gzip"),
            sum(octet_length($"b2")).as("decoded_body_bytes"),
            (sum(expr(
              "CAST(conv(substring(md5(CAST(body AS BINARY)), 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long").as("body_ck"))
          .orderBy($"source")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some(s"""WITH h AS (
            |  SELECT source, doc_id, $HtmlIntlSql AS html
            |  FROM documents)
            |SELECT source,
            |       count(*) AS n_records,
            |       count(*) FILTER (WHERE doc_id % 3 = 1) AS n_chunked,
            |       count(*) FILTER (WHERE doc_id % 3 = 2) AS n_gzip,
            |       CAST(sum(CASE WHEN doc_id % 2 = 0
            |                     THEN octet_length(encode(html))
            |                     ELSE length(html) END) AS BIGINT)
            |         AS decoded_body_bytes,
            |       CAST(sum(CAST('0x' || substr(md5(html), 1, 12) AS BIGINT))
            |            % 9007199254740991 AS BIGINT) AS body_ck
            |FROM h
            |GROUP BY source
            |ORDER BY source""".stripMargin),
  )

  // WARC HTTP DEFLATE (the third real content-coding, and its famous
  // ambiguity): `Content-Encoding: deflate` means a zlib-wrapped
  // stream per RFC 9110, but non-conformant servers send RAW deflate
  // under the same header (RFC 9110 §8.4.1.2 documents the bug) — a
  // consumer must sniff the two-byte zlib header and fall back, which
  // is exactly what the deflate_decompress expression does. The
  // fixture renders BOTH shapes (zlib at doc_id%4==1, raw at ==2,
  // identity otherwise) under one header; the per-source aggregate
  // pins decoded byte counts and a folded md5 against the oracle's
  // recomputation of the same html over `documents` — a wrong sniff
  // on EITHER arm corrupts the checksum. Zero-shuffle map stage, as
  // with the chunked/gzip gate.
  private val warcHttpDeflate = Q(
    "pipe_warc_http_deflate",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.deflate_decompress
      val base = EventQueries.gateTempDir("graft-warc-defl")
      try {
        val dir = s"$base/warc"
        graft.sources.Warc.writeHttpDeflate(Tables.documents(s, d), dir)
        s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
          .select(
            regexp_extract($"target_uri", "^http://([^.]+)\\.example/", 1)
              .as("source"),
            decode($"payload", "ISO-8859-1").as("p"))
          .withColumn("hdr", $"p".substr(lit(1), instr($"p", "\r\n\r\n") - 1))
          .withColumn("ce",
            regexp_extract($"hdr", "Content-Encoding: ([a-z]+)", 1))
          .withColumn("braw",
            encode($"p".substr(instr($"p", "\r\n\r\n") + lit(4), length($"p")),
              "ISO-8859-1"))
          .withColumn("b2",
            when($"ce" === "deflate", deflate_decompress($"braw"))
              .otherwise($"braw"))
          .withColumn("body", decode($"b2", "UTF-8"))
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_records"),
            count(when($"ce" === "deflate", 1)).as("n_deflate"),
            sum(octet_length($"b2")).as("decoded_body_bytes"),
            (sum(expr(
              "CAST(conv(substring(md5(CAST(body AS BINARY)), 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long").as("body_ck"))
          .orderBy($"source")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some(s"""WITH h AS (
            |  SELECT source, doc_id, $HtmlSql AS html
            |  FROM documents)
            |SELECT source,
            |       count(*) AS n_records,
            |       count(*) FILTER (WHERE doc_id % 4 IN (1, 2)) AS n_deflate,
            |       CAST(sum(octet_length(encode(html))) AS BIGINT)
            |         AS decoded_body_bytes,
            |       CAST(sum(CAST('0x' || substr(md5(html), 1, 12) AS BIGINT))
            |            % 9007199254740991 AS BIGINT) AS body_ck
            |FROM h
            |GROUP BY source
            |ORDER BY source""".stripMargin),
  )

  // WET EXTRACT (Common Crawl's text sidecar, derived not stored):
  // http-payload archive written as PER-RECORD GZIP MEMBERS, read
  // back, body split off, tags stripped with one shared regex, the
  // language pulled from the X-Crawl-Lang response header — the
  // per-language profile a corpus builder runs before language
  // filtering. Every string op is a codegen builtin over the payload;
  // the oracle recomputes extraction from `documents` with the same
  // regex (DuckDB needs the explicit 'g' flag — its regexp_replace is
  // first-match by default, Spark's is global).
  private val warcWetExtract = Q(
    "pipe_warc_wet_extract",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-wet")
      try {
        val dir = s"$base/warc"
        graft.sources.Warc.writeHttpGzip(Tables.documents(s, d), dir)
        s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
          .select($"payload".cast("string").as("p"))
          .withColumn("lang",
            regexp_extract($"p", "X-Crawl-Lang: ([a-z]+)", 1))
          .withColumn("body",
            $"p".substr(instr($"p", "\r\n\r\n") + lit(4), length($"p")))
          .withColumn("wet", regexp_replace($"body", "<[^>]*>", ""))
          .groupBy($"lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(length($"wet")).as("n_chars"),
            (sum(expr(
              "CAST(conv(substring(md5(CAST(wet AS BINARY)), 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long").as("wet_ck"))
          .orderBy($"lang")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some(s"""WITH h AS (
            |  SELECT lang,
            |         regexp_replace($HtmlSql, '<[^>]*>', '', 'g') AS wet
            |  FROM documents)
            |SELECT lang,
            |       count(*) AS n_docs,
            |       CAST(sum(length(wet)) AS BIGINT) AS n_chars,
            |       CAST(sum(CAST('0x' || substr(md5(wet), 1, 12) AS BIGINT))
            |            % 9007199254740991 AS BIGINT) AS wet_ck
            |FROM h
            |GROUP BY lang
            |ORDER BY lang""".stripMargin),
  )

  // WARC REVISIT DEDUP (ISO 28500 §6.7 — the crawl-side dedup device):
  // a two-crawl fixture (every doc fetched once, every 7th re-fetched
  // unchanged) goes through Warc.renderWithRevisits, whose
  // (source, payload-digest) first-seen window turns the re-fetches
  // into `revisit` records — empty payload, WARC-Refers-To at the
  // referent. The read side then RESOLVES them: revisit records join
  // responses on record id (the one shuffle this operator costs at any
  // scale) and the per-source aggregate proves the resolution — stored
  // vs logical bytes and a folded checksum of the REFERENT payloads
  // must equal the oracle's replay of the same first-seen window
  // directly over `documents`. A dropped or mis-targeted WARC-Refers-To
  // shrinks n_revisit or diverges resolved_ck. The reader handles the
  // mixed record types under the existing Content-Length framing.
  private val warcRevisitDedup = Q(
    "pipe_warc_revisit_dedup",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-rv")
      try {
        val dir = s"$base/warc"
        val docs = Tables.documents(s, d)
        val fetches = docs.withColumn("fetch_id", $"doc_id" * 2)
          .unionAll(docs.filter($"doc_id" % 7 === 3)
            .withColumn("fetch_id", $"doc_id" * 2 + 1))
        graft.sources.Warc.writeRevisits(fetches, dir)
        def archive = s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
          .withColumn("source",
            regexp_extract($"target_uri", "^http://([^.]+)\\.example/", 1))
        val respAgg = archive.filter($"warc_type" === "response")
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_response"),
            sum($"content_length").as("stored_bytes"))
        val resolvedAgg = archive.filter($"warc_type" === "revisit")
          .select($"source".as("rv_source"), $"refers_to")
          .join(
            archive.filter($"warc_type" === "response")
              .select($"record_id".as("ref_id"),
                $"content_length".as("ref_len"), $"payload".as("ref_payload")),
            $"refers_to" === $"ref_id")
          .groupBy($"rv_source")
          .agg(
            count(lit(1)).as("n_revisit"),
            sum($"ref_len").as("extra_bytes"),
            (sum(expr(
              "CAST(conv(substring(md5(ref_payload), 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long").as("resolved_ck"))
        respAgg
          .join(resolvedAgg, $"source" === $"rv_source", "left")
          .select(
            $"source", $"n_response",
            coalesce($"n_revisit", lit(0L)).as("n_revisit"),
            $"stored_bytes",
            ($"stored_bytes" + coalesce($"extra_bytes", lit(0L)))
              .as("logical_bytes"),
            coalesce($"resolved_ck", lit(0L)).as("resolved_ck"))
          .orderBy($"source")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some("""WITH f AS (
           |  SELECT source, text, doc_id * 2 AS fetch_id FROM documents
           |  UNION ALL
           |  SELECT source, text, doc_id * 2 + 1 FROM documents
           |  WHERE doc_id % 7 = 3),
           |r AS (
           |  SELECT source, text,
           |         row_number() OVER (PARTITION BY source, md5(text)
           |                            ORDER BY fetch_id) AS rk
           |  FROM f)
           |SELECT source,
           |       count(*) FILTER (WHERE rk = 1) AS n_response,
           |       count(*) FILTER (WHERE rk > 1) AS n_revisit,
           |       CAST(sum(octet_length(encode(text))) FILTER (WHERE rk = 1)
           |            AS BIGINT) AS stored_bytes,
           |       CAST(sum(octet_length(encode(text))) AS BIGINT)
           |         AS logical_bytes,
           |       CAST(coalesce(sum(CAST('0x' || substr(md5(text), 1, 12)
           |                              AS BIGINT))
           |                       FILTER (WHERE rk > 1), 0)
           |            % 9007199254740991 AS BIGINT) AS resolved_ck
           |FROM r
           |GROUP BY source
           |ORDER BY source""".stripMargin),
  )

  // WARC PAYLOAD-DIGEST AUDIT (ISO 28500 §5.9 — the integrity check a
  // consumer runs before trusting archive bytes: every response
  // carries the WARC-Payload-Digest its crawler computed at fetch
  // time; recomputing it over the stored payload catches storage/
  // transport corruption that framing alone cannot, since a flipped
  // payload byte leaves Content-Length true). The fixture is the
  // revisit corpus (its responses carry md5 digests); the read side
  // recomputes md5(payload) per record IN-ROW and compares against
  // the parsed header — the oracle replays digests from `documents`
  // through the same first-seen window, so a reader that mis-parses
  // the digest header, or bytes that changed anywhere between render
  // and read-back, diverge. n_mismatch is pinned to ZERO here; the
  // POSITIVE case — one deliberately flipped payload byte caught as
  // exactly one mismatch — is spec-pinned in WarcSourceSpec (a gate
  // cannot tamper bytes and stay oracle-replayable). Zero-shuffle
  // map + small aggregate.
  private val warcDigestAudit = Q(
    "pipe_warc_digest_audit",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-digest")
      try {
        val dir = s"$base/warc"
        val docs = Tables.documents(s, d)
        val fetches = docs.withColumn("fetch_id", $"doc_id" * 2)
          .unionAll(docs.filter($"doc_id" % 7 === 3)
            .withColumn("fetch_id", $"doc_id" * 2 + 1))
        graft.sources.Warc.writeRevisits(fetches, dir)
        s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
          .filter($"warc_type" === "response")
          .select(
            regexp_extract($"target_uri", "^http://([^.]+)\\.example/", 1)
              .as("source"),
            $"payload_digest",
            md5($"payload").as("recomputed"))
          // an ABSENT digest header must count as a mismatch, not
          // fall between the counters: ok is NULL there (===-on-null),
          // and an integrity audit that silently passes exactly the
          // records it could not verify is no audit
          .withColumn("ok",
            coalesce(
              $"payload_digest" === concat(lit("md5:"), $"recomputed"),
              lit(false)))
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_responses"),
            count(when($"ok", 1)).as("n_verified"),
            count(when(!$"ok", 1)).as("n_mismatch"),
            (sum(expr(
              "CAST(conv(substring(recomputed, 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long").as("digest_ck"))
          .orderBy($"source")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some("""WITH f AS (
           |  SELECT source, text, doc_id * 2 AS fetch_id FROM documents
           |  UNION ALL
           |  SELECT source, text, doc_id * 2 + 1 FROM documents
           |  WHERE doc_id % 7 = 3),
           |r AS (
           |  SELECT source, text,
           |         row_number() OVER (PARTITION BY source, md5(text)
           |                            ORDER BY fetch_id) AS rk
           |  FROM f)
           |SELECT source,
           |       count(*) FILTER (WHERE rk = 1) AS n_responses,
           |       count(*) FILTER (WHERE rk = 1) AS n_verified,
           |       CAST(0 AS BIGINT) AS n_mismatch,
           |       CAST(sum(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT))
           |              FILTER (WHERE rk = 1)
           |            % 9007199254740991 AS BIGINT) AS digest_ck
           |FROM r
           |GROUP BY source
           |ORDER BY source""".stripMargin),
  )

  // WARC REQUEST/RESPONSE PAIRING (the full capture shape: real crawl
  // segments store the request NEXT TO its response, linked by
  // WARC-Concurrent-To): Warc.renderWithRequests writes both record
  // types, the read side parses the request line out of each request
  // payload and joins requests to responses on record id — the same
  // one-shuffle resolution device as revisit dedup. The per-source
  // checksum folds md5(request path || '|' || response target URI), so
  // a dropped, unpaired, or MIS-paired request (path and URI would
  // disagree) diverges from the oracle's recomputation over
  // `documents`. The response side of the join touches headers only —
  // payload pruning keeps the pairing audit at ~header I/O.
  private val warcRequestPair = Q(
    "pipe_warc_request_pair",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-rq")
      try {
        val dir = s"$base/warc"
        graft.sources.Warc.writeRequests(Tables.documents(s, d), dir)
        def archive = s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
        val reqs = archive.filter($"warc_type" === "request")
          .select(
            regexp_extract($"target_uri", "^http://([^.]+)\\.example/", 1)
              .as("source"),
            $"concurrent_to",
            regexp_extract($"payload".cast("string"),
              "^GET ([^ ]+) HTTP/1\\.1", 1).as("req_path"))
        val resps = archive.filter($"warc_type" === "response")
          .select($"record_id".as("rid"), $"target_uri")
        reqs
          .join(resps, $"concurrent_to" === $"rid")
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_paired"),
            (sum(expr(
              "CAST(conv(substring(md5(CAST(concat(req_path, '|', target_uri) AS BINARY)), 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long").as("pair_ck"))
          .orderBy($"source")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some("""SELECT source,
           |       count(*) AS n_paired,
           |       CAST(sum(CAST('0x' || substr(md5(
           |                '/doc/' || CAST(doc_id AS VARCHAR) || '|' ||
           |                'http://' || source || '.example/doc/' ||
           |                CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT))
           |            % 9007199254740991 AS BIGINT) AS pair_ck
           |FROM documents
           |GROUP BY source
           |ORDER BY source""".stripMargin),
  )

  // WARC STREAMING INGEST (how crawl archives actually ARRIVE: a
  // fetcher fleet lands finished segments one by one): the gate
  // renders the corpus into segment files, lands half of them in a
  // watched directory, starts `readStream.format("warc")`, lands the
  // rest, and requires the pickup to happen in exactly two data
  // micro-batches (an offset/listing regression fails loudly). The
  // streamed rows then aggregate to the SAME per-source
  // count/bytes/checksum contract as the batch round-trip gate — one
  // oracle pins batch scan, stream scan, and the sink's bytes against
  // `documents` simultaneously.
  private val warcStreamParity = Q(
    "pipe_warc_stream_parity",
    (s, d) => EventQueries.withStreamGateConfs(s) {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-stream")
      try {
        val stage = s"$base/stage"
        val land = java.nio.file.Paths.get(s"$base/land")
        java.nio.file.Files.createDirectories(land)
        // hash-repartition so the staged corpus lands as SEVERAL
        // segment files (the arrival shape the stream models); the
        // per-source aggregate is assignment-insensitive
        graft.sources.Warc.write(
          Tables.documents(s, d).repartition(4, $"doc_id"), stage)
        val parts = new java.io.File(stage).listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".warc"))
          .map(_.toPath).sortBy(_.getFileName.toString)
        require(parts.length >= 2,
          s"stream fixture needs >=2 part files, got ${parts.length}")
        def landFiles(ps: Seq[java.nio.file.Path]): Unit = ps.foreach { p =>
          // write-then-rename discipline: the dotted temp name is
          // never listed; the file appears atomically
          val tmp = land.resolve("." + p.getFileName.toString + ".tmp")
          java.nio.file.Files.copy(p, tmp)
          java.nio.file.Files.move(tmp, land.resolve(p.getFileName.toString),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        val (first, rest) = parts.toSeq.splitAt(parts.length / 2)
        landFiles(first)
        val stream = s.readStream.format("warc").load(land.toString)
          .select(
            regexp_extract($"target_uri", "^http://([^.]+)\\.example/", 1)
              .as("source"),
            $"content_length", $"payload")
        val sink = "pipe_warc_stream_parity_sink"
        val q = stream.writeStream
          .outputMode("append").format("memory").queryName(sink).start()
        try {
          q.processAllAvailable()
          landFiles(rest)
          q.processAllAvailable()
          // ≥2 proves incremental pickup (the second landing wave was
          // NOT folded into the first batch); an exact ==2 races with
          // the trigger when large files land mid-poll and a wave
          // splits — completeness is the checksum oracle's job
          val dataBatches = q.recentProgress.count(_.numInputRows > 0)
          require(dataBatches >= 2,
            s"warc stream fixture must land incrementally (>=2 " +
              s"micro-batches), got $dataBatches")
        } finally q.stop()
        s.table(sink)
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_records"),
            sum($"content_length").as("bytes_total"),
            (sum(expr(
              "CAST(conv(substring(md5(payload), 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long")
              .as("payload_ck"))
          .orderBy($"source")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some("""SELECT source,
           |       count(*) AS n_records,
           |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS bytes_total,
           |       CAST(sum(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT))
           |            % 9007199254740991 AS BIGINT) AS payload_ck
           |FROM documents
           |GROUP BY source
           |ORDER BY source""".stripMargin),
  )

  // WARCINFO RECORDS (ISO 28500 §6.2 — the file-level metadata record
  // every real crawl segment BEGINS with): the corpus is written as
  // four part files, each LED by a sink-emitted warcinfo record
  // (warc-fields payload, WARC-Filename), and read back whole. The
  // output unions the round-trip per-source response profile with a
  // `_warcinfo` profile row, so ONE oracle pins three things at once:
  // the reader exposes warcinfo as a first-class row (count = part
  // files, payload = the shared WarcinfoFields bytes), the response
  // rows' counts/bytes/checksums are UNAFFECTED by the leading record
  // (the type filter every consumer already applies keeps working),
  // and record accounting (content_length framing) holds across the
  // mixed profile. Still one scan + one small hash aggregate.
  private val InfoParts = 4
  private val warcWarcinfo = Q(
    "pipe_warc_warcinfo",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-info")
      try {
        val dir = s"$base/warc"
        graft.sources.Warc.writeWithWarcinfo(
          Tables.documents(s, d).repartition(InfoParts, $"doc_id"), dir)
        // the oracle's `_warcinfo` row hardcodes InfoParts; an empty
        // hash partition writes NO file (lazy open, by design), which
        // would otherwise surface as an opaque hash mismatch — abort
        // with the actual cause instead
        val nParts = new java.io.File(dir).listFiles()
          .count(f => f.isFile && f.getName.endsWith(".warc"))
        require(nParts == InfoParts,
          s"warcinfo fixture wrote $nParts part files, oracle expects " +
            s"$InfoParts — corpus too small for ${InfoParts} non-empty " +
            "hash partitions?")
        val archive = s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
        val resp = archive.filter($"warc_type" === "response")
          .select(
            regexp_extract($"target_uri", "^http://([^.]+)\\.example/", 1)
              .as("k"),
            $"content_length", $"payload")
        val info = archive.filter($"warc_type" === "warcinfo")
          .select(lit("_warcinfo").as("k"), $"content_length", $"payload")
        resp.unionAll(info)
          .groupBy($"k")
          .agg(
            count(lit(1)).as("n_records"),
            sum($"content_length").as("bytes_total"),
            (sum(expr(
              "CAST(conv(substring(md5(payload), 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long").as("payload_ck"))
          .select($"k".as("source"), $"n_records", $"bytes_total",
            $"payload_ck")
          .orderBy($"source")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some(s"""SELECT source,
            |       count(*) AS n_records,
            |       CAST(sum(octet_length(encode(text))) AS BIGINT)
            |         AS bytes_total,
            |       CAST(sum(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT))
            |            % 9007199254740991 AS BIGINT) AS payload_ck
            |FROM documents
            |GROUP BY source
            |UNION ALL
            |SELECT '_warcinfo',
            |       CAST($InfoParts AS BIGINT),
            |       CAST($InfoParts *
            |            length(${graft.sources.Warc.WarcinfoFieldsSql})
            |            AS BIGINT),
            |       CAST(($InfoParts *
            |             CAST('0x' || substr(
            |               md5(${graft.sources.Warc.WarcinfoFieldsSql}),
            |               1, 12) AS BIGINT))
            |            % 9007199254740991 AS BIGINT)
            |ORDER BY source""".stripMargin),
  )

  // WARC CDX INDEX (the random-access sidecar: Common Crawl ships a
  // CDX(J) index of (urlkey, offset, length, digest) so consumers can
  // range-request single records out of multi-GB segments): write the
  // corpus as ONE deterministic-order segment — LED, as every real
  // segment is, by a warcinfo record (the sink's warcinfo option; its
  // WARC-Filename field pinned to a literal so the record's bytes are
  // replayable) — read it back, and emit each response's CDX tuple:
  // seekable byte offset (`record_offset`), stored length, payload
  // digest. The oracle replays the OFFSETS by reconstructing the
  // envelope byte-for-byte in SQL (shared header derivations:
  // record-id md5, date arithmetic, Content-Length digits, the
  // warcinfo record's full envelope as the base offset) and
  // prefix-summing record sizes — a single drifted byte anywhere in
  // the rendering, the warcinfo head, or the reader's offset
  // accounting shifts every subsequent offset. At scale CDX generation
  // is per-file (offsets are file-local), so the single-segment
  // fixture is the contract check, not the scale shape; the
  // random-access REPLAY of these offsets is spec-pinned in
  // WarcSourceSpec.
  private val CdxInfoName = "segment-00000.warc"

  /** DuckDB reconstruction of one response record's TOTAL byte size
    * (header block + payload + closing CRLFCRLF) over `documents`
    * columns — THE single definition behind every CDX oracle's prefix
    * sums, mirroring [[graft.sources.Warc]]'s headerBlock field by
    * field. Expects a `crlf` CTE providing `c` in scope.
    */
  private val RespRecBytesSql =
    """octet_length(encode(
      |           'WARC/1.0' || c || 'WARC-Type: response' || c ||
      |           'WARC-Record-ID: <urn:md5:' ||
      |             md5('warc:' || CAST(doc_id AS VARCHAR)) || '>' || c ||
      |           'WARC-Date: 2020-01-01T' ||
      |             lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':' ||
      |             lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':' ||
      |             lpad(CAST((doc_id * 7) % 60 AS VARCHAR), 2, '0') ||
      |             'Z' || c ||
      |           'WARC-Target-URI: http://' || source ||
      |             '.example/doc/' || CAST(doc_id AS VARCHAR) || c ||
      |           'Content-Type: text/plain; charset=utf-8' || c ||
      |           'Content-Length: ' ||
      |             CAST(octet_length(encode(text)) AS VARCHAR) ||
      |             c || c || text)) + 4""".stripMargin

  /** DuckDB reconstruction of a sink-emitted warcinfo record's TOTAL
    * byte size, `filenameExpr` being a SQL expression for its
    * WARC-Filename value — shared by the CDX oracles' base offsets.
    * Expects the `crlf` CTE's `c` in scope.
    */
  private def warcinfoHeadBytesSql(filenameExpr: String): String =
    s"""octet_length(encode(
       |           'WARC/1.0' || c || 'WARC-Type: warcinfo' || c ||
       |           'WARC-Record-ID: <urn:md5:' ||
       |             md5('warcinfo:' || $filenameExpr) || '>' || c ||
       |           'WARC-Date: 2020-01-01T00:00:00Z' || c ||
       |           'WARC-Filename: ' || $filenameExpr || c ||
       |           'Content-Type: application/warc-fields' || c ||
       |           'Content-Length: ' || CAST(length(
       |             ${graft.sources.Warc.WarcinfoFieldsSql}) AS VARCHAR) ||
       |             c || c ||
       |           ${graft.sources.Warc.WarcinfoFieldsSql})) + 4""".stripMargin
  private val warcCdx = Q(
    "pipe_warc_cdx",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-cdx")
      try {
        val dir = s"$base/warc"
        graft.sources.Warc.writeWithWarcinfo(
          Tables.documents(s, d).orderBy($"doc_id").coalesce(1), dir,
          filenameField = Some(CdxInfoName))
        s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
          .filter($"warc_type" === "response")
          .select(
            expr("CAST(regexp_extract(target_uri, '/doc/([0-9]+)$', 1) AS BIGINT)")
              .as("doc_id"),
            $"record_offset", $"content_length",
            md5($"payload").as("digest"))
          .orderBy($"doc_id")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some(s"""WITH crlf AS (SELECT chr(13) || chr(10) AS c),
            |wi AS (
            |  SELECT ${warcinfoHeadBytesSql(s"'$CdxInfoName'")} AS base
            |  FROM crlf),
            |r AS (
            |  SELECT doc_id,
            |         CAST(octet_length(encode(text)) AS BIGINT) AS plen,
            |         $RespRecBytesSql AS rec_bytes,
            |         md5(text) AS digest
            |  FROM documents, crlf)
            |SELECT doc_id,
            |       CAST(wi.base + coalesce(sum(rec_bytes) OVER (ORDER BY doc_id
            |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            |            0) AS BIGINT) AS record_offset,
            |       plen AS content_length,
            |       digest
            |FROM r, wi
            |ORDER BY doc_id""".stripMargin),
  )

  // WARC CDX v2 (the REAL index shape: SURT-canonicalized urlkey +
  // multi-file): real CDX(J) lines key on the SURT form of the URL —
  // host labels reversed and comma-joined, then ')' + path
  // (`com,example)/doc/7`), so one domain's captures sort together —
  // and offsets are FILE-LOCAL across many segment files, disambiguated
  // by a filename column. The fixture writes TWO warcinfo-led segments
  // (seg = doc_id % 2, each deterministically ordered and renamed to
  // the name its warcinfo field promises; the sidecar index moves with
  // it — its fingerprint is content-based, so renames keep it fresh),
  // reads them back as one archive, and emits (urlkey, filename,
  // record_offset, content_length, digest). The oracle replays the
  // SURT transform with its own list machinery AND the per-file byte
  // accounting via seg-partitioned prefix sums over byte-exact
  // envelope reconstructions (warcinfo head included) — a drifted byte
  // in either file, or a record attributed to the wrong file, fails.
  // At 100 TB: CDX generation is embarrassingly per-file (everything
  // here is in-row except the final order), exactly this plan.
  private val warcCdx2 = Q(
    "pipe_warc_cdx2",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-cdx2")
      try {
        val docs = Tables.documents(s, d)
        val segsDir = java.nio.file.Paths.get(s"$base/segs")
        java.nio.file.Files.createDirectories(segsDir)
        for (g <- Seq(0, 1)) {
          val name = f"segment-$g%05d.warc"
          graft.sources.Warc.writeWithWarcinfo(
            docs.filter($"doc_id" % 2 === g).orderBy($"doc_id").coalesce(1),
            s"$base/w$g", filenameField = Some(name))
          val segDir = new java.io.File(s"$base/w$g")
          val part = segDir.listFiles()
            .filter(f => f.isFile && f.getName.endsWith(".warc") &&
              !f.getName.startsWith("."))
            .toSeq match {
            case Seq(one) => one
            case other => throw new IllegalStateException(
              s"cdx2 fixture expected one part file, got $other")
          }
          java.nio.file.Files.move(part.toPath, segsDir.resolve(name))
          val idx = new java.io.File(segDir, "." + part.getName + ".idx")
          if (idx.isFile) java.nio.file.Files.move(
            idx.toPath, segsDir.resolve("." + name + ".idx"))
        }
        s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(segsDir.toString)
          .filter($"warc_type" === "response")
          .select(
            // the SHARED SURT device (UrlQueries.urlSurt — also gated
            // over messy URLs by ta_url_surt); on these clean URIs the
            // canonicalization arms are no-ops and the key is pure
            // host-reversal + path
            UrlQueries.urlSurt($"target_uri").as("urlkey"),
            regexp_extract($"path", "/([^/]+)$", 1).as("filename"),
            $"record_offset", $"content_length",
            md5($"payload").as("digest"))
          .orderBy($"urlkey", $"filename")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some(s"""WITH crlf AS (SELECT chr(13) || chr(10) AS c),
            |wi AS (
            |  SELECT seg,
            |         'segment-0000' || CAST(seg AS VARCHAR) || '.warc'
            |           AS filename,
            |         ${warcinfoHeadBytesSql(
      "'segment-0000' || CAST(seg AS VARCHAR) || '.warc'")} AS base
            |  FROM (SELECT 0 AS seg UNION ALL SELECT 1), crlf),
            |r AS (
            |  SELECT doc_id, source, doc_id % 2 AS seg,
            |         CAST(octet_length(encode(text)) AS BIGINT) AS plen,
            |         $RespRecBytesSql AS rec_bytes,
            |         md5(text) AS digest
            |  FROM documents, crlf)
            |SELECT array_to_string(
            |         list_reverse(string_split(r.source || '.example', '.')),
            |         ',') || ')/doc/' || CAST(r.doc_id AS VARCHAR) AS urlkey,
            |       wi.filename,
            |       CAST(wi.base +
            |            coalesce(sum(rec_bytes) OVER (PARTITION BY r.seg
            |              ORDER BY doc_id
            |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            |            0) AS BIGINT) AS record_offset,
            |       plen AS content_length,
            |       digest
            |FROM r JOIN wi ON wi.seg = r.seg
            |ORDER BY urlkey, filename""".stripMargin),
  )

  // WARC SEGMENTED RECORDS (ISO 28500 §5.8 — how >buffer records ship
  // in real crawls): documents render with every text over SegChars
  // chars split into a first `response` record plus `continuation`
  // records (WARC-Segment-Number / WARC-Segment-Origin-ID /
  // terminal WARC-Segment-Total-Length), and the read side REASSEMBLES:
  // continuations group on the origin id, sort by segment number, and
  // concatenate onto their first record's payload — the one shuffle
  // this operator costs, and it moves ONLY segmented records (the
  // unsegmented majority short-circuits through the left join). The
  // per-source aggregate pins count, segmented-doc count, continuation
  // count, reassembled length, and a folded md5 of the REASSEMBLED
  // text against the oracle's direct recomputation over `documents` —
  // a lost continuation, a mis-sorted segment, or a broken origin
  // pointer diverges. At 100 TB the shuffle is ∝ segmented records
  // (real crawls: a small tail), hash-partitioned on the origin id.
  private val SegChars = 256
  private val warcSegmented = Q(
    "pipe_warc_segmented",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-seg")
      try {
        val dir = s"$base/warc"
        graft.sources.Warc.writeSegmented(
          Tables.documents(s, d), dir, SegChars)
        def archive = s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
        val firsts = archive.filter($"warc_type" === "response")
          .select(
            regexp_extract($"target_uri", "^http://([^.]+)\\.example/", 1)
              .as("source"),
            $"record_id", $"segment_number", $"payload")
        val conts = archive.filter($"warc_type" === "continuation")
          .groupBy($"segment_origin_id")
          .agg(
            count(lit(1)).as("n_cont"),
            collect_list(struct($"segment_number".as("k"),
              $"payload".as("p"))).as("parts"))
          .select($"segment_origin_id".as("oid"), $"n_cont",
            expr("aggregate(array_sort(parts), CAST('' AS BINARY), " +
              "(acc, x) -> concat(acc, x.p))").as("rest"))
        firsts
          .join(conts, $"record_id" === $"oid", "left")
          .withColumn("text",
            concat($"payload",
              coalesce($"rest", lit(Array.emptyByteArray))).cast("string"))
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_docs"),
            count($"segment_number").as("n_segmented"),
            sum(coalesce($"n_cont", lit(0L))).as("n_continuations"),
            sum(length($"text")).as("n_chars"),
            (sum(expr(
              "CAST(conv(substring(md5(CAST(text AS BINARY)), 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long").as("text_ck"))
          .orderBy($"source")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some(s"""WITH r AS (
            |  SELECT source, text,
            |         CAST(greatest(ceil(length(text) / $SegChars.0), 1)
            |              AS BIGINT) AS n_seg
            |  FROM documents)
            |SELECT source,
            |       count(*) AS n_docs,
            |       count(*) FILTER (WHERE n_seg > 1) AS n_segmented,
            |       CAST(sum(n_seg - 1) AS BIGINT) AS n_continuations,
            |       CAST(sum(length(text)) AS BIGINT) AS n_chars,
            |       CAST(sum(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT))
            |            % 9007199254740991 AS BIGINT) AS text_ck
            |FROM r
            |GROUP BY source
            |ORDER BY source""".stripMargin),
  )

  // WARC TRUNCATED RECORDS (ISO 28500 §5.13 — what real crawlers do
  // with oversized payloads by DEFAULT: store a prefix and mark
  // `WARC-Truncated: length`; CC caps at 1 MiB): texts over TruncChars
  // render cut with the marker, the rest whole, and the read side
  // profiles completeness per source — the audit a corpus builder
  // runs before trusting content_length as document length (a
  // truncated page treated as complete poisons length-based quality
  // filters). The aggregate pins the truncated count, STORED bytes,
  // and a folded md5 of the stored prefixes against the oracle's
  // recomputation over `documents` — a reader that dropped the
  // truncation header, or a renderer whose Content-Length lied about
  // the stored bytes, diverges. Zero-shuffle map + small aggregate.
  private val TruncChars = 300
  private val warcTruncated = Q(
    "pipe_warc_truncated",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-trunc")
      try {
        val dir = s"$base/warc"
        graft.sources.Warc.writeTruncated(
          Tables.documents(s, d), dir, TruncChars)
        s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
          .select(
            regexp_extract($"target_uri", "^http://([^.]+)\\.example/", 1)
              .as("source"),
            $"truncated", $"content_length", $"payload")
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_records"),
            count(when($"truncated" === "length", 1)).as("n_truncated"),
            sum($"content_length").as("stored_bytes"),
            (sum(expr(
              "CAST(conv(substring(md5(payload), 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long").as("stored_ck"))
          .orderBy($"source")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some(s"""WITH r AS (
            |  SELECT source,
            |         CASE WHEN length(text) > $TruncChars
            |              THEN substr(text, 1, $TruncChars) ELSE text END
            |           AS stored,
            |         length(text) > $TruncChars AS cut
            |  FROM documents)
            |SELECT source,
            |       count(*) AS n_records,
            |       count(*) FILTER (WHERE cut) AS n_truncated,
            |       CAST(sum(octet_length(encode(stored))) AS BIGINT)
            |         AS stored_bytes,
            |       CAST(sum(CAST('0x' || substr(md5(stored), 1, 12) AS BIGINT))
            |            % 9007199254740991 AS BIGINT) AS stored_ck
            |FROM r
            |GROUP BY source
            |ORDER BY source""".stripMargin),
  )

  // WARC METADATA RECORDS (the capture telemetry type, ISO 28500
  // §6.6): Warc.renderWithMetadata writes an application/warc-fields
  // metadata record next to each response; the read side parses the
  // fields out of the payload, joins metadata to responses on record
  // id (Concurrent-To — header-only response side) and aggregates
  // per-source fetch-time/outlink totals plus a checksum folding
  // (fields | response URI), so dropped, unparsed, or mis-linked
  // metadata diverges from the oracle's doc_id-arithmetic replay.
  private val warcMetadata = Q(
    "pipe_warc_metadata",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-md")
      try {
        val dir = s"$base/warc"
        graft.sources.Warc.writeMetadata(Tables.documents(s, d), dir)
        def archive = s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
        val meta = archive.filter($"warc_type" === "metadata")
          .select(
            regexp_extract($"target_uri", "^http://([^.]+)\\.example/", 1)
              .as("source"),
            $"concurrent_to",
            regexp_extract($"payload".cast("string"),
              "fetchTimeMs: ([0-9]+)", 1).cast("long").as("fetch_ms"),
            regexp_extract($"payload".cast("string"),
              "outlinks: ([0-9]+)", 1).cast("long").as("outlinks"))
        val resps = archive.filter($"warc_type" === "response")
          .select($"record_id".as("rid"), $"target_uri")
        meta
          .join(resps, $"concurrent_to" === $"rid")
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_meta"),
            sum($"fetch_ms").as("fetch_ms_total"),
            sum($"outlinks").as("outlinks_total"),
            (sum(expr(
              "CAST(conv(substring(md5(CAST(concat(fetch_ms, '|', outlinks, '|', target_uri) AS BINARY)), 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long").as("meta_ck"))
          .orderBy($"source")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some("""SELECT source,
           |       count(*) AS n_meta,
           |       CAST(sum((doc_id * 13) % 900 + 100) AS BIGINT)
           |         AS fetch_ms_total,
           |       CAST(sum(doc_id % 17) AS BIGINT) AS outlinks_total,
           |       CAST(sum(CAST('0x' || substr(md5(
           |                CAST((doc_id * 13) % 900 + 100 AS VARCHAR) || '|' ||
           |                CAST(doc_id % 17 AS VARCHAR) || '|' ||
           |                'http://' || source || '.example/doc/' ||
           |                CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT))
           |            % 9007199254740991 AS BIGINT) AS meta_ck
           |FROM documents
           |GROUP BY source
           |ORDER BY source""".stripMargin),
  )

  // WARC → WET DERIVATION, END TO END (the actual Common Crawl
  // sidecar pipeline): documents render as an http `.warc.gz`, the
  // read side tag-strips each payload into WET text, Warc
  // .renderConversions writes a SECOND `.warc.gz` of `conversion`
  // records (ISO 28500 §6.8 — what WET files consist of, Refers-To at
  // the source response), and the gate reads THAT archive back and
  // profiles it per source. Every byte crosses two archive round
  // trips; the oracle recomputes the extraction directly over
  // `documents`, so one wrong byte anywhere in the chain (render,
  // member framing, split, strip, re-render, re-read) diverges.
  private val warcWetConvert = Q(
    "pipe_warc_wet_convert",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-wetc")
      try {
        val httpDir = s"$base/http"
        val wetDir = s"$base/wet"
        graft.sources.Warc.writeHttpGzip(Tables.documents(s, d), httpDir)
        val pages = s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(httpDir)
          .select(
            expr("CAST(regexp_extract(target_uri, '/doc/([0-9]+)$', 1) AS BIGINT)")
              .as("doc_id"),
            regexp_extract($"target_uri", "^http://([^.]+)\\.example/", 1)
              .as("source"),
            $"payload".cast("string").as("p"))
          .withColumn("body",
            $"p".substr(instr($"p", "\r\n\r\n") + lit(4), length($"p")))
          .withColumn("wet", regexp_replace($"body", "<[^>]*>", ""))
          .select($"doc_id", $"source", $"wet")
        graft.sources.Warc.writeConversionsGzip(pages, wetDir)
        s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(wetDir)
          .filter($"warc_type" === "conversion")
          .select(
            regexp_extract($"target_uri", "^http://([^.]+)\\.example/", 1)
              .as("source"),
            $"refers_to", $"payload")
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_conversions"),
            sum(octet_length($"payload")).as("wet_bytes"),
            (sum(expr(
              "CAST(conv(substring(md5(payload), 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long").as("wet_ck"),
            // refers_to linkage: the referent ids are reproducible
            // doc_id arithmetic, folded so a broken pointer diverges
            (sum(expr(
              "CAST(conv(substring(md5(CAST(refers_to AS BINARY)), 1, 12), 16, 10) AS BIGINT)")
              .cast("decimal(38,0)")) % lit(9007199254740991L))
              .cast("long").as("ref_ck"))
          .orderBy($"source")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some(s"""WITH h AS (
            |  SELECT source, doc_id,
            |         regexp_replace($HtmlSql, '<[^>]*>', '', 'g') AS wet
            |  FROM documents)
            |SELECT source,
            |       count(*) AS n_conversions,
            |       CAST(sum(octet_length(encode(wet))) AS BIGINT) AS wet_bytes,
            |       CAST(sum(CAST('0x' || substr(md5(wet), 1, 12) AS BIGINT))
            |            % 9007199254740991 AS BIGINT) AS wet_ck,
            |       CAST(sum(CAST('0x' || substr(md5(
            |                'urn:md5:' || md5('warc:' || CAST(doc_id AS VARCHAR))),
            |                1, 12) AS BIGINT))
            |            % 9007199254740991 AS BIGINT) AS ref_ck
            |FROM h
            |GROUP BY source
            |ORDER BY source""".stripMargin),
  )

  // LID AUDIT (WET × text-analysis composition): run the catalogue's
  // stopword-voting language classifier (TextQueries.lidPredict — ONE
  // shared device with ta_language_id) over the WET text extracted
  // from a gzip-member http archive, and cross-tabulate against the
  // X-Crawl-Lang response header — the agreement matrix a corpus
  // builder inspects before trusting EITHER signal for language
  // filtering. All in-row (header regexp, body split, tag strip,
  // marker voting) plus one small hash aggregate on the (header,
  // predicted) pair; the oracle replays classifier and construction
  // from `documents` via the same shared SQL renderings.
  private val warcLidAudit = Q(
    "pipe_warc_lid_audit",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-lid")
      try {
        val dir = s"$base/warc"
        graft.sources.Warc.writeHttpGzip(Tables.documents(s, d), dir)
        s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
          .select($"payload".cast("string").as("p"))
          .withColumn("header_lang",
            regexp_extract($"p", "X-Crawl-Lang: ([a-z]+)", 1))
          .withColumn("body",
            $"p".substr(instr($"p", "\r\n\r\n") + lit(4), length($"p")))
          .withColumn("wet", regexp_replace($"body", "<[^>]*>", ""))
          .groupBy($"header_lang",
            TextQueries.lidPredict($"wet").as("predicted_lang"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy($"header_lang", $"predicted_lang")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some(s"""WITH h AS (
            |  SELECT lang AS header_lang,
            |         regexp_replace($HtmlSql, '<[^>]*>', '', 'g') AS wet
            |  FROM documents)
            |SELECT header_lang,
            |       ${TextQueries.lidPredictSql("wet")} AS predicted_lang,
            |       count(*) AS n_docs
            |FROM h
            |GROUP BY 1, 2
            |ORDER BY header_lang, predicted_lang""".stripMargin),
  )

  // LID AUDIT v2 (the three-way confusion table a corpus builder
  // actually wants before trusting ANY language signal): the same
  // gzip-member WET pipeline, cross-tabulated over THREE independent
  // predictors — the crawl's own header (X-Crawl-Lang), the stopword
  // voter (TextQueries.lidPredict — the shared device of
  // ta_language_id and pipe_warc_lid_audit), and the hashed-feature
  // linear model (TextQueries.lidHashedPredict — the
  // ta_hashed_classifier weight device, language-salted). The two
  // model predictors share no features, so agreement cells are
  // evidence, not an artifact of one classifier audited against
  // itself. Still one small hash aggregate after in-row work.
  private val warcLidAudit2 = Q(
    "pipe_warc_lid_audit2",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-lid2")
      try {
        val dir = s"$base/warc"
        graft.sources.Warc.writeHttpGzip(Tables.documents(s, d), dir)
        s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
          .select($"payload".cast("string").as("p"))
          .withColumn("header_lang",
            regexp_extract($"p", "X-Crawl-Lang: ([a-z]+)", 1))
          .withColumn("body",
            $"p".substr(instr($"p", "\r\n\r\n") + lit(4), length($"p")))
          .withColumn("wet", regexp_replace($"body", "<[^>]*>", ""))
          .groupBy($"header_lang",
            TextQueries.lidPredict($"wet").as("voter_lang"),
            TextQueries.lidHashedPredict($"wet").as("hashed_lang"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy($"header_lang", $"voter_lang", $"hashed_lang")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some(s"""WITH h AS (
            |  SELECT lang AS header_lang,
            |         regexp_replace($HtmlSql, '<[^>]*>', '', 'g') AS wet
            |  FROM documents)
            |SELECT header_lang,
            |       ${TextQueries.lidPredictSql("wet")} AS voter_lang,
            |       ${TextQueries.lidHashedPredictSql("wet")} AS hashed_lang,
            |       count(*) AS n_docs
            |FROM h
            |GROUP BY 1, 2, 3
            |ORDER BY header_lang, voter_lang, hashed_lang""".stripMargin),
  )

  // SCRIPT LID THROUGH THE ARCHIVE (the non-ASCII end-to-end: every
  // prior WARC byte-path gate carried ASCII-or-§ payloads; this one
  // pushes genuinely multi-byte, UNSEGMENTED Han text through the
  // whole pipeline — string render → UTF-8 envelope bytes → per-record
  // gzip members → splittable read-back → WET tag-strip — and then
  // classifies the extracted text with the tokenization-free script
  // device of ta_script_lid, crosstabbed against the crawl's own
  // header). The WET text is realistically MIXED ("doc N" title ASCII
  // + digits around the Han body), so the classifier must win on
  // counts, not purity; the per-cell char sums pin byte survival —
  // one UTF-8 sequence mangled anywhere in render/compress/split/
  // strip moves han_chars. Same zero-shuffle shape as the lid audits.
  private val warcLidScript = Q(
    "pipe_warc_lid_script",
    (s, d) => {
      import s.implicits._
      val base = EventQueries.gateTempDir("graft-warc-lidscript")
      try {
        val dir = s"$base/warc"
        val docs = Tables.documents(s, d)
          .withColumn("text", TextQueries.scriptText($"text", $"lang"))
        graft.sources.Warc.writeHttpGzip(docs, dir)
        s.read.format("warc")
          .option("chunkBytes", (256 * 1024).toString)
          .load(dir)
          .select($"payload".cast("string").as("p"))
          .withColumn("header_lang",
            regexp_extract($"p", "X-Crawl-Lang: ([a-z]+)", 1))
          .withColumn("body",
            $"p".substr(instr($"p", "\r\n\r\n") + lit(4), length($"p")))
          .withColumn("wet", regexp_replace($"body", "<[^>]*>", ""))
          .select($"header_lang" +: TextQueries.scriptCounts($"wet"): _*)
          .withColumn("script",
            TextQueries.scriptArgmax($"han", $"latin", $"cyr", $"ar"))
          .groupBy($"header_lang", $"script")
          .agg(
            count(lit(1)).as("n_docs"),
            sum($"han").as("han_chars"),
            sum($"latin").as("latin_chars"))
          .orderBy($"header_lang", $"script")
          .localCheckpoint()
      } finally rmTree(base)
    },
    Some(s"""WITH st AS (
            |  SELECT doc_id, lang, source,
            |         ${TextQueries.scriptTextSql} AS text
            |  FROM documents),
            |h AS (
            |  SELECT lang AS header_lang,
            |         regexp_replace($HtmlSql, '<[^>]*>', '', 'g') AS wet
            |  FROM st),
            |counts AS (
            |  SELECT header_lang,
            |         ${TextQueries.scriptCountsSql("wet")}
            |  FROM h),
            |cls AS (
            |  SELECT header_lang, han, latin,
            |         ${TextQueries.ScriptArgmaxSql} AS script
            |  FROM counts)
            |SELECT header_lang, script,
            |       count(*) AS n_docs,
            |       CAST(sum(han) AS BIGINT) AS han_chars,
            |       CAST(sum(latin) AS BIGINT) AS latin_chars
            |FROM cls
            |GROUP BY header_lang, script
            |ORDER BY header_lang, script""".stripMargin),
  )

  private val warcUrlProfile =
    warcUrlProfileQ("pipe_warc_url_profile", gz = false)

  // Header-only audit over the `.warc.gz` fixture: pruning still skips
  // payload MATERIALIZATION, but unlike the plain format the member
  // must be decompressed to find its end — the I/O-level header-only
  // win belongs to plain WARC; this gate pins that the gz path stays
  // CORRECT under the same pruned read schema.
  private val warcGzUrlProfile =
    warcUrlProfileQ("pipe_warc_gz_url_profile", gz = true)

  def all: Seq[Q] =
    Seq(endToEnd, ndjsonLines, ndjsonStream, geojsonStreamParity, trainingData,
      dataSelection, shardAssign, epochShuffle, snapshotDiff, dropAudit,
      csvFlatten, datasetCard, compactionBins, warcRoundtrip, warcGzRoundtrip,
      warcUrlProfile, warcGzUrlProfile, warcHttpParse, warcHttpChunked,
      warcHttpDeflate, warcWetExtract, warcLidAudit, warcLidAudit2,
      warcLidScript, warcRevisitDedup, warcDigestAudit,
      warcRequestPair, warcMetadata, warcWetConvert, warcStreamParity,
      warcCdx, warcCdx2, warcWarcinfo, warcSegmented, warcTruncated)
}
