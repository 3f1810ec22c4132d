package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.exprs._
import graft.sources.GeoJson

/** The reference's `transform` step re-expressed as one declarative
  * Spark plan (SURVEY.md §3): consolidated buildings phase + toponym
  * phase with the per-layer spatial join.
  *
  * Every output record lands in ONE superset-schema DataFrame tagged
  * by `rtype` ('object' | 'relation' | 'log'), mirroring the
  * reference's tagged union (building-inspector.js:108-136); the
  * columns are those of [[record]]. The NDJSON sink serializes it;
  * tests canonicalize and compare.
  *
  * Scale design: each phase is one dedup shuffle of its fact stream
  * (first-seen by building id / toponym id), hashed on that id into
  * `defaultParallelism` partitions so AQE cannot coalesce it to one,
  * and localCheckpoint-ed with everything the later steps parse or
  * look up per row; the pre-flight check is an observed metric of that
  * checkpoint job; and one generator emits all of a row's records
  * through a single `inline`, as wide as the checkpoint, and a filter
  * drops the records a row lacks (no lambda function, so the toponym
  * generator compiles into its whole-stage codegen stage). The two
  * dimension tables (sheets, layer-boroughs) are small: they are
  * collected on the driver into one `sheet id → (map_id, layer_id,
  * year, borough)` lookup ([[sheetDims]]), so no dimension join
  * or broadcast runs per consumer; given driver-local frames, as
  * `Engine.transform` passes, that collect runs no job.
  *
  * The two phases' checkpoint jobs read nothing of each other, so
  * [[records]] runs them at the same time ([[graft.util.Par]]); the
  * reference's one real barrier, the building index before the
  * toponym probe (building-inspector.js:404-409), is kept by building
  * the toponym records only after both checkpoints exist. The set of
  * layers the index covers, which decides the no-index outcome, is a
  * second observed metric of the consolidated checkpoint job, so it
  * costs no job of its own. The spatial join runs once: a left-outer
  * equi-join on layerId with a bbox
  * prefilter and the exact `st_contains` as residual, whose rows carry
  * all three toponym outcomes — the layerId key gives the same pruning
  * the reference's per-layer R-tree does (geo-indices.js:22-56). The
  * index side is broadcast, as the reference holds the whole index in
  * memory: read from a checkpoint it has no size estimate, and without
  * the hint it is planned as a sort-merge join whose index side is
  * hash-shuffled before AQE turns it into a broadcast anyway.
  */
object InspectorPipeline {

  /** Intermediate per-building-phase result: emitted records plus the
    * polygon "index" side reused by the toponym phase (the reference's
    * build→probe barrier, building-inspector.js:404-409, realized as a
    * reused DataFrame).
    */
  final case class ConsolidatedOut(records: DataFrame, indexedBuildings: DataFrame)

  // ---------------------------------------------------------------- dims

  /** What a feature takes from its sheet (map id, layer, year) and
    * from the sheet's layer (borough; null when the layer has none).
    */
  final case class SheetDim(
      map_id: String, layer_id: Option[Long], year: Option[Int], borough: String)

  /** sheetsById joined to layersById, built on the driver: a map
    * literal `sheet id → SheetDim`, read per row with `try_element_at`
    * (null for a sheet id the map lacks, including null).
    *
    * Both keyBys are last-wins (D3): sheets by `ingest_order`
    * (building-inspector.js:384-386), layer-boroughs by position in
    * the file (:388-392), so a repeated layer id never fans out a
    * layer's records.
    */
  private def sheetDims(sheets: DataFrame, layers: DataFrame): Column = {
    val boroughs = layers.select(col("id").cast("long"), col("borough")).collect()
      .filterNot(_.isNullAt(0))
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val dims = sheets
      .select(
        col("feature.properties.id").cast("long"),
        col("ingest_order").cast("long"),
        col("feature.properties.map_id").cast("string"),
        col("feature.properties.layer.external_id").cast("long"),
        col("feature.properties.layer.year").cast("int"),
      )
      .collect()
      .filterNot(_.isNullAt(0))
      .sortBy(_.getLong(1))
      .map { r =>
        val layer = Option.unless(r.isNullAt(3))(r.getLong(3))
        r.getLong(0) -> SheetDim(r.getString(2), layer,
          Option.unless(r.isNullAt(4))(r.getInt(4)), layer.flatMap(boroughs.get).orNull)
      }
      .toMap
    typedLit(dims)
  }

  /** First-seen dedup of a phase's rows by `key` in ingest order
    * (D1/D2, building-inspector.js:92-100,211-214), localCheckpoint-ed
    * with the sheet lookup as `dim` and the `parsed` columns, so every
    * later step reads them from one materialization of the dedup
    * shuffle. The shuffle is hashed on `key` into the session's
    * default parallelism (the `geojson` source's split count): a
    * repartition by number, which AQE never coalesces, so the window,
    * the checkpoint and everything downstream of it run that many
    * tasks wide even when the shuffle is far below AQE's minimum
    * partition size.
    *
    * Then the H4 fail-fast check (J1): the reference dereferences
    * `sheetsById[feature.properties.sheet_id]` unconditionally
    * (building-inspector.js:103-104) and `stopOnError` aborts the whole
    * run on the resulting TypeError (:268,322). Dropping such features
    * would be silent, so we assert — on the DEDUPED set, because a later
    * duplicate is never dereferenced by the reference — that every
    * referenced sheet exists, and abort with the offending ids. The
    * count of rows without a sheet is an observed metric of the
    * checkpoint job itself, read from that job's plan once it has run;
    * the sorted sample of missing ids is computed only when it is > 0.
    * The observed row holds that count, then each of `metrics`, also
    * over the deduped rows.
    */
  private def dedupChecked(rows: DataFrame, key: String, dims: Column, what: String,
      parsed: Seq[Column], metrics: Column*): (DataFrame, Row) = {
    val w = Window.partitionBy(col(key)).orderBy(col("ingest_order"))
    val metric = s"$what without a sheet"
    val observed = rows
      .repartition(rows.sparkSession.sparkContext.defaultParallelism, col(key))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(rows.columns.map(col).toIndexedSeq ++
        (try_element_at(dims, col("sheet_id").cast("long")).as("dim") +: parsed): _*)
      .observe(metric, count_if(col("dim").isNull), metrics: _*)
    val deduped = observed.localCheckpoint()
    val figures = observed.queryExecution.observedMetrics(metric)
    if (figures.getLong(0) > 0) {
      val ids = deduped
        .filter(col("dim").isNull)
        .select(col("sheet_id"))
        .distinct()
        .orderBy(col("sheet_id")) // stable sample → reproducible abort message
        .limit(20)
        .collect()
        .map(_.get(0))
      throw new IllegalStateException(
        s"$what references missing sheet id(s): ${ids.mkString(", ")} " +
          "(reference aborts: building-inspector.js:103-104 + stopOnError)")
    }
    (deduped, figures)
  }

  /** A phase's deduped rows, checkpointed, and the layer ids of the
    * buildings among them that the spatial index holds (none for the
    * toponym phase).
    */
  private final case class Deduped(rows: DataFrame, indexLayers: Seq[Long] = Nil)

  // ------------------------------------------------------------ phases

  /** The consolidated phase alone (its dedup checkpoint, then its records
    * and the index side), as [[records]] runs it.
    */
  def consolidated(
      spark: SparkSession,
      features: DataFrame,
      sheets: DataFrame,
      layers: DataFrame): ConsolidatedOut =
    buildingPhase(dedupBuildings(features, sheetDims(sheets, layers)).rows)

  /** The toponym phase alone, probing `indexedBuildings`, as [[records]]
    * runs it. The layers the index holds are collected from
    * `indexedBuildings` here (one job); [[records]] observes them on
    * the consolidated checkpoint instead.
    */
  def toponyms(
      spark: SparkSession,
      features: DataFrame,
      sheets: DataFrame,
      layers: DataFrame,
      indexedBuildings: DataFrame): DataFrame = {
    val indexLayers = indexedBuildings.select(col("b_layer_id")).where(col("b_layer_id").isNotNull)
      .distinct().collect().map(_.getLong(0)).toSeq
    toponymPhase(dedupToponyms(features, sheetDims(sheets, layers)).rows, indexedBuildings,
      indexLayers)
  }

  /** Both phases' records, in one frame. The two dedup checkpoints (with
    * their H4 checks) run at the same time; when both abort, the
    * consolidated phase's error is the one thrown, as in the reference,
    * which runs that phase first. The records, the index and the
    * spatial join are then planned on the two checkpoints.
    */
  def records(
      consolidated: DataFrame,
      toponyms: DataFrame,
      sheets: DataFrame,
      layers: DataFrame): DataFrame = {
    val dims = sheetDims(sheets, layers)
    val Seq(buildings, points) = graft.util.Par(
      () => dedupBuildings(consolidated, dims),
      () => dedupToponyms(toponyms, dims))
    val cons = buildingPhase(buildings.rows)
    cons.records.unionByName(toponymPhase(points.rows, cons.indexedBuildings, buildings.indexLayers))
  }

  // ------------------------------------------------------- consolidated

  /** F6: a building whose polygon's outer ring has < 4 points is dropped
    * with everything it would emit (object, relations, log, addresses;
    * building-inspector.js:138-140). JS quirk preserved: a non-Polygon
    * geometries[0] (coordinates[0] is a number; undefined < 4 === false)
    * is NOT dropped.
    */
  private val kept: Column =
    col("rings").isNull || size(try_element_at(col("rings"), lit(1))) >= 4

  /** Of the kept buildings, those the spatial index holds: only
    * st:Building objects with Polygon geometry (geo-indices.js:14-16, 25-36).
    */
  private val polygon: Column = col("geom0.type") === "Polygon" && col("rings").isNotNull

  private def dedupBuildings(features: DataFrame, dims: Column): Deduped = {
    val feats = features.select(
      col("ingest_order"),
      col("feature.properties.id").as("building_id"),
      col("feature.properties.sheet_id").as("sheet_id"),
      // F1: parseInt(map_id) (building-inspector.js:102)
      col("feature.properties.map_id").cast("int").as("map_id"),
      col("feature.properties.consensus_color").as("consensus_color"),
      col("feature.properties.consensus_address").as("address_raw"),
      try_element_at(col("feature.geometry.geometries"), lit(1)).as("geom0"),
      col("feature.geometry.geometries").as("geometries"),
    )

    // D1 BEFORE the degenerate-ring filter — a duplicate whose first
    // occurrence is degenerate must stay suppressed (H2;
    // building-inspector.js:92-100 vs :138-140). J1 (inner, fail-fast
    // semantics) + J2 (left outer) are the sheet lookup.
    val (rows, figures) = dedupChecked(feats, "building_id", dims, "consolidated",
      Seq(GeoJson.polygonRings(col("geom0.coordinates")).as("rings")),
      collect_set(when(kept && polygon, col("dim.layer_id"))))
    Deduped(rows, figures.getSeq[Long](1))
  }

  private def buildingPhase(deduped: DataFrame): ConsolidatedOut = {
    val ok = deduped.filter(kept)
    val year = col("dim.year")
    val layerId = col("dim.layer_id")
    def data(number: Column, colors: Column): Column = dataStruct(
      number, col("sheet_id"), layerId, col("map_id"), colors, col("dim.borough"))

    // G1/P2/P5: positional address explode (building-inspector.js:142-177):
    // address i is object `{id}-{i+1}` with geometry geometries[i + 1]
    // (absent → omitted, js :162) and one st:in edge to its building.
    val addressType = ArrayType(StructType(Seq(StructField("flag_value", StringType))))
    val addresses = coalesce(
      when(col("address_raw") =!= "NONE", from_json(col("address_raw"), addressType)),
      array().cast(addressType))
    val addressRecords = flatten(transform(addresses, (a, i) => {
      val id = concat(col("building_id"), lit("-"), i + 1)
      val number = a.getField("flag_value")
      array(
        objectRecord(id, "st:Address", year, number,
          data(number, lit(null).cast(ArrayType(StringType))),
          rawGeometryJson(try_element_at(col("geometries"), i + 2))),
        relationRecord(id, col("building_id"), "st:in"),
      )
    }))

    // P1: building object (building-inspector.js:108-125).
    val building = objectRecord(col("building_id"), "st:Building", year, lit(null).cast(StringType),
      // F2: truthiness guard — '' and null both mean absent
      data(lit(null).cast(StringType),
        when(length(col("consensus_color")) > 0, split(col("consensus_color"), ","))),
      rawGeometryJson(col("geom0")))

    val records = emit(ok, concat(
      array(withEdges(building, col("building_id"), col("map_id"), layerId,
        col("dim.borough")): _*),
      addressRecords))

    // Spatial index side.
    val ring0 = try_element_at(col("rings"), lit(1))
    val indexed = ok
      .filter(polygon)
      .select(
        layerId.as("b_layer_id"),
        col("building_id").as("b_id"),
        col("rings").as("b_rings"),
        array_min(transform(ring0, p => element_at(p, 1))).as("b_xmin"),
        array_max(transform(ring0, p => element_at(p, 1))).as("b_xmax"),
        array_min(transform(ring0, p => element_at(p, 2))).as("b_ymin"),
        array_max(transform(ring0, p => element_at(p, 2))).as("b_ymax"),
      )

    ConsolidatedOut(records, indexed)
  }

  // ------------------------------------------------------------ toponyms

  private def dedupToponyms(features: DataFrame, dims: Column): Deduped = {
    val base = features.select(
      col("ingest_order"),
      col("feature.properties.sheet_id").as("sheet_id"),
      col("feature.properties.consensus").as("consensus"),
      col("feature.geometry").as("geometry"),
      GeoJson.pointCoords(col("feature.geometry.coordinates")).as("coords"),
    )

    // P3/F3/F4: toponym-{sheetId}-{base62(md5(coords.join(',')))}
    // (building-inspector.js:206-209). The join runs on the RAW
    // coordinates subtree with JS recursive-flatten semantics: the
    // reference derives the id for EVERY toponym before the Point
    // gate, so a Polygon toponym's id comes from its flattened ring
    // coordinates, not from a null Point parse.
    val withId = base.withColumn(
      "toponym_id",
      concat(lit("toponym-"), col("sheet_id"), lit("-"),
        base62_encode_hex(md5(js_coord_join_raw(col("geometry.coordinates"))))),
    )

    // D2 + J1 + J2
    Deduped(dedupChecked(withId, "toponym_id", dims, "toponyms", Nil)._1)
  }

  /** The toponym records of `deduped`, probing `indexedBuildings`;
    * `indexLayers` are the layer ids the index holds.
    */
  private def toponymPhase(deduped: DataFrame, indexedBuildings: DataFrame,
      indexLayers: Seq[Long]): DataFrame = {
    val year = col("dim.year")
    val layerId = col("dim.layer_id")
    // toponym mapId comes from the SHEET's map_id
    // (building-inspector.js:218), unlike buildings
    val mapId = col("dim.map_id").cast("int")

    val toponym = objectRecord(col("toponym_id"), "st:Building", year, col("consensus"),
      dataStruct(lit(null).cast(StringType), col("sheet_id"), layerId, mapId,
        lit(null).cast(ArrayType(StringType)), col("dim.borough")),
      rawGeometryJson(col("geometry")))
    val records = emit(deduped,
      array(withEdges(toponym, col("toponym_id"), mapId, layerId, col("dim.borough")): _*))

    // J3: per-layer point-in-polygon probe, Points only
    // (geo-indices.js:18-20,38-50; building-inspector.js:280-313).
    // "No geospatial index for layer" = the toponym's layer has no
    // indexed polygons at all (geo-indices.js:44-46). The flag is an
    // IN over the index's layer ids, a driver-side set (a null layer id
    // reads as no index), and rides along so one left-outer join yields
    // every outcome.
    val flagged = deduped
      .filter(col("geometry.type") === "Point" && col("coords").isNotNull)
      .select(
        col("toponym_id"), layerId.as("layer_id"),
        element_at(col("coords"), 1).as("px"),
        element_at(col("coords"), 2).as("py"),
        col("coords"),
        layerId.isin(indexLayers: _*).as("has_index"),
      )

    // Equi-join on layerId + bbox prefilter, exact contains as residual;
    // the index side broadcast (see the Scale design above).
    val outcomes = flagged
      .join(
        broadcast(indexedBuildings),
        col("layer_id") === col("b_layer_id") &&
          col("px") >= col("b_xmin") && col("px") <= col("b_xmax") &&
          col("py") >= col("b_ymin") && col("py") <= col("b_ymax") &&
          st_contains(col("b_rings"), col("coords")),
        "left_outer",
      )
      .select(
        when(col("b_id").isNotNull,
          relationRecord(col("toponym_id"), col("b_id"), "st:sameAs"))
          .when(col("has_index"),
            logRecord(concat(lit("Can't find building for toponym "), col("toponym_id"))))
          .otherwise(
            logRecord(concat(lit("Error computing intersection for toponym "), col("toponym_id"))))
          .as("r"))
      .select(col("r.*"))

    records.unionByName(outcomes)
  }

  // ----------------------------------------------------------- helpers

  /** One row per non-null element of each row's `records` array:
    * `inline` turns a null element into a row of nulls, which the filter
    * drops. A lambda function (`filter(records, _.isNotNull)`) would keep
    * the generator out of whole-stage codegen.
    */
  private def emit(rows: DataFrame, records: Column): DataFrame =
    rows.select(inline(records)).filter(col("rtype").isNotNull)

  /** Superset `data` payload; to_json omits nulls, matching how JS
    * `undefined` fields vanish from the reference's NDJSON.
    */
  private def dataStruct(number: Column, sheetId: Column, layerId: Column,
      mapId: Column, colors: Column, borough: Column): Column =
    struct(
      number.as("number"),
      sheetId.as("sheetId"),
      layerId.as("layerId"),
      mapId.as("mapId"),
      colors.as("colors"),
      borough.as("borough"),
    )

  /** Rebuild the raw GeoJSON text of a captured geometry struct
    * (type + raw coordinates subtree).
    */
  private def rawGeometryJson(geom: Column): Column =
    when(geom.isNotNull && geom.getField("coordinates").isNotNull,
      concat(lit("{\"type\":\""), geom.getField("type"),
        lit("\",\"coordinates\":"), geom.getField("coordinates"), lit("}")))

  private val nullString: Column = lit(null).cast(StringType)

  /** One output record as a struct; its fields, in order, are the
    * columns of the record DataFrame. Fields a record kind does not
    * use stay null.
    */
  private def record(
      rtype: String,
      id: Column = nullString,
      otype: Column = nullString,
      year: Column = lit(null).cast(IntegerType),
      name: Column = nullString,
      data: Column = lit(null).cast(
        "struct<number:string,sheetId:bigint,layerId:bigint,mapId:int," +
          "colors:array<string>,borough:string>"),
      geometryJson: Column = nullString,
      relFrom: Column = nullString,
      relTo: Column = nullString,
      relType: Column = nullString,
      error: Column = nullString): Column =
    struct(
      lit(rtype).as("rtype"),
      id.cast(StringType).as("id"),
      otype.as("otype"),
      year.as("valid_since"),
      year.as("valid_until"),
      name.as("name"),
      data.as("data"),
      geometryJson.as("geometry_json"),
      relFrom.cast(StringType).as("rel_from"),
      relTo.as("rel_to"),
      relType.as("rel_type"),
      error.as("error"),
    )

  private def objectRecord(id: Column, otype: String, year: Column, name: Column,
      data: Column, geometryJson: Column): Column =
    record("object", id = id, otype = lit(otype), year = year, name = name, data = data,
      geometryJson = geometryJson)

  private def relationRecord(from: Column, to: Column, relType: String): Column =
    record("relation", relFrom = from, relTo = to, relType = lit(relType))

  private def logRecord(error: Column): Column = record("log", error = error)

  /** An object with its 2 mapwarper edges, mapwarper/{mapId} and
    * mapwarper/layer-{layerId} (building-inspector.js:183-202), and —
    * when its layer has no borough (falsy check, :129-136; S8/J2) —
    * the borough log, which is null otherwise.
    */
  private def withEdges(obj: Column, id: Column, mapId: Column, layerId: Column,
      borough: Column): Seq[Column] = Seq(
    obj,
    relationRecord(id, concat(lit("mapwarper/"), mapId), "st:in"),
    relationRecord(id, concat(lit("mapwarper/layer-"), layerId), "st:in"),
    when(borough.isNull || borough === "",
      logRecord(concat(lit("Can't find borough for layer "), layerId))),
  )
}
