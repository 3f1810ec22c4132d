package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Base62
import graft.sources.NdjsonSink

/** End-to-end golden test of the full transform over the miniature
  * fixtures (FIXTURES.md §6): every branch — dup building, degenerate
  * first occurrence suppressing a later valid duplicate, NONE and
  * multi-address, missing borough layer, 0/1/2-polygon toponym
  * matches, toponym on an unindexed layer, duplicate toponym coords —
  * is covered and compared as a canonicalized multiset of records.
  */
class InspectorPipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  private val mapper = new ObjectMapper()

  /** Canonical form: recursively sort object keys, then compact print. */
  private def canon(node: JsonNode): String = {
    def sort(n: JsonNode): JsonNode = n match {
      case o: ObjectNode =>
        val sorted = mapper.createObjectNode()
        o.properties().asScala.toSeq.sortBy(_.getKey).foreach { e =>
          sorted.set[JsonNode](e.getKey, sort(e.getValue))
        }
        sorted
      case a if a.isArray =>
        val arr = mapper.createArrayNode()
        a.elements().asScala.foreach(e => arr.add(sort(e)))
        arr
      case other => other
    }
    mapper.writeValueAsString(sort(node))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def topoId(sheetId: Int, coordsJoin: String): String =
    s"toponym-$sheetId-${Base62.encodeHex(md5hex(coordsJoin))}"

  private val t1 = topoId(862, "7,5")
  private val t2 = topoId(862, "2,5")
  private val t3 = topoId(862, "100,100")
  private val t4 = topoId(861, "1,1")
  private val t6 = topoId(863, "3,3")
  private val t7 = topoId(860, "1,1")

  private def obj(o: String) = s"""{"type":"object","obj":$o}"""
  private def rel(from: String, to: String, t: String) =
    s"""{"type":"relation","obj":{"from":"$from","to":"$to","type":"$t"}}"""
  private def log(e: String) = s"""{"type":"log","obj":{"error":"$e"}}"""
  private def mapwarper(id: String, mapId: Int, layerId: Int) = Seq(
    rel(id, s"mapwarper/$mapId", "st:in"),
    rel(id, s"mapwarper/layer-$layerId", "st:in"),
  )

  private val sq = "[[[0,0],[10,0],[10,10],[0,10],[0,0]]]"

  /** The golden's consolidated-phase records. */
  private val buildingRecords = Seq(
    // building 100 (first occurrence wins; dup suppressed)
    obj(s"""{"id":"100","type":"st:Building","validSince":1886,"validUntil":1886,"data":{"sheetId":860,"layerId":1130,"mapId":20010,"colors":["pink","yellow"],"borough":"Brooklyn"},"geometry":{"type":"Polygon","coordinates":$sq}}"""),
    obj("""{"id":"100-1","type":"st:Address","validSince":1886,"validUntil":1886,"name":"25","data":{"number":"25","sheetId":860,"layerId":1130,"mapId":20010,"borough":"Brooklyn"},"geometry":{"type":"Point","coordinates":[1,1]}}"""),
    obj("""{"id":"100-2","type":"st:Address","validSince":1886,"validUntil":1886,"name":"27","data":{"number":"27","sheetId":860,"layerId":1130,"mapId":20010,"borough":"Brooklyn"},"geometry":{"type":"Point","coordinates":[2,2]}}"""),
    rel("100-1", "100", "st:in"),
    rel("100-2", "100", "st:in"),
    // building 102: degenerate first occurrence kills later valid dup (H2)
    // building 103: missing borough layer
    obj("""{"id":"103","type":"st:Building","validSince":1890,"validUntil":1890,"data":{"sheetId":861,"layerId":9999,"mapId":20013},"geometry":{"type":"Polygon","coordinates":[[[20,20],[30,20],[30,30],[20,30],[20,20]]]}}"""),
    log("Can't find borough for layer 9999"),
    // building 104: empty consensus_color -> no colors; address without geometry
    obj("""{"id":"104","type":"st:Building","validSince":1886,"validUntil":1886,"data":{"sheetId":860,"layerId":1130,"mapId":20014,"borough":"Brooklyn"},"geometry":{"type":"Polygon","coordinates":[[[40,0],[50,0],[50,10],[40,10],[40,0]]]}}"""),
    obj("""{"id":"104-1","type":"st:Address","validSince":1886,"validUntil":1886,"name":"7","data":{"number":"7","sheetId":860,"layerId":1130,"mapId":20014,"borough":"Brooklyn"}}"""),
    rel("104-1", "104", "st:in"),
    // buildings 105/106 on the Manhattan layer
    obj(s"""{"id":"105","type":"st:Building","validSince":1893,"validUntil":1893,"data":{"sheetId":862,"layerId":1142,"mapId":20015,"borough":"Manhattan"},"geometry":{"type":"Polygon","coordinates":$sq}}"""),
    obj("""{"id":"106","type":"st:Building","validSince":1893,"validUntil":1893,"data":{"sheetId":862,"layerId":1142,"mapId":20016,"borough":"Manhattan"},"geometry":{"type":"Polygon","coordinates":[[[5,0],[15,0],[15,10],[5,10],[5,0]]]}}"""),
  ) ++
    mapwarper("100", 20010, 1130) ++
    mapwarper("103", 20013, 9999) ++
    mapwarper("104", 20014, 1130) ++
    mapwarper("105", 20015, 1142) ++
    mapwarper("106", 20016, 1142)

  /** The golden's toponym records other than the point-in-polygon outcomes. */
  private val toponymRecords = Seq(
    // toponym t1: contained by BOTH 105 and 106
    obj(s"""{"id":"$t1","type":"st:Building","validSince":1893,"validUntil":1893,"name":"Two Match","data":{"sheetId":862,"layerId":1142,"mapId":10012,"borough":"Manhattan"},"geometry":{"type":"Point","coordinates":[7,5]}}"""),
    // toponym t2: one match
    obj(s"""{"id":"$t2","type":"st:Building","validSince":1893,"validUntil":1893,"name":"One Match","data":{"sheetId":862,"layerId":1142,"mapId":10012,"borough":"Manhattan"},"geometry":{"type":"Point","coordinates":[2,5]}}"""),
    // toponym t3: zero matches on an indexed layer
    obj(s"""{"id":"$t3","type":"st:Building","validSince":1893,"validUntil":1893,"name":"No Match","data":{"sheetId":862,"layerId":1142,"mapId":10012,"borough":"Manhattan"},"geometry":{"type":"Point","coordinates":[100,100]}}"""),
    // toponym t4: layer 9999 indexed (building 103) but point outside
    obj(s"""{"id":"$t4","type":"st:Building","validSince":1890,"validUntil":1890,"name":"Outside Probe","data":{"sheetId":861,"layerId":9999,"mapId":10011},"geometry":{"type":"Point","coordinates":[1,1]}}"""),
    log("Can't find borough for layer 9999"),
    // toponym t5 (dup coords of t1) suppressed entirely
    // toponym t6: layer 8888 has no index at all
    obj(s"""{"id":"$t6","type":"st:Building","validSince":1895,"validUntil":1895,"name":"No Layer","data":{"sheetId":863,"layerId":8888,"mapId":10013},"geometry":{"type":"Point","coordinates":[3,3]}}"""),
    log("Can't find borough for layer 8888"),
    // toponym t7: contained by building 100 on the Brooklyn layer
    obj(s"""{"id":"$t7","type":"st:Building","validSince":1886,"validUntil":1886,"name":"School","data":{"sheetId":860,"layerId":1130,"mapId":10010,"borough":"Brooklyn"},"geometry":{"type":"Point","coordinates":[1,1]}}"""),
  ) ++
    mapwarper(t1, 10012, 1142) ++
    mapwarper(t2, 10012, 1142) ++
    mapwarper(t3, 10012, 1142) ++
    mapwarper(t4, 10011, 9999) ++
    mapwarper(t6, 10013, 8888) ++
    mapwarper(t7, 10010, 1130)

  /** The golden's point-in-polygon outcomes, one per Point toponym match. */
  private val probeOutcomes = Seq(
    rel(t1, "105", "st:sameAs"),
    rel(t1, "106", "st:sameAs"),
    rel(t2, "105", "st:sameAs"),
    log(s"Can't find building for toponym $t3"),
    log(s"Can't find building for toponym $t4"),
    log(s"Error computing intersection for toponym $t6"),
    rel(t7, "100", "st:sameAs"),
  )

  /** Every golden toponym is a Point. */
  private val pointToponyms = Seq(t1, t2, t3, t4, t6, t7)

  private def multisetOf(lines: Seq[String]): Map[String, Int] =
    lines.map(l => canon(mapper.readTree(l))).groupBy(identity).view.mapValues(_.length).toMap

  /** Equal multisets, or a failure listing what differs. */
  private def assertSameRecords(got: Map[String, Int], want: Map[String, Int]): Unit = {
    val missing = want.keySet.diff(got.keySet)
    val extra = got.keySet.diff(want.keySet)
    assert(missing.isEmpty && extra.isEmpty,
      s"\nMISSING (${missing.size}):\n${missing.mkString("\n")}\nEXTRA (${extra.size}):\n${extra.mkString("\n")}")
    assert(got == want, {
      val diffs = (got.keySet ++ want.keySet)
        .filter(k => got.getOrElse(k, 0) != want.getOrElse(k, 0))
        .map(k => s"${got.getOrElse(k, 0)}x vs ${want.getOrElse(k, 0)}x: $k")
      s"count mismatches:\n${diffs.mkString("\n")}"
    })
  }

  test("full transform matches the golden record multiset") {
    assertSameRecords(recordMultiset(golden),
      multisetOf(buildingRecords ++ toponymRecords ++ probeOutcomes))
  }

  private def res(name: String): String =
    getClass.getResource(s"/inspector/$name").getPath

  private lazy val golden = Engine.Dirs(
    consolidated = res("consolidated.geojson"),
    toponyms = res("toponyms.geojson"),
    sheets = res("sheets.geojson"),
    layerBoroughs = res("layer-boroughs.json"),
  )

  private def recordMultiset(dirs: Engine.Dirs): Map[String, Int] =
    multisetOf(NdjsonSink.lines(Engine.transform(spark, dirs)).collect().map(_.getString(0)).toSeq)

  // The download step lands consolidated as NDJSON; transform must
  // read that file as landed, with the same first-seen dedup order.
  test("download-landed NDJSON consolidated transforms like the FeatureCollection golden") {
    val features = mapper.readTree(new java.io.File(res("consolidated.geojson")))
      .get("features").elements().asScala.map(mapper.writeValueAsString).toSeq
    val pages = features.grouped(3).zipWithIndex
      .map { case (fs, i) => (i + 1) -> fs.mkString("[", ",", "]") }.toMap
    val out = java.nio.file.Files.createTempFile("consolidated", ".ndjson")
    out.toFile.deleteOnExit()
    val n = graft.sources.Ingest.pagesToNdjson(
      "http://example.test/consolidated", out.toString,
      body => mapper.readTree(body).elements().asScala.map(mapper.writeValueAsString).toSeq,
      sleeper = _ => (),
      fetcher = (url, _) => pages.getOrElse(url.split("/").last.toInt, "[]"),
    )
    assert(n == features.size && pages.size > 1)
    assert(!graft.sources.GeoJson.isFeatureCollection(spark, out.toString))
    assert(recordMultiset(golden.copy(consolidated = out.toString)) == recordMultiset(golden))
  }

  test("transform reads file: URIs like plain paths") {
    def uri(p: String) = new java.io.File(p).toURI.toString
    val plain = Engine.Dirs(res("consolidated.geojson"), res("toponyms.geojson"),
      res("sheets.geojson"), res("layer-boroughs.json"))
    val uris = Engine.Dirs(uri(plain.consolidated), uri(plain.toponyms),
      uri(plain.sheets), uri(plain.layerBoroughs))
    assert(uris.consolidated.startsWith("file:"))
    def multiset(dirs: Engine.Dirs) = NdjsonSink.lines(Engine.transform(spark, dirs))
      .collect().map(_.getString(0)).groupBy(identity).view.mapValues(_.length).toMap
    val want = multiset(plain)
    assert(want.nonEmpty && multiset(uris) == want)
  }

  // A half-downloaded landing file must fail the transform, not turn
  // into an empty one.
  test("a truncated consolidated FeatureCollection fails the transform, naming the file") {
    val whole = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(res("consolidated.geojson")))
    val cut = writeTemp("truncated", new String(whole.take(whole.length / 2), "UTF-8"))
    val out = java.nio.file.Files.createTempDirectory("truncated-out").resolve("ndjson")
    val e = intercept[Exception] {
      Engine.transformToNdjson(spark, Engine.Dirs(
        consolidated = cut,
        toponyms = res("toponyms.geojson"),
        sheets = res("sheets.geojson"),
        layerBoroughs = res("layer-boroughs.json"),
      ), out.toString)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(cut)), e.toString)
  }

  private def writeTemp(name: String, content: String): String = {
    val f = java.nio.file.Files.createTempFile(name, ".geojson")
    java.nio.file.Files.write(f, content.getBytes("UTF-8"))
    f.toFile.deleteOnExit()
    f.toString
  }

  private def feature(id: String, sheetId: Int,
      geom0: String = """{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,1],[0,0]]]}"""): String =
    s"""{"type":"Feature","properties":{"id":"$id","sheet_id":$sheetId,""" +
      """"map_id":"20010","consensus_color":"","consensus_address":"NONE"},""" +
      s""""geometry":{"type":"GeometryCollection","geometries":[$geom0]}}"""

  private def collection(features: Seq[String]): String =
    features.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")

  // The reference md5s geometry.coordinates.join(',') for EVERY
  // toponym before the Point gate (building-inspector.js:207), and JS
  // join recursively flattens nested arrays — so a Polygon toponym's
  // id must derive from its flattened ring coordinates.
  test("toponym id for a Polygon geometry flattens coords like JS join") {
    val topo = writeTemp("polytopo",
      """{"type":"FeatureCollection","features":[{"type":"Feature",""" +
        """"properties":{"sheet_id":862,"consensus":"Poly Name"},""" +
        """"geometry":{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}}]}""")
    val records = Engine.transform(spark, Engine.Dirs(
      consolidated = res("consolidated.geojson"),
      toponyms = topo,
      sheets = res("sheets.geojson"),
      layerBoroughs = res("layer-boroughs.json"),
    ))
    val want = topoId(862, "0,0,4,0,4,4,0,4,0,0")
    val ids = records.filter(records("name") === "Poly Name")
      .select("id").collect().map(_.getString(0)).toSeq
    assert(ids == Seq(want))
  }

  // H4 fail-fast: the reference dereferences sheetsById[sheet_id]
  // (building-inspector.js:103-104) and stopOnError aborts the run.
  test("H4: a feature referencing a missing sheet aborts with its id") {
    val bad = writeTemp("h4-missing",
      s"""{"type":"FeatureCollection","features":[${feature("200", 999)}]}""")
    val e = intercept[IllegalStateException] {
      Engine.transform(spark, Engine.Dirs(
        consolidated = bad,
        toponyms = res("toponyms.geojson"),
        sheets = res("sheets.geojson"),
        layerBoroughs = res("layer-boroughs.json"),
      )).count()
    }
    assert(e.getMessage.contains("999"))
  }

  // ...but a missing sheet on a LATER duplicate must NOT abort: the
  // reference dedups by building id before the deref (H2 ordering),
  // so only first occurrences are ever dereferenced.
  test("H4: a missing sheet on a suppressed duplicate does not abort") {
    val dup = writeTemp("h4-dup",
      s"""{"type":"FeatureCollection","features":[${feature("200", 860)},${feature("200", 999)}]}""")
    val records = Engine.transform(spark, Engine.Dirs(
      consolidated = dup,
      toponyms = res("toponyms.geojson"),
      sheets = res("sheets.geojson"),
      layerBoroughs = res("layer-boroughs.json"),
    ))
    assert(records.count() > 0)
  }

  // The abort names at most 20 missing ids: the smallest, in numeric
  // order, whatever order the features arrive in.
  test("H4: the abort lists the 20 smallest missing sheet ids in ascending order") {
    val missing = new scala.util.Random(7).shuffle((990 to 1014).toList)
    val bad = writeTemp("h4-many", collection(
      feature("200", 860) +: missing.map(id => feature(s"m$id", id))))
    val e = intercept[IllegalStateException] {
      Engine.transform(spark, golden.copy(consolidated = bad)).count()
    }
    val listed = e.getMessage.stripPrefix("consolidated references missing sheet id(s): ")
      .takeWhile(_ != '(').trim
    assert(listed == (990 to 1009).mkString(", "), e.getMessage)
  }

  // The no-index outcome hangs on which buildings the index holds:
  // a layer whose buildings are all degenerate (dropped, F6) or have a
  // non-Polygon geometries[0] (kept, but not indexed) has no index.
  test("a layer with only degenerate or non-Polygon buildings has no index") {
    val cons = writeTemp("no-index", collection(Seq(
      feature("300", 862, """{"type":"Polygon","coordinates":[[[0,0],[10,0],[0,0]]]}"""),
      feature("301", 862, """{"type":"Point","coordinates":[7,5]}"""),
    )))
    val got = recordMultiset(golden.copy(consolidated = cons))
    val probes = multisetOf(pointToponyms.flatMap(t => Seq(
      log(s"Error computing intersection for toponym $t"),
      log(s"Can't find building for toponym $t")))).keySet
    assertSameRecords(got.filter { case (r, _) => probes.contains(r) },
      multisetOf(pointToponyms.map(t => log(s"Error computing intersection for toponym $t"))))
  }

  // D3: layersById is _.keyBy (building-inspector.js:390-392), so a
  // repeated layer id keeps its last entry and never fans out records.
  test("layer-boroughs: the last entry for a repeated layer id wins") {
    val repeated = writeTemp("layers-repeated",
      """[{"id":1130,"borough":"Brooklyn"},{"id":1142,"borough":"Manhattan"},""" +
        """{"id":1130,"borough":"Elsewhere"}]""")
    val lastOnly = writeTemp("layers-last",
      """[{"id":1142,"borough":"Manhattan"},{"id":1130,"borough":"Elsewhere"}]""")
    val want = recordMultiset(golden.copy(layerBoroughs = lastOnly))
    assert(want.keySet.exists(_.contains("Elsewhere")))
    assertSameRecords(recordMultiset(golden.copy(layerBoroughs = repeated)), want)
  }

  // Each phase is one dedup checkpoint (whose job also counts missing
  // sheets) and one record generator: no cached fan-out, and the
  // point-in-polygon join (the costly part) planned once for all three
  // toponym outcomes. The dimension files are read once per transform.
  test("plan guard: one pass per phase, one st_contains join, no cached scans") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec

    val out = java.nio.file.Files.createTempDirectory("plan-guard").resolve("ndjson").toString
    val (_, metrics) = QueryMetrics.measure(spark)(Engine.transformToNdjson(spark, golden, out))

    val helper = new AdaptiveSparkPlanHelper {}
    val executed = metrics.plans
    assert(executed.nonEmpty)
    assert(metrics.jobs <= 10, s"${metrics.jobs} Spark jobs for one transform")
    assert(executed.forall(p => helper.find(p)(_.isInstanceOf[InMemoryTableScanExec]).isEmpty),
      "a cached relation is scanned")
    val spatialJoins = executed.flatMap(p => helper.collectWithSubqueries(p) {
      case j: BaseJoinExec
          if j.condition.exists(_.exists(_.isInstanceOf[graft.functions.StContains])) => j
    })
    assert(spatialJoins.size == 1, spatialJoins.mkString("\n"))

    // Each phase's dedup window reads its exchange N-wide: a sub-MB
    // shuffle that AQE coalesced to one partition would run the window,
    // the checkpoint and all that follows in one task.
    val buildingIds = mapper.readTree(new java.io.File(golden.consolidated)).get("features")
      .elements().asScala.map(_.path("properties").path("id").asText).toSet
    val distinctKeys = Map("building_id" -> buildingIds.size, "toponym_id" -> pointToponyms.size)
    val widths = executed.flatMap(p => helper.collect(p) {
      case w: WindowExec =>
        w.partitionSpec.flatMap(_.references.map(_.name)).mkString(",") ->
          w.child.outputPartitioning.numPartitions
    })
    assert(widths.map(_._1).sorted == distinctKeys.keys.toSeq.sorted, widths.mkString(", "))
    widths.foreach { case (key, n) =>
      assert(n == math.min(spark.sparkContext.defaultParallelism, distinctKeys(key)),
        s"the $key dedup window runs $n tasks")
    }
  }

  private val emptyCollection = """{"type":"FeatureCollection","features":[]}"""

  // Degenerate inputs: with no buildings no layer has an index, so
  // every Point toponym logs the intersection error.
  test("degenerate input: an empty consolidated collection") {
    val dirs = golden.copy(consolidated = writeTemp("empty-consolidated", emptyCollection))
    assertSameRecords(recordMultiset(dirs), multisetOf(toponymRecords ++
      pointToponyms.map(t => log(s"Error computing intersection for toponym $t"))))
  }

  test("degenerate input: an empty toponym collection") {
    val dirs = golden.copy(toponyms = writeTemp("empty-toponyms", emptyCollection))
    assertSameRecords(recordMultiset(dirs), multisetOf(buildingRecords))
  }

  // No layer has a borough: every building and toponym object logs
  // its layer, and no record carries a borough.
  test("degenerate input: an empty layer-boroughs array") {
    val dirs = golden.copy(layerBoroughs = writeTemp("empty-layers", "[]"))
    val want = (buildingRecords ++ toponymRecords ++ probeOutcomes).flatMap { line =>
      val node = mapper.readTree(line)
      node.path("obj").path("data") match {
        case data: ObjectNode if data.has("borough") =>
          data.remove("borough")
          val boroughLog =
            if (node.path("obj").path("type").asText == "st:Building")
              Seq(log(s"Can't find borough for layer ${data.get("layerId")}"))
            else Nil
          mapper.writeValueAsString(node) +: boroughLog
        case _ => Seq(line)
      }
    }
    assertSameRecords(recordMultiset(dirs), multisetOf(want))
  }
}
