package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
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

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

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

  test("full transform matches the golden record multiset") {
    def res(name: String): String =
      getClass.getResource(s"/inspector/$name").getPath
    val records = Engine.transform(spark, Engine.Dirs(
      consolidated = res("consolidated.geojson"),
      toponyms = res("toponyms.geojson"),
      sheets = res("sheets.geojson"),
      layerBoroughs = res("layer-boroughs.json"),
    ))
    val got = NdjsonSink.lines(records).collect().map(_.getString(0))
      .map(l => canon(mapper.readTree(l)))
      .groupBy(identity).view.mapValues(_.length).toMap

    val t1 = topoId(862, "7,5")
    val t2 = topoId(862, "2,5")
    val t3 = topoId(862, "100,100")
    val t4 = topoId(861, "1,1")
    val t6 = topoId(863, "3,3")
    val t7 = topoId(860, "1,1")

    def obj(o: String) = s"""{"type":"object","obj":$o}"""
    def rel(from: String, to: String, t: String) =
      s"""{"type":"relation","obj":{"from":"$from","to":"$to","type":"$t"}}"""
    def log(e: String) = s"""{"type":"log","obj":{"error":"$e"}}"""
    def mapwarper(id: String, mapId: Int, layerId: Int) = Seq(
      rel(id, s"mapwarper/$mapId", "st:in"),
      rel(id, s"mapwarper/layer-$layerId", "st:in"),
    )

    val sq = "[[[0,0],[10,0],[10,10],[0,10],[0,0]]]"
    val expected = Seq(
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
      // toponym t1: contained by BOTH 105 and 106
      obj(s"""{"id":"$t1","type":"st:Building","validSince":1893,"validUntil":1893,"name":"Two Match","data":{"sheetId":862,"layerId":1142,"mapId":10012,"borough":"Manhattan"},"geometry":{"type":"Point","coordinates":[7,5]}}"""),
      rel(t1, "105", "st:sameAs"),
      rel(t1, "106", "st:sameAs"),
      // toponym t2: one match
      obj(s"""{"id":"$t2","type":"st:Building","validSince":1893,"validUntil":1893,"name":"One Match","data":{"sheetId":862,"layerId":1142,"mapId":10012,"borough":"Manhattan"},"geometry":{"type":"Point","coordinates":[2,5]}}"""),
      rel(t2, "105", "st:sameAs"),
      // toponym t3: zero matches on an indexed layer
      obj(s"""{"id":"$t3","type":"st:Building","validSince":1893,"validUntil":1893,"name":"No Match","data":{"sheetId":862,"layerId":1142,"mapId":10012,"borough":"Manhattan"},"geometry":{"type":"Point","coordinates":[100,100]}}"""),
      log(s"Can't find building for toponym $t3"),
      // toponym t4: layer 9999 indexed (building 103) but point outside
      obj(s"""{"id":"$t4","type":"st:Building","validSince":1890,"validUntil":1890,"name":"Outside Probe","data":{"sheetId":861,"layerId":9999,"mapId":10011},"geometry":{"type":"Point","coordinates":[1,1]}}"""),
      log("Can't find borough for layer 9999"),
      log(s"Can't find building for toponym $t4"),
      // toponym t5 (dup coords of t1) suppressed entirely
      // toponym t6: layer 8888 has no index at all
      obj(s"""{"id":"$t6","type":"st:Building","validSince":1895,"validUntil":1895,"name":"No Layer","data":{"sheetId":863,"layerId":8888,"mapId":10013},"geometry":{"type":"Point","coordinates":[3,3]}}"""),
      log("Can't find borough for layer 8888"),
      log(s"Error computing intersection for toponym $t6"),
      // toponym t7: contained by building 100 on the Brooklyn layer
      obj(s"""{"id":"$t7","type":"st:Building","validSince":1886,"validUntil":1886,"name":"School","data":{"sheetId":860,"layerId":1130,"mapId":10010,"borough":"Brooklyn"},"geometry":{"type":"Point","coordinates":[1,1]}}"""),
      rel(t7, "100", "st:sameAs"),
    ) ++
      mapwarper("100", 20010, 1130) ++
      mapwarper("103", 20013, 9999) ++
      mapwarper("104", 20014, 1130) ++
      mapwarper("105", 20015, 1142) ++
      mapwarper("106", 20016, 1142) ++
      mapwarper(t1, 10012, 1142) ++
      mapwarper(t2, 10012, 1142) ++
      mapwarper(t3, 10012, 1142) ++
      mapwarper(t4, 10011, 9999) ++
      mapwarper(t6, 10013, 8888) ++
      mapwarper(t7, 10010, 1130)

    val want = expected
      .map(l => canon(mapper.readTree(l)))
      .groupBy(identity).view.mapValues(_.length).toMap

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

  private def res(name: String): String =
    getClass.getResource(s"/inspector/$name").getPath

  private def recordMultiset(consolidated: String): Map[String, Int] =
    NdjsonSink.lines(Engine.transform(spark, Engine.Dirs(
      consolidated = consolidated,
      toponyms = res("toponyms.geojson"),
      sheets = res("sheets.geojson"),
      layerBoroughs = res("layer-boroughs.json"),
    ))).collect().map(r => canon(mapper.readTree(r.getString(0))))
      .groupBy(identity).view.mapValues(_.length).toMap

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
    assert(recordMultiset(out.toString) == recordMultiset(res("consolidated.geojson")))
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

  private def feature(id: String, sheetId: Int): String =
    s"""{"type":"Feature","properties":{"id":"$id","sheet_id":$sheetId,""" +
      """"map_id":"20010","consensus_color":"","consensus_address":"NONE"},""" +
      """"geometry":{"type":"GeometryCollection","geometries":[""" +
      """{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,1],[0,0]]]}]}}"""

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
}
