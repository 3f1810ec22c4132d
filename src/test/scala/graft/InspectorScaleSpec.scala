package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Pipeline behavior on a generated larger input (5k buildings, 1k
  * toponyms, dense per-layer polygon sets): structural invariants that
  * the tiny golden can't exercise.
  */
class InspectorScaleSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  private def writeFixtures(dir: String): Engine.Dirs = {
    val rnd = new scala.util.Random(42)
    val nBuildings = 5000
    val nToponyms = 1000
    val layers = Seq(1130L, 1142L, 9999L)
    def sheetFor(layer: Long) = layers.indexOf(layer) + 860L

    val sheets = layers.map { l =>
      s"""{"type":"Feature","properties":{"id":${sheetFor(l)},"map_id":"${10000 + sheetFor(l)}","layer":{"external_id":$l,"year":"1890"}}}"""
    }
    val buildings = (0 until nBuildings).map { i =>
      val layer = layers(i % layers.size)
      val x = rnd.nextInt(1000).toDouble
      val y = rnd.nextInt(1000).toDouble
      val w = 1 + rnd.nextInt(3)
      s"""{"type":"Feature","properties":{"id":"b$i","sheet_id":${sheetFor(layer)},"map_id":"${20000 + i}","consensus_color":null,"consensus_address":"NONE"},"geometry":{"type":"GeometryCollection","geometries":[{"type":"Polygon","coordinates":[[[$x,$y],[${x + w},$y],[${x + w},${y + w}],[$x,${y + w}],[$x,$y]]]}]}}"""
    }
    val toponyms = (0 until nToponyms).map { i =>
      val layer = layers(i % layers.size)
      val x = rnd.nextInt(1000) + 0.5
      val y = rnd.nextInt(1000) + 0.5
      s"""{"type":"Feature","properties":{"sheet_id":${sheetFor(layer)},"consensus":"t$i"},"geometry":{"type":"Point","coordinates":[$x,$y]}}"""
    }
    def fc(features: Seq[String], name: String): String = {
      val p = s"$dir/$name"
      Files.writeString(Paths.get(p),
        s"""{"type":"FeatureCollection","features":[${features.mkString(",")}]}""")
      p
    }
    val lb = s"$dir/layer-boroughs.json"
    Files.writeString(Paths.get(lb),
      """[{"id":1130,"borough":"Brooklyn"},{"id":1142,"borough":"Manhattan"}]""")
    Engine.Dirs(
      consolidated = fc(buildings, "consolidated.geojson"),
      toponyms = fc(toponyms, "toponyms.geojson"),
      sheets = fc(sheets, "sheets.geojson"),
      layerBoroughs = lb,
    )
  }

  test("invariants at 5k buildings") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("inspector-scale").toString
    val dirs = writeFixtures(dir)

    val records = Engine.transform(spark, dirs).cache()
    try {
      val byType = records.groupBy("rtype").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // object ids unique
      val dupIds = records.filter(col("rtype") === "object")
        .groupBy("id").count().filter(col("count") > 1).count()
      // every building object has exactly 2 mapwarper relations
      val nObjects = byType("object")
      val nMapwarper = records
        .filter(col("rtype") === "relation" && col("rel_to").startsWith("mapwarper/"))
        .count()
      // toponym probes: every Point toponym yields sameAs XOR a log
      val sameAs = records.filter(col("rel_type") === "st:sameAs")
        .select("rel_from").distinct().count()
      val noMatch = records
        .filter(col("error").startsWith("Can't find building for toponym"))
        .count()
      assert(dupIds == 0, "object ids are unique")
      assert(nObjects == 5000 + 1000, "all buildings and toponyms survive")
      assert(nMapwarper == 2L * nObjects, "2 mapwarper edges per object")
      assert(sameAs + noMatch == 1000, "each Point toponym matches or logs")
      assert(byType("log") >= noMatch)
    } finally records.unpersist()
  }
}
