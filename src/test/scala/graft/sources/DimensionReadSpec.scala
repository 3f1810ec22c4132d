package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.QueryMetrics

/** The two dimension files are read on the driver ([[GeoJson.sheets]],
  * [[GeoJson.layerBoroughs]]); each must yield what Spark's read of it
  * yields (kept here as the oracles), row for row and in file order,
  * without running a job.
  */
class DimensionReadSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  /** The sheets as a `geojson` scan reads them. */
  private def sheetsScan(path: String): DataFrame =
    spark.read.format("geojson").load(path).select(col("ingest_order"),
      Bridge.column(FeatureFromJson(Bridge.expression(col("feature_json")),
        GeoJson.sheetFeatureSchema)).as("feature"))

  /** The layer-boroughs as Spark's multiLine JSON reader reads them. */
  private def layersScan(path: String): DataFrame =
    spark.read.schema(GeoJson.layerBoroughsSchema).option("multiLine", value = true).json(path)

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, what)
    assert(got.collect().toSeq == want.collect().toSeq, what)
  }

  private def fixture(name: String): String =
    getClass.getResource(s"/inspector/$name").getPath

  private def uri(path: String): String = new java.io.File(path).toURI.toString

  private def writeTemp(name: String, content: String): String = {
    val f = java.nio.file.Files.createTempFile(name, ".json")
    java.nio.file.Files.writeString(f, content)
    f.toFile.deleteOnExit()
    f.toString
  }

  private def sheet(id: String, layer: String = """{"external_id":1130,"year":"1886"}"""): String =
    s"""{"type":"Feature","properties":{"id":$id,"map_id":"10010","layer":$layer}}"""

  private def collection(features: String*): String =
    features.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")

  test("sheets read on the driver match a geojson scan") {
    val inputs = Seq(
      "golden" -> fixture("sheets.geojson"),
      "file: URI" -> uri(fixture("sheets.geojson")),
      "no features" -> writeTemp("sheets-empty", collection()),
      "string, float and null ids" -> writeTemp("sheets-ids",
        collection(sheet("\"860\""), sheet("861.5"), sheet("null"), sheet("862"))),
      "null and partial layers" -> writeTemp("sheets-layers", collection(
        sheet("860", "null"), sheet("861", """{"year":null}"""), sheet("862", """{"external_id":7}"""))),
      "missing fields" -> writeTemp("sheets-missing", collection(
        """{"type":"Feature"}""", """{"properties":{}}""", "null", "{}")),
    )
    for ((what, path) <- inputs) assertSame(GeoJson.sheets(spark, path), sheetsScan(path), what)
  }

  test("layer-boroughs read on the driver match Spark's multiLine JSON reader") {
    val inputs = Seq(
      "golden" -> fixture("layer-boroughs.json"),
      "file: URI" -> uri(fixture("layer-boroughs.json")),
      "one object, not an array" -> writeTemp("layers-object", """{"id":1130,"borough":"Brooklyn"}"""),
      "empty array" -> writeTemp("layers-empty", "[]"),
      "string, float and null ids" -> writeTemp("layers-ids",
        """[{"id":"1130","borough":"A"},{"id":1142.5,"borough":"B"},""" +
          """{"id":null,"borough":"C"},{"id":7,"borough":"D"}]"""),
      "null borough" -> writeTemp("layers-null-borough", """[{"id":1,"borough":null}]"""),
      "missing fields" -> writeTemp("layers-missing",
        """[{"id":1},{"borough":"X"},{},{"id":2,"borough":"Y","other":[1,2]}]"""),
      "truncated" -> writeTemp("layers-truncated", """[{"id":1130,"borough":"Brooklyn"},{"id":11"""),
      "pretty-printed" -> writeTemp("layers-pretty",
        "[\n  {\"id\": 1130,\n   \"borough\": \"Brooklyn\"},\n  {\"id\": 1142, \"borough\": \"Manhattan\"}\n]\n"),
    )
    for ((what, path) <- inputs) assertSame(GeoJson.layerBoroughs(spark, path), layersScan(path), what)
  }

  test("the driver-side reads, and collects of them, run no Spark job") {
    val (_, metrics) = QueryMetrics.measure(spark) {
      GeoJson.sheets(spark, fixture("sheets.geojson"))
        .select(col("feature.properties.id").cast("long")).collect()
      GeoJson.layerBoroughs(spark, fixture("layer-boroughs.json")).collect()
    }
    assert(metrics.jobs == 0)
  }

  // A half-downloaded sheets file must fail the transform, not turn
  // into a short lookup.
  test("a truncated sheets file fails, naming the file") {
    val whole = java.nio.file.Files.readString(java.nio.file.Paths.get(fixture("sheets.geojson")))
    val cut = writeTemp("sheets-truncated", whole.take(whole.length / 2))
    val e = intercept[Exception](GeoJson.sheets(spark, cut))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(cut)), e.toString)
  }
}
