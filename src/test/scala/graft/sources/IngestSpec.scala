package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** S1 pagination loop (injected fetcher — zero-egress environment) and
  * the NDJSON landing-file read path that parallelizes the scan at
  * scale (GeoJson.featuresNdjson).
  */
class IngestSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("paginated ingest loops until an empty page, rate-limited, to NDJSON") {
    val out = Files.createTempFile("ingest", ".ndjson").toString
    val pages = Map(
      1 -> Seq("""{"type":"Feature","properties":{"sheet_id":1,"consensus":"A"},"geometry":{"type":"Point","coordinates":[1,2]}}"""),
      2 -> Seq(
        """{"type":"Feature","properties":{"sheet_id":2,"consensus":"B"},"geometry":{"type":"Point","coordinates":[3,4]}}""",
        """{"type":"Feature","properties":{"sheet_id":3,"consensus":"C"},"geometry":{"type":"Point","coordinates":[5,6]}}"""),
    )
    var sleeps = 0
    val urls = Seq.newBuilder[String]
    val n = Ingest.pagesToNdjson(
      "http://example.test/api/consolidated",
      out,
      body => body.split("\n").toSeq.filter(_.nonEmpty),
      sleeper = _ => sleeps += 1,
      fetcher = (url, _) => {
        urls += url
        val page = url.split("/").last.toInt
        pages.get(page).map(_.mkString("\n")).getOrElse("")
      },
    )
    assert(n == 3)
    assert(urls.result() == Seq(
      "http://example.test/api/consolidated/page/1",
      "http://example.test/api/consolidated/page/2",
      "http://example.test/api/consolidated/page/3"))
    assert(sleeps == 2, "sleeps between non-empty pages only")

    // the landing file reads back through the parallel NDJSON path
    val df = GeoJson.featuresNdjson(spark, out, GeoJson.toponymFeatureSchema)
    val rows = df.selectExpr("feature.properties.consensus").collect().map(_.getString(0)).sorted
    assert(rows.sameElements(Array("A", "B", "C")))
    Files.deleteIfExists(Paths.get(out))
  }
}
