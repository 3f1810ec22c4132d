package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint-restart contract of the DSv2 GeoJSON micro-batch
  * source: a killed query restarted from its checkpoint must resume
  * from the COMMITTED offset — already-ingested files are not re-read
  * (the restart path runs `deserializeOffset` + `planInputPartitions`
  * from the recovered offset, code a single live run never executes),
  * files landed while the query was down are picked up exactly once,
  * and a third restart with nothing new emits nothing.
  */
class GeoJsonRestartSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def collection(ids: Seq[Int]): String = {
    val fs = ids.map(i =>
      s"""{"type": "Feature", "properties": {"id": "f$i"}, "geometry": null}""")
    s"""{"type": "FeatureCollection", "features": [${fs.mkString(",")}]}"""
  }

  test("restart from checkpoint resumes from the committed offset, exactly once") {
    val base = java.nio.file.Files.createTempDirectory("graft-geojson-restart")
    val dir = base.resolve("land")
    java.nio.file.Files.createDirectory(dir)
    val ckpt = base.resolve("ckpt").toString
    val out = base.resolve("out").toString
    def land(name: String, doc: String): Unit = {
      val tmp = dir.resolve(s".$name.tmp")
      java.nio.file.Files.writeString(tmp, doc)
      java.nio.file.Files.move(tmp, dir.resolve(name))
    }
    // a DURABLE sink (file sink + its commit log) so output survives
    // the restarts; the memory sink of the live-ingest spec would not
    def startQuery() = spark.readStream.format("geojson").load(dir.toString)
      .selectExpr("ingest_order",
        "get_json_object(feature_json, '$.properties.id') AS fid")
      .writeStream.format("json")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    land("page1.geojson", collection(Seq(0, 1, 2)))
    val qa = startQuery()
    try qa.processAllAvailable()
    finally qa.stop() // kill with page2 not yet landed

    land("page2.geojson", collection(Seq(10, 11)))
    val qb = startQuery()
    try qb.processAllAvailable()
    finally qb.stop()

    def rows() = spark.read.json(out)
      .collect().map(r => (r.getAs[String]("fid"), r.getAs[Long]("ingest_order")))
      .sortBy(_.toString)
    val got = rows()
    assert(got.map(_._1).sorted.sameElements(
      Seq("f0", "f1", "f10", "f11", "f2")),
      s"restart lost or duplicated features: ${got.mkString(",")}")
    // page1 must NOT have been re-ingested by run B: exactly 5 rows
    assert(got.length == 5, s"expected 5 rows, got ${got.length}")

    // idempotent third run: nothing new, nothing emitted
    val qc = startQuery()
    try qc.processAllAvailable()
    finally qc.stop()
    assert(rows().length == 5, "restart with no new files re-emitted rows")
  }
}
