package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end file-driven streaming: NDJSON events land in a
  * directory, a readStream picks them up with an explicit schema, the
  * shared windowed aggregation runs with a watermark, and results
  * land in the sink — the readStream → transform → writeStream shape
  * of a production ingest, plus the watermark-bounded streaming dedup.
  */
class FileStreamSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private val schema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
  ))

  test("NDJSON file stream through windowed aggregation and dedup") {
    val dir = Files.createTempDirectory("graft-stream-in").toString
    def line(id: Long, minute: Int, t: String, v: Double) =
      s"""{"event_id":$id,"ts":"2024-03-01T00:${"%02d".format(minute)}:00.000Z","event_type":"$t","value":$v}"""
    Files.write(java.nio.file.Paths.get(s"$dir/batch1.json"),
      (Seq(line(1, 0, "click", 1.50), line(2, 10, "click", 2.25),
        line(3, 20, "buy", 10.00), line(2, 11, "click", 2.25)) // dup id 2
        .mkString("\n") + "\n").getBytes)

    val stream = spark.readStream.schema(schema).json(dir)

    // windowed aggregation path
    val q1 = StreamingOps.windowedCounts(stream)
      .writeStream.outputMode("append").format("memory").queryName("fs_win").start()
    // dedup path
    val q2 = StreamingOps.dedup(stream, Seq("event_id"))
      .writeStream.outputMode("append").format("memory").queryName("fs_dedup").start()
    try {
      q1.processAllAvailable()
      q2.processAllAvailable()
      // late file pushes the watermark past the first hour window
      Files.write(java.nio.file.Paths.get(s"$dir/batch2.json"),
        (line(9, 0, "noop", 0.0)
          .replace("2024-03-01T00:00", "2024-03-01T05:00") + "\n").getBytes)
      q1.processAllAvailable()
      q2.processAllAvailable()

      val win = spark.table("fs_win").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(win.contains(("click", 3L, 600L)), s"got $win") // dup kept in agg
      assert(win.contains(("buy", 1L, 1000L)))

      val dedup = spark.table("fs_dedup").collect().map(_.getLong(0)).sorted
      assert(dedup.count(_ == 2L) == 1, "duplicate event_id dropped")
      assert(dedup.toSet == Set(1L, 2L, 3L, 9L))
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming NDJSON sink emits byte-identical lines to the batch sink") {
    // one record of each rtype, covering null omission, the data
    // struct, and the raw-geometry splice
    val recs = spark.sql(
      """SELECT * FROM VALUES
        |  ('object', '123', 'st:Building', '1880', '1881',
        |   CAST(NULL AS STRING), named_struct('sheetId', 7),
        |   '{"type":"Point","coordinates":[-73.98,40.71]}',
        |   CAST(NULL AS STRING), CAST(NULL AS STRING), CAST(NULL AS STRING),
        |   CAST(NULL AS STRING)),
        |  ('relation', CAST(NULL AS STRING), CAST(NULL AS STRING),
        |   CAST(NULL AS STRING), CAST(NULL AS STRING), CAST(NULL AS STRING),
        |   named_struct('sheetId', CAST(NULL AS INT)), CAST(NULL AS STRING),
        |   'building-inspector/1', 'mapwarper/2', 'st:sameAs',
        |   CAST(NULL AS STRING)),
        |  ('log', CAST(NULL AS STRING), CAST(NULL AS STRING),
        |   CAST(NULL AS STRING), CAST(NULL AS STRING), CAST(NULL AS STRING),
        |   named_struct('sheetId', CAST(NULL AS INT)), CAST(NULL AS STRING),
        |   CAST(NULL AS STRING), CAST(NULL AS STRING), CAST(NULL AS STRING),
        |   'no sheet 9')
        |AS t(rtype, id, otype, valid_since, valid_until, name, data,
        |     geometry_json, rel_from, rel_to, rel_type, error)""".stripMargin)
    val base = Files.createTempDirectory("graft-ndjson-parity")
    val fixture = s"$base/fixture"
    val outBatch = s"$base/batch"
    val outStream = s"$base/stream"
    recs.write.parquet(fixture)
    graft.sources.NdjsonSink.write(recs, outBatch)
    val q = StreamingOps.writeNdjsonStream(
      spark.readStream.schema(recs.schema).parquet(fixture),
      outStream, s"$base/ckpt")
    try q.processAllAvailable()
    finally q.stop()
    val a = spark.read.text(outBatch).collect().map(_.getString(0)).sorted
    val b = spark.read.text(outStream).collect().map(_.getString(0)).sorted
    assert(a.length == 3)
    assert(a.sameElements(b), s"batch:\n${a.mkString("\n")}\nstream:\n${b.mkString("\n")}")
    assert(a.exists(_.contains("\"geometry\":{\"type\":\"Point\",\"coordinates\":[-73.98,40.71]}")))
    assert(a.exists(_.startsWith("{\"type\":\"relation\",\"obj\":{\"from\":\"building-inspector/1\"")))
  }
}
