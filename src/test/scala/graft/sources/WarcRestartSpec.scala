package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint-restart contract of the DSv2 WARC micro-batch source,
  * in BOTH offset modes (mirrors GeoJsonRestartSpec):
  *
  *  - a killed query restarted from its checkpoint resumes from the
  *    COMMITTED offset (the restart path runs `deserializeOffset` +
  *    `planInputPartitions` from the recovered offset — code a single
  *    live run never executes),
  *  - segments ingested before the kill are NOT re-read,
  *  - segments landed while the query was down are picked up exactly
  *    once, and
  *  - a further restart with nothing new emits nothing.
  *
  * The watermark mode is the one BUILT for restart (its O(1) offset
  * exists so a months-long ingest can recover without replaying the
  * file-set history), so it gets the same end-to-end pass plus a
  * replay determinism case: planning the same (start, end) offsets on
  * a FRESH stream object — the restart-replay situation, where the
  * listing snapshot from `latestOffset()` is gone — must produce the
  * same batch from a live re-list.
  */
class WarcRestartSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def record(uri: String, payload: Array[Byte]): Array[Byte] = {
    val head = Seq(
      "WARC/1.0",
      "WARC-Type: response",
      s"WARC-Record-ID: <urn:test:$uri>",
      "WARC-Date: 2020-01-01T00:00:00Z",
      s"WARC-Target-URI: $uri",
      "Content-Type: text/plain",
      s"Content-Length: ${payload.length}")
      .mkString("", "\r\n", "\r\n\r\n")
      .getBytes(StandardCharsets.UTF_8)
    head ++ payload ++ "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
  }

  private def seg(f: Int, n: Int = 3): Array[Byte] =
    (0 until n).map(i => record(s"http://r$f.example/$i",
      s"seg-$f-rec-$i".getBytes(StandardCharsets.UTF_8))).reduce(_ ++ _)

  private def land(dir: Path, name: String, bytes: Array[Byte]): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def rm(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
  }

  for (mode <- Seq("set", "watermark"))
    test(s"offsetMode=$mode: restart from checkpoint resumes exactly once") {
      val base = Files.createTempDirectory(s"warc-restart-$mode")
      val dir = base.resolve("land")
      Files.createDirectory(dir)
      val ckpt = base.resolve("ckpt").toString
      val out = base.resolve("out").toString
      // a DURABLE sink (file sink + its commit log) so output survives
      // the restarts; the memory sink of the live-ingest spec would not
      def startQuery() = spark.readStream.format("warc")
        .option("offsetMode", mode).load(dir.toString)
        .selectExpr("target_uri", "record_index",
          "CAST(payload AS STRING) AS body")
        .writeStream.format("json")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        land(dir, "seg-001.warc", seg(1))
        val qa = startQuery()
        try qa.processAllAvailable()
        finally qa.stop() // kill with seg-002 not yet landed

        land(dir, "seg-002.warc", seg(2))
        val qb = startQuery()
        try qb.processAllAvailable()
        finally qb.stop()

        def rows() = spark.read.json(out)
          .collect().map(_.getAs[String]("body")).sorted.toSeq
        val got = rows()
        val want = (for (f <- 1 to 2; i <- 0 until 3)
          yield s"seg-$f-rec-$i").sorted
        assert(got == want,
          s"restart lost or duplicated records: ${got.mkString(",")}")

        // idempotent third run: nothing new, nothing emitted
        val qc = startQuery()
        try qc.processAllAvailable()
        finally qc.stop()
        assert(rows().size == 6, "restart with no new segments re-emitted")
      } finally rm(base)
    }

  test("watermark replay: a fresh stream plans the same batch from (start, end)") {
    import graft.sources.v2.{WarcDataSource, WarcTestHooks}
    val base = Files.createTempDirectory("warc-replay")
    try {
      land(base, "seg-001.warc", seg(1))
      def fresh() = WarcTestHooks.microBatchStream(
        base.toString, WarcDataSource.DefaultChunkBytes, "watermark")
      // live run: initial -> latest (snapshot populated) -> plan
      val live = fresh()
      val start = live.initialOffset()
      val end = live.latestOffset()
      val planned = live.planInputPartitions(start, end)
        .map(WarcTestHooks.partitionPath).sorted.toSeq
      // restart replay: a FRESH object (no listing snapshot) planning
      // the same offsets, round-tripped through their JSON as the
      // checkpoint log would — must fall back to a re-list and produce
      // the identical batch
      val replay = fresh()
      val replayed = replay.planInputPartitions(
        replay.deserializeOffset(start.json()),
        replay.deserializeOffset(end.json()))
        .map(WarcTestHooks.partitionPath).sorted.toSeq
      assert(planned.nonEmpty && planned == replayed,
        s"replayed batch differs: live=$planned replay=$replayed")
    } finally rm(base)
  }
}
