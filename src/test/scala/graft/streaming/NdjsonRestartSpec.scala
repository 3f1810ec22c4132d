package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.NdjsonSink

/** Exactly-once contract of the streaming NDJSON sink
  * ([[StreamingOps.writeNdjsonStream]] — text FileStreamSink + commit
  * log): killing the query mid-stream and restarting it from the
  * checkpoint must yield byte-identical output to a single
  * uninterrupted run — no duplicated lines from re-run batches, no
  * holes from batches that were in flight at the kill, and uncommitted
  * orphan part-files (a crashed batch's partial output) invisible to
  * the metadata-aware read.
  */
class NdjsonRestartSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  /** A mixed record batch (objects with/without geometry, relations,
    * logs) with ids in [lo, hi) — the full rendering surface of
    * [[NdjsonSink.lines]].
    */
  private def records(lo: Long, hi: Long) = {
    import spark.implicits._
    spark.range(lo, hi).select(
      when($"id" % 3 === 0, "object")
        .when($"id" % 3 === 1, "relation")
        .otherwise("log").as("rtype"),
      concat(lit("rec-"), $"id").as("id"),
      lit("st:Thing").as("otype"),
      ($"id" % 50).cast("int").as("valid_since"),
      ($"id" % 50 + 1).cast("int").as("valid_until"),
      concat(lit("name "), $"id").as("name"),
      concat(lit("data-"), $"id" % 7).as("data"),
      when($"id" % 6 === 0,
        concat(lit("""{"type":"Point","coordinates":["""), $"id", lit(",2]}")))
        .otherwise(lit(null)).as("geometry_json"),
      concat(lit("from-"), $"id").as("rel_from"),
      concat(lit("to-"), $"id").as("rel_to"),
      lit("st:sameAs").as("rel_type"),
      concat(lit("err "), $"id").as("error"),
    )
  }

  test("kill/restart from checkpoint produces byte-identical output") {
    val base = Files.createTempDirectory("graft-ndjson-restart")
    val fixture = s"$base/in"
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    val schema = records(0, 1).schema

    def land(lo: Long, hi: Long): Unit =
      records(lo, hi).coalesce(1).write.mode("append").parquet(fixture)

    // reference: the single-run rendering of ALL records
    val expected = NdjsonSink.lines(records(0, 300))
      .collect().map(_.getString(0)).sorted

    land(0, 100)
    def startQuery() = StreamingOps.writeNdjsonStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(fixture),
      out, ckpt)

    // RUN A: consume the first landing, then land more and stop
    // IMMEDIATELY — whatever batch is in flight at the kill must not
    // double-write after the restart.
    val qa = startQuery()
    try {
      qa.processAllAvailable()
      land(100, 200)
      land(200, 300)
    } finally qa.stop()

    // simulate a crashed batch's partial output: an orphan part-file
    // that exists in the directory but NOT in the sink's commit log
    Files.writeString(Paths.get(s"$out/part-99999-orphan-c000.txt"),
      "{\"type\":\"log\",\"obj\":{\"error\":\"UNCOMMITTED GARBAGE\"}}\n")

    // RUN B: restart from the checkpoint, drain everything
    val qb = startQuery()
    try qb.processAllAvailable()
    finally qb.stop()

    // the FileStreamSink metadata log makes the batch read see exactly
    // the committed files — this is the exactly-once read contract
    val got = spark.read.text(out).collect().map(_.getString(0)).sorted
    assert(got.length == expected.length,
      s"expected ${expected.length} lines, got ${got.length}")
    assert(got.sameElements(expected), {
      val diff = got.diff(expected) ++ expected.diff(got)
      s"restart output diverged; first diffs: ${diff.take(3).mkString(" | ")}"
    })
    assert(!got.exists(_.contains("UNCOMMITTED GARBAGE")),
      "orphan part-file leaked into the metadata-aware read")

    // RUN C: a restart with nothing new must emit nothing (idempotent)
    val qc = startQuery()
    try qc.processAllAvailable()
    finally qc.stop()
    val after = spark.read.text(out).count()
    assert(after == expected.length,
      s"idempotent restart changed output: $after vs ${expected.length}")
  }
}
