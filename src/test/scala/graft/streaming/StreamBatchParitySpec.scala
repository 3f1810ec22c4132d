package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps.{Event, Session}

/** The streaming sessionizer must assign the same sessions the batch
  * gap-and-island query (`ev_sessionize`) does on the same data —
  * fed the real sf0.001 events through a MemoryStream, with a final
  * far-future event per user to flush open sessions.
  */
class StreamBatchParitySpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("streaming sessionization matches the batch gap-and-island result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30 * 60000L
    val d = "/root/testdata/sf0.001"

    // batch truth: sessions per user from the catalogue query's logic,
    // aggregated to (user, session_start_ms, n_events)
    val batch = graft.model.Tables.events(spark, d)
      .select($"user_id", $"event_id", (expr("ts div 1000000")).as("ts_ms"))
      .withColumn("prev", lag($"ts_ms", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts_ms", $"event_id")))
      .withColumn("is_start",
        when($"prev".isNull || $"ts_ms" - $"prev" > gapMs, 1L).otherwise(0L))
      .withColumn("sess", sum($"is_start").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"sess")
      .agg(min($"ts_ms").as("start_ms"), count(lit(1)).as("n"))
      .select($"user_id", $"start_ms", $"n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // streaming run over the same events (+ flush sentinels, which each
    // form their own far-future session and are filtered out below)
    val events = graft.model.Tables.events(spark, d)
      .select($"event_id", $"user_id", $"event_type", $"value",
        (expr("ts div 1000000")).as("ts_ms"))
      .collect()
      .map(r => Event(r.getLong(0), new Timestamp(r.getLong(4)), r.getLong(1),
        r.getString(2), r.getDouble(3)))
      .sortBy(e => e.ts.getTime)
    val maxTs = events.map(_.ts.getTime).max
    val users = events.map(_.user_id).distinct
    val flush = users.zipWithIndex.map { case (u, i) =>
      Event(-1000L - i, new Timestamp(maxTs + 10L * 24 * 3600 * 1000), u, "flush", 0)
    }

    val input = MemoryStream[Event]
    val q = StreamingOps.sessionize(input.toDS(), gapMs)
      .writeStream.outputMode("append")
      .format("memory").queryName("parity_out").start()
    try {
      input.addData(events.toSeq)
      q.processAllAvailable()
      input.addData(flush.toSeq)
      q.processAllAvailable()
      // second flush wave far beyond the first to time those out too
      input.addData(users.map(u =>
        Event(-9999L, new Timestamp(maxTs + 40L * 24 * 3600 * 1000), u, "flush2", 0)).toSeq)
      q.processAllAvailable()
      val streamed = spark.table("parity_out").as[Session].collect()
        .filter(_.session_start.getTime <= maxTs) // drop flush sessions
        .map(s => (s.user_id, s.session_start.getTime, s.n_events)).toSet
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
    } finally q.stop()
  }
}
