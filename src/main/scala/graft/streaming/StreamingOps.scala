package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.util.Cols._

/** Streaming duals of the batch event analytics (SURVEY §7.2
  * extension; the reference itself is batch-only — its pull-streams
  * are just bounded-memory execution, SURVEY §2.7). Same logical
  * operations as [[graft.operators.EventQueries]], expressed over an
  * unbounded source with event-time semantics:
  *
  *  - watermarked tumbling-window aggregation (append mode: a window
  *    finalizes once the watermark passes it);
  *  - stateful sessionization with flatMapGroupsWithState keyed by
  *    user, emitting a session row when a >gap silence closes it.
  *
  * Scale notes: state is partitioned by the group key (user), window
  * aggs are partial per-batch, and the watermark bounds state size —
  * the two knobs that matter at 100 TB/day are the watermark delay
  * and `spark.sql.shuffle.partitions` for the state store.
  */
object StreamingOps {

  final case class Event(
      event_id: Long,
      ts: Timestamp,
      user_id: Long,
      event_type: String,
      value: Double,
  )

  final case class Session(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
  )

  final case class SessionState(
      start: Long, last: Long, n: Long)

  /** Tumbling 1h windows per event type, 10 min watermark. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("value"))).as("value_cents"),
      )
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("value_cents"),
      )

  /** Streaming exact dedup by key with WATERMARK-BOUNDED state:
    * duplicates arriving within the watermark window are dropped, and
    * per-key state is evicted once the watermark passes — the only
    * dedup formulation whose state does not grow without bound on an
    * infinite stream.
    */
  def dedup(
      events: DataFrame,
      keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming dual of the tagged-record NDJSON sink (SURVEY §2.1 S7,
    * [[graft.sources.NdjsonSink]]): the SAME byte-exact line rendering
    * — field order, null omission, raw-geometry splice — applied to an
    * unbounded record stream and appended as text part-files with the
    * file sink's exactly-once commit log. The rendering is a pure
    * column transform, so batch and streaming cannot drift: both call
    * `NdjsonSink.lines`. The reference's strictly-sequential write
    * order is not semantic (SURVEY §2.7); lines land partitioned and
    * batched, canonicalized by sort in the parity spec.
    *
    * It stays on Spark's `text` file sink, not the batch sink's
    * part-file writer: the file sink's `_spark_metadata` log records
    * which files each batch committed, which is what makes a restarted
    * query's output exactly-once, and the batch writer keeps no such
    * log.
    */
  def writeNdjsonStream(
      records: DataFrame, path: String, checkpoint: String) =
    graft.sources.NdjsonSink.lines(records)
      .writeStream
      .format("text")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** Gap-based sessionization: a session closes after `gapMs` of
    * silence per user (stateful, event-time timeout).
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed: close the open session
            val out = state.getOption.map(s =>
              Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n))
            state.remove()
            out.iterator
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1))
                case Some(s) =>
                  closed += Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.result().iterator
          }
      }
  }
}
