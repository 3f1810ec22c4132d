package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps.{Event, Session}

class StreamingSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("watermarked tumbling window aggregation finalizes closed windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.windowedCounts(input.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.50),
        Event(2, ts(10), 1, "click", 2.25),
        Event(3, ts(20), 2, "buy", 10.00),
      )
      q.processAllAvailable()
      // push the watermark well past the first hour window
      input.addData(Event(4, ts(200), 1, "click", 1.00))
      q.processAllAvailable()
      input.addData(Event(5, ts(400), 1, "click", 1.00))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .orderBy("window_start", "event_type").collect()
      assert(rows.exists(r => r.getString(1) == "click" && r.getLong(2) == 2 && r.getLong(3) == 375))
      assert(rows.exists(r => r.getString(1) == "buy" && r.getLong(2) == 1 && r.getLong(3) == 1000))
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on gap and on watermark timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionize(input.toDS(), gapMs = 30 * 60000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      // user 1: events at minute 0, 10 (one session), then 60 (new session)
      input.addData(
        Event(1, ts(0), 1, "a", 0),
        Event(2, ts(10), 1, "a", 0),
        Event(3, ts(60), 1, "a", 0),
      )
      q.processAllAvailable()
      // advance watermark far enough to time out the open session
      input.addData(Event(9, ts(500), 2, "a", 0))
      q.processAllAvailable()
      input.addData(Event(10, ts(900), 2, "a", 0))
      q.processAllAvailable()
      val sessions = spark.table("sess_out").as[Session]
        .collect().filter(_.user_id == 1).sortBy(_.session_start.getTime)
      assert(sessions.length == 2, s"got ${sessions.mkString(", ")}")
      assert(sessions(0).n_events == 2 &&
        sessions(0).session_start == ts(0) && sessions(0).session_end == ts(10))
      assert(sessions(1).n_events == 1 && sessions(1).session_start == ts(60))
    } finally q.stop()
  }
}
