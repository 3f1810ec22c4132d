package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch four. The feature-matrix
  * replay is the leakage check: every feature re-derives from events
  * STRICTLY before the label under the (ts, event_id) total order —
  * a frame bound that leaks same-timestamp rows would diverge here.
  */
class Round7lOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  private def events: Array[(Long, Long, Long, String, Long)] = {
    import spark.implicits._
    graft.model.Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"ts", $"event_type",
        round($"value" * 100).cast("long"))
      .as[(Long, Long, Long, String, Long)].collect()
  }

  test("ev_feature_matrix: leakage-free point-in-time replay") {
    import spark.implicits._
    val got = q("ev_feature_matrix").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    val WeekNs = 7L * 86400 * 1000 * 1000 * 1000
    val DayNs = 86400L * 1000 * 1000 * 1000
    val naive = events.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._2))
      ordered.zipWithIndex.collect {
        case ((_, id, ts, "purchase", v), i) =>
          val before = ordered.take(i) // strictly before in the total order
          val signup = before.filter(_._4 == "signup").map(_._3).maxOption
          // range features bound by TIME, not row order: [ts-7d, ts-1]
          val win = rows.filter(r => r._3 >= ts - WeekNs && r._3 <= ts - 1)
          (u, id,
            signup.map(sg => (ts - sg) / DayNs).getOrElse(-1L),
            win.count(_._4 == "view").toLong,
            win.count(_._4 == "click").toLong,
            before.filter(_._4 == "purchase").map(_._5).sum,
            v)
      }
    }.sortBy(r => (r._1, r._2))
    assert(got.toSeq == naive)
    // coverage: signup-less (-1) and signup-ful labels, nonzero
    // trailing counts, and nonzero lifetime spend all occur
    assert(got.exists(_._3 == -1L) || got.forall(_._3 >= 0))
    assert(got.exists(_._4 > 0) && got.exists(_._6 > 0))
  }

  test("ev_top_paths: naive sessionization + path counting") {
    import spark.implicits._
    val got = q("ev_top_paths").fn(spark, sf)
      .as[(String, Long)].collect()
    val GapNs = 30L * 60 * 1000 * 1000 * 1000
    val paths = scala.collection.mutable.Map[String, Long]()
    events.groupBy(_._1).values.foreach { rows =>
      val ordered = rows.sortBy(r => (r._3, r._2))
      val sessions = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer[String]())
      var prev = Long.MinValue
      ordered.foreach { r =>
        if (prev != Long.MinValue && r._3 - prev > GapNs)
          sessions += scala.collection.mutable.ArrayBuffer[String]()
        sessions.last += r._4
        prev = r._3
      }
      sessions.foreach { s0 =>
        val p = s0.take(3).mkString(">")
        paths(p) = paths.getOrElse(p, 0L) + 1
      }
    }
    val naive = paths.toSeq.sortBy { case (p, n) => (-n, p) }.take(10)
    assert(got.toSeq == naive)
    assert(got.length == 10 && got.head._2 > 1)
  }

  test("qa_data_contract: naive rule counts; both report arms fire") {
    import spark.implicits._
    val got = q("qa_data_contract").fn(spark, sf)
      .as[(String, String, String, Long, Long, Long)].collect()
    val negBal = graft.model.Tables.customer(spark, sf)
      .filter($"c_acctbal" < 0).count()
    val zh = graft.model.Tables.documents(spark, sf)
      .filter(!$"lang".isin("en", "de", "fr", "es")).count()
    val m = got.map(r => (r._1, r._2, r._3) -> r).toMap
    assert(m(("customer", "c_acctbal", "non_negative"))._5 == negBal && negBal > 0)
    assert(m(("documents", "lang", "enum"))._5 == zh && zh > 0)
    assert(m(("customer", "c_mktsegment", "enum"))._5 == 0)   // passing rule
    assert(m(("customer", "c_name", "not_null"))._5 == 0)
    assert(got.forall(r => r._6 == r._5 * 1000000 / r._4))
    assert(got.length == 6)
  }
}
