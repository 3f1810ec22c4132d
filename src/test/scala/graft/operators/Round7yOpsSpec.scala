package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch seventeen: uncertainty
  * sampling (margins replayed over the gated classifier), U-shape
  * attribution (per-conversion chain replay with the closed-book
  * invariant), and day-of-week seasonality (BigInt cross-multiplied
  * index replay).
  */
class Round7yOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  test("td_uncertainty_sample: margin selection replayed over the gated classifier") {
    import spark.implicits._
    val got = q("td_uncertainty_sample").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val scored = q("ta_hashed_classifier").fn(spark, sf)
      .select($"doc_id", $"n_feats", $"w_sum")
      .as[(Long, Long, Long)].collect()
    val naive = scored.filter(_._2 > 0)
      .map { case (id, nf, ws) => (id, nf, ws, ws.abs * 1000 / nf) }
      .sortBy { case (id, _, _, m) => (m, id) }.take(50).toSeq
    assert(got == naive)
    assert(got.map(_._4) == got.map(_._4).sorted)
    assert(got.head._4 < got.last._4) // a real margin gradient, not ties
  }

  test("ev_attribution_position: U-shape chain replay; the credit book closes") {
    import spark.implicits._
    val got = q("ev_attribution_position").fn(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    val WeekNs = 7L * 86400 * 1000 * 1000 * 1000
    val ev = graft.model.Tables.events(spark, sf)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .as[(Long, String, Long, Long)].collect()
    val convs = ev.filter(_._2 == "purchase")
    val touches = ev.filter(e => e._2 == "view" || e._2 == "click")
      .groupBy(_._1).view.mapValues(_.toSeq).toMap
    val credits = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    convs.foreach { case (u, _, cts, _) =>
      val chain = touches.getOrElse(u, Seq.empty)
        .filter(t => t._3 < cts && cts - t._3 <= WeekNs)
        .sortBy(t => (t._3, t._4))
      val n = chain.length
      if (n == 0) credits += (("(direct)", 1000000L))
      else chain.zipWithIndex.foreach { case (t, i) =>
        val rn = i + 1
        val c =
          if (n == 1) 1000000L
          else if (n == 2) 500000L
          else if (rn == 1 || rn == n) 400000L
          else 200000L / (n - 2) +
            (if (n - rn <= 200000L % (n - 2)) 1L else 0L)
        credits += ((t._2, c))
      }
    }
    val naive = credits.groupBy(_._1).toSeq
      .map { case (ch, xs) => (ch, xs.length.toLong, xs.map(_._2).sum) }
      .sortBy(_._1)
    assert(got == naive)
    assert(got.map(_._3).sum == 1000000L * convs.length) // closed book
  }

  test("qa_dow_seasonality: cross-multiplied index replay; indices straddle parity") {
    import spark.implicits._
    val DayNs = 86400L * 1000 * 1000 * 1000
    val got = q("qa_dow_seasonality").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val rows = graft.model.Tables.events(spark, sf)
      .select(expr(s"(ts div $DayNs) % 7"),
        expr("CAST(round(value * 100) AS BIGINT)"))
      .as[(Long, Long)].collect()
    val bigN = BigInt(rows.length)
    val bigSq = rows.map(r => BigInt(r._2)).sum
    val naive = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (dw, xs) =>
      val n = BigInt(xs.length); val sq = xs.map(x => BigInt(x._2)).sum
      (dw, n.toLong, sq.toLong, (sq * bigN * 1000000 / (n * bigSq)).toLong)
    }
    assert(got == naive)
    assert(got.length == 7)
    assert(got.map(_._4).min <= 1000000L && got.map(_._4).max >= 999999L)
  }
}
