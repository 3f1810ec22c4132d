package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch thirteen: funnel
  * time-to-convert (naive per-user chain + inverse-CDF replay), the
  * Kitagawa decomposition (BigInt replay plus the identity bound the
  * fixed-point quantization promises), and the dedup threshold sweep
  * (rolled up by hand over the gated verified pairs).
  */
class Round7uOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  test("ev_funnel_time_to_convert: per-user chain and inverse-CDF replayed") {
    import spark.implicits._
    val got = q("ev_funnel_time_to_convert").fn(spark, sf)
      .as[(String, Int, Long, Long)].collect().toSeq
    val ev = graft.model.Tables.events(spark, sf)
      .select($"user_id", $"event_type", expr("ts div 1000"))
      .as[(Long, String, Long)].collect()
    def firstAfter(tpe: String, gate: Map[Long, Long]): Map[Long, Long] =
      ev.filter(e => e._2 == tpe && gate.get(e._1).exists(e._3 > _))
        .groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    val t1 = ev.filter(_._2 == "signup").groupBy(_._1).view
      .mapValues(_.map(_._3).min).toMap
    val t2 = firstAfter("click", t1)
    val t3 = firstAfter("purchase", t2)
    def quantiles(step: String, ds: Seq[Long]) = {
      val sorted = ds.sorted; val n = sorted.length.toLong
      Seq(500, 900).map { p =>
        val q = sorted(((p * n + 999) / 1000 - 1).toInt)
        (step, p, n, q)
      }
    }
    val naive =
      quantiles("1_signup_to_click",
        t2.toSeq.map { case (u, t) => (t - t1(u)) / 1000000 }) ++
      quantiles("2_click_to_purchase",
        t3.toSeq.map { case (u, t) => (t - t2(u)) / 1000000 })
    assert(got == naive)
    // median ≤ p90 per step
    got.grouped(2).foreach { case Seq(a, b) => assert(a._4 <= b._4) }
  }

  test("qa_kitagawa_decomposition: BigInt replay; effects reconstruct the true shift") {
    import spark.implicits._
    val got = q("qa_kitagawa_decomposition").fn(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"source", $"doc_id" % 2, $"n_chars".cast("long"))
      .as[(String, Long, Long)].collect()
    val bigN = docs.groupBy(_._2).view.mapValues(_.length).toMap
    val naive = docs.groupBy(_._1).toSeq.map { case (src, xs) =>
      def wm(h: Long): (BigInt, BigInt) = {
        val g = xs.filter(_._2 == h)
        if (g.isEmpty) (BigInt(0), BigInt(0))
        else (BigInt(g.length) * 1000000 / bigN(h),
          g.map(x => BigInt(x._3)).sum * 1000 / g.length)
      }
      val (w0, m0) = wm(0); val (w1, m1) = wm(1)
      def half(v: BigInt) =
        (if (v < 0) BigInt(-1) else BigInt(1)) * (v.abs / 2)
      (src, w0.toLong, w1.toLong, m0.toLong, m1.toLong,
        half((w1 - w0) * (m0 + m1)).toLong,
        half((w0 + w1) * (m1 - m0)).toLong)
    }.sortBy(_._1)
    assert(got == naive)
    // fixed-point identity: Σ(mix+rate) tracks the TRUE rational mean
    // shift within the quantization budget (≤ ~2·m_max per source)
    def mean(h: Long): BigInt = {
      val g = docs.filter(_._2 == h)
      g.map(x => BigInt(x._3)).sum * 1000000000L / g.length
    }
    val trueShift = mean(1) - mean(0)
    val reconstructed = BigInt(got.map(r => r._6 + r._7).sum)
    val budget = BigInt(got.length) * 2 *
      (naive.map(r => math.max(r._4, r._5)).max + 1000000L)
    assert((reconstructed - trueShift).abs <= budget)
  }

  test("td_threshold_sweep: hand roll-up over the gated verified pairs") {
    import spark.implicits._
    val got = q("td_threshold_sweep").fn(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val verified = q("td_minhash_jaccard_verify").fn(spark, sf)
      .as[(Long, Long, Long)].collect()
    val naive = Seq(300000000L, 500000000L, 700000000L, 900000000L).map { t =>
      val hit = verified.filter(_._3 >= t)
      (t, hit.length.toLong,
        hit.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)
    }
    assert(got == naive)
    assert(got.map(_._2) == got.map(_._2).sorted(Ordering[Long].reverse))
    assert(got.head._2 > 0L)
  }
}
