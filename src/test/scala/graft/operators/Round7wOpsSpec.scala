package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch fifteen: vocabulary
  * richness (Chao1 / Good-Turing), the RFM segment cube, and the
  * Simpson's-paradox detector — all replayed in exact Scala
  * arithmetic.
  */
class Round7wOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  test("ta_vocab_richness: frequency-of-frequencies replay; Chao1 bounds below") {
    import spark.implicits._
    val Seq(got) = q("ta_vocab_richness").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val counts = scala.collection.mutable.Map[String, Long]()
    graft.model.Tables.documents(spark, sf)
      .select($"text").as[String].collect()
      .foreach(_.split(" ", -1).foreach(w =>
        counts(w) = counts.getOrElse(w, 0L) + 1))
    val d = counts.size.toLong
    val n = counts.values.sum
    val f1 = counts.values.count(_ == 1L).toLong
    val f2 = counts.values.count(_ == 2L).toLong
    val chao1 = d + f1 * (f1 - 1) / (2 * (f2 + 1))
    val gt = f1 * 1000000L / n
    assert(got == ((d, n, f1, f2, chao1, gt)))
    assert(got._5 >= got._1) // the estimator never shrinks the vocab
  }

  test("ev_rfm_segments: quintile cube replayed with inverse-CDF thresholds") {
    import spark.implicits._
    val DayNs = 86400L * 1000 * 1000 * 1000
    val got = q("ev_rfm_segments").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val users = graft.model.Tables.events(spark, sf)
      .groupBy($"user_id")
      .agg(expr(s"max(ts div $DayNs)").as("ld"), count(lit(1)).as("f"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("m"))
      .as[(Long, Long, Long, Long)].collect()
    val d0 = users.map(_._2).max
    val mmin = users.map(_._4).min; val mmax = users.map(_._4).max
    val w = math.max(1L, (mmax - mmin) / 256 + 1)
    val rows = users.map(u => (d0 - u._2, u._3, (u._4 - mmin) / w))
    def edges(vs: Seq[Long]): Seq[Long] = {
      val sorted = vs.sorted; val n = sorted.length.toLong
      Seq(200, 400, 600, 800).map(p =>
        sorted(((p * n + 999) / 1000 - 1).toInt))
    }
    val (er, ef, em) =
      (edges(rows.map(_._1).toSeq), edges(rows.map(_._2).toSeq),
        edges(rows.map(_._3).toSeq))
    def score(v: Long, e: Seq[Long]): Long = 1L + e.count(v > _)
    val naive = rows
      .map(r => (score(r._1, er), score(r._2, ef), score(r._3, em)))
      .groupBy(identity).toSeq
      .map { case (k, xs) => (k._1, k._2, k._3, xs.length.toLong) }
      .sortBy(k => (k._1, k._2, k._3))
    assert(got == naive)
    assert(got.map(_._4).sum == users.length.toLong)
    got.foreach { case (r, f, m, _) =>
      assert(r >= 1 && r <= 5 && f >= 1 && f <= 5 && m >= 1 && m <= 5)
    }
  }

  test("qa_simpson_paradox: cross-multiplied direction replay per segment") {
    import spark.implicits._
    val got = q("qa_simpson_paradox").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val rows = graft.model.Tables.orders(spark, sf)
      .join(graft.model.Tables.customer(spark, sf),
        $"o_custkey" === $"c_custkey")
      .select(expr("CAST(year(o_orderdate) AS BIGINT)"), $"c_mktsegment",
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .as[(Long, String, Long)].collect()
    def agg(g: Seq[(Long, String, Long)]) =
      (BigInt(g.length), g.map(x => BigInt(x._3)).sum)
    val years = rows.map(_._1).distinct.sorted
    val naive = years.zip(years.tail).filter(p => p._2 == p._1 + 1)
      .flatMap { case (y1, y2) =>
        val segs = rows.filter(r => r._1 == y1 || r._1 == y2)
          .groupBy(_._2).filter { case (_, g) =>
            g.exists(_._1 == y1) && g.exists(_._1 == y2)
          }
        val ups = segs.toSeq.map { case (_, g) =>
          val (n1, s1) = agg(g.filter(_._1 == y1).toSeq)
          val (n2, s2) = agg(g.filter(_._1 == y2).toSeq)
          s2 * n1 > s1 * n2
        }
        val (n1, s1) = agg(rows.filter(_._1 == y1).toSeq)
        val (n2, s2) = agg(rows.filter(_._1 == y2).toSeq)
        val overallUp = if (s2 * n1 > s1 * n2) 1L else 0L
        val up = ups.count(identity).toLong
        val down = ups.length - up
        val flag = if ((overallUp == 1L && down > up) ||
          (overallUp == 0L && up > down)) 1L else 0L
        Some((y1, y2, up, down, overallUp, flag))
      }.toSeq
    assert(got == naive)
    got.foreach(r => assert(r._3 + r._4 <= 5L)) // ≤ 5 market segments
  }
}
