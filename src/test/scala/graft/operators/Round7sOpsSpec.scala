package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch eleven: Flesch-Kincaid
  * readability, the discrete hazard curve, and DAU/WAU stickiness —
  * each re-derived naively (BigInt arithmetic, brute-force set
  * unions) against the operator output.
  */
class Round7sOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  private val DayNs = 86400L * 1000 * 1000 * 1000

  test("ta_readability_fk: BigInt replay of counts, vowel groups, signed division") {
    import spark.implicits._
    val got = q("ta_readability_fk").fn(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"source", $"text").as[(String, String)].collect()
    val vowels = "[aeiou]+".r
    val naive = docs.groupBy(_._1).toSeq.map { case (src, ds) =>
      val w = ds.map(x => BigInt(x._2.split(" ", -1).length)).sum
      val sen = ds.map(x =>
        BigInt(math.max(1, x._2.count(_ == '.')))).sum
      val syll = ds.map(x => x._2.split(" ", -1).map(t =>
        BigInt(math.max(1, vowels.findAllIn(t).size))).sum).sum
      val num = BigInt(390) * w * w + BigInt(11800) * syll * sen -
        BigInt(15590) * sen * w
      val grade = (if (num < 0) BigInt(-1) else BigInt(1)) *
        (num.abs / (sen * w))
      (src, ds.length.toLong, w.toLong, sen.toLong, syll.toLong,
        grade.toLong)
    }.sortBy(_._1)
    assert(got == naive)
    assert(got.map(_._6).distinct.length > 1) // sources genuinely differ
  }

  test("ev_hazard_curve: lifetime replay; at-risk telescopes from total users") {
    import spark.implicits._
    val got = q("ev_hazard_curve").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val life = graft.model.Tables.events(spark, sf)
      .groupBy($"user_id")
      .agg(min($"ts").as("a"), max($"ts").as("b"))
      .as[(Long, Long, Long)].collect()
      .map { case (_, a, b) => (b - a) / DayNs }
    val hist = life.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ts = hist.keys.toSeq.sorted
    val naive = ts.map { t =>
      val atRisk = hist.filter(_._1 >= t).values.sum
      (t, atRisk, hist(t), hist(t) * 1000000L / atRisk)
    }
    assert(got == naive)
    assert(got.head._2 == life.length.toLong) // everyone at risk at t_min
    assert(got.map(_._2) == got.map(_._2).sorted(Ordering[Long].reverse))
    assert(got.last._4 == 1000000L) // the last class all "dies"
  }

  test("ev_dau_wau_stickiness: brute-force 7-day set unions") {
    import spark.implicits._
    val got = q("ev_dau_wau_stickiness").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val ud = graft.model.Tables.events(spark, sf)
      .select($"user_id", expr(s"ts div $DayNs").as("day"))
      .distinct().as[(Long, Long)].collect()
    val byDay = ud.groupBy(_._2).view
      .mapValues(_.map(_._1).toSet).toMap
    val naive = byDay.keys.toSeq.sorted.map { d =>
      val dau = byDay(d).size.toLong
      val wau = (d - 6 to d).flatMap(byDay.get).reduce(_ ++ _).size.toLong
      (d, dau, wau, dau * 1000000L / wau)
    }
    assert(got == naive)
    got.foreach { case (_, dau, wau, ppm) =>
      assert(wau >= dau); assert(ppm <= 1000000L)
    }
    assert(got.exists(_._4 < 1000000L)) // real multi-day windows exist
  }
}
