package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch two. The centerpiece is
  * qa_cusum_drift: the engine computes CUSUM through its prefix-scan
  * decomposition (day-blocked running sum minus running min), and the
  * spec replays the TRUE sequential recursion S_t = max(0, S_{t-1} +
  * y_t) — agreement proves the decomposition, not just the plumbing.
  * The others are naive re-derivations plus domain/coverage laws.
  */
class Round7jOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  test("qa_cusum_drift: prefix-scan decomposition == true sequential recursion") {
    import spark.implicits._
    val got = q("qa_cusum_drift").fn(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    val ev = graft.model.Tables.events(spark, sf)
      .select($"event_type", $"ts", $"event_id",
        round($"value" * 100).cast("long"))
      .as[(String, Long, Long, Long)].collect()
    val naive = ev.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3))
      val n = ordered.length.toLong
      val k = ordered.map(_._4).sum / n
      var s = 0L; var mx = 0L; var peak = (Long.MaxValue, Long.MaxValue)
      var alarms = 0L
      ordered.foreach { case (_, ts, id, v) =>
        s = math.max(0L, s + v - k)
        if (s > mx) { mx = s; peak = (ts, id) }
        if (s > 5 * k) alarms += 1
      }
      (t, n, k, mx, peak._1, peak._2, alarms)
    }
    assert(got.toSeq == naive)
    assert(got.forall(_._4 > 0))          // a peak exists everywhere
    assert(got.exists(_._7 > 0))          // the alarm threshold bites
  }

  test("ev_attribution_linear: credit books close at exactly 1e6 per conversion") {
    import spark.implicits._
    val got = q("ev_attribution_linear").fn(spark, sf)
      .as[(String, Long, Long)].collect()
    val WeekNs = 7L * 86400 * 1000 * 1000 * 1000
    val ev = graft.model.Tables.events(spark, sf)
      .select($"event_type", $"user_id", $"ts", $"event_id")
      .as[(String, Long, Long, Long)].collect()
    val byUser = ev.groupBy(_._2)
    val credits = scala.collection.mutable.Map[String, (Long, Long)]()
    var nConv = 0L
    ev.filter(_._1 == "purchase").foreach { case (_, u, cts, _) =>
      nConv += 1
      val touches = byUser(u)
        .filter(e => (e._1 == "view" || e._1 == "click") &&
          e._3 < cts && cts - e._3 <= WeekNs)
        .sortBy(e => (-e._3, -e._4))
      if (touches.isEmpty) {
        val (c, p) = credits.getOrElse("(direct)", (0L, 0L))
        credits("(direct)") = (c + 1, p + 1000000L)
      } else {
        val n = touches.length
        touches.zipWithIndex.foreach { case (t, i) =>
          val ppm = 1000000L / n + (if (i + 1 <= 1000000L % n) 1L else 0L)
          val (c, p) = credits.getOrElse(t._1, (0L, 0L))
          credits(t._1) = (c + 1, p + ppm)
        }
      }
    }
    val naive = credits.toSeq.map { case (ch, (c, p)) => (ch, c, p) }.sortBy(_._1)
    assert(got.toSeq == naive)
    // the closed book: credit sums to exactly 1e6 per conversion
    assert(got.map(_._3).sum == 1000000L * nConv)
    assert(got.exists(_._1 == "(direct)")) // untouched-conversion arm fires
    assert(got.length == 3)                // view, click, (direct)
  }

  test("ta_textrank_keywords: naive weighted PageRank replay") {
    import spark.implicits._
    val got = q("ta_textrank_keywords").fn(spark, sf)
      .as[(String, Long)].collect()
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"text").as[String].collect()
    val w = scala.collection.mutable.Map[(String, String), Long]()
    docs.foreach { text =>
      val t = text.split(" ", -1)
      t.sliding(2).filter(p => p.length == 2 && p(0) != p(1)).foreach { p =>
        val key = if (p(0) < p(1)) (p(0), p(1)) else (p(1), p(0))
        w(key) = w.getOrElse(key, 0L) + 1
      }
    }
    val sym = w.toSeq.flatMap { case ((u, v), c) => Seq((u, v, c), (v, u, c)) }
    val strength = sym.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var pr: Map[String, Long] = strength.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val in = scala.collection.mutable.Map[String, Long]()
      sym.foreach { case (u, v, c) =>
        in(v) = in.getOrElse(v, 0L) + (pr(u) * c) / strength(u)
      }
      pr = in.map { case (n, s) => n -> (150000L + (85 * s) / 100) }.toMap
    }
    val naive = pr.toSeq.sortBy { case (t, s) => (-s, t) }.take(20)
    assert(got.toSeq == naive)
  }

  test("sim_pca_power: BigInt replay of 3 iterations from the gated gram output") {
    import spark.implicits._
    val got = q("sim_pca_power").fn(spark, sf).as[(Long, Long)].collect()
    assert(got.length == 64)
    assert(got.map(r => math.abs(r._2)).max == 1000000L) // ∞-norm contract
    val gram = q("sim_gram_matrix").fn(spark, sf)
      .as[(Long, Long, Long)].collect()
    val g = scala.collection.mutable.Map[(Long, Long), BigInt]()
    gram.foreach { case (i, j, v) => g((i, j)) = BigInt(v); g((j, i)) = BigInt(v) }
    var x: Map[Long, BigInt] = (1L to 64L).map(_ -> BigInt(1000000)).toMap
    for (_ <- 1 to 3) {
      val y = (1L to 64L).map { i =>
        i -> (1L to 64L).map(j => g.getOrElse((i, j), BigInt(0)) * x(j)).sum
      }.toMap
      val mx = y.values.map(_.abs).max
      x = y.map { case (k, v) => k -> v.sign * ((v.abs * 1000000) / mx) }
    }
    assert(got.toSeq.sortBy(_._1) ==
      x.toSeq.sortBy(_._1).map { case (k, v) => (k, v.toLong) })
  }

  test("geo_dbscan_core: unblocked naive classification; all classes populated") {
    import spark.implicits._
    val got = q("geo_dbscan_core").fn(spark, sf)
      .as[(Long, Long, String)].collect()
    val pts = GeoQueries.SpatialGrid.pointsWithCell(spark, sf)
      .select($"c_custkey", $"c_layer", $"px", $"py")
      .as[(Long, Long, Double, Double)].collect()
    val byLayer = pts.groupBy(_._2)
    val nbrs = pts.map { p =>
      p._1 -> byLayer(p._2).count(o => o._1 != p._1 &&
        (p._3 - o._3) * (p._3 - o._3) + (p._4 - o._4) * (p._4 - o._4) <= 64)
    }.toMap
    val core = nbrs.filter(_._2 >= 4).keySet
    val naive = pts.map { p =>
      val n = nbrs(p._1).toLong
      val cls =
        if (n >= 4) "core"
        else if (byLayer(p._2).exists(o => core(o._1) && o._1 != p._1 &&
          (p._3 - o._3) * (p._3 - o._3) + (p._4 - o._4) * (p._4 - o._4) <= 64))
          "border"
        else "noise"
      (p._1, n, cls)
    }.sortBy(_._1)
    assert(got.toSeq == naive.toSeq)
    assert(Set("core", "border", "noise").subsetOf(got.map(_._3).toSet))
  }
}
