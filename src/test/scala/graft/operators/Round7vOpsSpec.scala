package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch fourteen: Burrows' Delta
  * (full BigInt stylometry replay, isqrt and sign-split included),
  * ship-lag quantiles (inverse-CDF replay per month), and the IDW
  * surface (3×3 gather replayed with integer weights).
  */
class Round7vOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  private def isqrt(v: BigInt): BigInt = {
    var lo = BigInt(0); var hi = v + 1
    while (hi - lo > 1) {
      val mid = (lo + hi) / 2
      if (mid * mid <= v) lo = mid else hi = mid
    }
    lo
  }

  test("ta_burrows_delta: full BigInt stylometry replay") {
    import spark.implicits._
    val got = q("ta_burrows_delta").fn(spark, sf)
      .as[(String, String, Long)].collect().toSeq
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"source", $"text").as[(String, String)].collect()
    val counts = scala.collection.mutable.Map[(String, String), Long]()
    docs.foreach { case (src, t) =>
      t.split(" ", -1).foreach(w =>
        counts((src, w)) = counts.getOrElse((src, w), 0L) + 1)
    }
    val totals = counts.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val top20 = counts.groupBy(_._1._2).view.mapValues(_.values.sum)
      .toSeq.sortBy { case (w, c) => (-c, w) }.take(20).map(_._1)
    val sources = totals.keys.toSeq.sorted
    val r = (for { s0 <- sources; w <- top20 } yield
      (s0, w) -> BigInt(counts.getOrElse((s0, w), 0L)) * 1000000 /
        totals(s0)).toMap
    val z = top20.flatMap { w =>
      val rs = sources.map(s0 => r((s0, w)))
      val ns = BigInt(sources.length)
      val sr = rs.sum
      val sr2 = rs.map(x => x * x).sum
      val varR = (ns * sr2 - sr * sr) / (ns * ns)
      val sigma = isqrt(varR)
      sources.map { s0 =>
        val num = r((s0, w)) * ns - sr
        val zz = if (sigma == 0) BigInt(0)
        else (if (num < 0) BigInt(-1) else BigInt(1)) *
          (num.abs * 1000 / (ns * sigma))
        (s0, w) -> zz
      }
    }.toMap
    val naive = (for {
      a <- sources; b <- sources if a < b
    } yield (a, b,
      (top20.map(w => (z((a, w)) - z((b, w))).abs).sum / 20).toLong))
      .sortBy { case (a, b, dlt) => (dlt, a, b) }.take(10)
    assert(got == naive)
    assert(got.map(_._3) == got.map(_._3).sorted)
  }

  test("qa_ship_lag_quantiles: per-month inverse-CDF replay") {
    import spark.implicits._
    val got = q("qa_ship_lag_quantiles").fn(spark, sf)
      .as[(Long, Int, Long, Long)].collect().toSeq
    val lags = graft.model.Tables.lineitem(spark, sf)
      .select($"l_orderkey",
        expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)"))
      .as[(Long, Long)].collect()
    val ords = graft.model.Tables.orders(spark, sf)
      .select($"o_orderkey",
        expr("CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)"),
        expr("CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)"))
      .as[(Long, Long, Long)].collect()
      .map(o => o._1 -> (o._2, o._3)).toMap
    val byYm = lags.map { case (ok, sd) =>
      val (od, ym) = ords(ok); (ym, sd - od)
    }.groupBy(_._1)
    val naive = byYm.toSeq.sortBy(_._1).flatMap { case (ym, xs) =>
      val sorted = xs.map(_._2).sorted; val n = sorted.length.toLong
      Seq(500, 950).map { p =>
        (ym, p, n, sorted(((p * n + 999) / 1000 - 1).toInt))
      }
    }
    assert(got == naive)
    got.grouped(2).foreach { case Seq(a, b) => assert(a._4 <= b._4) }
  }

  test("geo_idw_surface: 3x3 integer-weight gather replayed") {
    import spark.implicits._
    val got = q("geo_idw_surface").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val bal = graft.model.Tables.customer(spark, sf)
      .select($"c_custkey", round($"c_acctbal" * 100).cast("long"))
      .as[(Long, Long)].collect().toMap
    val pts = GeoQueries.SpatialGrid.pointsWithCell(spark, sf)
      .select($"c_custkey", $"cx", $"cy", $"px".cast("long"),
        $"py".cast("long"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (k, cx, cy, px, py) => (cx, cy, px, py, bal(k)) }
    val cells = pts.map(p => (p._1, p._2)).distinct
    val naive = cells.map { case (cx, cy) =>
      val nb = pts.filter(p =>
        (p._1 - cx).abs <= 1 && (p._2 - cy).abs <= 1)
      val ws = nb.map { case (_, _, px, py, v) =>
        val dx = px - (cx * 16 + 8); val dy = py - (cy * 16 + 8)
        (v, 1000000L / (dx * dx + dy * dy + 1))
      }
      val vw = ws.map { case (v, w) => BigInt(v) * w }.sum
      val sw = ws.map(x => BigInt(x._2)).sum
      val est = (if (vw < 0) BigInt(-1) else BigInt(1)) * (vw.abs / sw)
      (cx, cy, nb.length.toLong, est.toLong)
    }.sortBy(c => (c._1, c._2)).toSeq
    assert(got == naive)
    assert(got.forall(_._3 > 0))
  }
}
