package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch nine: the reconciliation
  * ladder replayed in exact Long arithmetic over the gated cents
  * kernel, the Neyman allocation re-derived end to end with BigInt
  * (exact isqrt included), and the drift cosine bounded against a
  * pure-double centroid replay.
  */
class Round7qOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  test("qa_reconciliation: ladder replayed in Long over the gated cents kernel") {
    import spark.implicits._
    import graft.util.Cols.cents
    val got = q("qa_reconciliation").fn(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    // cents come FROM the (separately gated) kernel; the ladder,
    // first-match-wins order, and ppm integer math are what this
    // test re-derives.
    val oc = graft.model.Tables.orders(spark, sf)
      .select($"o_orderkey", cents($"o_totalprice"))
      .as[(Long, Long)].collect().toMap
    val lc = graft.model.Tables.lineitem(spark, sf)
      .select($"l_orderkey", cents($"l_extendedprice"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val buckets = oc.toSeq.map { case (k, o) =>
      lc.get(k) match {
        case None                                   => "orphan"
        case Some(l) if (o - l).abs <= 1            => "exact"
        case Some(l) if (o - l).abs * 100 <= o      => "within_1pct"
        case Some(l) if (o - l).abs * 10 <= o       => "within_10pct"
        case Some(_)                                => "mismatch"
      }
    }
    val n = oc.size.toLong
    val naive = buckets.groupBy(identity).toSeq
      .map { case (b, xs) => (b, xs.size.toLong, xs.size.toLong * 1000000L / n) }
      .sortBy(_._1)
    assert(got == naive)
    assert(got.map(_._2).sum == n)          // rungs partition all orders
    assert(got.length >= 3)                 // the synthetic warehouse
    assert(got.exists(_._1 == "mismatch"))  // genuinely fails to reconcile
  }

  test("td_neyman_alloc: exact BigInt replay, isqrt and largest remainder included") {
    import spark.implicits._
    val got = q("td_neyman_alloc").fn(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"source", $"n_chars".cast("long"))
      .as[(String, Long)].collect()
    def isqrt(v: BigInt): BigInt = {
      var lo = BigInt(0); var hi = v + 1
      while (hi - lo > 1) {
        val mid = (lo + hi) / 2
        if (mid * mid <= v) lo = mid else hi = mid
      }
      lo
    }
    val strata = docs.groupBy(_._1).toSeq.map { case (src, xs) =>
      val nh = BigInt(xs.length)
      val sx = xs.map(x => BigInt(x._2)).sum
      val sx2 = xs.map(x => BigInt(x._2) * x._2).sum
      val varH = (nh * sx2 - sx * sx) / (nh * nh)
      (src, nh, varH, nh * isqrt(varH))
    }
    val tw = strata.map(_._4).sum
    val floors = strata.map { case (src, nh, varH, w) =>
      (src, nh, varH, w, (BigInt(1000) * w) / tw, (BigInt(1000) * w) % tw)
    }
    val shortfall = 1000L - floors.map(_._5.toLong).sum
    val bump = floors.sortBy { case (src, _, _, _, _, rem) => (-rem, src) }
      .take(shortfall.toInt).map(_._1).toSet
    val naive = floors.map { case (src, nh, varH, w, fl, _) =>
      (src, nh.toLong, varH.toLong, w.toLong,
        fl.toLong + (if (bump(src)) 1L else 0L))
    }.sortBy(_._1)
    assert(got == naive)
    assert(got.map(_._5).sum == 1000L)      // largest remainder: exact budget
    // Neyman ≠ proportional here: variance differences move the split
    val twN = strata.map(_._2).sum
    val propFloors = strata.map { case (src, nh, _, _) =>
      (src, (BigInt(1000) * nh) / twN, (BigInt(1000) * nh) % twN)
    }
    val propShort = 1000L - propFloors.map(_._2.toLong).sum
    val propBump = propFloors.sortBy { case (src, _, rem) => (-rem, src) }
      .take(propShort.toInt).map(_._1).toSet
    val prop = propFloors.map { case (src, fl, _) =>
      src -> (fl.toLong + (if (propBump(src)) 1L else 0L))
    }.toMap
    assert(got.exists { case (src, _, _, _, a) => prop(src) != a })
  }

  test("sim_embedding_drift: pure-double centroid replay bounds the decimal path") {
    import spark.implicits._
    val Seq((dims, gotE9)) = q("sim_embedding_drift").fn(spark, sf)
      .as[(Long, Long)].collect().toSeq
    assert(dims == 64L)
    val emb = graft.model.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    val a = new Array[Double](64); val b = new Array[Double](64)
    emb.foreach { case (id, v) =>
      val t = if (id % 2 == 0) a else b
      var k = 0; while (k < 64) { t(k) += v(k).toDouble; k += 1 }
    }
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val na = a.map(x => x * x).sum
    val nb = b.map(x => x * x).sum
    val naiveE9 = math.round(dot / math.sqrt(na * nb) * 1e9)
    assert((gotE9 - naiveE9).abs <= 50L)
    assert(gotE9.abs <= 1000000000L)
  }
}
