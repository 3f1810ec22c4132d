package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 additions: naive in-memory
  * re-derivations (C4 gate, collocation lift, CDC chunking, the A/B
  * gate, Benford) and cross-entry reconciliation (modularity vs the
  * separately-gated LPA labels), plus fixture-coverage asserts so no
  * rule or branch is vacuous.
  */
class Round7iOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  private def docs: Array[(Long, String)] = {
    import spark.implicits._
    graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
  }

  test("ta_c4_rules: naive line-chunk re-derivation; every rule fires both ways") {
    import spark.implicits._
    val got = q("ta_c4_rules").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    val naive = docs.sortBy(_._1).map { case (id, text) =>
      val w = text.split(" ", -1)
      val lines = w.grouped(10).toArray
      val kept = lines.filter(l =>
        l.length >= 3 && (l.last.endsWith("e") || l.last.endsWith("t")))
      val banned = if (w.contains("vector")) 1L else 0L
      (id, w.length.toLong, lines.length.toLong, kept.length.toLong,
        kept.map(_.length).sum.toLong, banned,
        if (kept.length >= 3 && banned == 0) 1L else 0L)
    }
    assert(got.toSeq == naive.toSeq)
    // coverage: both keep outcomes, both banned outcomes, and at
    // least one doc with a dropped line (n_kept < n_lines)
    assert(got.exists(_._7 == 1) && got.exists(_._7 == 0))
    assert(got.exists(_._6 == 1) && got.exists(_._6 == 0))
    assert(got.exists(r => r._4 < r._3))
  }

  test("ta_collocations: naive lift agrees; min-count and tie order hold") {
    import spark.implicits._
    val got = q("ta_collocations").fn(spark, sf)
      .as[(String, String, Long, Long, Long, Long)].collect()
    val uni = scala.collection.mutable.Map[String, Long]()
    val bi = scala.collection.mutable.Map[(String, String), Long]()
    docs.foreach { case (_, text) =>
      val w = text.split(" ", -1)
      w.foreach(t => uni(t) = uni.getOrElse(t, 0L) + 1)
      w.sliding(2).filter(_.length == 2)
        .foreach(p => bi((p(0), p(1))) = bi.getOrElse((p(0), p(1)), 0L) + 1)
    }
    val nb = bi.values.sum
    val naive = bi.toSeq.filter(_._2 >= 5).map { case ((x, y), cxy) =>
      val lift = (BigInt(cxy) * nb * 1000000) / (BigInt(uni(x)) * uni(y))
      (x, y, cxy, uni(x), uni(y), lift.toLong)
    }.sortBy { case (x, y, _, _, _, l) => (-l, x, y) }.take(50)
    assert(got.toSeq == naive)
    assert(got.length == 50 && got.forall(_._3 >= 5))
  }

  test("td_cdc_chunks: naive content-defined chunker agrees; chunks tile every doc") {
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def isBoundary(word: String): Boolean =
      java.lang.Long.parseLong(md5hex(word).take(4), 16) % 4 == 0
    val counts = scala.collection.mutable.Map[String, Long]()
    var totalWords = 0L
    docs.foreach { case (_, text) =>
      val w = text.split(" ", -1)
      totalWords += w.length
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      val cur = scala.collection.mutable.ArrayBuffer[String]()
      w.foreach { t =>
        cur += t
        if (isBoundary(t)) { buf += cur.mkString(" "); cur.clear() }
      }
      if (cur.nonEmpty) buf += cur.mkString(" ")
      // tiling invariant: chunks reassemble the doc exactly
      assert(buf.mkString(" ") == text)
      buf.foreach(c => counts(c) = counts.getOrElse(c, 0L) + 1)
    }
    val naiveTop = counts.toSeq.filter(_._2 >= 2)
      .map { case (c, n) => (md5hex(c), n, c.length.toLong, (n - 1) * c.length) }
      .sortBy { case (h, _, _, saved) => (-saved, h) }.take(20)
    val naiveTotals = (counts.values.sum, counts.size.toLong,
      counts.map { case (c, n) => (n - 1) * c.length }.sum)
    val got = q("td_cdc_chunks").fn(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSeq == naiveTop)
    assert(got.forall(r => (r._5, r._6, r._7) == naiveTotals))
    assert(naiveTotals._1 > naiveTotals._2) // duplication actually exists
  }

  test("gr_modularity: full naive replay (sparsify, 3-round LPA, Q algebra)") {
    import spark.implicits._
    val mod = q("gr_modularity").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // naive replay: co-purchase pairs → weights → top-10 kept → LPA
    val li = graft.model.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val pairW = scala.collection.mutable.Map[(Long, Long), Long]()
    li.groupBy(_._1).values.foreach { rows =>
      val ps = rows.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length)
        pairW((ps(i), ps(j))) = pairW.getOrElse((ps(i), ps(j)), 0L) + 1
    }
    val symw = pairW.toSeq.flatMap { case ((u, v), w) => Seq((u, v, w), (v, u, w)) }
    val kept = symw.groupBy(_._1).values.flatMap { nbrs =>
      nbrs.sortBy { case (_, v, w) => (-w, v) }.take(10)
        .map { case (u, v, _) => (math.min(u, v), math.max(u, v)) }
    }.toSet
    val m = kept.size.toLong
    val adj = scala.collection.mutable.Map[Long, List[Long]]()
    kept.foreach { case (u, v) =>
      adj(u) = v :: adj.getOrElse(u, Nil); adj(v) = u :: adj.getOrElse(v, Nil)
    }
    var labels: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) labels = labels.map { case (n, own) =>
      val votes = scala.collection.mutable.Map[Long, Int]()
      (own :: adj(n).map(labels)).foreach(l => votes(l) = votes.getOrElse(l, 0) + 1)
      n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
    }
    val byLbl = labels.groupBy(_._2)
    val naive = byLbl.toSeq.map { case (lbl, members) =>
      val nodes = members.keySet
      val dc = nodes.toSeq.map(n => adj(n).length.toLong).sum
      val e = kept.count { case (u, v) => labels(u) == lbl && labels(v) == lbl }
      (lbl, nodes.size.toLong, e.toLong, dc, m, 4 * m * e - dc * dc)
    }.sortBy { case (lbl, _, _, _, _, qn) => (-qn, lbl) }
    assert(mod.toSeq == naive)
    assert(mod.map(_._2).sum == labels.size)  // communities partition V
    assert(mod.map(_._4).sum == 2 * m)        // degrees sum to 2m
    assert(mod.exists(_._2 > 1))              // real communities found
    assert(mod.exists(_._3 > 0))              // with intra edges
    assert(mod.exists(_._6 > 0))              // better-than-random exists
  }

  test("qa_ab_test_gate: BigInt re-derivation of the truncating arithmetic") {
    import spark.implicits._
    val got = q("qa_ab_test_gate").fn(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    val ev = graft.model.Tables.events(spark, sf)
      .select($"event_type", $"user_id", round($"value" * 100).cast("long"))
      .as[(String, Long, Long)].collect()
    val naive = ev.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rows) =>
      def stats(arm: Long) = {
        val vs = rows.filter(_._2 % 2 == arm).map(r => BigInt(r._3))
        (BigInt(vs.length), vs.sum, vs.map(v => v * v).sum)
      }
      val (na, sa, sa2) = stats(0); val (nb, sb, sb2) = stats(1)
      val meanA = sa * 1000000 / na; val meanB = sb * 1000000 / nb
      val varA = (na * sa2 - sa * sa) / (na * (na - 1))
      val varB = (nb * sb2 - sb * sb) / (nb * (nb - 1))
      val sig = if ((meanA - meanB) * (meanA - meanB) >
        4 * (varA / na + varB / nb) * BigInt("1000000000000")) 1L else 0L
      (t, na.toLong, nb.toLong, meanA.toLong, meanB.toLong,
        varA.toLong, varB.toLong, sig)
    }
    assert(got.toSeq == naive)
  }

  test("qa_benford: naive first-digit TVD agrees; domain laws hold") {
    import spark.implicits._
    val ben = Map(1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L,
      5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)
    val got = q("qa_benford").fn(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    val ev = graft.model.Tables.events(spark, sf)
      .select($"event_type", round($"value" * 100).cast("long"))
      .as[(String, Long)].collect()
    val naive = ev.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rows) =>
      val n = rows.length.toLong
      val cnt = rows.groupBy(_._2.toString.head.asDigit).view.mapValues(_.length.toLong)
      val devs = (1 to 9).map { d =>
        d -> math.abs(cnt.getOrElse(d, 0L) * 1000000 / n - ben(d))
      }
      val (wd, wdev) = devs.maxBy { case (d, v) => (v, -d) }
      (t, n, devs.map(_._2).sum / 2, wd.toLong, wdev)
    }
    assert(got.toSeq == naive)
    assert(got.forall(r => r._4 >= 1 && r._4 <= 9 && r._3 <= 1000000))
  }
}
