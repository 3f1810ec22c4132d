package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch seven: a full naive
  * extractive-summary replay (rarity scores, argmax with earliest-line
  * ties) and the assortativity power sums re-derived with BigInt.
  */
class Round7oOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  test("ta_extractive_summary: naive rarity-salience replay; ties to earliest line") {
    import spark.implicits._
    val got = q("ta_extractive_summary").fn(spark, sf)
      .as[(Long, Long, String, Long)].collect()
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val nDocs = docs.length.toLong
    val df = scala.collection.mutable.Map[String, Long]()
    docs.foreach(_._2.split(" ", -1).distinct
      .foreach(w => df(w) = df.getOrElse(w, 0L) + 1))
    val rarity = df.keys.map(w => w -> nDocs * 1000 / df(w)).toMap
    val naive = docs.sortBy(_._1).map { case (id, text) =>
      val lines = text.split(" ", -1).grouped(10).toArray
      val best = lines.zipWithIndex
        .map { case (l, i) => (i.toLong, l.mkString(" "), l.map(rarity).sum) }
        .maxBy { case (i, _, sc) => (sc, -i) }
      (id, best._1, best._2, best._3)
    }
    assert(got.toSeq == naive.toSeq)
    assert(got.exists(_._2 > 0)) // the winner is not always line 0
  }

  test("sim_mmr_select: greedy replay over the gated cosine kernel; diversity bites") {
    import spark.implicits._
    import graft.functions.exprs.cosine_e9
    val got = q("sim_mmr_select").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val emb = graft.util.Cols.fanout(graft.model.Tables.embeddings(spark, sf))
    val q0 = emb.filter($"vec_id" === 0).select($"embedding".as("qe"))
    val rel = emb.filter($"vec_id" =!= 0).crossJoin(broadcast(q0))
      .select($"vec_id", cosine_e9($"embedding", $"qe"))
      .as[(Long, Long)].collect().toMap
    // pairwise sims of every candidate vs the 5 selected, via the
    // same (separately spec'd) kernel — the GREEDY logic and penalty
    // arithmetic are what this test re-derives
    val selIds = got.map(_._2).toSeq
    val sel = emb.filter($"vec_id".isin(selIds: _*))
      .select($"vec_id".as("sid"), $"embedding".as("se"))
    val sims = emb.filter($"vec_id" =!= 0).crossJoin(broadcast(sel))
      .select($"vec_id", $"sid", cosine_e9($"embedding", $"se"))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    for (rank <- 1 to 5) {
      val chosen = picked.map(_._2).toSet
      val best = rel.keys.filterNot(chosen).map { v =>
        val mmr =
          if (picked.isEmpty) rel(v)
          else {
            val ms = picked.map(p => sims(v)(p._2)).max
            rel(v) - ms.sign * (ms.abs / 2)
          }
        (v, rel(v), mmr)
      }.minBy { case (v, _, m) => (-m, v) }
      picked += ((rank.toLong, best._1, best._2, best._3))
    }
    assert(got.toSeq == picked.toSeq)
    // diversity bites: the selection order differs from plain top-k
    val topk = rel.toSeq.sortBy { case (v, r) => (-r, v) }.take(5).map(_._1)
    assert(got.map(_._2).toSeq != topk)
  }

  test("gr_assortativity: BigInt power-sum replay over the kept graph") {
    import spark.implicits._
    val Seq(got) = q("gr_assortativity").fn(spark, sf)
      // published surface is BIGINT-only (round 8: the decimal128
      // num/den intermediates stay internal); the BigInt replay below
      // still checks num/den exactly via the r_milli identity
      .selectExpr("m_directed", "s_xy", "s_x", "s_x2", "r_milli")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // re-derive the kept graph the same way as Round7kOpsSpec
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
    val deg = scala.collection.mutable.Map[Long, Long]()
    kept.foreach { case (u, v) =>
      deg(u) = deg.getOrElse(u, 0L) + 1; deg(v) = deg.getOrElse(v, 0L) + 1
    }
    val dir = kept.toSeq.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val m = BigInt(dir.length)
    val sxy = dir.map { case (u, v) => BigInt(deg(u)) * deg(v) }.sum
    val sx = dir.map { case (u, _) => BigInt(deg(u)) }.sum
    val sx2 = dir.map { case (u, _) => BigInt(deg(u)) * deg(u) }.sum
    val num = m * sxy - sx * sx
    val den = m * sx2 - sx * sx
    val rMilli = num.sign * ((num.abs * 1000) / den)
    assert((got._1, got._2, got._3, got._4) ==
      (m.toLong, sxy.toLong, sx.toLong, sx2.toLong))
    assert(got._5 == rMilli.toLong)
    assert(got._5 >= -1000 && got._5 <= 1000 && got._5 != 0)
  }
}
