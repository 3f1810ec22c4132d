package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch twelve: arc elasticity and
  * HITS replayed in BigInt, and the Matryoshka recall logic replayed
  * driver-side over the (separately KernelSpec-gated) cosine kernel.
  */
class Round7tOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  test("qa_discount_elasticity: BigInt arc-elasticity replay over all tier pairs") {
    import spark.implicits._
    val got = q("qa_discount_elasticity").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val rows = graft.model.Tables.lineitem(spark, sf)
      .select(expr("CAST(round(l_discount * 100) AS BIGINT)"),
        expr("CAST(round(l_quantity) AS BIGINT)"))
      .as[(Long, Long)].collect()
    val tiers = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, xs) => (t, BigInt(xs.length), xs.map(x => BigInt(x._2)).sum) }
    val naive = tiers.zip(tiers.tail).collect {
      case ((t1, n1, s1), (t2, n2, s2)) if t2 == t1 + 1 =>
        val dq = s2 * n1 - s1 * n2
        val qsum = s2 * n1 + s1 * n2
        val e = (if (dq < 0) BigInt(1) else BigInt(-1)) *
          (dq.abs * (199 - 2 * t1) * 1000000 / qsum)
        (t1, t2, n1.toLong, n2.toLong, e.toLong)
    }
    assert(got == naive)
    assert(got.length == 10) // all 11 tiers present, 10 adjacent pairs
    assert(got.exists(_._5 < 0) && got.exists(_._5 > 0))
  }

  test("gr_hits: BigInt two-round replay; authority dominates indegree") {
    import spark.implicits._
    val got = q("gr_hits").fn(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val edges = graft.model.Tables.lineitem(spark, sf)
      .select($"l_partkey", $"l_suppkey").distinct()
      .as[(Long, Long)].collect()
    val a1 = edges.groupBy(_._2).view.mapValues(xs => BigInt(xs.length)).toMap
    val h1 = edges.groupBy(_._1).view
      .mapValues(_.map(e => a1(e._2)).sum).toMap
    val a2 = edges.groupBy(_._2).view
      .mapValues(_.map(e => h1(e._1)).sum).toMap
    val naive = a2.toSeq.map { case (v, s) => (v, a1(v).toLong, s.toLong) }
      .sortBy { case (v, _, s) => (-s, v) }.take(10)
    assert(got == naive)
    got.foreach { case (_, x1, x2) => assert(x2 >= x1) } // a2 ≥ indegree
  }

  test("sim_matryoshka_eval: recall logic replayed over the gated kernel") {
    import spark.implicits._
    import graft.functions.exprs.cosine_e9
    val got = q("sim_matryoshka_eval").fn(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val emb = graft.util.Cols.fanout(graft.model.Tables.embeddings(spark, sf))
    val probes = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("p"), $"embedding".as("pe"))
    val sims = emb.select($"vec_id".as("c"), $"embedding".as("ce"))
      .crossJoin(broadcast(probes)).filter($"c" =!= $"p")
      .select($"p", $"c",
        cosine_e9(slice($"pe", 1, 16), slice($"ce", 1, 16)),
        cosine_e9(slice($"pe", 1, 32), slice($"ce", 1, 32)),
        cosine_e9($"pe", $"ce"))
      .as[(Long, Long, Long, Long, Long)].collect()
    def top3(score: ((Long, Long, Long, Long, Long)) => Long): Set[(Long, Long)] =
      sims.groupBy(_._1).values.flatMap(
        _.sortBy(r => (-score(r), r._2)).take(3).map(r => (r._1, r._2))).toSet
    val truth = top3(_._5)
    val naive = Seq(
      (16L, top3(_._3)), (32L, top3(_._4)), (64L, top3(_._5))).map {
      case (p, s) =>
        val hits = (s & truth).size.toLong
        (p, hits, hits * 100 / 30)
    }
    assert(got == naive)
    assert(got.last == ((64L, 30L, 100L))) // the tautological control row
  }
}
