package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Round-11 parity gates for the graph kernels: the oriented
  * closed-wedge triangle count, and the link-prediction EXACT path
  * that the round's skew analysis kept (the heavy-hitter refinement
  * was measured infeasible — probes/round11_linkpred_skew.json) —
  * each replayed against an independent in-memory implementation,
  * the Round9/10OpsSpec discipline.
  */
class Round11OpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  /** Naive in-memory top-10 co-purchase graph (the Round10OpsSpec
    * replay): baskets → weighted pairs → per-node rank by (w desc, v)
    * → canonical distinct edges.
    */
  private def naiveKept(): Set[(Long, Long)] = {
    import spark.implicits._
    val li = graft.model.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect()
    val baskets = li.groupBy(_._1).values.map(_.map(_._2).distinct.sorted)
    val w = scala.collection.mutable.Map[(Long, Long), Long]()
    for (b <- baskets; i <- b.indices; j <- (i + 1) until b.length)
      w((b(i), b(j))) = w.getOrElse((b(i), b(j)), 0L) + 1
    val sym = w.toSeq.flatMap { case ((u, v), c) => Seq((u, v, c), (v, u, c)) }
    sym.groupBy(_._1).iterator.flatMap { case (_, es) =>
      es.sortBy(e => (-e._3, e._2)).take(10)
    }.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
  }

  test("link-predict exact path replays the naive top-100 wedge ranking") {
    // The round-11 skew analysis kept the exact Σ deg² pair aggregate
    // (probes/round11_linkpred_skew.json); this pins that exact path
    // against an independent all-pairs in-memory replay: common
    // neighbors on the kept graph, minus existing edges, ranked by
    // (cn desc, a, c), decorated with exact-integer Jaccard ppm.
    val kept = naiveKept()
    val adj = kept.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cn = scala.collection.mutable.Map[(Long, Long), Long]()
    for ((_, ns) <- adj; s = ns.toSeq.sorted; i <- s.indices;
         j <- (i + 1) until s.length)
      cn((s(i), s(j))) = cn.getOrElse((s(i), s(j)), 0L) + 1
    val expect = cn.toSeq
      .filter { case ((a, c), _) => !kept.contains((a, c)) }
      .sortBy { case ((a, c), n) => (-n, a, c) }.take(100)
      .map { case ((a, c), n) =>
        val jac = n * 1000000 / (adj(a).size + adj(c).size - n)
        s"[$a,$c,$n,$jac]"
      }
    val got = q("gr_link_predict").fn(spark, sf)
      .collect().map(_.toString).toSeq
    assert(got == expect,
      s"link-predict diverges from the naive replay:\n" +
        s"got    ${got.take(5).mkString(" ")}…\n" +
        s"expect ${expect.take(5).mkString(" ")}…")
  }

  test("oriented closed-wedge count replays the naive triangle count") {
    val kept = naiveKept()
    val adj = kept.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // naive count: canonical u < v < w with both closing edges kept
    val naiveTriangles = kept.toSeq.map { case (u, v) =>
      (adj(u) & adj(v)).count(_ > v).toLong
    }.sum
    val naiveNodes = adj.size.toLong
    val naiveEdges = kept.size.toLong
    val got = q("gr_triangle_count").fn(spark, sf).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
      ((naiveNodes, naiveEdges, naiveTriangles)),
      s"oriented triangle count diverges from the naive replay: got $got, " +
        s"expect [$naiveNodes,$naiveEdges,$naiveTriangles]")
  }
}
