package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Round-10 parity gates for the dual-path and rewritten graph
  * kernels. The round's main perf work created code paths the oracle
  * gate never executes at sf0.01 — coPurchaseKept's SIZED construction
  * and gr_modularity's ROBUST artifact path engage only at grown
  * scale — so this suite pins each against its small-scale twin by
  * passing the path to the builder, and replays the two rewrites
  * (degree-oriented triangle support, fused Katz hops) against independent in-memory
  * implementations, the Round9OpsSpec discipline.
  */
class Round10OpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("coPurchaseKept sized path is bit-identical to the lazy path") {
    // The sized path (packed pair keys, data-derived widths) only runs
    // at grown scale in production; build the kept edge set both ways
    // at sf0.01. Every consumer (truss support, clustering, link
    // prediction, triangles) is a deterministic function of that set.
    val name = "coPurchaseKept"
    val lazyRows = rows(GraphQueries.coPurchaseKept(spark, sf, sized = Some(false)))
    val sizedRows = rows(GraphQueries.coPurchaseKept(spark, sf, sized = Some(true)))
    assert(lazyRows.nonEmpty)
    assert(lazyRows == sizedRows,
      s"$name diverges between lazy and sized construction paths")
  }

  test("gr_modularity robust path is bit-identical to the lazy path") {
    val lazyRows = rows(GraphQueries.modularityOf(spark, sf, robust = Some(false)))
    val robust = rows(GraphQueries.modularityOf(spark, sf, robust = Some(true)))
    assert(lazyRows == robust,
      "gr_modularity diverges between lazy and robust artifact paths")
  }

  /** Naive in-memory top-10 co-purchase graph: baskets → weighted
    * pairs → per-node rank by (w desc, v) → canonical distinct edges.
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

  test("oriented triangle support replays the naive common-neighbor count") {
    val kept = naiveKept()
    val adj = kept.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // naive per-edge support: |N(u) ∩ N(v)| on the kept graph
    val hist = kept.toSeq
      .map { case (u, v) => (adj(u) & adj(v)).size.toLong }
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    val cum = hist.reverse
      .scanLeft(0L) { case (acc, (_, n)) => acc + n }.tail.reverse
    val expect = hist.zip(cum)
      .map { case ((s, n), c) => s"[$s,$n,$c]" }
    val got = q("gr_truss_support").fn(spark, sf)
      .collect().map(_.toString).toSeq
    assert(got == expect,
      s"oriented support histogram diverges from the naive replay:\n" +
        s"got    ${got.mkString(" ")}\nexpect ${expect.mkString(" ")}")
  }

  test("fused Katz hops replay the naive 3-hop attenuated sum") {
    import spark.implicits._
    val edges = graft.model.Tables.lineitem(spark, sf)
      .select(($"l_partkey" * 2).as("s"), ($"l_suppkey" * 2 + 1).as("d"))
      .as[(Long, Long)].collect().toSet
    val out = edges.toSeq.flatMap { case (s, d) => Seq(s -> d, d -> s) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = out.keySet
    var x: Map[Long, Long] = nodes.iterator.map(_ -> 1000000L).toMap
    var katz: Map[Long, Long] = nodes.iterator.map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      val next = scala.collection.mutable.Map[Long, Long]()
      for ((u, xs) <- x; v <- out.getOrElse(u, Seq.empty))
        next(v) = next.getOrElse(v, 0L) + xs / 10
      x = next.toMap
      katz = katz.map { case (n, k) => n -> (k + x.getOrElse(n, 0L)) }
    }
    val expect = katz.toSeq.sortBy { case (n, k) => (-k, n) }.take(20)
      .map { case (n, k) => s"[$n,$k]" }
    val got = q("gr_katz_centrality").fn(spark, sf)
      .collect().map(_.toString).toSeq
    assert(got == expect,
      s"fused Katz diverges from the naive replay:\n" +
        s"got    ${got.mkString(" ")}\nexpect ${expect.mkString(" ")}")
  }
}
