package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-7 additions, each checked against an
  * independently-computed naive baseline over the same raw rows (the
  * oracle gate hashes values; these fail with a value diff instead).
  */
class Round7eOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  // ---- td_cluster_canonical: policy vs a naive per-cluster argmax ----

  test("td_cluster_canonical keeps the longest doc (min-id ties) per cluster") {
    import spark.implicits._
    val got = q("td_cluster_canonical").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()

    val clusters = q("td_dedup_clusters").fn(spark, sf)
      .as[(Long, Long)].collect() // (doc_id, cluster_rep)
    val nWords = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split($"text", " ")).cast("long"))
      .as[(Long, Long)].collect().toMap

    val naive = clusters.groupBy(_._2).map { case (rep, members) =>
      val docs = members.map(_._1)
      val canonical = docs.minBy(d => (-nWords(d), d))
      val kept = nWords(canonical)
      val dropped = docs.filterNot(_ == canonical).map(nWords).sum
      rep -> ((canonical, docs.length.toLong, kept, dropped))
    }
    assert(got.length == naive.size, s"cluster count ${got.length} vs ${naive.size}")
    got.foreach { case (rep, canon, n, kept, dropped) =>
      val (ec, en, ek, ed) = naive(rep)
      assert(canon == ec && n == en && kept == ek && dropped == ed,
        s"cluster $rep: engine=($canon,$n,$kept,$dropped) naive=($ec,$en,$ek,$ed)")
    }
    // every cluster keeps exactly one doc and drops the rest
    got.foreach { case (rep, _, n, _, _) => assert(n >= 2 || rep >= 0) }
  }

  // ---- td_token_budget_alloc: Hamilton's method exactness ----

  test("td_token_budget_alloc is the exact largest-remainder allocation") {
    import spark.implicits._
    val B = 100000L
    val got = q("td_token_budget_alloc").fn(spark, sf)
      .as[(String, Long, Long, Long)].collect()

    val counts = graft.model.Tables.documents(spark, sf)
      .select($"source", org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split($"text", " ")).cast("long"))
      .as[(String, Long)].collect()
      .groupBy(_._1).map { case (s0, v) => s0 -> v.map(_._2).sum }
    val total = counts.values.sum
    val floors = counts.map { case (s0, n) => s0 -> (B * n / total) }
    val rems = counts.map { case (s0, n) => s0 -> (B * n - (B * n / total) * total) }
    val shortfall = B - floors.values.sum
    val extras = rems.toSeq.sortBy { case (s0, r) => (-r, s0) }
      .take(shortfall.toInt).map(_._1).toSet

    assert(got.length == counts.size)
    got.foreach { case (s0, n, fl, alloc) =>
      assert(n == counts(s0), s"$s0 tokens")
      assert(fl == floors(s0), s"$s0 floor")
      val expected = floors(s0) + (if (extras(s0)) 1L else 0L)
      assert(alloc == expected, s"$s0: engine=$alloc naive=$expected")
    }
    // the defining invariants: exact sum, and alloc ∈ {floor, floor+1}
    assert(got.map(_._4).sum == B, "allocations must sum to the budget exactly")
    got.foreach { case (s0, _, fl, alloc) =>
      assert(alloc == fl || alloc == fl + 1, s"$s0 not within 1 of floor")
    }
  }
}
