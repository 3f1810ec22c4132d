package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-8 additions. Each query is checked
  * against an independently-computed baseline over the same raw rows
  * (the oracle gate hashes values; these fail with a value diff
  * instead, and pin properties the hash can't express — recall floors,
  * cross-formulation agreement).
  */
class Round7fOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  // ---- td_incremental_dedup vs the full-corpus pair formulation ----
  //
  // The incremental query finds candidates with a probe-side join
  // (batch bands vs index bands); td_minhash_jaccard_verify finds them
  // with in-bucket pair enumeration. The Scaladoc claims a bijection
  // between the two candidate sets restricted to batch-touching pairs
  // — this spec recomputes the incremental decision FROM the other
  // formulation's output and requires identical keep/drop rows.
  test("td_incremental_dedup agrees with the bucket-pair formulation") {
    import spark.implicits._
    val got = q("td_incremental_dedup").fn(spark, sf)
      .as[(Long, Long, String)].collect().toSeq

    val verified = q("td_minhash_jaccard_verify").fn(spark, sf)
      .as[(Long, Long, Long)].collect() // (doc1, doc2, jaccard_e9)
    val dupCounts = verified
      .filter { case (d1, d2, j) => (d1 % 5 == 0 || d2 % 5 == 0) && j >= 800000000L }
      .map { case (d1, d2, _) => if (d2 % 5 == 0) d2 else d1 }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val batchIds = graft.model.Tables.documents(spark, sf)
      .select($"doc_id").as[Long].collect().filter(_ % 5 == 0).sorted
    val expected = batchIds.map { id =>
      val n = dupCounts.getOrElse(id, 0L)
      (id, n, if (n > 0) "drop" else "keep")
    }.toSeq
    assert(got == expected)
    // the synthetic corpus must actually exercise the drop path
    assert(got.exists(_._3 == "drop"), "fixture has no batch duplicates")
    assert(got.exists(_._3 == "keep"))
  }

  // ---- sim_sq_topk: int8 ADC shortlist recall vs exact L2 ----

  test("sim_sq_topk finds the exact L2 top-10 (shortlist recall)") {
    import graft.functions.exprs.sq_dist_e9
    import spark.implicits._
    val emb = graft.model.Tables.embeddings(spark, sf)
    val qe = emb.filter($"vec_id" === 0).select($"embedding")
      .as[Seq[Float]].head().toArray
    val exact = emb.filter($"vec_id" =!= 0)
      .select($"vec_id", sq_dist_e9($"embedding", typedLit(qe.toSeq), 0).as("d"))
      .orderBy($"d", $"vec_id").limit(10)
      .as[(Long, Long)].collect()
    val got = q("sim_sq_topk").fn(spark, sf)
      .as[(Long, Long, Long)].collect()
    // returned ordering is ascending exact distance
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.toSeq)
    val recall = got.map(_._1).toSet
      .intersect(exact.map(_._1).toSet).size
    // 8-bit-per-dim quantization with a 3x shortlist: measured 10/10
    // at sf0.01; the floor pins against silent ADC regressions while
    // tolerating one boundary swap on other corpora.
    assert(recall >= 9, s"SQ shortlist recall@10 = $recall/10")
  }

  // ---- ta_hashed_classifier: in-row fold invariants ----

  test("ta_hashed_classifier feature counts and weight bounds") {
    import spark.implicits._
    val got = q("ta_hashed_classifier").fn(spark, sf)
      .as[(Long, Long, Long, String)].collect()
    val words = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", size(split($"text", " ")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got.length == words.size) // every doc audited, <2-word ones too
    got.foreach { case (id, nFeats, wSum, action) =>
      assert(nFeats == math.max(words(id) - 1, 0L))
      assert(math.abs(wSum) <= 500L * nFeats)
      assert(action == (if (wSum >= 0) "keep" else "flag"))
    }
    // the +-500 weight range must actually produce both labels
    assert(got.exists(_._4 == "flag") && got.exists(_._4 == "keep"))
  }

  // ---- pipe_drop_audit: stage histogram vs independent counts ----

  test("pipe_drop_audit labels every doc; exact-dup count is exact") {
    import spark.implicits._
    val got = q("pipe_drop_audit").fn(spark, sf)
      .as[(Long, String)].collect()
    val docs = graft.model.Tables.documents(spark, sf)
    val nDocs = docs.count()
    val nDistinct = docs.select(md5($"text")).distinct().count()
    assert(got.length == nDocs)
    val hist = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    // first-fail-wins: exact_dup outranks everything, so its count is
    // exactly (docs - distinct texts) regardless of the later stages
    assert(hist.getOrElse("exact_dup", 0L) == nDocs - nDistinct)
    // near_dup labels only non-exact-dup cluster non-representatives
    val reps = q("td_dedup_clusters").fn(spark, sf)
      .as[(Long, Long)].collect().filter { case (id, rep) => id != rep }
      .map(_._1).toSet
    got.filter(_._2 == "near_dup").foreach { case (id, _) =>
      assert(reps.contains(id), s"doc $id labeled near_dup without a cluster")
    }
    assert(hist.contains("kept"))
  }
}
