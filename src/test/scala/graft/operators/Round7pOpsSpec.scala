package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch eight: the kNN graph
  * reconciled against the gated LSH-ANN (the probe sample must get
  * identical neighbours from both), and tokenizer fertility
  * reconciled against the gated BPE-encode per-doc accounting.
  */
class Round7pOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  test("sim_knn_graph: multi-probe top-3 replays from the bucket columns") {
    import spark.implicits._
    import graft.functions.exprs.{cosine_e9, lsh_bucket, lsh_bucket_flip}
    val graph = q("sim_knn_graph").fn(spark, sf)
      .as[(Long, Int, Long, Long)].collect()
    // independent replay: score every multi-probe candidate pair with
    // the (separately KernelSpec-gated) kernels, then take top-3 per
    // node by an IN-MEMORY sort instead of the operator's window
    val b = graft.util.Cols.fanout(graft.model.Tables.embeddings(spark, sf))
      .select($"vec_id", lsh_bucket($"embedding").as("b1"),
        lsh_bucket_flip($"embedding").as("b2"), $"embedding")
    val pairs = b.select($"vec_id", explode(array($"b1", $"b2")).as("pb"),
        $"embedding".as("pe"))
      .join(b.select($"vec_id".as("cand_id"), $"b1".as("pb"), $"embedding"), Seq("pb"))
      .filter($"cand_id" =!= $"vec_id")
      .select($"vec_id", $"cand_id", cosine_e9($"pe", $"embedding").as("c"))
      .as[(Long, Long, Long)].collect()
    val expected = pairs.groupBy(_._1).toSeq.flatMap { case (v, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
        .map { case ((_, cand, c), i) => (v, i + 1, cand, c) }
    }.sortBy(r => (r._1, r._2))
    assert(graph.toSeq == expected)
    // graph-wide sanity: ranks are 1..3 per node, cosines descend
    graph.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length))
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-_).toSeq)
    }
    // multi-probe point: every single-probe ANN probe keeps rank-1
    // quality — its graph candidate pool is a superset, so the graph's
    // per-probe best cosine can only match or beat the single-probe
    // top pick (verified implicitly by the exact replay above); and
    // coverage must dominate the single-probe bucket law:
    val cov = q("sim_knn_edge_coverage").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(cov._3 >= cov._2) // covered_multi >= covered_single
    assert(graph.map(_._1).distinct.length == cov._3.toInt)
  }

  test("td_tokenizer_fertility: per-lang roll-up of the gated BPE accounting") {
    import spark.implicits._
    val got = q("td_tokenizer_fertility").fn(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    // reconcile against ta_bpe_encode's per-doc (tokens, pieces)
    val byDoc = q("ta_bpe_encode").fn(spark, sf)
      .select($"doc_id", $"n_tokens", $"n_bpe_pieces")
      .as[(Long, Long, Long)].collect()
    val langs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val naive = byDoc.groupBy(r => langs(r._1)).toSeq.sortBy(_._1)
      .map { case (lang, rows) =>
        val t = rows.map(_._2).sum; val p = rows.map(_._3).sum
        (lang, t, p, p * 1000000 / t)
      }
    assert(got.toSeq == naive)
    assert(got.forall(_._4 > 1000000)) // fertility > 1 piece per word
  }
}
