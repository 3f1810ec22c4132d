package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-9 additions. Each pins a property the
  * driver's hash gate can't express: cross-formulation agreement
  * (gram diagonal vs an independent squared-norm pass, IVM merge vs
  * the unsplit aggregate), full dominance verification for the
  * skyline, metric-domain laws for the ANN eval, and fixture coverage
  * (every Gopher rule fires in both directions, every k-anonymity
  * generalization level is populated).
  */
class Round7hOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  test("sim_gram_matrix: upper triangle, diagonal matches independent norms") {
    import spark.implicits._
    val g = q("sim_gram_matrix").fn(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(g.length == 64 * 65 / 2)
    assert(g.forall { case (i, j, _) => i >= 1 && j >= i && j <= 64 })
    // independent diagonal: posexplode formulation, double sums (the
    // entry sums DECIMAL; agreement within 1 ulp-of-e9 is the check)
    val diag = graft.model.Tables.embeddings(spark, sf)
      .select(posexplode($"embedding").as(Seq("k", "v")))
      .groupBy($"k")
      .agg(sum($"v".cast("double") * $"v".cast("double")).as("nrm"))
      .select(($"k" + 1).cast("long"), round($"nrm" * 1e9).cast("long"))
      .as[(Long, Long)].collect().toMap
    val fromEntry = g.collect { case (i, j, v) if i == j => i -> v }.toMap
    assert(fromEntry.keySet == diag.keySet)
    fromEntry.foreach { case (i, v) =>
      assert(math.abs(v - diag(i)) <= 1L, s"dim $i: $v vs ${diag(i)}")
    }
  }

  test("sim_recall_mrr_eval: metric domain laws + agreement with ANN output") {
    import spark.implicits._
    val m = q("sim_recall_mrr_eval").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect() // probe, hits, recall, mrr
    assert(m.nonEmpty && m.length <= 10)
    m.foreach { case (_, hits, recall, mrr) =>
      assert(hits >= 0 && hits <= 3)
      assert(recall == hits * 100 / 3)
      assert(Set(0L, 333L, 500L, 1000L).contains(mrr))
      // a hit implies a reciprocal rank; no hits implies mrr 0
      assert((hits > 0) == (mrr > 0))
    }
    // LSH-ANN on this fixture must find at least one true neighbour
    assert(m.exists(_._2 > 0), "eval fixture: ANN found no true top-3 member")
    // hits bounded by the number of ANN rows for that probe
    val annRows = q("sim_lsh_ann_topk").fn(spark, sf)
      .groupBy($"probe_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    m.foreach { case (p, hits, _, _) => assert(hits <= annRows(p)) }
  }

  test("ta_gopher_rules: keep is the AND; every rule fires both ways") {
    import spark.implicits._
    val r = q("ta_gopher_rules").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(r.length == 500)
    r.foreach { case (_, _, a, b, c, dd, e, keep) =>
      assert(keep == a * b * c * dd * e)
      Seq(a, b, c, dd, e).foreach(f => assert(f == 0L || f == 1L))
    }
    val cols = Seq[((Long, Long, Long, Long, Long, Long, Long, Long)) => Long](
      _._3, _._4, _._5, _._6, _._7)
    cols.zipWithIndex.foreach { case (f, i) =>
      assert(r.exists(f(_) == 0L), s"rule $i never rejects on the fixture")
      assert(r.exists(f(_) == 1L), s"rule $i never passes on the fixture")
    }
    assert(r.exists(_._8 == 1L) && r.exists(_._8 == 0L))
  }

  test("ta_ngram_novelty: per-doc totals reconcile with a direct df pass") {
    import spark.implicits._
    val n = q("ta_ngram_novelty").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(n.length == 500)
    n.foreach { case (_, grams, unique, pct) =>
      assert(unique >= 0 && unique <= grams)
      assert(pct == unique * 100 / grams)
    }
    // corpus-level reconciliation: Σ n_unique over docs == number of
    // (gram, doc) pairs whose gram has document frequency 1 — computed
    // here without the join-back, as one aggregate over the df table.
    val dfOnly = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= 5)
      .select($"doc_id",
        explode(transform(sequence(lit(1), size($"w") - 4), p =>
          md5(array_join(slice($"w", p, lit(5)), " ")))).as("g"))
      .distinct()
      .groupBy($"g").agg(count(lit(1)).as("df"))
      .filter($"df" === 1).count()
    assert(n.map(_._3).sum == dfOnly)
  }

  test("qa_skyline_pareto: output is exactly the undominated set") {
    import spark.implicits._
    val pts = graft.model.Tables.documents(spark, sf)
      .select($"doc_id",
        $"n_chars".cast("long"),
        size(array_distinct(split($"text", " "))).cast("long"))
      .as[(Long, Long, Long)].collect()
    def dominated(p: (Long, Long, Long)) = pts.exists(q =>
      q._2 >= p._2 && q._3 >= p._3 && (q._2 > p._2 || q._3 > p._3))
    val expected = pts.filterNot(dominated).sortBy(_._1).toSeq
    val got = q("qa_skyline_pareto").fn(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("qa_k_anonymity: levels match recomputed group sizes; all populated") {
    import spark.implicits._
    val rows = q("qa_k_anonymity").fn(spark, sf)
      .as[(Long, Long, String, Long, Long, Long)].collect()
    assert(rows.length == 1500)
    val fine = rows.groupBy(r => (r._2, r._3, r._4)).view.mapValues(_.length).toMap
    val coarse = rows.groupBy(r => (r._2, r._3)).view.mapValues(_.length).toMap
    rows.foreach { case (_, n, s, b, level, k) =>
      val nf = fine((n, s, b)).toLong
      val nc = coarse((n, s)).toLong
      val (el, ek) =
        if (nf >= 6) (0L, nf) else if (nc >= 6) (1L, nc) else (2L, 0L)
      assert(level == el && k == ek, s"($n,$s,$b): got ($level,$k), want ($el,$ek)")
    }
    assert(Set(0L, 1L, 2L).subsetOf(rows.map(_._5).toSet),
      "fixture must exercise keep, generalize, and suppress")
  }

  test("ev_ivm_merge: merged partials equal the unsplit aggregate") {
    import spark.implicits._
    val got = q("ev_ivm_merge").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val direct = graft.model.Tables.events(spark, sf)
      .select($"user_id", $"ts", graft.util.Cols.cents($"value").as("c"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"c").as("v"),
        min($"ts").as("f"), max($"ts").as("l"))
      .select($"user_id", $"n", $"v", $"f", $"l", ($"l" - $"f").as("s"))
      .orderBy($"user_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == direct)
    // the cutoff must actually split the fixture (else the merge path
    // degenerates to a rename of the direct aggregate)
    val cut = 1705795200L * 1000000000L
    val ev = graft.model.Tables.events(spark, sf)
    assert(ev.filter($"ts" < cut).count() > 0)
    assert(ev.filter($"ts" >= cut).count() > 0)
  }
}
