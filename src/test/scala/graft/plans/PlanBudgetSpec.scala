package graft.plans

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Plans, QueryCatalog}

/** Plan-shape regression guard: pins the scale-critical properties the
  * round-2/3 tuning bought — blocking keys on the pair joins, bounded
  * exchange counts, no whole-data SinglePartition shuffles — so a
  * future edit that quietly reintroduces an all-pairs join or a
  * global-window sort fails HERE, not in the next driver bench.
  * Budgets are ceilings with headroom (planner drift shouldn't flap
  * them), not exact counts.
  */
class PlanBudgetSpec extends AnyFunSuite {

  // Fixture dir is overridable so the suite isn't welded to one
  // machine layout; when absent the suite cancels instead of erroring.
  private val sf = sys.props.get("graft.testdata.sf")
    .orElse(sys.env.get("GRAFT_TESTDATA_SF"))
    .getOrElse("/root/testdata/sf0.001")

  override protected def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    assume(new java.io.File(sf, "documents.parquet").exists(),
      s"plan-budget fixture dir $sf absent on this machine")
    super.withFixture(test)
  }

  private lazy val spark = graft.TestSession.spark

  private def planOf(name: String): Seq[SparkPlan] =
    Plans.executedNodes(QueryCatalog.all.find(_.name == name).get
      .fn(spark, sf).queryExecution.executedPlan)

  private def exchanges(nodes: Seq[SparkPlan]): Int =
    nodes.count {
      case _: ShuffleExchangeExec | _: BroadcastExchangeExec => true
      case _ => false
    }

  test("exchange budgets hold for the tuned queries") {
    // (query, ceiling) — round-3 measured counts are roughly half these
    val budgets = Seq(
      "td_ngram_jaccard" -> 8,
      "sim_lsh_ann_topk" -> 8,
      "td_minhash_lsh_pairs" -> 8,
      "td_minhash_jaccard_verify" -> 16,
      "pipe_end_to_end" -> 30,
      // round-4 additions: every remaining catalogue query above ~1 s
      // at sf0.1 (streaming parities pin via their batch duals — their
      // own executed plan is just the memory-sink read)
      "pipe_ndjson_lines" -> 30,
      "sim_ivf_cell_assign" -> 8,
      "sim_ivf_probe_topk" -> 12,
      "td_dedup_clusters" -> 6,
      "td_decontaminate" -> 16,
      "ev_tumbling_window" -> 4,
      "ev_sessionize" -> 4,
      // round-5 additions (measured counts are half these or less;
      // gr_pagerank plans 3 iterations x ~4 exchanges + edge build)
      "gr_pagerank" -> 20,
      "qj_asof_join" -> 6,
      "qj_bloom_prefilter" -> 10,
      "ev_hopping_window" -> 4,
      "ev_scd2_intervals" -> 4,
      "qa_quantile_disc" -> 4,
      "geo_zorder_cluster" -> 4,
      "ta_inverted_postings" -> 6,
    )
    for ((name, budget) <- budgets) {
      val n = exchanges(planOf(name))
      assert(n <= budget, s"$name plans $n exchanges, budget $budget")
    }
  }

  test("no whole-data SinglePartition shuffle in the dedup/similarity suite") {
    // Global one-row aggregates and final presentation limits are fine;
    // these queries should have NO SinglePartition exchange at all.
    // td_concat_chunks is here because the two-phase prefix sum exists
    // precisely to avoid the naive global-window SinglePartition sort.
    for (name <- Seq("td_ngram_jaccard", "td_minhash_lsh_pairs",
      "td_simhash_neardup", "td_embedding_neardup", "ta_vocab_topk",
      "td_concat_chunks")) {
      val singles = planOf(name).collect {
        case s: ShuffleExchangeExec
            if s.outputPartitioning ==
              org.apache.spark.sql.catalyst.plans.physical.SinglePartition => s
      }
      assert(singles.isEmpty, s"$name has SinglePartition exchanges: $singles")
    }
  }

  test("pair joins carry their blocking keys, not bare sources") {
    // td_ngram_jaccard must join on (source, band): the join's string
    // rendering carries both key names on the equality.
    val ngramJoins = planOf("td_ngram_jaccard")
      .filter(_.nodeName.contains("Join")).map(_.toString).mkString("\n")
    assert(ngramJoins.contains("source") && ngramJoins.contains("band"),
      s"ngram pair join lost its size-band blocking key:\n$ngramJoins")
    // td_fuzzy_name_match's candidate join must carry the PassJoin
    // partition keys (segment == substring, source length) — without
    // them it regresses to the names²/length-band candidate join the
    // grown-domain probe measured at exponent 1.21.
    val fuzzyJoins = planOf("td_fuzzy_name_match")
      .filter(_.nodeName.contains("Join")).map(_.toString).mkString("\n")
    assert(fuzzyJoins.contains("seg") && fuzzyJoins.contains("sub") &&
      fuzzyJoins.contains("lsrc"),
      s"fuzzy-match join lost its PassJoin segment blocking keys:\n$fuzzyJoins")
    // Both spatial surfaces must join on the PRE-PROJECTED grid-cell
    // probe keys (kx/ky = cx+dx). If the optimizer ever reorders the
    // 4-row offsets cross join to the outside again, the cell
    // equalities leave the main join and it degrades to the unblocked
    // quadratic layer join (the grown-sf10 probe measured exponent
    // ~1.9 for exactly that plan) — the keys vanish from the hash
    // join's rendering, failing here.
    // Generic Join scan (not HashJoin-specific): the pin is about the
    // KEYS being in an equi join, and must not flap if a conf (e.g. a
    // leaked broadcast threshold) flips the strategy to sort-merge —
    // but it must still exclude the nested-loop shape, where the cell
    // equalities degenerate to a post-cross filter.
    for (name <- Seq("j3_spatial_point_in_polygon", "sql_surface_spatial")) {
      val equiJoins = planOf(name)
        .filter(p => p.nodeName.contains("Join") &&
          !p.nodeName.contains("NestedLoop"))
        .map(_.toString).mkString("\n")
      assert(equiJoins.contains("kx") && equiJoins.contains("pcx"),
        s"$name lost its grid-cell blocking keys:\n$equiJoins")
    }
  }

  test("round-5 additions keep their equi-join shapes") {
    // gr_pagerank: every per-iteration join must stay an equi join on
    // the edge key — a nested-loop anywhere makes an iteration
    // O(|E|·|V|) instead of O(|E|).
    val prNodes = planOf("gr_pagerank")
    assert(!prNodes.exists(_.nodeName.contains("NestedLoop")),
      "pagerank iteration regressed to a nested-loop join")
    // qj_bloom_prefilter: both bit-membership probes must be
    // broadcast semi joins (the compact-bit-set-instead-of-shuffle
    // point of the pattern), never a shuffle of the probe table per
    // hash function.
    val bloomJoins = planOf("qj_bloom_prefilter")
      .filter(_.nodeName.contains("Join")).map(_.toString)
    assert(bloomJoins.count(_.contains("LeftSemi")) >= 3,
      s"bloom prefilter lost its semi joins:\n${bloomJoins.mkString("\n")}")
    assert(!planOf("qj_bloom_prefilter").exists(_.nodeName.contains("NestedLoop")),
      "bloom prefilter regressed to a nested-loop join")
  }

  test("qj_range_band_join stays a hash join, not a nested loop") {
    // The banding rewrite exists precisely to avoid
    // BroadcastNestedLoopJoin, whose constant degraded superlinearly
    // in the sf0.1→sf1 probe (exponent 1.42 → 0.7 after the fix).
    val nodes = planOf("qj_range_band_join")
    val bnlj = nodes.filter(_.nodeName.contains("BroadcastNestedLoop"))
    assert(bnlj.isEmpty, s"range-band join regressed to BNLJ: $bnlj")
    assert(nodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      "range-band join lost its bucket equi-join")
  }

  test("td_ngram_jaccard carries no static broadcast hint") {
    // The vocabulary join must stay unhinted: a broadcast() hint on
    // the word→id map would ship the entire vocabulary to every
    // executor — the round-3 scale-killer. AQE may still broadcast at
    // RUNTIME when the measured size is small; this pins only that no
    // plan-time hint forces it at any scale.
    val analyzed = QueryCatalog.all.find(_.name == "td_ngram_jaccard").get
      .fn(spark, sf).queryExecution.analyzed
    val hints = analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"td_ngram_jaccard has static hints: $hints")
  }

  test("round-5 late additions keep their blocking/broadcast shapes") {
    // geo_knn_radius: the candidate join must carry the pre-projected
    // 9-cell probe keys (kx/ky); losing them degrades to the unblocked
    // same-layer quadratic join (the same failure mode the j3 pin
    // guards). The only tolerated nested-loop is the 9-row offsets
    // broadcast cross.
    val knnEqui = planOf("geo_knn_radius")
      .filter(p => p.nodeName.contains("Join") && !p.nodeName.contains("NestedLoop"))
      .map(_.toString).mkString("\n")
    assert(knnEqui.contains("kx") && knnEqui.contains("bx"),
      s"geo_knn_radius lost its grid-cell probe keys:\n$knnEqui")
    // td_containment_join: the candidate join must be an equi join on
    // (source, prefix word id) — a nested loop would be the all-pairs
    // scan the prefix filter exists to avoid.
    val containNodes = planOf("td_containment_join")
    assert(!containNodes.exists(_.nodeName.contains("NestedLoop")),
      "containment candidate join regressed to a nested loop")
    val containJoins = containNodes
      .filter(_.nodeName.contains("Join")).map(_.toString).mkString("\n")
    assert(containJoins.contains("widx"),
      s"containment join lost its prefix-word key:\n$containJoins")
    assert(exchanges(containNodes) <= 12,
      s"td_containment_join plans ${exchanges(containNodes)} exchanges, budget 12")
    // gr_triangle_count (round-11 oriented rewrite): the closed-wedge
    // stream must be filtered by the packed edge key via an EQUI semi
    // join BEFORE the count — the truss pin's shape. (The orientation
    // joins live behind the neighbor-list checkpoint, so the final
    // plan's only data-scale join IS the semi join; the only
    // nested-loops are the 1-row stat crossJoins at the very top.)
    val triNodes = planOf("gr_triangle_count")
    val triJoins = triNodes
      .filter(p => p.nodeName.contains("Join") &&
        !p.nodeName.contains("NestedLoop")).map(_.toString)
    assert(triJoins.nonEmpty && triJoins.mkString.contains("pk") &&
        triJoins.mkString.contains("LeftSemi"),
      s"triangle count lost its packed-key LeftSemi wedge filter " +
        s"(the edge-key filter must run BEFORE the count):\n${
        triJoins.mkString("\n")}")
    // ta_bm25_rank: df and the global stats row must BROADCAST —
    // the doc-keyed join is the only data-scale shuffle, and the
    // presentation top-100 must be a TakeOrderedAndProject (heaps),
    // never a global sort.
    val bm25Nodes = planOf("ta_bm25_rank")
    assert(bm25Nodes.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "bm25 top-100 is not a TakeOrderedAndProject")
    assert(bm25Nodes.count(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]) >= 2,
      "bm25 lost its df/stats broadcasts")
    // td_paragraph_dedup: one data-scale join (segment stats back to
    // segments) and bounded exchanges.
    val paraBudget = exchanges(planOf("td_paragraph_dedup"))
    assert(paraBudget <= 8,
      s"td_paragraph_dedup plans $paraBudget exchanges, budget 8")
  }

  test("top-cost-tier queries keep their join shapes (round 6)") {
    // td_dedup_clusters: the connected-components iteration must stay
    // equi-join-only on content-hash/cluster ids — a nested loop would
    // be an all-pairs comparison per iteration; and nothing in it may
    // funnel the corpus through a SinglePartition exchange.
    val dcNodes = planOf("td_dedup_clusters")
    assert(!dcNodes.exists(_.nodeName.contains("NestedLoop")),
      "td_dedup_clusters regressed to a nested-loop join")
    val dcSingles = dcNodes.collect {
      case s: ShuffleExchangeExec
          if s.outputPartitioning ==
            org.apache.spark.sql.catalyst.plans.physical.SinglePartition => s
    }
    assert(dcSingles.isEmpty,
      s"td_dedup_clusters has SinglePartition exchanges: $dcSingles")
    // gr_triangle_count: bounded exchanges on top of its wedge pins
    // (the sparsification exists to bound the wedge join, and the
    // exchange count is the cheap proxy that the per-iteration plan
    // didn't grow an extra data-scale shuffle).
    assert(exchanges(planOf("gr_triangle_count")) <= 14,
      s"gr_triangle_count plans ${exchanges(planOf("gr_triangle_count"))} exchanges, budget 14")
    // mm_phash_neardup stays banded after the geometry
    // parameterization: candidate join still an equi join carrying the
    // band keys at a NON-default geometry too.
    try {
      sys.props("graft.phash.bits") = "32"
      val wide = planOf("mm_phash_neardup")
      assert(!wide.exists(_.nodeName.contains("NestedLoop")),
        "mm_phash_neardup (4x32) regressed to a nested loop")
      val wideJoins = wide.filter(_.nodeName.contains("Join"))
        .map(_.toString).mkString("\n")
      assert(wideJoins.contains("band_val"),
        s"mm_phash_neardup (4x32) lost its band blocking key:\n$wideJoins")
    } finally sys.props.remove("graft.phash.bits")
  }

  test("round-5 session-2 additions keep their scale shapes") {
    // qa_heavy_hitters: the exact-refine join must BROADCAST the ≤ k
    // candidate keys over the token stream — shuffling the tokens to
    // meet a k-row side would be the exact cost the sketch avoids. The
    // only SinglePartition exchange allowed is the global sketch
    // aggregate, whose partials are ≤ k entries per map task.
    val hhNodes = planOf("qa_heavy_hitters")
    assert(hhNodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      "heavy-hitters refine join lost its candidate broadcast")
    assert(!hhNodes.exists(_.nodeName.contains("NestedLoop")),
      "heavy-hitters planned a nested-loop join")
    assert(exchanges(hhNodes) <= 8,
      s"qa_heavy_hitters plans ${exchanges(hhNodes)} exchanges, budget 8")
    // ev_cdc_merge: both window frames share the user_id partitioning,
    // so the whole merge is ONE key shuffle plus the presentation sort.
    val cdcN = exchanges(planOf("ev_cdc_merge"))
    assert(cdcN <= 4, s"ev_cdc_merge plans $cdcN exchanges, budget 4")
    // ev_gaps_islands: hour pre-aggregation, island window, island
    // groupBy — all on user_id-rooted keys; bounded exchanges.
    val giN = exchanges(planOf("ev_gaps_islands"))
    assert(giN <= 6, s"ev_gaps_islands plans $giN exchanges, budget 6")
    // mm_phash_neardup: the candidate join must stay an equi join on
    // the (band_idx, band_val) blocking keys — a nested loop would be
    // the all-pairs comparison the banding exists to avoid.
    val phNodes = planOf("mm_phash_neardup")
    assert(!phNodes.exists(_.nodeName.contains("NestedLoop")),
      "phash candidate join regressed to a nested loop")
    val phJoins = phNodes
      .filter(p => p.nodeName.contains("Join"))
      .map(_.toString).mkString("\n")
    assert(phJoins.contains("band_val"),
      s"phash join lost its band blocking key:\n$phJoins")
    // sim_pq_topk: encode+ADC must stay a pure zero-join projection
    // over the scan (codebook and LUT ride as literals), with both
    // top-k stages as TakeOrderedAndProject heaps, never a global
    // sort. A join or data-scale exchange here means the codebook
    // stopped being a literal artifact.
    val pqNodes = planOf("sim_pq_topk")
    assert(!pqNodes.exists(_.nodeName.contains("Join")),
      "sim_pq_topk planned a join; codebook/LUT must be literals")
    assert(pqNodes.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "sim_pq_topk top-k is not a TakeOrderedAndProject")
    assert(exchanges(pqNodes) <= 3,
      s"sim_pq_topk plans ${exchanges(pqNodes)} exchanges, budget 3")
    // pipe_training_data: the composed five-stage assembly must stay
    // equi-join-only (its S2 stage embeds the full LSH candidate
    // chain — a nested loop anywhere means a stage regressed to
    // all-pairs) with a bounded exchange count.
    val tdNodes = planOf("pipe_training_data")
    assert(!tdNodes.exists(_.nodeName.contains("NestedLoop")),
      "pipe_training_data planned a nested-loop join")
    assert(exchanges(tdNodes) <= 20,
      s"pipe_training_data plans ${exchanges(tdNodes)} exchanges, budget 20")
    // ev_gap_fill: the densify join must stay an equi join on
    // (user_id, hr); bounded exchanges (hour agg, span agg, join,
    // window, presentation sort share the user_id-rooted keys).
    val gfNodes = planOf("ev_gap_fill")
    assert(!gfNodes.exists(_.nodeName.contains("NestedLoop")),
      "ev_gap_fill densify join regressed to a nested loop")
    assert(exchanges(gfNodes) <= 8,
      s"ev_gap_fill plans ${exchanges(gfNodes)} exchanges, budget 8")
    // qa_histogram_quantile: the only nested-loop is the 1-row bounds
    // broadcast (the scalar-subquery shape); everything else is
    // partial-aggregable histogram counts.
    val hqNodes = planOf("qa_histogram_quantile")
    val hqBnlj = hqNodes.filter(_.nodeName.contains("BroadcastNestedLoop"))
    assert(hqBnlj.size <= 1,
      s"qa_histogram_quantile has ${hqBnlj.size} BNLJs; only the 1-row bounds cross is allowed")
    assert(exchanges(hqNodes) <= 8,
      s"qa_histogram_quantile plans ${exchanges(hqNodes)} exchanges, budget 8")
  }

  test("round-6 additions keep their scale shapes") {
    // ta_winnow_fingerprint: a pure map pass — higher-order functions
    // over the words array, NO join and NO explode of the gram stream
    // before the final presentation sort. A join or a second exchange
    // means the per-row formulation regressed to an exploded one.
    val wnNodes = planOf("ta_winnow_fingerprint")
    assert(!wnNodes.exists(_.nodeName.contains("Join")),
      "winnow planned a join; it must be a per-row map pass")
    assert(exchanges(wnNodes) <= 2,
      s"ta_winnow_fingerprint plans ${exchanges(wnNodes)} exchanges, budget 2")
    // ta_tfidf_cosine_topk: the posting self-join must stay an equi
    // join on the token (pairs only through shared words — never a
    // cross of the doc sets), with the top-100 as a heap. The shared
    // weights table is checkpointed, so the 1-row ndocs cross lives
    // before the checkpoint cut and no nested loop may appear here.
    val tcNodes = planOf("ta_tfidf_cosine_topk")
    assert(!tcNodes.exists(_.nodeName.contains("NestedLoop")),
      "tfidf posting join regressed to a nested loop")
    val tcJoins = tcNodes.filter(_.nodeName.contains("Join"))
      .map(_.toString).mkString("\n")
    assert(tcJoins.contains("word"),
      s"tfidf posting join lost its token key:\n$tcJoins")
    assert(tcNodes.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "tfidf top-100 is not a TakeOrderedAndProject")
    assert(exchanges(tcNodes) <= 10,
      s"ta_tfidf_cosine_topk plans ${exchanges(tcNodes)} exchanges, budget 10")
    // ev_funnel_steps / ev_retention_cohorts: every join keyed on
    // user_id (equi only — AQE may pick broadcast or sort-merge, both
    // fine; a nested loop would scan events per user).
    for ((name, budget) <- Seq("ev_funnel_steps" -> 16, "ev_retention_cohorts" -> 8)) {
      val nodes = planOf(name)
      assert(!nodes.exists(_.nodeName.contains("NestedLoop")),
        s"$name planned a nested-loop join")
      val joins = nodes.filter(_.nodeName.contains("Join")).map(_.toString).mkString("\n")
      assert(joins.contains("user_id"), s"$name join lost its user_id key:\n$joins")
      assert(exchanges(nodes) <= budget,
        s"$name plans ${exchanges(nodes)} exchanges, budget $budget")
    }
    // qa_hll_distinct_sketch: register partials + the 3-row exact join
    // (broadcast) — bounded exchanges, no nested loop, and no
    // SinglePartition carrying more than the per-group sketch rows.
    val hllNodes = planOf("qa_hll_distinct_sketch")
    assert(!hllNodes.exists(_.nodeName.contains("NestedLoop")),
      "hll sketch planned a nested-loop join")
    assert(exchanges(hllNodes) <= 8,
      s"qa_hll_distinct_sketch plans ${exchanges(hllNodes)} exchanges, budget 8")
    // gr_label_propagation: every per-round join must stay an equi
    // join (nested loop = per-node neighbor rescan), bounded exchange
    // count across the 3 unrolled rounds.
    val lpaNodes = planOf("gr_label_propagation")
    assert(!lpaNodes.exists(_.nodeName.contains("NestedLoop")),
      "label propagation planned a nested-loop join")
    assert(exchanges(lpaNodes) <= 36,
      s"gr_label_propagation plans ${exchanges(lpaNodes)} exchanges, budget 36")
  }

  test("round-7 session-2 additions keep their scale shapes") {
    // td_sequence_pack: shard groupBy + higher-order fold + explode —
    // NO join anywhere (a join means the fold regressed to a
    // self-correlation), one shard shuffle + the presentation sort.
    val packNodes = planOf("td_sequence_pack")
    assert(!packNodes.exists(_.nodeName.contains("Join")),
      "sequence packer planned a join; it must be a per-shard fold")
    assert(exchanges(packNodes) <= 3,
      s"td_sequence_pack plans ${exchanges(packNodes)} exchanges, budget 3")
    // td_span_dedup / ta_boilerplate_strip: the flag-back joins must
    // stay equi joins on the md5 gram key (nested loop = all-pairs
    // text comparison), bounded exchanges.
    for ((name, budget) <- Seq("td_span_dedup" -> 12,
        "ta_boilerplate_strip" -> 14)) {
      val nodes = planOf(name)
      assert(!nodes.exists(_.nodeName.contains("NestedLoop")),
        s"$name planned a nested-loop join")
      val joins = nodes.filter(_.nodeName.contains("Join")).map(_.toString)
      assert(joins.exists(_.contains("g#")),
        s"$name flag join lost its gram key:\n${joins.mkString("\n")}")
      assert(exchanges(nodes) <= budget,
        s"$name plans ${exchanges(nodes)} exchanges, budget $budget")
    }
    // qa_cms_heavy_hitters: the 1024-row sketch must BROADCAST to the
    // probe side (a shuffled join of a 1024-row table is the wrong
    // shape), the top-30 must be a heap, and no nested loop.
    val cmsNodes = planOf("qa_cms_heavy_hitters")
    assert(!cmsNodes.exists(_.nodeName.contains("NestedLoop")),
      "CMS planned a nested-loop join")
    assert(cmsNodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      "CMS sketch probe is not a broadcast hash join")
    assert(cmsNodes.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "CMS exact top-30 is not a TakeOrderedAndProject heap")
    assert(exchanges(cmsNodes) <= 8,
      s"qa_cms_heavy_hitters plans ${exchanges(cmsNodes)} exchanges, budget 8")
    // td_chunk_overlap: a pure per-row explode — NO join, no
    // aggregation shuffle, just the presentation sort.
    val chNodes = planOf("td_chunk_overlap")
    assert(!chNodes.exists(_.nodeName.contains("Join")),
      "chunker planned a join; it must be a per-row explode")
    assert(exchanges(chNodes) <= 1,
      s"td_chunk_overlap plans ${exchanges(chNodes)} exchanges, budget 1")
    // sim_hard_negatives: the query set must BROADCAST (a shuffled
    // join against 5 rows is the wrong shape) and no per-query window
    // may receive the whole corpus in one partition — the bucketed
    // partial window keys on (qid, vec_id % 64).
    val hnNodes = planOf("sim_hard_negatives")
    assert(hnNodes.exists(_.nodeName.contains("BroadcastNestedLoopJoin")) ||
      hnNodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      "hard negatives did not broadcast the query set")
    val hnWindows = hnNodes.filter(_.nodeName.contains("Window")).map(_.toString)
    assert(hnWindows.exists(_.contains("%")),
      s"hard negatives lost the bucketed partial top-k:\n${hnWindows.mkString("\n")}")
    assert(exchanges(hnNodes) <= 6,
      s"sim_hard_negatives plans ${exchanges(hnNodes)} exchanges, budget 6")
    // qa_mad_outliers: the DATA cost is the two grouped window sorts
    // (value rank for the median, deviation rank for the MAD — the
    // exact-two-level-order-statistic floor); everything else is
    // 5-row med/mad BROADCASTS, which this helper also counts, hence
    // the 12 (measured exactly). A shuffle JOIN of the 5-row stats
    // would be the regression this pin catches.
    val madNodes = planOf("qa_mad_outliers")
    assert(!madNodes.exists(_.nodeName.contains("NestedLoop")),
      "mad outliers planned a nested-loop join")
    assert(madNodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      "mad outliers stat joins are not broadcasts")
    assert(exchanges(madNodes) <= 12,
      s"qa_mad_outliers plans ${exchanges(madNodes)} exchanges, budget 12")
  }

  test("round-7 session-3 additions keep their scale shapes") {
    // td_dsir_importance: the ≤256-row model must BROADCAST to the
    // gram stream (a shuffled join keyed on a 256-value bucket would
    // put the whole corpus through 256 reducers), the top-100 must be
    // a TakeOrderedAndProject heap, and the only data-scale shuffle is
    // the groupBy(doc_id) partial aggregate.
    val dsirNodes = planOf("td_dsir_importance")
    assert(dsirNodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      "DSIR model join is not a broadcast hash join")
    assert(!dsirNodes.exists(_.nodeName.contains("NestedLoop")),
      "DSIR planned a nested-loop join")
    assert(dsirNodes.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "DSIR top-100 is not a TakeOrderedAndProject heap")
    assert(exchanges(dsirNodes) <= 10,
      s"td_dsir_importance plans ${exchanges(dsirNodes)} exchanges, budget 10")
    // td_softdedup_weights: everything downstream of the checkpointed
    // cluster labels is doc_id-keyed equi joins + a tiny per-source
    // aggregate — no nested loop, no SinglePartition carrying corpus
    // rows (the presentation sort's range partitioning excepted).
    val sdNodes = planOf("td_softdedup_weights")
    assert(!sdNodes.exists(_.nodeName.contains("NestedLoop")),
      "soft-dedup planned a nested-loop join")
    val sdSingles = sdNodes.collect {
      case s: ShuffleExchangeExec
          if s.outputPartitioning ==
            org.apache.spark.sql.catalyst.plans.physical.SinglePartition => s
    }
    assert(sdSingles.isEmpty,
      s"td_softdedup_weights has SinglePartition exchanges: $sdSingles")
    assert(exchanges(sdNodes) <= 10,
      s"td_softdedup_weights plans ${exchanges(sdNodes)} exchanges, budget 10")
    // ta_ccnet_bucket: the unigram model and the per-lang cutpoint
    // table must BROADCAST (both are tiny by construction); the only
    // nested loops allowed are the 1-row n_t crossJoins; the only
    // SinglePartition exchanges allowed are the benign global scalar
    // aggregates (n_t — a keyless partial_count's one-row merge),
    // never corpus rows.
    val ccNodes = planOf("ta_ccnet_bucket")
    assert(ccNodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      "ccnet model/cutpoint joins are not broadcast hash joins")
    val ccSingles = ccNodes.collect {
      case s: ShuffleExchangeExec
          if s.outputPartitioning ==
            org.apache.spark.sql.catalyst.plans.physical.SinglePartition &&
            !s.child.toString.startsWith("HashAggregate(keys=[]") => s
    }
    assert(ccSingles.isEmpty,
      s"ta_ccnet_bucket funnels non-scalar rows through SinglePartition: $ccSingles")
    assert(exchanges(ccNodes) <= 16,
      s"ta_ccnet_bucket plans ${exchanges(ccNodes)} exchanges, budget 16")
    // qa_ks_drift: the median-ts and n_a/n_b side tables must
    // BROADCAST back to the event stream (the qa_mad_outliers
    // contract), no nested loop, bounded exchanges.
    val ksNodes = planOf("qa_ks_drift")
    assert(!ksNodes.exists(_.nodeName.contains("NestedLoop")),
      "ks drift planned a nested-loop join")
    assert(ksNodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      "ks drift side tables are not broadcasts")
    assert(exchanges(ksNodes) <= 12,
      s"qa_ks_drift plans ${exchanges(ksNodes)} exchanges, budget 12")
  }

  test("round-7 session-5 additions keep their scale shapes") {
    // gr_link_predict: the wedge pipeline must stay in-row — no
    // nested loop anywhere, the top-100 a TakeOrderedAndProject heap,
    // and the Σdeg² pair stream bounded to its repartition + agg
    // exchanges (the decorate-after-limit joins ride on a 100-row
    // broadcast).
    val lpNodes = planOf("gr_link_predict")
    assert(!lpNodes.exists(_.nodeName.contains("NestedLoop")),
      "link predict planned a nested-loop join")
    assert(lpNodes.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "link predict top-100 is not a TakeOrderedAndProject heap")
    assert(exchanges(lpNodes) <= 16,
      s"gr_link_predict plans ${exchanges(lpNodes)} exchanges, budget 16")
    // qj_interval_overlap: the entire point of the day-grid blocking
    // is that the interval predicate NEVER plans as a nested loop —
    // it must be a residual on a day-keyed equi join.
    val ioNodes = planOf("qj_interval_overlap")
    assert(!ioNodes.exists(_.nodeName.contains("NestedLoop")),
      "interval overlap planned a nested-loop join — blocking lost")
    assert(exchanges(ioNodes) <= 10,
      s"qj_interval_overlap plans ${exchanges(ioNodes)} exchanges, budget 10")
    // td_span_corrupt: one doc-keyed window shuffle + the
    // presentation sort — no joins of any kind.
    val scNodes = planOf("td_span_corrupt")
    assert(!scNodes.exists(_.nodeName.contains("Join")),
      "span corrupt grew a join")
    assert(exchanges(scNodes) <= 6,
      s"td_span_corrupt plans ${exchanges(scNodes)} exchanges, budget 6")
    // ta_oov_rate: the vocab is a collected artifact, so the corpus
    // pass is ZERO-JOIN by construction.
    val ovNodes = planOf("ta_oov_rate")
    assert(!ovNodes.exists(_.nodeName.contains("Join")),
      "oov rate grew a join — the artifact pattern was lost")
    // td_shard_assign / geo_poly_area_centroid: pure in-row passes —
    // nothing but the presentation sort may shuffle.
    for (name <- Seq("td_shard_assign", "geo_poly_area_centroid")) {
      val nodes = planOf(name)
      assert(!nodes.exists(_.nodeName.contains("Join")), s"$name grew a join")
      assert(exchanges(nodes) <= 2,
        s"$name plans ${exchanges(nodes)} exchanges, budget 2 (presentation sort)")
    }
  }

  test("round-7 session-6 additions keep their scale shapes") {
    // gr_basket_lift: support joins must broadcast, top-50 is a heap,
    // no nested loop, exchanges bounded (basket agg + pair
    // repartition/agg + the tiny broadcasts).
    val blNodes = planOf("gr_basket_lift")
    assert(!blNodes.exists(_.nodeName.contains("NestedLoop")),
      "basket lift planned a nested-loop join")
    assert(blNodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      "basket lift support joins are not broadcasts")
    assert(blNodes.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "basket lift top-50 is not a TakeOrderedAndProject heap")
    assert(exchanges(blNodes) <= 12,
      s"gr_basket_lift plans ${exchanges(blNodes)} exchanges, budget 12")
    // histogram/matrix-shaped entries: no joins at all — their windows
    // and aggregates run on compact derived rows.
    for (name <- Seq("ev_markov_transitions", "qa_percentile_rank",
        "ta_trending_terms")) {
      val nodes = planOf(name)
      assert(!nodes.exists(_.nodeName.contains("Join")), s"$name grew a join")
      assert(exchanges(nodes) <= 6,
        s"$name plans ${exchanges(nodes)} exchanges, budget 6")
    }
    // fold-family entries: one user-keyed shuffle (+ threshold
    // broadcast for the anomaly pass); never a corpus self-join.
    val rlNodes = planOf("ev_rate_limit")
    assert(!rlNodes.exists(_.nodeName.contains("Join")),
      "rate limit grew a join")
    val eaNodes = planOf("ev_ewma_anomaly")
    assert(!eaNodes.exists(_.nodeName.contains("NestedLoop")),
      "ewma anomaly planned a nested-loop join")
    assert(eaNodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      "ewma anomaly threshold table is not a broadcast")
    // td_snapshot_diff: the id-keyed full-outer join may sort-merge
    // (both sides are corpus-scale) but must never nested-loop.
    val sdNodes = planOf("td_snapshot_diff")
    assert(!sdNodes.exists(_.nodeName.contains("NestedLoop")),
      "snapshot diff planned a nested-loop join")
    assert(exchanges(sdNodes) <= 8,
      s"td_snapshot_diff plans ${exchanges(sdNodes)} exchanges, budget 8")
    // sim_centroid_classify: after the (driver-side) training collect,
    // the classification pass itself is ZERO-JOIN — centroids are
    // literals inside one projection.
    val ccNodes2 = planOf("sim_centroid_classify")
    assert(!ccNodes2.exists(_.nodeName.contains("Join")),
      "centroid classify grew a join — the literal-centroid shape was lost")
  }

  test("round-7 session-9/10 and round-8 additions keep their exchange budgets") {
    // The 47 entries the round-7 plan audit missed (VERDICT next-round
    // #2), plus round 8's sim_knn_edge_coverage. Ceilings are the
    // regenerated PLANS.md counts at sf0.01 with ~2x headroom so
    // planner drift doesn't flap them; a reintroduced all-pairs join
    // or global-window sort blows straight through 2x.
    val budgets = Seq(
      "ev_attribution_position" -> 8, "ev_dau_wau_stickiness" -> 14,
      "ev_feature_matrix" -> 4, "ev_forecast_backtest" -> 6,
      "ev_funnel_time_to_convert" -> 32, "ev_hazard_curve" -> 6,
      "ev_pareto_concentration" -> 14, "ev_rfm_segments" -> 22,
      "ev_top_paths" -> 4, "geo_idw_surface" -> 12,
      "geo_quadtree_density" -> 10, "gr_assortativity" -> 10,
      "gr_hits" -> 14, "gr_kcore" -> 10,
      "gr_personalized_pagerank" -> 42, "mm_audio_fingerprint" -> 10,
      "mm_phash_hamming_hist" -> 8, "mm_silence_segments" -> 8,
      "pipe_dataset_card" -> 22, "qa_data_contract" -> 12,
      "qa_discount_elasticity" -> 4, "qa_dow_seasonality" -> 10,
      "qa_freshness_lag" -> 10, "qa_kitagawa_decomposition" -> 12,
      "qa_reconciliation" -> 12, "qa_ship_lag_quantiles" -> 8,
      "qa_simpson_paradox" -> 18, "sim_embedding_drift" -> 8,
      "sim_kcenter_coreset" -> 4, "sim_knn_graph" -> 8,
      "sim_knn_edge_coverage" -> 16, "sim_matryoshka_eval" -> 30,
      "sim_mmr_select" -> 2, "ta_burrows_delta" -> 46,
      "ta_burstiness_topk" -> 12, "ta_extractive_summary" -> 14,
      "ta_heaps_vocab_curve" -> 20, "ta_lang_confusion" -> 6,
      "ta_postings_varint_size" -> 8, "ta_rake_keyphrases" -> 10,
      "ta_readability_fk" -> 4, "ta_vocab_richness" -> 6,
      "td_dedup_eval" -> 4, "td_hash_collision_audit" -> 6,
      "td_neyman_alloc" -> 22, "td_threshold_sweep" -> 14,
      "td_tokenizer_fertility" -> 6, "td_uncertainty_sample" -> 4,
    )
    for ((name, budget) <- budgets) {
      val n = exchanges(planOf(name))
      assert(n <= budget, s"$name plans $n exchanges, budget $budget")
    }
  }

  test("round-8 session-3 additions keep their scale shapes") {
    // Exchange ceilings (~2x the measured sf0.001 counts). The
    // iterative graph entries checkpoint each round, so their FINAL
    // plan is the cheap union/aggregate over checkpointed blocks —
    // the per-round shape is pinned by the no-nested-loop asserts
    // below, the per-round cost by the decade probes.
    val budgets = Seq(
      // chi2's count is dominated by post-checkpoint exchanges of the
      // ≤|types|·7-row cell table (margins, grid dims, total) — tiny
      // rows, not corpus; the corpus is scanned ONCE into the
      // checkpoint
      "qa_chi2_independence" -> 24, "qa_theil_sen_slope" -> 10,
      "gr_closeness_centrality" -> 10, "gr_random_walks" -> 8,
      "sim_ndcg_eval" -> 24, "ev_pit_features" -> 16,
      // batch 2: cramers_v rides the same chi2 cell checkpoint + a
      // one-row aggregate; markov_stationary/phash_clusters iterate
      // on checkpointed ≤k²-row artifacts, so their final plans are
      // joins of bounded blocks; cooccurrence bounds the pair stage
      // by the broadcast top-K vocabulary
      "qa_cramers_v" -> 28, "ev_markov_stationary" -> 12,
      "ev_inter_event_quantiles" -> 10, "mm_phash_clusters" -> 10,
      "ta_cooccurrence_lift" -> 20,
      // batch 3: autocorr pairs ride the checkpointed per-day
      // artifact + a broadcast 3-row lag table; burst windows run on
      // the (type, hour) bucket artifact
      "qa_autocorrelation_lag" -> 12, "ev_burst_detection" -> 8,
      // batch 4: katz's final plan joins checkpointed per-hop blocks;
      // frame dedup is one generator + one (doc)-window + one agg
      "gr_katz_centrality" -> 16, "mm_frame_dedup" -> 8,
      // batch 5: interval coverage is ONE corpus scan → per-suppkey
      // window (1 hash exchange) → two groupBys that reuse the same
      // suppkey partitioning → final presentation sort. Anything
      // beyond the suppkey partition + the sort is a regression.
      "qa_interval_coverage" -> 6,
    )
    for ((name, budget) <- budgets) {
      val n = exchanges(planOf(name))
      assert(n <= budget, s"$name plans $n exchanges, budget $budget")
    }
    // chi2: every dimension/total join must ride a broadcast — the
    // cell grid is |types|x7 rows, a shuffle of it would mean the
    // corpus-sized side moved instead.
    val chiNodes = planOf("qa_chi2_independence")
    assert(chiNodes.count(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]) >= 3,
      "chi2 lost its broadcast dimension joins")
    // theil-sen: the day-pair join must be the broadcast of the
    // per-day artifact, and the only SinglePartition exchange is the
    // bounded pair-rank window (days^2 artifact rows, never corpus)
    val tsNodes = planOf("qa_theil_sen_slope")
    assert(tsNodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]),
      "theil-sen pair join lost its broadcast day table")
    // pit features: the label-feature band join must stay an equi
    // join keyed on user_id (range residual), never a nested loop —
    // a nested loop here is the labels x events cross.
    val pitNodes = planOf("ev_pit_features")
    assert(!pitNodes.exists(_.nodeName.contains("NestedLoop")),
      "pit feature join regressed to a nested loop")
    val pitJoins = pitNodes.filter(p => p.nodeName.contains("Join") &&
      !p.nodeName.contains("NestedLoop")).map(_.toString).mkString("\n")
    assert(pitJoins.contains("user_id"),
      s"pit feature join lost its user_id key:\n$pitJoins")
    // iterative graph additions: per-round joins are equi joins only
    for (name <- Seq("gr_closeness_centrality", "gr_random_walks")) {
      assert(!planOf(name).exists(_.nodeName.contains("NestedLoop")),
        s"$name planned a nested-loop join")
    }
    // ndcg: the exact ground-truth side is the candidates streaming
    // past the BROADCAST 10-probe panel (one tolerated BNLJ), the ann
    // side joins back on equi keys
    val ndcgNodes = planOf("sim_ndcg_eval")
    assert(ndcgNodes.count(_.nodeName.contains("NestedLoop")) <= 2,
      "ndcg eval grew beyond its probe-panel broadcast cross joins")
    // cooccurrence: the pair stage must ride BROADCASTS of the top-K
    // vocabulary (never a shuffle of the term table per leg), and no
    // nested loop anywhere except the 1-row doc-count cross join
    val coNodes = planOf("ta_cooccurrence_lift")
    assert(coNodes.count(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]) >= 3,
      "cooccurrence lost its top-K broadcasts")
    // inter-event quantiles: the gap window partitions by
    // (user, type) — never a SinglePartition whole-data sort
    val ieNodes = planOf("ev_inter_event_quantiles")
    val ieSingles = ieNodes.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if s.outputPartitioning ==
            org.apache.spark.sql.catalyst.plans.physical.SinglePartition => s
    }
    assert(ieSingles.isEmpty,
      s"inter-event quantiles has SinglePartition exchanges: $ieSingles")
    // interval coverage: the merge window and both aggregates ride
    // the ONE per-suppkey hash partition (never SinglePartition, no
    // joins at all — any join node means the union-by-running-max
    // device was replaced by a self-join interval overlap).
    val icNodes = planOf("qa_interval_coverage")
    val icSingles = icNodes.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if s.outputPartitioning ==
            org.apache.spark.sql.catalyst.plans.physical.SinglePartition => s
    }
    assert(icSingles.isEmpty,
      s"interval coverage has SinglePartition exchanges: $icSingles")
    assert(!icNodes.exists(_.nodeName.contains("Join")),
      "interval coverage grew a join; the running-max merge needs none")
  }

  test("round-9 additions keep their scale shapes") {
    // Exchange ceilings ~2x the measured sf0.001 counts
    // (Plans.countExchanges). gr_closeness_centrality is absent: its final
    // plan is the driver-assembled 16-row LocalTableScan (the bitmask
    // BFS collects one bounded count row per round), pinned by the
    // round-8 budget entry and the Round9OpsSpec naive-BFS replay.
    val budgets = Seq(
      "qa_mann_whitney_u" -> 4, "qa_spearman_corr" -> 18,
      "gr_truss_support" -> 12, "sim_rrf_fusion" -> 20,
      "pipe_compaction_bins" -> 12, "ta_msttr_diversity" -> 8,
      "sql_surface_text" -> 6, "geo_grid_ring_smooth" -> 6,
      "qa_two_proportion_z2" -> 6, "geo_union_area" -> 10,
      "ev_attribution_window_sweep" -> 8,
      // kendall's one BNLJ is the broadcast day-artifact pair cross
      // (same shape as theil-sen); clustering coeff rides the sized
      // truss pipeline twice-decorated (node sums + degrees)
      "qa_kendall_tau" -> 6, "gr_clustering_coeff" -> 26,
      // pq recall eval: two TakeOrdered ADC heaps + one exact heap +
      // two broadcast ≤30-row semi joins + the 1-row final cross
      "sim_pq_recall_eval" -> 8,
    )
    for ((name, budget) <- budgets) {
      val n = exchanges(planOf(name))
      assert(n <= budget, s"$name plans $n exchanges, budget $budget")
    }
    // truss support: the wedge stream must be filtered by the packed
    // edge key BEFORE aggregation (a nested loop or a lost pk key
    // means the 21.5M-row wedge count came back — the 12 s shape)
    val trussNodes = planOf("gr_truss_support")
    assert(!trussNodes.exists(_.nodeName.contains("NestedLoop")),
      "truss support planned a nested-loop join")
    val trussJoins = trussNodes.filter(_.nodeName.contains("Join"))
      .map(_.toString).mkString("\n")
    assert(trussJoins.contains("pk"),
      s"truss support joins lost the packed wedge key:\n$trussJoins")
    // rrf fusion: only the 10-row probe-panel broadcast cross is a
    // tolerated BNLJ; the fusion join itself must stay equi
    val rrfNodes = planOf("sim_rrf_fusion")
    assert(rrfNodes.count(_.nodeName.contains("NestedLoop")) <= 2,
      "rrf fusion grew beyond its probe-panel broadcast cross")
    // compaction bins: the two-phase prefix sum exists precisely to
    // avoid a whole-data SinglePartition sort
    for (name <- Seq("pipe_compaction_bins", "ta_msttr_diversity")) {
      val singles = planOf(name).collect {
        case s: ShuffleExchangeExec
            if s.outputPartitioning ==
              org.apache.spark.sql.catalyst.plans.physical.SinglePartition => s
      }
      assert(singles.isEmpty, s"$name has SinglePartition exchanges: $singles")
    }
    // msttr: doc-keyed aggs only — a join here means the segment
    // grouping was rewritten through a pair join
    assert(!planOf("ta_msttr_diversity").exists(_.nodeName.contains("Join")),
      "msttr grew a join; the per-doc segment agg needs none")
    // ring smooth: the 9-row offsets cross must ride a broadcast
    val ringNodes = planOf("geo_grid_ring_smooth")
    assert(ringNodes.exists(_.isInstanceOf[BroadcastExchangeExec]),
      "ring smooth lost its offsets broadcast")
    assert(ringNodes.count(_.nodeName.contains("NestedLoop")) <= 1,
      "ring smooth grew beyond the 9-row offsets cross")
    // spearman: both rank tables are ≤|days|-row artifacts and must
    // broadcast back to the day series
    assert(planOf("qa_spearman_corr")
      .count(_.isInstanceOf[BroadcastExchangeExec]) >= 2,
      "spearman lost its broadcast rank tables")
    // attribution sweep: the (conversion, touch) pair join must stay
    // an equi join keyed on user_id (range residual) — a nested loop
    // is the conversions × touches cross
    val awNodes = planOf("ev_attribution_window_sweep")
    assert(!awNodes.exists(_.nodeName.contains("NestedLoop")),
      "attribution sweep pair join regressed to a nested loop")
    val awJoins = awNodes.filter(_.nodeName.contains("Join"))
      .map(_.toString).mkString("\n")
    assert(awJoins.contains("user_id") || awJoins.contains("tuid"),
      s"attribution sweep join lost its user key:\n$awJoins")
    // kendall: only the broadcast day-pair cross may be a BNLJ
    assert(planOf("qa_kendall_tau")
      .count(_.nodeName.contains("NestedLoop")) <= 1,
      "kendall grew beyond its broadcast day-pair cross")
    // clustering coeff: the wedge pipeline must stay nested-loop-free
    assert(!planOf("gr_clustering_coeff")
      .exists(_.nodeName.contains("NestedLoop")),
      "clustering coeff planned a nested-loop join")
    // union area: the distinct shuffles on (layer, cell) — never a
    // whole-data SinglePartition
    val uaSingles = planOf("geo_union_area").collect {
      case s: ShuffleExchangeExec
          if s.outputPartitioning ==
            org.apache.spark.sql.catalyst.plans.physical.SinglePartition => s
    }
    assert(uaSingles.isEmpty,
      s"union area has SinglePartition exchanges: $uaSingles")
  }

  test("round-8 multi-probe kNN graph keeps the bucket-key self-join") {
    // sim_knn_graph: the candidate join must stay an equi join ON THE
    // BUCKET key — multi-probe doubles the probe rows, it must never
    // widen the join itself (a nested loop here is the all-pairs scan
    // the LSH bound exists to avoid).
    val nodes = planOf("sim_knn_graph")
    assert(!nodes.exists(_.nodeName.contains("NestedLoop")),
      "knn graph candidate join regressed to a nested loop")
    val joins = nodes.filter(p => p.nodeName.contains("Join"))
      .map(_.toString).mkString("\n")
    assert(joins.contains("bucket"),
      s"knn graph join lost its bucket blocking key:\n$joins")
    // sim_knn_edge_coverage: both histogram joins ride a <=64-row
    // broadcast — never a shuffle of the assignment per probe bucket.
    val covNodes = planOf("sim_knn_edge_coverage")
    assert(covNodes.count(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]) >= 2,
      "edge coverage lost its bucket-histogram broadcasts")
    // gr_hits / gr_kcore: iterative graph passes must stay equi-join
    // only (per-round cost O(|E|)).
    for (name <- Seq("gr_hits", "gr_kcore")) {
      assert(!planOf(name).exists(_.nodeName.contains("NestedLoop")),
        s"$name planned a nested-loop join")
    }
    // gr_personalized_pagerank: the only tolerated nested loops are
    // the 1-row seed broadcasts (one per iteration + the init); the
    // per-round rank/contrib joins must be hash equi joins.
    val pprNodes = planOf("gr_personalized_pagerank")
    val pprBnlj = pprNodes.count(_.nodeName.contains("NestedLoop"))
    assert(pprBnlj <= 4,
      s"personalized pagerank has $pprBnlj nested loops (max 4 seed crossJoins)")
    assert(pprNodes.count(_.nodeName.contains("HashJoin")) >= 4,
      "personalized pagerank lost its per-iteration hash equi joins")
  }
}
