package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{CodegenSupport, InputAdapter, LocalTableScanExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan auditor: dumps a per-query physical-plan summary (pushed
  * filters, read schemas, join strategies, exchange count) for the
  * whole catalogue to PLANS.md — the artifact backing the scale-design
  * claims in README/COVERAGE. Run:
  *
  *   sbt "runMain graft.Plans /root/testdata/sf0.01 PLANS.md"
  */
object Plans {
  /** Hand-maintained per-query audit notes, appended to the generated
    * section so they survive regeneration (PLANS.md is a full
    * overwrite). Keep these to cross-references a plan reader needs —
    * measured floors, gating specs — not prose.
    */
  val notes: Map[String, String] = Map(
    "sim_knn_edge_coverage" ->
      ("coverage floor gated in-suite by KnnCoverageFloorSpec " +
        "(multi-probe cov_multi_ppm >= 990000 at sf0.01 AND grow_sf1; " +
        "measured 500/500 sf0.01, 7999/7999 grow_sf1, 31991/31991 " +
        "grow_sf10 — BASELINE.md round-8 section)"),
    "gr_triangle_count" ->
      ("round-11: degree-oriented closed-wedge count on the shared " +
        "closedWedges kernel (orientation joins live behind the " +
        "neighbor-list checkpoint, so the final plan's data-scale join " +
        "is the packed-key semi join); wall-neutral vs the old 3-leg " +
        "join under pairing at grow_sf10, kept for the " +
        "arboricity-bounded stream — BASELINE.md round-11, " +
        "probes/round11_ab_graph_sf10{,b}.jsonl"),
    "gr_link_predict" ->
      ("round-11: sketch/prune refinements of the pair aggregate " +
        "measured INFEASIBLE at the observed skew (top-100 floor " +
        "c100 = 4-5 at grown scale, 96% singleton pair keys) — the " +
        "exact Σ deg² aggregate IS the floor, cap knob the lever; " +
        "probes/round11_linkpred_skew.json, BASELINE.md round-11"),
    "sim_ivf_train" ->
      ("round-11 gate for the training run the bench times with a " +
        "memo reset per rep; the catalogue fn reads the per-JVM memo " +
        "(published-artifact shape), oracle replays the full Lloyd " +
        "run via the shared kmCtes chain"),
    "pipe_warc_roundtrip" ->
      ("round-11: corpus -> WARC bytes -> corpus through the Warc " +
        "sink + splittable payload-pruning DSv2 reader (chunkBytes " +
        "256k forces multi-split planning); the 0-exchange plan is " +
        "the eager gate checkpoint — source behavior is gated by " +
        "WarcSourceSpec (framing, splits, pruned ReadSchema, " +
        "malformed aborts). Round-12: planning reads the sink's " +
        "sidecar split index (one mark per ~64 KiB, freshness-checked)" +
        " and otherwise skims as a one-task-per-file Spark job — " +
        "never driver-serial over total records"),
    "pipe_warc_gz_roundtrip" ->
      ("round-12: the same roundtrip oracle over PER-RECORD GZIP " +
        "members (the Common Crawl layout) — members are " +
        "self-delimiting so member boundaries are exact split points; " +
        "one reused Deflater/Inflater per task (a native zlib stream " +
        "per record measured 12x slower at grow_sf1, " +
        "probes/round12_warc_gz_probe.jsonl)"),
    "pipe_warc_gz_url_profile" ->
      ("round-12: header-only audit over the .warc.gz fixture — " +
        "pruning skips payload MATERIALIZATION; the I/O-level " +
        "header-only-bytes win belongs to plain WARC (gzip cannot " +
        "seek), which this gate documents by existing"),
    "pipe_warc_http_parse" ->
      ("round-12: application/http payloads (the real Common Crawl " +
        "record shape) split into status/headers/body with codegen " +
        "builtins (regexp status line, instr+substr CRLFCRLF " +
        "boundary); body byte count + folded md5 vs the oracle's " +
        "direct reconstruction — one misplaced boundary byte fails " +
        "the hash"),
    "pipe_warc_wet_extract" ->
      ("round-12: WET-style text extraction over gzip-member " +
        "http-payload archives — tag-strip regex shared with the " +
        "oracle (DuckDB regexp_replace needs the explicit 'g' flag), " +
        "language from the X-Crawl-Lang response header; per-language " +
        "profile is the pre-language-filter audit"),
    "ev_late_data_audit" ->
      ("round-11: two-level prefix-scan watermark replay — the " +
        "SINGLE-PARTITION exchange carries only |stream|/10k " +
        "per-bucket maxima (benign, nests to 3 levels before it " +
        "binds); oracle replays the naive global running-max window, " +
        "so the gate proves the scalable formulation equals it"),
    "ta_url_parse" ->
      ("round-11 URL family: regexp-only component parse, all six " +
        "extracts in one whole-stage-codegen projection; the 1 " +
        "exchange is the output ORDER BY contract. Parse semantics " +
        "pinned against java.net.URI per row + crawl-URI edge " +
        "vectors (userinfo, pathless query, fragment routing) in " +
        "UrlQueriesSpec"),
    "td_url_canonical_dedup" ->
      ("round-11 URL family: canonical key is built in-row " +
        "(codegen), then ONE hash aggregate on canonical_url — the " +
        "100-TB shape is the same groupBy hash-partitioned on the " +
        "key; non-default ports survive canonicalization " +
        "(UrlQueriesSpec edge vectors)"),
    "td_blocklist_filter" ->
      ("round-11 URL family: BroadcastHashJoin against the blocklist " +
        "dim — UT1-scale (~4M domains, ~100MB) still broadcasts; " +
        "past that the same key becomes a bucketed semi-join. Spark " +
        "dim and oracle IN-list interpolate ONE Blocklist definition"),
    "td_url_host_shard" ->
      ("round-11 URL family: md5-derived shard is engine-stable " +
        "(unlike hash()/xxhash64 whose seeds differ per engine); at " +
        "scale the shard IS the repartition key, the 16-row profile " +
        "here is its audit"),
    "pipe_warc_url_profile" ->
      ("round-11 URL family x WARC source: reads the archive " +
        "selecting ONLY target_uri — the reader's required-column " +
        "pruning skips payload I/O (pruned ReadSchema pinned by " +
        "WarcSourceSpec); the 0-exchange plan is the eager gate " +
        "checkpoint, like pipe_warc_roundtrip"),
    "td_domain_cap_sample" ->
      ("round-11 URL family: deterministic k-smallest-salted-md5 " +
        "reservoir per registered domain (RefinedWeb anti-domination " +
        "cap); the window sort is bounded by the largest domain and " +
        "at 100 TB becomes a bounded-heap partial aggregate with " +
        "identical hash-rank semantics (the ta_stable_sample/" +
        "KmvDistinct pattern) — naive reservoir replayed + cap-binds " +
        "asserted in UrlQueriesSpec"),
  )

  /** Every node of an executed plan that actually runs, with its depth
    * below `root`: through adaptive wrappers and query stages (whose
    * real plan hangs off a field, not `children`), into each distinct
    * cached plan once (object identity: shared caches are shared
    * executions) and into subquery plans. ReusedExchange references are
    * leaves, so a reused exchange counts once.
    */
  def executedTree(root: SparkPlan): Seq[(SparkPlan, Int)] = {
    val seenCaches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan, depth: Int): Seq[(SparkPlan, Int)] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case im: InMemoryTableScanExec if seenCaches.add(im.relation.cachedPlan) =>
          Seq(im.relation.cachedPlan)
        case _ => Seq.empty
      }
      (p, depth) +: (inner ++ p.subqueries ++ p.children).flatMap(walk(_, depth + 1))
    }
    walk(root, 0)
  }

  def executedNodes(root: SparkPlan): Seq[SparkPlan] = executedTree(root).map(_._1)

  /** (exchanges, single-partition exchanges) that actually execute. */
  def countExchanges(root: SparkPlan): (Int, Int) = {
    val single = executedNodes(root).collect {
      case s: ShuffleExchangeExec => s.outputPartitioning == SinglePartition
      case _: BroadcastExchangeExec => false
    }
    (single.size, single.count(identity))
  }

  /** Window operators that run with no partition spec: each moves all
    * of its input into one task.
    */
  def unpartitionedWindows(root: SparkPlan): Int =
    executedNodes(root).count {
      case w: WindowExec => w.partitionSpec.isEmpty
      case _ => false
    }

  /** Operators that can run inside whole-stage codegen
    * (`CodegenSupport`) but run outside a stage, so each task builds
    * and runs their projections on its own: a `CodegenFallback`
    * expression or a lambda function (`filter`, `transform`) keeps its
    * whole operator out. A driver-local scan, which Spark never makes a
    * stage of, does not count.
    */
  def outsideCodegen(root: SparkPlan): Seq[SparkPlan] = {
    val inStage = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def stage(p: SparkPlan): Unit = p match {
      case _: InputAdapter =>
      case _ => inStage.add(p); p.children.foreach(stage)
    }
    val nodes = executedNodes(root)
    nodes.foreach {
      case w: WholeStageCodegenExec => stage(w.child)
      case _ =>
    }
    nodes.filter {
      case _: WholeStageCodegenExec | _: InputAdapter | _: LocalTableScanExec => false
      case p: CodegenSupport => !inStage.contains(p)
      case _ => false
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Session.local()

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of the query catalogue\n\n")
    sb.append(s"Generated by `graft.Plans` over `$sfDir`. For each query: " +
      "filters pushed into the parquet scan, pruned read schemas, join " +
      "strategies, and shuffle-exchange count of the (pre-AQE) plan. " +
      "Exchanges inside a cached (InMemoryRelation) subtree are counted " +
      "ONCE, matching execution — the cache materializes a single time " +
      "however many plan branches re-render it in the explain text. " +
      "SINGLE-PARTITION markers flag `Exchange SinglePartition` nodes: " +
      "benign when they carry a global scalar aggregate's one row " +
      "(e.g. qs_scalar_subquery's AVG), a scale bug when whole-data " +
      "rows flow through them — the round-1 vocabulary window was the " +
      "latter and is gone. UNPARTITIONED-WINDOW markers count `Window` " +
      "operators with no partition spec, which sort all of their input " +
      "in one task the same way.\n")

    QueryCatalog.all.foreach { q =>
      try {
        val executed = q.fn(spark, sfDir).queryExecution.executedPlan
        val plan = executed.toString
        val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq.distinct
          .filter(_.exists(_.isLetter))
        val schemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq.distinct
        val joins = plan.linesIterator.filter(_.contains("Join"))
          .map(_.trim.takeWhile(_ != '[').trim).toSeq.distinct
        // A SinglePartition exchange OUTSIDE the final presentation
        // sort/limit is a scale-killer (all data through one task);
        // the audit makes any such occurrence visible per query.
        val (exchanges, singleParts) = countExchanges(executed)
        val windows = unpartitionedWindows(executed)
        sb.append(s"\n## ${q.name}\n")
        sb.append(s"- oracle: ${if (q.oracle.isDefined) "SQL" else "rows-only (spec-verified)"}\n")
        if (pushed.nonEmpty) sb.append(pushed.map(p => s"- $p\n").mkString)
        sb.append(schemas.map(r => s"- $r\n").mkString)
        if (joins.nonEmpty) sb.append(s"- joins: ${joins.mkString("; ")}\n")
        sb.append(s"- exchanges: $exchanges" +
          (if (singleParts > 0) s" (SINGLE-PARTITION: $singleParts)" else "") +
          (if (windows > 0) s" (UNPARTITIONED-WINDOW: $windows)" else "") + "\n")
        notes.get(q.name).foreach(n => sb.append(s"- note: $n\n"))
      } catch {
        case e: Throwable => sb.append(s"\n## ${q.name}\nERROR: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
