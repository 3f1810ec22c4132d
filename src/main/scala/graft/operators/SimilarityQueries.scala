package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Q
import graft.model.Tables
import graft.util.Loop

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the correctness baseline and
  * random-hyperplane LSH bucketing as the scale path.
  *
  * Determinism: a float32×float32 product is exact in double (24-bit
  * mantissas), and each product is cast to DECIMAL(30,15) before
  * summation — decimal addition is exact and order-independent, so
  * Spark's array fold and DuckDB's SQL SUM agree bit-for-bit, which a
  * naive double summation would not.
  *
  * Scale notes: brute-force is one broadcast of the query vector and a
  * single codegen'd pass (zip_with + aggregate, no explode, no
  * shuffle before the global top-k); LSH bucketing shuffles once on
  * (vector, plane) and yields a bucket id to equi-join candidates on —
  * the 100 TB ANN path where only same-bucket pairs are compared.
  */
object SimilarityQueries {

  private val Dec = "decimal(30,15)"

  // Brute-force cosine top-k against the vec_id=0 query vector.
  private val cosineTopK = Q(
    "sim_cosine_topk",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.{cosine_approx, cosine_e9}
      val emb = Tables.embeddings(s, d)
      val query = emb.filter($"vec_id" === 0).select($"embedding".as("qe"))
      // Double-prefiltered exact top-k: score everything with the
      // cheap double kernel, find the 10th-best double value t, and
      // run the decimal-exact kernel only on candidates ≥ t − 2e-6.
      // Any true top-10 member must beat one of the double-top-10 on
      // the exact scale, and those sit ≥ t − 1e-12 — so the shortlist
      // provably contains the exact top-10 while the reported
      // cosine_e9 and the final ordering stay decimal-exact.
      val scored = graft.util.Cols.fanout(emb.filter($"vec_id" =!= 0))
        .crossJoin(broadcast(query))
        .select($"vec_id", $"embedding", $"qe",
          cosine_approx($"embedding", $"qe").as("capx"))
        .localCheckpoint() // feeds the threshold AND the shortlist
      val t10 = scored.orderBy($"capx".desc, $"vec_id").limit(10)
        .agg(min($"capx").as("t"))
      scored
        .crossJoin(broadcast(t10))
        .filter($"capx" >= $"t" - 2e-6)
        // scaled-integer cosine: decimal-exact inside the codegen'd
        // kernel, hash-comparable at 1e-9 resolution
        .select($"vec_id", cosine_e9($"embedding", $"qe").as("cosine_e9"))
        .orderBy($"cosine_e9".desc, $"vec_id")
        .limit(10)
    },
    Some("""WITH q AS (
           |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |sums AS (
           |  SELECT e.vec_id,
           |         SUM(CAST(CAST(e.embedding[i] AS DOUBLE) *
           |                  CAST(q.qe[i] AS DOUBLE) AS DECIMAL(30,15))) AS dot,
           |         SUM(CAST(CAST(e.embedding[i] AS DOUBLE) *
           |                  CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,15))) AS nb,
           |         SUM(CAST(CAST(q.qe[i] AS DOUBLE) *
           |                  CAST(q.qe[i] AS DOUBLE) AS DECIMAL(30,15))) AS na
           |  FROM embeddings e, q, range(1, 65) t(i)
           |  WHERE e.vec_id <> 0
           |  GROUP BY e.vec_id)
           |SELECT vec_id,
           |       CAST(round(CAST(dot AS DOUBLE) /
           |            sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9)
           |            AS BIGINT) AS cosine_e9
           |FROM sums
           |ORDER BY cosine_e9 DESC, vec_id
           |LIMIT 10""".stripMargin),
  )

  /** Unordered (vec_id, bucket, embedding) — shared by the bucket
    * query, the ANN, and near-dup so each reuse is one codegen'd
    * kernel call per row with no embedded sort.
    */
  private def bucketed(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    import graft.functions.exprs.lsh_bucket
    graft.util.Cols.fanout(Tables.embeddings(s, d))
      .select($"vec_id", lsh_bucket($"embedding").as("bucket"), $"embedding")
  }

  /** ADAPTIVE LSH geometry (the round-8 answer to the measured
    * 1.42/decade `sim_knn_graph` exponent): plane count grows with
    * the corpus so bucket occupancy — and with it the Σocc²
    * candidate law — stays flat. planes = ceil(log₂(n / 250)) clamped
    * to [6, 20]: ≤ 16k vectors keeps the 6-plane fixture geometry
    * every LSH oracle replays bit-for-bit; each corpus doubling past
    * that adds one plane (target occupancy 250, 20 planes = 1M
    * buckets ≈ 260M vectors before the clamp binds — past that,
    * raise the cap). The count is parquet-metadata-only.
    */
  def lshGeometry(n: Long): Int =
    math.max(6, math.min(20,
      math.ceil(math.log(n / 250.0) / math.log(2.0)).toInt))

  /** (vec_id, bucket, bucket2, embedding) at the corpus-adaptive
    * geometry — the whole-corpus entries (kNN graph, edge coverage)
    * bucket through THIS; the fixed-panel entries (bucket listing,
    * 10-probe ANN, near-dup) keep the 6-plane contract their oracles
    * pin at any scale.
    */
  private def bucketedAdaptive(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    import graft.functions.exprs.{lsh_bucket_flip_n, lsh_bucket_n}
    val p = lshGeometry(Tables.embeddings(s, d).count())
    graft.util.Cols.fanout(Tables.embeddings(s, d))
      .select($"vec_id", lsh_bucket_n($"embedding", p).as("bucket"),
        lsh_bucket_flip_n($"embedding", p).as("bucket2"), $"embedding")
  }

  // Random-hyperplane LSH bucket assignment: 6 md5-derived ±1
  // hyperplanes → 64 buckets; candidates for ANN are same-bucket pairs.
  private val lshBuckets = Q(
    "sim_lsh_bucket",
    (s, d) => {
      import s.implicits._
      bucketed(s, d).select($"vec_id", $"bucket").orderBy($"vec_id")
    },
    Some("""WITH votes AS (
           |  SELECT e.vec_id, p,
           |         SUM(CASE WHEN substr(md5(p || '-' || i), 1, 1) < '8'
           |                  THEN CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,15))
           |                  ELSE CAST(-CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,15))
           |             END) AS proj
           |  FROM embeddings e, range(1, 65) t(i), range(0, 6) pl(p)
           |  GROUP BY e.vec_id, p)
           |SELECT vec_id,
           |       CAST(sum(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END)
           |            AS BIGINT) AS bucket
           |FROM votes
           |GROUP BY vec_id
           |ORDER BY vec_id""".stripMargin),
  )

  /** The LSH-ANN oracle chain (bucket votes → bucket ids → same-bucket
    * candidate join → decimal-exact cosine → per-probe top-3 rank),
    * shared between `sim_lsh_ann_topk` and the recall/MRR eval entry so
    * the two oracles cannot drift apart.
    */
  private val annOracleCtes =
    """votes AS (
      |  SELECT e.vec_id, p,
      |         SUM(CASE WHEN substr(md5(p || '-' || i), 1, 1) < '8'
      |                  THEN CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,15))
      |                  ELSE CAST(-CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,15))
      |             END) AS proj
      |  FROM embeddings e, range(1, 65) t(i), range(0, 6) pl(p)
      |  GROUP BY e.vec_id, p),
      |buckets AS (
      |  SELECT vec_id,
      |         sum(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
      |  FROM votes GROUP BY vec_id),
      |be AS (
      |  SELECT b.vec_id, b.bucket, e.embedding
      |  FROM buckets b JOIN embeddings e USING (vec_id)),
      |cand AS (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
      |         p.embedding AS pe, c.embedding AS ce
      |  FROM be p JOIN be c ON p.bucket = c.bucket AND p.vec_id <> c.vec_id
      |  WHERE p.vec_id < 10),
      |sums AS (
      |  SELECT probe_id, cand_id,
      |         SUM(CAST(CAST(pe[k] AS DOUBLE) * CAST(ce[k] AS DOUBLE)
      |             AS DECIMAL(30,15))) AS dot,
      |         SUM(CAST(CAST(pe[k] AS DOUBLE) * CAST(pe[k] AS DOUBLE)
      |             AS DECIMAL(30,15))) AS na,
      |         SUM(CAST(CAST(ce[k] AS DOUBLE) * CAST(ce[k] AS DOUBLE)
      |             AS DECIMAL(30,15))) AS nb
      |  FROM cand, range(1, 65) t(k)
      |  GROUP BY probe_id, cand_id),
      |ranked AS (
      |  SELECT probe_id, cand_id,
      |         row_number() OVER (
      |           PARTITION BY probe_id
      |           ORDER BY CAST(round(CAST(dot AS DOUBLE) /
      |                    sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9)
      |                    AS BIGINT) DESC, cand_id) AS rk
      |  FROM sums)""".stripMargin

  // SQL-TEXT SURFACE for the similarity family — the same LSH-bounded
  // ANN as sim_lsh_ann_topk, but written as `spark.sql` text through
  // the REGISTERED kernel functions (lsh_bucket, cosine_e9), the way
  // a SQL-only user would call the engine. Gated by the same DuckDB
  // oracle as the DataFrame twin, so the two surfaces can never
  // drift; same scale shape (the join never leaves the bucket key).
  private val sqlSurfaceSimilarity = Q(
    "sql_surface_similarity",
    (s, d) => {
      graft.functions.exprs.register(s)
      graft.util.Cols.fanout(Tables.embeddings(s, d))
        .createOrReplaceTempView("graft_embeddings")
      s.sql(
        """WITH b AS (
          |  SELECT vec_id, lsh_bucket(embedding) AS bucket, embedding
          |  FROM graft_embeddings),
          |cand AS (
          |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
          |         cosine_e9(p.embedding, c.embedding) AS cosine
          |  FROM b p JOIN b c ON p.bucket = c.bucket AND p.vec_id <> c.vec_id
          |  WHERE p.vec_id < 10)
          |SELECT probe_id, rk, cand_id FROM (
          |  SELECT probe_id, cand_id,
          |         row_number() OVER (PARTITION BY probe_id
          |           ORDER BY cosine DESC, cand_id) AS rk
          |  FROM cand)
          |WHERE rk <= 3
          |ORDER BY probe_id, rk""".stripMargin)
    },
    Some(s"""WITH $annOracleCtes
            |SELECT probe_id, rk, cand_id
            |FROM ranked WHERE rk <= 3
            |ORDER BY probe_id, rk""".stripMargin),
  )

  // ANN via LSH: top-3 cosine neighbours per probe vector, computed
  // only among same-bucket candidates (the join never leaves the
  // bucket key — this is the piece that scales).
  private val lshAnn = Q(
    "sim_lsh_ann_topk",
    (s, d) => {
      import s.implicits._
      // bucketed() feeds BOTH join sides (probes + candidates); Spark
      // reuses only exchanges, so without a checkpoint the whole
      // scan+kernel subplan runs twice (the r2 4x bench regression).
      val withBucket = bucketed(s, d).localCheckpoint()
      val probes = withBucket.filter($"vec_id" < 10)
        .select($"vec_id".as("probe_id"), $"bucket", $"embedding".as("pe"))
      import graft.functions.exprs.cosine_e9
      val scored = probes
        .join(withBucket.withColumnRenamed("vec_id", "cand_id"), Seq("bucket"))
        .filter($"cand_id" =!= $"probe_id")
        .select($"probe_id", $"cand_id",
          cosine_e9($"pe", $"embedding").as("cosine"))
      scored
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"probe_id").orderBy($"cosine".desc, $"cand_id")))
        .filter($"rk" <= 3)
        .select($"probe_id", $"rk", $"cand_id")
        .orderBy($"probe_id", $"rk")
    },
    // Oracle replays the full chain: bucket assignment (same CTEs as
    // td_embedding_neardup), same-bucket candidate join, decimal-exact
    // cosine, per-probe row_number top-3.
    Some(s"""WITH $annOracleCtes
            |SELECT probe_id, rk, cand_id
            |FROM ranked WHERE rk <= 3
            |ORDER BY probe_id, rk""".stripMargin),
  )

  // kNN-GRAPH CONSTRUCTION (the neighbor-graph every UMAP/HNSW/label-
  // propagation-over-embeddings pipeline builds first): top-3 cosine
  // neighbours for EVERY vector — sim_lsh_ann_topk generalized from
  // the 10-probe sample to the whole corpus, which is exactly the
  // step where the LSH bucket bound earns its keep: the self-join
  // never leaves the bucket key, so candidate volume is Σ bucket²
  // (∝ n at stable bucket occupancy), never n². Exact decimal cosine
  // reranks within the bucket; per-node top-3 is a window over
  // bucket-bounded candidate lists. Round 8: MULTI-PROBE (Lv VLDB'07,
  // the round-7 ask) — each vector also probes the companion bucket
  // with its lowest-|projection| bit flipped (`lsh_bucket_flip`), so
  // a node whose primary bucket is a singleton still reaches the
  // neighbours sitting just across its least-confident hyperplane.
  // Candidate volume stays bucket-bounded at exactly ≤2× the single-
  // probe law (2 probe buckets/vector, candidates indexed by primary
  // bucket only — the two probe buckets differ in one bit, so no
  // (vec, cand) pair can join twice and no dedup pass is needed);
  // coverage gain is measured by sim_knn_edge_coverage. Output is the
  // adjacency list (vec_id, rk, nbr, cosine_e9).
  private val knnGraph = Q(
    "sim_knn_graph",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.cosine_e9
      // ADAPTIVE geometry (lshGeometry): 6 planes at gate scales —
      // bit-identical to the oracle's replay — growing ∝ log n past
      // 16k vectors to hold the candidate law linear (the oracle
      // replays the ≤16k-vector geometry; above it the ScalaTest
      // replay and the decade probes are the gate, the same caveat
      // discipline as Multimodal.phashGeometry)
      import graft.functions.exprs.cosine_approx
      val withBucket = bucketedAdaptive(s, d)
        .localCheckpoint() // both join sides
      val probes = withBucket
        .select($"vec_id", explode(array($"bucket", $"bucket2")).as("bucket"),
          $"embedding".as("pe"))
      // Double-prefiltered exact top-k PER NODE (the cosineTopK
      // discipline applied to the whole-corpus graph — the round-8
      // grow_sf10 probe measured the decimal kernel on the full
      // candidate set as 98% of the 299 s wall): score every
      // candidate with the ~100x cheaper double kernel, keep per node
      // everything within 2e-6 of its 3rd-best double value (the
      // provable shortlist: double vs decimal-exact cosine differ by
      // far less than the margin, so any true exact-top-3 member
      // survives), and run the exact kernel only on the ~k-per-node
      // survivors. The reported cosine_e9 and the final ordering stay
      // decimal-exact — the oracle is unchanged.
      val cand = probes
        .join(withBucket.select($"vec_id".as("cand_id"), $"bucket", $"embedding"),
          Seq("bucket"))
        .filter($"cand_id" =!= $"vec_id")
        .select($"vec_id", $"cand_id", $"pe", $"embedding",
          cosine_approx($"pe", $"embedding").as("capx"))
      val wNode = org.apache.spark.sql.expressions.Window.partitionBy($"vec_id")
      val shortlist = cand
        .withColumn("arn", row_number().over(
          wNode.orderBy($"capx".desc, $"cand_id")))
        .withColumn("t3", max(when($"arn" === 3, $"capx")).over(wNode))
        .filter($"t3".isNull || $"capx" >= $"t3" - 2e-6)
      val scored = shortlist
        .select($"vec_id", $"cand_id", cosine_e9($"pe", $"embedding").as("cosine_e9"))
      scored
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"vec_id").orderBy($"cosine_e9".desc, $"cand_id")))
        .filter($"rk" <= 3)
        .select($"vec_id", $"rk", $"cand_id".as("nbr"), $"cosine_e9")
        .orderBy($"vec_id", $"rk")
    },
    Some("""WITH kg_votes AS (
           |  SELECT e.vec_id, p,
           |         SUM(CASE WHEN substr(md5(p || '-' || i), 1, 1) < '8'
           |                  THEN CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,15))
           |                  ELSE CAST(-CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,15))
           |             END) AS proj
           |  FROM embeddings e, range(1, 65) t(i), range(0, 6) pl(p)
           |  GROUP BY e.vec_id, p),
           |kg_flip AS (
           |  SELECT vec_id, p AS minp FROM (
           |    SELECT vec_id, p,
           |           row_number() OVER (PARTITION BY vec_id
           |                              ORDER BY abs(proj), p) AS rn
           |    FROM kg_votes) WHERE rn = 1),
           |kg_b AS (
           |  SELECT vec_id,
           |         sum(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END)
           |           AS bucket
           |  FROM kg_votes GROUP BY vec_id),
           |kg_be AS (
           |  SELECT b.vec_id, b.bucket,
           |         xor(b.bucket, 1::BIGINT << f.minp) AS bucket2,
           |         e.embedding
           |  FROM kg_b b JOIN kg_flip f USING (vec_id)
           |  JOIN embeddings e USING (vec_id)),
           |kg_cand AS (
           |  SELECT p.vec_id, c.vec_id AS nbr,
           |         p.embedding AS pe, c.embedding AS ce
           |  FROM kg_be p JOIN kg_be c
           |    ON (c.bucket = p.bucket OR c.bucket = p.bucket2)
           |   AND p.vec_id <> c.vec_id),
           |kg_sums AS (
           |  SELECT vec_id, nbr,
           |         SUM(CAST(CAST(pe[k] AS DOUBLE) * CAST(ce[k] AS DOUBLE)
           |             AS DECIMAL(30,15))) AS dot,
           |         SUM(CAST(CAST(pe[k] AS DOUBLE) * CAST(pe[k] AS DOUBLE)
           |             AS DECIMAL(30,15))) AS na,
           |         SUM(CAST(CAST(ce[k] AS DOUBLE) * CAST(ce[k] AS DOUBLE)
           |             AS DECIMAL(30,15))) AS nb
           |  FROM kg_cand, range(1, 65) t(k)
           |  GROUP BY vec_id, nbr),
           |kg_r AS (
           |  SELECT vec_id, nbr,
           |         CAST(round(CAST(dot AS DOUBLE) /
           |              sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9)
           |              AS BIGINT) AS cosine_e9,
           |         row_number() OVER (
           |           PARTITION BY vec_id
           |           ORDER BY CAST(round(CAST(dot AS DOUBLE) /
           |                    sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9)
           |                    AS BIGINT) DESC, nbr) AS rk
           |  FROM kg_sums)
           |SELECT vec_id, CAST(rk AS INT) AS rk, nbr, cosine_e9
           |FROM kg_r WHERE rk <= 3
           |ORDER BY vec_id, rk""".stripMargin),
  )

  // kNN-GRAPH EDGE COVERAGE (the round-7 ask alongside multi-probe):
  // what fraction of nodes actually GET neighbours — single-probe LSH
  // leaves every singleton-primary-bucket node edgeless, and this is
  // the metric that makes that loss (and the multi-probe recovery)
  // visible instead of silent. A node has out-edges under single
  // probe iff its primary bucket holds >1 vector; under multi-probe
  // additionally iff ANY vector's primary bucket equals its flip
  // bucket. Computed from the ≤64-row bucket histogram broadcast back
  // onto the assignment — one corpus scan, two tiny joins, 1-row
  // output (n_nodes, covered counts, coverage ppm both ways).
  private val knnEdgeCoverage = Q(
    "sim_knn_edge_coverage",
    (s, d) => {
      import s.implicits._
      // same adaptive geometry (and the same oracle caveat) as
      // sim_knn_graph — coverage must measure the graph actually built
      val b = bucketedAdaptive(s, d)
        .select($"vec_id", $"bucket", $"bucket2")
      val sizes = b.groupBy($"bucket").agg(count(lit(1)).as("sz"))
      b.join(broadcast(sizes), Seq("bucket"))
        .join(broadcast(sizes.select($"bucket".as("bucket2"), $"sz".as("sz2"))),
          Seq("bucket2"), "left")
        .na.fill(0L, Seq("sz2"))
        .select($"vec_id",
          when($"sz" > 1, 1L).otherwise(0L).as("cov1"),
          when($"sz" > 1 || $"sz2" > 0, 1L).otherwise(0L).as("cov2"))
        .agg(count(lit(1)).as("n_nodes"),
          sum($"cov1").as("covered_single"),
          sum($"cov2").as("covered_multi"))
        .select($"n_nodes", $"covered_single", $"covered_multi",
          expr("covered_single * 1000000 DIV n_nodes").as("cov_single_ppm"),
          expr("covered_multi * 1000000 DIV n_nodes").as("cov_multi_ppm"))
    },
    Some("""WITH kc_votes AS (
           |  SELECT e.vec_id, p,
           |         SUM(CASE WHEN substr(md5(p || '-' || i), 1, 1) < '8'
           |                  THEN CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,15))
           |                  ELSE CAST(-CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,15))
           |             END) AS proj
           |  FROM embeddings e, range(1, 65) t(i), range(0, 6) pl(p)
           |  GROUP BY e.vec_id, p),
           |kc_flip AS (
           |  SELECT vec_id, p AS minp FROM (
           |    SELECT vec_id, p,
           |           row_number() OVER (PARTITION BY vec_id
           |                              ORDER BY abs(proj), p) AS rn
           |    FROM kc_votes) WHERE rn = 1),
           |kc_b AS (
           |  SELECT vec_id,
           |         sum(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END)
           |           AS bucket
           |  FROM kc_votes GROUP BY vec_id),
           |kc_a AS (
           |  SELECT b.vec_id, b.bucket,
           |         xor(b.bucket, 1::BIGINT << f.minp) AS bucket2
           |  FROM kc_b b JOIN kc_flip f USING (vec_id)),
           |kc_sz AS (
           |  SELECT bucket, CAST(count(*) AS BIGINT) AS sz
           |  FROM kc_a GROUP BY 1),
           |kc_cov AS (
           |  SELECT a.vec_id,
           |         CASE WHEN s1.sz > 1 THEN 1 ELSE 0 END AS cov1,
           |         CASE WHEN s1.sz > 1 OR coalesce(s2.sz, 0) > 0
           |              THEN 1 ELSE 0 END AS cov2
           |  FROM kc_a a
           |  JOIN kc_sz s1 ON s1.bucket = a.bucket
           |  LEFT JOIN kc_sz s2 ON s2.bucket = a.bucket2)
           |SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           |       CAST(sum(cov1) AS BIGINT) AS covered_single,
           |       CAST(sum(cov2) AS BIGINT) AS covered_multi,
           |       CAST(sum(cov1) * 1000000 // count(*) AS BIGINT) AS cov_single_ppm,
           |       CAST(sum(cov2) * 1000000 // count(*) AS BIGINT) AS cov_multi_ppm
           |FROM kc_cov""".stripMargin),
  )

  // EMBEDDING DISTRIBUTION DRIFT (the ML-ops monitor for an embedding
  // pipeline: did the centroid move between two corpus slices?).
  // Slices are vec_id parity halves; the statistic is the cosine
  // between the two slices' centroid vectors — computed on the RAW
  // per-dimension DECIMAL sums, with NO mean division anywhere:
  // cosine is scale-invariant, so cos(Σa, Σb) == cos(mean_a, mean_b)
  // exactly. The 64 cross-products of those sums follow the gram
  // entry's device — multiply in DOUBLE (deterministic IEEE, same in
  // both engines), cast each product to DECIMAL(38,6) BEFORE the sum
  // (order-independent; a decimal×decimal product here would overflow
  // precision 38 and the two engines round the overflow differently —
  // measured e-8 divergence). A drifting
  // pipeline shows cosine dropping from ~1. Scale shape: one
  // fanout pass → 2·d partial sums (map-side combined), then 1-row
  // algebra — corpus-size-free after the aggregate.
  private val embeddingDrift = Q(
    "sim_embedding_drift",
    (s, d) => {
      import s.implicits._
      val emb = graft.util.Cols.fanout(Tables.embeddings(s, d))
      val sums = emb
        .select(($"vec_id" % 2).as("half"),
          posexplode($"embedding").as(Seq("k", "v")))
        .groupBy($"half", $"k")
        .agg(sum($"v".cast("double").cast(Dec)).as("s"))
      val paired = sums.groupBy($"k")
        .agg(max(when($"half" === 0, $"s")).as("a"),
          max(when($"half" === 1, $"s")).as("b"))
      val p = (x: Column, y: Column) =>
        (x.cast("double") * y.cast("double")).cast("decimal(38,6)")
      paired.agg(
        sum(p($"a", $"b")).as("dot"),
        sum(p($"a", $"a")).as("na"),
        sum(p($"b", $"b")).as("nb"),
        count(lit(1)).as("dims"))
        .select($"dims",
          expr("CAST(round(CAST(dot AS DOUBLE) /" +
            " sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9) AS BIGINT)")
            .as("centroid_cosine_e9"))
    },
    Some("""WITH ed_s AS (
           |  SELECT e.vec_id % 2 AS half, i AS k,
           |         SUM(CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,15)))
           |           AS s
           |  FROM embeddings e, range(1, 65) t(i)
           |  GROUP BY 1, 2),
           |ed_p AS (
           |  SELECT k,
           |         max(CASE WHEN half = 0 THEN s END) AS a,
           |         max(CASE WHEN half = 1 THEN s END) AS b
           |  FROM ed_s GROUP BY k)
           |SELECT CAST(count(*) AS BIGINT) AS dims,
           |       CAST(round(CAST(sum(CAST(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)
           |                             AS DECIMAL(38,6))) AS DOUBLE) /
           |            sqrt(CAST(sum(CAST(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
           |                              AS DECIMAL(38,6))) AS DOUBLE)
           |                 * CAST(sum(CAST(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)
           |                                 AS DECIMAL(38,6))) AS DOUBLE))
           |            * 1e9) AS BIGINT)
           |         AS centroid_cosine_e9
           |FROM ed_p""".stripMargin),
  )

  // Embedding-cosine near-duplicate pairs: LSH candidates verified by
  // exact (decimal) cosine >= 0.4. The operator IS the two-stage
  // LSH-then-verify pipeline, and the oracle replays both stages.
  private val nearDup = Q(
    "td_embedding_neardup",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.cosine_e9
      // checkpoint: feeds both sides of the self-join below
      import graft.functions.exprs.cosine_approx
      val bkt = bucketed(s, d).localCheckpoint()
      val a = bkt.select($"vec_id".as("vec1"), $"bucket", $"embedding".as("ea"))
      val b = bkt.select($"vec_id".as("vec2"), $"bucket".as("bucket2"), $"embedding".as("eb"))
      a.join(b, $"bucket" === $"bucket2" && $"vec1" < $"vec2")
        // double prefilter (error ≤ 1e-12, margin 1e-6 — see
        // VectorKernels.cosineApprox): the decimal-exact kernel runs
        // only on near-threshold survivors, and the reported value +
        // final predicate stay decimal-exact. The 1e-9 HALF_UP
        // rounding means exact cosines down to 0.4 - 5e-10 can still
        // round to the 4e8 gate; the margin covers that too.
        .filter(cosine_approx($"ea", $"eb") >= 0.4 - 1e-6)
        .select($"vec1", $"vec2", cosine_e9($"ea", $"eb").as("cosine_e9"))
        .filter($"cosine_e9" >= 400000000L)
        .orderBy($"vec1", $"vec2")
    },
    Some("""WITH votes AS (
           |  SELECT e.vec_id, p,
           |         SUM(CASE WHEN substr(md5(p || '-' || i), 1, 1) < '8'
           |                  THEN CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,15))
           |                  ELSE CAST(-CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,15))
           |             END) AS proj
           |  FROM embeddings e, range(1, 65) t(i), range(0, 6) pl(p)
           |  GROUP BY e.vec_id, p),
           |buckets AS (
           |  SELECT vec_id,
           |         sum(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
           |  FROM votes GROUP BY vec_id),
           |be AS (
           |  SELECT b.vec_id, b.bucket, e.embedding
           |  FROM buckets b JOIN embeddings e USING (vec_id)),
           |pairs AS (
           |  SELECT a.vec_id AS vec1, b.vec_id AS vec2,
           |         a.embedding AS ea, b.embedding AS eb
           |  FROM be a JOIN be b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
           |sums AS (
           |  SELECT vec1, vec2,
           |         SUM(CAST(CAST(ea[k] AS DOUBLE) * CAST(eb[k] AS DOUBLE)
           |             AS DECIMAL(30,15))) AS dot,
           |         SUM(CAST(CAST(ea[k] AS DOUBLE) * CAST(ea[k] AS DOUBLE)
           |             AS DECIMAL(30,15))) AS na,
           |         SUM(CAST(CAST(eb[k] AS DOUBLE) * CAST(eb[k] AS DOUBLE)
           |             AS DECIMAL(30,15))) AS nb
           |  FROM pairs, range(1, 65) t(k)
           |  GROUP BY vec1, vec2)
           |SELECT vec1, vec2, cosine_e9 FROM (
           |  SELECT vec1, vec2,
           |         CAST(round(CAST(dot AS DOUBLE) /
           |              sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9)
           |              AS BIGINT) AS cosine_e9
           |  FROM sums)
           |WHERE cosine_e9 >= 400000000
           |ORDER BY vec1, vec2""".stripMargin),
  )

  /** ZERO-SHUFFLE exact argmax assignment of every vector to its
    * nearest (cosine) centroid: the ≤8 centroids ride along as
    * LITERALS inside one codegen'd projection — no crossJoin fan-out,
    * no per-vector window shuffle, nothing moves but the scan. Each
    * row computes the cheap double cosine against all centroids,
    * takes their max, and runs the decimal-exact kernel only on
    * centroids within the 2e-6 margin of it (usually exactly one);
    * any centroid outside the margin is > 1e3 units below the winner
    * on the e9 integer scale, so it can neither win nor tie — the
    * winner (max by exact cos, ties to the smallest cent_id, via an
    * array_max over (cos_e9, −cent_id) structs) is bit-identical to
    * the full exact ranking the oracle replays. This is the shape
    * that scales: assignment cost is one arithmetic pass over the
    * corpus, independent of cluster count semantics.
    */
  private def rowLocalAssign(
      emb: org.apache.spark.sql.DataFrame,
      cents: Seq[(Long, Array[Float])],
      keep: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    import emb.sparkSession.implicits._
    import graft.functions.exprs.{cosine_approx, cosine_e9}
    val capxs = cents.map { case (_, ce) =>
      cosine_approx($"embedding", typedLit(ce))
    }
    val cmax = greatest(capxs: _*)
    val scored = cents.zip(capxs).map { case ((id, ce), capx) =>
      when(capx >= cmax - lit(2e-6),
        struct(
          cosine_e9($"embedding", typedLit(ce)).as("cos_e9"),
          lit(-id).as("neg_cent")))
    }
    emb.select($"vec_id" +: $"embedding" +: keep.map(col): _*)
      .withColumn("best", array_max(array(scored: _*)))
      .select($"vec_id" +: $"embedding" +: keep.map(col) :+
        (-$"best.neg_cent").cast("long").as("cent_id"): _*)
  }

  /** Stable-hash training seed: the k corpus vectors with the
    * smallest (md5(vec_id), vec_id) order, re-numbered 0..k-1 in that
    * order. Unlike the old `vec_id < 8` seed this needs NO contiguous
    * id prefix — any corpus with ≥ k vectors seeds deterministically,
    * and both engines replay the pick (Spark md5 of the utf-8 id
    * string == DuckDB md5(CAST(vec_id AS VARCHAR))). The seed is a
    * TakeOrdered(k) — no full sort at scale.
    */
  private def stableSeed(
      emb: org.apache.spark.sql.DataFrame, k: Int): Seq[(Long, Array[Float])] = {
    import emb.sparkSession.implicits._
    val rows = emb
      .select($"vec_id", $"embedding",
        md5($"vec_id".cast("string").cast("binary")).as("h"))
      .orderBy($"h", $"vec_id").limit(k)
      .select($"embedding").collect()
    require(rows.length == k,
      s"stable-hash seed needs $k vectors, corpus has only ${rows.length}")
    rows.zipWithIndex.map { case (r, i) =>
      (i.toLong, r.getSeq[Float](0).toArray)
    }.toSeq
  }

  /** Cosine k-means centroids: `iters` Lloyd iterations from the
    * deterministic [[stableSeed]] of size k. The centroid update keeps the
    * UN-normalized per-dimension sum — cosine is invariant under
    * positive scaling, so the sum IS the mean direction — computed as
    * exact DECIMAL(30,15) aggregates, rounded to a 1e-4 grid, and
    * scaled to integer-valued floats (|ci| ≤ 2^24 at these magnitudes,
    * so float, double, and DuckDB BIGINT all represent it exactly and
    * every product inside the cosine kernel stays a ≤48-bit-mantissa
    * double). That is what lets DuckDB replay the full training run
    * bit-for-bit. The ≤8-row centroids live on the driver between
    * iterations (the published-artifact shape), so one iteration is a
    * single job: the zero-shuffle [[rowLocalAssign]] projection
    * feeding one partial-agg shuffle on (cent_id, dim).
    */
  private def lloydCentroids(
      s: org.apache.spark.sql.SparkSession, d: String,
      iters: Int, k: Int): Seq[(Long, Array[Float])] = {
    import s.implicits._
    def toSeq(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)
    val emb = graft.util.Cols.fanout(Tables.embeddings(s, d))
      .select($"vec_id", $"embedding")
      .localCheckpoint() // scanned once per iteration
    var cents = stableSeed(emb, k)
    for (_ <- 1 to iters) {
      cents = toSeq(rowLocalAssign(emb, cents)
        .select($"cent_id", posexplode($"embedding").as(Seq("k", "x")))
        .groupBy($"cent_id", $"k")
        .agg(sum($"x".cast("double").cast(Dec)).as("csum"))
        // 1e-4 grid → exact integer (two steps to dodge Spark's
        // precision-capped decimal multiply)
        .select($"cent_id", $"k",
          (round($"csum", 4).cast("decimal(20,4)") * lit(10000)).cast("long").as("ci"))
        .groupBy($"cent_id")
        .agg(array_sort(collect_list(struct($"k", $"ci"))).as("kc"))
        .select($"cent_id",
          transform($"kc", e => e.getField("ci").cast("float")).as("ce"))
        .collect())
    }
    cents
  }

  /** Train-once / assign-many: [[lloydCentroids]] is deterministic for
    * a given (dir, iters), so the trained ≤8-row centroid table is
    * computed once per JVM and handed to every later caller — the two
    * IVF catalogue queries share one training run the same way their
    * oracles share the [[KmCtes]] prefix. In a real deployment the
    * trained centroids are a tiny published artifact; re-deriving
    * them inside every query would multiply the most expensive stage
    * of the index by its consumer count.
    */
  private val centCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int), Seq[(Long, Array[Float])]]()
  private def trainedCentroids(
      s: org.apache.spark.sql.SparkSession, d: String,
      iters: Int, k: Int): Seq[(Long, Array[Float])] =
    centCache.computeIfAbsent((d, iters, k), _ => lloydCentroids(s, d, iters, k))

  /** Bench hooks: the per-JVM memo means catalogue timings for the two
    * IVF queries are ASSIGNMENT-ONLY (the production reading — trained
    * centroids are a published artifact, not per-query work). So the
    * bench measures training explicitly: reset the memo, force a train,
    * time it, reported as its own `sim_ivf_train` entry. A training
    * regression then moves a first-class bench number instead of hiding
    * inside rep 1 of whichever IVF query runs first.
    */
  def resetCentroidCache(): Unit = centCache.clear()
  def trainIvf(s: org.apache.spark.sql.SparkSession, d: String, k: Int = 8): Unit = {
    trainedCentroids(s, d, iters = 2, k = k); ()
  }

  /** The IVF cell assignment of every embedding at `kCents` trained
    * centroids, checkpointed: assigned once, probed many times.
    */
  def ivfAssigned(s: org.apache.spark.sql.SparkSession, d: String,
      kCents: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    rowLocalAssign(graft.util.Cols.fanout(Tables.embeddings(s, d)),
        trainedCentroids(s, d, iters = 2, k = kCents))
      .localCheckpoint()
  }

  /** DuckDB replay of [[lloydCentroids]] (2 iterations, k centroids)
    * + the final cell assignment, shared by the IVF oracles: the
    * [[stableSeed]] pick, seed assign (float centroids), integer-grid
    * update, re-assign (integer centroids), second update, assignment
    * against the trained centroids. c2 is (cent_id, k, ci) long-form;
    * `embedding[c.k]` pairs each dimension with its centroid
    * component.
    */
  private def kmCtes(k: Int): String =
    s"""WITH c0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT)
      |           AS cent_id,
      |         embedding AS ce
      |  FROM (SELECT vec_id, embedding, md5(CAST(vec_id AS VARCHAR)) AS h
      |        FROM embeddings ORDER BY h, vec_id LIMIT $k)),""".stripMargin +
    """
      |s1 AS (
      |  SELECT e.vec_id, c.cent_id,
      |         SUM(CAST(CAST(e.embedding[k] AS DOUBLE) *
      |                  CAST(c.ce[k] AS DOUBLE) AS DECIMAL(30,15))) AS dot,
      |         SUM(CAST(CAST(e.embedding[k] AS DOUBLE) *
      |                  CAST(e.embedding[k] AS DOUBLE) AS DECIMAL(30,15))) AS na,
      |         SUM(CAST(CAST(c.ce[k] AS DOUBLE) *
      |                  CAST(c.ce[k] AS DOUBLE) AS DECIMAL(30,15))) AS nb
      |  FROM embeddings e CROSS JOIN c0 c, range(1, 65) t(k)
      |  GROUP BY e.vec_id, c.cent_id),
      |a1 AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT vec_id, cent_id,
      |           row_number() OVER (
      |             PARTITION BY vec_id
      |             ORDER BY CAST(round(CAST(dot AS DOUBLE) /
      |                      sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9)
      |                      AS BIGINT) DESC, cent_id) AS rn
      |    FROM s1) WHERE rn = 1),
      |c1 AS (
      |  SELECT a.cent_id, t.k,
      |         CAST(round(SUM(CAST(CAST(e.embedding[t.k] AS DOUBLE)
      |                             AS DECIMAL(30,15))), 4) * 10000 AS BIGINT) AS ci
      |  FROM embeddings e JOIN a1 a USING (vec_id), range(1, 65) t(k)
      |  GROUP BY a.cent_id, t.k),
      |s2 AS (
      |  SELECT e.vec_id, c.cent_id,
      |         SUM(CAST(CAST(e.embedding[c.k] AS DOUBLE) * c.ci
      |             AS DECIMAL(38,15))) AS dot,
      |         SUM(CAST(CAST(e.embedding[c.k] AS DOUBLE) *
      |                  CAST(e.embedding[c.k] AS DOUBLE) AS DECIMAL(30,15))) AS na,
      |         SUM(CAST(CAST(c.ci AS DOUBLE) * CAST(c.ci AS DOUBLE)
      |             AS DECIMAL(38,15))) AS nb
      |  FROM embeddings e CROSS JOIN c1 c
      |  GROUP BY e.vec_id, c.cent_id),
      |a2 AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT vec_id, cent_id,
      |           row_number() OVER (
      |             PARTITION BY vec_id
      |             ORDER BY CAST(round(CAST(dot AS DOUBLE) /
      |                      sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9)
      |                      AS BIGINT) DESC, cent_id) AS rn
      |    FROM s2) WHERE rn = 1),
      |c2 AS (
      |  SELECT a.cent_id, t.k,
      |         CAST(round(SUM(CAST(CAST(e.embedding[t.k] AS DOUBLE)
      |                             AS DECIMAL(30,15))), 4) * 10000 AS BIGINT) AS ci
      |  FROM embeddings e JOIN a2 a USING (vec_id), range(1, 65) t(k)
      |  GROUP BY a.cent_id, t.k),
      |s3 AS (
      |  SELECT e.vec_id, c.cent_id,
      |         SUM(CAST(CAST(e.embedding[c.k] AS DOUBLE) * c.ci
      |             AS DECIMAL(38,15))) AS dot,
      |         SUM(CAST(CAST(e.embedding[c.k] AS DOUBLE) *
      |                  CAST(e.embedding[c.k] AS DOUBLE) AS DECIMAL(30,15))) AS na,
      |         SUM(CAST(CAST(c.ci AS DOUBLE) * CAST(c.ci AS DOUBLE)
      |             AS DECIMAL(38,15))) AS nb
      |  FROM embeddings e CROSS JOIN c2 c
      |  GROUP BY e.vec_id, c.cent_id),
      |cells AS (
      |  SELECT vec_id, cent_id AS cell FROM (
      |    SELECT vec_id, cent_id,
      |           row_number() OVER (
      |             PARTITION BY vec_id
      |             ORDER BY CAST(round(CAST(dot AS DOUBLE) /
      |                      sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9)
      |                      AS BIGINT) DESC, cent_id) AS rn
      |    FROM s3) WHERE rn = 1)""".stripMargin

  // IVF-flat cell assignment: the inverted-file ANN alternative to
  // LSH, with centroids TRAINED by [[lloydCentroids]] (2 Lloyd
  // iterations from the first-8 seed). Assignment is the zero-shuffle
  // [[rowLocalAssign]] projection — one arithmetic pass over the
  // corpus, which is the shape that scales.
  private def ivfCellsQ(name: String, k: Int) = Q(
    name,
    (s, d) => {
      import s.implicits._
      val cents = trainedCentroids(s, d, iters = 2, k = k)
      rowLocalAssign(graft.util.Cols.fanout(Tables.embeddings(s, d)), cents)
        .select($"vec_id", $"cent_id".as("cell"))
        .orderBy($"vec_id")
    },
    Some(kmCtes(k) + """
           |SELECT vec_id, cell FROM cells
           |ORDER BY vec_id""".stripMargin),
  )
  private val ivfCells = ivfCellsQ("sim_ivf_cell_assign", 8)
  // larger-k proof that the training path is k-generic end to end
  // (seed, Lloyd grid, oracle replay) — not an 8-shaped special case
  private val ivfCellsK12 = ivfCellsQ("sim_ivf_cell_assign_k12", 12)

  /** First-class gate for the IVF TRAINING run itself: surfaces the
    * trained ≤8-row centroid table long-form (cent_id, dimension k,
    * integer-grid component ci) so the bench's `sim_ivf_train` timing
    * entry has a matching oracle-gated CORRECTNESS row — previously it
    * was the one bench entry with no correctness row, verified only
    * indirectly through its consumers. The oracle replays the full
    * 2-iteration Lloyd run (the shared [[kmCtes]] prefix) and selects
    * its c2 centroids directly. The Spark side reads the per-JVM memo
    * (training is a published artifact); the bench times TRUE training
    * separately via [[resetCentroidCache]] and skips this entry in its
    * main loop.
    */
  private val ivfTrainQ = Q(
    "sim_ivf_train",
    (s, d) => {
      import s.implicits._
      val rows = trainedCentroids(s, d, iters = 2, k = 8)
        .flatMap { case (cid, ce) =>
          // the grid components are integer-valued floats, and the
          // long cast is exact ONLY while |ci| < 2^24 (float mantissa)
          // — beyond that the float rounds to an even value while the
          // oracle's DECIMAL→BIGINT path keeps the exact integer.
          // Every other consumer reads ce through the cosine kernel;
          // this entry is the first to compare raw ci values, so the
          // invariant is enforced, not assumed: a giant cluster at
          // some grown corpus must fail loudly, not hash-mismatch.
          ce.iterator.zipWithIndex.map { case (ci, i) =>
            require(math.abs(ci) < (1 << 24),
              s"sim_ivf_train: centroid $cid component ${i + 1} = $ci " +
                "exceeds the float-exact integer range (|ci| < 2^24); " +
                "the long-form gate cannot compare it exactly")
            (cid, (i + 1).toLong, ci.toLong)
          }
        }
      s.createDataset(rows).toDF("cent_id", "k", "ci")
        .orderBy($"cent_id", $"k")
    },
    Some(kmCtes(8) + """
         |SELECT cent_id, k, ci FROM c2
         |ORDER BY cent_id, k""".stripMargin),
  )

  // IVF probe: the search half of the inverted-file ANN (cell assign
  // above is the indexing half), over the SAME trained centroids. The
  // query vector ranks the 8 trained centroids, keeps nprobe=2 cells,
  // and scores ONLY the vectors assigned to those cells — the
  // candidate set is bounded by the probed cells' population, which is
  // what makes IVF search sublinear at scale. Centroids and the query
  // vector broadcast; the candidate restriction is an equi-join on the
  // cell id.
  private val ivfProbe = Q(
    "sim_ivf_probe_topk",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.cosine_e9
      val emb = Tables.embeddings(s, d)
      val cents = trainedCentroids(s, d, iters = 2, k = 8)
      val centsDf = cents.toDF("cent_id", "ce")
      val query = emb.filter($"vec_id" === 0).select($"embedding".as("qe"))
      // nprobe=2 cells nearest to the query vector (8-row ranking)
      val probeCells = query.crossJoin(broadcast(centsDf))
        .select($"cent_id", cosine_e9($"qe", $"ce").as("qcos"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(lit(1)).orderBy($"qcos".desc, $"cent_id")))
        .filter($"rn" <= 2)
        .select($"cent_id".as("probe_cell"))
      // zero-shuffle cell assignment (as in sim_ivf_cell_assign);
      // rowLocalAssign keeps each vector's embedding, so candidates
      // score against the query without joining back to the table
      rowLocalAssign(graft.util.Cols.fanout(emb), cents)
        .join(broadcast(probeCells), $"cent_id" === $"probe_cell")
        .filter($"vec_id" =!= 0)
        .crossJoin(broadcast(query))
        .select($"vec_id", cosine_e9($"embedding", $"qe").as("cosine_e9"))
        .orderBy($"cosine_e9".desc, $"vec_id")
        .limit(10)
    },
    Some(kmCtes(8) + """,
           |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |qsums AS (
           |  SELECT c.cent_id,
           |         SUM(CAST(CAST(q.qe[c.k] AS DOUBLE) * c.ci
           |             AS DECIMAL(38,15))) AS dot,
           |         SUM(CAST(CAST(q.qe[c.k] AS DOUBLE) *
           |                  CAST(q.qe[c.k] AS DOUBLE) AS DECIMAL(30,15))) AS na,
           |         SUM(CAST(CAST(c.ci AS DOUBLE) * CAST(c.ci AS DOUBLE)
           |             AS DECIMAL(38,15))) AS nb
           |  FROM c2 c, q
           |  GROUP BY c.cent_id),
           |probecells AS (
           |  SELECT cent_id FROM (
           |    SELECT cent_id,
           |           row_number() OVER (
           |             ORDER BY CAST(round(CAST(dot AS DOUBLE) /
           |                      sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9)
           |                      AS BIGINT) DESC, cent_id) AS rn
           |    FROM qsums) WHERE rn <= 2),
           |cand AS (
           |  SELECT vec_id FROM cells
           |  JOIN probecells ON cell = cent_id
           |  WHERE vec_id <> 0),
           |csums AS (
           |  SELECT e.vec_id,
           |         SUM(CAST(CAST(e.embedding[k] AS DOUBLE) *
           |                  CAST(q.qe[k] AS DOUBLE) AS DECIMAL(30,15))) AS dot,
           |         SUM(CAST(CAST(e.embedding[k] AS DOUBLE) *
           |                  CAST(e.embedding[k] AS DOUBLE) AS DECIMAL(30,15))) AS na,
           |         SUM(CAST(CAST(q.qe[k] AS DOUBLE) *
           |                  CAST(q.qe[k] AS DOUBLE) AS DECIMAL(30,15))) AS nb
           |  FROM embeddings e JOIN cand USING (vec_id), q, range(1, 65) t(k)
           |  GROUP BY e.vec_id)
           |SELECT vec_id,
           |       CAST(round(CAST(dot AS DOUBLE) /
           |            sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9)
           |            AS BIGINT) AS cosine_e9
           |FROM csums
           |ORDER BY cosine_e9 DESC, vec_id
           |LIMIT 10""".stripMargin),
  )

  // Product quantization ADC search — the compressed-domain ANN that
  // makes 100 TB embedding search feasible: each 64-dim vector is
  // stored as M=4 one-byte codes (16× compression here; the stored
  // index never materializes full vectors at query time). The seed
  // codebook is the first 8 vectors' subvectors — in production the
  // codebook is a tiny published artifact exactly like the IVF
  // centroids (Lloyd training is demonstrated there; PQ adds the
  // complementary compressed-search machinery). Query-time shape:
  //   1. encode: per subspace, argmin over the 8 literal codes of the
  //      decimal-exact SqDistE9 kernel — a ZERO-SHUFFLE projection
  //      (the codebook rides as literals; nothing moves but the scan);
  //   2. ADC: the query's 4×8 distance look-up table (computed once
  //      with the SAME kernel on the driver) rides as 4 literal arrays
  //      indexed by the codes — asymmetric distance is 4 element_at
  //      calls + 3 adds per row;
  //   3. shortlist: top-30 by ADC via TakeOrderedAndProject (heaps,
  //      never a global sort);
  //   4. exact re-rank: full 64-dim SqDistE9 against the broadcast
  //      query literal on the 30 survivors → final top-10.
  // The oracle replays every stage: the LUT is exactly the query row's
  // own subspace-distance rows, so no separate LUT CTE is needed.
  /** The PQ-ADC scoring chain shared by the `sim_pq_topk*` entries
    * and `sim_pq_recall_eval`: returns every non-query row scored in
    * the compressed domain — (vec_id, embedding, adc_e9) — plus the
    * query vector. Codebook seed is the same stable-hash pick as the
    * IVF centroids; codes are in-row argmins over the codegen'd
    * sq_dist kernel, ADC is 4 LUT adds per row.
    */
  private def pqAdcScored(s: org.apache.spark.sql.SparkSession, d: String,
      codes: Int): (org.apache.spark.sql.DataFrame, Array[Float]) = {
    import s.implicits._
    import graft.functions.exprs.sq_dist_e9
    val M = 4; val SubDim = 16
    val emb = Tables.embeddings(s, d)
    // codebook seed: same stable-hash pick as the IVF centroids —
    // positional index j = 0..codes-1 in (md5(vec_id), vec_id)
    // order, which the oracle's row_number replays exactly
    val cbRows = emb
      .select($"vec_id", $"embedding",
        md5($"vec_id".cast("string").cast("binary")).as("h"))
      .orderBy($"h", $"vec_id").limit(codes)
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    require(cbRows.length == codes,
      s"PQ codebook seed needs $codes vectors, corpus has ${cbRows.length}")
    val codebook: Array[Array[Array[Float]]] =
      Array.tabulate(M, codes)((m, j) =>
        cbRows(j).slice(m * SubDim, (m + 1) * SubDim))
    val qRows = emb.filter($"vec_id" === 0).select($"embedding").collect()
    require(qRows.length == 1,
      s"PQ query vector vec_id=0 missing or duplicated (${qRows.length} rows)")
    val qe = qRows(0).getSeq[Float](0).toArray
    val lut: Array[Array[Long]] = Array.tabulate(M, codes)((m, j) =>
      graft.functions.VectorKernels.sqDistE9Arrays(qe, codebook(m)(j), m * SubDim))
    def codeCol(m: Int) = array_min(array((0 until codes).map(j =>
      struct(
        sq_dist_e9($"embedding", typedLit(codebook(m)(j).toSeq), m * SubDim)
          .as("d"),
        lit(j).as("j"))): _*)).getField("j")
    val adc = (0 until M).map(m =>
      element_at(typedLit(lut(m).toSeq), codeCol(m) + 1)).reduce(_ + _)
    val scored = graft.util.Cols.fanout(emb)
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"embedding", adc.as("adc_e9"))
    (scored, qe)
  }

  /** The matching oracle CTE chain, ending in `adc(vec_id, adc_e9)`
    * (plus `q(qe)` for exact re-scoring) — shared by the
    * `sim_pq_topk*` oracles and `sim_pq_recall_eval` so the replayed
    * codebook/code/LUT derivation has one source of truth.
    */
  private def pqAdcCtes(codes: Int): String =
    s"""cb AS (
       |  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT)
       |           AS j,
       |         embedding
       |  FROM (SELECT vec_id, embedding, md5(CAST(vec_id AS VARCHAR)) AS h
       |        FROM embeddings ORDER BY h, vec_id LIMIT $codes)),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |sub AS (
       |  SELECT e.vec_id, m.m, c.j,
       |         CAST(round(SUM(CAST(
       |             (CAST(e.embedding[16*m.m + t.k] AS DOUBLE) -
       |              CAST(c.embedding[16*m.m + t.k] AS DOUBLE)) *
       |             (CAST(e.embedding[16*m.m + t.k] AS DOUBLE) -
       |              CAST(c.embedding[16*m.m + t.k] AS DOUBLE))
       |             AS DECIMAL(30,15))) * 1000000000) AS BIGINT) AS d_e9
       |  FROM embeddings e CROSS JOIN cb c, range(0, 4) m(m),
       |       range(1, 17) t(k)
       |  GROUP BY e.vec_id, m.m, c.j),
       |codes AS (
       |  SELECT vec_id, m, j FROM (
       |    SELECT vec_id, m, j,
       |           row_number() OVER (PARTITION BY vec_id, m
       |                              ORDER BY d_e9, j) AS rn
       |    FROM sub) WHERE rn = 1),
       |lut AS (SELECT m, j, d_e9 FROM sub WHERE vec_id = 0),
       |adc AS (
       |  SELECT c.vec_id, CAST(SUM(l.d_e9) AS BIGINT) AS adc_e9
       |  FROM codes c JOIN lut l ON c.m = l.m AND c.j = l.j
       |  GROUP BY c.vec_id)""".stripMargin

  private def pqTopKQ(name: String, codes: Int) = Q(
    name,
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.sq_dist_e9
      val ShortN = 30
      val (scored, qe) = pqAdcScored(s, d, codes)
      scored
        .orderBy($"adc_e9", $"vec_id").limit(ShortN)
        .select($"vec_id", $"adc_e9",
          sq_dist_e9($"embedding", typedLit(qe.toSeq), 0).as("dist_e9"))
        .orderBy($"dist_e9", $"vec_id").limit(10)
    },
    Some(s"""WITH ${pqAdcCtes(codes)},
           |short AS (
           |  SELECT vec_id, adc_e9 FROM adc WHERE vec_id <> 0
           |  ORDER BY adc_e9, vec_id LIMIT 30),
           |ex AS (
           |  SELECT e.vec_id,
           |         CAST(round(SUM(CAST(
           |             (CAST(e.embedding[t.k] AS DOUBLE) -
           |              CAST(q.qe[t.k] AS DOUBLE)) *
           |             (CAST(e.embedding[t.k] AS DOUBLE) -
           |              CAST(q.qe[t.k] AS DOUBLE))
           |             AS DECIMAL(30,15))) * 1000000000) AS BIGINT) AS dist_e9
           |  FROM embeddings e JOIN short USING (vec_id), q, range(1, 65) t(k)
           |  GROUP BY e.vec_id)
           |SELECT s.vec_id, s.adc_e9, x.dist_e9
           |FROM short s JOIN ex x USING (vec_id)
           |ORDER BY x.dist_e9, s.vec_id
           |LIMIT 10""".stripMargin),
  )
  private val pqTopK = pqTopKQ("sim_pq_topk", 8)
  // larger codebook proof that PQ encode/ADC/oracle are codes-generic
  private val pqTopKC16 = pqTopKQ("sim_pq_topk_c16", 16)

  // PQ COMPRESSION-COST EVAL — what does searching in the compressed
  // domain actually lose? recall@10 of the ADC-ONLY top-10 against
  // the exact top-10 over the WHOLE corpus (not the shortlist — the
  // question is what ADC ranks wrong, so ground truth must be global),
  // plus how many exact-top-10 members the standard 30-deep re-rank
  // shortlist retains — the number that tells an operator whether
  // ShortN is deep enough. The sibling of sim_recall_mrr_eval (LSH)
  // and sim_matryoshka_eval (prefix dims), completing the eval story
  // for the third index family. One ADC scan + one exact scan, three
  // TakeOrdered heaps, two ≤30-row semi joins — corpus touched twice,
  // shuffled never.
  private val pqRecallEval = Q(
    "sim_pq_recall_eval",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.sq_dist_e9
      val (scored, qe) = pqAdcScored(s, d, 8)
      val scoredCp = scored.localCheckpoint() // feeds both ADC heaps
      val adc10 = scoredCp.orderBy($"adc_e9", $"vec_id").limit(10)
        .select($"vec_id")
      val adc30 = scoredCp.orderBy($"adc_e9", $"vec_id").limit(30)
        .select($"vec_id")
      val exact10 = graft.util.Cols.fanout(Tables.embeddings(s, d))
        .filter($"vec_id" =!= 0)
        .select($"vec_id",
          sq_dist_e9($"embedding", typedLit(qe.toSeq), 0).as("dist_e9"))
        .orderBy($"dist_e9", $"vec_id").limit(10)
        .select($"vec_id")
        .localCheckpoint() // feeds both semi joins
      val hits10 = adc10.join(exact10, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits_at10"))
      val hits30 = adc30.join(exact10, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("exact_in_short30"))
      hits10.crossJoin(broadcast(hits30))
        .select($"hits_at10",
          expr("hits_at10 * 10").as("recall_pct"),
          $"exact_in_short30")
    },
    Some(s"""WITH ${pqAdcCtes(8)},
            |pr_ad10 AS (
            |  SELECT vec_id FROM adc WHERE vec_id <> 0
            |  ORDER BY adc_e9, vec_id LIMIT 10),
            |pr_ad30 AS (
            |  SELECT vec_id FROM adc WHERE vec_id <> 0
            |  ORDER BY adc_e9, vec_id LIMIT 30),
            |pr_ex10 AS (
            |  SELECT vec_id FROM (
            |    SELECT e.vec_id,
            |           CAST(round(SUM(CAST(
            |               (CAST(e.embedding[t.k] AS DOUBLE) -
            |                CAST(q.qe[t.k] AS DOUBLE)) *
            |               (CAST(e.embedding[t.k] AS DOUBLE) -
            |                CAST(q.qe[t.k] AS DOUBLE))
            |               AS DECIMAL(30,15))) * 1000000000) AS BIGINT)
            |             AS dist_e9
            |    FROM embeddings e, q, range(1, 65) t(k)
            |    WHERE e.vec_id <> 0
            |    GROUP BY e.vec_id)
            |  ORDER BY dist_e9, vec_id LIMIT 10)
            |SELECT
            |  CAST((SELECT count(*) FROM pr_ad10 JOIN pr_ex10 USING (vec_id))
            |       AS BIGINT) AS hits_at10,
            |  CAST((SELECT count(*) FROM pr_ad10 JOIN pr_ex10 USING (vec_id))
            |       * 10 AS BIGINT) AS recall_pct,
            |  CAST((SELECT count(*) FROM pr_ad30 JOIN pr_ex10 USING (vec_id))
            |       AS BIGINT) AS exact_in_short30""".stripMargin),
  )

  // IVF→PQ COMPOSED SEARCH (Jégou et al. TPAMI'11 §IV — IVFADC, the
  // production FAISS index shape): the coarse quantizer restricts the
  // scan to nprobe=2 of 8 cells, PQ-ADC ranks ONLY those members in
  // the compressed domain, and the exact kernel re-ranks the top-30
  // shortlist to the final 10. This is the 100 TB architecture in
  // miniature — cell selection bounds the bytes touched (the
  // candidate fraction IS the cost), ADC bounds the arithmetic per
  // candidate (4 LUT adds, no 64-dim math), and the exact pass pays
  // full price on 30 rows however large the corpus. All three stages
  // reuse the separately-gated machinery (same memoized centroids,
  // same codebook seed, same decimal-exact kernels), so the oracle
  // replays the composition end to end. Scale shape: zero-shuffle
  // assignment + broadcast probe-cell filter + in-row ADC projection
  // + two TakeOrdered heaps — no stage shuffles corpus rows at all.
  private val ivfPqCompose = Q(
    "sim_ivf_pq_compose",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.{cosine_e9, sq_dist_e9}
      val M = 4; val SubDim = 16; val ShortN = 30; val CodesN = 8
      val emb = Tables.embeddings(s, d)
      val cents = trainedCentroids(s, d, iters = 2, k = 8)
      val centsDf = cents.toDF("cent_id", "ce")
      val query = emb.filter($"vec_id" === 0).select($"embedding".as("qe"))
      val probeCells = query.crossJoin(broadcast(centsDf))
        .select($"cent_id", cosine_e9($"qe", $"ce").as("qcos"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(lit(1)).orderBy($"qcos".desc, $"cent_id")))
        .filter($"rn" <= 2)
        .select($"cent_id".as("probe_cell"))
      val cbRows = emb
        .select($"vec_id", $"embedding",
          md5($"vec_id".cast("string").cast("binary")).as("h"))
        .orderBy($"h", $"vec_id").limit(CodesN)
        .select($"embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      require(cbRows.length == CodesN,
        s"sim_ivf_pq_compose codebook seed needs $CodesN vectors")
      val codebook: Array[Array[Array[Float]]] =
        Array.tabulate(M, CodesN)((m, j) =>
          cbRows(j).slice(m * SubDim, (m + 1) * SubDim))
      val qRows = emb.filter($"vec_id" === 0).select($"embedding").collect()
      require(qRows.length == 1, "query vector vec_id=0 missing")
      val qe = qRows(0).getSeq[Float](0).toArray
      val lut: Array[Array[Long]] = Array.tabulate(M, CodesN)((m, j) =>
        graft.functions.VectorKernels.sqDistE9Arrays(qe, codebook(m)(j), m * SubDim))
      def codeCol(m: Int) = array_min(array((0 until CodesN).map(j =>
        struct(
          sq_dist_e9($"embedding", typedLit(codebook(m)(j).toSeq), m * SubDim)
            .as("d"),
          lit(j).as("j"))): _*)).getField("j")
      val adc = (0 until M).map(m =>
        element_at(typedLit(lut(m).toSeq), codeCol(m) + 1)).reduce(_ + _)
      rowLocalAssign(graft.util.Cols.fanout(emb), cents)
        .join(broadcast(probeCells), $"cent_id" === $"probe_cell")
        .filter($"vec_id" =!= 0)
        .select($"vec_id", $"embedding", adc.as("adc_e9"))
        .orderBy($"adc_e9", $"vec_id").limit(ShortN)
        .select($"vec_id", $"adc_e9",
          sq_dist_e9($"embedding", typedLit(qe.toSeq), 0).as("dist_e9"))
        .orderBy($"dist_e9", $"vec_id").limit(10)
    },
    Some(kmCtes(8) + """,
           |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |qsums AS (
           |  SELECT c.cent_id,
           |         SUM(CAST(CAST(q.qe[c.k] AS DOUBLE) * c.ci
           |             AS DECIMAL(38,15))) AS dot,
           |         SUM(CAST(CAST(q.qe[c.k] AS DOUBLE) *
           |                  CAST(q.qe[c.k] AS DOUBLE) AS DECIMAL(30,15))) AS na,
           |         SUM(CAST(CAST(c.ci AS DOUBLE) * CAST(c.ci AS DOUBLE)
           |             AS DECIMAL(38,15))) AS nb
           |  FROM c2 c, q
           |  GROUP BY c.cent_id),
           |probecells AS (
           |  SELECT cent_id FROM (
           |    SELECT cent_id,
           |           row_number() OVER (
           |             ORDER BY CAST(round(CAST(dot AS DOUBLE) /
           |                      sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9)
           |                      AS BIGINT) DESC, cent_id) AS rn
           |    FROM qsums) WHERE rn <= 2),
           |cand AS (
           |  SELECT vec_id FROM cells
           |  JOIN probecells ON cell = cent_id
           |  WHERE vec_id <> 0),
           |cb AS (
           |  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT)
           |           AS j,
           |         embedding
           |  FROM (SELECT vec_id, embedding, md5(CAST(vec_id AS VARCHAR)) AS h
           |        FROM embeddings ORDER BY h, vec_id LIMIT 8)),
           |sub AS (
           |  SELECT e.vec_id, m.m, c.j,
           |         CAST(round(SUM(CAST(
           |             (CAST(e.embedding[16*m.m + t.k] AS DOUBLE) -
           |              CAST(c.embedding[16*m.m + t.k] AS DOUBLE)) *
           |             (CAST(e.embedding[16*m.m + t.k] AS DOUBLE) -
           |              CAST(c.embedding[16*m.m + t.k] AS DOUBLE))
           |             AS DECIMAL(30,15))) * 1000000000) AS BIGINT) AS d_e9
           |  FROM (SELECT em.* FROM embeddings em
           |        JOIN cand ON em.vec_id = cand.vec_id
           |        UNION ALL SELECT * FROM embeddings WHERE vec_id = 0) e
           |  CROSS JOIN cb c, range(0, 4) m(m), range(1, 17) t(k)
           |  GROUP BY e.vec_id, m.m, c.j),
           |pcodes AS (
           |  SELECT vec_id, m, j FROM (
           |    SELECT vec_id, m, j,
           |           row_number() OVER (PARTITION BY vec_id, m
           |                              ORDER BY d_e9, j) AS rn
           |    FROM sub) WHERE rn = 1),
           |lut AS (SELECT m, j, d_e9 FROM sub WHERE vec_id = 0),
           |adc AS (
           |  SELECT c.vec_id, CAST(SUM(l.d_e9) AS BIGINT) AS adc_e9
           |  FROM pcodes c JOIN lut l ON c.m = l.m AND c.j = l.j
           |  JOIN cand ON c.vec_id = cand.vec_id
           |  GROUP BY c.vec_id),
           |short AS (
           |  SELECT vec_id, adc_e9 FROM adc
           |  ORDER BY adc_e9, vec_id LIMIT 30),
           |ex AS (
           |  SELECT e.vec_id,
           |         CAST(round(SUM(CAST(
           |             (CAST(e.embedding[t.k] AS DOUBLE) -
           |              CAST(q.qe[t.k] AS DOUBLE)) *
           |             (CAST(e.embedding[t.k] AS DOUBLE) -
           |              CAST(q.qe[t.k] AS DOUBLE))
           |             AS DECIMAL(30,15))) * 1000000000) AS BIGINT) AS dist_e9
           |  FROM embeddings e JOIN short USING (vec_id), q, range(1, 65) t(k)
           |  GROUP BY e.vec_id)
           |SELECT s.vec_id, s.adc_e9, x.dist_e9
           |FROM short s JOIN ex x USING (vec_id)
           |ORDER BY x.dist_e9, s.vec_id
           |LIMIT 10""".stripMargin),
  )

  // SEMDEDUP (Abbas et al. 2023, arXiv:2303.09540): semantic
  // deduplication by clustering — assign every embedding to its
  // trained IVF cell, compare pairs ONLY within a cell, and drop any
  // vector with a lower-id near-duplicate (exact-decimal cosine >=
  // the corpus threshold) in its cell. This is the embedding-space
  // dual of the MinHash/LSH text dedup chain: the cluster assignment
  // is the blocking stage (pairs per cell = cellsize², never n²), and
  // at 100 TB k grows with the corpus to hold cell populations
  // bounded — the paper's own scaling knob. Reuses the verified
  // training/assignment path (same memoized centroids as sim_ivf_*)
  // and the same double-prefilter + decimal-exact admit as
  // td_embedding_neardup, so the oracle replays every stage.
  private val semDedup = Q(
    "td_semdedup",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.{cosine_approx, cosine_e9}
      // k SCALES WITH THE CORPUS (round 7): the paper's own knob —
      // hold the target cell population (default 1024 vectors) fixed
      // and let the cell count grow, so within-cell pairs stay
      // ~cellsize²·k ∝ n at any scale. Every catalogue point
      // (n ≤ 8192) resolves to the floor k=8, which is what the
      // DuckDB oracle replays; -Dgraft.semdedup.k pins k outright and
      // -Dgraft.semdedup.cellsize moves the target population.
      val targetCell: Long = sys.props.get("graft.semdedup.cellsize")
        .orElse(sys.env.get("SPARK_GRAFT_SEMDEDUP_CELL"))
        .map(_.toLong).getOrElse(1024L)
      val k: Int = sys.props.get("graft.semdedup.k")
        .orElse(sys.env.get("SPARK_GRAFT_SEMDEDUP_K"))
        .map(_.toInt)
        .getOrElse {
          val n = Tables.embeddings(s, d).count() // parquet metadata-only
          math.max(8L, n / targetCell).toInt
        }
      val cents = trainedCentroids(s, d, iters = 2, k = k)
      val assigned =
        rowLocalAssign(graft.util.Cols.fanout(Tables.embeddings(s, d)), cents)
          .select($"vec_id", $"embedding", $"cent_id".as("cell"))
          .localCheckpoint() // feeds both pair-join sides + the output
      val a = assigned
        .select($"vec_id".as("va"), $"cell", $"embedding".as("ea"))
      val b = assigned
        .select($"vec_id".as("vb"), $"cell".as("cellb"), $"embedding".as("eb"))
      val dropped = a
        .join(b, $"cell" === $"cellb" && $"va" < $"vb")
        .filter(cosine_approx($"ea", $"eb") >= 0.4 - 1e-6)
        .filter(cosine_e9($"ea", $"eb") >= 400000000L)
        .select($"vb".as("vec_id")).distinct()
      assigned.select($"vec_id", $"cell")
        .join(dropped.withColumn("d", lit(1)), Seq("vec_id"), "left")
        .select($"vec_id", $"cell", coalesce($"d", lit(0)).as("is_dup"))
        .orderBy($"vec_id")
    },
    Some(kmCtes(8) + """,
           |sims AS (
           |  SELECT ca.vec_id AS va, cb.vec_id AS vb,
           |         CAST(round(CAST(SUM(CAST(CAST(a.embedding[t.k] AS DOUBLE) *
           |                  CAST(b.embedding[t.k] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) /
           |              sqrt(CAST(SUM(CAST(CAST(a.embedding[t.k] AS DOUBLE) *
           |                   CAST(a.embedding[t.k] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) *
           |                   CAST(SUM(CAST(CAST(b.embedding[t.k] AS DOUBLE) *
           |                   CAST(b.embedding[t.k] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE))
           |              * 1e9) AS BIGINT) AS cos_e9
           |  FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
           |  JOIN embeddings a ON a.vec_id = ca.vec_id
           |  JOIN embeddings b ON b.vec_id = cb.vec_id, range(1, 65) t(k)
           |  GROUP BY ca.vec_id, cb.vec_id),
           |dropped AS (SELECT DISTINCT vb AS vec_id FROM sims WHERE cos_e9 >= 400000000)
           |SELECT c.vec_id, c.cell,
           |       CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
           |FROM cells c LEFT JOIN dropped d USING (vec_id)
           |ORDER BY c.vec_id""".stripMargin),
  )

  // HARD-NEGATIVE mining for contrastive embedding training: for each
  // query vector, the top-3 most-similar vectors with a DIFFERENT
  // label — the "semantically close but wrong" examples that make
  // triplet/contrastive losses learn, and the standard mining pass a
  // training-data pipeline runs over its embedding store. Exact
  // decimal cosine (same kernel + oracle formulation as the other
  // sim_ entries), 5 query vectors broadcast against the corpus —
  // linear in corpus size. The per-query top-3 is TWO-PHASE: a
  // partial top-3 per (query, vec_id%64 bucket) under parallel
  // windows, then the final top-3 over the ≤192 survivors — a single
  // per-query window would funnel the whole corpus through 5
  // partitions, the classic top-k-per-group skew. At scale the query
  // set is the batch being mined (thousands of rows) and the
  // candidate restriction runs through the IVF cells (sim_ivf_probe);
  // the catalogue point pins the exact-scoring contract.
  private val hardNegatives = Q(
    "sim_hard_negatives",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.functions.exprs.cosine_e9
      val emb = graft.util.Cols.fanout(Tables.embeddings(s, d))
      val queries = Tables.embeddings(s, d).filter($"vec_id" < 5)
        .select($"vec_id".as("qid"), $"label".as("qlabel"),
          $"embedding".as("qe"))
      val scored = emb.crossJoin(broadcast(queries))
        .filter($"label" =!= $"qlabel" && $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id", $"label".as("neg_label"),
          cosine_e9($"embedding", $"qe").as("cosine_e9"))
      val partial = scored
        .withColumn("rnb", row_number().over(
          Window.partitionBy($"qid", expr("vec_id % 64"))
            .orderBy($"cosine_e9".desc, $"vec_id")))
        .filter($"rnb" <= 3).drop("rnb")
      partial
        .withColumn("neg_rank", row_number().over(
          Window.partitionBy($"qid").orderBy($"cosine_e9".desc, $"vec_id")))
        .filter($"neg_rank" <= 3)
        .select($"qid", $"neg_rank", $"vec_id", $"neg_label", $"cosine_e9")
        .orderBy($"qid", $"neg_rank")
    },
    Some("""WITH q AS (
           |  SELECT vec_id AS qid, label AS qlabel, embedding AS qe
           |  FROM embeddings WHERE vec_id < 5),
           |sims AS (
           |  SELECT q.qid, e.vec_id, e.label AS neg_label,
           |         CAST(round(CAST(SUM(CAST(CAST(e.embedding[t.k] AS DOUBLE) *
           |                  CAST(q.qe[t.k] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) /
           |              sqrt(CAST(SUM(CAST(CAST(e.embedding[t.k] AS DOUBLE) *
           |                   CAST(e.embedding[t.k] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) *
           |                   CAST(SUM(CAST(CAST(q.qe[t.k] AS DOUBLE) *
           |                   CAST(q.qe[t.k] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE))
           |              * 1e9) AS BIGINT) AS cosine_e9
           |  FROM embeddings e CROSS JOIN q, range(1, 65) t(k)
           |  WHERE e.label <> q.qlabel AND e.vec_id <> q.qid
           |  GROUP BY q.qid, e.vec_id, e.label),
           |ranked AS (
           |  SELECT qid, vec_id, neg_label, cosine_e9,
           |         CAST(row_number() OVER (PARTITION BY qid
           |           ORDER BY cosine_e9 DESC, vec_id) AS INT) AS neg_rank
           |  FROM sims)
           |SELECT qid, neg_rank, vec_id, neg_label, cosine_e9
           |FROM ranked WHERE neg_rank <= 3
           |ORDER BY qid, neg_rank""".stripMargin),
  )

  // NEAREST-CENTROID CLASSIFICATION (Rocchio) + confusion matrix —
  // the label-propagation-free baseline classifier every embedding
  // pipeline evaluates first: per-label centroids via the SAME
  // decimal-exact Lloyd update device the IVF training uses (exact
  // DECIMAL(30,15) per-dim sums — cosine is scale-invariant, so the
  // un-normalized sum IS the mean direction — 1e-4 grid, integer-
  // valued floats both engines represent exactly), then every vector
  // classifies by max exact cosine against the ≤|labels| centroid
  // LITERALS in one zero-shuffle [[rowLocalAssign]] projection (true
  // label carried through), and the confusion matrix is one
  // ≤|labels|²-row aggregate. Training is one posexplode partial agg;
  // the corpus never joins itself.
  private val centroidClassify = Q(
    "sim_centroid_classify",
    (s, d) => {
      import s.implicits._
      val emb = graft.util.Cols.fanout(Tables.embeddings(s, d))
        .select($"vec_id", $"embedding", $"label")
        .localCheckpoint() // feeds training + classification
      val cents = emb
        .select($"label", posexplode($"embedding").as(Seq("k", "x")))
        .groupBy($"label", $"k")
        .agg(sum($"x".cast("double").cast(Dec)).as("csum"))
        .select($"label", $"k",
          (round($"csum", 4).cast("decimal(20,4)") * lit(10000)).cast("long").as("ci"))
        .groupBy($"label")
        .agg(array_sort(collect_list(struct($"k", $"ci"))).as("kc"))
        .select($"label",
          transform($"kc", e => e.getField("ci").cast("float")).as("ce"))
        .collect()
        .map(r => (r.getInt(0).toLong, r.getSeq[Float](1).toArray)).toSeq
        .sortBy(_._1)
      rowLocalAssign(emb, cents, keep = Seq("label"))
        .groupBy($"label", $"cent_id")
        .agg(count(lit(1)).as("n"))
        .select($"label".cast("long").as("true_label"),
          $"cent_id".as("pred_label"), $"n")
        .orderBy($"true_label", $"pred_label")
    },
    Some("""WITH cc_c AS (
           |  SELECT e.label, t.k,
           |         CAST(round(SUM(CAST(CAST(e.embedding[t.k] AS DOUBLE)
           |                             AS DECIMAL(30,15))), 4) * 10000
           |              AS BIGINT) AS ci
           |  FROM embeddings e, range(1, 65) t(k)
           |  GROUP BY 1, 2),
           |cc_s AS (
           |  SELECT e.vec_id, e.label, c.label AS cand,
           |         SUM(CAST(CAST(e.embedding[c.k] AS DOUBLE) * c.ci
           |             AS DECIMAL(38,15))) AS dot,
           |         SUM(CAST(CAST(e.embedding[c.k] AS DOUBLE) *
           |                  CAST(e.embedding[c.k] AS DOUBLE)
           |             AS DECIMAL(30,15))) AS na,
           |         SUM(CAST(CAST(c.ci AS DOUBLE) * CAST(c.ci AS DOUBLE)
           |             AS DECIMAL(38,15))) AS nb
           |  FROM embeddings e CROSS JOIN cc_c c
           |  GROUP BY 1, 2, 3),
           |cc_a AS (
           |  SELECT vec_id, label, cand FROM (
           |    SELECT vec_id, label, cand,
           |           row_number() OVER (PARTITION BY vec_id
           |             ORDER BY CAST(round(CAST(dot AS DOUBLE) /
           |                      sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
           |                      * 1e9) AS BIGINT) DESC, cand) AS rn
           |    FROM cc_s) WHERE rn = 1)
           |SELECT CAST(label AS BIGINT) AS true_label,
           |       CAST(cand AS BIGINT) AS pred_label,
           |       CAST(count(*) AS BIGINT) AS n
           |FROM cc_a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
  )

  // SCALAR QUANTIZATION (int8-per-dimension) ANN — the SQ complement
  // to the PQ path above, and the format most vector stores ship as
  // their cheap compression tier (4× over float32 at near-full
  // recall). Per-dimension affine quantization against corpus min/max
  // stats: code_t = floor((x_t − min_t)/(max_t − min_t)·255 + 0.5)
  // (no clamp needed — the stats cover every vector, so the ratio is
  // in [0,1] by construction). Query-time shape mirrors PQ exactly so
  // the two are cost/recall-comparable: (1) the 64-row min/max stats
  // table is a driver-collected published artifact (like the IVF
  // centroids / PQ codebook); (2) encode + reconstruct + asymmetric
  // distance run in ONE zero-shuffle projection — the stats ride as
  // literal arrays, each squared diff is cast to DECIMAL(30,15)
  // before the exact decimal fold, so Spark and DuckDB agree
  // bit-for-bit; (3) top-30 shortlist by ADC via
  // TakeOrderedAndProject; (4) exact 64-dim re-rank on the survivors.
  private val sqTopK = Q(
    "sim_sq_topk",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.sq_dist_e9
      val emb = Tables.embeddings(s, d)
      val statRows = emb
        .select(posexplode($"embedding").as(Seq("t", "x")))
        .groupBy($"t")
        .agg(min($"x".cast("double")).as("mn"), max($"x".cast("double")).as("mx"))
        .orderBy($"t").collect()
      require(statRows.length == 64,
        s"sim_sq_topk expects 64-dim embeddings, stats had ${statRows.length} dims")
      val mins = statRows.map(_.getDouble(1))
      val maxs = statRows.map(_.getDouble(2))
      val qRows = emb.filter($"vec_id" === 0).select($"embedding").collect()
      require(qRows.length == 1,
        s"sim_sq_topk query vector vec_id=0 missing or duplicated (${qRows.length} rows)")
      val qe = qRows(0).getSeq[Float](0).toArray
      val minsL = typedLit(mins.toSeq)
      val maxsL = typedLit(maxs.toSeq)
      val qL = typedLit(qe.map(_.toDouble).toSeq)
      // recon_t = mn + code_t·(mx−mn)/255, with the mx==mn guard
      // multiplying back to exactly mn. All double ops are written in
      // the same order as the oracle SQL, so IEEE evaluation matches.
      val recon = transform(sequence(lit(0), lit(63)), t => {
        val x = element_at($"embedding", t + 1).cast("double")
        val mn = element_at(minsL, t + 1)
        val mx = element_at(maxsL, t + 1)
        val code = when(mx === mn, lit(0.0))
          .otherwise(floor((x - mn) / (mx - mn) * 255 + 0.5))
        mn + code * (mx - mn) / 255
      })
      val adc = aggregate(
        zip_with(recon, qL, (a, b) => ((a - b) * (a - b)).cast(Dec)),
        lit(0).cast(Dec),
        (acc, x) => (acc + x).cast(Dec))
      graft.util.Cols.fanout(emb)
        .filter($"vec_id" =!= 0)
        .select($"vec_id",
          $"embedding",
          round(adc * lit(1000000000L), 0).cast("long").as("adc_e9"))
        .orderBy($"adc_e9", $"vec_id").limit(30)
        .select($"vec_id", $"adc_e9",
          sq_dist_e9($"embedding", typedLit(qe.toSeq), 0).as("dist_e9"))
        .orderBy($"dist_e9", $"vec_id").limit(10)
    },
    Some("""WITH stats AS (
           |  SELECT t.k,
           |         min(CAST(embedding[t.k] AS DOUBLE)) AS mn,
           |         max(CAST(embedding[t.k] AS DOUBLE)) AS mx
           |  FROM embeddings, range(1, 65) t(k)
           |  GROUP BY t.k),
           |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |recon AS (
           |  SELECT e.vec_id, s.k,
           |         s.mn + (CASE WHEN s.mx = s.mn THEN 0
           |                 ELSE floor((CAST(e.embedding[s.k] AS DOUBLE) - s.mn)
           |                            / (s.mx - s.mn) * 255 + 0.5) END)
           |              * (s.mx - s.mn) / 255 AS r
           |  FROM embeddings e, stats s),
           |adc AS (
           |  SELECT r.vec_id,
           |         CAST(round(SUM(CAST((r.r - CAST(q.qe[r.k] AS DOUBLE)) *
           |                             (r.r - CAST(q.qe[r.k] AS DOUBLE))
           |                             AS DECIMAL(30,15))) * 1000000000)
           |              AS BIGINT) AS adc_e9
           |  FROM recon r, q
           |  GROUP BY r.vec_id),
           |short AS (
           |  SELECT vec_id, adc_e9 FROM adc WHERE vec_id <> 0
           |  ORDER BY adc_e9, vec_id LIMIT 30),
           |ex AS (
           |  SELECT e.vec_id,
           |         CAST(round(SUM(CAST(
           |             (CAST(e.embedding[t.k] AS DOUBLE) -
           |              CAST(q.qe[t.k] AS DOUBLE)) *
           |             (CAST(e.embedding[t.k] AS DOUBLE) -
           |              CAST(q.qe[t.k] AS DOUBLE))
           |             AS DECIMAL(30,15))) * 1000000000) AS BIGINT) AS dist_e9
           |  FROM embeddings e JOIN short USING (vec_id), q, range(1, 65) t(k)
           |  GROUP BY e.vec_id)
           |SELECT s.vec_id, s.adc_e9, x.dist_e9
           |FROM short s JOIN ex x USING (vec_id)
           |ORDER BY x.dist_e9, s.vec_id
           |LIMIT 10""".stripMargin),
  )

  // GRAM MATRIX (the covariance/PCA building block): G[i,j] =
  // Σ_rows e[i]·e[j] over the whole corpus, upper triangle only.
  // Spark side flattens each row's outer product into d(d+1)/2
  // (i, j, product) entries and lets hash aggregation do the rest —
  // the partial (map-side) agg collapses every task to ≤ 2080 rows
  // BEFORE the shuffle, so the exchange volume is
  // O(partitions · d²), independent of corpus size, and the result
  // itself is d²-bounded. This is how a 100 TB embedding table gets a
  // covariance matrix in one pass with no driver-side math. Each
  // float×float product is exact in double, cast to DECIMAL(30,15)
  // before summation (order-independent, engine-agnostic), scaled to
  // integer 1e9 only at the end.
  private val gramMatrix = Q(
    "sim_gram_matrix",
    (s, d) => {
      import s.implicits._
      // Round-15 (guide §1.2 per-task work + §2.3 aggregate before you
      // shuffle): the explode of d(d+1)/2 struct(i, j, DECIMAL(30,15))
      // rows per input row + the corpus×2080-group decimal hash
      // aggregation is replaced by ONE TypedImperativeAggregate pass —
      // a tight primitive loop per row adding Spark-cast-quantized
      // scale-15 long units into a per-task 2080-slot buffer
      // (BigInteger escalation on overflow; GramKernelSpec pins the
      // sums bit-identical to the SUM(DECIMAL(30,15)) formulation).
      // The shuffle carries one buffer per task instead of
      // partitions×2080 decimal groups, and the per-element
      // interpreted-HOF struct machinery is gone. The final projection
      // (round(CAST(g AS DOUBLE) * 1e9)) is byte-for-byte the old
      // plan on the same DECIMAL(38,15) sums.
      val emb = graft.util.Cols.fanout(Tables.embeddings(s, d))
      emb
        .agg(graft.functions.exprs.gram_sum($"embedding", 64).as("gs"))
        .select(inline($"gs"))
        .select($"i".cast("long").as("i"), $"j".cast("long").as("j"),
          round($"g".cast("double") * 1e9).cast("long").as("gram_e9"))
        .orderBy($"i", $"j")
    },
    Some("""SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           |       CAST(round(CAST(SUM(CAST(
           |             CAST(e.embedding[i] AS DOUBLE) *
           |             CAST(e.embedding[j] AS DOUBLE)
           |           AS DECIMAL(30,15))) AS DOUBLE) * 1e9) AS BIGINT) AS gram_e9
           |FROM embeddings e, range(1, 65) a(i), range(1, 65) b(j)
           |WHERE j >= i
           |GROUP BY i, j
           |ORDER BY i, j""".stripMargin),
  )

  // PCA TOP COMPONENT via POWER ITERATION over the gram matrix — the
  // step after sim_gram_matrix in the classic distributed-PCA recipe
  // (compute G = ΣxxT in one corpus pass, then iterate on the d×d
  // matrix, never touching the corpus again): x ← G·x, renormalized
  // each round, 3 rounds from the all-ones start. Everything is
  // EXACT integer arithmetic: G rides its e9-scaled BIGINT form, x
  // lives in micro-units (∞-norm 1e6), the matrix-vector product
  // accumulates in DECIMAL(38,0)/HUGEINT (y peaks ~1e25 — far past
  // BIGINT), and renormalization is sign(y)·((|y|·1e6) DIV max|y|) —
  // the abs/sign split matters because y is SIGNED and Spark's DIV
  // truncates while DuckDB's // floors; on |y| they agree. The fixed
  // 3-round count is the replayability contract (convergence rate is
  // the spectral-gap story; the algebra is what's gated).
  // Scale shape: after the (separately gated) gram pass, every table
  // here is ≤ d² rows — corpus-size-free by construction, the
  // published-artifact shape. Each round is one broadcast join + a
  // d-key partial agg.
  private val pcaPower = Q(
    "sim_pca_power",
    (s, d) => {
      import s.implicits._
      // round-15 (guide §2.4): the two union arms below are two
      // REFERENCES to the gram plan — left lazy, the whole corpus-pass
      // gram aggregation executed twice (concurrently, racing for the
      // same cores) inside the g checkpoint job. Checkpointing the
      // ≤ d(d+1)/2-row upper triangle first makes the corpus pass run
      // once; the union then reads 2080 materialized rows twice.
      val upper = gramMatrix.fn(s, d) // (i, j, gram_e9), j >= i, gated
        .localCheckpoint()
      val g = upper.unionByName(
        upper.filter($"i" =!= $"j")
          .select($"j".as("i"), $"i".as("j"), $"gram_e9"))
        .localCheckpoint() // ≤ d² rows; feeds 3 iteration joins
      val x0 = g.select($"i".as("k")).distinct()
        .withColumn("x", lit(1000000L).cast("decimal(38,0)"))
      // checkpoint the 64-row vector per round: left as a plan, each
      // broadcast(x)/broadcast(mx) subtree re-derives every earlier
      // round from g — trivial data, needless plan depth
      Loop(x0, 3, Loop.Fixed) { (x, _) =>
        val y = g.join(broadcast(x), $"j" === $"k")
          .groupBy($"i")
          .agg(sum($"gram_e9".cast("decimal(38,0)") * $"x").as("y"))
        val mx = y.agg(max(abs($"y")).as("mx"))
        y.crossJoin(broadcast(mx))
          .select($"i".as("k"),
            expr("CAST(CASE WHEN y < 0 THEN -1 ELSE 1 END" +
              " * ((abs(y) * 1000000) DIV mx) AS DECIMAL(38,0))").as("x"))
      }.state.select($"k", $"x".cast("long").as("x_micro")).orderBy($"k")
    },
    Some {
      def step(prev: String, out: String) =
        s"""${out}_y AS (
           |  SELECT g.i, sum(g.gram_e9::HUGEINT * p.x) AS y
           |  FROM pc_g g JOIN $prev p ON p.k = g.j
           |  GROUP BY g.i),
           |${out}_m AS (SELECT max(abs(y)) AS mx FROM ${out}_y),
           |$out AS (
           |  SELECT y.i AS k,
           |         (CASE WHEN y.y < 0 THEN -1 ELSE 1 END)
           |           * ((abs(y.y) * 1000000) // m.mx) AS x
           |  FROM ${out}_y y CROSS JOIN ${out}_m m)""".stripMargin
      s"""WITH pc_up AS (
         |  SELECT i, j,
         |         CAST(round(CAST(SUM(CAST(
         |               CAST(e.embedding[i] AS DOUBLE) *
         |               CAST(e.embedding[j] AS DOUBLE)
         |             AS DECIMAL(30,15))) AS DOUBLE) * 1e9) AS BIGINT)
         |           AS gram_e9
         |  FROM embeddings e, range(1, 65) a(i), range(1, 65) b(j)
         |  WHERE j >= i
         |  GROUP BY i, j),
         |pc_g AS (SELECT i, j, gram_e9 FROM pc_up
         |         UNION ALL SELECT j, i, gram_e9 FROM pc_up WHERE i <> j),
         |pc_x0 AS (SELECT DISTINCT i AS k, 1000000::HUGEINT AS x FROM pc_g),
         |${step("pc_x0", "pc_x1")},
         |${step("pc_x1", "pc_x2")},
         |${step("pc_x2", "pc_x3")}
         |SELECT CAST(k AS BIGINT) AS k, CAST(x AS BIGINT) AS x_micro
         |FROM pc_x3 ORDER BY k""".stripMargin
    },
  )

  // MAXIMAL MARGINAL RELEVANCE selection (Carbonell & Goldstein
  // SIGIR'98 — the diversity-aware top-k every retrieval/eval-set
  // builder runs instead of plain top-k): greedily pick k=5 vectors
  // maximizing mmr = relevance − penalty, penalty = half the max
  // cosine to the already-selected set (λ=0.5). The greedy is
  // INHERENTLY sequential in k — each round is one pass over the
  // checkpointed candidate table (a broadcast ≤k-row selected set,
  // the codegen'd cosine kernel, a 1-row partial-agg argmax), so the
  // driver holds k scalar results, never data. Penalties use the
  // sign/abs truncating device (max-sim can be negative; Spark DIV
  // truncates, DuckDB // floors — on |x| they agree). At 100 TB the
  // documented shortlist knob (top-N by relevance before the loop)
  // bounds the per-round pass; the catalogue point keeps the loop
  // exact over all candidates.
  private val mmrSelect = Q(
    "sim_mmr_select",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.cosine_e9
      val emb = graft.util.Cols.fanout(Tables.embeddings(s, d))
      val q0 = emb.filter($"vec_id" === 0).select($"embedding".as("qe"))
      val cand = emb.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(q0))
        .select($"vec_id", $"embedding", cosine_e9($"embedding", $"qe").as("rel_e9"))
      // Round-15 (guide §1.2 "the distributed algorithm"): the max-sim
      // penalty over the selected set is incrementally maintainable —
      // max over {s1..sr} = max(max over {s1..s(r-1)}, sim to sr) on
      // exact BIGINTs — so each round scores ONE kernel call per
      // candidate against the newest pick (carried `ms` column on a
      // checkpointed frame) instead of re-scoring the whole selected
      // set through a crossJoin + per-candidate groupBy. Kernel calls
      // drop from N·k(k−1)/2 to N·(k−1); the per-round exchange
      // disappears (the argmax is the same single partial agg).
      // Identical integers by induction on the max chain.
      // Each round's state is the candidates not yet picked, carrying
      // `ms` and `mmr_e9`; Loop's per-round aggregate is the argmax
      // itself, and it brings the pick's embedding along for the next
      // round's kernel call.
      Loop(cand, 5, Loop.Fixed,
        max(struct($"mmr_e9", -$"vec_id", $"rel_e9", $"embedding"))) {
        case (st, None) => st.withColumn("ms", lit(Long.MinValue))
          .withColumn("mmr_e9", $"rel_e9")
        case (st, Some(last)) =>
          val pick = last.getStruct(1)
          st.filter($"vec_id" =!= -pick.getLong(1))
            .withColumn("ms", greatest($"ms",
              cosine_e9($"embedding", typedLit(pick.getSeq[Float](3)))))
            .withColumn("mmr_e9", $"rel_e9" - expr(
              "CASE WHEN ms < 0 THEN -1 ELSE 1 END * (abs(ms) div 2)"))
      }.stats.filter(_.getLong(0) > 0).map(_.getStruct(1)).zipWithIndex
        .map { case (p, i) => (i + 1L, -p.getLong(1), p.getLong(2), p.getLong(0)) }
        .toDF("rank", "vec_id", "rel_e9", "mmr_e9")
    },
    Some {
      // one CTE block per greedy round: max-sim-to-selected via the
      // decimal-exact cosine, then the (mmr, smallest-id) argmax
      def cosTo(sel: String, out: String) =
        s"""${out}_c AS (
           |  SELECT r.vec_id, r.rel_e9, max(CAST(round(
           |           CAST(p.dot AS DOUBLE) /
           |           sqrt(CAST(p.na AS DOUBLE) * CAST(p.nb AS DOUBLE)) * 1e9)
           |           AS BIGINT)) AS ms
           |  FROM mm_rel r
           |  JOIN (
           |    SELECT a.vec_id AS cv, s.vec_id AS sv,
           |           SUM(CAST(CAST(a.embedding[i] AS DOUBLE) *
           |                    CAST(b.embedding[i] AS DOUBLE)
           |                AS DECIMAL(30,15))) AS dot,
           |           SUM(CAST(CAST(a.embedding[i] AS DOUBLE) *
           |                    CAST(a.embedding[i] AS DOUBLE)
           |                AS DECIMAL(30,15))) AS na,
           |           SUM(CAST(CAST(b.embedding[i] AS DOUBLE) *
           |                    CAST(b.embedding[i] AS DOUBLE)
           |                AS DECIMAL(30,15))) AS nb
           |    FROM embeddings a
           |    CROSS JOIN $sel s
           |    JOIN embeddings b ON b.vec_id = s.vec_id
           |    CROSS JOIN range(1, 65) t(i)
           |    WHERE a.vec_id <> 0
           |    GROUP BY a.vec_id, s.vec_id) p ON p.cv = r.vec_id
           |  WHERE r.vec_id NOT IN (SELECT vec_id FROM $sel)
           |  GROUP BY r.vec_id, r.rel_e9),
           |$out AS (
           |  SELECT vec_id, rel_e9,
           |         rel_e9 - (CASE WHEN ms < 0 THEN -1 ELSE 1 END)
           |           * (abs(ms) // 2) AS mmr_e9
           |  FROM ${out}_c
           |  ORDER BY rel_e9 - (CASE WHEN ms < 0 THEN -1 ELSE 1 END)
           |             * (abs(ms) // 2) DESC, vec_id
           |  LIMIT 1)""".stripMargin
      s"""WITH mm_q AS (
         |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |mm_rel AS (
         |  SELECT e.vec_id,
         |         CAST(round(CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) *
         |                 CAST(q.qe[i] AS DOUBLE) AS DECIMAL(30,15)))
         |             AS DOUBLE) /
         |           sqrt(CAST(SUM(CAST(CAST(q.qe[i] AS DOUBLE) *
         |                 CAST(q.qe[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
         |             * CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) *
         |                 CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,15)))
         |               AS DOUBLE)) * 1e9) AS BIGINT) AS rel_e9
         |  FROM embeddings e, mm_q q, range(1, 65) t(i)
         |  WHERE e.vec_id <> 0
         |  GROUP BY e.vec_id),
         |mm_s1 AS (
         |  SELECT vec_id, rel_e9, rel_e9 AS mmr_e9 FROM mm_rel
         |  ORDER BY rel_e9 DESC, vec_id LIMIT 1),
         |mm_sel1 AS (SELECT vec_id FROM mm_s1),
         |${cosTo("mm_sel1", "mm_s2")},
         |mm_sel2 AS (SELECT vec_id FROM mm_sel1
         |            UNION ALL SELECT vec_id FROM mm_s2),
         |${cosTo("mm_sel2", "mm_s3")},
         |mm_sel3 AS (SELECT vec_id FROM mm_sel2
         |            UNION ALL SELECT vec_id FROM mm_s3),
         |${cosTo("mm_sel3", "mm_s4")},
         |mm_sel4 AS (SELECT vec_id FROM mm_sel3
         |            UNION ALL SELECT vec_id FROM mm_s4),
         |${cosTo("mm_sel4", "mm_s5")}
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel_e9, mmr_e9 FROM mm_s1
         |  UNION ALL SELECT 2, vec_id, rel_e9, mmr_e9 FROM mm_s2
         |  UNION ALL SELECT 3, vec_id, rel_e9, mmr_e9 FROM mm_s3
         |  UNION ALL SELECT 4, vec_id, rel_e9, mmr_e9 FROM mm_s4
         |  UNION ALL SELECT 5, vec_id, rel_e9, mmr_e9 FROM mm_s5)
         |ORDER BY rank""".stripMargin
    },
  )

  // nDCG@3 of the LSH-ANN ranking against GRADED exact-cosine
  // relevance (exact rank 1/2/3 → gain 3/2/1) — the ranking-quality
  // companion to recall/MRR: it rewards putting the BEST neighbour
  // first, which binary recall cannot see. The log₂ position
  // discounts are pinned integer micro-constants (10⁶, 630929 ≈
  // 10⁶/log₂3, 5·10⁵) shared verbatim by both engines, and every
  // probe has exactly 3 graded relevants so IDCG is the constant
  // 3·10⁶+2·630929+500000 = 4761858 — the whole metric is integer
  // division, hash-gated like the rest of the eval family. Scale
  // shape matches recall/MRR: exact side is one corpus scan past the
  // broadcast 10-probe panel.
  private val NdcgIdcg = 3L * 1000000 + 2L * 630929 + 500000
  private val ndcgEval = Q(
    "sim_ndcg_eval",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.cosine_e9
      val ann = lshAnn.fn(s, d) // (probe_id, rk, cand_id), rk <= 3
      val emb = graft.util.Cols.fanout(Tables.embeddings(s, d))
      val probes = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("probe_id"), $"embedding".as("pe"))
      val graded = emb
        .select($"vec_id".as("cand_id"), $"embedding".as("ce"))
        .crossJoin(broadcast(probes))
        .filter($"cand_id" =!= $"probe_id")
        .select($"probe_id", $"cand_id", cosine_e9($"pe", $"ce").as("c"))
        .withColumn("xrk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"probe_id").orderBy($"c".desc, $"cand_id")))
        .filter($"xrk" <= 3)
        .select($"probe_id", $"cand_id", (lit(4L) - $"xrk").as("gain"))
      ann.join(graded, Seq("probe_id", "cand_id"), "left")
        .select($"probe_id",
          (coalesce($"gain", lit(0L)) *
            when($"rk" === 1, 1000000L)
              .when($"rk" === 2, 630929L)
              .otherwise(500000L)).as("g"))
        .groupBy($"probe_id")
        .agg(sum($"g").as("dcg_e6"))
        .select($"probe_id", $"dcg_e6",
          expr(s"(dcg_e6 * 1000000) div $NdcgIdcg").as("ndcg_e6"))
        .orderBy($"probe_id")
    },
    Some(s"""WITH $annOracleCtes,
            |ndcg_ann AS (
            |  SELECT probe_id, rk, cand_id FROM ranked WHERE rk <= 3),
            |ndcg_xc AS (
            |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
            |         p.embedding AS pe, c.embedding AS ce
            |  FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
            |  WHERE p.vec_id < 10),
            |ndcg_xs AS (
            |  SELECT probe_id, cand_id,
            |         SUM(CAST(CAST(pe[k] AS DOUBLE) * CAST(ce[k] AS DOUBLE)
            |             AS DECIMAL(30,15))) AS dot,
            |         SUM(CAST(CAST(pe[k] AS DOUBLE) * CAST(pe[k] AS DOUBLE)
            |             AS DECIMAL(30,15))) AS na,
            |         SUM(CAST(CAST(ce[k] AS DOUBLE) * CAST(ce[k] AS DOUBLE)
            |             AS DECIMAL(30,15))) AS nb
            |  FROM ndcg_xc, range(1, 65) t(k)
            |  GROUP BY probe_id, cand_id),
            |ndcg_xr AS (
            |  SELECT probe_id, cand_id,
            |         row_number() OVER (
            |           PARTITION BY probe_id
            |           ORDER BY CAST(round(CAST(dot AS DOUBLE) /
            |                    sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9)
            |                    AS BIGINT) DESC, cand_id) AS xrk
            |  FROM ndcg_xs),
            |ndcg_rel AS (
            |  SELECT probe_id, cand_id, CAST(4 - xrk AS BIGINT) AS gain
            |  FROM ndcg_xr WHERE xrk <= 3),
            |ndcg_m AS (
            |  SELECT a.probe_id,
            |         coalesce(r.gain, 0)
            |           * CASE a.rk WHEN 1 THEN 1000000
            |                       WHEN 2 THEN 630929
            |                       ELSE 500000 END AS g
            |  FROM ndcg_ann a LEFT JOIN ndcg_rel r
            |    ON a.probe_id = r.probe_id AND a.cand_id = r.cand_id)
            |SELECT probe_id, CAST(sum(g) AS BIGINT) AS dcg_e6,
            |       CAST((sum(g)::HUGEINT * 1000000) // $NdcgIdcg AS BIGINT)
            |         AS ndcg_e6
            |FROM ndcg_m GROUP BY probe_id ORDER BY probe_id""".stripMargin),
  )

  // ANN QUALITY EVAL: recall@3 and MRR of the LSH-ANN against the
  // exact brute-force top-3 — the metric loop every production ANN
  // deployment runs on a probe sample. The ground truth side is
  // deliberately brute-force (that is what makes it ground truth) but
  // only over the 10-probe sample: candidates stream past a broadcast
  // of the probes, so the exact pass costs one scan however large the
  // corpus. All metrics are exact integers (hits, floor-percent,
  // floor-milli reciprocal rank) — no float drift between engines.
  private val recallMrrEval = Q(
    "sim_recall_mrr_eval",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.cosine_e9
      val ann = lshAnn.fn(s, d) // (probe_id, rk, cand_id)
      val emb = graft.util.Cols.fanout(Tables.embeddings(s, d))
      val probes = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("probe_id"), $"embedding".as("pe"))
      val exact3 = emb
        .select($"vec_id".as("cand_id"), $"embedding".as("ce"))
        .crossJoin(broadcast(probes))
        .filter($"cand_id" =!= $"probe_id")
        .select($"probe_id", $"cand_id", cosine_e9($"pe", $"ce").as("c"))
        .withColumn("xrk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"probe_id").orderBy($"c".desc, $"cand_id")))
        .filter($"xrk" <= 3)
        .select($"probe_id", $"cand_id", lit(1L).as("rel"))
      ann.join(exact3, Seq("probe_id", "cand_id"), "left")
        .groupBy($"probe_id")
        .agg(
          sum(coalesce($"rel", lit(0L))).as("n_hits"),
          min(when($"rel" === 1L, $"rk")).as("first_rel"))
        .select(
          $"probe_id",
          $"n_hits",
          floor($"n_hits" * 100 / 3).cast("long").as("recall_pct"),
          coalesce(floor(lit(1000) / $"first_rel").cast("long"), lit(0L))
            .as("mrr_milli"))
        .orderBy($"probe_id")
    },
    Some(s"""WITH $annOracleCtes,
            |ann AS (
            |  SELECT probe_id, rk, cand_id FROM ranked WHERE rk <= 3),
            |xcand AS (
            |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
            |         p.embedding AS pe, c.embedding AS ce
            |  FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
            |  WHERE p.vec_id < 10),
            |xsums AS (
            |  SELECT probe_id, cand_id,
            |         SUM(CAST(CAST(pe[k] AS DOUBLE) * CAST(ce[k] AS DOUBLE)
            |             AS DECIMAL(30,15))) AS dot,
            |         SUM(CAST(CAST(pe[k] AS DOUBLE) * CAST(pe[k] AS DOUBLE)
            |             AS DECIMAL(30,15))) AS na,
            |         SUM(CAST(CAST(ce[k] AS DOUBLE) * CAST(ce[k] AS DOUBLE)
            |             AS DECIMAL(30,15))) AS nb
            |  FROM xcand, range(1, 65) t(k)
            |  GROUP BY probe_id, cand_id),
            |xrank AS (
            |  SELECT probe_id, cand_id,
            |         row_number() OVER (
            |           PARTITION BY probe_id
            |           ORDER BY CAST(round(CAST(dot AS DOUBLE) /
            |                    sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9)
            |                    AS BIGINT) DESC, cand_id) AS xrk
            |  FROM xsums),
            |rel AS (SELECT probe_id, cand_id FROM xrank WHERE xrk <= 3),
            |m AS (
            |  SELECT a.probe_id, a.rk,
            |         CASE WHEN r.cand_id IS NOT NULL THEN 1 ELSE 0 END AS rel
            |  FROM ann a LEFT JOIN rel r
            |    ON a.probe_id = r.probe_id AND a.cand_id = r.cand_id)
            |SELECT probe_id,
            |       CAST(SUM(rel) AS BIGINT) AS n_hits,
            |       CAST(floor(SUM(rel) * 100 / 3) AS BIGINT) AS recall_pct,
            |       CAST(coalesce(floor(1000 / min(CASE WHEN rel = 1 THEN rk END)), 0)
            |            AS BIGINT) AS mrr_milli
            |FROM m GROUP BY probe_id ORDER BY probe_id""".stripMargin),
  )

  // MATRYOSHKA PREFIX-DIM RETRIEVAL EVAL (Kusupati 2022: MRL-trained
  // embeddings let you search on a PREFIX of the dimensions and pay
  // recall, not correctness — the dominant cost lever for 100 TB
  // vector search, where a 16-of-64-dim index is 4× less shuffle and
  // memory). Measures exactly what that trade costs on THIS corpus:
  // recall@3 of prefix-cosine top-3 (p ∈ {16, 32}) against the
  // full-64-dim exact top-3 over the 10-probe panel, with the p = 64
  // row as the tautological 100% control. One scored pass computes
  // all three decimal-exact kernels per (probe, cand) pair —
  // candidates stream past the broadcast probe panel, so the eval is
  // one corpus scan at any size; the three rank windows run over the
  // 10-probe slices.
  private val matryoshkaEval = Q(
    "sim_matryoshka_eval",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.functions.exprs.cosine_e9
      val emb = graft.util.Cols.fanout(Tables.embeddings(s, d))
      val probes = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("probe_id"), $"embedding".as("pe"))
      val pairs = emb
        .select($"vec_id".as("cand_id"), $"embedding".as("ce"))
        .crossJoin(broadcast(probes))
        .filter($"cand_id" =!= $"probe_id")
        .select($"probe_id", $"cand_id",
          cosine_e9(slice($"pe", 1, 16), slice($"ce", 1, 16)).as("c16"),
          cosine_e9(slice($"pe", 1, 32), slice($"ce", 1, 32)).as("c32"),
          cosine_e9($"pe", $"ce").as("c64"))
        .localCheckpoint() // three rank windows over one scored pass
      def top3(c: String) = pairs
        .withColumn("rk", row_number().over(Window.partitionBy($"probe_id")
          .orderBy(col(c).desc, $"cand_id")))
        .filter($"rk" <= 3).select($"probe_id", $"cand_id")
      val truth = top3("c64")
      def row(p: Long, c: String) = top3(c)
        .join(truth, Seq("probe_id", "cand_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(p).as("prefix_dims"), $"hits",
          expr("(hits * 100) div 30").as("recall_pct"))
      row(16L, "c16").unionByName(row(32L, "c32"))
        .unionByName(row(64L, "c64"))
        .orderBy($"prefix_dims")
    },
    Some("""WITH mt_p AS (SELECT vec_id AS probe_id, embedding AS pe
           |              FROM embeddings WHERE vec_id < 10),
           |mt_s AS (
           |  SELECT probe_id, c.vec_id AS cand_id,
           |    SUM(CASE WHEN k <= 16 THEN CAST(CAST(pe[k] AS DOUBLE)
           |        * CAST(c.embedding[k] AS DOUBLE) AS DECIMAL(30,15)) END)
           |      AS d16,
           |    SUM(CASE WHEN k <= 16 THEN CAST(CAST(pe[k] AS DOUBLE)
           |        * CAST(pe[k] AS DOUBLE) AS DECIMAL(30,15)) END) AS p16,
           |    SUM(CASE WHEN k <= 16 THEN CAST(CAST(c.embedding[k] AS DOUBLE)
           |        * CAST(c.embedding[k] AS DOUBLE) AS DECIMAL(30,15)) END)
           |      AS q16,
           |    SUM(CASE WHEN k <= 32 THEN CAST(CAST(pe[k] AS DOUBLE)
           |        * CAST(c.embedding[k] AS DOUBLE) AS DECIMAL(30,15)) END)
           |      AS d32,
           |    SUM(CASE WHEN k <= 32 THEN CAST(CAST(pe[k] AS DOUBLE)
           |        * CAST(pe[k] AS DOUBLE) AS DECIMAL(30,15)) END) AS p32,
           |    SUM(CASE WHEN k <= 32 THEN CAST(CAST(c.embedding[k] AS DOUBLE)
           |        * CAST(c.embedding[k] AS DOUBLE) AS DECIMAL(30,15)) END)
           |      AS q32,
           |    SUM(CAST(CAST(pe[k] AS DOUBLE)
           |        * CAST(c.embedding[k] AS DOUBLE) AS DECIMAL(30,15)))
           |      AS d64,
           |    SUM(CAST(CAST(pe[k] AS DOUBLE)
           |        * CAST(pe[k] AS DOUBLE) AS DECIMAL(30,15))) AS p64,
           |    SUM(CAST(CAST(c.embedding[k] AS DOUBLE)
           |        * CAST(c.embedding[k] AS DOUBLE) AS DECIMAL(30,15)))
           |      AS q64
           |  FROM mt_p, embeddings c, range(1, 65) t(k)
           |  WHERE c.vec_id <> probe_id
           |  GROUP BY 1, 2),
           |mt_c AS (
           |  SELECT probe_id, cand_id,
           |    CAST(round(CAST(d16 AS DOUBLE) / sqrt(CAST(p16 AS DOUBLE)
           |         * CAST(q16 AS DOUBLE)) * 1e9) AS BIGINT) AS c16,
           |    CAST(round(CAST(d32 AS DOUBLE) / sqrt(CAST(p32 AS DOUBLE)
           |         * CAST(q32 AS DOUBLE)) * 1e9) AS BIGINT) AS c32,
           |    CAST(round(CAST(d64 AS DOUBLE) / sqrt(CAST(p64 AS DOUBLE)
           |         * CAST(q64 AS DOUBLE)) * 1e9) AS BIGINT) AS c64
           |  FROM mt_s),
           |mt_r AS (
           |  SELECT probe_id, cand_id,
           |    row_number() OVER (PARTITION BY probe_id
           |                       ORDER BY c16 DESC, cand_id) AS r16,
           |    row_number() OVER (PARTITION BY probe_id
           |                       ORDER BY c32 DESC, cand_id) AS r32,
           |    row_number() OVER (PARTITION BY probe_id
           |                       ORDER BY c64 DESC, cand_id) AS r64
           |  FROM mt_c),
           |mt_truth AS (SELECT probe_id, cand_id FROM mt_r WHERE r64 <= 3),
           |mt_out AS (
           |  SELECT 16 AS prefix_dims, CAST(count(*) AS BIGINT) AS hits
           |  FROM mt_r JOIN mt_truth USING (probe_id, cand_id)
           |  WHERE r16 <= 3
           |  UNION ALL
           |  SELECT 32, CAST(count(*) AS BIGINT)
           |  FROM mt_r JOIN mt_truth USING (probe_id, cand_id)
           |  WHERE r32 <= 3
           |  UNION ALL
           |  SELECT 64, CAST(count(*) AS BIGINT)
           |  FROM mt_r JOIN mt_truth USING (probe_id, cand_id)
           |  WHERE r64 <= 3)
           |SELECT CAST(prefix_dims AS BIGINT) AS prefix_dims, hits,
           |       (hits * 100) // 30 AS recall_pct
           |FROM mt_out ORDER BY prefix_dims""".stripMargin),
  )

  // K-CENTER GREEDY CORESET (Gonzalez 1985; the coreset selector
  // behind core-set active learning, Sener & Savarese 2018): start
  // from a seed and repeatedly add the point FARTHEST from the
  // current set (here: minimizing the max cosine to any selected
  // vector — max-coverage's adversarial dual to sim_mmr_select's
  // relevance-diversity blend). Four greedy rounds; each round is
  // one corpus scan against the ≤ 5-row broadcast selected set
  // (n·k kernel calls/round, k fixed — linear in the corpus), with
  // the 1-row argmin a TakeOrdered, not a global sort. The k-row
  // driver-side selection state is the documented published-artifact
  // shape (same as the IVF seeds / MMR picks). The seed row reports
  // the self-similarity sentinel 10⁹.
  private val kcenterCoreset = Q(
    "sim_kcenter_coreset",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.cosine_e9
      val emb = graft.util.Cols.fanout(Tables.embeddings(s, d))
        .select($"vec_id", $"embedding")
      val seed = emb.filter($"vec_id" === 0).select($"embedding".as("e0"))
      // Round-15 (guide §1.2): the max-cosine-to-selected is
      // incrementally maintainable on exact BIGINTs — carry `mc` on the
      // checkpointed state and score each round against the NEWEST
      // pick only (one kernel call per candidate per round instead of
      // re-scoring the whole selected set through a crossJoin +
      // groupBy). Identical integers by induction on the max chain.
      // The first round scores against the seed (vec 0, a broadcast
      // column like sim_mmr_select's query); Loop's per-round aggregate
      // is the argmin over (mc, vec_id), with the pick's embedding for
      // the next round.
      val picks = Loop(emb, 4, Loop.Fixed,
        min(struct($"mc", $"vec_id", $"embedding"))) {
        case (st, None) => st.filter($"vec_id" =!= 0).crossJoin(broadcast(seed))
          .select($"vec_id", $"embedding", cosine_e9($"embedding", $"e0").as("mc"))
        case (st, Some(last)) =>
          val pick = last.getStruct(1)
          st.filter($"vec_id" =!= pick.getLong(1))
            .withColumn("mc", greatest($"mc",
              cosine_e9($"embedding", typedLit(pick.getSeq[Float](2)))))
      }.stats.filter(_.getLong(0) > 0).map(_.getStruct(1))
      ((1L, 0L, 1000000000L) +: picks.zipWithIndex
        .map { case (p, i) => (i + 2L, p.getLong(1), p.getLong(0)) })
        .toDF("rank", "vec_id", "far_sim_e9").orderBy($"rank")
    },
    Some {
      def step(k: Int) =
        s"""st$k AS (
           |  SELECT av, max(c) AS mc FROM kc_sims
           |  WHERE bv IN (SELECT av FROM sel${k - 1})
           |    AND av NOT IN (SELECT av FROM sel${k - 1})
           |  GROUP BY av),
           |p$k AS (SELECT av, mc FROM st$k ORDER BY mc, av LIMIT 1),
           |sel$k AS (SELECT av FROM sel${k - 1}
           |          UNION ALL SELECT av FROM p$k)""".stripMargin
      s"""WITH kc_sims AS (
         |  SELECT a.vec_id AS av, b.vec_id AS bv,
         |         CAST(round(CAST(SUM(CAST(CAST(a.embedding[k] AS DOUBLE)
         |                * CAST(b.embedding[k] AS DOUBLE)
         |                AS DECIMAL(30,15))) AS DOUBLE) /
         |              sqrt(CAST(SUM(CAST(CAST(a.embedding[k] AS DOUBLE)
         |                   * CAST(a.embedding[k] AS DOUBLE)
         |                   AS DECIMAL(30,15))) AS DOUBLE)
         |                * CAST(SUM(CAST(CAST(b.embedding[k] AS DOUBLE)
         |                   * CAST(b.embedding[k] AS DOUBLE)
         |                   AS DECIMAL(30,15))) AS DOUBLE)) * 1e9) AS BIGINT)
         |           AS c
         |  FROM embeddings a
         |  JOIN embeddings b ON a.vec_id <> b.vec_id,
         |       range(1, 65) t(k)
         |  GROUP BY a.vec_id, b.vec_id),
         |sel1 AS (SELECT CAST(0 AS BIGINT) AS av),
         |${step(2)},
         |${step(3)},
         |${step(4)},
         |${step(5)}
         |SELECT CAST(rank AS BIGINT) AS rank,
         |       CAST(vec_id AS BIGINT) AS vec_id,
         |       CAST(far_sim_e9 AS BIGINT) AS far_sim_e9
         |FROM (
         |  SELECT 1 AS rank, 0 AS vec_id, 1000000000 AS far_sim_e9
         |  UNION ALL SELECT 2, av, mc FROM p2
         |  UNION ALL SELECT 3, av, mc FROM p3
         |  UNION ALL SELECT 4, av, mc FROM p4
         |  UNION ALL SELECT 5, av, mc FROM p5)
         |ORDER BY rank""".stripMargin
    },
  )

  // RECIPROCAL-RANK FUSION (Cormack et al. 2009) of two retrieval
  // lists — the hybrid-search staple: fuse the LSH-bounded ANN top-3
  // with the exact cosine top-3 per probe, score_ppm = Σ over lists
  // containing the candidate of 1000000 div (60 + rank). Integer
  // division keeps the fused score hash-gateable; the canonical
  // k = 60 damping constant is the published default. Scale shape:
  // both input rankings are per-probe ≤3-row artifacts (the ANN leg
  // never leaves its bucket key; the exact leg streams candidates
  // past the broadcast 10-probe panel), so the fusion join and the
  // final rank window touch ≤ 60 rows regardless of corpus size.
  private val rrfFusion = Q(
    "sim_rrf_fusion",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.functions.exprs.cosine_e9
      val ann = lshAnn.fn(s, d) // (probe_id, rk, cand_id), rk <= 3
      val emb = graft.util.Cols.fanout(Tables.embeddings(s, d))
      val probes = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("probe_id"), $"embedding".as("pe"))
      val exact3 = emb
        .select($"vec_id".as("cand_id"), $"embedding".as("ce"))
        .crossJoin(broadcast(probes))
        .filter($"cand_id" =!= $"probe_id")
        .select($"probe_id", $"cand_id", cosine_e9($"pe", $"ce").as("c"))
        .withColumn("xrk", row_number().over(
          Window.partitionBy($"probe_id").orderBy($"c".desc, $"cand_id")))
        .filter($"xrk" <= 3)
        .select($"probe_id", $"cand_id", $"xrk")
      val fused = ann.select($"probe_id", $"cand_id", $"rk")
        .join(exact3, Seq("probe_id", "cand_id"), "full_outer")
        .select($"probe_id", $"cand_id",
          (coalesce(expr("1000000 div (60 + rk)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + xrk)"), lit(0L))).as("rrf_ppm"))
      fused
        .withColumn("frk", row_number().over(
          Window.partitionBy($"probe_id").orderBy($"rrf_ppm".desc, $"cand_id")))
        .filter($"frk" <= 3)
        .select($"probe_id", $"frk", $"cand_id", $"rrf_ppm")
        .orderBy($"probe_id", $"frk")
    },
    Some(s"""WITH $annOracleCtes,
            |ann AS (
            |  SELECT probe_id, cand_id, rk FROM ranked WHERE rk <= 3),
            |xcand AS (
            |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
            |         p.embedding AS pe, c.embedding AS ce
            |  FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
            |  WHERE p.vec_id < 10),
            |xsums AS (
            |  SELECT probe_id, cand_id,
            |         SUM(CAST(CAST(pe[k] AS DOUBLE) * CAST(ce[k] AS DOUBLE)
            |             AS DECIMAL(30,15))) AS dot,
            |         SUM(CAST(CAST(pe[k] AS DOUBLE) * CAST(pe[k] AS DOUBLE)
            |             AS DECIMAL(30,15))) AS na,
            |         SUM(CAST(CAST(ce[k] AS DOUBLE) * CAST(ce[k] AS DOUBLE)
            |             AS DECIMAL(30,15))) AS nb
            |  FROM xcand, range(1, 65) t(k)
            |  GROUP BY probe_id, cand_id),
            |xrank3 AS (
            |  SELECT probe_id, cand_id, xrk FROM (
            |    SELECT probe_id, cand_id,
            |           row_number() OVER (
            |             PARTITION BY probe_id
            |             ORDER BY CAST(round(CAST(dot AS DOUBLE) /
            |                      sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e9)
            |                      AS BIGINT) DESC, cand_id) AS xrk
            |    FROM xsums)
            |  WHERE xrk <= 3),
            |fused AS (
            |  SELECT coalesce(a.probe_id, x.probe_id) AS probe_id,
            |         coalesce(a.cand_id, x.cand_id) AS cand_id,
            |         coalesce(1000000 // (60 + a.rk), 0)
            |           + coalesce(1000000 // (60 + x.xrk), 0) AS rrf_ppm
            |  FROM ann a FULL JOIN xrank3 x
            |    ON a.probe_id = x.probe_id AND a.cand_id = x.cand_id)
            |SELECT probe_id, frk, cand_id, CAST(rrf_ppm AS BIGINT) AS rrf_ppm
            |FROM (
            |  SELECT probe_id, cand_id, rrf_ppm,
            |         row_number() OVER (PARTITION BY probe_id
            |           ORDER BY rrf_ppm DESC, cand_id) AS frk
            |  FROM fused)
            |WHERE frk <= 3
            |ORDER BY probe_id, frk""".stripMargin),
  )

  def all: Seq[Q] =
    Seq(cosineTopK, lshBuckets, lshAnn, nearDup, ivfCells, ivfCellsK12,
      ivfTrainQ,
      ivfProbe, pqTopK, pqTopKC16, ivfPqCompose, semDedup, hardNegatives,
      centroidClassify,
      sqTopK, gramMatrix, pcaPower, recallMrrEval, ndcgEval, mmrSelect, knnGraph,
      knnEdgeCoverage, embeddingDrift, matryoshkaEval, kcenterCoreset,
      sqlSurfaceSimilarity, rrfFusion, pqRecallEval)
}
