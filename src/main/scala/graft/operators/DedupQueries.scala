package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables
import graft.util.Loop

/** Document deduplication operators for a training-data pipeline —
  * first-class components beyond the reference surface (BASELINE.json
  * north star): exact hash dedup, MinHash+LSH near-dup candidates,
  * SimHash signatures, and n-gram Jaccard verification.
  *
  * Everything is hash-deterministic (md5-derived hash families, no
  * engine-specific hash functions) so the DuckDB oracle can recompute
  * each result exactly.
  *
  * Scale notes: each stage is shuffle-partitioned by its natural key
  * (docHash, (k), (band, signature)), aggregations are partial, and
  * candidate generation never materializes the O(n²) pair space — LSH
  * bands bound the self-join. At 100 TB the shingle explosion is the
  * big intermediate; it flows straight into a partial min-aggregation
  * (map-side combine) so the shuffle carries only K×docs rows.
  */
object DedupQueries {

  /** Universal-hash family over a 48-bit base hash: (a_k·h + b_k) mod p
    * with p prime < 2^48 — every intermediate fits a long, so the
    * oracle replays it with plain integer SQL.
    */
  private final val P = 281474976710597L // largest prime < 2^48
  private def hashK(k: Int, h: org.apache.spark.sql.Column) =
    (lit(2L * k + 3) * (h % P) + lit(5L * k + 7)) % P

  // Exact dedup: group by content hash, keep the smallest doc_id
  // (deterministic winner), count the group.
  private val exact = Q(
    "td_exact_dedup",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .groupBy(md5($"text").as("content_md5"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy($"content_md5")
    },
    Some("""SELECT md5(text) AS content_md5,
           |       min(doc_id) AS keep_id,
           |       count(*) AS n_copies
           |FROM documents
           |GROUP BY md5(text)
           |ORDER BY content_md5""".stripMargin),
  )

  /** Shared oracle CTE chain: documents → shingles → minhash band
    * signatures → LSH candidate pairs. */
  private[operators] val minhashCandidatesCtes = """words AS (
    |  SELECT doc_id,
    |         unnest(string_split(text, ' ')) AS word,
    |         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
    |  FROM documents),
    |shingles AS (
    |  SELECT DISTINCT doc_id, shingle FROM (
    |    SELECT doc_id,
    |           word || ' ' || lead(word, 1) OVER w || ' ' ||
    |           lead(word, 2) OVER w AS shingle,
    |           lead(word, 2) OVER w AS w2
    |    FROM words
    |    WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
    |  WHERE w2 IS NOT NULL),
    |hashes AS (
    |  SELECT doc_id,
    |         CAST('0x' || substr(md5(shingle), 1, 12) AS BIGINT) AS h
    |  FROM shingles),
    |sigs AS (
    |  SELECT doc_id, k,
    |         min(((2*k + 3) * (h % 281474976710597) + (5*k + 7))
    |             % 281474976710597) AS minh
    |  FROM hashes CROSS JOIN range(0, 8) t(k)
    |  GROUP BY doc_id, k),
    |bands AS (
    |  SELECT doc_id, CAST(k // 2 AS INT) AS band,
    |         md5(string_agg(CAST(minh AS VARCHAR), ',' ORDER BY k)) AS band_sig
    |  FROM sigs
    |  GROUP BY doc_id, k // 2),
    |candidates AS (
    |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
    |  FROM bands a JOIN bands b
    |    ON a.band = b.band AND a.band_sig = b.band_sig
    |   AND a.doc_id < b.doc_id)""".stripMargin

  /** Shared oracle CTE chain continuing `candidates`: exact word-set
    * Jaccard per candidate pair, ending in
    * `verified(doc1, doc2, jaccard_e9)` — used by the verify query and
    * decontamination so the formula lives in one place.
    */
  private val jaccardVerifyCtes = """tokens AS (
    |  SELECT DISTINCT doc_id, word FROM (
    |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    |    FROM documents)),
    |sizes AS (
    |  SELECT doc_id, count(*) AS n_words FROM tokens GROUP BY doc_id),
    |inter AS (
    |  SELECT c.doc1, c.doc2, count(*) AS n_inter
    |  FROM candidates c
    |  JOIN tokens t1 ON t1.doc_id = c.doc1
    |  JOIN tokens t2 ON t2.doc_id = c.doc2 AND t2.word = t1.word
    |  GROUP BY c.doc1, c.doc2),
    |verified AS (
    |  SELECT c.doc1, c.doc2,
    |         CAST(round(CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
    |              (s1.n_words + s2.n_words - coalesce(i.n_inter, 0)) * 1e9)
    |              AS BIGINT) AS jaccard_e9
    |  FROM candidates c
    |  LEFT JOIN inter i ON i.doc1 = c.doc1 AND i.doc2 = c.doc2
    |  JOIN sizes s1 ON s1.doc_id = c.doc1
    |  JOIN sizes s2 ON s2.doc_id = c.doc2)""".stripMargin

  // MinHash + LSH banding: 3-word shingles, K=8 min-hashes from ONE
  // md5 per shingle + a universal-hash family (a_k*h + b_k mod p over
  // the md5's first 48 bits — 8x less hashing than md5-per-k), 4 bands
  // of 2 rows, candidate pairs from band-signature collisions.
  // Shingles are built in-row (no window shuffle), then ONE narrow
  // explode feeds a single groupBy(doc_id) computing all 8 min-hashes
  // as separate aggregates — everything stays inside whole-stage
  // codegen and the shuffle carries one row per doc.
  /** Shared MinHash band-signature pipeline: documents → in-row 3-word
    * shingles → one narrow explode → per-doc K=8 min-hash aggregates →
    * 4 two-row band signatures. Output: (doc_id, band, band_sig), one
    * shuffle (the per-doc aggregate). Used by the full-corpus pair
    * generation below and the incremental batch-vs-index probe join.
    */
  private[graft] def minhashBandsDf(
      s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    import graft.util.Cols.fanout
    val w = $"w"
    // Round-15: the shingle emission as ONE codegen'd primitive loop
    // (Shingles3 == array_distinct(zip_with(zip_with(slice, slice,
    // concat), slice, concat)), pinned by KernelSpec) — the zip_with
    // lambdas ran INTERPRETED and allocated three slices + two
    // intermediate arrays per document
    val sigs = fanout(Tables.documents(s, d))
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size(w) >= 3)
      .select($"doc_id",
        explode(graft.functions.exprs.shingles3(w)).as("shingle"))
      .select($"doc_id",
        expr("md5_prefix_long(12, shingle)").as("h"))
      .groupBy($"doc_id")
      .agg(
        min(hashK(0, $"h")).as("m0"),
        (1 to 7).map(k => min(hashK(k, $"h")).as(s"m$k")): _*)
    sigs.select($"doc_id",
      posexplode(array((0 to 3).map(b =>
        graft.functions.exprs.md5_hex(col(s"m${2 * b}").cast("string"),
          lit(","), col(s"m${2 * b + 1}").cast("string"))): _*))
        .as(Seq("band", "band_sig")))
  }

  private val minhashLsh = Q(
    "td_minhash_lsh_pairs",
    (s, d) => {
      import s.implicits._
      val bands = minhashBandsDf(s, d)
      // Candidate pairs WITHOUT a self-join (a self-join would run the
      // whole signature pipeline twice — Spark only reuses exchanges,
      // not arbitrary subplans): group each band bucket, then emit the
      // bucket's pair combinations in-row from the sorted id list.
      val ids = $"ids"
      bands
        .groupBy($"band", $"band_sig")
        .agg(array_sort(collect_list($"doc_id")).as("ids"))
        .filter(size(ids) >= 2)
        .select(explode(flatten(transform(
          sequence(lit(0), size(ids) - 2),
          i => transform(
            slice(ids, i + 2, size(ids)),
            j => struct(element_at(ids, i + 1).as("doc1"), j.as("doc2")))
        ))).as("p"))
        .select($"p.doc1".as("doc1"), $"p.doc2".as("doc2"))
        .distinct()
        .orderBy($"doc1", $"doc2")
    },
    Some(s"""WITH $minhashCandidatesCtes
            |SELECT doc1, doc2 FROM candidates
            |ORDER BY doc1, doc2""".stripMargin),
  )

  // SimHash: 60-bit signature from md5-derived word hashes (60 bits
  // keeps the value positive in BIGINT for the oracle). Bit b is set
  // when the sum over words of ±1 votes is positive. One word-hash row
  // per word; the 60 bit-votes are 60 conditional aggregates over
  // those rows (codegen'd, no x60 row explosion). Shared by the
  // signature query and the banded near-dup pairing below.
  private def simhashDf(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    import graft.util.Cols.fanout
    val words = fanout(Tables.documents(s, d))
      .select($"doc_id", explode(split($"text", " ")).as("word"))
      .select($"doc_id",
        expr("md5_prefix_long(15, word)").as("wh"))
    def vote(b: Int) =
      sum(when(expr(s"shiftright(wh, $b)") % 2 === 1, 1L).otherwise(-1L))
    val votes = words
      .groupBy($"doc_id")
      .agg(vote(0).as("v0"), (1 to 59).map(b => vote(b).as(s"v$b")): _*)
    votes.select($"doc_id",
      (0 to 59).map(b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
        .reduce(_ + _).as("simhash"))
  }

  /** DuckDB replay of the per-doc 60-bit simhash, as CTEs ending in
    * `sigs(doc_id, simhash)` — shared by the signature query and the
    * near-dup pairing. (Declared before its users: object vals
    * initialize in order.)
    */
  private val simhashCtes =
    """words AS (
      |  SELECT doc_id,
      |         CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS wh
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents)),
      |votes AS (
      |  SELECT doc_id, b,
      |         sum(CASE WHEN (wh // (1::BIGINT << b)) % 2 = 1
      |                  THEN 1 ELSE -1 END) AS v
      |  FROM words CROSS JOIN range(0, 60) t(b)
      |  GROUP BY doc_id, b),
      |sigs AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)
      |              AS BIGINT) AS simhash
      |  FROM votes GROUP BY doc_id)""".stripMargin

  private val simhash = Q(
    "td_simhash_signature",
    (s, d) => {
      import s.implicits._
      simhashDf(s, d).orderBy($"doc_id")
    },
    Some(s"""WITH $simhashCtes
            |SELECT doc_id, simhash FROM sigs
            |ORDER BY doc_id""".stripMargin),
  )

  // SimHash near-duplicate pairs at hamming distance <= 3, found via
  /** Band count for [[simhashNearDup]]'s blocking (default 4 → 15-bit
    * bands over the 60-bit signature). Any B with 60 % B == 0 and
    * B ≥ 4 keeps the pigeonhole guarantee for hamming ≤ 3 (more
    * generally ≤ B-1: B-1 differing bits cannot touch all B bands);
    * raising B widens recall coverage at a candidate cost of
    * n²·B/2^(60/B), lowering it (min 4) minimizes candidates. Knob:
    * -Dgraft.simhash.bands / SPARK_GRAFT_SIMHASH_BANDS.
    */
  private[operators] def simhashBands: Int = {
    val b = sys.props.get("graft.simhash.bands")
      .orElse(sys.env.get("SPARK_GRAFT_SIMHASH_BANDS")).map(_.toInt).getOrElse(4)
    require(b >= 4 && 60 % b == 0,
      s"simhash bands $b: need >= 4 (hamming-3 pigeonhole) and a divisor of 60")
    b
  }

  // BAND BLOCKING: the 60-bit signature splits into B bands of 60/B
  // bits (B = simhashBands, default 4×15), and by pigeonhole any pair
  // within hamming B-1 ⊇ 3 agrees exactly on at least one band — so
  // candidates come from an EQUI-join on (band, band_value), never an
  // all-pairs scan, and the final bit_count(xor) filter makes the
  // result exact. The oracle runs the naive all-pairs formulation,
  // which the pigeonhole theorem makes identical AT ANY B. Scale:
  // shuffles on the band value (skew bounded by genuine duplicate
  // clusters, AQE-handled); pairs matching several bands are deduped
  // before the popcount.
  private val simhashNearDup = Q(
    "td_simhash_neardup",
    (s, d) => {
      import s.implicits._
      val nb = simhashBands
      val wb = 60 / nb
      val mask = (1L << wb) - 1
      val sigs = simhashDf(s, d).localCheckpoint() // feeds both join sides
      val bands = sigs.select($"doc_id", $"simhash",
        explode(array((0 until nb).map(b =>
          struct(lit(b).as("band"),
            expr(s"shiftright(simhash, ${b * wb}) & $mask").as("bval"))): _*)).as("bb"))
        .select($"doc_id", $"simhash", $"bb.band".as("band"), $"bb.bval".as("bval"))
      val lhs = bands.select($"doc_id".as("doc1"), $"simhash".as("h1"), $"band", $"bval")
      val rhs = bands.select($"doc_id".as("doc2"), $"simhash".as("h2"),
        $"band".as("band2"), $"bval".as("bval2"))
      lhs.join(rhs, $"band" === $"band2" && $"bval" === $"bval2" && $"doc1" < $"doc2")
        .select($"doc1", $"doc2", $"h1", $"h2")
        .distinct()
        .select($"doc1", $"doc2",
          bit_count($"h1".bitwiseXOR($"h2")).as("hamming"))
        .filter($"hamming" <= 3)
        .orderBy($"doc1", $"doc2")
    },
    Some(s"""WITH $simhashCtes
            |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
            |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
            |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            |ORDER BY doc1, doc2""".stripMargin),
  )

  // N-gram (word) Jaccard similarity over same-source pairs at
  // threshold 0.5: each document's word set becomes a SORTED array of
  // long word-ids, and a pair costs one codegen'd two-pointer
  // intersection — O(|A|+|B|), no vocabulary-width term anywhere —
  // instead of an exploded (source, word) co-occurrence join that
  // materializes O(pairs-per-word) rows. Nothing in the plan holds
  // the vocabulary on one node: the word→id map is an unhinted
  // shuffle join (AQE may still broadcast it when the RUNTIME size is
  // small — correct at any scale), and per-document state is bounded
  // by the document's own word count. The integer intersection/union
  // counts — and therefore the double jaccard — are exactly what the
  // oracle's explode-join computes. (On corpora where per-block pair
  // counts still explode, the exact-join refinement is PPJoin-style
  // prefix filtering — candidates must share a token in their
  // (1-t)·|set|+1 rarest-token prefix — which composes with this
  // blocking; on the 31-word synthetic vocabulary every prefix
  // collides, so it would add cost without pruning here.)
  private val jaccard = Q(
    "td_ngram_jaccard",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.sorted_intersect_count
      import graft.util.Cols.fanout
      val tokens = fanout(Tables.documents(s, d))
        .select($"doc_id", $"source", explode(array_distinct(split($"text", " "))).as("word"))
      // Exact word→long bijection with no driver action and no dense
      // range: hash words into buckets, rank within each bucket
      // (parallel windows, never a single-partition sort), and pack
      // widx = bkt·2^32 + rank. Sorted-array intersection needs only
      // injectivity, not density, so the round-3 cumulative-offset
      // collect is gone. Any word→id bijection yields the same
      // jaccard, so the layout is oracle-equivalent.
      val NBuckets = 1024
      val vocab = tokens.select($"word").distinct()
        .withColumn("bkt", pmod(xxhash64($"word"), lit(NBuckets)).cast("int"))
        .withColumn("pos",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy($"bkt").orderBy($"word")) - 1)
        .select($"word",
          (shiftleft($"bkt".cast("long"), 32) + $"pos").as("widx"))
      // SIZE-BAND BLOCKING for the pair join: jaccard >= 0.5 forces
      // |A| <= 2|B| and |B| <= 2|A| (jaccard = I/U <= min/max), and two
      // word counts within 2x of each other have floor(log2) bands at
      // most 1 apart — so keying the join on (source, band) with one
      // side replicated to its 3 neighbouring bands covers every
      // qualifying pair exactly once while bounding candidates per
      // shuffle key, instead of O(n^2) pairs per source. band is
      // computed as length(bin(n)) - 1 (exact integer log2; floating
      // log2 can sit a ulp under an integer at exact powers of two).
      val sets = tokens
        .join(vocab, "word")
        .groupBy($"doc_id", $"source")
        .agg(sort_array(collect_list($"widx")).as("idxs"))
        .select($"doc_id", $"source", size($"idxs").as("nw"),
          (length(bin(size($"idxs"))) - 1).as("band"), $"idxs")
        .localCheckpoint() // feeds both sides of the pair join
      val a = sets.select($"doc_id".as("doc1"), $"source",
        $"nw".as("n1"), $"band", $"idxs".as("i1"))
      val b = sets.select($"doc_id".as("doc2"), $"source".as("source2"),
        $"nw".as("n2"), explode(array($"band" - 1, $"band", $"band" + 1)).as("band2"),
        $"idxs".as("i2"))
      a.join(b, $"source" === $"source2" && $"band" === $"band2" && $"doc1" < $"doc2")
        // cheap exact prune implied by the 0.5 threshold, ahead of the
        // intersection kernel (the band admits ratios up to ~4)
        .filter($"n1" <= $"n2" * 2 && $"n2" <= $"n1" * 2)
        .withColumn("ni", sorted_intersect_count($"i1", $"i2"))
        .select($"doc1", $"doc2",
          ($"ni".cast("double") / ($"n1" + $"n2" - $"ni")).as("jaccard"))
        .filter($"jaccard" >= 0.5)
        .orderBy($"doc1", $"doc2")
    },
    Some("""WITH tokens AS (
           |  SELECT DISTINCT doc_id, source, word FROM (
           |    SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
           |    FROM documents)),
           |sizes AS (
           |  SELECT doc_id, count(*) AS n_words FROM tokens GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
           |  FROM tokens a JOIN tokens b
           |    ON a.source = b.source AND a.word = b.word AND a.doc_id < b.doc_id
           |  GROUP BY a.doc_id, b.doc_id)
           |SELECT doc1, doc2,
           |       CAST(n_inter AS DOUBLE) / (n1 + n2 - n_inter) AS jaccard
           |FROM inter
           |JOIN (SELECT doc_id AS doc1, n_words AS n1 FROM sizes) s1 USING (doc1)
           |JOIN (SELECT doc_id AS doc2, n_words AS n2 FROM sizes) s2 USING (doc2)
           |WHERE CAST(n_inter AS DOUBLE) / (n1 + n2 - n_inter) >= 0.5
           |ORDER BY doc1, doc2""".stripMargin),
  )

  // End-to-end near-dup pipeline: MinHash/LSH candidate pairs verified
  // by exact word-set Jaccard — the scalable alternative to all-pairs
  // Jaccard (the join fan-in is bounded by LSH candidates, not by
  // vocabulary co-occurrence).
  private val jaccardOnCandidates = Q(
    "td_minhash_jaccard_verify",
    (s, d) => {
      import s.implicits._
      import graft.util.Cols.fanout
      // The candidate set is tiny but its lineage is the whole minhash
      // chain, and it feeds TWO joins below — localCheckpoint
      // materializes it once instead of recomputing the chain per use.
      val candidates = minhashLsh.fn(s, d).select($"doc1", $"doc2").localCheckpoint()
      // Round-14 (guide §2.3/§3): the exact-Jaccard verify used an
      // exploded token table joined on the WORD twice — two corpus-
      // sized exchanges plus a fanout hash join per verify. Each doc's
      // distinct word set as ONE sorted array + the codegen'd
      // two-pointer intersection (the td_ngram_jaccard device, string
      // variant) makes verification two doc_id-keyed joins and an
      // in-row O(|A|+|B|) count — same integers, no word exchange.
      // array_sort is binary UTF8 order, the same order the two-pointer
      // compare walks. Checkpointed: both candidate sides read it.
      val docsW = fanout(Tables.documents(s, d))
        .select($"doc_id",
          array_sort(array_distinct(split($"text", " "))).as("w"))
        .localCheckpoint()
      import graft.functions.exprs.sorted_intersect_count_str
      candidates
        .join(docsW.select($"doc_id".as("doc1"), $"w".as("w1")), "doc1")
        .join(docsW.select($"doc_id".as("doc2"), $"w".as("w2")), "doc2")
        .select($"doc1", $"doc2",
          sorted_intersect_count_str($"w1", $"w2").cast("long").as("n_inter"),
          size($"w1").cast("long").as("n1"), size($"w2").cast("long").as("n2"))
        .select($"doc1", $"doc2",
          round($"n_inter".cast("double") /
            ($"n1" + $"n2" - $"n_inter") * 1e9)
            .cast("long").as("jaccard_e9"))
        .orderBy($"doc1", $"doc2")
    },
    Some(s"""WITH $minhashCandidatesCtes,
            |$jaccardVerifyCtes
            |SELECT doc1, doc2, jaccard_e9 FROM verified
            |ORDER BY doc1, doc2""".stripMargin),
  )

  // Duplicate-cluster assignment: connected components over the LSH
  // candidate graph via iterative min-label propagation (the
  // driver-side loop only checks a convergence COUNT per round — all
  // data work is joins/aggregations; at scale this is the standard
  // alternating large-star/small-star shape). Output: every doc in a
  // candidate pair mapped to its component's minimum doc id — the
  // "keep one representative per duplicate cluster" step. The oracle
  // rebuilds components with a recursive transitive-closure CTE
  // (shared with td_cluster_canonical below).
  private[operators] val clusterCtes = """sym AS (
    |  SELECT doc1, doc2 FROM candidates
    |  UNION
    |  SELECT doc2, doc1 FROM candidates),
    |nodes AS (SELECT DISTINCT doc1 AS node FROM sym),
    |reach(src, dst) AS (
    |  SELECT node, node FROM nodes
    |  UNION
    |  SELECT r.src, e.doc2 FROM reach r JOIN sym e ON e.doc1 = r.dst),
    |clusters AS (
    |  SELECT src AS doc_id, min(dst) AS cluster_rep
    |  FROM reach GROUP BY src)""".stripMargin
  /** Connected components of the undirected graph `edges(doc1, doc2)`
    * (pairs with doc1 < doc2): every node mapped to its component's
    * minimum node id, as (node, label). Min-label propagation with
    * pointer jumping, run through [[graft.util.Loop]] until a round
    * changes no label. `cap` bounds the rounds; hitting it while labels
    * still change throws, naming `what`, rather than returning an
    * unconverged labelling.
    */
  private[operators] def components(edges: DataFrame, what: String,
      cap: Int = 12): DataFrame = {
    val sym = edges.unionByName(
      edges.select(col("doc2").as("doc1"), col("doc1").as("doc2")))
    // round-14 (the votesStep device): one (n, n) self-loop per node
    // delivers each node its own label through the SAME join that
    // delivers neighbor labels — the separate union arm (an extra
    // labels scan + shuffle per round) disappears, and `doc1 = doc2`
    // marks the self row that carries `old` for the convergence
    // check. Pairs are strictly doc1 < doc2, so the real edge set is
    // loop-free and the marker is exact.
    val nodes = sym.select(col("doc1").as("node")).distinct().localCheckpoint()
    val symPlus = sym.unionByName(
      nodes.select(col("node").as("doc1"), col("node").as("doc2")))
    /** One min-label propagation + pointer-jump step over the
      * self-looped edge list; `old` (the step's STARTING label,
      * delivered by the self row) rides along for the convergence
      * filter. The pointer-jump self-join reuses the propagation's
      * shuffle via ReusedExchange.
      */
    def step(in: DataFrame): DataFrame = {
      val propagated = symPlus
        .join(in, symPlus("doc2") === in("node"))
        .select(col("doc1").as("node"), col("label"),
          when(col("doc1") === symPlus("doc2"), col("label"))
            .cast(in.schema("label").dataType).as("old"))
        .groupBy(col("node"))
        .agg(min(col("label")).as("label"), max(col("old")).as("old"))
      // pointer jumping: relabel by the label's own label — halves
      // the rounds to converge (log diameter instead of diameter)
      val byLabel = propagated
        .select(col("node").as("jnode"), col("label").as("jlabel"))
      propagated
        .join(byLabel, col("label") === col("jnode"), "left_outer")
        .select(col("node"),
          least(col("label"), coalesce(col("jlabel"), col("label"))).as("label"),
          col("old"))
    }
    // Round-15 (guide §2, round overhead): TWO steps per round —
    // labels are monotone non-increasing, so "unchanged across the
    // second step" is exactly the fixed-point test a one-step round
    // runs, and the converged result (the transitive closure) does
    // not depend on how many extra steps ran before the check.
    val cc = Loop(nodes.select(col("node"), col("node").as("label")),
      cap, Loop.zero(1), count_if(col("label") =!= col("old"))) {
      (labels, _) => step(step(labels.select(col("node"), col("label")))
        .select(col("node"), col("label")))
    }
    if (!cc.settled) throw new IllegalStateException(
      s"$what: connected components still changing labels after ${cc.rounds} rounds")
    cc.state.select(col("node"), col("label"))
  }

  private[operators] val dedupClusters = Q(
    "td_dedup_clusters",
    (s, d) => {
      import s.implicits._
      val labels = components(
        minhashLsh.fn(s, d).select($"doc1", $"doc2").localCheckpoint(),
        "td_dedup_clusters")
      labels.select($"node".as("doc_id"), $"label".as("cluster_rep"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH RECURSIVE $minhashCandidatesCtes,
            |$clusterCtes
            |SELECT doc_id, cluster_rep FROM clusters
            |ORDER BY doc_id""".stripMargin),
  )

  // CANONICAL-DOC selection per duplicate cluster — the policy step
  // AFTER clustering: which copy survives. Production near-dup
  // pipelines keep the most complete copy, so the policy here is
  // argmax token count with min-doc_id tie-break — exact integers,
  // no float score in the comparison. Output is one row per cluster
  // with the kept doc and the token mass kept vs dropped (the
  // dedup-savings accounting line every corpus report carries).
  // Scale shape: the row_number window partitions BY CLUSTER, so its
  // sort buffer is bounded by cluster size (itself bounded by the LSH
  // candidate generation), never by the corpus.
  private val clusterCanonical = Q(
    "td_cluster_canonical",
    (s, d) => {
      import s.implicits._
      val labels = dedupClusters.fn(s, d) // (doc_id, cluster_rep)
      val sizes = Tables.documents(s, d)
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n_words"))
      val w = Window.partitionBy($"cluster_rep")
        .orderBy($"n_words".desc, $"doc_id")
      labels.join(sizes, "doc_id")
        .withColumn("rk", row_number().over(w))
        .groupBy($"cluster_rep")
        .agg(
          max(when($"rk" === 1, $"doc_id")).as("canonical_doc"),
          count(lit(1)).as("n_members"),
          sum(when($"rk" === 1, $"n_words").otherwise(0L)).as("tokens_kept"),
          sum(when($"rk" =!= 1, $"n_words").otherwise(0L)).as("tokens_dropped"))
        .orderBy($"cluster_rep")
    },
    Some(s"""WITH RECURSIVE $minhashCandidatesCtes,
            |$clusterCtes,
            |cc_z AS (
            |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
            |           AS n_words
            |  FROM documents),
            |cc_m AS (
            |  SELECT c.cluster_rep, c.doc_id, z.n_words,
            |         row_number() OVER (PARTITION BY c.cluster_rep
            |           ORDER BY z.n_words DESC, c.doc_id) AS rk
            |  FROM clusters c JOIN cc_z z USING (doc_id))
            |SELECT cluster_rep,
            |       CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
            |         AS canonical_doc,
            |       CAST(count(*) AS BIGINT) AS n_members,
            |       CAST(sum(CASE WHEN rk = 1 THEN n_words ELSE 0 END) AS BIGINT)
            |         AS tokens_kept,
            |       CAST(sum(CASE WHEN rk <> 1 THEN n_words ELSE 0 END) AS BIGINT)
            |         AS tokens_dropped
            |FROM cc_m GROUP BY cluster_rep
            |ORDER BY cluster_rep""".stripMargin),
  )

  // Train/test DECONTAMINATION: the step that keeps eval data out of
  // the training split. Composition of existing scale paths — MinHash
  // LSH candidates verified by exact Jaccard (never all-pairs), joined
  // to the stable hash split assignment — keeping pairs above 0.5 that
  // CROSS the train boundary; output names the contaminated eval doc
  // and its training near-duplicate.
  private val decontaminate = Q(
    "td_decontaminate",
    (s, d) => {
      import s.implicits._
      val verified = jaccardOnCandidates.fn(s, d) // (doc1, doc2, jaccard_e9)
      val bucket =
        expr("md5_prefix_long(6, CAST(doc_id AS STRING)) % 100")
      val splits = Tables.documents(s, d).select(
        $"doc_id",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"))
      verified
        .join(splits.select($"doc_id".as("doc1"), $"split".as("split1")), "doc1")
        .join(splits.select($"doc_id".as("doc2"), $"split".as("split2")), "doc2")
        .filter($"jaccard_e9" >= 500000000L &&
          (($"split1" === "train") =!= ($"split2" === "train")))
        .select(
          when($"split1" === "train", $"doc2").otherwise($"doc1").as("eval_doc"),
          when($"split1" === "train", $"split2").otherwise($"split1").as("eval_split"),
          when($"split1" === "train", $"doc1").otherwise($"doc2").as("train_doc"),
          $"jaccard_e9")
        .orderBy($"eval_doc", $"train_doc")
    },
    Some(s"""WITH $minhashCandidatesCtes,
            |$jaccardVerifyCtes,
            |splits AS (
            |  SELECT doc_id,
            |         CASE WHEN b < 80 THEN 'train'
            |              WHEN b < 90 THEN 'val' ELSE 'test' END AS split
            |  FROM (SELECT doc_id,
            |               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
            |                    AS BIGINT) % 100 AS b
            |        FROM documents))
            |SELECT CASE WHEN p1.split = 'train' THEN v.doc2 ELSE v.doc1 END AS eval_doc,
            |       CASE WHEN p1.split = 'train' THEN p2.split ELSE p1.split END AS eval_split,
            |       CASE WHEN p1.split = 'train' THEN v.doc1 ELSE v.doc2 END AS train_doc,
            |       v.jaccard_e9
            |FROM verified v
            |JOIN splits p1 ON p1.doc_id = v.doc1
            |JOIN splits p2 ON p2.doc_id = v.doc2
            |WHERE v.jaccard_e9 >= 500000000
            |  AND ((p1.split = 'train') <> (p2.split = 'train'))
            |ORDER BY eval_doc, train_doc""".stripMargin),
  )

  // CONCAT-AND-CHUNK sequence packing: the pretraining "global token
  // stream split into fixed-length sequences" operator — every doc
  // (in doc_id order) maps to the [first_seq, last_seq] range of
  // 512-token sequences its tokens land in. The global prefix sum is
  // the interesting part at scale: a naive `Window.orderBy(doc_id)`
  // is a SinglePartition sort of the corpus, so this computes it in
  // TWO PHASES — per-range partial sums under parallel windows, plus
  // driver-computed cumulative offsets of the ≤P tiny per-range
  // totals — the same shape a 1000-executor prefix sum takes. The
  // range id is doc_id·P/N (doc ids are dense), so ranges respect the
  // global order and the offsets are exact, not estimated.
  private val concatChunks = Q(
    "td_concat_chunks",
    (s, d) => {
      import s.implicits._
      val L = 512L
      val docs = Tables.documents(s, d)
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"))
      // One range per input partition (floor 8): the per-range window is
      // the prefix sum's parallel unit, so it must scale with the
      // cluster, not sit at a constant.
      val P = math.max(8, docs.rdd.getNumPartitions)
      // doc_id·P/n is only an order-respecting range partitioner when
      // ids are dense 0..n-1. Sparse or clustered ids would skew every
      // range onto few tasks and still emit plausible-looking output,
      // so the precondition fails loudly instead of silently.
      val stats = docs.agg(
        count(lit(1)), min($"doc_id").cast("long"), max($"doc_id").cast("long"))
        .head()
      val n = stats.getLong(0)
      require(n > 0 && stats.getLong(1) == 0L && stats.getLong(2) == n - 1,
        s"td_concat_chunks requires dense doc ids 0..n-1; got n=$n, " +
          s"min=${stats.get(1)}, max=${stats.get(2)}")
      val ranged = docs
        .withColumn("rid", ($"doc_id" * P / n).cast("int"))
        .localCheckpoint() // feeds the totals collect + the main pass
      val totals = ranged.groupBy($"rid").agg(sum($"n_tok").as("t"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      var acc = 0L
      val offsets = totals.keys.toSeq.sorted.map { r =>
        val o = (r, acc); acc += totals(r); o
      }.toDF("rid", "off")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"rid").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      ranged
        .withColumn("local_before", coalesce(sum($"n_tok").over(w), lit(0L)))
        .join(broadcast(offsets), "rid")
        .select($"doc_id", $"n_tok",
          (($"off" + $"local_before") / L).cast("long").as("first_seq"),
          (($"off" + $"local_before" + $"n_tok" - 1) / L).cast("long").as("last_seq"))
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (
           |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, n_tok,
           |         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           AS BIGINT) AS cb
           |  FROM t)
           |SELECT doc_id, n_tok,
           |       CAST(cb // 512 AS BIGINT) AS first_seq,
           |       CAST((cb + n_tok - 1) // 512 AS BIGINT) AS last_seq
           |FROM c
           |ORDER BY doc_id""".stripMargin),
  )

  // PARAGRAPH-LEVEL cross-document dedup (the CCNet/RefinedWeb-style
  // boilerplate pass): the corpus has no newlines, so a "paragraph" is
  // a fixed 5-word window (array slice — identical semantics in both
  // engines), fingerprinted with md5. A segment is "duplicated" when
  // it appears in >= 2 DISTINCT documents (within-doc repeats don't
  // count — that is ta_repetition_3gram's job), and a document is
  // flagged when >= 60% of its segments are duplicated. All counts are
  // integers and the ratio is integer percent, so the row set is
  // hash-gated exactly.
  // Scale shape: one explode bounded by token count / 5, one partial
  // agg keyed by the 128-bit fingerprint (map-side combine), and one
  // join back on that key to re-score documents — the same
  // token-to-stats-and-back layout as td_ngram_jaccard, with no pair
  // join anywhere: cost is linear in corpus tokens at any sf.
  private val paragraphDedup = Q(
    "td_paragraph_dedup",
    (s, d) => {
      import s.implicits._
      val L = 5
      val segs = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("words"))
        .select($"doc_id", $"words",
          explode(sequence(lit(0), expr(s"(size(words) + ${L - 1}) div $L - 1"))).as("seg_no"))
        .select($"doc_id",
          md5(array_join(slice($"words", $"seg_no" * L + 1, lit(L)), " ")).as("seg_h"))
      val crossDoc = segs.groupBy($"seg_h")
        .agg(countDistinct($"doc_id").as("n_docs"))
      segs.join(crossDoc, "seg_h")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum(when($"n_docs" >= 2, 1L).otherwise(0L)).as("n_dup_segs"))
        .withColumn("dup_pct", expr("n_dup_segs * 100 div n_segs"))
        .filter($"dup_pct" >= 60)
        .orderBy($"doc_id")
    },
    Some("""WITH docs AS (
           |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |segs AS (
           |  SELECT doc_id,
           |         md5(array_to_string(list_slice(w, s * 5 + 1, s * 5 + 5), ' ')) AS seg_h
           |  FROM docs, unnest(generate_series(0, (len(w) + 4) // 5 - 1)) AS t(s)),
           |cd AS (
           |  SELECT seg_h, count(DISTINCT doc_id) AS n_docs FROM segs GROUP BY seg_h),
           |per AS (
           |  SELECT doc_id, count(*) AS n_segs,
           |         sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup_segs
           |  FROM segs JOIN cd USING (seg_h) GROUP BY doc_id)
           |SELECT doc_id, n_segs, CAST(n_dup_segs AS BIGINT) AS n_dup_segs,
           |       CAST(n_dup_segs AS BIGINT) * 100 // n_segs AS dup_pct
           |FROM per
           |WHERE CAST(n_dup_segs AS BIGINT) * 100 // n_segs >= 60
           |ORDER BY doc_id""".stripMargin),
  )

  // CONTAINMENT join — the ASYMMETRIC near-dup relation Jaccard-LSH
  // structurally misses: a short document quoted inside a much longer
  // one has high containment |A∩B|/|A| but low Jaccard (the union is
  // dominated by B), so minhash buckets never pair them. Candidates
  // come from PREFIX FILTERING (Chaudhuri/Ganti/Kaushik ICDE'06 —
  // public literature): if B holds >= 90% of A's distinct words, B
  // must share at least one of A's floor(|A|/10)+1 globally-RAREST
  // words (missing all of them already misses > 10%). The candidate
  // join is therefore (source, rare-prefix word) against the full
  // posting list — on a Zipf/Heaps vocabulary those posting lists are
  // the SHORT ones, which is what bounds candidates at 100 TB; on this
  // fixture's bounded vocabulary every list collides (same caveat as
  // td_ngram_jaccard's prefix note), and the source block is what
  // bounds the fixture cost. Verification reuses the codegen'd
  // sorted-array intersection kernel; the threshold is checked as
  // 10·I >= 9·|A| in integers. The ORACLE is the UNBLOCKED all-pairs
  // formulation: a prefix-filter bug (a missed candidate) is a hash
  // mismatch, not a silently-agreeing replay.
  private val containment = Q(
    "td_containment_join",
    (s, d) => {
      import s.implicits._
      import graft.functions.exprs.sorted_intersect_count
      import graft.util.Cols.fanout
      import org.apache.spark.sql.expressions.Window
      val tokens = fanout(Tables.documents(s, d))
        .select($"doc_id", $"source",
          explode(array_distinct(split($"text", " "))).as("word"))
      // Same bucket-rank word→long bijection as td_ngram_jaccard: any
      // injective packing yields the same intersection counts.
      val NBuckets = 1024
      val vocab = tokens.select($"word").distinct()
        .withColumn("bkt", pmod(xxhash64($"word"), lit(NBuckets)).cast("int"))
        .withColumn("pos",
          row_number().over(Window.partitionBy($"bkt").orderBy($"word")) - 1)
        .select($"word", (shiftleft($"bkt".cast("long"), 32) + $"pos").as("widx"))
      val toks = tokens.join(vocab, "word")
        .select($"doc_id", $"source", $"widx")
        .localCheckpoint() // feeds df, sets, prefix, and postings
      val df = toks.groupBy($"widx").agg(count(lit(1)).as("df"))
      val sets = toks.groupBy($"doc_id", $"source")
        .agg(sort_array(collect_list($"widx")).as("idxs"))
        .withColumn("nw", size($"idxs").cast("long"))
        .localCheckpoint() // verified side of both semijoins below
      // rn <= floor(nw/10)+1  ⇔  (rn-1)·10 <= nw  (exact integers)
      val wd = Window.partitionBy($"doc_id")
      val prefix = toks.join(df, "widx")
        .withColumn("nw", count(lit(1)).over(wd))
        .withColumn("rn", row_number().over(wd.orderBy($"df", $"widx")))
        .filter($"nw" >= 10 && ($"rn" - 1) * 10 <= $"nw")
        .select($"doc_id".as("doc1"), $"source", $"widx")
      val postings = toks
        .select($"doc_id".as("doc2"), $"source".as("source2"), $"widx".as("widx2"))
      val candidates = prefix
        .join(postings,
          $"source" === $"source2" && $"widx" === $"widx2" && $"doc1" =!= $"doc2")
        .select($"doc1", $"doc2").distinct()
      val inner = sets.filter($"nw" >= 10)
        .select($"doc_id".as("doc1"), $"nw".as("n1"), $"idxs".as("i1"))
      val outer = sets.select($"doc_id".as("doc2"), $"idxs".as("i2"))
      candidates.join(inner, "doc1").join(outer, "doc2")
        .withColumn("ni", sorted_intersect_count($"i1", $"i2").cast("long"))
        .filter($"ni" * 10 >= $"n1" * 9)
        .select($"doc1", $"doc2", $"n1", $"ni")
        .orderBy($"doc1", $"doc2")
    },
    Some("""WITH tokens AS (
           |  SELECT DISTINCT doc_id, source, word FROM (
           |    SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
           |    FROM documents)),
           |sizes AS (
           |  SELECT doc_id, count(*) AS n FROM tokens GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS ni
           |  FROM tokens a JOIN tokens b
           |    ON a.source = b.source AND a.word = b.word AND a.doc_id <> b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc1, doc2, s1.n AS n1, ni
           |FROM inter JOIN sizes s1 ON doc1 = s1.doc_id
           |WHERE s1.n >= 10 AND ni * 10 >= s1.n * 9
           |ORDER BY doc1, doc2""".stripMargin),
  )

  // GREEDY BIN-PACKING sequence packer — the other pretraining packer
  // (td_concat_chunks above is the concat-and-split one): documents
  // are packed WHOLE into fixed-capacity bins (no doc straddles a
  // boundary — the shape used when cross-document attention
  // contamination matters), greedily in doc_id order: a doc joins the
  // current bin if it fits, else opens a new one. A GLOBAL greedy fold
  // is inherently serial, so the corpus shards into fixed-size ranges
  // of R=100 docs (rng = doc_id div R) packed independently — at any
  // scale each shard's fold is a constant-size task and shard count
  // grows with the data, which is exactly how a 1000-executor packer
  // runs. The per-shard fold itself is a native `aggregate`
  // higher-order function over the shard's collect_list (bounded at R
  // structs — never a driver loop, never a window sort); the DuckDB
  // oracle replays the same fold as a recursive CTE stepping rn→rn+1
  // within every shard simultaneously.
  private val sequencePack = Q(
    "td_sequence_pack",
    (s, d) => {
      import s.implicits._
      val C = 256L // bin capacity in whitespace tokens (max doc = 99)
      val R = 100L // docs per independently-packed shard
      val docs = Tables.documents(s, d)
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"))
        .withColumn("rng", expr(s"doc_id div $R"))
      docs
        .groupBy($"rng")
        .agg(array_sort(collect_list(struct($"doc_id", $"n_tok"))).as("ds"))
        .select($"rng", expr(s"""
          aggregate(
            ds,
            named_struct(
              'out', cast(array() as array<struct<doc_id:bigint,n_tok:bigint,bin:bigint>>),
              'bin', cast(0 as bigint), 'used', cast(0 as bigint)),
            (st, x) -> if(size(st.out) > 0 and st.used + x.n_tok <= $C,
              named_struct(
                'out', array_append(st.out, named_struct(
                  'doc_id', x.doc_id, 'n_tok', x.n_tok, 'bin', st.bin)),
                'bin', st.bin, 'used', st.used + x.n_tok),
              named_struct(
                'out', array_append(st.out, named_struct(
                  'doc_id', x.doc_id, 'n_tok', x.n_tok,
                  'bin', if(size(st.out) = 0, cast(0 as bigint), st.bin + 1))),
                'bin', if(size(st.out) = 0, cast(0 as bigint), st.bin + 1),
                'used', x.n_tok))).out""").as("packed"))
        .select($"rng", explode($"packed").as("e"))
        .select($"e.doc_id".as("doc_id"), $"e.n_tok".as("n_tok"),
          $"rng", $"e.bin".as("bin"))
        .orderBy($"doc_id")
    },
    Some("""WITH RECURSIVE t AS (
           |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           |         doc_id // 100 AS rng,
           |         row_number() OVER (PARTITION BY doc_id // 100
           |                            ORDER BY doc_id) AS rn
           |  FROM documents),
           |pack AS (
           |  SELECT rng, rn, doc_id, n_tok,
           |         CAST(0 AS BIGINT) AS bin, n_tok AS used
           |  FROM t WHERE rn = 1
           |  UNION ALL
           |  SELECT t.rng, t.rn, t.doc_id, t.n_tok,
           |         CASE WHEN p.used + t.n_tok <= 256 THEN p.bin
           |              ELSE p.bin + 1 END,
           |         CASE WHEN p.used + t.n_tok <= 256 THEN p.used + t.n_tok
           |              ELSE t.n_tok END
           |  FROM pack p JOIN t ON t.rng = p.rng AND t.rn = p.rn + 1)
           |SELECT doc_id, n_tok, rng, bin FROM pack
           |ORDER BY doc_id""".stripMargin),
  )

  // OVERLAPPING sliding-window chunking — the RAG/retrieval chunker
  // (fixed window, fixed stride, stride < window so context straddles
  // chunk boundaries), the third packing discipline next to
  // concat-and-chunk (split the global stream) and the bin packer
  // (whole docs, no straddle). Per doc: windows of 64 tokens at
  // stride 48, the last window clipped to the doc end; emitted as
  // (start, end, md5 of the chunk text) so rows stay narrow whatever
  // the chunk size. Pure per-row explode arithmetic — no shuffle
  // before the presentation sort, chunk count ∝ corpus tokens. The
  // extra-chunk count is greatest(n−17, 0) div 48 = ceil((n−64)/48)
  // clamped at 0, written with the subtraction INSIDE greatest so
  // Spark's truncating div and DuckDB's flooring // agree (they
  // diverge on negatives).
  private val chunkOverlap = Q(
    "td_chunk_overlap",
    (s, d) => {
      import s.implicits._
      val Size = 64; val Stride = 48
      Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("w"))
        .select($"doc_id", $"w", size($"w").as("n"),
          explode(sequence(lit(0),
            expr(s"greatest(size(w) - ${Size - Stride + 1}, 0) div $Stride"))).as("chunk_no"))
        .select($"doc_id", $"chunk_no".cast("int").as("chunk_no"),
          ($"chunk_no" * Stride + 1).cast("int").as("start_tok"),
          least($"chunk_no" * Stride + Size, $"n").as("end_tok"),
          $"w")
        .select($"doc_id", $"chunk_no", $"start_tok",
          $"end_tok".cast("int").as("end_tok"),
          ($"end_tok" - $"start_tok" + 1).cast("int").as("n_chunk_tokens"),
          md5(array_join(
            slice($"w", $"start_tok", $"end_tok" - $"start_tok" + 1), " "))
            .as("chunk_md5"))
        .orderBy($"doc_id", $"chunk_no")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |chunks AS (
           |  SELECT doc_id, w, len(w) AS n,
           |         CAST(unnest(range(0, greatest(len(w) - 17, 0) // 48 + 1))
           |              AS INT) AS chunk_no
           |  FROM toks)
           |SELECT doc_id, chunk_no,
           |       CAST(chunk_no * 48 + 1 AS INT) AS start_tok,
           |       CAST(least(chunk_no * 48 + 64, n) AS INT) AS end_tok,
           |       CAST(least(chunk_no * 48 + 64, n) - (chunk_no * 48 + 1) + 1
           |            AS INT) AS n_chunk_tokens,
           |       md5(array_to_string(
           |         list_slice(w, chunk_no * 48 + 1, least(chunk_no * 48 + 64, n)),
           |         ' ')) AS chunk_md5
           |FROM chunks
           |ORDER BY doc_id, chunk_no""".stripMargin),
  )

  // DUPLICATE-SPAN detection (the ExactSubstr dedup of Lee et al.
  // 2022, arXiv:2107.06499, at token granularity): an L=8-token span
  // appearing in >= 2 DISTINCT documents is a cross-corpus duplicate,
  // and every token position it covers is "duplicated text" a span
  // deduper would cut. Per document this reports the number of
  // flagged spans and the exact union coverage of their [pos, pos+L)
  // intervals — the interval union is the gaps-and-islands running
  // max, done per doc under a parallel window (each partition is one
  // doc's flagged spans, bounded by its token count). Span identity
  // is the md5 of the joined tokens, so the flagging groupBy shuffles
  // 128-bit keys, not text — the same linear token→stats→join-back
  // layout as td_paragraph_dedup, with OVERLAPPING spans (positions,
  // not fixed segments), which is what makes the coverage union
  // necessary and the guarantee exact: any duplicated run of >= L
  // tokens is fully covered.
  private val spanDedup = Q(
    "td_span_dedup",
    (s, d) => {
      import s.implicits._
      val L = 8
      val toks = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("w"))
      val grams = toks
        .select($"doc_id",
          explode(sequence(lit(1), greatest(size($"w") - (L - 1), lit(0)))).as("pos"),
          $"w")
        .select($"doc_id", $"pos",
          md5(array_join(slice($"w", $"pos", lit(L)), " ")).as("g"))
      val dup = grams.groupBy($"g")
        .agg(countDistinct($"doc_id").as("nd"))
        .filter($"nd" >= 2)
        .select($"g")
      val flagged = grams.join(dup, "g")
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      val cover = flagged
        .withColumn("prev_end",
          max($"pos" + (L - 1)).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          when($"prev_end".isNull || $"pos" > $"prev_end" + 1, 1L).otherwise(0L))
        .withColumn("island",
          sum($"new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy($"doc_id", $"island")
        .agg(min($"pos").as("a"), max($"pos" + (L - 1)).as("b"),
          count(lit(1)).as("spans"))
        .groupBy($"doc_id")
        .agg(sum($"spans").as("dup_spans"), sum($"b" - $"a" + 1).as("dup_tokens"))
      toks.select($"doc_id", size($"w").cast("long").as("n_tokens"))
        .join(cover, Seq("doc_id"), "left")
        .select($"doc_id", $"n_tokens",
          coalesce($"dup_spans", lit(0L)).as("dup_spans"),
          coalesce($"dup_tokens", lit(0L)).as("dup_tokens"))
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |grams AS (
           |  SELECT doc_id, CAST(unnest(range(1, len(w) - 6)) AS BIGINT) AS pos, w
           |  FROM toks),
           |hashed AS (
           |  SELECT doc_id, pos,
           |         md5(array_to_string(list_slice(w, pos, pos + 7), ' ')) AS g
           |  FROM grams),
           |dup AS (
           |  SELECT g FROM hashed GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
           |flagged AS (SELECT doc_id, pos FROM hashed JOIN dup USING (g)),
           |marked AS (
           |  SELECT doc_id, pos,
           |         max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
           |  FROM flagged),
           |islands AS (
           |  SELECT doc_id, pos,
           |         CAST(sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
           |                       THEN 1 ELSE 0 END)
           |           OVER (PARTITION BY doc_id ORDER BY pos
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |           AS BIGINT) AS island
           |  FROM marked),
           |per_island AS (
           |  SELECT doc_id, island, min(pos) AS a, max(pos + 7) AS b,
           |         count(*) AS spans
           |  FROM islands GROUP BY doc_id, island),
           |cover AS (
           |  SELECT doc_id, CAST(sum(spans) AS BIGINT) AS dup_spans,
           |         CAST(sum(b - a + 1) AS BIGINT) AS dup_tokens
           |  FROM per_island GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
           |       COALESCE(c.dup_spans, 0) AS dup_spans,
           |       COALESCE(c.dup_tokens, 0) AS dup_tokens
           |FROM toks t LEFT JOIN cover c USING (doc_id)
           |ORDER BY t.doc_id""".stripMargin),
  )

  // SOFT deduplication (SoftDeDup, arXiv:2401.00588): instead of
  // DROPPING near-duplicates, keep them all and shrink each one's
  // sampling weight to 1/m where m is its duplicate-cluster size —
  // the epoch then sees each duplicated CONTENT once in expectation
  // while no individual document is discarded. Composed entirely from
  // proven scale paths: cluster labels come from the bucketed
  // MinHash-LSH + pointer-jumping connected components above (never
  // all-pairs), cluster sizes are a count over those ≤|dup-docs|
  // labels, the weight join keys on doc_id, and the roll-up is a tiny
  // per-source aggregate — the numbers a mixture sampler needs to
  // draw a soft-deduplicated epoch (effective docs / effective chars
  // per source). Weights are exact integer micro-units (1e6 div m);
  // docs in no candidate pair keep weight 1.0 via the left join.
  /** Per-doc soft-dedup weights for docs in SOME duplicate cluster —
    * (doc_id, w_micro = 1e6 div cluster-size); consumers left-join and
    * coalesce absent docs to 1e6. Shared by the catalogue entry and
    * the composed data-selection gate (PipelineQueries).
    */
  private[operators] def softDedupDocWeights(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val clusters = dedupClusters.fn(s, d) // (doc_id, cluster_rep)
    val sizes = clusters.groupBy($"cluster_rep").agg(count(lit(1)).as("m"))
    clusters.join(sizes, "cluster_rep")
      .select($"doc_id", expr("1000000 div m").as("w_micro"))
  }

  /** Oracle CTE chain (RECURSIVE — place under `WITH RECURSIVE`)
    * ending in `sd_weights(doc_id, w_micro)` — the SQL twin of
    * [[softDedupDocWeights]], shared by the catalogue entry and the
    * composed data-selection gate.
    */
  private[operators] val softDedupCtes = s"""$minhashCandidatesCtes,
    |sd_sym AS (
    |  SELECT doc1, doc2 FROM candidates
    |  UNION
    |  SELECT doc2, doc1 FROM candidates),
    |sd_nodes AS (SELECT DISTINCT doc1 AS node FROM sd_sym),
    |sd_reach(src, dst) AS (
    |  SELECT node, node FROM sd_nodes
    |  UNION
    |  SELECT r.src, e.doc2 FROM sd_reach r JOIN sd_sym e ON e.doc1 = r.dst),
    |sd_clusters AS (
    |  SELECT src AS doc_id, min(dst) AS cluster_rep
    |  FROM sd_reach GROUP BY src),
    |sd_sizes AS (
    |  SELECT cluster_rep, count(*) AS m FROM sd_clusters GROUP BY cluster_rep),
    |sd_weights AS (
    |  SELECT c.doc_id, 1000000 // s.m AS w_micro
    |  FROM sd_clusters c JOIN sd_sizes s USING (cluster_rep))""".stripMargin

  private val softDedupWeights = Q(
    "td_softdedup_weights",
    (s, d) => {
      import s.implicits._
      val weights = softDedupDocWeights(s, d)
      Tables.documents(s, d)
        .select($"doc_id", $"source", $"n_chars")
        .join(weights, Seq("doc_id"), "left_outer")
        .select($"source", $"n_chars",
          coalesce($"w_micro", lit(1000000L)).as("w_micro"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").as("n_chars_sum"),
          sum($"w_micro").as("eff_docs_micro"),
          sum($"n_chars" * $"w_micro").as("eff_chars_micro"))
        .orderBy($"source")
    },
    Some(s"""WITH RECURSIVE $softDedupCtes
            |SELECT d.source,
            |       count(*) AS n_docs,
            |       CAST(sum(d.n_chars) AS BIGINT) AS n_chars_sum,
            |       CAST(sum(coalesce(w.w_micro, 1000000)) AS BIGINT) AS eff_docs_micro,
            |       CAST(sum(d.n_chars * coalesce(w.w_micro, 1000000)) AS BIGINT)
            |         AS eff_chars_micro
            |FROM documents d LEFT JOIN sd_weights w USING (doc_id)
            |GROUP BY d.source
            |ORDER BY d.source""".stripMargin),
  )

  // CORPUS-LEVEL source overlap via KMV set sketches — "how much of
  // source A is also in source B", the cross-corpus contamination /
  // provenance-audit question, answered WITHOUT an all-pairs content
  // join. Each source's sketch is its k smallest distinct 48-bit
  // content hashes (k = 128); for a pair, the k smallest of the
  // sketch UNION is a uniform sample of A∪B, so the fraction of that
  // sample present in both sketches estimates Jaccard(A, B) (Beyer et
  // al.'s KMV set-operation estimator). When |A∪B| ≤ k the sample IS
  // the union and the estimate is exact by construction. Everything
  // is md5-derived integers, so the oracle replays the ESTIMATE
  // bit-for-bit, and the exact_* columns (the qa_kmv device) carry
  // the ground truth next to it.
  //
  // Scale shape: sketches are ≤ k rows per source (a window over the
  // per-source distinct hashes — at 100 TB the same k-min is a
  // mergeable partial aggregate shipping k longs per task, the
  // KmvDistinct buffer); pair work is windows over ≤ 2k broadcast
  // rows per pair — independent of corpus size. The pair generator is
  // a < self-join of the source LIST (a handful of rows, broadcast
  // nested loop by design). Only the distinct (source, hash)
  // projection and the exact-audit join touch data-scale rows; the
  // audit columns are what a production run drops first.
  private val corpusOverlapKmv = Q(
    "td_corpus_overlap_kmv",
    (s, d) => {
      import s.implicits._
      val k = 128
      val h = Tables.documents(s, d)
        .select($"source",
          expr("md5_prefix_long(12, text)").as("h"))
        .distinct()
        .localCheckpoint()
      val sk = h
        .withColumn("rn",
          row_number().over(Window.partitionBy($"source").orderBy($"h")))
        .filter($"rn" <= k)
        .drop("rn")
      val srcs = h.select($"source").distinct()
      val pairs = srcs.select($"source".as("sa"))
        .join(srcs.select($"source".as("sb")), $"sa" < $"sb")
      // TWO equi-join legs + union, NOT a single OR-condition join: the
      // OR disjunction can only plan as BroadcastNestedLoopJoin —
      // |pairs| × |sketch rows| comparisons, which is sources² × 128·
      // sources and measured 20.6 s at grow_sf1 (200 sources: 19.9 k
      // pairs × 25.6 k sketch rows = 509 M compares, ~8 B at sf10).
      // Tagging each leg with its membership side up front also drops
      // the per-row `source === sa` re-evaluation; output volume is
      // exactly 2 × 128 × |pairs| either way. `pairs` broadcasts
      // (sources²/2 rows — fine for catalogue-scale source counts; a
      // 10^4-source corpus would flip the build side, which AQE does
      // once pairs outgrows the threshold).
      val legA = sk.withColumnRenamed("source", "sa")
        .join(broadcast(pairs), Seq("sa"))
        .select($"sa", $"sb", $"h", lit(1).as("ina"), lit(0).as("inb"))
      val legB = sk.withColumnRenamed("source", "sb")
        .join(broadcast(pairs), Seq("sb"))
        .select($"sa", $"sb", $"h", lit(0).as("ina"), lit(1).as("inb"))
      val merged = legA.unionByName(legB)
        .groupBy($"sa", $"sb", $"h")
        .agg(max($"ina").as("ina"), max($"inb").as("inb"))
        .withColumn("rn",
          row_number().over(Window.partitionBy($"sa", $"sb").orderBy($"h")))
        .filter($"rn" <= k)
      val est = merged.groupBy($"sa", $"sb")
        .agg(count(lit(1)).as("m"), sum(expr("ina * inb")).as("shared"))
      val n = h.groupBy($"source").agg(count(lit(1)).as("n"))
      val inter = h.select($"source".as("xa"), $"h")
        .join(h.select($"source".as("xb"), $"h"), Seq("h"))
        .filter($"xa" < $"xb")
        .groupBy($"xa", $"xb").agg(count(lit(1)).as("exact_inter"))
      est
        .join(inter, $"sa" === $"xa" && $"sb" === $"xb", "left_outer")
        .join(broadcast(n.select($"source".as("nsa"), $"n".as("na"))), $"sa" === $"nsa")
        .join(broadcast(n.select($"source".as("nsb"), $"n".as("nb"))), $"sb" === $"nsb")
        .select(
          $"sa".as("source_a"), $"sb".as("source_b"), $"m", $"shared",
          expr("shared * 1000000 div m").as("jaccard_micro"),
          coalesce($"exact_inter", lit(0L)).as("exact_inter"),
          (($"na" + $"nb") - coalesce($"exact_inter", lit(0L))).as("exact_union"),
          expr("coalesce(exact_inter, 0) * 1000000 div (na + nb - coalesce(exact_inter, 0))")
            .as("exact_jaccard_micro"))
        .orderBy($"source_a", $"source_b")
    },
    Some("""WITH ko_h AS (
      |  SELECT DISTINCT source,
      |         CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) AS h
      |  FROM documents),
      |ko_sk AS (
      |  SELECT source, h FROM (
      |    SELECT source, h,
      |           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |    FROM ko_h)
      |  WHERE rn <= 128),
      |ko_p AS (
      |  SELECT a.source AS sa, b.source AS sb
      |  FROM (SELECT DISTINCT source FROM ko_h) a,
      |       (SELECT DISTINCT source FROM ko_h) b
      |  WHERE a.source < b.source),
      |ko_m AS (
      |  SELECT sa, sb, h,
      |         max(CASE WHEN source = sa THEN 1 ELSE 0 END) AS ina,
      |         max(CASE WHEN source = sb THEN 1 ELSE 0 END) AS inb
      |  FROM ko_p JOIN ko_sk ON source = sa OR source = sb
      |  GROUP BY sa, sb, h),
      |ko_mk AS (
      |  SELECT sa, sb, ina, inb FROM (
      |    SELECT sa, sb, ina, inb,
      |           row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
      |    FROM ko_m)
      |  WHERE rn <= 128),
      |ko_est AS (
      |  SELECT sa, sb, count(*) AS m,
      |         CAST(sum(ina * inb) AS BIGINT) AS shared
      |  FROM ko_mk GROUP BY sa, sb),
      |ko_n AS (SELECT source, count(*) AS n FROM ko_h GROUP BY source),
      |ko_i AS (
      |  SELECT a.source AS sa, b.source AS sb, count(*) AS exact_inter
      |  FROM ko_h a JOIN ko_h b ON a.h = b.h AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |SELECT e.sa AS source_a, e.sb AS source_b, e.m, e.shared,
      |       e.shared * 1000000 // e.m AS jaccard_micro,
      |       coalesce(i.exact_inter, 0) AS exact_inter,
      |       na.n + nb.n - coalesce(i.exact_inter, 0) AS exact_union,
      |       coalesce(i.exact_inter, 0) * 1000000
      |         // (na.n + nb.n - coalesce(i.exact_inter, 0)) AS exact_jaccard_micro
      |FROM ko_est e
      |LEFT JOIN ko_i i ON e.sa = i.sa AND e.sb = i.sb
      |JOIN ko_n na ON na.source = e.sa
      |JOIN ko_n nb ON nb.source = e.sb
      |ORDER BY source_a, source_b""".stripMargin),
  )

  // T5/UL2-style SPAN CORRUPTION (Raffel et al. JMLR'20 §3.1.4): mask
  // ~15% of token positions by a stable per-(doc, pos) hash, collapse
  // each CONSECUTIVE masked run to one sentinel <extra_id_K> in the
  // input and emit "<extra_id_K> tokens…" runs plus </s> as the
  // target — the denoising-objective pair construction, fourth member
  // of the packing/chunking family. Spans come from the gaps-and-
  // islands device (first-of-run flag + running span count) under ONE
  // doc-keyed window shuffle; both sequences assemble in-row from
  // conditional piece collects and travel as md5 so rows stay narrow
  // whatever the doc length. Every piece is a deterministic string, so
  // the md5s hash-gate across engines. Scale: tokens shuffle once on
  // doc_id (sessionize-class per-key bound), everything after is
  // partition-local.
  private val spanCorrupt = Q(
    "td_span_corrupt",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy($"doc_id").orderBy($"pos")
      val cum = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val toks = Tables.documents(s, d)
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("i", "tok")))
        .select($"doc_id", ($"i" + 1).as("pos"), $"tok",
          (expr("""md5_prefix_long(6, 'mask:',
                  |  CAST(doc_id AS STRING), ':', CAST(i + 1 AS STRING))
                  |  % 100""".stripMargin) < 15).as("m"))
      val pieces = toks
        .withColumn("first", $"m" && !coalesce(lag($"m", 1).over(win), lit(false)))
        .withColumn("k", sum(when($"first", 1L).otherwise(0L)).over(cum))
        .select($"doc_id", $"pos", $"m", $"first",
          expr("""CASE WHEN NOT m THEN tok
                 |     WHEN first THEN '<extra_id_' || (k - 1) || '>' END""".stripMargin)
            .as("in_piece"),
          expr("""CASE WHEN m AND first
                 |       THEN '<extra_id_' || (k - 1) || '> ' || tok
                 |     WHEN m THEN tok END""".stripMargin).as("tg_piece"))
      pieces.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when($"m", 1L).otherwise(0L)).as("n_masked"),
          sum(when($"first", 1L).otherwise(0L)).as("n_spans"),
          expr("""array_join(transform(sort_array(collect_list(
                 |  CASE WHEN in_piece IS NOT NULL THEN struct(pos, in_piece) END)),
                 |  x -> x.in_piece), ' ')""".stripMargin).as("in_str"),
          expr("""array_join(transform(sort_array(collect_list(
                 |  CASE WHEN tg_piece IS NOT NULL THEN struct(pos, tg_piece) END)),
                 |  x -> x.tg_piece), ' ')""".stripMargin).as("tg_core"))
        .select($"doc_id", $"n_tokens", $"n_masked", $"n_spans",
          md5($"in_str").as("input_md5"),
          md5(when($"n_spans" === 0, lit("</s>"))
            .otherwise(concat($"tg_core", lit(" </s>")))).as("target_md5"))
        .orderBy($"doc_id")
    },
    Some("""WITH sc_t AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           |         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
           |  FROM documents),
           |sc_m AS (
           |  SELECT doc_id, pos, tok,
           |         CAST('0x' || substr(md5('mask:' || CAST(doc_id AS VARCHAR)
           |           || ':' || CAST(pos AS VARCHAR)), 1, 6) AS BIGINT) % 100 < 15 AS m
           |  FROM sc_t),
           |sc_f AS (
           |  SELECT *, m AND NOT coalesce(lag(m) OVER (
           |    PARTITION BY doc_id ORDER BY pos), false) AS first
           |  FROM sc_m),
           |sc_k AS (
           |  SELECT *, sum(CASE WHEN first THEN 1 ELSE 0 END) OVER (
           |    PARTITION BY doc_id ORDER BY pos
           |    ROWS UNBOUNDED PRECEDING) AS k
           |  FROM sc_f),
           |sc_p AS (
           |  SELECT doc_id, pos, m, first,
           |         CASE WHEN NOT m THEN tok
           |              WHEN first THEN '<extra_id_' || CAST(k - 1 AS VARCHAR) || '>'
           |         END AS in_piece,
           |         CASE WHEN m AND first
           |                THEN '<extra_id_' || CAST(k - 1 AS VARCHAR) || '> ' || tok
           |              WHEN m THEN tok END AS tg_piece
           |  FROM sc_k),
           |sc_a AS (
           |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |         CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           |         CAST(sum(CASE WHEN first THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
           |         coalesce(string_agg(in_piece, ' ' ORDER BY pos), '') AS in_str,
           |         string_agg(tg_piece, ' ' ORDER BY pos) AS tg_core
           |  FROM sc_p GROUP BY doc_id)
           |SELECT doc_id, n_tokens, n_masked, n_spans,
           |       md5(in_str) AS input_md5,
           |       md5(CASE WHEN n_spans = 0 THEN '</s>'
           |                ELSE tg_core || ' </s>' END) AS target_md5
           |FROM sc_a ORDER BY doc_id""".stripMargin),
  )

  // SEQUENCE-LENGTH BUCKETING with padding-waste accounting — the
  // batching-efficiency analysis run before training: docs grouped
  // into power-of-two length buckets (the bucketed-batching scheme
  // that bounds pad tokens at <50% instead of max-length padding's
  // unbounded waste), with exact token/pad counts and ppm waste per
  // bucket. The power-of-two ceiling is a GENERATED CASE ladder —
  // byte-identical text in the Spark expression and the oracle SQL,
  // so there is no float log2 to misround at a boundary. One per-doc
  // map pass + a ≤17-row aggregate: nothing shuffles but bucket rows.
  private val Pow2Ladder: String = {
    val whens = (0 to 16).map(k => s"WHEN n <= ${1L << k} THEN ${1L << k}")
      .mkString("\n  ")
    s"CASE\n  $whens\n  ELSE 1048576 END"
  }

  private val lengthBuckets = Q(
    "td_length_buckets",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(size(split($"text", " ")).cast("long").as("n"))
        .select($"n", expr(Pow2Ladder).as("bucket"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n").as("n_tokens"),
          sum(expr("bucket - n")).as("n_pad"))
        .select($"bucket", $"n_docs", $"n_tokens", $"n_pad",
          expr("1000000 * n_pad div (bucket * n_docs)").as("waste_ppm"))
        .orderBy($"bucket")
    },
    Some(s"""WITH lb_n AS (
            |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
            |  FROM documents),
            |lb_b AS (
            |  SELECT n, $Pow2Ladder AS bucket FROM lb_n)
            |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
            |       CAST(sum(n) AS BIGINT) AS n_tokens,
            |       CAST(sum(bucket - n) AS BIGINT) AS n_pad,
            |       1000000 * CAST(sum(bucket - n) AS BIGINT)
            |         // (bucket * CAST(count(*) AS BIGINT)) AS waste_ppm
            |FROM lb_b GROUP BY bucket
            |ORDER BY bucket""".stripMargin),
  )

  // INCREMENTAL DEDUP — the operational shape of near-dup ingestion at
  // 100 TB: a new crawl batch (doc_id % 5 == 0 here) is deduplicated
  // AGAINST the already-ingested corpus rather than re-clustering
  // everything. The existing corpus's band signatures are a persisted
  // index artifact in production; query-time work is (1) sign the
  // batch, (2) probe the index with an equi-join on (band, band_sig) —
  // the probe side is ∝ batch, the shuffle carries batch bands plus
  // matched index buckets, never corpus² — (3) exact-Jaccard-verify
  // only the probed candidates, (4) drop a batch doc that verifies
  // >= 0.8 against any base doc or any smaller-id batch doc
  // (first-arrival-keeps within the batch). Output: one row per batch
  // doc with the verified-duplicate count and the keep/drop action.
  // The oracle replays the decision from the full-corpus candidate
  // set restricted to batch-touching pairs — a bijection with the
  // probe join's output, so the two formulations must agree exactly.
  private val incrementalDedup = Q(
    "td_incremental_dedup",
    (s, d) => {
      import s.implicits._
      import graft.util.Cols.fanout
      // Band table feeds both sides of the probe join; checkpoint so
      // the signature pipeline runs once (Spark reuses exchanges, not
      // arbitrary subplans).
      val bands = minhashBandsDf(s, d)
        .withColumn("is_new", $"doc_id" % 5 === 0)
        .localCheckpoint()
      val probe = bands.filter($"is_new")
        .select($"doc_id".as("new_id"), $"band", $"band_sig")
      val index = bands
        .select($"doc_id".as("other_id"), $"is_new".as("other_new"),
          $"band", $"band_sig")
      val cand = probe.join(index, Seq("band", "band_sig"))
        .filter($"other_id" =!= $"new_id" &&
          (!$"other_new" || $"other_id" < $"new_id"))
        .select($"new_id", $"other_id").distinct()
        .localCheckpoint() // feeds both word-array joins
      // round-14: per-pair sorted-array intersection instead of the
      // exploded word-join (see jaccardOnCandidates — same device,
      // same integers, no corpus-wide word exchange)
      val docsW = fanout(Tables.documents(s, d))
        .select($"doc_id",
          array_sort(array_distinct(split($"text", " "))).as("w"))
        .localCheckpoint()
      import graft.functions.exprs.sorted_intersect_count_str
      val dups = cand
        .join(docsW.select($"doc_id".as("new_id"), $"w".as("w1")), "new_id")
        .join(docsW.select($"doc_id".as("other_id"), $"w".as("w2")), "other_id")
        .select($"new_id",
          sorted_intersect_count_str($"w1", $"w2").cast("long").as("n_inter"),
          size($"w1").cast("long").as("n1"), size($"w2").cast("long").as("n2"))
        .select($"new_id",
          round($"n_inter".cast("double") /
            ($"n1" + $"n2" - $"n_inter") * 1e9)
            .cast("long").as("jaccard_e9"))
        .filter($"jaccard_e9" >= 800000000L)
        .groupBy($"new_id").agg(count(lit(1)).as("n_dups"))
      Tables.documents(s, d).select($"doc_id").filter($"doc_id" % 5 === 0)
        .join(dups.select($"new_id".as("doc_id"), $"n_dups"),
          Seq("doc_id"), "left_outer")
        .select($"doc_id", coalesce($"n_dups", lit(0L)).as("n_dups"),
          when(coalesce($"n_dups", lit(0L)) > 0, "drop").otherwise("keep")
            .as("action"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH $minhashCandidatesCtes,
            |$jaccardVerifyCtes,
            |inc AS (
            |  SELECT CASE WHEN doc2 % 5 = 0 THEN doc2 ELSE doc1 END AS new_id
            |  FROM verified
            |  WHERE (doc1 % 5 = 0 OR doc2 % 5 = 0)
            |    AND jaccard_e9 >= 800000000),
            |dups AS (SELECT new_id, count(*) AS n_dups FROM inc GROUP BY new_id)
            |SELECT d.doc_id,
            |       coalesce(u.n_dups, 0) AS n_dups,
            |       CASE WHEN coalesce(u.n_dups, 0) > 0 THEN 'drop'
            |            ELSE 'keep' END AS action
            |FROM documents d LEFT JOIN dups u ON u.new_id = d.doc_id
            |WHERE d.doc_id % 5 = 0
            |ORDER BY d.doc_id""".stripMargin),
  )

  // CROSS-SOURCE DUPLICATION MATRIX — the corpus-QA roll-up of the
  // near-dup chain: for each ordered source pair (a, b), how many of
  // a's documents have a verified near-duplicate in b, and what
  // fraction of a that is (exact integer ppm). This is the table a
  // data-acquisition team reads to find mirrored crawls, syndicated
  // feeds, and sources that are subsets of other sources — the
  // decision input for dropping a whole source rather than deduping
  // doc by doc. Composition of gated paths only: candidates come from
  // the MinHash-LSH chain (never all-pairs), verification is the same
  // exact-Jaccard join `td_minhash_jaccard_verify` gates, and the new
  // work is two doc_id-keyed source-label joins plus aggregates whose
  // output is bounded by |sources|² no matter the corpus size. The
  // distinct-doc count shuffles (src_a, src_b, doc) keys — bounded by
  // verified-pair volume, which the LSH band geometry already bounds.
  private val crossSourceDup = Q(
    "td_cross_source_dup",
    (s, d) => {
      import s.implicits._
      // Verified pairs feed two direction legs below; checkpoint so the
      // whole minhash+verify lineage materializes once.
      val verified = jaccardOnCandidates.fn(s, d)
        .filter($"jaccard_e9" >= 500000000L).localCheckpoint()
      val src = Tables.documents(s, d).select($"doc_id", $"source")
      val dup = verified
        .join(src.select($"doc_id".as("doc1"), $"source".as("src1")), "doc1")
        .join(src.select($"doc_id".as("doc2"), $"source".as("src2")), "doc2")
      // Both directions: "a doc of src_a has a dup in src_b" is a
      // directed statement; the pair list carries each undirected pair
      // once (doc1 < doc2), so each side contributes one direction.
      val directed = dup.select($"doc1".as("doc"), $"src1".as("src_a"), $"src2".as("src_b"))
        .union(dup.select($"doc2".as("doc"), $"src2".as("src_a"), $"src1".as("src_b")))
      val counts = directed.groupBy($"src_a", $"src_b")
        .agg(countDistinct($"doc").as("n_dup_docs"))
      val sizes = src.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      counts
        .join(broadcast(sizes.select($"source".as("src_a"), $"n_docs")), "src_a")
        .select($"src_a", $"src_b", $"n_dup_docs",
          expr("n_dup_docs * 1000000 div n_docs").as("dup_ppm"))
        .orderBy($"src_a", $"src_b")
    },
    Some(s"""WITH $minhashCandidatesCtes,
            |$jaccardVerifyCtes,
            |dup AS (
            |  SELECT v.doc1, v.doc2, d1.source AS src1, d2.source AS src2
            |  FROM verified v
            |  JOIN documents d1 ON d1.doc_id = v.doc1
            |  JOIN documents d2 ON d2.doc_id = v.doc2
            |  WHERE v.jaccard_e9 >= 500000000),
            |directed AS (
            |  SELECT doc1 AS doc, src1 AS src_a, src2 AS src_b FROM dup
            |  UNION ALL
            |  SELECT doc2 AS doc, src2 AS src_a, src1 AS src_b FROM dup),
            |m AS (
            |  SELECT src_a, src_b, count(DISTINCT doc) AS n_dup_docs
            |  FROM directed GROUP BY src_a, src_b),
            |sz AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
            |SELECT m.src_a, m.src_b, m.n_dup_docs,
            |       CAST(m.n_dup_docs * 1000000 // sz.n_docs AS BIGINT) AS dup_ppm
            |FROM m JOIN sz ON sz.source = m.src_a
            |ORDER BY m.src_a, m.src_b""".stripMargin),
  )

  // CONTENT-DEFINED CHUNKING dedup (LBFS, Muthitacharoen et al.
  // SOSP'01; the rsync/backup-storage device): chunk boundaries come
  // from the CONTENT (a hash condition on each word), not fixed
  // offsets, so an insertion early in a document shifts only the one
  // chunk it lands in — fixed-size blocks would shift every later
  // block and kill all sharing. Word-level here (the corpus is
  // whitespace text): a boundary falls AFTER word i when
  // md5(word)%4 == 0, giving expected 4-word chunks; each chunk's
  // text is md5'd and deduplicated corpus-wide. Output: the top-20
  // most-saving duplicate chunks plus corpus totals — the storage-
  // dedup accounting.
  // Scale shape: chunking is IN-ROW lambda algebra (zero shuffle);
  // the only corpus-sized exchange is the chunk-hash partial
  // aggregate — identical to td_exact_dedup's shape but at sub-
  // document granularity; totals are a 1-row broadcast.
  private val cdcChunks = Q(
    "td_cdc_chunks",
    (s, d) => {
      import s.implicits._
      val chunks = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("w"))
        .withColumn("bnds",
          expr("filter(sequence(1, size(w)), i -> " +
            "CAST(conv(substr(md5(element_at(w, i)), 1, 4), 16, 10) AS BIGINT)" +
            " % 4 = 0)"))
        .withColumn("starts",
          expr("concat(array(1), transform(bnds, b -> b + 1))"))
        .withColumn("ends", expr("concat(bnds, array(size(w)))"))
        .select(explode(expr(
          "filter(zip_with(starts, ends, (s, e) -> " +
            "IF(s <= e, array_join(slice(w, s, e - s + 1), ' '), NULL))," +
            " c -> c IS NOT NULL)")).as("chunk"))
      val byHash = chunks
        .groupBy(md5($"chunk").as("h"), length($"chunk").cast("long").as("chunk_chars"))
        .agg(count(lit(1)).as("cnt"))
      val totals = byHash.agg(
        sum($"cnt").as("total_chunks"),
        count(lit(1)).as("distinct_chunks"),
        sum(($"cnt" - 1) * $"chunk_chars").as("saved_chars"))
      byHash.filter($"cnt" >= 2)
        .select($"h", $"cnt", $"chunk_chars",
          (($"cnt" - 1) * $"chunk_chars").as("saved"))
        .crossJoin(broadcast(totals))
        .orderBy($"saved".desc, $"h")
        .limit(20)
    },
    Some("""WITH c AS (
           |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |b AS (
           |  SELECT doc_id, w,
           |         list_filter(range(1, len(w) + 1), i ->
           |           CAST('0x' || substr(md5(w[i]), 1, 4) AS BIGINT) % 4 = 0)
           |           AS bnds
           |  FROM c),
           |se AS (
           |  SELECT doc_id, w,
           |         list_prepend(1, list_transform(bnds, x -> x + 1)) AS starts,
           |         list_append(bnds, len(w)) AS ends
           |  FROM b),
           |ch AS (
           |  SELECT unnest(list_filter(
           |           list_transform(range(1, len(starts) + 1), k ->
           |             CASE WHEN starts[k] <= ends[k]
           |                  THEN array_to_string(w[starts[k] : ends[k]], ' ')
           |             END),
           |           x -> x IS NOT NULL)) AS chunk
           |  FROM se),
           |byh AS (
           |  SELECT md5(chunk) AS h,
           |         CAST(length(chunk) AS BIGINT) AS chunk_chars,
           |         count(*) AS cnt
           |  FROM ch GROUP BY 1, 2),
           |tot AS (
           |  SELECT CAST(sum(cnt) AS BIGINT) AS total_chunks,
           |         count(*) AS distinct_chunks,
           |         CAST(sum((cnt - 1) * chunk_chars) AS BIGINT) AS saved_chars
           |  FROM byh)
           |SELECT h, cnt, chunk_chars,
           |       (cnt - 1) * chunk_chars AS saved,
           |       tot.total_chunks, tot.distinct_chunks, tot.saved_chars
           |FROM byh CROSS JOIN tot
           |WHERE cnt >= 2
           |ORDER BY saved DESC, h
           |LIMIT 20""".stripMargin),
  )

  // DEDUP QUALITY EVAL — precision/recall of the MinHash-LSH
  // candidate generator against EXACT ground truth IN THE SIMILARITY
  // SPACE THE GEOMETRY APPROXIMATES: the signatures minhash 3-word
  // SHINGLE sets (r=2 rows × b=4 bands → P(candidate) = 1−(1−J²)⁴
  // over shingle-Jaccard), so the honest ground truth is exact
  // shingle-set Jaccard ≥ 0.5 — word-set Jaccard would grade the
  // geometry against a similarity it never promised (this corpus
  // makes the difference stark: most doc pairs share ≥80% of their
  // WORDS but almost no exact 3-word runs). Truth pairs come from a
  // shingle-keyed inverted-index join — pair volume is Σ df² over
  // shingles (co-occurrence-bounded, never corpus²) — with the
  // cross-multiplied ≥0.5 test; predictions are the gated LSH
  // candidate pairs. One summary row: counts + floor-percent
  // precision/recall (at the b=4/r=2 S-curve, J=0.5 pairs surface
  // with p≈0.68 — the measured recall documents what the geometry
  // actually buys).
  private val dedupEval = Q(
    "td_dedup_eval",
    (s, d) => {
      import s.implicits._
      val sh = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("w"))
        .filter(size($"w") >= 3)
        .select($"doc_id", explode(array_distinct(expr(
          "transform(sequence(1, size(w) - 2), i -> concat_ws(' '," +
            " element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))")))
          .as("shingle"))
        .localCheckpoint() // both legs of the inverted-index join + sizes
      val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val inter = sh.select($"doc_id".as("doc1"), $"shingle")
        .join(sh.select($"doc_id".as("doc2"), $"shingle".as("s2")),
          $"shingle" === $"s2" && $"doc1" < $"doc2")
        .groupBy($"doc1", $"doc2").agg(count(lit(1)).as("ni"))
      // truth (shingle inverted index) and pred (the minhash chain)
      // are independent eager chains; the three final counts are
      // independent too — overlap all of them (guide §2.6)
      val Seq(truth, pred) = graft.util.Par(
        () => inter
          .join(sz.select($"doc_id".as("doc1"), $"n".as("n1")), "doc1")
          .join(sz.select($"doc_id".as("doc2"), $"n".as("n2")), "doc2")
          .filter($"ni" * 2 >= $"n1" + $"n2" - $"ni")
          .select($"doc1", $"doc2").localCheckpoint(),
        () => minhashLsh.fn(s, d)
          .select($"doc1", $"doc2").localCheckpoint())
      val Seq(tp, nT, nP) = graft.util.Par(
        () => pred.join(truth, Seq("doc1", "doc2"), "left_semi").count(),
        () => truth.count(),
        () => pred.count())
      Seq((nT, nP, tp,
        if (nP == 0) 0L else tp * 100 / nP,
        if (nT == 0) 0L else tp * 100 / nT))
        .toDF("n_truth", "n_pred", "tp", "precision_pct", "recall_pct")
    },
    Some(s"""WITH $minhashCandidatesCtes,
            |de_sz AS (
            |  SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
            |de_inter AS (
            |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS ni
            |  FROM shingles a JOIN shingles b
            |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            |  GROUP BY 1, 2),
            |de_truth AS (
            |  SELECT doc1, doc2
            |  FROM de_inter
            |  JOIN (SELECT doc_id AS doc1, n AS n1 FROM de_sz) s1 USING (doc1)
            |  JOIN (SELECT doc_id AS doc2, n AS n2 FROM de_sz) s2 USING (doc2)
            |  WHERE 2 * ni >= n1 + n2 - ni),
            |de_pred AS (SELECT DISTINCT doc1, doc2 FROM candidates),
            |de_tp AS (
            |  SELECT count(*) AS tp FROM de_pred p
            |  WHERE EXISTS (SELECT 1 FROM de_truth t
            |                WHERE t.doc1 = p.doc1 AND t.doc2 = p.doc2))
            |SELECT CAST((SELECT count(*) FROM de_truth) AS BIGINT) AS n_truth,
            |       CAST((SELECT count(*) FROM de_pred) AS BIGINT) AS n_pred,
            |       CAST(tp AS BIGINT) AS tp,
            |       CAST(CASE WHEN (SELECT count(*) FROM de_pred) = 0 THEN 0
            |            ELSE tp * 100 // (SELECT count(*) FROM de_pred) END
            |            AS BIGINT) AS precision_pct,
            |       CAST(CASE WHEN (SELECT count(*) FROM de_truth) = 0 THEN 0
            |            ELSE tp * 100 // (SELECT count(*) FROM de_truth) END
            |            AS BIGINT) AS recall_pct
            |FROM de_tp""".stripMargin),
  )

  // TRUNCATED-HASH DEDUP COLLISION AUDIT — the due-diligence check
  // before shipping the cheap shortcut everyone ships: deduping on a
  // short hash prefix instead of full content. Buckets docs by the
  // 12-bit md5 prefix and counts, per bucket, how many same-bucket
  // pairs are REAL duplicates (identical text) vs birthday-collision
  // false positives — entirely arithmetically, Σ n(n−1) − Σ ct(ct−1)
  // over the (bucket, text) group table, so the quadratic pair set is
  // never materialized. fp_ppb (collisions per 10⁹ cross-doc pairs)
  // is the scale-robust statistic; the raw pair counts grow ∝ n²/2^b
  // at fixed b, which is exactly the audit's point — b must grow with
  // the corpus (birthday bound), the same knob law as the kNN-graph
  // hyperplanes. Cross products in DECIMAL(38,0)/HUGEINT.
  private val hashCollisionAudit = Q(
    "td_hash_collision_audit",
    (s, d) => {
      import s.implicits._
      val perText = Tables.documents(s, d)
        .select(substring(md5($"text".cast("binary")), 1, 3).as("bucket"),
          $"text")
        .groupBy($"bucket", $"text").agg(count(lit(1)).as("ct"))
      val perBucket = perText.groupBy($"bucket")
        .agg(sum($"ct").as("n"),
          sum(($"ct" * ($"ct" - 1)).cast("decimal(38,0)")).as("c2"))
      perBucket.agg(
        sum($"n").as("n_docs"),
        count(lit(1)).as("n_buckets"),
        max($"n").as("max_bucket"),
        sum(($"n" * ($"n" - 1)).cast("decimal(38,0)")).as("n2"),
        sum($"c2").as("cc2"))
        .select(
          lit(12L).as("bits"),
          $"n_docs", $"n_buckets", $"max_bucket",
          expr("cc2 div 2").as("dup_pairs"),
          expr("(n2 - cc2) div 2").as("fp_pairs"),
          expr("((n2 - cc2) * 1000000000)" +
            " div (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1))").as("fp_ppb"))
    },
    Some("""WITH hc_t AS (
            |  SELECT substring(md5(text), 1, 3) AS bucket, text,
            |         CAST(count(*) AS BIGINT) AS ct
            |  FROM documents GROUP BY 1, 2),
            |hc_b AS (
            |  SELECT bucket, CAST(sum(ct) AS BIGINT) AS n,
            |         CAST(sum(ct::HUGEINT * (ct - 1)) AS HUGEINT) AS c2
            |  FROM hc_t GROUP BY 1)
            |SELECT CAST(12 AS BIGINT) AS bits,
            |       CAST(sum(n) AS BIGINT) AS n_docs,
            |       CAST(count(*) AS BIGINT) AS n_buckets,
            |       CAST(max(n) AS BIGINT) AS max_bucket,
            |       CAST(sum(c2) // 2 AS BIGINT) AS dup_pairs,
            |       CAST((sum(n::HUGEINT * (n - 1)) - sum(c2)) // 2 AS BIGINT)
            |         AS fp_pairs,
            |       CAST(((sum(n::HUGEINT * (n - 1)) - sum(c2)) * 1000000000)
            |            // (sum(n)::HUGEINT * (sum(n) - 1)) AS BIGINT)
            |         AS fp_ppb
            |FROM hc_b""".stripMargin),
  )

  // DEDUP THRESHOLD SWEEP — the tuning artifact every near-dup rollout
  // ships with: for each candidate Jaccard cutoff, how many verified
  // pairs fire and how many documents get touched. Runs ONCE over the
  // (gated) LSH-candidate + exact-verify pair table and rolls it up
  // against a broadcast 4-row threshold axis — the sweep costs one
  // extra broadcast fanout over the ALREADY-bounded verified pairs,
  // never a re-verification per threshold. Thresholds with zero pairs
  // survive via the left join (an empty rung is the answer, not a
  // missing row).
  private val thresholdSweep = Q(
    "td_threshold_sweep",
    (s, d) => {
      import s.implicits._
      val verified = jaccardOnCandidates.fn(s, d)
        .select($"doc1", $"doc2", $"jaccard_e9").localCheckpoint()
      val ths = s.createDataset(
        Seq(300000000L, 500000000L, 700000000L, 900000000L))(
        org.apache.spark.sql.Encoders.scalaLong).toDF("t_e9")
      val hits = verified.crossJoin(broadcast(ths))
        .filter($"jaccard_e9" >= $"t_e9")
      val pairs = hits.groupBy($"t_e9").agg(count(lit(1)).as("n_pairs"))
      val docs = hits
        .select($"t_e9", explode(array($"doc1", $"doc2")).as("doc"))
        .distinct()
        .groupBy($"t_e9").agg(count(lit(1)).as("n_docs"))
      ths.join(pairs, Seq("t_e9"), "left")
        .join(docs, Seq("t_e9"), "left")
        .select($"t_e9",
          coalesce($"n_pairs", lit(0L)).as("n_pairs"),
          coalesce($"n_docs", lit(0L)).as("n_docs"))
        .orderBy($"t_e9")
    },
    Some(s"""WITH $minhashCandidatesCtes,
            |$jaccardVerifyCtes,
            |sw_t AS (SELECT unnest([300000000, 500000000, 700000000,
            |                        900000000]) AS t_e9),
            |sw_h AS (SELECT t_e9, doc1, doc2 FROM verified CROSS JOIN sw_t
            |         WHERE jaccard_e9 >= t_e9),
            |sw_p AS (SELECT t_e9, CAST(count(*) AS BIGINT) AS n_pairs
            |         FROM sw_h GROUP BY 1),
            |sw_d AS (SELECT t_e9, CAST(count(*) AS BIGINT) AS n_docs FROM (
            |           SELECT DISTINCT t_e9, doc FROM (
            |             SELECT t_e9, doc1 AS doc FROM sw_h
            |             UNION ALL SELECT t_e9, doc2 FROM sw_h))
            |         GROUP BY 1)
            |SELECT CAST(t.t_e9 AS BIGINT) AS t_e9,
            |       coalesce(p.n_pairs, 0) AS n_pairs,
            |       coalesce(d.n_docs, 0) AS n_docs
            |FROM sw_t t
            |LEFT JOIN sw_p p ON p.t_e9 = t.t_e9
            |LEFT JOIN sw_d d ON d.t_e9 = t.t_e9
            |ORDER BY t_e9""".stripMargin),
  )

  def all: Seq[Q] =
    Seq(exact, minhashLsh, simhash, simhashNearDup, jaccard, jaccardOnCandidates,
      dedupClusters, clusterCanonical, decontaminate, concatChunks,
      paragraphDedup, containment,
      sequencePack, spanDedup, chunkOverlap, softDedupWeights, corpusOverlapKmv,
      spanCorrupt, lengthBuckets, incrementalDedup, crossSourceDup, cdcChunks,
      dedupEval, hashCollisionAudit, thresholdSweep)
}
