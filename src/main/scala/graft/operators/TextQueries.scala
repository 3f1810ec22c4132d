package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.exprs._
import graft.model.Tables

/** Text-analysis operators for a training-data pipeline: token
  * counting (whitespace + regex token classes), quality scoring
  * (length/stopword/structure ratios), n-gram-heuristic language id,
  * and document fingerprinting (Karp-Rabin rolling hash as a native
  * Catalyst expression, replayed in the oracle via a recursive CTE).
  *
  * All scores derive from exact integer counts; the only floating
  * math is a final fixed-shape expression over those ints, which is
  * bit-deterministic across engines.
  */
object TextQueries {

  // Token counting: whitespace tokens + regex token classes
  // (a BPE-ish pre-tokenizer: letter runs / digit runs / other).
  private val tokens = Q(
    "ta_token_count",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(
          $"doc_id",
          size(split($"text", " ")).as("n_ws_tokens"),
          regexp_count($"text", lit("[a-zA-Z]+")).as("n_alpha_runs"),
          regexp_count($"text", lit("[0-9]+")).as("n_digit_runs"),
          length($"text").as("n_chars_measured"),
        )
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
           |       CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
           |       CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS INT) AS n_alpha_runs,
           |       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_digit_runs,
           |       CAST(length(text) AS INT) AS n_chars_measured
           |FROM documents
           |ORDER BY doc_id""".stripMargin),
  )

  // Quality scoring from exact integer counts.
  private val quality = Q(
    "ta_quality_score",
    (s, d) => {
      import s.implicits._
      val stop = Seq("the", "a", "of", "and", "to")
      val words = split($"text", " ")
      Tables.documents(s, d)
        .select(
          $"doc_id",
          size(words).as("n_words"),
          size(filter(words, w => w.isin(stop.map(x => x: Any): _*))).as("n_stop"),
          length($"text").as("len"),
        )
        .select(
          $"doc_id",
          $"n_words",
          ($"n_stop".cast("double") / $"n_words").as("stopword_ratio"),
          (($"len" - $"n_words" + 1).cast("double") / $"n_words").as("avg_word_len"),
          when($"n_words" >= 20 && $"n_words" <= 80, 1.0).otherwise(0.0).as("len_ok"),
        )
        .select(
          $"doc_id", $"n_words", $"stopword_ratio", $"avg_word_len",
          ($"stopword_ratio" * 0.4 + $"len_ok" * 0.6).as("quality"),
        )
        .orderBy($"doc_id")
    },
    Some("""WITH counts AS (
           |  SELECT doc_id,
           |         len(string_split(text, ' ')) AS n_words,
           |         len(list_filter(string_split(text, ' '),
           |             w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop,
           |         length(text) AS len
           |  FROM documents),
           |ratios AS (
           |  SELECT doc_id,
           |         CAST(n_words AS INT) AS n_words,
           |         CAST(n_stop AS DOUBLE) / n_words AS stopword_ratio,
           |         CAST(len - n_words + 1 AS DOUBLE) / n_words AS avg_word_len,
           |         CASE WHEN n_words BETWEEN 20 AND 80 THEN 1.0 ELSE 0.0 END AS len_ok
           |  FROM counts)
           |SELECT doc_id, n_words, stopword_ratio, avg_word_len,
           |       stopword_ratio * 0.4 + len_ok * 0.6 AS quality
           |FROM ratios
           |ORDER BY doc_id""".stripMargin),
  )

  // Language id: stopword-marker voting with a deterministic
  // tie-break order (en, es, de, fr, zh). The marker table and both
  // engine renderings live HERE, once — ta_language_id and the WARC
  // pipeline's lid audit (pipe_warc_lid_audit) consume the same
  // device, so the classifier cannot fork between entries.
  private[operators] val LidMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "y"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "et", "un"),
    "zh" -> Seq("的", "是", "在", "了"),
  )

  /** Predicted language of a text column (whole-stage-codegen only:
    * split + filter + size + a greatest cascade).
    */
  private[operators] def lidPredict(text: Column): Column = {
    val words = split(text, " ")
    val scores = LidMarkers.map { case (lang, markers) =>
      lang -> size(filter(words, w => w.isin(markers.map(x => x: Any): _*)))
    }
    val byLang = scores.toMap
    val all = scores.map(_._2)
    def rest(from: Int) = scores.drop(from).map(_._2)
    when(greatest(all: _*) === 0, "und")
      .when(byLang("en") >= greatest(rest(1): _*), "en")
      .when(byLang("es") >= greatest(rest(2): _*), "es")
      .when(byLang("de") >= greatest(rest(3): _*), "de")
      .when(byLang("fr") >= byLang("zh"), "fr")
      .otherwise("zh")
  }

  /** The DuckDB rendering of [[lidPredict]] over a text expression —
    * score expressions inlined from the SAME marker table.
    */
  private[operators] def lidPredictSql(t: String): String = {
    def sc(markers: Seq[String]) =
      s"len(list_filter(string_split($t, ' '), " +
        s"w -> w IN (${markers.map(m => s"'$m'").mkString(", ")})))"
    val s = LidMarkers.map { case (lang, m) => lang -> sc(m) }.toMap
    def gr(langs: Seq[String]) =
      s"greatest(${langs.map(s(_)).mkString(", ")})"
    s"""CASE WHEN ${gr(LidMarkers.map(_._1))} = 0 THEN 'und'
       |     WHEN ${s("en")} >= ${gr(Seq("es", "de", "fr", "zh"))} THEN 'en'
       |     WHEN ${s("es")} >= ${gr(Seq("de", "fr", "zh"))} THEN 'es'
       |     WHEN ${s("de")} >= ${gr(Seq("fr", "zh"))} THEN 'de'
       |     WHEN ${s("fr")} >= ${s("zh")} THEN 'fr'
       |     ELSE 'zh' END""".stripMargin
  }

  /** Second, INDEPENDENT language predictor for the agreement audits:
    * a hashed-feature multi-class linear model — per language, sum a
    * salted-hash weight over word unigrams (the ta_hashed_classifier
    * weight device verbatim, salted `<lang>:<word>`), argmax with the
    * same deterministic tie-break order as [[lidPredict]]. It shares
    * NO marker table with the stopword voter, so header × voter ×
    * hashed is a genuine three-way confusion surface, not the voter
    * audited against itself. In-row transform/aggregate fold — the
    * model rides in the expression, the corpus never explodes into a
    * token table (the hashed-classifier scale story).
    */
  private[operators] def lidHashedPredict(text: Column): Column = {
    val words = split(text, " ")
    val scores = LidMarkers.map { case (lang, _) =>
      lang -> aggregate(
        transform(words, w =>
          (graft.functions.exprs.md5_prefix_long(4, lit(lang + ":"), w)
            % 256) * lit(2654435761L) % 1001 - 500),
        lit(0L), (acc, x) => acc + x)
    }
    val byLang = scores.toMap
    def rest(from: Int) = scores.drop(from).map(_._2)
    when(byLang("en") >= greatest(rest(1): _*), "en")
      .when(byLang("es") >= greatest(rest(2): _*), "es")
      .when(byLang("de") >= greatest(rest(3): _*), "de")
      .when(byLang("fr") >= byLang("zh"), "fr")
      .otherwise("zh")
  }

  /** The DuckDB rendering of [[lidHashedPredict]] — same salted-hash
    * weight expression, same argmax cascade, over the SAME language
    * order.
    */
  private[operators] def lidHashedPredictSql(t: String): String = {
    def sc(lang: String) =
      s"list_aggregate(list_transform(string_split($t, ' '), " +
        s"w -> (CAST('0x' || substr(md5('$lang:' || w), 1, 4) AS BIGINT) " +
        s"% 256) * 2654435761 % 1001 - 500), 'sum')"
    val s = LidMarkers.map { case (lang, _) => lang -> sc(lang) }.toMap
    def gr(langs: Seq[String]) =
      s"greatest(${langs.map(s(_)).mkString(", ")})"
    s"""CASE WHEN ${s("en")} >= ${gr(Seq("es", "de", "fr", "zh"))} THEN 'en'
       |     WHEN ${s("es")} >= ${gr(Seq("de", "fr", "zh"))} THEN 'es'
       |     WHEN ${s("de")} >= ${gr(Seq("fr", "zh"))} THEN 'de'
       |     WHEN ${s("fr")} >= ${s("zh")} THEN 'fr'
       |     ELSE 'zh' END""".stripMargin
  }

  private val langid = Q(
    "ta_language_id",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(
          $"doc_id", $"lang".as("labeled_lang"),
          lidPredict($"text").as("predicted_lang"),
        )
        .orderBy($"doc_id")
    },
    Some(s"""SELECT doc_id, lang AS labeled_lang,
            |       ${lidPredictSql("text")} AS predicted_lang
            |FROM documents
            |ORDER BY doc_id""".stripMargin),
  )

  // Document fingerprint: Karp-Rabin rolling hash (native Catalyst
  // expression; oracle replays the same recurrence char-by-char).
  private val fingerprint = Q(
    "ta_fingerprint",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", rolling_hash($"text").as("fingerprint"))
        .orderBy($"doc_id")
    },
    Some("""WITH RECURSIVE roll AS (
           |  SELECT doc_id, text, length(text) AS n, 0 AS i, 0::BIGINT AS h
           |  FROM documents
           |  UNION ALL
           |  SELECT doc_id, text, n, i + 1,
           |         (h * 31 + ord(substr(text, i + 1, 1))) % 2147483647
           |  FROM roll WHERE i < n)
           |SELECT doc_id, h AS fingerprint
           |FROM roll WHERE i = n
           |ORDER BY doc_id""".stripMargin),
  )

  // Deterministic hash-based sampling: a stable 10% sample selected by
  // content-independent hash ranges — reproducible across runs,
  // engines, and partitionings (unlike rand()-based sampling).
  private val stableSample = Q(
    "ta_stable_sample",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter(
          expr("md5_prefix_long(6, CAST(doc_id AS STRING))") % 100 < 10)
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, source
           |FROM documents
           |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 100 < 10
           |ORDER BY doc_id""".stripMargin),
  )

  // Inverted-index construction: the (token → sorted postings) layout
  // a corpus search/dedup index is built from. One explode + one
  // partial-aggregated groupBy on (token, doc) gives the posting rows
  // (tf + first position); document frequency rides along as a window
  // count over the token partition — the same shuffle key the final
  // token-sorted output needs anyway, which is exactly the layout an
  // index writer wants (postings for one token are contiguous, so at
  // 100 TB each reducer streams complete posting lists straight to
  // index files; no driver-side assembly anywhere).
  private val invertedPostings = Q(
    "ta_inverted_postings",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .filter($"doc_id" < 300)
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "token")))
        .groupBy($"token", $"doc_id")
        .agg(count(lit(1)).as("tf"), (min($"pos") + 1).as("first_pos"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy($"token")))
        .orderBy($"token", $"doc_id")
    },
    Some("""SELECT token, doc_id, tf, first_pos,
           |       count(*) OVER (PARTITION BY token) AS df
           |FROM (
           |  SELECT token, doc_id, count(*) AS tf,
           |         CAST(min(pos) AS INT) AS first_pos
           |  FROM (
           |    SELECT doc_id,
           |           unnest(string_split(text, ' ')) AS token,
           |           unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
           |    FROM documents WHERE doc_id < 300)
           |  GROUP BY token, doc_id)
           |ORDER BY token, doc_id""".stripMargin),
  )

  // STRATIFIED sampling: exactly k docs per source stratum, selected
  // as the k smallest salted-md5 values — a deterministic reservoir
  // (every doc equally likely under the hash, reproducible across
  // engines/partitionings, no rand()). One shuffle on the stratum key;
  // the per-stratum rank is a window sort bounded by the largest
  // stratum. At 100 TB the same selection runs as a bounded-heap
  // partial aggregate (keep k smallest (hash, doc) pairs map-side,
  // merge heaps — the KmvDistinct buffer pattern in
  // functions/KmvDistinct.scala), turning the stratum sort into an
  // O(k) state merge; the hash-rank SEMANTICS are identical, which is
  // what the oracle pins here.
  private val stratifiedSample = Q(
    "td_stratified_sample",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val h = md5(concat(lit("strat:"), $"doc_id".cast("string")))
      val rk = row_number().over(
        Window.partitionBy($"source").orderBy(h.as("h"), $"doc_id"))
      Tables.documents(s, d)
        .select($"doc_id", $"source", $"lang")
        .withColumn("rk", rk)
        .filter($"rk" <= 5)
        .orderBy($"source", $"rk")
    },
    Some("""SELECT doc_id, source, lang, CAST(rk AS INT) AS rk
           |FROM (
           |  SELECT doc_id, source, lang,
           |         row_number() OVER (
           |           PARTITION BY source
           |           ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id
           |         ) AS rk
           |  FROM documents)
           |WHERE rk <= 5
           |ORDER BY source, rk""".stripMargin),
  )

  // Train/val/test split by stable hash buckets (80/10/10): the
  // reproducible dataset-split step of a training pipeline.
  private val split3 = Q(
    "td_train_val_test_split",
    (s, d) => {
      import s.implicits._
      val bucket =
        expr("md5_prefix_long(6, CAST(doc_id AS STRING))") % 100
      Tables.documents(s, d)
        .select(
          $"doc_id",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
            .as("split"),
        )
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
           |       CASE WHEN b < 80 THEN 'train'
           |            WHEN b < 90 THEN 'val'
           |            ELSE 'test' END AS split
           |FROM (SELECT doc_id,
           |             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 100 AS b
           |      FROM documents)
           |ORDER BY doc_id""".stripMargin),
  )

  // Native Generator surface: word bigrams emitted by the custom
  // NGrams UDTF (one lazily-streamed row per n-gram), checked against
  // the window-lead formulation in SQL.
  private val bigramsUdtf = Q(
    "ta_ngrams_generator",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter($"doc_id" < 100)
        .select($"doc_id", ngrams($"text", 2).as(Seq("pos", "ngram")))
        .orderBy($"doc_id", $"pos")
    },
    Some("""SELECT doc_id, CAST(pos - 1 AS INT) AS pos,
           |       word || ' ' || next_word AS ngram
           |FROM (
           |  SELECT doc_id, pos, word, lead(word, 1) OVER w AS next_word
           |  FROM (
           |    SELECT doc_id,
           |           unnest(string_split(text, ' ')) AS word,
           |           unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
           |    FROM documents WHERE doc_id < 100)
           |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
           |WHERE next_word IS NOT NULL
           |ORDER BY doc_id, pos""".stripMargin),
  )

  // PII scrubbing: mask emails and long digit runs before training.
  // The synthetic corpus contains neither, so the doc is first
  // enriched with a deterministic email + reference number per row —
  // the scrubber (regex masking, both patterns RE2/Java-compatible)
  // is the operator under test, and the oracle replays enrichment and
  // scrub alike. One narrow projection, no shuffle before the sort.
  private val piiScrub = Q(
    "ta_pii_scrub",
    (s, d) => {
      import s.implicits._
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
      val longNum = "[0-9]{6,}"
      val enriched = concat($"text", lit(" contact user"), $"doc_id",
        lit("@example.com ref "), $"doc_id" + 1000000)
      val scrubbed = regexp_replace(
        regexp_replace(enriched, email, "<EMAIL>"), longNum, "<NUM>")
      Tables.documents(s, d)
        .select(
          $"doc_id",
          regexp_count(enriched, lit(email)).as("n_emails"),
          regexp_count(enriched, lit(longNum)).as("n_longnums"),
          md5(scrubbed).as("scrub_md5"),
        )
        .orderBy($"doc_id")
    },
    Some("""WITH enriched AS (
           |  SELECT doc_id,
           |         text || ' contact user' || doc_id || '@example.com ref '
           |              || (doc_id + 1000000) AS etext
           |  FROM documents)
           |SELECT doc_id,
           |       CAST(len(regexp_extract_all(etext,
           |            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS INT) AS n_emails,
           |       CAST(len(regexp_extract_all(etext, '[0-9]{6,}')) AS INT) AS n_longnums,
           |       md5(regexp_replace(
           |           regexp_replace(etext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+',
           |                          '<EMAIL>', 'g'),
           |           '[0-9]{6,}', '<NUM>', 'g')) AS scrub_md5
           |FROM enriched
           |ORDER BY doc_id""".stripMargin),
  )

  // Repetition detection: fraction of repeated word 3-grams per doc
  // (1 - distinct/total) — the boilerplate/spam signal of a corpus
  // quality pipeline. Uses the native NGrams generator; one groupBy
  // on doc_id (the natural partition key), exact integer counts, and
  // a fixed-shape double division both engines compute identically.
  private val repetition = Q(
    "ta_repetition_3gram",
    (s, d) => {
      import s.implicits._
      val grams = Tables.documents(s, d)
        .select($"doc_id", ngrams($"text", 3).as(Seq("pos", "g")))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n3"), countDistinct($"g").as("nd"))
      Tables.documents(s, d).select($"doc_id")
        .join(grams, Seq("doc_id"), "left_outer")
        .select(
          $"doc_id",
          coalesce($"n3", lit(0L)).as("n3"),
          coalesce($"nd", lit(0L)).as("nd"),
          when(coalesce($"n3", lit(0L)) > 0,
            lit(1.0) - $"nd".cast("double") / $"n3").otherwise(0.0)
            .as("repetition"),
        )
        .orderBy($"doc_id")
    },
    Some("""WITH w AS (
           |  SELECT doc_id, word, pos,
           |         lead(word, 1) OVER win AS w1, lead(word, 2) OVER win AS w2
           |  FROM (SELECT doc_id,
           |               unnest(string_split(text, ' ')) AS word,
           |               unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
           |        FROM documents)
           |  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
           |g AS (
           |  SELECT doc_id, word || ' ' || w1 || ' ' || w2 AS g3
           |  FROM w WHERE w2 IS NOT NULL),
           |agg AS (
           |  SELECT doc_id, count(*) AS n3, count(DISTINCT g3) AS nd
           |  FROM g GROUP BY doc_id)
           |SELECT d.doc_id,
           |       coalesce(a.n3, 0) AS n3,
           |       coalesce(a.nd, 0) AS nd,
           |       CASE WHEN coalesce(a.n3, 0) > 0
           |            THEN CAST(1 AS DOUBLE) - CAST(a.nd AS DOUBLE) / a.n3
           |            ELSE 0.0 END AS repetition
           |FROM documents d LEFT JOIN agg a USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin),
  )

  // Weighted source mixing: each source gets a stable hash-derived
  // sampling rate (10-59%), each doc a stable hash bucket — the
  // deterministic "mix corpora at different ratios" step of training
  // data assembly. Pure per-row filter: partition-local, no shuffle
  // before the presentation sort, reproducible across engines and
  // partitionings.
  private val weightedMix = Q(
    "td_weighted_source_mix",
    (s, d) => {
      import s.implicits._
      val docBucket =
        expr("md5_prefix_long(6, CAST(doc_id AS STRING)) % 100")
      val srcRate =
        expr("md5_prefix_long(2, source) % 50 + 10")
      Tables.documents(s, d)
        .select($"doc_id", $"source", srcRate.as("rate"))
        .filter(docBucket < srcRate)
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, source,
           |       CAST('0x' || substr(md5(source), 1, 2) AS BIGINT) % 50 + 10 AS rate
           |FROM documents
           |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 100
           |      < CAST('0x' || substr(md5(source), 1, 2) AS BIGINT) % 50 + 10
           |ORDER BY doc_id""".stripMargin),
  )

  // BPE MERGE LEARNING (Sennrich et al. ACL'16) — tokenizer training
  // as a catalogue operator: start from characters (+ the '</w>'
  // end-of-word marker), then 6 rounds of count-adjacent-pairs →
  // adopt the most frequent pair (ties (count DESC, lhs, rhs) — a
  // total order, so training is deterministic) → merge every
  // occurrence greedily left-to-right. The trainer runs on the
  // WORD-FREQUENCY DICTIONARY, not corpus positions — the corpus is
  // touched exactly once to build it (one partial agg), after which
  // every round is a vocabulary-sized pair count plus an in-row fold;
  // that dictionary-not-corpus shape is why production BPE trainers
  // scale, and it holds verbatim at 100 TB (the dict is ~vocab-sized).
  // Each round's winning pair is a 1-row collected artifact (the
  // IVF-centroid pattern) spliced into the next round's merge fold as
  // literals. The merge itself is a left-to-right aggregate() fold —
  // a genuine recursion like EWMA; the ORACLE can't fold, so it
  // replays the merge with windows: for lhs ≠ rhs adjacent matches
  // never overlap, and for lhs == rhs a match chain is a RUN of equal
  // symbols merged at even offsets — the gaps-and-islands parity
  // device, replayed per round.
  private val BpeRounds = 6

  /** The BPE training loop shared by ta_bpe_merges / ta_bpe_encode:
    * returns the fully-merged dictionary (word, freq, pieces) and the
    * learned merge table. The dict is the loop state, checkpointed per
    * round; each winner is a 1-row collected artifact spliced into the
    * next round's fold as literals.
    */
  private def bpeTrain(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[(Int, String, String, Long)]) = {
    import s.implicits._
    var dict = Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .withColumn("pieces", expr(
        """concat(transform(sequence(1, length(word)),
          |  i -> substring(word, i, 1)), array('</w>'))""".stripMargin))
      .localCheckpoint() // the dict is the loop state; cut lineage once
    val merges = collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (round <- 1 to BpeRounds) {
      val best = dict
        .select($"freq", explode(expr(
          """transform(slice(pieces, 1, size(pieces) - 1),
            |  (x, i) -> named_struct('l', x, 'r', element_at(pieces, i + 2)))"""
            .stripMargin)).as("p"))
        .groupBy($"p.l", $"p.r").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"l", $"r").limit(1)
        .collect().headOption
        .getOrElse(throw new IllegalStateException(
          s"BPE round $round: no adjacent pairs left to merge — " +
            "corpus too small for the configured round count"))
      val (l, r, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      require(!l.contains("'") && !r.contains("'"), "symbol would break literal")
      merges += ((round, l, r, cnt))
      dict = dict.withColumn("pieces", expr(
        s"""aggregate(pieces, cast(array() as array<string>),
           |  (acc, x) -> CASE
           |    WHEN size(acc) = 0 THEN array(x)
           |    WHEN element_at(acc, -1) = '$l' AND x = '$r'
           |      THEN concat(slice(acc, 1, size(acc) - 1), array('$l$r'))
           |    ELSE concat(acc, array(x)) END)""".stripMargin))
        .localCheckpoint()
    }
    (dict, merges.toSeq)
  }

  private val bpeMerges = Q(
    "ta_bpe_merges",
    (s, d) => {
      import s.implicits._
      bpeTrain(s, d)._2.toDF("merge_rank", "lhs", "rhs", "pair_count")
        .orderBy($"merge_rank")
    },
    Some {
      val outs = (1 to BpeRounds).map(j =>
        s"SELECT $j AS merge_rank, l AS lhs, r AS rhs, cnt AS pair_count FROM bp${j}_b")
        .mkString("\nUNION ALL\n")
      s"""$bpeOracleCtes
         |$outs
         |ORDER BY merge_rank""".stripMargin
    },
  )

  /** The DuckDB replay of [[bpeTrain]], shared by both BPE oracles:
    * one CTE group per round — pair count + 1-row best + the
    * window-replayed greedy merge (run-parity for lhs == rhs).
    * Every CTE is MATERIALIZED: round j references round j-1 twice
    * and each 1-row best ~8 times, so DuckDB's default inlining grows
    * the plan (and the re-opened parquet scans) EXPONENTIALLY across
    * 6 rounds — measured "Too many open files" at sf0.01.
    */
  private lazy val bpeOracleCtes: String = {
      def step(prev: String, j: Int): String =
        s"""bp${j}_p AS MATERIALIZED (
           |  SELECT pieces[i] AS l, pieces[i + 1] AS r,
           |         CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM (SELECT freq, pieces,
           |               unnest(generate_series(1, len(pieces) - 1)) AS i
           |        FROM $prev)
           |  GROUP BY 1, 2),
           |bp${j}_b AS MATERIALIZED (
           |  SELECT l, r, cnt FROM bp${j}_p ORDER BY cnt DESC, l, r LIMIT 1),
           |bp${j}_e AS MATERIALIZED (
           |  SELECT word, freq, i, piece,
           |         piece = (SELECT l FROM bp${j}_b) AND
           |         lead(piece) OVER w = (SELECT r FROM bp${j}_b) AS elig,
           |         count(CASE WHEN piece <> (SELECT l FROM bp${j}_b)
           |               THEN 1 END) OVER w AS runid
           |  FROM (SELECT word, freq, unnest(pieces) AS piece,
           |               unnest(generate_series(1, len(pieces))) AS i
           |        FROM $prev)
           |  WINDOW w AS (PARTITION BY word ORDER BY i)),
           |bp${j}_m AS MATERIALIZED (
           |  SELECT *, elig AND (
           |           (SELECT l FROM bp${j}_b) <> (SELECT r FROM bp${j}_b)
           |           OR (i - min(i) OVER (PARTITION BY word, runid,
           |                 piece = (SELECT l FROM bp${j}_b))) % 2 = 0) AS ms
           |  FROM bp${j}_e),
           |bp$j AS MATERIALIZED (
           |  SELECT word, freq, list(np ORDER BY i) AS pieces FROM (
           |    SELECT word, freq, i,
           |           CASE WHEN ms THEN (SELECT l || r FROM bp${j}_b)
           |                WHEN coalesce(lag(ms) OVER (
           |                  PARTITION BY word ORDER BY i), false) THEN NULL
           |                ELSE piece END AS np
           |    FROM bp${j}_m)
           |  WHERE np IS NOT NULL GROUP BY word, freq)""".stripMargin
      val steps = (1 to BpeRounds).map(j => step(s"bp${j - 1}", j)).mkString(",\n")
      s"""WITH bp0 AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         |         list_transform(generate_series(1, length(word)),
         |                        i -> substr(word, i, 1)) || ['</w>'] AS pieces
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  GROUP BY word),
         |$steps""".stripMargin
  }

  // BPE ENCODING + compression accounting — the companion pass that
  // APPLIES the learned merges: because training merges cumulatively,
  // the trainer's final dictionary state IS the BPE encoding of every
  // corpus word, so encoding is a dictionary JOIN, not a re-fold —
  // the corpus pass explodes tokens once and joins the vocab-sized
  // (word → piece-count) table (broadcast-scale at any corpus: it is
  // the tokenizer artifact). Per doc: whitespace tokens, char-level
  // piece count (chars + one '</w>' per word — the round-0 baseline),
  // BPE piece count, and the exact ppm compression the 6 merges buy.
  private val bpeEncode = Q(
    "ta_bpe_encode",
    (s, d) => {
      import s.implicits._
      val enc = bpeTrain(s, d)._1
        .select($"word", size($"pieces").cast("long").as("np"))
      Tables.documents(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("word"))
        .join(enc, Seq("word"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(length($"word") + 1).as("n_char_pieces"),
          sum($"np").as("n_bpe_pieces"))
        .select($"doc_id", $"n_tokens", $"n_char_pieces", $"n_bpe_pieces",
          expr("1000000 * n_bpe_pieces div n_char_pieces").as("compression_ppm"))
        .orderBy($"doc_id")
    },
    Some(s"""$bpeOracleCtes,
            |enc AS MATERIALIZED (
            |  SELECT word, len(pieces) AS np FROM bp$BpeRounds),
            |tok AS (
            |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
            |  FROM documents)
            |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            |       CAST(sum(length(t.word) + 1) AS BIGINT) AS n_char_pieces,
            |       CAST(sum(e.np) AS BIGINT) AS n_bpe_pieces,
            |       1000000 * CAST(sum(e.np) AS BIGINT)
            |         // CAST(sum(length(t.word) + 1) AS BIGINT) AS compression_ppm
            |FROM tok t JOIN enc e USING (word)
            |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),
  )

  // TOKENIZER FERTILITY per language (the multilingual-tokenizer
  // fairness metric: BPE pieces per word — languages the merges were
  // not trained for pay more pieces per word, i.e. more compute per
  // sentence; reported per lang from the SAME trained BPE dictionary
  // `ta_bpe_merges`/`ta_bpe_encode` gate, so all three entries share
  // one trainer). Exact integers: per-lang token and piece sums,
  // fertility in ppm (pieces·1e6 DIV tokens). Scale shape: the
  // dictionary is the broadcast-scale tokenizer artifact; one
  // token-keyed join + a |langs|-key roll-up.
  private val tokenizerFertility = Q(
    "td_tokenizer_fertility",
    (s, d) => {
      import s.implicits._
      val enc = bpeTrain(s, d)._1
        .select($"word", size($"pieces").cast("long").as("np"))
      Tables.documents(s, d)
        .select($"lang", explode(split($"text", " ")).as("word"))
        .join(enc, Seq("word"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_tokens"), sum($"np").as("n_pieces"))
        .select($"lang", $"n_tokens", $"n_pieces",
          expr("(n_pieces * 1000000) div n_tokens").as("fertility_ppm"))
        .orderBy($"lang")
    },
    Some(s"""$bpeOracleCtes,
            |tf_enc AS MATERIALIZED (
            |  SELECT word, len(pieces) AS np FROM bp$BpeRounds),
            |tf_tok AS (
            |  SELECT lang, unnest(string_split(text, ' ')) AS word
            |  FROM documents)
            |SELECT t.lang, CAST(count(*) AS BIGINT) AS n_tokens,
            |       CAST(sum(e.np) AS BIGINT) AS n_pieces,
            |       (CAST(sum(e.np) AS BIGINT) * 1000000)
            |         // CAST(count(*) AS BIGINT) AS fertility_ppm
            |FROM tf_tok t JOIN tf_enc e USING (word)
            |GROUP BY t.lang ORDER BY t.lang""".stripMargin),
  )

  // NEYMAN OPTIMAL STRATIFIED ALLOCATION (Neyman 1934: sample
  // strata ∝ N_h·σ_h, not ∝ N_h — high-variance strata earn more of
  // the budget; the sampling-theory upgrade over td_stratified_sample
  // and the allocation sibling of td_token_budget_alloc). Strata are
  // sources, the measured variable is document length (n_chars).
  // All integer: per-stratum variance from exact power sums
  // (truncating, the qa_exact_moments device), σ via the EXACT
  // integer square root (floor(sqrt)+±1 correction — libm rounding
  // can never shift a weight; valid while var_h < 2^52, and char-count
  // variance is bounded by max(n_chars)²/4 ≪ that), weights N_h·σ_h,
  // and the 1000-sample budget split by largest remainder so it sums
  // EXACTLY. The cross products (nh·sx2, sx², B·w) run in
  // DECIMAL(38,0)/HUGEINT — at 10¹²-doc scale sx2 alone passes 1e19,
  // the same BIGINT cliff the assortativity probe measured. One
  // source-keyed partial agg; everything after runs on the
  // |sources|-row table (the rank window included).
  private val neymanAlloc = Q(
    "td_neyman_alloc",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val B = 1000L
      val stats = Tables.documents(s, d)
        .select($"source", $"n_chars".cast("long").as("x"))
        .groupBy($"source")
        .agg(count(lit(1)).as("nh"), sum($"x").as("sx"),
          sum(($"x" * $"x").cast("decimal(38,0)")).as("sx2"))
        .select($"source", $"nh",
          expr("(CAST(nh AS DECIMAL(38,0)) * sx2" +
            " - CAST(sx AS DECIMAL(38,0)) * sx)" +
            " div (CAST(nh AS DECIMAL(38,0)) * nh)").as("var_h"))
        .withColumn("r0", expr("CAST(floor(sqrt(CAST(var_h AS DOUBLE))) AS BIGINT)"))
        .withColumn("sigma", expr(
          """CASE WHEN (r0 + 1) * (r0 + 1) <= var_h THEN r0 + 1
            |     WHEN r0 * r0 > var_h THEN r0 - 1
            |     ELSE r0 END""".stripMargin))
        .select($"source", $"nh", $"var_h", ($"nh" * $"sigma").as("w"))
      val tot = stats.agg(sum($"w".cast("decimal(38,0)")).as("tw"))
      val floors = stats.crossJoin(broadcast(tot))
        .select($"source", $"nh", $"var_h", $"w",
          expr(s"(CAST($B AS DECIMAL(38,0)) * w) div tw").as("floor_alloc"),
          expr(s"(CAST($B AS DECIMAL(38,0)) * w) % tw").as("rem"))
      val short = floors.agg((lit(B) - sum($"floor_alloc")).as("shortfall"))
      floors.crossJoin(broadcast(short))
        .withColumn("rk", row_number().over(Window.orderBy($"rem".desc, $"source")))
        .select($"source", $"nh", $"var_h", $"w",
          ($"floor_alloc" + when($"rk" <= $"shortfall", 1L).otherwise(0L))
            .as("alloc_n"))
        .orderBy($"source")
    },
    Some("""WITH ny_s AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS nh,
           |         CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sx,
           |         CAST(sum(CAST(n_chars AS BIGINT) * n_chars) AS HUGEINT)
           |           AS sx2
           |  FROM documents GROUP BY 1),
           |ny_v AS (
           |  SELECT source, nh,
           |         CAST((nh::HUGEINT * sx2 - sx::HUGEINT * sx)
           |              // (nh::HUGEINT * nh) AS BIGINT) AS var_h
           |  FROM ny_s),
           |ny_w AS (
           |  SELECT source, nh, var_h,
           |         nh * (CASE WHEN (r0 + 1) * (r0 + 1) <= var_h THEN r0 + 1
           |                    WHEN r0 * r0 > var_h THEN r0 - 1
           |                    ELSE r0 END) AS w
           |  FROM (SELECT *, CAST(floor(sqrt(CAST(var_h AS DOUBLE))) AS BIGINT)
           |                  AS r0 FROM ny_v)),
           |ny_t AS (SELECT CAST(sum(w::HUGEINT) AS HUGEINT) AS tw FROM ny_w),
           |ny_f AS (
           |  SELECT source, nh, var_h, w,
           |         (1000::HUGEINT * w) // tw AS floor_alloc,
           |         (1000::HUGEINT * w) % tw AS rem
           |  FROM ny_w CROSS JOIN ny_t),
           |ny_sh AS (SELECT CAST(1000 - sum(floor_alloc) AS BIGINT) AS shortfall
           |          FROM ny_f),
           |ny_r AS (
           |  SELECT source, nh, var_h, w, floor_alloc, shortfall,
           |         row_number() OVER (ORDER BY rem DESC, source) AS rk
           |  FROM ny_f CROSS JOIN ny_sh)
           |SELECT source, nh, var_h, CAST(w AS BIGINT) AS w,
           |       CAST(floor_alloc + CASE WHEN rk <= shortfall THEN 1 ELSE 0 END
           |            AS BIGINT) AS alloc_n
           |FROM ny_r ORDER BY source""".stripMargin),
  )

  // HEAPS-LAW VOCABULARY GROWTH CURVE (Heaps 1978: V(n) ≈ K·n^β —
  // the curve every tokenizer-vocab and dedup-capacity plan is sized
  // against). Cumulative distinct vocabulary at ten doc-id-range
  // checkpoints, computed WITHOUT any per-checkpoint rescan: one
  // token pass reduces to (word → min doc_id) — vocabulary-bounded
  // after the map-side combine — then each word lands in the decile
  // its FIRST occurrence falls into and two ten-row prefix sums
  // finish the curve. The windows carry ten rows, never the corpus
  // (the qa_percentile_rank discipline). Checkpoints are id-range
  // deciles (the generator's doc_ids are dense, so docs_cum reports
  // the realized prefix sizes alongside).
  private val heapsCurve = Q(
    "ta_heaps_vocab_curve",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val span = docs.agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
      val decOf = (c: String) =>
        expr(s"least(10, 1 + (($c - lo) * 10) div (hi - lo + 1))").as("decile")
      val docDec = docs.select($"doc_id").crossJoin(broadcast(span))
        .select(decOf("doc_id"))
        .groupBy($"decile").agg(count(lit(1)).as("n_docs"))
      val firstSeen = graft.util.Cols.fanout(docs)
        .select($"doc_id", explode(split($"text", " ")).as("word"))
        .groupBy($"word").agg(min($"doc_id").as("fs"))
      val wordDec = firstSeen.crossJoin(broadcast(span))
        .select(decOf("fs"))
        .groupBy($"decile").agg(count(lit(1)).as("new_words"))
      // LEFT join + zero-fill: once the vocabulary saturates (fixed
      // domains at small sf), later deciles mint NO new words — the
      // flat tail IS the curve, so those rows must survive
      val w = Window.orderBy($"decile")
      docDec.join(wordDec, Seq("decile"), "left")
        .withColumn("new_words", coalesce($"new_words", lit(0L)))
        .withColumn("docs_cum", sum($"n_docs").over(w))
        .withColumn("vocab_cum", sum($"new_words").over(w))
        .select($"decile", $"docs_cum", $"vocab_cum", $"new_words")
        .orderBy($"decile")
    },
    Some("""WITH hv_b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
           |              FROM documents),
           |hv_d AS (
           |  SELECT least(10, 1 + ((doc_id - lo) * 10) // (hi - lo + 1))
           |           AS decile
           |  FROM documents CROSS JOIN hv_b),
           |hv_dc AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs
           |          FROM hv_d GROUP BY 1),
           |hv_w AS (
           |  SELECT word, min(doc_id) AS fs FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
           |    FROM documents)
           |  GROUP BY 1),
           |hv_wc AS (
           |  SELECT least(10, 1 + ((fs - lo) * 10) // (hi - lo + 1)) AS decile,
           |         CAST(count(*) AS BIGINT) AS new_words
           |  FROM hv_w CROSS JOIN hv_b GROUP BY 1)
           |SELECT CAST(decile AS BIGINT) AS decile,
           |       CAST(sum(n_docs) OVER (ORDER BY decile) AS BIGINT)
           |         AS docs_cum,
           |       CAST(sum(coalesce(new_words, 0)) OVER (ORDER BY decile)
           |            AS BIGINT) AS vocab_cum,
           |       CAST(coalesce(new_words, 0) AS BIGINT) AS new_words
           |FROM hv_dc LEFT JOIN hv_wc USING (decile)
           |ORDER BY decile""".stripMargin),
  )

  // ZIPF OCTAVE-DECAY PROFILE (Zipf 1935; the rank-frequency law
  // Heaps' law is the dual of): how fast does token mass decay as
  // rank doubles? A pure-Zipf corpus with exponent 1 halves its
  // per-octave mass each octave past the head — LLM-corpus curation
  // reads this curve to see whether a source's tail is natural text
  // (smooth decay) or templated spam (a bump). Computed WITHOUT any
  // log() call or global vocabulary sort: the word-frequency table
  // collapses to its frequency HISTOGRAM (distinct freq values —
  // O(√tokens) rows by the partition bound Σ1[f has a word] where
  // Σf = T), rank ranges per frequency come from one cumulative
  // window over that small table, and each range is intersected with
  // the 20-row octave table [2^o, 2^{o+1}) by a broadcast range
  // join (31 octaves cover 2^31 ranks — vocabulary at any real
  // corpus; empty octaves simply emit no row). Per octave: word
  // count, token mass, and the integer-milli
  // mass ratio to the previous octave (the decay curve itself).
  // Scale shape: one vocab-keyed agg (the corpus cost), then all
  // windows/joins run on the histogram — never on the vocabulary.
  private val zipfOctaves = Q(
    "ta_zipf_octave_decay",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val freq = graft.util.Cols.fanout(Tables.documents(s, d))
        .select(explode(split($"text", " ")).as("word"))
        .groupBy($"word").agg(count(lit(1)).as("f"))
      val hist = freq.groupBy($"f").agg(count(lit(1)).as("nw"))
      val w = Window.orderBy($"f".desc)
      val ranked = hist
        .withColumn("r_hi", sum($"nw").over(w))
        .withColumn("r_lo", $"r_hi" - $"nw" + 1)
      val octs = s.range(31).select($"id".cast("long").as("oct"),
        expr("CAST(pow(2, id) AS BIGINT)").as("o_lo"),
        expr("CAST(pow(2, id + 1) AS BIGINT) - 1").as("o_hi"))
      val perOct = ranked.join(broadcast(octs),
          $"r_lo" <= $"o_hi" && $"r_hi" >= $"o_lo")
        .select($"oct",
          (least($"r_hi", $"o_hi") - greatest($"r_lo", $"o_lo") + 1).as("k"),
          $"f")
        .groupBy($"oct")
        .agg(sum($"k").as("n_words"), sum($"k" * $"f").as("tok_mass"))
      val wo = Window.orderBy($"oct")
      perOct
        .withColumn("prev_mass", lag($"tok_mass", 1).over(wo))
        .select($"oct", $"n_words", $"tok_mass",
          coalesce(expr("tok_mass * 1000 DIV prev_mass"), lit(0L))
            .as("decay_milli"))
        .orderBy($"oct")
    },
    Some("""WITH zo_f AS (
           |  SELECT word, CAST(count(*) AS BIGINT) AS f FROM (
           |    SELECT unnest(string_split(text, ' ')) AS word
           |    FROM documents)
           |  GROUP BY 1),
           |zo_h AS (SELECT f, CAST(count(*) AS BIGINT) AS nw
           |         FROM zo_f GROUP BY 1),
           |zo_r AS (
           |  SELECT f, nw,
           |         sum(nw) OVER (ORDER BY f DESC) AS r_hi,
           |         sum(nw) OVER (ORDER BY f DESC) - nw + 1 AS r_lo
           |  FROM zo_h),
           |zo_o AS (
           |  SELECT range AS oct,
           |         CAST(power(2, range) AS BIGINT) AS o_lo,
           |         CAST(power(2, range + 1) AS BIGINT) - 1 AS o_hi
           |  FROM range(31)),
           |zo_p AS (
           |  SELECT oct,
           |         CAST(sum(least(r_hi, o_hi) - greatest(r_lo, o_lo) + 1)
           |              AS BIGINT) AS n_words,
           |         CAST(sum((least(r_hi, o_hi) - greatest(r_lo, o_lo) + 1) * f)
           |              AS BIGINT) AS tok_mass
           |  FROM zo_r JOIN zo_o ON r_lo <= o_hi AND r_hi >= o_lo
           |  GROUP BY 1)
           |SELECT oct, n_words, tok_mass,
           |       CAST(coalesce(
           |         tok_mass * 1000 // lag(tok_mass, 1) OVER (ORDER BY oct),
           |         0) AS BIGINT) AS decay_milli
           |FROM zo_p ORDER BY oct""".stripMargin),
  )

  // TERM BURSTINESS for the top-20 vocabulary (Church & Gale 1995:
  // content words arrive in bursts — variance-to-mean ratio of the
  // per-document count well above 1 — while function words sit near
  // Poisson). VMR across ALL docs, absent docs included, from the
  // zero-robust algebra: absent docs add nothing to Σx and Σx², so
  // VMR = (N·Σx² − (Σx)²)·10⁶ div (N·Σx) needs only the postings-
  // shaped (word, doc) counts, never a dense word×doc matrix. Cross
  // products in DECIMAL(38,0)/HUGEINT (N·Σx² passes 1e19 at corpus
  // scale). Top-20 by total count via TakeOrdered — no global sort.
  private val burstiness = Q(
    "ta_burstiness_topk",
    (s, d) => {
      import s.implicits._
      val docs = graft.util.Cols.fanout(Tables.documents(s, d))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val perDoc = docs
        .select($"doc_id", explode(split($"text", " ")).as("word"))
        .groupBy($"word", $"doc_id").agg(count(lit(1)).as("x"))
      val perWord = perDoc.groupBy($"word")
        .agg(sum($"x").as("tf"), count(lit(1)).as("df"),
          sum(($"x" * $"x").cast("decimal(38,0)")).as("sx2"))
        .orderBy($"tf".desc, $"word").limit(20)
      perWord.crossJoin(broadcast(n))
        .select($"word", $"tf", $"df",
          expr("((CAST(n_docs AS DECIMAL(38,0)) * sx2" +
            " - CAST(tf AS DECIMAL(38,0)) * tf) * 1000000)" +
            " div (CAST(n_docs AS DECIMAL(38,0)) * tf)").as("vmr_e6"))
        .orderBy($"tf".desc, $"word")
    },
    Some("""WITH bu_x AS (
           |  SELECT word, doc_id, CAST(count(*) AS BIGINT) AS x FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
           |    FROM documents)
           |  GROUP BY 1, 2),
           |bu_w AS (
           |  SELECT word, CAST(sum(x) AS BIGINT) AS tf,
           |         CAST(count(*) AS BIGINT) AS df,
           |         CAST(sum(x * x) AS HUGEINT) AS sx2
           |  FROM bu_x GROUP BY 1
           |  ORDER BY tf DESC, word LIMIT 20),
           |bu_n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
           |SELECT word, tf, df,
           |       CAST(((n_docs::HUGEINT * sx2 - tf::HUGEINT * tf) * 1000000)
           |            // (n_docs::HUGEINT * tf) AS BIGINT) AS vmr_e6
           |FROM bu_w CROSS JOIN bu_n
           |ORDER BY tf DESC, word""".stripMargin),
  )

  // FLESCH-KINCAID READABILITY per source (Kincaid 1975: grade =
  // 0.39·W/S + 11.8·Syll/W − 15.59 — the curriculum/quality signal
  // complexity filters sort on). Computed on the per-source AGGREGATE
  // counts over a common denominator, so exactly ONE signed division
  // happens per source: grade_e3 = (390·W² + 11800·Y·S − 15590·S·W)
  // div (S·W), sign-split so Spark's truncating div and DuckDB's
  // flooring // agree on the (possible, for trivial text) negative
  // numerator — the assortativity device. Syllables are the classic
  // vowel-group heuristic, ≥ 1 per word, summed inside the row via a
  // higher-order array fold (no explode — the scan emits one row per
  // doc). Cross products in DECIMAL(38,0)/HUGEINT: W² passes 1e19 at
  // corpus scale.
  private val readabilityFk = Q(
    "ta_readability_fk",
    (s, d) => {
      import s.implicits._
      val perDoc = Tables.documents(s, d).select(
        $"source",
        expr("size(split(text, ' '))").cast("long").as("w"),
        expr("greatest(1, length(text) - length(replace(text, '.', '')))")
          .cast("long").as("sen"),
        expr("aggregate(split(text, ' '), 0L, (acc, x) ->" +
          " acc + greatest(1L, CAST(size(regexp_extract_all(x," +
          " '[aeiou]+', 0)) AS BIGINT)))").as("syll"))
      perDoc.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"w").as("words"),
          sum($"sen").as("sentences"), sum($"syll").as("syllables"))
        .withColumn("num",
          expr("CAST(390 AS DECIMAL(38,0)) * words * words" +
            " + CAST(11800 AS DECIMAL(38,0)) * syllables * sentences" +
            " - CAST(15590 AS DECIMAL(38,0)) * sentences * words"))
        .select($"source", $"n_docs", $"words", $"sentences", $"syllables",
          expr("CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END" +
            " * (abs(num) div (CAST(sentences AS DECIMAL(38,0)) * words))" +
            " AS BIGINT)").as("fk_grade_e3"))
        .orderBy($"source")
    },
    Some("""WITH fk_d AS (
           |  SELECT source,
           |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
           |         CAST(greatest(1, length(text)
           |              - length(replace(text, '.', ''))) AS BIGINT) AS sen,
           |         CAST(list_sum(list_transform(string_split(text, ' '),
           |              x -> greatest(1, len(regexp_extract_all(x,
           |                   '[aeiou]+'))))) AS BIGINT) AS syll
           |  FROM documents),
           |fk_s AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(sum(w) AS BIGINT) AS words,
           |         CAST(sum(sen) AS BIGINT) AS sentences,
           |         CAST(sum(syll) AS BIGINT) AS syllables
           |  FROM fk_d GROUP BY 1),
           |fk_n AS (
           |  SELECT *, 390::HUGEINT * words * words
           |            + 11800::HUGEINT * syllables * sentences
           |            - 15590::HUGEINT * sentences * words AS num
           |  FROM fk_s)
           |SELECT source, n_docs, words, sentences, syllables,
           |       CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
           |            * (abs(num) // (sentences::HUGEINT * words))
           |            AS BIGINT) AS fk_grade_e3
           |FROM fk_n
           |ORDER BY source""".stripMargin),
  )

  // BURROWS' DELTA STYLOMETRY (Burrows 2002 — the standard authorship
  // distance: z-score the most-frequent-word rates across authors,
  // Delta = mean |z_a − z_b|). Sources play authors. All integer:
  // per-million word rates (decimal-guarded div), per-word variance
  // across sources from exact power sums, σ via the exact isqrt ±1
  // correction (the Neyman device), z in milli via sign-split
  // division (z is signed — truncating div and flooring // must
  // agree), zero-variance words contribute z = 0 (no signal). The
  // corpus-sized work is ONE (source, word) partial agg; the z grid
  // is |sources|·20 rows and the pair table |sources|²·20 — the MFW
  // panel is fixed, so the quadratic lives on the AUTHOR dimension,
  // never the corpus. Closest 10 pairs out.
  private val burrowsDelta = Q(
    "ta_burrows_delta",
    (s, d) => {
      import s.implicits._
      val toks = graft.util.Cols.fanout(Tables.documents(s, d))
        .select($"source", explode(split($"text", " ")).as("word"))
      val counts = toks.groupBy($"source", $"word")
        .agg(count(lit(1)).as("c")).localCheckpoint()
      val totals = counts.groupBy($"source").agg(sum($"c").as("t"))
      val top20 = counts.groupBy($"word").agg(sum($"c").as("tc"))
        .orderBy($"tc".desc, $"word").limit(20).select($"word")
      val grid = totals.crossJoin(broadcast(top20))
        .join(counts, Seq("source", "word"), "left")
        .select($"source", $"word",
          expr("(CAST(coalesce(c, 0) AS DECIMAL(38,0)) * 1000000) div t")
            .as("r"))
      val stats = grid.groupBy($"word")
        .agg(count(lit(1)).as("ns"), sum($"r").as("sr"),
          sum(($"r" * $"r").cast("decimal(38,0)")).as("sr2"))
        .select($"word", $"ns", $"sr",
          expr("(CAST(ns AS DECIMAL(38,0)) * sr2" +
            " - CAST(sr AS DECIMAL(38,0)) * sr)" +
            " div (CAST(ns AS DECIMAL(38,0)) * ns)").as("var_r"))
        .withColumn("r0",
          expr("CAST(floor(sqrt(CAST(var_r AS DOUBLE))) AS BIGINT)"))
        .withColumn("sigma", expr(
          """CASE WHEN (r0 + 1) * (r0 + 1) <= var_r THEN r0 + 1
            |     WHEN r0 * r0 > var_r THEN r0 - 1
            |     ELSE r0 END""".stripMargin))
        .select($"word", $"ns", $"sr", $"sigma")
      val z = grid.join(broadcast(stats), "word")
        .select($"source", $"word",
          expr("CASE WHEN sigma = 0 THEN CAST(0 AS BIGINT) ELSE" +
            " CAST(CASE WHEN r * ns - sr < 0 THEN -1 ELSE 1 END" +
            " * ((abs(r * ns - sr) * 1000) div (ns * sigma)) AS BIGINT)" +
            " END").as("z"))
      z.join(z.select($"source".as("source_b"), $"word",
          $"z".as("z_b")), "word")
        .filter($"source" < $"source_b")
        .groupBy($"source".as("source_a"), $"source_b")
        .agg(expr("sum(abs(z - z_b)) div 20").as("delta_milli"))
        .orderBy($"delta_milli", $"source_a", $"source_b")
        .limit(10)
    },
    Some("""WITH bd_c AS (
           |  SELECT source, word, CAST(count(*) AS BIGINT) AS c FROM (
           |    SELECT source, unnest(string_split(text, ' ')) AS word
           |    FROM documents)
           |  GROUP BY 1, 2),
           |bd_t AS (SELECT source, CAST(sum(c) AS BIGINT) AS t
           |         FROM bd_c GROUP BY 1),
           |bd_w AS (SELECT word FROM (
           |           SELECT word, sum(c) AS tc FROM bd_c GROUP BY 1
           |           ORDER BY tc DESC, word LIMIT 20)),
           |bd_g AS (
           |  SELECT bd_t.source, bd_w.word,
           |         (coalesce(c, 0)::HUGEINT * 1000000) // t AS r
           |  FROM bd_t CROSS JOIN bd_w
           |  LEFT JOIN bd_c ON bd_c.source = bd_t.source
           |                AND bd_c.word = bd_w.word),
           |bd_s AS (
           |  SELECT word, CAST(count(*) AS BIGINT) AS ns,
           |         CAST(sum(r) AS BIGINT) AS sr,
           |         CAST((count(*)::HUGEINT * sum(r * r) -
           |               sum(r)::HUGEINT * sum(r))
           |              // (count(*)::HUGEINT * count(*)) AS BIGINT)
           |           AS var_r
           |  FROM bd_g GROUP BY 1),
           |bd_sg AS (
           |  SELECT word, ns, sr,
           |         CASE WHEN (r0 + 1) * (r0 + 1) <= var_r THEN r0 + 1
           |              WHEN r0 * r0 > var_r THEN r0 - 1
           |              ELSE r0 END AS sigma
           |  FROM (SELECT *, CAST(floor(sqrt(CAST(var_r AS DOUBLE)))
           |                       AS BIGINT) AS r0 FROM bd_s)),
           |bd_z AS (
           |  SELECT g.source, g.word,
           |         CASE WHEN sigma = 0 THEN 0
           |              ELSE (CASE WHEN g.r * ns - sr < 0 THEN -1 ELSE 1 END)
           |                   * ((abs(g.r * ns - sr) * 1000) // (ns * sigma))
           |         END AS z
           |  FROM bd_g g JOIN bd_sg USING (word))
           |SELECT a.source AS source_a, b.source AS source_b,
           |       CAST(sum(abs(a.z - b.z)) // 20 AS BIGINT) AS delta_milli
           |FROM bd_z a JOIN bd_z b ON a.word = b.word
           |                       AND a.source < b.source
           |GROUP BY 1, 2
           |ORDER BY delta_milli, source_a, source_b
           |LIMIT 10""".stripMargin),
  )

  // VOCABULARY RICHNESS ESTIMATORS (Chao 1984 + Good 1953): how much
  // vocabulary has the corpus NOT shown yet, and how much probability
  // mass do unseen words hold — the two numbers that size a tokenizer
  // vocab and predict OOV exposure before scaling up. Chao1 lower
  // bound D + f₁(f₁−1)/(2(f₂+1)) (bias-corrected form — defined even
  // when no doubletons exist) and the Good-Turing unseen-mass
  // estimate f₁/N, both exact integer arithmetic over the frequency-
  // of-frequencies table: one vocab-bounded (word → count) agg, then
  // a ≤ |distinct counts| histogram — corpus-size-free after the
  // first pass.
  private val vocabRichness = Q(
    "ta_vocab_richness",
    (s, d) => {
      import s.implicits._
      val wc = graft.util.Cols.fanout(Tables.documents(s, d))
        .select(explode(split($"text", " ")).as("word"))
        .groupBy($"word").agg(count(lit(1)).as("c"))
      wc.agg(
        count(lit(1)).as("distinct_words"),
        sum($"c").as("n_tokens"),
        sum(when($"c" === 1, 1L).otherwise(0L)).as("f1"),
        sum(when($"c" === 2, 1L).otherwise(0L)).as("f2"))
        .select($"distinct_words", $"n_tokens", $"f1", $"f2",
          expr("distinct_words + (CAST(f1 AS DECIMAL(38,0)) * (f1 - 1))" +
            " div (2 * (f2 + 1))").as("chao1"),
          expr("(CAST(f1 AS DECIMAL(38,0)) * 1000000) div n_tokens")
            .as("gt_unseen_ppm"))
    },
    Some("""WITH vr_c AS (
           |  SELECT word, CAST(count(*) AS BIGINT) AS c FROM (
           |    SELECT unnest(string_split(text, ' ')) AS word
           |    FROM documents)
           |  GROUP BY 1)
           |SELECT CAST(count(*) AS BIGINT) AS distinct_words,
           |       CAST(sum(c) AS BIGINT) AS n_tokens,
           |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |         AS f1,
           |       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
           |         AS f2,
           |       CAST(count(*)
           |            + (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::HUGEINT
           |               * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1))
           |              // (2 * (sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1))
           |            AS BIGINT) AS chao1,
           |       CAST((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::HUGEINT
           |             * 1000000) // sum(c) AS BIGINT) AS gt_unseen_ppm
           |FROM vr_c""".stripMargin),
  )

  // POSTING-LIST VARINT SIZE ESTIMATE — the storage-engineering
  // number an inverted index is budgeted on: delta-gap the doc ids
  // inside each posting list and price every gap at its LEB128
  // varint width (the d-gap + varint scheme every real index family
  // uses before the fancier PFor variants). The gap pass is one
  // lag() window PARTITIONED BY WORD over the postings table — state
  // per task is one posting row, and the histogram output is ≤ 10
  // rows (one per byte class) at any corpus size. First posting
  // prices doc_id + 1 (delta from the -1 sentinel). Byte class via
  // an integer CASE ladder — no log() anywhere.
  private val postingsVarint = Q(
    "ta_postings_varint_size",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val postings = graft.util.Cols.fanout(Tables.documents(s, d))
        .select($"doc_id",
          explode(array_distinct(split($"text", " "))).as("word"))
      val w = Window.partitionBy($"word").orderBy($"doc_id")
      val gaps = postings
        .withColumn("gap",
          coalesce($"doc_id" - lag($"doc_id", 1).over(w), $"doc_id" + 1))
        .select(expr(
          """CASE WHEN gap < 128 THEN 1
            |     WHEN gap < 16384 THEN 2
            |     WHEN gap < 2097152 THEN 3
            |     WHEN gap < 268435456 THEN 4
            |     WHEN gap < 34359738368 THEN 5
            |     ELSE 6 END""".stripMargin).as("bytes_class"))
      gaps.groupBy($"bytes_class")
        .agg(count(lit(1)).as("n_gaps"),
          (count(lit(1)) * $"bytes_class").as("total_bytes"))
        .select($"bytes_class".cast("long").as("bytes_class"),
          $"n_gaps", $"total_bytes".cast("long").as("total_bytes"))
        .orderBy($"bytes_class")
    },
    Some("""WITH pv_p AS (
           |  SELECT DISTINCT doc_id, word FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
           |    FROM documents)),
           |pv_g AS (
           |  SELECT coalesce(doc_id - lag(doc_id) OVER
           |           (PARTITION BY word ORDER BY doc_id), doc_id + 1)
           |         AS gap
           |  FROM pv_p),
           |pv_c AS (
           |  SELECT CASE WHEN gap < 128 THEN 1
           |              WHEN gap < 16384 THEN 2
           |              WHEN gap < 2097152 THEN 3
           |              WHEN gap < 268435456 THEN 4
           |              WHEN gap < 34359738368 THEN 5
           |              ELSE 6 END AS bytes_class
           |  FROM pv_g)
           |SELECT CAST(bytes_class AS BIGINT) AS bytes_class,
           |       CAST(count(*) AS BIGINT) AS n_gaps,
           |       CAST(count(*) * bytes_class AS BIGINT) AS total_bytes
           |FROM pv_c GROUP BY pv_c.bytes_class
           |ORDER BY bytes_class""".stripMargin),
  )

  // OOV rate against the corpus top-k vocabulary — the tokenizer-
  // coverage diagnostic run before committing a vocab: which fraction
  // of each doc's tokens would a top-20-by-frequency vocabulary miss.
  // The vocab is trained like the IVF centroids/PQ codebooks: one
  // token-frequency partial agg + a TakeOrdered top-k, collected as a
  // ≤k-row published artifact (loudly bounded), then the corpus pass
  // is a ZERO-JOIN in-row filter against the array literal — no
  // shuffle of the documents, exact integer ppm. Ties in the vocab
  // break on (count DESC, token ASC), a total order, so the trained
  // artifact is deterministic across engines and partitionings.
  private val oovRate = Q(
    "ta_oov_rate",
    (s, d) => {
      import s.implicits._
      val VocabK = 20
      val vocab = Tables.documents(s, d)
        .select(explode(split($"text", " ")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("c"))
        .orderBy($"c".desc, $"tok").limit(VocabK)
        .collect().map(_.getString(0)).toSeq
      require(vocab.size <= VocabK, s"vocab artifact grew past $VocabK")
      require(vocab.forall(!_.contains("'")), "vocab token would break the literal")
      Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("w"))
        .select($"doc_id", size($"w").cast("long").as("n_tokens"),
          expr(s"""CAST(size(filter(w, x -> NOT array_contains(
                  |  array(${vocab.map(t => s"'$t'").mkString(",")}), x)))
                  |  AS BIGINT)""".stripMargin).as("oov_tokens"))
        .select($"doc_id", $"n_tokens", $"oov_tokens",
          expr("1000000 * oov_tokens div n_tokens").as("oov_ppm"))
        .orderBy($"doc_id")
    },
    Some("""WITH ov_t AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |ov_v AS (
           |  SELECT tok FROM (
           |    SELECT tok, count(*) AS c FROM ov_t GROUP BY tok
           |    ORDER BY c DESC, tok LIMIT 20)),
           |ov_a AS (
           |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |         CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
           |              AS BIGINT) AS oov_tokens
           |  FROM ov_t t LEFT JOIN ov_v v ON t.tok = v.tok
           |  GROUP BY t.doc_id)
           |SELECT doc_id, n_tokens, oov_tokens,
           |       1000000 * oov_tokens // n_tokens AS oov_ppm
           |FROM ov_a ORDER BY doc_id""".stripMargin),
  )

  // TRENDING TERMS — per-day top-5 tokens by document frequency with
  // rank (the time × text composition behind "what changed in
  // today's crawl"): docs are assigned deterministic ingest days
  // (md5 bucket — the corpus table carries no timestamp), tokens
  // count DISTINCT docs per (day, token), and the per-day top-5 is a
  // rank window over the (day, token) aggregate — histogram-shaped
  // rows, never raw token positions. Ties break (count DESC, token
  // ASC), a total order.
  private val trendingTerms = Q(
    "ta_trending_terms",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val day =
        expr("md5_prefix_long(4, 'day:', CAST(doc_id AS STRING)) % 7")
      // per-doc token dedup happens IN-ROW (array_distinct) before the
      // explode, so document frequency needs NO corpus-wide DISTINCT
      // shuffle — the explode feeds the (day, token) partial agg
      // directly (measured at grow_sf10: the distinct formulation
      // shuffled every token occurrence and ran 75 s; this one ships
      // only the map-side-combined histogram)
      val df = Tables.documents(s, d)
        .select(day.as("day"),
          explode(array_distinct(split($"text", " "))).as("tok"))
        .groupBy($"day", $"tok").agg(count(lit(1)).as("df"))
      df.withColumn("rk", row_number().over(
          Window.partitionBy($"day").orderBy($"df".desc, $"tok")))
        .filter($"rk" <= 5)
        .select($"day", $"rk".cast("long").as("rk"), $"tok", $"df")
        .orderBy($"day", $"rk")
    },
    Some("""WITH tt_t AS (
           |  SELECT DISTINCT
           |         CAST('0x' || substr(md5('day:' || CAST(doc_id AS VARCHAR)),
           |              1, 4) AS BIGINT) % 7 AS day,
           |         doc_id, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |tt_d AS (
           |  SELECT day, tok, CAST(count(*) AS BIGINT) AS df
           |  FROM tt_t GROUP BY 1, 2)
           |SELECT day, rk, tok, df FROM (
           |  SELECT day, tok, df,
           |         CAST(row_number() OVER (PARTITION BY day
           |           ORDER BY df DESC, tok) AS BIGINT) AS rk
           |  FROM tt_d)
           |WHERE rk <= 5
           |ORDER BY day, rk""".stripMargin),
  )

  // PAIRWISE SOURCE DIVERGENCE by TOTAL-VARIATION DISTANCE — the
  // corpus-mix drift monitor over TEXT (qa_ks_drift is its dual over
  // event values): TVD(p, q) = ½ Σ|p(tok) − q(tok)| between every
  // source pair's unigram distributions, EXACTLY — KL/JS need logs
  // and never hash-gate, while TVD cross-multiplies to integers:
  // Σ_shared |c₁·n₂ − c₂·n₁| + (n₁ − Σc₁)·n₂ + (n₂ − Σc₂)·n₁, all
  // over 2·n₁·n₂, with ONE truncating div to ppm at the end (the
  // tokens-only-in-one-source mass enters through the complement
  // terms, so the inner join on tok suffices — no per-pair full
  // outer). Scale shape: the histogram self-join fans out per token
  // by ≤|sources|² (source count, not corpus size); per-source
  // totals broadcast; top-20 most-divergent pairs via a heap.
  private val sourceTvd = Q(
    "ta_source_tvd",
    (s, d) => {
      import s.implicits._
      // Pair fanout is |sources|² — corpus-size-independent but NOT
      // bounded (a grown domain sweep hit 2000 sources → 2M pairs ×
      // shared-vocab fanout and ran away). Production drift monitors
      // watch the MAJORS, so the entry keeps only the top-K sources
      // by token volume (ties by name): ≤K(K−1)/2 pairs at any
      // corpus size. Catalogue has 20 sources < default 32 → the
      // oracle point is untouched; maxsources=0 forces the cap off.
      val maxSrc: Int = sys.props.get("graft.tvd.maxsources")
        .orElse(sys.env.get("SPARK_GRAFT_TVD_MAXSOURCES"))
        .map(_.toInt).getOrElse(32)
      val histAll = Tables.documents(s, d)
        .select($"source", explode(split($"text", " ")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
        .localCheckpoint() // feeds totals + both self-join legs
      val hist =
        if (maxSrc <= 0) histAll
        else {
          val keep = histAll.groupBy($"source").agg(sum($"c").as("n"))
            .orderBy($"n".desc, $"source").limit(maxSrc).select($"source")
          histAll.join(broadcast(keep), "source")
        }
      val tot = hist.groupBy($"source").agg(sum($"c").as("n"))
      val shared = hist.select($"source".as("sa"), $"tok", $"c".as("ca"))
        .join(hist.select($"source".as("sb"), $"tok", $"c".as("cb")), "tok")
        .filter($"sa" < $"sb")
        .join(broadcast(tot.select($"source".as("sa"), $"n".as("na"))), "sa")
        .join(broadcast(tot.select($"source".as("sb"), $"n".as("nb"))), "sb")
        .groupBy($"sa", $"sb")
        .agg(max($"na").as("na"), max($"nb").as("nb"),
          sum(abs($"ca" * $"nb" - $"cb" * $"na")).as("shared_diff"),
          sum($"ca").as("ca_shared"), sum($"cb").as("cb_shared"))
      // ALL pairs come from the |sources|²-row cross of the totals
      // (tiny), left-joined to the shared-token aggregates — a pair
      // with NO shared vocabulary has TVD exactly 1 and must still
      // rank, not silently vanish from the top-k.
      val pairs = tot.select($"source".as("sa"), $"n".as("pna"))
        .crossJoin(broadcast(tot.select($"source".as("sb"), $"n".as("pnb"))))
        .filter($"sa" < $"sb")
      pairs
        .join(shared.drop("na", "nb"), Seq("sa", "sb"), "left_outer")
        .select($"sa", $"sb",
          expr("""(1000000 * (coalesce(shared_diff, 0)
                 |  + (pna - coalesce(ca_shared, 0)) * pnb
                 |  + (pnb - coalesce(cb_shared, 0)) * pna))
                 |  div (2 * pna * pnb)""".stripMargin)
            .as("tvd_ppm"))
        .orderBy($"tvd_ppm".desc, $"sa", $"sb").limit(20)
    },
    Some("""WITH tv_h AS (
           |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM (
           |    SELECT source, unnest(string_split(text, ' ')) AS tok
           |    FROM documents)
           |  GROUP BY 1, 2),
           |tv_n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
           |         FROM tv_h GROUP BY 1),
           |tv_s AS (
           |  SELECT a.source AS sa, b.source AS sb,
           |         CAST(sum(abs(a.c * tb.n - b.c * ta.n)) AS BIGINT)
           |           AS shared_diff,
           |         CAST(sum(a.c) AS BIGINT) AS ca_shared,
           |         CAST(sum(b.c) AS BIGINT) AS cb_shared
           |  FROM tv_h a JOIN tv_h b ON a.tok = b.tok AND a.source < b.source
           |  JOIN tv_n ta ON ta.source = a.source
           |  JOIN tv_n tb ON tb.source = b.source
           |  GROUP BY 1, 2),
           |tv_p AS (
           |  SELECT ta.source AS sa, tb.source AS sb, ta.n AS pna, tb.n AS pnb
           |  FROM tv_n ta CROSS JOIN tv_n tb WHERE ta.source < tb.source)
           |SELECT p.sa, p.sb,
           |       (1000000 * (coalesce(s.shared_diff, 0)
           |         + (p.pna - coalesce(s.ca_shared, 0)) * p.pnb
           |         + (p.pnb - coalesce(s.cb_shared, 0)) * p.pna))
           |         // (2 * p.pna * p.pnb) AS tvd_ppm
           |FROM tv_p p LEFT JOIN tv_s s ON s.sa = p.sa AND s.sb = p.sb
           |ORDER BY tvd_ppm DESC, p.sa, p.sb LIMIT 20""".stripMargin),
  )

  // TEMPERATURE-scaled source mixing: per-source sampling rates
  // p_s ∝ n_s^α with α = 1/2 — the multilingual/multi-corpus
  // rebalancing rule (upsample small sources, downsample large ones)
  // used when a raw proportional mix would drown the tail. Everything
  // hash-gates: n_s^(1/2) is an EXACT integer square root (floor(sqrt)
  // in doubles, then a ±1 integer correction, so engine libm rounding
  // can never shift a weight), the per-doc keep rate is ppm integer
  // arithmetic with truncating div against a stable md5 bucket, and
  // the target draw T=200 docs. Scale shape: the only aggregates are
  // source-cardinality-sized (one per-source count + one 1-row total,
  // both broadcast); the corpus pass itself is a broadcast-joined
  // per-row filter — one partial agg and a map-side filter at 100 TB,
  // never a shuffle of the documents. α and T are literals here so the
  // oracle replays them; a deployment would thread them as knobs.
  private val temperatureMix = Q(
    "td_temperature_mix",
    (s, d) => {
      import s.implicits._
      val cnts = Tables.documents(s, d)
        .groupBy($"source").agg(count(lit(1)).as("n"))
      val wts = cnts
        .withColumn("r0", expr("CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)"))
        .withColumn("w", expr(
          """CASE WHEN (r0 + 1) * (r0 + 1) <= n THEN r0 + 1
            |     WHEN r0 * r0 > n THEN r0 - 1
            |     ELSE r0 END""".stripMargin))
      val tot = wts.agg(sum($"w").as("tw"))
      val rates = wts.crossJoin(broadcast(tot))
        .select($"source",
          expr("least(1000000L, (1000000L * 200 * w) div (tw * n))").as("rate_ppm"))
      Tables.documents(s, d)
        .join(broadcast(rates), Seq("source"))
        .filter(expr(
          "md5_prefix_long(6, 'tmix:', CAST(doc_id AS STRING)) % 1000000")
          < $"rate_ppm")
        .select($"doc_id", $"source", $"rate_ppm")
        .orderBy($"doc_id")
    },
    Some("""WITH n AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
           |w AS (
           |  SELECT source, n,
           |         CASE WHEN (r0 + 1) * (r0 + 1) <= n THEN r0 + 1
           |              WHEN r0 * r0 > n THEN r0 - 1
           |              ELSE r0 END AS w
           |  FROM (SELECT source, n,
           |               CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS r0
           |        FROM n)),
           |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
           |r AS (SELECT source,
           |             least(1000000, (1000000 * 200 * w) // (tw * n)) AS rate_ppm
           |      FROM w CROSS JOIN t)
           |SELECT d.doc_id, d.source, r.rate_ppm
           |FROM documents d JOIN r USING (source)
           |WHERE CAST('0x' || substr(md5('tmix:' || CAST(d.doc_id AS VARCHAR)),
           |           1, 6) AS BIGINT) % 1000000 < r.rate_ppm
           |ORDER BY d.doc_id""".stripMargin),
  )

  // LARGEST-REMAINDER token-budget allocation (Hamilton's method):
  // split a global training-token budget B across sources exactly
  // proportionally to their token counts with INTEGER allocations
  // that sum to B exactly — the budgeting dual of td_temperature_mix
  // (which computes sampling RATES; this commits whole-token quotas,
  // the number every data-mixing contract is written in). Floor
  // quotas a_s = (B·n_s) div N leave a shortfall D = B − Σa_s < S;
  // the D sources with the largest division remainders get one extra
  // token each (ties by source name) — the unique exact-sum rule
  // with zero float arithmetic, so it hash-gates. Scale shape: the
  // corpus contributes ONE per-source partial aggregate; everything
  // after runs on the |sources|-row table (1-row totals broadcast,
  // and the rank window sorts |sources| rows — bounded by the source
  // roster, never the corpus). Overflow: B·n_s ≤ 1e5·1e13 < 2^63
  // through ~10 TB of tokens per source; beyond that the literals
  // widen to DECIMAL(38,0), same expressions.
  private val tokenBudgetAlloc = Q(
    "td_token_budget_alloc",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val B = 100000L
      val perSrc = Tables.documents(s, d)
        .select($"source", size(split($"text", " ")).cast("long").as("nw"))
        .groupBy($"source").agg(sum($"nw").as("n_tokens"))
      val tot = perSrc.agg(sum($"n_tokens").as("total"))
      val floors = perSrc.crossJoin(broadcast(tot))
        .select($"source", $"n_tokens",
          expr(s"($B * n_tokens) div total").as("floor_alloc"),
          expr(s"$B * n_tokens - (($B * n_tokens) div total) * total")
            .as("rem"))
      val short = floors.agg((lit(B) - sum($"floor_alloc")).as("shortfall"))
      floors.crossJoin(broadcast(short))
        .withColumn("rk",
          row_number().over(Window.orderBy($"rem".desc, $"source")))
        .select($"source", $"n_tokens", $"floor_alloc",
          ($"floor_alloc" +
            when($"rk" <= $"shortfall", 1L).otherwise(0L)).as("alloc_tokens"))
        .orderBy($"source")
    },
    Some("""WITH ba_n AS (
           |  SELECT source,
           |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY 1),
           |ba_t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM ba_n),
           |ba_f AS (
           |  SELECT source, n_tokens,
           |         (100000 * n_tokens) // total AS floor_alloc,
           |         100000 * n_tokens - ((100000 * n_tokens) // total) * total
           |           AS rem
           |  FROM ba_n CROSS JOIN ba_t),
           |ba_s AS (SELECT CAST(100000 - sum(floor_alloc) AS BIGINT) AS shortfall
           |         FROM ba_f),
           |ba_r AS (
           |  SELECT source, n_tokens, floor_alloc, rem, shortfall,
           |         row_number() OVER (ORDER BY rem DESC, source) AS rk
           |  FROM ba_f CROSS JOIN ba_s)
           |SELECT source, n_tokens,
           |       CAST(floor_alloc AS BIGINT) AS floor_alloc,
           |       CAST(floor_alloc + CASE WHEN rk <= shortfall THEN 1 ELSE 0 END
           |            AS BIGINT) AS alloc_tokens
           |FROM ba_r ORDER BY source""".stripMargin),
  )

  // BM25 ranking (k1 = 1.2, b = 0.75) for a fixed 3-term query, in
  // EXACT integer micro-units so both engines hash-agree on the SCORE,
  // not just the ordering. Two determinism moves:
  //   - idf is the log-free Robertson ratio (2(N-df)+1)/(2df+1) scaled
  //     to 1e6 — strictly monotone in the textbook ln((N-df+.5)/(df+.5)),
  //     which is all a ranking needs, and libm-free (Math.log is only
  //     1-ulp-accurate on the JVM, so a log-based score could differ
  //     from DuckDB's in the last bit);
  //   - the tf-saturation fraction is cleared to integers by
  //     multiplying numerator and denominator by 10·A where
  //     A = floor(10·Σdl/N) ≈ 10·avgdl:
  //       score(d) = Σ_t idf_micro(t) · 22·A·tf div (10·A·tf + 3·A + 90·dl)
  //     (that is BM25's tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)) with
  //     k1 = 6/5 and b = 3/4 exactly).
  // Scale shape: the query-term filter runs INSIDE the words array
  // (functions.filter) before explode, so the exploded row count is
  // matches-only, never the corpus token count; df (≤3 rows) and the
  // global (N, A) scalar broadcast; the only data-scale shuffle keys on
  // doc_id; top-100 is TakeOrderedAndProject (per-partition heaps).
  // Overflow: idf_micro·22·A·tf stays under 2^63 through N ~ 1e8 docs
  // with A ≤ 1e4, tf ≤ 1e3; a petabyte corpus would move the literal
  // arithmetic to DECIMAL(38,0) — same expressions, wider lanes.
  private val bm25 = Q(
    "ta_bm25_rank",
    (s, d) => {
      import s.implicits._
      val terms = Seq("spark", "hash", "merge")
      val docs = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("words"))
      val dl = docs.select($"doc_id", size($"words").cast("long").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"), sum($"dl").as("sumdl"))
        .select($"n", expr("sumdl * 10 div n").as("a"))
      val tf = docs
        .select($"doc_id",
          explode(filter($"words", w => w.isin(terms.map(x => x: Any): _*))).as("word"))
        .groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"word").agg(count(lit(1)).as("df"))
      tf.join(broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("term_score",
          expr("""((2 * (n - df) + 1) * 1000000 div (2 * df + 1))
                 | * 22 * a * tf div (10 * a * tf + 3 * a + 90 * dl)""".stripMargin))
        .groupBy($"doc_id").agg(sum($"term_score").as("score_micro"))
        .orderBy($"score_micro".desc, $"doc_id")
        .limit(100)
    },
    Some("""WITH dl AS (
           |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           |  FROM documents),
           |stats AS (
           |  SELECT count(*) AS n, (sum(dl) * 10) // count(*) AS a FROM dl),
           |tf AS (
           |  SELECT doc_id, word, count(*) AS tf FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
           |    FROM documents)
           |  WHERE word IN ('spark', 'hash', 'merge')
           |  GROUP BY doc_id, word),
           |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word)
           |SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score_micro
           |FROM (
           |  SELECT tf.doc_id,
           |         ((2 * (n - df) + 1) * 1000000 // (2 * df + 1))
           |           * 22 * a * tf.tf // (10 * a * tf.tf + 3 * a + 90 * dl.dl) AS term_score
           |  FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats)
           |GROUP BY doc_id
           |ORDER BY score_micro DESC, doc_id
           |LIMIT 100""".stripMargin),
  )

  // WINNOWING fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03, the
  // MOSS algorithm): hash every word 3-gram, then keep the minimum
  // hash of each sliding window of 4 consecutive gram hashes. The
  // selected set is position-independent and guarantees any shared run
  // of >= k+w-1 = 6 words between two documents contributes at least
  // one COMMON fingerprint — the property plagiarism/near-dup index
  // builders rely on — while storing only ~2/(w+1) of all gram hashes.
  // Everything is per-row higher-order-function work inside whole-stage
  // codegen (transform/slice/array_min over the words array — no
  // explode of the gram stream, no shuffle until the final sort), so at
  // 100 TB this is a map-only pass producing the (doc, fingerprint)
  // pairs an index or LSH stage groups downstream. The md5-based gram
  // hash replays bit-identically in the oracle.
  private val winnow = Q(
    "ta_winnow_fingerprint",
    (s, d) => {
      import s.implicits._
      // One codegen'd kernel call per row (WinnowFingerprints); the
      // equivalent higher-order-function formulation is interpreted
      // and — if the gram array is a derived column — CollapseProject
      // inlines the md5 pipeline into every sliding window, O(m²)
      // hash evaluations per doc (measured 100+ s at sf0.1).
      Tables.documents(s, d)
        .select($"doc_id", explode(winnow_fingerprints($"text", 3, 4)).as("fingerprint"))
        .orderBy($"doc_id", $"fingerprint")
    },
    Some("""WITH g AS (
           |  SELECT doc_id, string_split(text, ' ') AS words,
           |         len(string_split(text, ' ')) AS n
           |  FROM documents
           |  WHERE len(string_split(text, ' ')) >= 6),
           |h AS (
           |  SELECT doc_id,
           |         list_transform(range(1, n - 1), i ->
           |           CAST('0x' || substr(md5(array_to_string(words[i:i+2], ' ')), 1, 8) AS BIGINT)) AS grams
           |  FROM g),
           |m AS (
           |  SELECT doc_id,
           |         list_distinct(list_transform(range(1, len(grams) - 2), j ->
           |           list_min(grams[j:j+3]))) AS fps
           |  FROM h)
           |SELECT doc_id, unnest(fps) AS fingerprint
           |FROM m
           |ORDER BY doc_id, fingerprint""".stripMargin),
  )

  // Sparse tf-idf cosine similarity via a POSTING-LIST self-join — the
  // inverted-index counterpart of the dense-embedding ANN suite: pairs
  // are generated only through terms the docs actually share (equi join
  // on the token, never a cross join), weights are integer centi-idf
  // (idf_c = 100·N div df — the log-free 1/df idf variant) so dot
  // products and norms hash-gate exactly; the final cosine is one
  // IEEE-deterministic double expression over those integers. A
  // stop-term cutoff drops tokens present in > 90% of the slice — the
  // standard IR pruning that bounds per-term join fanout at df², which
  // at 100 TB is THE knob that keeps candidate pairs ~linear (rare
  // terms dominate under Heaps/Zipf vocabulary growth; this fixed
  // 31-word corpus caps at df = 80% so the catalogue point exercises
  // the dense worst case). Top-100 is TakeOrderedAndProject.
  private val tfidfCosine = Q(
    "ta_tfidf_cosine_topk",
    (s, d) => {
      import s.implicits._
      // Slice bound is a knob (catalogue/oracle default 200) so the
      // grown-corpus probe can run the UNBOUNDED corpus and measure
      // the df-cutoff doing its job: -Dgraft.tfidf.maxdoc or
      // SPARK_GRAFT_TFIDF_MAXDOC.
      val maxDoc: Long = sys.props.get("graft.tfidf.maxdoc")
        .orElse(sys.env.get("SPARK_GRAFT_TFIDF_MAXDOC"))
        .map(_.toLong).getOrElse(200L)
      val docs = Tables.documents(s, d).filter($"doc_id" < maxDoc)
      val ndocs = docs.agg(count(lit(1)).as("n"))
      val tf = docs
        .select($"doc_id", explode(split($"text", " ")).as("word"))
        .groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"word").agg(count(lit(1)).as("df"))
      // Stop-term cutoff percent (default 90 = the catalogue/oracle
      // contract df*100 <= n*90): the production knob. Sparse-cosine
      // fanout is Σdf², so at real corpus sizes the cutoff drops to a
      // few percent (classic stop-term pruning) and bounds candidates
      // by cutoff·n·corpus_tokens — the grown-corpus probe measures
      // exactly that (BASELINE.md).
      val dfPct: Long = sys.props.get("graft.tfidf.dfpct")
        .orElse(sys.env.get("SPARK_GRAFT_TFIDF_DFPCT"))
        .map(_.toLong).getOrElse(90L)
      // Absolute posting-length cap (0 = off): the probe showed a
      // FRACTIONAL cutoff keeps Σdf² superlinear as the corpus grows
      // (grow_sf1 at df<=5% ran away); production sparse top-k
      // truncates posting lists at an absolute df, bounding candidates
      // by maxdf · corpus_tokens — linear at any scale. SCALE DEFAULT
      // (round 7): above a 10k-doc slice the measured-linear cap (100,
      // BASELINE.md round-6 cutoff table) engages on its own — the
      // catalogue/oracle point (200-doc slice) is untouched, and an
      // explicit maxdf=0 still forces the cap off at any size.
      val maxDf: Long = sys.props.get("graft.tfidf.maxdf")
        .orElse(sys.env.get("SPARK_GRAFT_TFIDF_MAXDF"))
        .map(_.toLong)
        .getOrElse(if (maxDoc > 10000L) 100L else 0L)
      val weights = tf.join(broadcast(df), "word")
        .crossJoin(broadcast(ndocs))
        .filter(if (maxDf > 0) $"df" <= maxDf else $"df" * 100 <= $"n" * dfPct)
        .withColumn("w", expr("tf * ((n * 100) div df)"))
        .select($"word", $"doc_id", $"w")
        .localCheckpoint() // feeds norms + BOTH sides of the posting join
      val norms = weights.groupBy($"doc_id").agg(sum($"w" * $"w").as("norm2"))
      weights.as("a").join(weights.as("b"), "word")
        .filter($"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .agg(sum($"a.w" * $"b.w").as("dot"))
        .join(norms.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("norm2", "na"), "doc_a")
        .join(norms.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("norm2", "nb"), "doc_b")
        .select($"doc_a", $"doc_b", $"dot",
          ($"dot".cast("double") / (sqrt($"na") * sqrt($"nb"))).as("cos_sim"))
        .orderBy($"cos_sim".desc, $"doc_a", $"doc_b")
        .limit(100)
    },
    Some("""WITH docs AS (SELECT * FROM documents WHERE doc_id < 200),
           |nd AS (SELECT count(*) AS n FROM docs),
           |tf AS (
           |  SELECT doc_id, word, count(*) AS tf FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM docs)
           |  GROUP BY doc_id, word),
           |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
           |w AS (
           |  SELECT word, doc_id, tf * ((n * 100) // df) AS w
           |  FROM tf JOIN df USING (word) CROSS JOIN nd
           |  WHERE df * 10 <= n * 9),
           |norms AS (SELECT doc_id, sum(w * w) AS norm2 FROM w GROUP BY doc_id),
           |dots AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
           |  FROM w a JOIN w b USING (word)
           |  WHERE a.doc_id < b.doc_id
           |  GROUP BY a.doc_id, b.doc_id)
           |SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot,
           |       CAST(dot AS DOUBLE) / (sqrt(na.norm2) * sqrt(nb.norm2)) AS cos_sim
           |FROM dots
           |JOIN norms na ON na.doc_id = doc_a
           |JOIN norms nb ON nb.doc_id = doc_b
           |ORDER BY cos_sim DESC, doc_a, doc_b
           |LIMIT 100""".stripMargin),
  )

  // WINNOWING near-dup — the end-to-end MOSS use-case the kernel's
  // >= k+w-1 = 6-word-run guarantee exists for: fingerprints
  // ([[winnow]]) → inverted fingerprint index → candidate pairs
  // generated ONLY through a shared fingerprint (equi join on the
  // fingerprint, never all-pairs) → exact fingerprint-set Jaccard on
  // the candidates (the shared count IS the intersection size — the
  // kernel emits distinct fingerprints). Pairs sharing any >= 6-word
  // run are guaranteed candidates; the Jaccard threshold (>= 50%,
  // integer percent) then keeps true near-dups. At 100 TB the
  // candidate volume is Σ df² over fingerprint posting lists —
  // winnowing keeps ~2/(w+1) of gram hashes and an absolute posting
  // cap (engaged by default above a 100k-doc corpus, the same scale
  // pattern as [[tfidfCosine]]'s maxdf) drops the boilerplate
  // fingerprints that would otherwise go quadratic; the catalogue
  // point runs uncapped and the ORACLE is the UNBLOCKED all-pairs
  // list_intersect, so a missed candidate is a hash mismatch, not a
  // silently-agreeing replay.
  private val winnowNearDup = Q(
    "td_winnow_neardup",
    (s, d) => {
      import s.implicits._
      // Posting-list cap (0 = off): fingerprints held by more docs
      // than this are boilerplate, not evidence of pairwise identity;
      // capped out above 100k docs by default, knob-forced either way.
      val docCount = Tables.documents(s, d).count() // parquet metadata-only
      val maxDf: Long = sys.props.get("graft.winnow.maxdf")
        .orElse(sys.env.get("SPARK_GRAFT_WINNOW_MAXDF"))
        .map(_.toLong)
        .getOrElse(if (docCount > 100000L) 128L else 0L)
      val fps0 = Tables.documents(s, d)
        .select($"doc_id", explode(winnow_fingerprints($"text", 3, 4)).as("fp"))
        .localCheckpoint() // feeds df, sizes, and BOTH sides of the index join
      val fps =
        if (maxDf > 0) {
          val df = fps0.groupBy($"fp").agg(count(lit(1)).as("df"))
          fps0.join(df.filter($"df" <= maxDf), "fp").select($"doc_id", $"fp")
        } else fps0
      val sizes = fps.groupBy($"doc_id").agg(count(lit(1)).as("m"))
      fps.as("a").join(fps.as("b"), "fp")
        .filter($"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(sizes.select($"doc_id".as("doc_a"), $"m".as("ma")), "doc_a")
        .join(sizes.select($"doc_id".as("doc_b"), $"m".as("mb")), "doc_b")
        .withColumn("jac_pct", expr("n_shared * 100 div (ma + mb - n_shared)"))
        .filter($"n_shared" >= 2 && $"jac_pct" >= 50)
        .select($"doc_a", $"doc_b", $"n_shared", $"jac_pct")
        .orderBy($"doc_a", $"doc_b")
    },
    Some("""WITH g AS (
           |  SELECT doc_id, string_split(text, ' ') AS words,
           |         len(string_split(text, ' ')) AS n
           |  FROM documents
           |  WHERE len(string_split(text, ' ')) >= 6),
           |h AS (
           |  SELECT doc_id,
           |         list_transform(range(1, n - 1), i ->
           |           CAST('0x' || substr(md5(array_to_string(words[i:i+2], ' ')), 1, 8) AS BIGINT)) AS grams
           |  FROM g),
           |m AS (
           |  SELECT doc_id,
           |         list_distinct(list_transform(range(1, len(grams) - 2), j ->
           |           list_min(grams[j:j+3]))) AS fps
           |  FROM h),
           |p AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         len(list_intersect(a.fps, b.fps)) AS ns,
           |         len(a.fps) AS ma, len(b.fps) AS mb
           |  FROM m a JOIN m b ON a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, CAST(ns AS BIGINT) AS n_shared,
           |       CAST(ns * 100 // (ma + mb - ns) AS BIGINT) AS jac_pct
           |FROM p
           |WHERE ns >= 2 AND ns * 100 // (ma + mb - ns) >= 50
           |ORDER BY doc_a, doc_b""".stripMargin),
  )

  // BOILERPLATE STRIP (the CCNet/RefinedWeb template-removal pass,
  // adapted to a corpus with no line structure): a bigram is
  // boilerplate FOR A SOURCE when it appears in >= 20% of that
  // source's documents — template text repeats across a crawl
  // domain's pages, which per-source document frequency captures and
  // a global threshold would dilute. Per document this reports the
  // flagged bigram count and the exact token coverage of their
  // overlapping [pos, pos+1] intervals (the same gaps-and-islands
  // union as td_span_dedup — with L=2 adjacent flagged bigrams chain
  // into runs, so naive 2·count would overcount). Scale story: the
  // df pass is one (source, bigram-md5) partial agg; the boilerplate
  // set per source is bounded by the df threshold (few hundred grams
  // here), so the flag-back join broadcasts; the coverage window
  // partitions per doc. All counts integer, hash-exact.
  private val boilerplateStrip = Q(
    "ta_boilerplate_strip",
    (s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", $"source", split($"text", " ").as("w"))
      val grams = toks
        .select($"doc_id", $"source",
          explode(sequence(lit(1), greatest(size($"w") - 1, lit(0)))).as("pos"),
          $"w")
        .select($"doc_id", $"source", $"pos",
          md5(array_join(slice($"w", $"pos", lit(2)), " ")).as("g"))
      val nd = Tables.documents(s, d)
        .groupBy($"source").agg(count(lit(1)).as("nd"))
      val boiler = grams.select($"source", $"g", $"doc_id").distinct()
        .groupBy($"source", $"g").agg(count(lit(1)).as("df"))
        .join(nd, "source")
        .filter($"df" * 5 >= $"nd")
        .select($"source", $"g")
      val flagged = grams.join(broadcast(boiler), Seq("source", "g"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"pos")
      import org.apache.spark.sql.expressions.Window.unboundedPreceding
      val cover = flagged
        .withColumn("prev_end",
          max($"pos" + 1).over(w.rowsBetween(unboundedPreceding, -1)))
        .withColumn("new_island",
          when($"prev_end".isNull || $"pos" > $"prev_end" + 1, 1L).otherwise(0L))
        .withColumn("island",
          sum($"new_island").over(w.rowsBetween(unboundedPreceding, 0)))
        .groupBy($"doc_id", $"island")
        .agg(min($"pos").as("a"), max($"pos" + 1).as("b"),
          count(lit(1)).as("grams"))
        .groupBy($"doc_id")
        .agg(sum($"grams").as("boiler_bigrams"),
          sum($"b" - $"a" + 1).as("boiler_tokens"))
      toks.select($"doc_id", size($"w").cast("long").as("n_tokens"))
        .join(cover, Seq("doc_id"), "left")
        .select($"doc_id", $"n_tokens",
          coalesce($"boiler_bigrams", lit(0L)).as("boiler_bigrams"),
          coalesce($"boiler_tokens", lit(0L)).as("boiler_tokens"))
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
           |grams AS (
           |  SELECT doc_id, source,
           |         CAST(unnest(range(1, len(w))) AS BIGINT) AS pos, w
           |  FROM toks),
           |hashed AS (
           |  SELECT doc_id, source, pos,
           |         md5(array_to_string(list_slice(w, pos, pos + 1), ' ')) AS g
           |  FROM grams),
           |nd AS (SELECT source, count(*) AS nd FROM documents GROUP BY 1),
           |boiler AS (
           |  SELECT d.source, d.g
           |  FROM (SELECT source, g, count(DISTINCT doc_id) AS df
           |        FROM hashed GROUP BY 1, 2) d
           |  JOIN nd USING (source)
           |  WHERE d.df * 5 >= nd.nd),
           |flagged AS (
           |  SELECT h.doc_id, h.pos FROM hashed h
           |  JOIN boiler b ON h.source = b.source AND h.g = b.g),
           |marked AS (
           |  SELECT doc_id, pos,
           |         max(pos + 1) OVER (PARTITION BY doc_id ORDER BY pos
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
           |  SELECT doc_id, island, min(pos) AS a, max(pos + 1) AS b,
           |         count(*) AS grams
           |  FROM islands GROUP BY doc_id, island),
           |cover AS (
           |  SELECT doc_id, CAST(sum(grams) AS BIGINT) AS boiler_bigrams,
           |         CAST(sum(b - a + 1) AS BIGINT) AS boiler_tokens
           |  FROM per_island GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
           |       COALESCE(c.boiler_bigrams, 0) AS boiler_bigrams,
           |       COALESCE(c.boiler_tokens, 0) AS boiler_tokens
           |FROM toks t LEFT JOIN cover c USING (doc_id)
           |ORDER BY t.doc_id""".stripMargin),
  )

  // DSIR-style importance ranking (Xie et al., NeurIPS'23 — "Data
  // Selection for Language Models via Importance Resampling"): score
  // each document by how much more likely its hashed-bigram features
  // are under a target-domain bag-of-ngrams model than under the
  // raw-corpus model, then keep the top-k. Features are word bigrams
  // (the native NGrams generator) hashed into B = 256 buckets; both
  // models are add-one-smoothed bucket counts. Determinism moves, in
  // the BM25 tradition above:
  //   - the per-bucket likelihood ratio is EXACT integer micro-units,
  //     (c_t+1)·1e6 div (c_r+1), bounded by 1e6 because the target
  //     corpus is a SUBSET of the raw corpus (c_r ≥ c_t bucket-wise);
  //   - a document's score is the MEAN ratio over its bigram
  //     occurrences (the paper's per-token average log-ratio,
  //     log-free: the shared normalizer (n_r+B)/(n_t+B) multiplies
  //     every document identically, so the integer ratio ranks the
  //     same and never leaves int64).
  // Scale shape: the model is ≤ B = 256 rows — two tiny aggregations
  // whose results BROADCAST; scoring is a map-side bucket hash joined
  // against that broadcast, and the only data-scale shuffle is the
  // partial-aggregated groupBy(doc_id) carrying one row per document;
  // top-100 is TakeOrderedAndProject. The gram stream is recomputed
  // for each of its three consumers rather than materialized — it is
  // map-only (explode + hash, no exchange), which is the right trade
  // at 100 TB where caching the token stream would dwarf the input.
  /** Doc-level DSIR scores for EVERY document — (doc_id, source,
    * n_grams, score_micro); the catalogue entry below is this plus
    * the top-100 heap, and the composed data-selection gate
    * (PipelineQueries) consumes it untruncated.
    */
  private[operators] def dsirScores(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    graft.functions.exprs.register(s) // md5_prefix_long in expr strings
    val grams = Tables.documents(s, d)
      .select($"doc_id", $"source", ngrams($"text", 2).as(Seq("pos", "g")))
      .select($"doc_id", $"source",
        (expr("md5_prefix_long(6, 'dsir:', g)") % 256)
          .as("bucket"))
    val raw = grams.groupBy($"bucket").agg(count(lit(1)).as("c_r"))
    val tgt = grams.filter($"source".isin("src1", "src3", "src5"))
      .groupBy($"bucket").agg(count(lit(1)).as("c_t"))
    val model = raw.join(tgt, Seq("bucket"), "left_outer")
      .select($"bucket",
        expr("(coalesce(c_t, 0) + 1) * 1000000 div (c_r + 1)").as("ratio_micro"))
    grams.join(broadcast(model), "bucket")
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_grams"), sum($"ratio_micro").as("rsum"))
      .select($"doc_id", $"source", $"n_grams",
        expr("rsum div n_grams").as("score_micro"))
  }

  /** Oracle CTE chain ending in `dsir(doc_id, source, n_grams,
    * score_micro)` — the SQL twin of [[dsirScores]], shared by the
    * catalogue entry and the composed data-selection gate.
    */
  private[operators] val dsirCtes = """dsir_w AS (
    |  SELECT doc_id, source, word, lead(word, 1) OVER win AS w1
    |  FROM (SELECT doc_id, source,
    |               unnest(string_split(text, ' ')) AS word,
    |               unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
    |        FROM documents)
    |  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
    |dsir_g AS (
    |  SELECT doc_id, source,
    |         CAST('0x' || substr(md5('dsir:' || word || ' ' || w1), 1, 6)
    |              AS BIGINT) % 256 AS bucket
    |  FROM dsir_w WHERE w1 IS NOT NULL),
    |dsir_raw AS (SELECT bucket, count(*) AS c_r FROM dsir_g GROUP BY bucket),
    |dsir_tgt AS (SELECT bucket, count(*) AS c_t FROM dsir_g
    |             WHERE source IN ('src1', 'src3', 'src5') GROUP BY bucket),
    |dsir_model AS (
    |  SELECT r.bucket,
    |         ((coalesce(t.c_t, 0) + 1) * 1000000) // (r.c_r + 1) AS ratio_micro
    |  FROM dsir_raw r LEFT JOIN dsir_tgt t USING (bucket)),
    |dsir AS (
    |  SELECT doc_id, source, count(*) AS n_grams,
    |         CAST(sum(ratio_micro) // count(*) AS BIGINT) AS score_micro
    |  FROM dsir_g JOIN dsir_model USING (bucket)
    |  GROUP BY doc_id, source)""".stripMargin

  private val dsirImportance = Q(
    "td_dsir_importance",
    (s, d) => {
      import s.implicits._
      dsirScores(s, d)
        .orderBy($"score_micro".desc, $"doc_id")
        .limit(100)
    },
    Some(s"""WITH $dsirCtes
            |SELECT doc_id, source, n_grams, score_micro
            |FROM dsir
            |ORDER BY score_micro DESC, doc_id
            |LIMIT 100""".stripMargin),
  )

  // CCNet-style quality bucketing (Wenzek et al., LREC'20): score
  // every document under a reference-domain language model, then
  // split each language into head/middle/tail terciles — the
  // coarse-grained quality tiers the CommonCrawl pipelines feed to
  // training-data mixers. Differences from the paper, made exact and
  // engine-portable:
  //   - the model is hashed-UNIGRAM (B = 256 buckets, add-one
  //     smoothing) over the target sources, and a document's score is
  //     the MEAN smoothed bucket frequency in integer micro-units —
  //     an arithmetic-mean-likelihood surrogate for (inverse)
  //     perplexity's geometric mean: monotone in "how reference-like",
  //     integer-exact, log-free;
  //   - tercile cutpoints are EXACT DISCRETE ORDER STATISTICS derived
  //     from a per-(lang, score) histogram with a cumulative count —
  //     never a per-language full sort. The histogram is ≤ distinct
  //     scores per language; the cutpoint table is 1 row per language
  //     and BROADCASTS back to the doc stream. Ties at a cutpoint all
  //     land in the higher bucket (deterministic; bucket populations
  //     may exceed n/3 exactly as CCNet's fixed ppl thresholds do).
  // Scale shape: model ≤ 256 rows (broadcast), histogram ∝ distinct
  // scores (its window sort keys on lang — a handful of values — but
  // carries only histogram rows, not docs), cutpoints ∝ languages
  // (broadcast); the data-scale shuffles are the doc-keyed score
  // aggregate and the presentation sort.
  /** Doc-level CCNet quality tiers for EVERY document — (doc_id,
    * lang, n_tokens, score_micro, bucket); the catalogue entry below
    * adds only the presentation sort, and the composed data-selection
    * gate (PipelineQueries) consumes this directly.
    */
  private[operators] def ccnetBuckets(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
      import s.implicits._
      graft.functions.exprs.register(s) // md5_prefix_long in lambdas
      import org.apache.spark.sql.expressions.Window
      // Round-11 rewrite (the ta_trigram_lm_score device, measured
      // there stage by stage): per-word md5 on EXPLODED rows costs
      // ~µs/row through the generate → project path; the same hashes
      // inside `transform`/`aggregate` lambdas are ~an order cheaper.
      // Training explodes only finished bucket ids; scoring never
      // explodes — the 256-slot smoothed-frequency model becomes a
      // POSITIONAL ARRAY on one broadcast row (O(1) element_at) and
      // each doc folds its mean-likelihood sum in-row.
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"lang", $"source", split($"text", " ").as("w"))
      val bucketOf = (col: String) =>
        s"md5_prefix_long(6, 'ccnet:', $col) % 256"
      val refBuckets = docs.filter($"source".isin("src1", "src3", "src5"))
        .select(explode(expr(s"transform(w, x -> ${bucketOf("x")})")).as("bucket"))
      val tgt = refBuckets.groupBy($"bucket").agg(count(lit(1)).as("c_t"))
      // n_t = Σ c_t — one pass over the reference stream, not two
      val model = tgt
        .agg(map_from_entries(collect_list(struct($"bucket", $"c_t"))).as("m"),
          // coalesce: an EMPTY reference stream must degrade to the
          // uniform smoothed default (n_t = 0 → 1000000 div 256),
          // like the oracle — a NULL sum would NULL every score
          coalesce(sum($"c_t"), lit(0L)).as("n_t"))
        .select(expr(
          """transform(sequence(0L, 255L), b ->
            |  (coalesce(element_at(m, b), 0L) + 1) * 1000000 div (n_t + 256))""".stripMargin)
          .as("a"))
      val scored = docs.crossJoin(broadcast(model))
        .select($"doc_id", $"lang", size($"w").cast("long").as("n_tokens"),
          expr(s"""aggregate(w, 0L, (acc, x) ->
            |  acc + element_at(a, CAST(${bucketOf("x")} AS INT) + 1))""".stripMargin)
            .as("fsum"))
        .select($"doc_id", $"lang", $"n_tokens",
          expr("fsum div n_tokens").as("score_micro"))
        // three consumers (histogram, per-lang n, final bucket join)
        // would each replay the token scan + score aggregate; the
        // doc-level score table is one row per document, so
        // materialize it once (the ta_tfidf_cosine_topk device)
        .localCheckpoint()
      val hist = scored.groupBy($"lang", $"score_micro")
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum($"c").over(
          Window.partitionBy($"lang").orderBy($"score_micro".desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val nLang = scored.groupBy($"lang").agg(count(lit(1)).as("n"))
      val cutpoints = hist.join(broadcast(nLang), "lang")
        .groupBy($"lang")
        .agg(
          max(when($"cum" >= expr("(n + 2) div 3"), $"score_micro")).as("c1"),
          max(when($"cum" >= expr("(2 * n + 2) div 3"), $"score_micro")).as("c2"))
      scored.join(broadcast(cutpoints), "lang")
        .select($"doc_id", $"lang", $"n_tokens", $"score_micro",
          when($"score_micro" >= $"c1", "head")
            .when($"score_micro" >= $"c2", "middle")
            .otherwise("tail").as("bucket"))
  }

  /** Oracle CTE chain ending in `ccnet(doc_id, lang, n_tokens,
    * score_micro, bucket)` — the SQL twin of [[ccnetBuckets]], shared
    * by the catalogue entry and the composed data-selection gate.
    */
  private[operators] val ccnetCtes = """cc_words AS (
    |  SELECT doc_id, lang, source,
    |         CAST('0x' || substr(md5('ccnet:' || word), 1, 6) AS BIGINT) % 256
    |           AS bucket
    |  FROM (SELECT doc_id, lang, source,
    |               unnest(string_split(text, ' ')) AS word
    |        FROM documents)),
    |cc_tgt AS (
    |  SELECT bucket, count(*) AS c_t FROM cc_words
    |  WHERE source IN ('src1', 'src3', 'src5') GROUP BY bucket),
    |cc_nt AS (
    |  SELECT count(*) AS n_t FROM cc_words
    |  WHERE source IN ('src1', 'src3', 'src5')),
    |cc_model AS (
    |  SELECT bucket, ((c_t + 1) * 1000000) // (n_t + 256) AS freq_micro
    |  FROM cc_tgt CROSS JOIN cc_nt),
    |cc_scored AS (
    |  SELECT doc_id, lang, count(*) AS n_tokens,
    |         CAST(sum(coalesce(m.freq_micro,
    |                  1000000 // (nt.n_t + 256))) // count(*) AS BIGINT)
    |           AS score_micro
    |  FROM cc_words w
    |  LEFT JOIN cc_model m USING (bucket) CROSS JOIN cc_nt nt
    |  GROUP BY doc_id, lang),
    |cc_hist AS (
    |  SELECT lang, score_micro, count(*) AS c,
    |         sum(count(*)) OVER (PARTITION BY lang ORDER BY score_micro DESC
    |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    |  FROM cc_scored GROUP BY lang, score_micro),
    |cc_nlang AS (SELECT lang, count(*) AS n FROM cc_scored GROUP BY lang),
    |cc_cuts AS (
    |  SELECT lang,
    |         max(CASE WHEN cum >= (n + 2) // 3 THEN score_micro END) AS c1,
    |         max(CASE WHEN cum >= (2 * n + 2) // 3 THEN score_micro END) AS c2
    |  FROM cc_hist JOIN cc_nlang USING (lang)
    |  GROUP BY lang),
    |ccnet AS (
    |  SELECT doc_id, lang, n_tokens, score_micro,
    |         CASE WHEN score_micro >= c1 THEN 'head'
    |              WHEN score_micro >= c2 THEN 'middle'
    |              ELSE 'tail' END AS bucket
    |  FROM cc_scored JOIN cc_cuts USING (lang))""".stripMargin

  private val ccnetBucket = Q(
    "ta_ccnet_bucket",
    (s, d) => {
      import s.implicits._
      ccnetBuckets(s, d).orderBy($"doc_id")
    },
    Some(s"""WITH $ccnetCtes
            |SELECT doc_id, lang, n_tokens, score_micro, bucket
            |FROM ccnet
            |ORDER BY doc_id""".stripMargin),
  )


  // CONDITIONAL char-trigram language-model scoring — the KenLM-style
  // mechanism behind CCNet's actual perplexity filter, upgraded from
  // the hashed-UNIGRAM surrogate above to a real conditional model:
  // p(c | ab) ≈ (count(abc) + 1) / (count(ab·) + B) with hashed
  // trigram/bigram contexts (B = 4096 buckets each) trained on the
  // reference sources (src1/src3/src5), scoring EVERY document by its
  // mean conditional likelihood in integer micro-units (the same
  // arithmetic-mean, division-free, log-free surrogate the CCNet
  // entry documents: monotone in "how reference-like", integer-exact
  // so the oracle hash-gates it — a float log-prob sum would drift by
  // aggregation order).
  //
  // Text is pinned to the printable-ASCII projection first: Spark
  // indexes strings by UTF-16 unit and DuckDB by code point, so
  // substring-based trigram windows only agree on a corpus where the
  // two coincide — the sanitize step makes that an invariant instead
  // of a hope. Docs with < 3 surviving chars are excluded in BOTH
  // engines (Spark's sequence(1, 0) counts DOWN — the guard is
  // load-bearing, not cosmetic).
  //
  // Scale shape: the model is ≤ 2×4096 rows (broadcast both ways);
  // the trigram stream is exploded once for training (partial-agg to
  // ≤ 4096 rows map-side before the shuffle — bounded-key count) and
  // once for scoring (two broadcast joins, then a doc_id-keyed
  // partial agg). No data-sized shuffle except the per-doc aggregate,
  // the same shape as ta_ccnet_bucket.
  private val trigramLm = Q(
    "ta_trigram_lm_score",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"source",
          regexp_replace($"text", "[^ -~]", "").as("t"))
        .filter(length($"t") >= 3)
      // Round-11 rewrite, MEASURED at grow_sf1 (stage-by-stage timing
      // decomposition): hashing on EXPLODED trigram rows cost ~1.8 µs/
      // row (28.9 s for 15 M single-md5 rows — the generate → project
      // row-at-a-time path), while the SAME md5s evaluated INSIDE a
      // higher-order-function lambda ran the whole stream in 0.5 s.
      // So: (a) the training pass computes both bucket ids inside
      // `transform` and explodes only the finished (b3, b2) pairs;
      // (b) the scoring pass never explodes at all — the two 4096-slot
      // count marginals become POSITIONAL ARRAYS (O(1) element_at, not
      // a map's linear scan) on one broadcast row, and each doc folds
      // its own likelihood sum in-row with `aggregate`. Previous
      // measured variants for the record: distinct-trigram dictionary
      // join 2.2× slower than in-row double-md5; exploded-row
      // double-md5 + two broadcast joins + per-doc agg = the 18.6 s
      // this rewrite replaces (2.6 s after).
      val refBuckets = docs.filter($"source".isin("src1", "src3", "src5"))
        .select(explode(expr(
          """transform(sequence(1, length(t) - 2), i -> struct(
            |  md5_prefix_long(6, 'lm3:', substring(t, i, 3)) % 4096 AS b3,
            |  md5_prefix_long(6, 'lm2:', substring(t, i, 2)) % 4096 AS b2))""".stripMargin))
          .as("p"))
        .select($"p.b3", $"p.b2")
      // ONE pass over the reference stream builds the JOINT (b3, b2)
      // pair counts (each trigram maps to exactly one pair, so both
      // marginals are exact partial sums of it); checkpointed so the
      // two marginals don't each re-run the reference stream.
      val refPairs = refBuckets.groupBy($"b3", $"b2")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val c3 = refPairs.groupBy($"b3").agg(sum($"c").as("c3"))
      val c2 = refPairs.groupBy($"b2").agg(sum($"c").as("c2"))
      val model = c3
        .agg(map_from_entries(collect_list(struct($"b3", $"c3"))).as("m3"))
        .crossJoin(c2
          .agg(map_from_entries(collect_list(struct($"b2", $"c2"))).as("m2")))
        .select(
          expr("transform(sequence(0L, 4095L), b -> coalesce(element_at(m3, b), 0L))")
            .as("a3"),
          expr("transform(sequence(0L, 4095L), b -> coalesce(element_at(m2, b), 0L))")
            .as("a2"))
      docs.crossJoin(broadcast(model))
        .select($"doc_id", (length($"t") - 2).cast("long").as("n_tri"),
          expr(
            """aggregate(sequence(1, length(t) - 2), 0L, (acc, i) -> acc +
              |  (element_at(a3, CAST(md5_prefix_long(6, 'lm3:', substring(t, i, 3)) % 4096 AS INT) + 1) + 1) * 1000000
              |  div (element_at(a2, CAST(md5_prefix_long(6, 'lm2:', substring(t, i, 2)) % 4096 AS INT) + 1) + 4096))""".stripMargin)
            .as("fsum"))
        .select($"doc_id", $"n_tri", expr("fsum div n_tri").as("score_micro"))
        .orderBy($"doc_id")
    },
    Some("""WITH lm_docs AS (
      |  SELECT doc_id, source, regexp_replace(text, '[^ -~]', '', 'g') AS t
      |  FROM documents),
      |lm_b AS (
      |  SELECT doc_id, source,
      |         CAST('0x' || substr(md5('lm3:' || tri), 1, 6) AS BIGINT) % 4096 AS b3,
      |         CAST('0x' || substr(md5('lm2:' || substr(tri, 1, 2)), 1, 6) AS BIGINT) % 4096 AS b2
      |  FROM (SELECT doc_id, source, substr(t, CAST(i AS INT), 3) AS tri
      |        FROM lm_docs,
      |             LATERAL (SELECT unnest(generate_series(1, length(t) - 2)) AS i)
      |        WHERE length(t) >= 3)),
      |lm_c3 AS (SELECT b3, count(*) AS c3 FROM lm_b
      |          WHERE source IN ('src1', 'src3', 'src5') GROUP BY b3),
      |lm_c2 AS (SELECT b2, count(*) AS c2 FROM lm_b
      |          WHERE source IN ('src1', 'src3', 'src5') GROUP BY b2)
      |SELECT doc_id, count(*) AS n_tri,
      |       CAST(sum(((coalesce(c3, 0) + 1) * 1000000) // (coalesce(c2, 0) + 4096))
      |            AS BIGINT) // count(*) AS score_micro
      |FROM lm_b
      |LEFT JOIN lm_c3 USING (b3)
      |LEFT JOIN lm_c2 USING (b2)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin),
  )

  // HASHED-FEATURE LINEAR CLASSIFIER (fastText-style inference) — the
  // quality-filter shape the GPT-3/CCNet pipelines run over every
  // crawl doc: hash each bigram into a fixed bucket space (256 here),
  // look its weight up in a published model artifact, and score the
  // doc by the summed weights. The weight table is DERIVED
  // deterministically from the bucket id (a Knuth multiplicative hash
  // mapped to [-500, 500]) so the oracle replays the model without a
  // training fixture — in production the artifact is the trained
  // weight vector, identically broadcast-shaped. Everything is
  // integer math on md5-derived buckets, so both engines agree
  // exactly. Scale shape: bigrams, buckets, weights and the per-doc
  // fold all happen IN-ROW (one zero-shuffle projection over the
  // scan — the model rides in the expression, the corpus never
  // explodes into a token table), then one left join back to
  // documents for the <2-word docs.
  /** The hashed-classifier scoring pipeline's oracle CTEs (words →
    * bigrams → per-doc weight fold), shared verbatim by
    * ta_hashed_classifier and the uncertainty-sampling entry so the
    * model replay can never fork between them. Declared BEFORE both
    * entries — object vals initialize in source order.
    */
  private val hashedClassifierCtes = """words AS (
    |  SELECT doc_id,
    |         unnest(string_split(text, ' ')) AS word,
    |         unnest(generate_series(1, len(string_split(text, ' '))))
    |           AS pos
    |  FROM documents),
    |grams AS (
    |  SELECT doc_id, g FROM (
    |    SELECT doc_id,
    |           word || ' ' || lead(word, 1) OVER w AS g,
    |           lead(word, 1) OVER w AS nx
    |    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
    |  WHERE nx IS NOT NULL),
    |feats AS (
    |  SELECT doc_id,
    |         count(*) AS n_feats,
    |         CAST(sum((CAST('0x' || substr(md5(g), 1, 4) AS BIGINT)
    |                   % 256) * 2654435761 % 1001 - 500) AS BIGINT)
    |           AS w_sum
    |  FROM grams GROUP BY doc_id)""".stripMargin

  private val hashedClassifier = Q(
    "ta_hashed_classifier",
    (s, d) => {
      import s.implicits._
      val w = split($"text", " ")
      val bigrams = zip_with(
        slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (a, b) => concat(a, lit(" "), b))
      val weights = transform(bigrams, g =>
        (graft.functions.exprs.md5_prefix_long(4, g) % 256)
          * lit(2654435761L) % 1001 - 500)
      graft.util.Cols.fanout(Tables.documents(s, d))
        .select($"doc_id",
          size(bigrams).cast("long").as("n_feats"),
          aggregate(weights, lit(0L), (acc, x) => acc + x).as("w_sum"))
        .select($"doc_id", $"n_feats", $"w_sum",
          when($"w_sum" >= 0, "keep").otherwise("flag").as("action"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH $hashedClassifierCtes
            |SELECT d.doc_id,
            |       coalesce(f.n_feats, 0) AS n_feats,
            |       coalesce(f.w_sum, 0) AS w_sum,
            |       CASE WHEN coalesce(f.w_sum, 0) >= 0 THEN 'keep'
            |            ELSE 'flag' END AS action
            |FROM documents d LEFT JOIN feats f USING (doc_id)
            |ORDER BY d.doc_id""".stripMargin),
  )

  // UNCERTAINTY SAMPLING (Lewis & Gale 1994 — the active-learning
  // acquisition step: route the documents the model is LEAST sure
  // about to human labeling). Composes the (separately gated) hashed
  // classifier: uncertainty = |w_sum|·1000 div n_feats, the mean
  // absolute per-feature margin — docs nearest the decision boundary
  // rank first. The scoring pass is the classifier's zero-shuffle
  // in-row fold; selection is TakeOrdered-50 on (margin, doc_id), so
  // the acquisition batch is deterministic and the whole operator
  // adds NO shuffle to the scoring scan. Docs with no features carry
  // no signal and are excluded (they are the '(direct)' analog).
  private val uncertaintySample = Q(
    "td_uncertainty_sample",
    (s, d) => {
      import s.implicits._
      hashedClassifier.fn(s, d)
        .filter($"n_feats" > 0)
        .select($"doc_id", $"n_feats", $"w_sum",
          expr("(abs(w_sum) * 1000) div n_feats").as("margin_milli"))
        .orderBy($"margin_milli", $"doc_id")
        .limit(50)
    },
    Some(s"""WITH $hashedClassifierCtes
            |SELECT doc_id, n_feats, w_sum,
            |       (abs(w_sum) * 1000) // n_feats AS margin_milli
            |FROM feats
            |WHERE n_feats > 0
            |ORDER BY margin_milli, doc_id
            |LIMIT 50""".stripMargin),
  )

  // GOPHER-STYLE RULE GATE: the hard per-document filter bundle every
  // web-scale corpus pass runs (Gopher §A1 / RefinedWeb / Dolma),
  // adapted to this corpus's vocabulary: word-count bounds, mean-word-
  // length bounds, minimum stopword evidence, distinct-word (repetition)
  // floor, and a stopword-saturation ceiling — with PER-RULE flag
  // columns so the drop reasons are auditable (the same contract as
  // pipe_drop_audit), not just a final boolean. Unlike
  // `ta_quality_score` (a weighted soft score), this is the hard gate.
  // Every rule is integer arithmetic — ratios compare via
  // cross-multiplication (4·n ≤ chars ≤ 8·n, distinct·10 ≥ n·3), so the
  // result is exact on both engines with no float in sight. One
  // narrow-projection scan, no shuffle at all until the final sort:
  // at 100 TB this is a map-only pass.
  private val gopherRules = Q(
    "ta_gopher_rules",
    (s, d) => {
      import s.implicits._
      val words = split($"text", " ")
      Tables.documents(s, d)
        .select(
          $"doc_id",
          size(words).cast("long").as("n_words"),
          (length($"text") - size(words) + 1).cast("long").as("wchars"),
          size(filter(words, w => w === "the" || w === "a"))
            .cast("long").as("n_stop"),
          size(array_distinct(words)).cast("long").as("n_distinct"))
        .select(
          $"doc_id", $"n_words",
          when($"n_words" >= 15 && $"n_words" <= 90, 1L).otherwise(0L)
            .as("r_wordcount"),
          when($"wchars" >= $"n_words" * 4 && $"wchars" <= $"n_words" * 8, 1L)
            .otherwise(0L).as("r_meanwordlen"),
          when($"n_stop" >= 2, 1L).otherwise(0L).as("r_stopword_min"),
          when($"n_distinct" * 10 >= $"n_words" * 3, 1L).otherwise(0L)
            .as("r_distinct_floor"),
          when($"n_stop" * 8 <= $"n_words", 1L).otherwise(0L)
            .as("r_stop_ceiling"))
        .withColumn("keep",
          $"r_wordcount" * $"r_meanwordlen" * $"r_stopword_min" *
            $"r_distinct_floor" * $"r_stop_ceiling")
        .orderBy($"doc_id")
    },
    Some("""WITH c AS (
           |  SELECT doc_id,
           |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           |         CAST(length(text) - len(string_split(text, ' ')) + 1
           |              AS BIGINT) AS wchars,
           |         CAST(len(list_filter(string_split(text, ' '),
           |              w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
           |         CAST(len(list_distinct(string_split(text, ' ')))
           |              AS BIGINT) AS n_distinct
           |  FROM documents),
           |f AS (
           |  SELECT doc_id, n_words,
           |         CASE WHEN n_words BETWEEN 15 AND 90 THEN 1 ELSE 0 END
           |           AS r_wordcount,
           |         CASE WHEN wchars >= n_words * 4 AND wchars <= n_words * 8
           |              THEN 1 ELSE 0 END AS r_meanwordlen,
           |         CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stopword_min,
           |         CASE WHEN n_distinct * 10 >= n_words * 3 THEN 1 ELSE 0 END
           |           AS r_distinct_floor,
           |         CASE WHEN n_stop * 8 <= n_words THEN 1 ELSE 0 END
           |           AS r_stop_ceiling
           |  FROM c)
           |SELECT doc_id, n_words,
           |       CAST(r_wordcount AS BIGINT) AS r_wordcount,
           |       CAST(r_meanwordlen AS BIGINT) AS r_meanwordlen,
           |       CAST(r_stopword_min AS BIGINT) AS r_stopword_min,
           |       CAST(r_distinct_floor AS BIGINT) AS r_distinct_floor,
           |       CAST(r_stop_ceiling AS BIGINT) AS r_stop_ceiling,
           |       CAST(r_wordcount * r_meanwordlen * r_stopword_min *
           |            r_distinct_floor * r_stop_ceiling AS BIGINT) AS keep
           |FROM f
           |ORDER BY doc_id""".stripMargin),
  )

  // N-GRAM NOVELTY (the memorization-analysis signal): what fraction
  // of a document's distinct 5-grams appear in NO other document?
  // Low-novelty docs are recombinations of corpus-common phrasing;
  // high-novelty docs carry unique text. The whole computation is
  // gram-keyed: per-doc distinct grams (one partial-aggregated
  // distinct), a gram→document-frequency aggregate, and a join BACK
  // on the gram key to count each doc's df=1 grams — no broadcast of
  // anything corpus-sized, both shuffles hash-partitioned on the gram,
  // so it scales exactly like the inverted-postings entry it reuses
  // the shape of. Distinct from td_decontaminate (cross-set overlap)
  // and ta_winnow_fingerprint (selective fingerprints): this is the
  // intra-corpus per-document uniqueness profile.
  private val ngramNovelty = Q(
    "ta_ngram_novelty",
    (s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("w"))
        .filter(size($"w") >= 5)
      val grams = toks
        .select($"doc_id",
          explode(transform(sequence(lit(1), size($"w") - 4), p =>
            md5(array_join(slice($"w", p, lit(5)), " ")))).as("g"))
        .distinct()
      val df = grams.groupBy($"g").agg(count(lit(1)).as("df"))
      grams.join(df, Seq("g"))
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_grams"),
          sum(when($"df" === 1L, 1L).otherwise(0L)).as("n_unique"))
        .select($"doc_id", $"n_grams", $"n_unique",
          floor($"n_unique" * 100 / $"n_grams").cast("long").as("novelty_pct"))
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
           |  WHERE len(string_split(text, ' ')) >= 5),
           |g AS (
           |  SELECT DISTINCT doc_id,
           |         md5(array_to_string(list_slice(w, p, p + 4), ' ')) AS g
           |  FROM toks, LATERAL unnest(range(1, len(w) - 3)) t(p)),
           |df AS (SELECT g, count(*) AS df FROM g GROUP BY 1)
           |SELECT doc_id,
           |       CAST(count(*) AS BIGINT) AS n_grams,
           |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_unique,
           |       CAST(floor(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 100
           |            / count(*)) AS BIGINT) AS novelty_pct
           |FROM g JOIN df USING (g)
           |GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin),
  )

  // C4-STYLE LINE-LEVEL CLEANING (Raffel et al. JMLR'20 §2.2): the
  // other canonical web-corpus gate next to Gopher — C4 filters at the
  // LINE granularity first (keep lines ending in terminal punctuation
  // with >= 3 words), then drops whole pages (fewer than a minimum of
  // retained lines, or containing a banned token). Adapted to this
  // whitespace corpus like the Gopher entry: a "line" is a run of 10
  // consecutive words, the terminal-punctuation surrogate is the
  // line's last word ending in 'e' or 't' (so both line rules fire
  // both ways on real rows), and the banned token is 'vector' (the
  // lorem-ipsum/javascript analogue). Everything is IN-ROW lambda
  // algebra over the split word array — line chunking, per-line
  // filters, retained-word accounting — so the whole gate is a
  // zero-shuffle map-only pass with per-rule audit columns: at 100 TB
  // it costs one narrow-projection scan, same as ta_gopher_rules.
  private val c4Rules = Q(
    "ta_c4_rules",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("w"))
        .withColumn("n_words", size($"w").cast("long"))
        .withColumn("lines",
          expr("transform(sequence(0, cast(ceil(size(w) / 10.0) as int) - 1)," +
            " i -> slice(w, i * 10 + 1, 10))"))
        .withColumn("kept",
          expr("filter(lines, l -> size(l) >= 3" +
            " AND substring(element_at(l, -1), -1, 1) IN ('e', 't'))"))
        .select(
          $"doc_id", $"n_words",
          size($"lines").cast("long").as("n_lines"),
          size($"kept").cast("long").as("n_kept"),
          expr("cast(aggregate(kept, 0, (acc, l) -> acc + size(l)) as bigint)")
            .as("kept_words"),
          when(array_contains($"w", "vector"), 1L).otherwise(0L).as("banned"))
        .withColumn("keep",
          when($"n_kept" >= 3 && $"banned" === 0, 1L).otherwise(0L))
        .orderBy($"doc_id")
    },
    Some("""WITH c AS (
           |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |l AS (
           |  SELECT doc_id,
           |         CAST(len(w) AS BIGINT) AS n_words,
           |         list_transform(range(0, CAST(ceil(len(w) / 10.0) AS INT)),
           |                        i -> w[i * 10 + 1 : i * 10 + 10]) AS lines,
           |         w
           |  FROM c),
           |k AS (
           |  SELECT doc_id, n_words,
           |         CAST(len(lines) AS BIGINT) AS n_lines,
           |         list_filter(lines, x -> len(x) >= 3
           |             AND right(x[-1], 1) IN ('e', 't')) AS kept,
           |         CASE WHEN list_contains(w, 'vector') THEN 1 ELSE 0 END
           |           AS banned
           |  FROM l)
           |SELECT doc_id, n_words, n_lines,
           |       CAST(len(kept) AS BIGINT) AS n_kept,
           |       CAST(coalesce(list_sum(list_transform(kept, x -> len(x))), 0)
           |            AS BIGINT) AS kept_words,
           |       CAST(banned AS BIGINT) AS banned,
           |       CAST(CASE WHEN len(kept) >= 3 AND banned = 0
           |            THEN 1 ELSE 0 END AS BIGINT) AS keep
           |FROM k
           |ORDER BY doc_id""".stripMargin),
  )

  // PMI-RANKED COLLOCATIONS (Church & Hanks 1990; the classic
  // "strongly-associated adjacent word pairs" NLP statistic): rank
  // adjacent bigrams by LIFT = P(x,y) / (P(x)·P(y)) — the monotone
  // log-free surrogate of pointwise mutual information, the same
  // device gr_basket_lift uses for co-purchases, here over TOKEN
  // bigrams. All integer: lift_e6 = (c_xy · N_bigrams · 1e6) DIV
  // (c_x · c_y) through DECIMAL(38,0) intermediates with integral
  // (floor-for-positive) division on BOTH engines — no float log, no
  // decimal rounding at the boundary. Min-count 5 prunes noise pairs
  // before ranking; ties total-ordered by (x, y).
  // Scale shape: bigrams emit IN-ROW (transform over the word array,
  // no self-join), the pair counts partial-aggregate on the pair key,
  // and the unigram table this corpus's closed vocabulary produces is
  // broadcast-joined; at open-vocabulary 100 TB the same plan holds
  // with the two unigram legs becoming token-keyed hash joins — the
  // only corpus-sized shuffles are the two gram-keyed aggregates.
  private val collocations = Q(
    "ta_collocations",
    (s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("w"))
        .localCheckpoint() // feeds the bigram AND unigram legs once
      val pairs = toks.filter(size($"w") >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 1)," +
            " i -> struct(element_at(w, i) AS x, element_at(w, i + 1) AS y))"))
          .as("p"))
        .groupBy($"p.x".as("x"), $"p.y".as("y"))
        .agg(count(lit(1)).as("c_xy"))
      val uni = toks.select(explode($"w").as("t"))
        .groupBy($"t").agg(count(lit(1)).as("c_t"))
      val nb = pairs.agg(sum($"c_xy").as("n_bigrams"))
      pairs
        .join(broadcast(uni.select($"t".as("x"), $"c_t".as("c_x"))), "x")
        .join(broadcast(uni.select($"t".as("y"), $"c_t".as("c_y"))), "y")
        .crossJoin(broadcast(nb))
        .filter($"c_xy" >= 5)
        .select($"x", $"y", $"c_xy", $"c_x", $"c_y",
          expr("CAST((CAST(c_xy AS DECIMAL(38,0)) * n_bigrams * 1000000)" +
            " DIV (CAST(c_x AS DECIMAL(38,0)) * c_y) AS BIGINT)").as("lift_e6"))
        .orderBy($"lift_e6".desc, $"x", $"y")
        .limit(50)
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |pairs AS (
           |  SELECT p.x AS x, p.y AS y, count(*) AS c_xy FROM (
           |    SELECT unnest(list_transform(range(1, len(w)),
           |             i -> {'x': w[i], 'y': w[i + 1]})) AS p
           |    FROM toks WHERE len(w) >= 2)
           |  GROUP BY 1, 2),
           |uni AS (
           |  SELECT t, count(*) AS c_t
           |  FROM (SELECT unnest(w) AS t FROM toks)
           |  GROUP BY t),
           |nb AS (SELECT sum(c_xy) AS n_bigrams FROM pairs)
           |SELECT p.x, p.y, p.c_xy, ux.c_t AS c_x, uy.c_t AS c_y,
           |       CAST((p.c_xy::HUGEINT * nb.n_bigrams::HUGEINT * 1000000)
           |            // (ux.c_t::HUGEINT * uy.c_t::HUGEINT) AS BIGINT)
           |         AS lift_e6
           |FROM pairs p
           |JOIN uni ux ON ux.t = p.x
           |JOIN uni uy ON uy.t = p.y
           |CROSS JOIN nb
           |WHERE p.c_xy >= 5
           |ORDER BY lift_e6 DESC, p.x, p.y
           |LIMIT 50""".stripMargin),
  )

  // TEXTRANK KEYWORD EXTRACTION (Mihalcea & Tarau EMNLP'04): PageRank
  // over the word co-occurrence graph — the classic unsupervised
  // keyword ranker. Nodes are tokens, edges are adjacent-pair
  // co-occurrences with their counts as weights (both directions
  // merged, self-pairs dropped); 3 rounds of WEIGHTED PageRank in the
  // same exact-integer device as gr_pagerank: contributions
  // pr·w DIV strength (strength = Σ incident weights), update
  // 150000 + 85·Σ DIV 100, everything ppm-scaled BIGINT with
  // truncating division on both engines. Top-20 by (score, token).
  // Scale shape: the graph tables are vocabulary-bounded (closed
  // vocab here → broadcast; open vocab → token-keyed hash joins);
  // per-round cost is one edge-keyed join + a token-keyed partial
  // agg, the corpus itself is touched once by the bigram pass.
  private val textrank = Q(
    "ta_textrank_keywords",
    (s, d) => {
      import s.implicits._
      val pairs = Tables.documents(s, d)
        .select(split($"text", " ").as("w"))
        .filter(size($"w") >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 1)," +
            " i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"))
          .as("p"))
        .filter($"p.a" =!= $"p.b")
        .groupBy(least($"p.a", $"p.b").as("u"), greatest($"p.a", $"p.b").as("v"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint() // feeds strength + 3 contribution rounds
      val sym = pairs.select($"u".as("src"), $"v".as("dst"), $"w")
        .unionByName(pairs.select($"v".as("src"), $"u".as("dst"), $"w"))
      val strength = sym.groupBy($"src").agg(sum($"w").as("st"))
      var ranks = strength.select($"src".as("node"), lit(1000000L).as("pr"))
      (1 to 3).foreach { _ =>
        val contribs = ranks.join(strength, $"node" === $"src")
          .select($"node".as("csrc"), $"pr", $"st")
        ranks = sym
          .join(contribs, $"src" === $"csrc")
          .groupBy($"dst")
          .agg(sum(expr("(pr * w) div st")).as("m"))
          .select($"dst".as("node"), expr("150000 + (85 * m) div 100").as("pr"))
      }
      ranks.select($"node".as("token"), $"pr".as("score"))
        .orderBy($"score".desc, $"token").limit(20)
    },
    Some {
      def step(prev: String, out: String) =
        s"""$out AS (
           |  SELECT s.dst AS node,
           |         150000 + (85 * CAST(sum((r.pr * s.w) // t.st) AS BIGINT))
           |           // 100 AS pr
           |  FROM tr_sym s
           |  JOIN tr_st t ON t.src = s.src
           |  JOIN $prev r ON r.node = s.src
           |  GROUP BY s.dst)""".stripMargin
      s"""WITH tr_tok AS (
         |  SELECT string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |tr_pair AS (
         |  SELECT least(p.a, p.b) AS u, greatest(p.a, p.b) AS v,
         |         CAST(count(*) AS BIGINT) AS w
         |  FROM (
         |    SELECT unnest(list_transform(range(1, len(w)),
         |             i -> {'a': w[i], 'b': w[i + 1]})) AS p
         |    FROM tr_tok) q
         |  WHERE p.a <> p.b
         |  GROUP BY 1, 2),
         |tr_sym AS (SELECT u AS src, v AS dst, w FROM tr_pair
         |           UNION ALL SELECT v, u, w FROM tr_pair),
         |tr_st AS (SELECT src, CAST(sum(w) AS BIGINT) AS st
         |          FROM tr_sym GROUP BY 1),
         |tr_r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr
         |          FROM tr_st),
         |${step("tr_r0", "tr_r1")},
         |${step("tr_r1", "tr_r2")},
         |${step("tr_r2", "tr_r3")}
         |SELECT node AS token, pr AS score FROM tr_r3
         |ORDER BY score DESC, token LIMIT 20""".stripMargin
    },
  )

  // LANGUAGE-ID CONFUSION MATRIX — the eval loop for the classifier
  // family (the documents table carries the labeled lang, so this is
  // real held-out-label evaluation, same family as sim_recall_mrr_eval
  // and td_dedup_eval): the (labeled, predicted) matrix of the gated
  // ta_language_id classifier with exact per-cell ppm shares of each
  // labeled row — recall sits on the diagonal, every off-diagonal
  // cell names a specific confusion. The matrix is ≤ |langs|²+|langs|
  // rows, so the row-total window and shares are corpus-size-free
  // after the one (labeled, predicted)-keyed partial agg.
  private val langConfusion = Q(
    "ta_lang_confusion",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      langid.fn(s, d)
        .groupBy($"labeled_lang", $"predicted_lang")
        .agg(count(lit(1)).as("n"))
        .withColumn("row_total",
          sum($"n").over(Window.partitionBy($"labeled_lang")))
        .select($"labeled_lang", $"predicted_lang", $"n", $"row_total",
          expr("(n * 1000000) div row_total").as("cell_ppm"))
        .orderBy($"labeled_lang", $"predicted_lang")
    },
    Some("""WITH lc_scores AS (
           |  SELECT doc_id, lang AS labeled_lang,
           |         len(list_filter(string_split(text, ' '),
           |             w -> w IN ('the', 'a', 'of', 'and'))) AS s_en,
           |         len(list_filter(string_split(text, ' '),
           |             w -> w IN ('el', 'la', 'de', 'y'))) AS s_es,
           |         len(list_filter(string_split(text, ' '),
           |             w -> w IN ('der', 'die', 'das', 'und'))) AS s_de,
           |         len(list_filter(string_split(text, ' '),
           |             w -> w IN ('le', 'la', 'et', 'un'))) AS s_fr,
           |         len(list_filter(string_split(text, ' '),
           |             w -> w IN ('的', '是', '在', '了'))) AS s_zh
           |  FROM documents),
           |lc_pred AS (
           |  SELECT labeled_lang,
           |         CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0
           |                THEN 'und'
           |              WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
           |              WHEN s_es >= greatest(s_de, s_fr, s_zh) THEN 'es'
           |              WHEN s_de >= greatest(s_fr, s_zh) THEN 'de'
           |              WHEN s_fr >= s_zh THEN 'fr'
           |              ELSE 'zh' END AS predicted_lang
           |  FROM lc_scores),
           |lc_m AS (
           |  SELECT labeled_lang, predicted_lang,
           |         CAST(count(*) AS BIGINT) AS n
           |  FROM lc_pred GROUP BY 1, 2)
           |SELECT labeled_lang, predicted_lang, n,
           |       CAST(sum(n) OVER (PARTITION BY labeled_lang) AS BIGINT)
           |         AS row_total,
           |       CAST((n * 1000000) // sum(n) OVER (PARTITION BY labeled_lang)
           |            AS BIGINT) AS cell_ppm
           |FROM lc_m
           |ORDER BY labeled_lang, predicted_lang""".stripMargin),
  )

  // RAKE KEYPHRASE EXTRACTION (Rose et al. 2010 — the stopword-
  // delimited complement to ta_textrank_keywords, which ranks single
  // tokens): candidate phrases are maximal stopword-free word runs
  // (capped at 4 words), each word scores degree/frequency where
  // degree sums the lengths of the phrases containing it, and a
  // phrase scores the sum of its words' scores. All integer: word
  // score in e3 units via truncating division, phrase score the e3
  // sum. Phrase segmentation is the SAME boundary-run device as
  // td_cdc_chunks (in-row lambda algebra, zero shuffle); the word
  // stats are token-keyed partial aggs joined back on the token —
  // vocabulary-bounded tables, corpus touched once. Top-15
  // total-ordered by (score, phrase).
  private val rake = Q(
    "ta_rake_keyphrases",
    (s, d) => {
      import s.implicits._
      val Stop = Seq("the", "a", "of", "and", "el", "la", "de", "y",
        "der", "die", "das", "und", "le", "et", "un")
      val stopList = Stop.map(w => s"'$w'").mkString(", ")
      val phrases = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("w"))
        .withColumn("bnds",
          expr(s"filter(sequence(1, size(w)), i -> element_at(w, i) IN ($stopList))"))
        .withColumn("starts", expr("concat(array(1), transform(bnds, b -> b + 1))"))
        .withColumn("ends", expr("concat(transform(bnds, b -> b - 1), array(size(w)))"))
        .select(explode(expr(
          "filter(zip_with(starts, ends, (st, en) -> " +
            "IF(st <= en AND en - st < 4, slice(w, st, en - st + 1), NULL))," +
            " p -> p IS NOT NULL)")).as("pw"))
        .localCheckpoint() // feeds the word stats AND the phrase scoring
      val wordStats = phrases
        .select(explode($"pw").as("word"), size($"pw").as("plen"))
        .groupBy($"word")
        .agg(count(lit(1)).as("freq"), sum($"plen").as("deg"))
        .select($"word", expr("(deg * 1000) div freq").as("wscore_e3"))
      // occurrences count once per phrase TEXT; the score is the sum
      // of the phrase's word scores (duplicate words count twice, per
      // RAKE), computed over the distinct phrase texts only
      val occCounts = phrases
        .groupBy(array_join($"pw", " ").as("phrase"))
        .agg(count(lit(1)).as("n_occ"))
      val scores = occCounts.select($"phrase")
        .select($"phrase", explode(split($"phrase", " ")).as("word"))
        .join(wordStats, "word")
        .groupBy($"phrase").agg(sum($"wscore_e3").as("score_e3"))
      occCounts.join(scores, "phrase")
        .select($"phrase", $"n_occ", $"score_e3")
        .orderBy($"score_e3".desc, $"phrase")
        .limit(15)
    },
    Some {
      val stopList = Seq("the", "a", "of", "and", "el", "la", "de", "y",
        "der", "die", "das", "und", "le", "et", "un")
        .map(w => s"'$w'").mkString(", ")
      s"""WITH rk_c AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |rk_b AS (
         |  SELECT doc_id, w,
         |         list_filter(range(1, len(w) + 1),
         |                     i -> w[i] IN ($stopList)) AS bnds
         |  FROM rk_c),
         |rk_se AS (
         |  SELECT doc_id, w,
         |         list_prepend(1, list_transform(bnds, x -> x + 1)) AS starts,
         |         list_append(list_transform(bnds, x -> x - 1), len(w)) AS ends
         |  FROM rk_b),
         |rk_p AS (
         |  SELECT unnest(list_filter(
         |           list_transform(range(1, len(starts) + 1), k ->
         |             CASE WHEN starts[k] <= ends[k]
         |                   AND ends[k] - starts[k] < 4
         |                  THEN w[starts[k] : ends[k]]
         |             END),
         |           x -> x IS NOT NULL)) AS pw
         |  FROM rk_se),
         |rk_ws AS (
         |  SELECT word, (CAST(sum(plen) AS BIGINT) * 1000)
         |           // CAST(count(*) AS BIGINT) AS wscore_e3
         |  FROM (SELECT unnest(pw) AS word, len(pw) AS plen FROM rk_p)
         |  GROUP BY word),
         |rk_occ AS (
         |  SELECT array_to_string(pw, ' ') AS phrase,
         |         CAST(count(*) AS BIGINT) AS n_occ
         |  FROM rk_p GROUP BY 1),
         |rk_sc AS (
         |  SELECT phrase, CAST(sum(s.wscore_e3) AS BIGINT) AS score_e3
         |  FROM (SELECT phrase, unnest(string_split(phrase, ' ')) AS word
         |        FROM rk_occ) p
         |  JOIN rk_ws s USING (word)
         |  GROUP BY phrase)
         |SELECT o.phrase, o.n_occ, c.score_e3
         |FROM rk_occ o JOIN rk_sc c USING (phrase)
         |ORDER BY score_e3 DESC, phrase
         |LIMIT 15""".stripMargin
    },
  )

  // EXTRACTIVE SUMMARIZATION (salience selection — the content-
  // selection stage summarization/snippet pipelines run: pick each
  // document's most informative line). Lines are the same 10-word
  // chunks as ta_c4_rules; a line's salience is the sum of its words'
  // corpus RARITY = N_docs·1e3 DIV df — the LOG-FREE idf surrogate
  // (monotone in idf, exact integer; the same division-free move as
  // the lift/PMI entries). The winner per doc is an argmax via
  // max(struct(score, -idx)) — a partial agg, never a per-doc window
  // sort; ties go to the earliest line. Scale shape: df is one
  // token-keyed partial agg; the line scoring joins the exploded
  // (doc, line, word) stream on the token key (vocab-bounded here,
  // token-hash-partitioned at open vocab); N is a 1-row broadcast.
  private val extractiveSummary = Q(
    "ta_extractive_summary",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("w"))
        .localCheckpoint() // feeds the df pass AND the line scoring
      val df = docs.select($"doc_id", explode(array_distinct($"w")).as("word"))
        .groupBy($"word").agg(count(lit(1)).as("dfreq"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val rarity = df.crossJoin(broadcast(n))
        .select($"word", expr("(n_docs * 1000) div dfreq").as("rarity_e3"))
      val lines = docs
        .select($"doc_id", posexplode(expr(
          "transform(sequence(0, cast(ceil(size(w) / 10.0) as int) - 1)," +
            " i -> slice(w, i * 10 + 1, 10))")).as(Seq("idx", "lw")))
        .select($"doc_id", $"idx", array_join($"lw", " ").as("line_txt"),
          explode($"lw").as("word"))
      lines.join(rarity, "word")
        .groupBy($"doc_id", $"idx", $"line_txt")
        .agg(sum($"rarity_e3").as("score_e3"))
        .groupBy($"doc_id")
        .agg(max(struct($"score_e3".as("sc"), (-$"idx").cast("long").as("ni"),
          $"line_txt".as("t"))).as("mx"))
        .select($"doc_id", (-$"mx.ni").as("line_idx"), $"mx.t".as("line"),
          $"mx.sc".as("score_e3"))
        .orderBy($"doc_id")
    },
    Some("""WITH es_c AS (
           |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |es_df AS (
           |  SELECT word, CAST(count(*) AS BIGINT) AS dfreq FROM (
           |    SELECT DISTINCT doc_id, unnest(w) AS word FROM es_c)
           |  GROUP BY 1),
           |es_n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM es_c),
           |es_r AS (
           |  SELECT word, (n_docs * 1000) // dfreq AS rarity_e3
           |  FROM es_df CROSS JOIN es_n),
           |es_l AS (
           |  SELECT doc_id, i AS idx,
           |         array_to_string(w[i * 10 + 1 : i * 10 + 10], ' ')
           |           AS line_txt,
           |         unnest(w[i * 10 + 1 : i * 10 + 10]) AS word
           |  FROM (SELECT doc_id, w,
           |               unnest(range(0, CAST(ceil(len(w) / 10.0) AS INT)))
           |                 AS i
           |        FROM es_c)),
           |es_s AS (
           |  SELECT doc_id, idx, line_txt,
           |         CAST(sum(r.rarity_e3) AS BIGINT) AS score_e3
           |  FROM es_l l JOIN es_r r USING (word)
           |  GROUP BY 1, 2, 3)
           |SELECT doc_id,
           |       CAST(-max({'sc': score_e3, 'ni': -idx, 't': line_txt}).ni
           |            AS BIGINT) AS line_idx,
           |       max({'sc': score_e3, 'ni': -idx, 't': line_txt}).t AS line,
           |       CAST(max({'sc': score_e3, 'ni': -idx, 't': line_txt}).sc
           |            AS BIGINT) AS score_e3
           |FROM es_s
           |GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin),
  )

  // DOC-LEVEL TERM CO-OCCURRENCE LIFT — the topic-association matrix
  // behind "related terms" panels: for the TOP-K document-frequency
  // vocabulary (K=50, the ta_source_tvd top-K discipline — the full
  // |V|² co-occurrence matrix is the textbook scale-killer), the
  // same-document pair lift n_xy·D·10⁶ div (df_x·df_y). Distinct from
  // ta_collocations, which scores ADJACENT bigrams — this is bag-of-
  // document association at any distance. Scale shape: per-doc
  // distinct terms filtered through the broadcast top-K set, pair
  // fan-out bounded by K²/2 per doc; D and the dfs are broadcast
  // one-row/K-row artifacts.
  private val CoocK = 50
  private val cooccurrenceLift = Q(
    "ta_cooccurrence_lift",
    (s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", explode(array_distinct(split($"text", " "))).as("t"))
        .localCheckpoint() // feeds df, top-K filter, and the pair legs
      val df = toks.groupBy($"t").agg(count(lit(1)).as("df"))
      val top = df.orderBy($"df".desc, $"t").limit(CoocK).localCheckpoint()
      val kept = toks.join(broadcast(top.select($"t")), Seq("t"))
        .groupBy($"doc_id").agg(sort_array(collect_set($"t")).as("w"))
      val pairs = kept
        .select(posexplode($"w").as(Seq("i", "x")), $"w")
        .select($"x", explode(expr("slice(w, i + 2, size(w))")).as("y"))
        .groupBy($"x", $"y").agg(count(lit(1)).as("n_xy"))
      val dTot = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      pairs
        .join(broadcast(top.select($"t".as("x"), $"df".as("df_x"))), Seq("x"))
        .join(broadcast(top.select($"t".as("y"), $"df".as("df_y"))), Seq("y"))
        .crossJoin(broadcast(dTot))
        .filter($"n_xy" >= 3)
        .select($"x", $"y", $"n_xy", $"df_x", $"df_y",
          expr("CAST((CAST(n_xy AS DECIMAL(38,0)) * n_docs * 1000000)" +
            " div (CAST(df_x AS DECIMAL(38,0)) * df_y) AS BIGINT)")
            .as("lift_e6"))
        .orderBy($"lift_e6".desc, $"x", $"y")
        .limit(50)
    },
    Some(s"""WITH co_t AS (
            |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
            |  FROM documents),
            |co_df AS (SELECT t, CAST(count(*) AS BIGINT) AS df
            |          FROM co_t GROUP BY 1),
            |co_top AS (SELECT t, df FROM co_df
            |           ORDER BY df DESC, t LIMIT $CoocK),
            |co_k AS (SELECT c.doc_id, c.t FROM co_t c JOIN co_top USING (t)),
            |co_p AS (
            |  SELECT a.t AS x, b.t AS y, CAST(count(*) AS BIGINT) AS n_xy
            |  FROM co_k a JOIN co_k b
            |    ON a.doc_id = b.doc_id AND a.t < b.t
            |  GROUP BY 1, 2),
            |co_d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
            |SELECT p.x, p.y, p.n_xy, dx.df AS df_x, dy.df AS df_y,
            |       CAST((p.n_xy::HUGEINT * n_docs * 1000000)
            |            // (dx.df::HUGEINT * dy.df) AS BIGINT) AS lift_e6
            |FROM co_p p
            |JOIN co_top dx ON dx.t = p.x
            |JOIN co_top dy ON dy.t = p.y
            |CROSS JOIN co_d
            |WHERE p.n_xy >= 3
            |ORDER BY lift_e6 DESC, p.x, p.y
            |LIMIT 50""".stripMargin),
  )

  // MSTTR LEXICAL DIVERSITY (mean segmental type-token ratio,
  // Johnson 1944) — the windowed diversity metric that, unlike
  // ta_vocab_richness's corpus TTR, does not collapse as documents
  // grow: split each document's whitespace tokens into consecutive
  // 50-token segments, take the distinct-type ratio of every FULL
  // segment, and average. Ratios stay integer end-to-end:
  // segment TTR in ppm is distinct·20000 (= distinct·10⁶/50 exactly)
  // and the document mean is one truncating div replayed on both
  // engines. Scale shape: one bounded explode (corpus tokens), one
  // (doc, segment) partial agg, one per-doc agg — no windows, no
  // joins; everything is keyed by doc so the whole plan is two
  // map-side-combining exchanges at any corpus size.
  private val msttr = Q(
    "ta_msttr_diversity",
    (s, d) => {
      import s.implicits._
      val segs = Tables.documents(s, d)
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("i", "tok")))
        .select($"doc_id", ($"i" / 50).cast("long").as("seg"), $"tok")
        .groupBy($"doc_id", $"seg")
        .agg(count(lit(1)).as("n_tok"),
          countDistinct($"tok").as("n_types"))
        .filter($"n_tok" === 50)
      segs.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum($"n_types" * 20000L).as("ttr_sum_ppm"))
        .select($"doc_id", $"n_segs",
          expr("ttr_sum_ppm div n_segs").as("msttr_ppm"))
        .orderBy($"doc_id")
    },
    Some("""WITH tok AS (
           |  SELECT doc_id,
           |         (unnest(generate_series(1, len(string_split(text, ' '))))
           |            - 1) // 50 AS seg,
           |         unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |seg AS (
           |  SELECT doc_id, seg,
           |         CAST(count(*) AS BIGINT) AS n_tok,
           |         CAST(count(DISTINCT tok) AS BIGINT) AS n_types
           |  FROM tok GROUP BY 1, 2
           |  HAVING count(*) = 50)
           |SELECT doc_id,
           |       CAST(count(*) AS BIGINT) AS n_segs,
           |       CAST(sum(n_types * 20000) // count(*) AS BIGINT) AS msttr_ppm
           |FROM seg GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin),
  )

  // -----------------------------------------------------------------
  // SCRIPT-BASED LANGUAGE ID (the production device the stopword/
  // hashed predictors deliberately are NOT): real unsegmented CJK
  // text has no spaces, so any space-tokenized classifier — including
  // this catalogue's lidPredict/lidHashedPredict, whose zh markers
  // can never match it — needs a script-level front end. The fixture
  // makes that text REAL: zh rows rewrite each word into two
  // md5-picked Han characters joined with NO separators (deterministic
  // on both engines via the shared literal alphabet); other langs keep
  // their Latin text. The classifier is tokenization-free: per-script
  // character counts via one strip-regexp each (codegen'd
  // regexp_replace + length; ASCII-only \x{...} range patterns parse
  // identically under Java regex and DuckDB's RE2), argmax with a
  // deterministic tie-break. The crosstab plus per-cell char sums pin
  // construction AND classification — zh must land on han with ZERO
  // latin-letter chars, every other lang on latin with zero han.
  // At 100 TB: one in-row projection, the usual small hash aggregate.
  private[operators] val HanAlphabet: Seq[String] = Seq(
    "的", "一", "是", "不", "了", "人", "我", "在", "有", "他",
    "这", "中", "大", "来", "上", "国", "个", "到", "说", "们")
  private[operators] val HanAlphabetSql = HanAlphabet.map(c => s"'$c'").mkString(",")

  // character-class strip patterns, ASCII-only escapes so the SAME
  // string is a valid Java regex and a valid RE2 (DuckDB) regex;
  // defined as plain vals so the s-interpolated oracle never
  // re-processes the backslashes (the sqlLit discipline)
  private[operators] val NotHanRe = "[^\\x{4E00}-\\x{9FFF}]"
  private[operators] val NotLatinRe = "[^A-Za-z]"
  private[operators] val NotCyrillicRe = "[^\\x{0400}-\\x{04FF}]"
  private[operators] val NotArabicRe = "[^\\x{0600}-\\x{06FF}]"

  /** The unsegmented-script corpus derivation: zh → Han (two chars
    * per source word, NO separators), everything else unchanged.
    */
  private[operators] def scriptText(text: Column, lang: Column): Column = {
    val alphabet = array(HanAlphabet.map(lit): _*)
    def pick(w: Column, at: Int): Column = element_at(alphabet,
      (conv(substring(md5(w), at, 4), 16, 10).cast("long") % 20 + 1)
        .cast("int"))
    when(lang === "zh",
      array_join(transform(split(text, " "),
        w => concat(pick(w, 1), pick(w, 5))), ""))
      .otherwise(text)
  }

  /** Chars of `t` belonging to the class that `notRe` strips the
    * complement of — length(regexp_replace(t, notRe, '')).
    */
  private[operators] def scriptCount(t: Column, notRe: String): Column =
    length(regexp_replace(t, notRe, ""))

  /** The four per-script char counts of `t` as named columns — ONE
    * definition for every script-LID consumer (ta_script_lid and the
    * archive twin pipe_warc_lid_script).
    */
  private[operators] def scriptCounts(t: Column): Seq[Column] = Seq(
    scriptCount(t, NotHanRe).as("han"),
    scriptCount(t, NotLatinRe).as("latin"),
    scriptCount(t, NotCyrillicRe).as("cyr"),
    scriptCount(t, NotArabicRe).as("ar"))

  /** Deterministic argmax over the four count columns (ties resolved
    * latin → han → cyrillic → arabic; all-zero → other) — the Spark
    * side of the shared classifier.
    */
  private[operators] def scriptArgmax(
      han: Column, latin: Column, cyr: Column, ar: Column): Column =
    when(greatest(han, latin, cyr, ar) === 0, "other")
      .when(latin >= greatest(han, cyr, ar), "latin")
      .when(han >= greatest(cyr, ar), "han")
      .when(cyr >= ar, "cyrillic")
      .otherwise("arabic")

  /** SQL mirrors of the shared classifier, over a text column `t` /
    * count columns named han/latin/cyr/ar.
    */
  private[operators] def scriptCountsSql(t: String): String =
    s"""length(regexp_replace($t, '$NotHanRe', '', 'g')) AS han,
       |         length(regexp_replace($t, '$NotLatinRe', '', 'g')) AS latin,
       |         length(regexp_replace($t, '$NotCyrillicRe', '', 'g')) AS cyr,
       |         length(regexp_replace($t, '$NotArabicRe', '', 'g')) AS ar""".stripMargin
  private[operators] val ScriptArgmaxSql: String =
    """CASE WHEN greatest(han, latin, cyr, ar) = 0 THEN 'other'
      |              WHEN latin >= greatest(han, cyr, ar) THEN 'latin'
      |              WHEN han >= greatest(cyr, ar) THEN 'han'
      |              WHEN cyr >= ar THEN 'cyrillic'
      |              ELSE 'arabic' END""".stripMargin

  /** The unsegmented-Han corpus derivation as a DuckDB fragment over
    * `text`/`lang` columns — the oracle mirror of [[scriptText]].
    */
  private[operators] def scriptTextSql: String =
    s"""CASE WHEN lang = 'zh' THEN
       |           array_to_string(list_transform(string_split(text, ' '),
       |             w -> ([$HanAlphabetSql])[
       |                    CAST(CAST('0x' || substr(md5(w), 1, 4) AS BIGINT)
       |                         % 20 AS INT) + 1] ||
       |                  ([$HanAlphabetSql])[
       |                    CAST(CAST('0x' || substr(md5(w), 5, 4) AS BIGINT)
       |                         % 20 AS INT) + 1]), '')
       |         ELSE text END""".stripMargin

  private val scriptLid = Q(
    "ta_script_lid",
    (s, d) => {
      import s.implicits._
      val st = scriptText($"text", $"lang")
      Tables.documents(s, d)
        .select($"doc_id", $"lang", st.as("st"))
        .select($"lang" +: scriptCounts($"st"): _*)
        .withColumn("script",
          scriptArgmax($"han", $"latin", $"cyr", $"ar"))
        .groupBy($"lang", $"script")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"han").as("han_chars"),
          sum($"latin").as("latin_chars"))
        .orderBy($"lang", $"script")
    },
    Some(s"""WITH st AS (
            |  SELECT lang, $scriptTextSql AS t
            |  FROM documents),
            |counts AS (
            |  SELECT lang,
            |         ${scriptCountsSql("t")}
            |  FROM st),
            |cls AS (
            |  SELECT lang, han, latin,
            |         $ScriptArgmaxSql AS script
            |  FROM counts)
            |SELECT lang, script,
            |       count(*) AS n_docs,
            |       CAST(sum(han) AS BIGINT) AS han_chars,
            |       CAST(sum(latin) AS BIGINT) AS latin_chars
            |FROM cls
            |GROUP BY lang, script
            |ORDER BY lang, script""".stripMargin),
  )

  def all: Seq[Q] =
    Seq(tokens, quality, langid, fingerprint, stableSample, stratifiedSample,
      split3, bigramsUdtf, piiScrub, repetition, weightedMix, temperatureMix,
      tokenBudgetAlloc, oovRate, bpeMerges, bpeEncode, trendingTerms, sourceTvd,
      invertedPostings, bm25, winnow, tfidfCosine, winnowNearDup,
      boilerplateStrip, dsirImportance, ccnetBucket, trigramLm,
      hashedClassifier, gopherRules, ngramNovelty, c4Rules, collocations,
      textrank, langConfusion, rake, extractiveSummary, tokenizerFertility,
      neymanAlloc, heapsCurve, zipfOctaves, burstiness, readabilityFk,
      burrowsDelta, vocabRichness, postingsVarint, uncertaintySample,
      cooccurrenceLift, msttr, scriptLid, sqlSurfaceText)

  // SQL-TEXT SURFACE for the text-kernel family — the third member of
  // the sql_surface_{spatial,similarity} series: the same registered
  // codegen'd kernels (rolling_hash, winnow_fingerprints) called from
  // `spark.sql` text the way a SQL-only user would, per document:
  // the Karp–Rabin fingerprint plus the winnow-set size and minimum.
  // Gated by the same recursive-CTE / list-comprehension oracle
  // machinery as the DataFrame twins (ta_fingerprint,
  // ta_winnow_fingerprint), so the two surfaces cannot drift. Scale
  // shape: two per-row kernels + one doc-keyed partial agg + one
  // equi join — linear, no windows.
  private val sqlSurfaceText = Q(
    "sql_surface_text",
    (s, d) => {
      graft.functions.exprs.register(s)
      Tables.documents(s, d).createOrReplaceTempView("graft_documents")
      s.sql(
        """WITH fp AS (
          |  SELECT doc_id,
          |         explode(winnow_fingerprints(text, 3, 4)) AS f
          |  FROM graft_documents),
          |agg AS (
          |  SELECT doc_id, count(*) AS n_fps, min(f) AS min_fp
          |  FROM fp GROUP BY doc_id)
          |SELECT d.doc_id,
          |       rolling_hash(d.text) AS rh,
          |       coalesce(a.n_fps, 0L) AS n_fps,
          |       a.min_fp
          |FROM graft_documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
          |ORDER BY d.doc_id""".stripMargin)
    },
    Some("""WITH RECURSIVE roll AS (
           |  SELECT doc_id, text, length(text) AS n, 0 AS i, 0::BIGINT AS h
           |  FROM documents
           |  UNION ALL
           |  SELECT doc_id, text, n, i + 1,
           |         (h * 31 + ord(substr(text, i + 1, 1))) % 2147483647
           |  FROM roll WHERE i < n),
           |rh AS (SELECT doc_id, h FROM roll WHERE i = n),
           |g AS (
           |  SELECT doc_id, string_split(text, ' ') AS words,
           |         len(string_split(text, ' ')) AS n
           |  FROM documents
           |  WHERE len(string_split(text, ' ')) >= 6),
           |wh AS (
           |  SELECT doc_id,
           |         list_transform(range(1, n - 1), i ->
           |           CAST('0x' || substr(md5(array_to_string(words[i:i+2], ' ')), 1, 8) AS BIGINT)) AS grams
           |  FROM g),
           |wm AS (
           |  SELECT doc_id,
           |         list_distinct(list_transform(range(1, len(grams) - 2), j ->
           |           list_min(grams[j:j+3]))) AS fps
           |  FROM wh)
           |SELECT r.doc_id, r.h AS rh,
           |       CAST(coalesce(len(m.fps), 0) AS BIGINT) AS n_fps,
           |       CAST(list_min(m.fps) AS BIGINT) AS min_fp
           |FROM rh r LEFT JOIN wm m ON r.doc_id = m.doc_id
           |ORDER BY r.doc_id""".stripMargin),
  )
}
