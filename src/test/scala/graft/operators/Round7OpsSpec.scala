package graft.operators

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 additions: each checked against an
  * independently-computed naive baseline (plain in-memory Scala over
  * the same raw rows), so an algorithmic bug fails here with a value
  * diff, not as an opaque oracle hash mismatch.
  */
class Round7OpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  // ---- winnow_fingerprints SQL builder validation (ADVICE r6) ----
  // k and w shape the generated kernel, so the builder demands
  // constant integer literals and fails at ANALYSIS with the usage
  // string — not a runtime ClassCastException/NPE.

  test("winnow_fingerprints rejects wrong arity at analysis time") {
    val e = intercept[AnalysisException] {
      spark.sql("SELECT winnow_fingerprints('a b c')").collect()
    }
    assert(e.getMessage.contains("takes 3 arguments"))
  }

  test("winnow_fingerprints rejects a non-constant k at analysis time") {
    val e = intercept[AnalysisException] {
      spark.range(1)
        .selectExpr("winnow_fingerprints('a b c d', cast(id as int), 4)")
        .collect()
    }
    assert(e.getMessage.contains("constant integer literal"))
  }

  test("winnow_fingerprints accepts BIGINT literals (widened, not crashed)") {
    // A bare `4` in SQL is INT, but an expression like 2+2 may fold to
    // other integral types; the builder widens exact-valued longs.
    val rows = spark.sql(
      "SELECT size(winnow_fingerprints('one two three four five six', 3, 4)) AS n"
    ).collect()
    assert(rows.head.getInt(0) > 0)
  }

  // ---- td_winnow_neardup (round-7 #2): composed MOSS near-dup ----

  /** Distinct winnow fingerprints of a word list, straight from the
    * SIGMOD'03 definition (k=3, w=4): md5-prefix hash of every word
    * 3-gram, minimum of each sliding 4-window.
    */
  private def winnowRef(words: Seq[String]): Set[Long] = {
    if (words.length < 6) return Set.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val grams = words.sliding(3).map { g =>
      val hex = md.digest(g.mkString(" ").getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16)
    }.toVector
    grams.sliding(4).map(_.min).toSet
  }

  test("winnow guarantee: any shared >= 6-word run yields a common fingerprint") {
    // k+w-1 = 6: a 6-word run contains 4 consecutive 3-grams — one full
    // window — whose minimum both documents select, wherever the run
    // sits and whatever surrounds it.
    val run = "alpha bravo charlie delta echo foxtrot".split(" ").toSeq
    val pads = Seq(
      Seq.empty[String],
      "one two".split(" ").toSeq,
      "x y z w v u t s r q p o n m".split(" ").toSeq)
    for (pre1 <- pads; post1 <- pads; pre2 <- pads; post2 <- pads) {
      val d1 = pre1 ++ run ++ post1
      val d2 = pre2 ++ run ++ post2
      assert(winnowRef(d1).intersect(winnowRef(d2)).nonEmpty,
        s"no shared fingerprint for padding (${pre1.length},${post1.length}) vs (${pre2.length},${post2.length})")
    }
  }

  test("td_winnow_neardup matches an in-memory all-pairs re-derivation") {
    import spark.implicits._
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val fps = docs.map { case (id, t) =>
      id -> winnowRef(t.split(" ").toSeq)
    }.filter(_._2.nonEmpty)
    val expected = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      ns = fa.intersect(fb).size if ns >= 2
      jac = ns.toLong * 100 / (fa.size + fb.size - ns) if jac >= 50
    } yield (a, b, ns.toLong, jac)).sortBy(t => (t._1, t._2)).toSeq
    val got = q("td_winnow_neardup").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected, s"got ${got.take(5)}... expected ${expected.take(5)}...")
    assert(got.nonEmpty, "fixture produced no near-dup pairs — threshold too strict")
  }

  // ---- gr_label_propagation robust loop (round-7 #5) ----

  test("LPA robust path (checkpoint + early-exit) is row-identical to the single-plan path") {
    def labels(robust: Boolean) = GraphQueries.lpaLabels(spark, sf, Some(robust))
      .orderBy("node").collect().map(_.toString)
    val fast = labels(robust = false)
    val robust = labels(robust = true)
    assert(fast.nonEmpty && robust.sameElements(fast))
  }

  test("td_winnow_neardup posting cap keeps the fixture result (boilerplate-free)") {
    // The scale default (maxdf=128 above 100k docs) must not change
    // corpora whose fingerprints are rarer than the cap — pin that on
    // the fixture by forcing the cap on.
    import spark.implicits._
    val base = q("td_winnow_neardup").fn(spark, sf).collect().map(_.toString)
    val capped = try {
      sys.props("graft.winnow.maxdf") = "128"
      q("td_winnow_neardup").fn(spark, sf).collect().map(_.toString)
    } finally sys.props.remove("graft.winnow.maxdf")
    assert(capped.sameElements(base))
  }

  // ---- round-7 session-2 additions: packing, span/boilerplate
  //      coverage, count-min sketch ----

  private def docTokens(): Seq[(Long, Array[String])] = {
    import spark.implicits._
    graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .map { case (id, t) => (id, t.split(" ")) }
  }

  test("td_sequence_pack matches an in-memory greedy fold per shard") {
    import spark.implicits._
    val expected = docTokens()
      .map { case (id, w) => (id, w.length.toLong, id / 100) }
      .groupBy(_._3).toSeq.flatMap { case (rng, ds) =>
        var bin = -1L; var used = 0L
        ds.sortBy(_._1).map { case (id, n, _) =>
          if (bin < 0 || used + n > 256) { bin += 1; used = n }
          else used += n
          (id, n, rng, bin)
        }
      }.sortBy(_._1)
    val got = q("td_sequence_pack").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected, "greedy packing mismatch")
    // every bin respects capacity (no doc here exceeds it alone)
    val fill = got.groupBy(g => (g._3, g._4)).values.map(_.map(_._2).sum)
    assert(fill.forall(_ <= 256), "bin over capacity")
  }

  /** Union coverage of length-L intervals starting at `starts`. */
  private def coverage(starts: Seq[Long], L: Int): Long = {
    var covered = 0L; var end = 0L // last covered position (1-based)
    starts.sorted.foreach { p =>
      val a = math.max(p, end + 1); val b = p + L - 1
      if (b >= a) covered += b - a + 1
      end = math.max(end, b)
    }
    covered
  }

  test("td_span_dedup matches naive cross-doc L-gram coverage") {
    import spark.implicits._
    val L = 8
    val docs = docTokens()
    val grams = docs.flatMap { case (id, w) =>
      (0 to w.length - L).map(i => (id, i + 1L, w.slice(i, i + L).mkString(" ")))
    }
    val dup = grams.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val flagged = grams.filter(g => dup.contains(g._3))
    val byDoc = flagged.groupBy(_._1)
    val expected = docs.map { case (id, w) =>
      val starts = byDoc.getOrElse(id, Seq.empty).map(_._2)
      (id, w.length.toLong, starts.size.toLong, coverage(starts, L))
    }.sortBy(_._1)
    val got = q("td_span_dedup").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected, "span coverage mismatch")
    assert(expected.exists(_._4 > 0), "fixture has no duplicated spans — gate is vacuous")
  }

  test("ta_boilerplate_strip matches naive per-source bigram-df coverage") {
    import spark.implicits._
    val bySource = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"text").as[(Long, String, String)]
      .collect().toSeq.map { case (id, src, t) => (id, src, t.split(" ")) }
      .groupBy(_._2)
    val expected = bySource.toSeq.flatMap { case (_, docs) =>
      val nd = docs.size
      val grams = docs.flatMap { case (id, _, w) =>
        (0 until w.length - 1).map(i => (id, i + 1L, w.slice(i, i + 2).mkString(" ")))
      }
      val boiler = grams.groupBy(_._3)
        .filter(_._2.map(_._1).distinct.size * 5 >= nd).keySet
      val byDoc = grams.filter(g => boiler.contains(g._3)).groupBy(_._1)
      docs.map { case (id, _, w) =>
        val starts = byDoc.getOrElse(id, Seq.empty).map(_._2)
        (id, w.length.toLong, starts.size.toLong, coverage(starts, 2))
      }
    }.sortBy(_._1)
    val got = q("ta_boilerplate_strip").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected, "boilerplate coverage mismatch")
    assert(expected.exists(_._3 > 0), "fixture has no boilerplate — gate is vacuous")
  }

  test("td_chunk_overlap matches naive sliding windows and covers every token") {
    import spark.implicits._
    val Size = 64; val Stride = 48
    val expected = docTokens().flatMap { case (id, w) =>
      val n = w.length
      val extra = math.max(n - (Size - Stride + 1), 0) / Stride
      (0 to extra).map { i =>
        val start = i * Stride + 1
        val end = math.min(i * Stride + Size, n)
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(w.slice(start - 1, end).mkString(" ").getBytes("UTF-8"))
        (id, i, start, end, end - start + 1, md.map("%02x".format(_)).mkString)
      }
    }.sortBy(c => (c._1, c._2))
    val got = q("td_chunk_overlap").fn(spark, sf)
      .as[(Long, Int, Int, Int, Int, String)].collect().toSeq
    assert(got == expected, "chunking mismatch")
    // coverage: chunks tile the doc — first starts at 1, each next
    // chunk starts inside or adjacent to the previous one's span,
    // the last ends at n
    docTokens().foreach { case (id, w) =>
      val chunks = got.filter(_._1 == id)
      assert(chunks.head._3 == 1 && chunks.last._4 == w.length)
      chunks.sliding(2).foreach {
        case Seq(a, b) => assert(b._3 <= a._4 + 1, s"gap in doc $id")
        case _ =>
      }
    }
  }

  test("sim_hard_negatives: negatives are cross-label and match exact re-ranking") {
    import spark.implicits._
    val emb = graft.model.Tables.embeddings(spark, sf)
      .select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Array[Float])].collect().toSeq
    def cosE9(a: Array[Float], b: Array[Float]): Long = {
      def s(f: Int => Double): Double =
        (0 until 64).map(i => BigDecimal(f(i))).sum.toDouble
      val dot = s(i => a(i).toDouble * b(i).toDouble)
      val na = s(i => a(i).toDouble * a(i).toDouble)
      val nb = s(i => b(i).toDouble * b(i).toDouble)
      math.round(dot / math.sqrt(na * nb) * 1e9)
    }
    val expected = emb.filter(_._1 < 5).sortBy(_._1).flatMap { case (qid, ql, qe) =>
      emb.filter(e => e._2 != ql && e._1 != qid)
        .map(e => (e._1, e._2, cosE9(e._3, qe)))
        .sortBy(e => (-e._3, e._1)).take(3).zipWithIndex
        .map { case ((vid, l, c), r) => (qid, r + 1, vid, l, c) }
    }
    val got = q("sim_hard_negatives").fn(spark, sf)
      .as[(Long, Int, Long, Int, Long)].collect().toSeq
    assert(got == expected, s"hard-negative mismatch:\n$got\nvs\n$expected")
    val labels = emb.filter(_._1 < 5).map(e => e._1 -> e._2).toMap
    assert(got.forall { case (qid, _, _, nl, _) => nl != labels(qid) })
  }

  test("td_sequence_pack randomized fixture: capacity and eagerness invariants") {
    import spark.implicits._
    // seeded random corpus hitting the edges the real corpus can't:
    // docs LARGER than the bin capacity, shard-boundary straddles,
    // token counts from 1 to 400 (capacity is 256)
    val rng = new scala.util.Random(42)
    val docs = (0L until 350L).map { id =>
      val n = 1 + rng.nextInt(400)
      (id, Array.fill(n)("w").mkString(" "), "en", s"src${id % 3}", n.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("packrand").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = q("td_sequence_pack").fn(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.size == 350)
    got.groupBy(g => (g._3, g._4)).foreach { case ((rng_, bin), members) =>
      val fill = members.map(_._2).sum
      // a bin only exceeds capacity when a single oversized doc owns it
      assert(fill <= 256 || members.size == 1,
        s"shard $rng_ bin $bin over capacity with ${members.size} docs")
    }
    // eagerness: within a shard, a doc opens a new bin ONLY when it
    // would not fit in the current one
    got.groupBy(_._3).values.foreach { shard =>
      var used = -1L; var bin = -1L
      shard.sortBy(_._1).foreach { case (id, n, _, b) =>
        if (b == bin) { used += n; assert(used <= 256, s"doc $id overfilled") }
        else {
          assert(b == bin + 1, s"doc $id skipped a bin")
          if (bin >= 0) assert(used + n > 256, s"doc $id opened a bin it did not need")
          bin = b; used = n
        }
      }
    }
  }

  test("qa_mad_outliers matches an in-memory median/MAD re-derivation") {
    import spark.implicits._
    val rows = graft.model.Tables.events(spark, sf)
      .select($"event_type", $"event_id", $"value")
      .as[(String, Long, Double)].collect().toSeq
    def orderStat(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
    val expected = rows.groupBy(_._1).toSeq.map { case (t, es) =>
      val cents = es.map(e => (e._2, math.round(e._3 * 100)))
      val med = orderStat(cents.map(_._2))
      val ads = cents.map { case (_, v) => math.abs(v - med) }
      val mad = orderStat(ads)
      (t, es.size.toLong, med, mad, ads.count(_ > mad * 3).toLong)
    }.sortBy(_._1)
    val got = q("qa_mad_outliers").fn(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected, s"median/MAD mismatch:\n$got\nvs\n$expected")
    assert(expected.exists(_._5 > 0), "fixture has no outliers — gate is vacuous")
  }

  test("mm_audio_energy matches byte-level re-derivation; silence mix non-trivial") {
    import spark.implicits._
    val expected = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .flatMap { case (id, t) =>
        val b = t.getBytes("UTF-8")
        b.grouped(100).zipWithIndex.map { case (fr, i) =>
          val e = fr.map(x => math.abs((x & 0xff) - 100).toLong).sum
          (id, i, fr.length, e, if (e < fr.length * 15L) 1 else 0)
        }
      }.sortBy(x => (x._1, x._2))
    val got = q("mm_audio_energy").fn(spark, sf)
      .as[(Long, Int, Int, Long, Int)].collect().toSeq
    assert(got == expected, "audio frame energy mismatch")
    val flags = got.map(_._5).toSet
    assert(flags == Set(0, 1), s"silence flag is constant ($flags) — gate is vacuous")
  }

  // ---- round-7 session-3 additions: DSIR importance, soft dedup ----

  test("td_dsir_importance matches an in-memory hashed-bigram re-derivation") {
    import spark.implicits._
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"text").as[(Long, String, String)]
      .collect().toSeq
    def md5int6(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.substring(0, 6), 16)
    }
    val target = Set("src1", "src3", "src5")
    val grams = docs.flatMap { case (id, src, t) =>
      val w = t.split(" ")
      (0 until w.length - 1)
        .map(i => (id, src, md5int6("dsir:" + w(i) + " " + w(i + 1)) % 256))
    }
    val cR = grams.groupBy(_._3).map { case (b, g) => b -> g.size.toLong }
    val cT = grams.filter(g => target(g._2)).groupBy(_._3)
      .map { case (b, g) => b -> g.size.toLong }
    val ratio = cR.map { case (b, cr) =>
      b -> (cT.getOrElse(b, 0L) + 1) * 1000000L / (cr + 1)
    }
    val expected = grams.groupBy(g => (g._1, g._2)).toSeq.map { case ((id, src), gs) =>
      val n = gs.size.toLong
      (id, src, n, gs.map(g => ratio(g._3)).sum / n)
    }.sortBy(x => (-x._4, x._1)).take(100)
    val got = q("td_dsir_importance").fn(spark, sf)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == expected, s"DSIR mismatch:\n${got.take(5)}\nvs\n${expected.take(5)}")
    // target ⊆ raw ⇒ every per-bucket ratio ≤ 1e6, so mean scores too
    assert(got.forall(x => x._4 > 0 && x._4 <= 1000000L))
    // self-bias: target-domain docs contribute their own grams to c_t,
    // so the target sources must rank at least proportionally high
    val targetShareTop = got.take(25).count(x => target(x._2))
    val targetShareAll = docs.count(x => target(x._2)) * 25 / docs.size
    assert(targetShareTop >= targetShareAll,
      s"importance ranking inverted: $targetShareTop target docs in top-25, corpus-proportional is $targetShareAll")
  }

  test("ta_ccnet_bucket matches an in-memory model/score/tercile re-derivation") {
    import spark.implicits._
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"source", $"text")
      .as[(Long, String, String, String)].collect().toSeq
    def md5int6(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.substring(0, 6), 16)
    }
    val target = Set("src1", "src3", "src5")
    val words = docs.flatMap { case (id, lang, src, t) =>
      t.split(" ").map(w => (id, lang, src, md5int6("ccnet:" + w) % 256))
    }
    val tgtW = words.filter(w => target(w._3))
    val nT = tgtW.size.toLong
    val cT = tgtW.groupBy(_._4).map { case (b, g) => b -> g.size.toLong }
    def freq(b: Long): Long = (cT.getOrElse(b, 0L) + 1) * 1000000L / (nT + 256)
    val scored = words.groupBy(w => (w._1, w._2)).toSeq.map { case ((id, lang), ws) =>
      val n = ws.size.toLong
      (id, lang, n, ws.map(w => freq(w._4)).sum / n)
    }
    val cutpoints = scored.groupBy(_._2).map { case (lang, ds) =>
      val n = ds.size.toLong
      val desc = ds.map(_._4).sorted.reverse
      // c1/c2 = score of the ceil(n/3)-th / ceil(2n/3)-th doc in
      // descending score order (exact discrete order statistics)
      lang -> (desc(((n + 2) / 3 - 1).toInt), desc(((2 * n + 2) / 3 - 1).toInt))
    }
    val expected = scored.map { case (id, lang, n, sc) =>
      val (c1, c2) = cutpoints(lang)
      (id, lang, n, sc,
        if (sc >= c1) "head" else if (sc >= c2) "middle" else "tail")
    }.sortBy(_._1)
    val got = q("ta_ccnet_bucket").fn(spark, sf)
      .as[(Long, String, Long, Long, String)].collect().toSeq
    assert(got == expected,
      s"ccnet bucket mismatch:\n${got.take(5)}\nvs\n${expected.take(5)}")
    // every language has all three buckets (n >= 3 per lang in the
    // fixture) and head scores dominate tail scores within a lang
    got.groupBy(_._2).foreach { case (lang, ds) =>
      val byBucket = ds.groupBy(_._5)
      assert(byBucket.keySet == Set("head", "middle", "tail"),
        s"$lang missing a bucket: ${byBucket.keySet}")
      assert(byBucket("head").map(_._4).min >= byBucket("tail").map(_._4).max,
        s"$lang head/tail score inversion")
    }
  }

  test("td_softdedup_weights matches a roll-up over the cluster assignment") {
    import spark.implicits._
    val clusters = q("td_dedup_clusters").fn(spark, sf)
      .as[(Long, Long)].collect().toSeq
    val mSize = clusters.groupBy(_._2).map { case (rep, ms) => rep -> ms.size.toLong }
    val w = clusters.map { case (id, rep) => id -> 1000000L / mSize(rep) }.toMap
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"n_chars").as[(Long, String, Long)]
      .collect().toSeq
    val expected = docs.groupBy(_._2).toSeq.map { case (src, ds) =>
      val ws = ds.map(x => w.getOrElse(x._1, 1000000L))
      (src, ds.size.toLong, ds.map(_._3).sum, ws.sum,
        ds.zip(ws).map { case ((_, _, nc), wi) => nc * wi }.sum)
    }.sortBy(_._1)
    val got = q("td_softdedup_weights").fn(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected, s"soft-dedup roll-up mismatch:\n$got\nvs\n$expected")
    // non-vacuous: the fixture must actually discount something
    assert(expected.exists(e => e._4 < e._2 * 1000000L),
      "no duplicate clusters in fixture — gate is vacuous")
  }

  test("phash geometry scale-default: knob wins, fixtures keep 4x16, width grows with n") {
    import graft.operators.Multimodal
    // every oracle fixture is <= 100k docs: layout must stay 4x16
    assert(Multimodal.phashGeometry(500L) == ((4, 16)))
    assert(Multimodal.phashGeometry(100000L) == ((4, 16)))
    // above the threshold the width follows ceil(log2(n/2)) rounded
    // to even: candidates stay ∝ n instead of n²/2^bits
    assert(Multimodal.phashGeometry(500000L) == ((4, 18)))
    assert(Multimodal.phashGeometry(100000000L) == ((4, 26)))
    // the md5/dHashN source caps the width at 32
    assert(Multimodal.phashGeometry(1000000000000L) == ((4, 32)))
    // an explicit knob always wins, at any corpus size
    try {
      sys.props("graft.phash.bits") = "16"
      assert(Multimodal.phashGeometry(500000L) == ((4, 16)))
    } finally sys.props.remove("graft.phash.bits")
    // derived geometries keep the byte-alignment/width invariants the
    // no-arg validator enforces
    for (n <- Seq(200000L, 3000000L, 50000000L, 900000000L)) {
      val (bands, bits) = Multimodal.phashGeometry(n)
      assert(bands == 4 && bits >= 16 && bits <= 32 && (bands * bits) % 8 == 0,
        s"n=$n derived invalid geometry ${bands}x$bits")
    }
  }

  test("qa_ks_drift matches an in-memory two-sample KS re-derivation") {
    import spark.implicits._
    val rows = graft.model.Tables.events(spark, sf)
      .select($"event_type", $"event_id", $"ts", $"value")
      .as[(String, Long, Long, Double)].collect().toSeq
    def orderStat(xs: Seq[(Long, Long)]): Long = // (sortKey1, sortKey2) pairs
      xs.sortBy(identity).apply((xs.size + 1) / 2 - 1)._1
    val expected = rows.groupBy(_._1).toSeq.map { case (t, es) =>
      val medTs = orderStat(es.map(e => (e._3, e._2)))
      val cents = es.map(e => (math.round(e._4 * 100), e._3 <= medTs))
      val (a, b) = cents.partition(_._2)
      val na = a.size.toLong; val nb = b.size.toLong
      val values = cents.map(_._1).distinct.sorted
      var cumA = 0L; var cumB = 0L; var dScaled = 0L
      values.foreach { v =>
        cumA += a.count(_._1 == v); cumB += b.count(_._1 == v)
        dScaled = math.max(dScaled, math.abs(cumA * nb - cumB * na))
      }
      (t, na, nb, dScaled, dScaled * 1000000L / (na * nb))
    }.sortBy(_._1)
    val got = q("qa_ks_drift").fn(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected, s"KS drift mismatch:\n$got\nvs\n$expected")
    // non-vacuous: finite samples always differ somewhere
    assert(expected.forall(_._4 > 0), "zero D on every type — gate is vacuous")
    // the median split must be balanced to within the tie run at the
    // median (otherwise the order statistic is wrong)
    expected.foreach { case (t, na, nb, _, _) =>
      assert(na >= nb && na <= nb + 1 + rows.count(r => r._1 == t) / 2,
        s"$t split degenerate: na=$na nb=$nb")
    }
  }

  test("pipe_data_selection composes its three gated stages exactly") {
    import spark.implicits._
    // each stage is independently oracle/spec-gated; re-derive the
    // COMPOSITION from the engine's own stage outputs so a mismatch
    // isolates to the glue (joins, tail filter, combined product)
    val ccnet = q("ta_ccnet_bucket").fn(spark, sf)
      .as[(Long, String, Long, Long, String)].collect().toSeq
      .map(r => r._1 -> (r._2, r._5)).toMap
    val clusters = q("td_dedup_clusters").fn(spark, sf)
      .as[(Long, Long)].collect().toSeq
    val mSize = clusters.groupBy(_._2).map { case (rep, ms) => rep -> ms.size.toLong }
    val w = clusters.map { case (id, rep) => id -> 1000000L / mSize(rep) }.toMap
    // full (untruncated) DSIR scores via the in-memory model
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"text").as[(Long, String, String)]
      .collect().toSeq
    def md5int6b(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.substring(0, 6), 16)
    }
    val target = Set("src1", "src3", "src5")
    val grams = docs.flatMap { case (id, src, t) =>
      val ws = t.split(" ")
      (0 until ws.length - 1)
        .map(i => (id, src, md5int6b("dsir:" + ws(i) + " " + ws(i + 1)) % 256))
    }
    val cR = grams.groupBy(_._3).map { case (b, g) => b -> g.size.toLong }
    val cT = grams.filter(g => target(g._2)).groupBy(_._3)
      .map { case (b, g) => b -> g.size.toLong }
    val ratio = cR.map { case (b, cr) =>
      b -> (cT.getOrElse(b, 0L) + 1) * 1000000L / (cr + 1)
    }
    val dsir = grams.groupBy(g => (g._1, g._2)).map { case ((id, src), gs) =>
      id -> (src, gs.map(g => ratio(g._3)).sum / gs.size)
    }
    val expected = dsir.toSeq.flatMap { case (id, (src, ds)) =>
      val (lang, bucket) = ccnet(id)
      if (bucket == "tail") None
      else {
        val wm = w.getOrElse(id, 1000000L)
        Some((id, src, lang, bucket, wm, ds, ds * wm / 1000000L))
      }
    }.sortBy(x => (-x._7, x._1)).take(200)
    val got = q("pipe_data_selection").fn(spark, sf)
      .as[(Long, String, String, String, Long, Long, Long)].collect().toSeq
    assert(got == expected,
      s"composition mismatch:\n${got.take(5)}\nvs\n${expected.take(5)}")
    assert(got.nonEmpty && got.forall(_._4 != "tail"))
  }

  test("qa_cms_heavy_hitters: estimates dominate truth and match a naive sketch") {
    import spark.implicits._
    val got = q("qa_cms_heavy_hitters").fn(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.size == 30)
    assert(got.forall { case (_, cms, exact) => cms >= exact },
      "CMS estimate below truth — sketch broken")
    // naive re-derivation: same md5 hash family, full matrix in memory
    val keys = graft.model.Tables.lineitem(spark, sf)
      .select($"l_partkey").as[Long].collect().toSeq
    val P = 281474976710597L
    def bucket(i: Long, k: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 12)
      val h = java.lang.Long.parseLong(hex, 16)
      ((((2 * i + 3) * (h % P) + (5 * i + 7)) % P) % 256).toInt
    }
    val sketch = Array.ofDim[Long](4, 256)
    keys.foreach(k => (0 until 4).foreach(i => sketch(i)(bucket(i.toLong, k)) += 1))
    got.foreach { case (k, cms, _) =>
      val naive = (0 until 4).map(i => sketch(i)(bucket(i.toLong, k))).min
      assert(cms == naive, s"key $k: engine cms=$cms naive=$naive")
    }
  }
}
