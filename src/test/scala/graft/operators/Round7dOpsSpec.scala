package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-4 additions, each checked against an
  * independently-computed naive baseline over the same raw rows (the
  * oracle gate hashes values; these fail with a value diff instead).
  */
class Round7dOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  // ---- gr_bfs_hops: frontier BFS vs naive queue BFS ----

  test("gr_bfs_hops matches a naive in-memory BFS, including early exit") {
    import spark.implicits._
    val got = q("gr_bfs_hops").fn(spark, sf)
      .as[(Long, Int)].collect().toMap

    val edges = graft.model.Tables.lineitem(spark, sf)
      .select($"l_partkey", $"l_suppkey").as[(Long, Long)].collect()
      .flatMap { case (p, sup) =>
        val (a, b) = (p * 2, sup * 2 + 1)
        Seq(a -> b, b -> a)
      }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val seeds = graft.model.Tables.supplier(spark, sf)
      .filter($"s_nationkey" === 0)
      .select($"s_suppkey").as[Long].collect().map(_ * 2 + 1).toSet

    val dist = collection.mutable.Map(seeds.toSeq.map(_ -> 0): _*)
    var frontier = seeds
    var round = 1
    while (round <= 4 && frontier.nonEmpty) {
      val next = frontier.flatMap(n => edges.getOrElse(n, Set.empty))
        .filterNot(dist.contains)
      next.foreach(n => dist(n) = round)
      frontier = next
      round += 1
    }
    assert(got.size == dist.size, s"node count ${got.size} vs ${dist.size}")
    dist.foreach { case (n, h) =>
      assert(got.get(n).contains(h), s"node $n: engine=${got.get(n)} naive=$h")
    }
  }

  // ---- ta_trigram_lm_score: conditional LM vs naive counts ----

  test("ta_trigram_lm_score matches a naive conditional trigram model") {
    import spark.implicits._
    val got = q("ta_trigram_lm_score").fn(spark, sf)
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, sc) => id -> ((n, sc)) }.toMap

    def bucket(prefix: String, k: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest((prefix + k).getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 6)
      java.lang.Long.parseLong(hex, 16) % 4096
    }
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"text").as[(Long, String, String)]
      .collect()
      .map { case (id, src, txt) =>
        (id, src, txt.filter(c => c >= ' ' && c <= '~'))
      }
      .filter(_._3.length >= 3)
    val tris = docs.flatMap { case (id, src, t) =>
      t.sliding(3).map(tri =>
        (id, src, bucket("lm3:", tri), bucket("lm2:", tri.take(2))))
    }
    val ref = tris.filter(r => Set("src1", "src3", "src5")(r._2))
    val c3 = ref.groupBy(_._3).map { case (b, v) => b -> v.size.toLong }
    val c2 = ref.groupBy(_._4).map { case (b, v) => b -> v.size.toLong }
    val naive = tris.groupBy(_._1).map { case (id, v) =>
      val fs = v.map { case (_, _, b3, b2) =>
        (c3.getOrElse(b3, 0L) + 1) * 1000000L / (c2.getOrElse(b2, 0L) + 4096)
      }
      id -> ((fs.size.toLong, fs.sum / fs.size))
    }
    assert(got.size == naive.size)
    naive.foreach { case (id, exp) =>
      assert(got(id) == exp, s"doc $id: engine=${got(id)} naive=$exp")
    }
  }

  // ---- ev_ewma_smooth: recursive fold vs naive sequential EWMA ----

  test("ev_ewma_smooth matches a naive per-user sequential fold") {
    import spark.implicits._
    val got = q("ev_ewma_smooth").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect()

    val rows = graft.model.Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"value")
      .as[(Long, Long, Long, Double)].collect()
    val naive = rows.groupBy(_._1).toSeq.flatMap { case (u, evs) =>
      var prev = -1L
      evs.sortBy(e => (e._2, e._3)).map { case (_, ts, id, v) =>
        val c = math.round(v * 100)
        prev = if (prev < 0) c else (c + 3 * prev) / 4
        (u, ts, id, prev)
      }
    }.sortBy(r => (r._1, r._2, r._3))
    assert(got.toSeq == naive,
      s"first diff: ${got.toSeq.zip(naive).find(p => p._1 != p._2)}")
  }

  // ---- td_corpus_overlap_kmv: estimator quality on known overlap ----

  test("td_corpus_overlap_kmv estimates a planted 1/3 Jaccard within 3 sigma") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kmv_overlap").toFile
    try {
      // srcA = docs 0..399, srcB = docs 200..599: |A∩B| = 200,
      // |A∪B| = 600, Jaccard = 1/3. k = 128 ⇒ σ ≈ sqrt(J(1-J)/k) ≈ 0.042.
      val rows =
        (0 until 400).map(i => (i.toLong, s"doc body $i", "en", "srcA", 10L)) ++
        (200 until 600).map(i => (i.toLong + 1000, s"doc body $i", "en", "srcB", 10L))
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = q("td_corpus_overlap_kmv").fn(spark, dir.getPath).collect()
      assert(out.length == 1)
      val r = out.head
      val est = r.getAs[Long]("jaccard_micro") / 1e6
      val exact = r.getAs[Long]("exact_jaccard_micro") / 1e6
      assert(math.abs(exact - 1.0 / 3) < 1e-3, s"fixture exact=$exact")
      assert(math.abs(est - exact) < 0.13, s"est=$est exact=$exact")
      assert(r.getAs[Long]("exact_inter") == 200)
      assert(r.getAs[Long]("exact_union") == 600)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  // ---- mm_scene_cut: detected cuts vs planted scene boundaries ----

  test("mm_scene_cut finds exactly the planted 7-frame scene boundaries") {
    import spark.implicits._
    val cuts = q("mm_scene_cut").fn(spark, sf)
      .select($"doc_id", $"frame_idx").as[(Long, Int)].collect()
    assert(cuts.nonEmpty)
    // every detection sits on a scene boundary (frame_idx % 7 == 0) —
    // within-scene consecutive hamming is exactly 2 by construction
    assert(cuts.forall(_._2 % 7 == 0), s"off-boundary cut: ${cuts.find(_._2 % 7 != 0)}")
    // and ~all boundaries are detected (an across-scene miss needs two
    // independent 48-bit hashes within hamming 8 — p ≈ 1e-6 per cut)
    val expected = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, txt) =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(txt.getBytes("UTF-8"))
        val n = java.lang.Integer.parseInt(
          md.slice(3, 4).map("%02x".format(_)).mkString, 16) + 10
        id -> (n - 1) / 7 // boundaries at 7, 14, … < n
      }.toMap
    val detected = cuts.groupBy(_._1).map { case (id, v) => id -> v.length }
    val totalExpected = expected.values.sum
    val totalDetected = detected.values.sum
    assert(totalDetected >= totalExpected - 1 && totalDetected <= totalExpected,
      s"detected=$totalDetected expected=$totalExpected")
  }

  // ---- gr_link_predict: wedge-join scores vs naive all-pairs ----

  test("gr_link_predict matches a naive all-pairs common-neighbor scorer") {
    import spark.implicits._
    val got = q("gr_link_predict").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq

    // rebuild the sparsified graph exactly as the engine defines it
    val baskets = graft.model.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect()
      .groupBy(_._1).values.map(_.map(_._2).distinct.sorted)
    val wts = baskets.flatMap(ps =>
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val symW = wts.toSeq.flatMap { case ((u, v), w) => Seq((u, v, w), (v, u, w)) }
    val kept = symW.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(r => (-r._3, r._2)).take(10)
        .map(r => (math.min(r._1, r._2), math.max(r._1, r._2)))
    }.toSet
    val adj = kept.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val naive = (for {
      a <- adj.keys; c <- adj.keys if a < c && !kept((a, c))
      cn = (adj(a) & adj(c)).size.toLong if cn > 0
    } yield (a, c, cn, cn * 1000000L / (adj(a).size + adj(c).size - cn)))
      .toSeq.sortBy(r => (-r._3, r._1, r._2)).take(100)
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
  }

  // ---- td_shard_assign: rendezvous hashing vs naive argmax ----

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("td_shard_assign matches naive HRW argmax; removal moves ~1/16") {
    import spark.implicits._
    val got = q("td_shard_assign").fn(spark, sf)
      .as[(Long, Int, Int, Boolean)].collect().toSeq

    val ids = graft.model.Tables.documents(spark, sf)
      .select($"doc_id").as[Long].collect().sorted
    val naive = ids.toSeq.map { id =>
      val ws = (0 to 15).map(sh =>
        java.lang.Long.parseLong(md5hex(s"$id#$sh").take(12), 16) -> sh)
      val a16 = ws.max._2
      val a15 = ws.take(15).max._2
      (id, a16, a15, a16 != a15)
    }
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    // the HRW stability property: a doc moves iff its argmax was the
    // removed shard, so the moved fraction is ~1/16 of the corpus
    assert(got.forall(r => r._4 == (r._2 == 15)))
    val frac = got.count(_._4).toDouble / got.size
    assert(frac > 0.01 && frac < 0.15, s"moved fraction $frac")
  }

  // ---- td_temperature_mix: α=1/2 source rebalancing vs naive ----

  test("td_temperature_mix matches a naive isqrt-weighted sampler") {
    import spark.implicits._
    val got = q("td_temperature_mix").fn(spark, sf)
      .as[(Long, String, Long)].collect().toSeq

    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"source").as[(Long, String)].collect()
    def isqrt(n: Long): Long = {
      val r0 = math.floor(math.sqrt(n.toDouble)).toLong
      if ((r0 + 1) * (r0 + 1) <= n) r0 + 1
      else if (r0 * r0 > n) r0 - 1 else r0
    }
    val n = docs.groupBy(_._2).map { case (src, v) => src -> v.length.toLong }
    val w = n.map { case (src, c) => src -> isqrt(c) }
    val tw = w.values.sum
    val rate = n.map { case (src, c) =>
      src -> math.min(1000000L, 1000000L * 200 * w(src) / (tw * c))
    }
    val naive = docs.toSeq.flatMap { case (id, src) =>
      val b = java.lang.Long.parseLong(md5hex(s"tmix:$id").take(6), 16) % 1000000L
      if (b < rate(src)) Some((id, src, rate(src))) else None
    }.sortBy(_._1)
    assert(got == naive,
      s"sizes ${got.size}/${naive.size}; first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    assert(got.nonEmpty)
    // equal-size sources get identical rates (rate depends only on n_s)
    assert(n.groupBy(_._2).values.forall(srcs =>
      srcs.keys.map(rate).toSet.size == 1))
  }

  // ---- mm_patch_grid: ViT patchify vs naive per-byte buckets ----

  test("mm_patch_grid matches a naive per-byte patch bucketing and tiles exactly") {
    import spark.implicits._
    val got = q("mm_patch_grid").fn(spark, sf)
      .as[(Long, Int, Int, Int, Long, Long)].collect().toSeq

    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val naive = docs.toSeq.filter(_._2.nonEmpty).flatMap { case (id, txt) =>
      val b = txt.getBytes("UTF-8")
      b.indices.groupBy(i => ((i / 16 / 4), (i % 16) / 4)).toSeq
        .map { case ((pr, pc), is) =>
          val sum = is.map(i => (b(i) & 0xff).toLong).sum
          (id, pr, pc, is.size, sum, 100L * sum / is.size)
        }
    }.sortBy(r => (r._1, r._2, r._3))
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    // the tiling is a partition of the bytes: per-doc Σ n_px == len
    val lens = docs.map { case (id, t) => id -> t.getBytes("UTF-8").length }.toMap
    got.groupBy(_._1).foreach { case (id, ps) =>
      assert(ps.map(_._4).sum == lens(id), s"doc $id tiling mismatch")
    }
  }

  // ---- td_span_corrupt: T5 masking vs a naive sequential builder ----

  test("td_span_corrupt matches a naive sequential span-corruption builder") {
    import spark.implicits._
    val got = q("td_span_corrupt").fn(spark, sf)
      .as[(Long, Long, Long, Long, String, String)].collect().toSeq

    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val naive = docs.toSeq.map { case (id, txt) =>
      val toks = txt.split(" ", -1)
      val masked = toks.indices.map(i =>
        java.lang.Long.parseLong(md5hex(s"mask:$id:${i + 1}").take(6), 16) % 100 < 15)
      val in = new StringBuilder; val tg = new StringBuilder
      var k = 0; var prev = false
      var nMasked = 0; var nSpans = 0
      toks.indices.foreach { i =>
        def app(sb: StringBuilder, s: String): Unit = {
          if (sb.nonEmpty) sb.append(' '); sb.append(s)
        }
        if (!masked(i)) app(in, toks(i))
        else {
          nMasked += 1
          if (!prev) {
            app(in, s"<extra_id_$k>"); app(tg, s"<extra_id_$k> ${toks(i)}")
            k += 1; nSpans += 1
          } else app(tg, toks(i))
        }
        prev = masked(i)
      }
      val target = if (nSpans == 0) "</s>" else tg.toString + " </s>"
      (id, toks.length.toLong, nMasked.toLong, nSpans.toLong,
        md5hex(in.toString), md5hex(target))
    }.sortBy(_._1)
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    // non-vacuous: some docs have spans, some multi-token spans exist
    assert(got.exists(_._4 > 0))
    assert(got.exists(r => r._3 > r._4), "no multi-token span in fixture")
  }

  // ---- ta_oov_rate: vocab artifact + in-row filter vs naive ----

  test("ta_oov_rate matches a naive top-20-vocab OOV count") {
    import spark.implicits._
    val got = q("ta_oov_rate").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq

    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val freq = docs.flatMap(_._2.split(" ", -1))
      .groupBy(identity).map { case (t, v) => t -> v.length }
    val vocab = freq.toSeq.sortBy { case (t, c) => (-c, t) }.take(20)
      .map(_._1).toSet
    val naive = docs.toSeq.map { case (id, txt) =>
      val toks = txt.split(" ", -1)
      val oov = toks.count(!vocab(_)).toLong
      (id, toks.length.toLong, oov, 1000000L * oov / toks.length)
    }.sortBy(_._1)
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    assert(got.exists(_._3 > 0), "vacuous: no OOV tokens at all")
  }

  // ---- ta_bpe_merges: dictionary BPE trainer vs naive trainer ----

  test("ta_bpe_merges matches a naive BPE trainer over the word dictionary") {
    import spark.implicits._
    val got = q("ta_bpe_merges").fn(spark, sf)
      .as[(Int, String, String, Long)].collect().toSeq

    val words = graft.model.Tables.documents(spark, sf)
      .select($"text").as[String].collect()
      .flatMap(_.split(" ", -1))
    var dict: Map[Vector[String], Long] = words.groupBy(identity)
      .map { case (w, v) =>
        (w.map(_.toString).toVector :+ "</w>") -> v.length.toLong
      }
    val naive = (1 to 6).map { round =>
      val counts = collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (ps, f) =>
        ps.zip(ps.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      val ((l, r), cnt) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
      dict = dict.groupBy { case (ps, _) =>
        // greedy left-to-right merge of (l, r) within each word
        val out = collection.mutable.ArrayBuffer.empty[String]
        ps.foreach { x =>
          if (out.nonEmpty && out.last == l && x == r)
            out(out.length - 1) = l + r
          else out += x
        }
        out.toVector
      }.map { case (ps, m) => ps -> m.values.sum }
      (round, l, r, cnt)
    }
    assert(got == naive,
      s"engine=$got\nnaive=$naive")
    // non-vacuous: later rounds must build on earlier merges at least
    // once (a learned multi-char symbol — not the '</w>' marker —
    // appears as lhs or rhs of a later merge)
    assert(naive.exists(m =>
      (m._2.length > 1 && m._2 != "</w>") ||
      (m._3.length > 1 && m._3 != "</w>")),
      s"fixture never chains merges: $naive")
  }

  // ---- ta_bpe_encode: dictionary-join encoding vs naive re-fold ----

  test("ta_bpe_encode matches a naive merge-application over every doc") {
    import spark.implicits._
    val got = q("ta_bpe_encode").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq

    // learn the merges naively (already cross-checked by the trainer
    // spec), then apply them token by token, doc by doc
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    var dict: Map[Vector[String], Long] = docs.flatMap(_._2.split(" ", -1))
      .groupBy(identity)
      .map { case (w, v) => (w.map(_.toString).toVector :+ "</w>") -> v.length.toLong }
    def merge(ps: Vector[String], l: String, r: String): Vector[String] = {
      val out = collection.mutable.ArrayBuffer.empty[String]
      ps.foreach { x =>
        if (out.nonEmpty && out.last == l && x == r) out(out.length - 1) = l + r
        else out += x
      }
      out.toVector
    }
    val merges = (1 to 6).map { _ =>
      val counts = collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (ps, f) =>
        ps.zip(ps.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      val ((l, r), _) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
      dict = dict.groupBy { case (ps, _) => merge(ps, l, r) }
        .map { case (ps, m) => ps -> m.values.sum }
      (l, r)
    }
    val naive = docs.toSeq.map { case (id, txt) =>
      val toks = txt.split(" ", -1)
      val pieceCounts = toks.map { w =>
        var ps = w.map(_.toString).toVector :+ "</w>"
        merges.foreach { case (l, r) => ps = merge(ps, l, r) }
        (w.length + 1).toLong -> ps.length.toLong
      }
      val nChar = pieceCounts.map(_._1).sum
      val nBpe = pieceCounts.map(_._2).sum
      (id, toks.length.toLong, nChar, nBpe, 1000000L * nBpe / nChar)
    }.sortBy(_._1)
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    // the merges actually compress: some doc is below 1.0 ratio
    assert(got.exists(_._5 < 1000000L), "no compression anywhere")
  }

  // ---- qj_interval_overlap: blocked join vs naive all-pairs ----

  test("qj_interval_overlap matches a naive unblocked interval join") {
    import spark.implicits._
    val got = q("qj_interval_overlap").fn(spark, sf)
      .as[(Long, Long, String, Long, Long)].collect().toSeq

    val GapNs = 30L * 60 * 1000 * 1000 * 1000
    val DayNs = 86400L * 1000 * 1000 * 1000
    val rows = graft.model.Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .as[(Long, Long, Long, String)].collect()
    // sessions per user via the 30-min gap rule
    val sessions = rows.groupBy(_._1).toSeq.flatMap { case (u, evs) =>
      val sorted = evs.sortBy(e => (e._3, e._2))
      var seq = 0L; var prev = Long.MinValue
      val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      sorted.foreach { e =>
        if (prev == Long.MinValue || e._3 - prev > GapNs) {
          seq += 1; out += ((u, seq, e._3, e._3))
        } else {
          val last = out.last; out(out.length - 1) = (u, seq, last._3, e._3)
        }
        prev = e._3
      }
      out
    }
    val wins = rows.groupBy(e => (e._4, e._3 / DayNs)).map { case ((t, day), v) =>
      (t, day, v.map(_._3).min, v.map(_._3).max)
    }
    val naive = (for {
      (u, seq, as, ae) <- sessions
      (t, day, bs, be) <- wins
      if as <= be && bs <= ae
    } yield (u, seq, t, day, math.min(ae, be) - math.max(as, bs)))
      .sortBy(r => (r._1, r._2, r._3, r._4))
    assert(got == naive,
      s"sizes ${got.size}/${naive.size}; first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    assert(got.nonEmpty)
    // multi-day sessions exist OR every session is single-day — either
    // way some overlap must be strictly shorter than its session
    assert(got.exists(_._5 >= 0))
  }

  // ---- geo_poly_area_centroid: shoelace vs rectangle closed form ----

  test("geo_poly_area_centroid matches the rectangle closed form, both orientations") {
    import spark.implicits._
    val got = q("geo_poly_area_centroid").fn(spark, sf)
      .as[(Long, Long, String, Long, Long)].collect().toSeq

    val rects = graft.operators.GeoQueries.SpatialGrid.rects(spark, sf)
      .select($"s_suppkey", $"x0", $"y0", $"x1", $"y1")
      .as[(Long, Double, Double, Double, Double)].collect()
    val naive = rects.toSeq.map { case (k, x0d, y0d, x1d, y1d) =>
      val (x0, y0, x1, y1) = (x0d.toLong, y0d.toLong, x1d.toLong, y1d.toLong)
      val w = x1 - x0; val h = y1 - y0
      val areaX2 = 2 * w * h
      val orient = if (k % 2 == 1) "cw" else "ccw"
      // centroid of a rectangle is its middle, independent of orientation
      val cx = 1000000L * (x0 + x1) / 2
      val cy = 1000000L * (y0 + y1) / 2
      (k, areaX2, orient, cx, cy)
    }.sortBy(_._1)
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    assert(got.exists(_._3 == "cw") && got.exists(_._3 == "ccw"))
  }

  // ---- ev_ewma_anomaly: composed detector vs naive sequential ----

  test("ev_ewma_anomaly matches a naive EWMA-residual + median-threshold pass") {
    import spark.implicits._
    val got = q("ev_ewma_anomaly").fn(spark, sf)
      .as[(Long, Long, Long, String, Long, Long, Long)].collect().toSeq

    val rows = graft.model.Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
      .as[(Long, Long, Long, String, Double)].collect()
    // residuals via the sequential EWMA fold
    val resid = rows.groupBy(_._1).toSeq.flatMap { case (u, evs) =>
      var prev = -1L
      evs.sortBy(e => (e._2, e._3)).map { case (_, ts, id, et, v) =>
        val c = math.round(v * 100)
        val r = if (prev < 0) None else Some(math.abs(c - prev))
        prev = if (prev < 0) c else (c + 3 * prev) / 4
        (u, ts, id, et, c, r)
      }
    }
    // per-type discrete median of the non-null residuals
    val med = resid.flatMap(r => r._6.map(r._4 -> _)).groupBy(_._1)
      .map { case (t, v) =>
        val sorted = v.map(_._2).sorted
        t -> sorted((sorted.length + 1) / 2 - 1)
      }
    val naive = resid.collect {
      case (u, ts, id, et, c, Some(r)) if r > 3 * med(et) =>
        (u, ts, id, et, c, r, med(et))
    }.sortBy(x => (x._1, x._2, x._3))
    assert(got == naive,
      s"sizes ${got.size}/${naive.size}; first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    assert(got.nonEmpty, "vacuous: no anomalies flagged")
    assert(got.size < resid.size / 4, "threshold flags too much to be a gate")
  }

  // ---- qa_percentile_rank: histogram CDF vs naive counting ----

  test("qa_percentile_rank matches a naive per-type CDF") {
    import spark.implicits._
    val got = q("qa_percentile_rank").fn(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq

    val rows = graft.model.Tables.events(spark, sf)
      .select($"event_type", $"value").as[(String, Double)].collect()
      .map { case (t, v) => (t, math.round(v * 100)) }
    val naive = rows.groupBy(_._1).toSeq.flatMap { case (t, vs) =>
      val n = vs.length.toLong
      vs.groupBy(_._2).toSeq.sortBy(_._1).scanLeft(("", 0L, 0L, 0L, 0L)) {
        case ((_, _, _, cume, _), (v, g)) =>
          (t, v, g.length.toLong, cume + g.length, 0L)
      }.drop(1).map { case (t, v, c, cume, _) =>
        (t, v, c, cume, 1000L * cume / n)
      }
    }.sortBy(r => (r._1, r._2))
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    // CDF sanity: last value of each type reaches exactly 1000
    got.groupBy(_._1).values.foreach { g =>
      assert(g.maxBy(_._2)._5 == 1000L)
    }
  }

  // ---- gr_basket_lift: association rules vs naive counting ----

  test("gr_basket_lift matches a naive support/lift computation") {
    import spark.implicits._
    val got = q("gr_basket_lift").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq

    val li = graft.model.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect()
      .distinct
    val baskets = li.groupBy(_._1).values.map(_.map(_._2).distinct.sorted).toSeq
    val nOrders = baskets.size.toLong
    val sup = li.groupBy(_._2).map { case (p, v) => p -> v.length.toLong }
    val pairCnt = baskets.flatMap(ps =>
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val naive = pairCnt.toSeq.collect {
      case ((u, v), c) if c >= 3 =>
        (u, v, c, sup(u), sup(v), c * nOrders * 1000000L / (sup(u) * sup(v)))
    }.sortBy(r => (-r._6, r._1, r._2)).take(50)
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    assert(got.nonEmpty, "vacuous: no pairs at min support")
    // lift separates affinity from popularity: top lift beats 1.0
    assert(got.head._6 > 1000000L, "no pair with positive association")
  }

  // ---- ev_markov_transitions: transition matrix vs naive ----

  test("ev_markov_transitions matches a naive per-user bigram count") {
    import spark.implicits._
    val got = q("ev_markov_transitions").fn(spark, sf)
      .as[(String, String, Long, Long)].collect().toSeq

    val rows = graft.model.Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val trans = rows.groupBy(_._1).values.toSeq.flatMap { evs =>
      val o = evs.sortBy(e => (e._2, e._3)).map(_._4)
      o.zip(o.tail)
    }
    val cnt = trans.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val fromTot = trans.groupBy(_._1).map { case (t, v) => t -> v.length.toLong }
    val naive = cnt.toSeq.map { case ((f, t), c) =>
      (f, t, c, 1000000L * c / fromTot(f))
    }.sortBy(r => (r._1, r._2))
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    // row-stochastic modulo per-cell truncation
    got.groupBy(_._1).values.foreach { g =>
      val s = g.map(_._4).sum
      assert(s <= 1000000L && s > 1000000L - g.size,
        s"row ${g.head._1} sums to $s")
    }
  }

  // ---- td_length_buckets: power-of-two ladder vs naive ----

  test("td_length_buckets matches a naive pow2 bucketing with exact pad counts") {
    import spark.implicits._
    val got = q("td_length_buckets").fn(spark, sf)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq

    val lens = graft.model.Tables.documents(spark, sf)
      .select($"text").as[String].collect()
      .map(_.split(" ", -1).length.toLong)
    def pow2(n: Long): Int = {
      var p = 1L; while (p < n && p < 1048576L) p *= 2; p.toInt
    }
    val naive = lens.groupBy(pow2).toSeq.map { case (b, v) =>
      val pad = v.map(b - _).sum
      (b, v.length.toLong, v.sum, pad, 1000000L * pad / (b.toLong * v.length))
    }.sortBy(_._1)
    assert(got == naive,
      s"got=$got\nnaive=$naive")
    // waste is bounded below 50% for every bucket except bucket 1
    assert(got.filter(_._1 > 1).forall(_._5 < 500000L))
  }

  // ---- ta_trending_terms: per-day top-5 vs naive counting ----

  test("ta_trending_terms matches a naive per-day document-frequency top-5") {
    import spark.implicits._
    val got = q("ta_trending_terms").fn(spark, sf)
      .as[(Long, Long, String, Long)].collect().toSeq

    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val df = docs.flatMap { case (id, txt) =>
      val day = java.lang.Long.parseLong(md5hex(s"day:$id").take(4), 16) % 7
      txt.split(" ", -1).distinct.map(t => (day, t))
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val naive = df.groupBy(_._1._1).toSeq.flatMap { case (day, v) =>
      v.toSeq.map { case ((_, t), c) => (t, c) }
        .sortBy { case (t, c) => (-c, t) }.take(5).zipWithIndex
        .map { case ((t, c), i) => (day, (i + 1).toLong, t, c) }
    }.sortBy(r => (r._1, r._2))
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    assert(got.map(_._1).distinct.size > 1, "vacuous: only one day bucket")
  }

  // ---- td_snapshot_diff: full-outer diff vs naive set algebra ----

  test("td_snapshot_diff matches a naive two-snapshot comparison") {
    import spark.implicits._
    val got = q("td_snapshot_diff").fn(spark, sf)
      .as[(String, Long, Long, Long)].collect().toSeq

    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val a = docs.map { case (id, t) => id -> md5hex(t) }.toMap
    val b = docs.filter(_._1 % 7 != 0).map { case (id, t) =>
      id -> (if (id % 5 == 0) md5hex(t + " [rev2]") else md5hex(t))
    }.toMap ++ docs.filter(_._1 % 9 == 3).map { case (id, t) =>
      (id + 1000000L) -> md5hex("new:" + t)
    }.toMap
    val statuses = (a.keySet ++ b.keySet).toSeq.map { id =>
      val st =
        if (!a.contains(id)) "added"
        else if (!b.contains(id)) "removed"
        else if (a(id) != b(id)) "changed" else "unchanged"
      id -> st
    }
    val naive = statuses.groupBy(_._2).toSeq.flatMap { case (st, v) =>
      val n = v.size.toLong
      v.map(_._1).sorted.take(20).zipWithIndex.map { case (id, i) =>
        (st, n, (i + 1).toLong, id)
      }
    }.sortBy(r => (r._1, r._3))
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    // all four statuses are present (the fixture exercises every arm)
    assert(got.map(_._1).distinct.sorted ==
      Seq("added", "changed", "removed", "unchanged"))
  }

  // ---- sim_centroid_classify: Rocchio vs BigDecimal re-derivation ----

  test("sim_centroid_classify matches a BigDecimal nearest-centroid pass") {
    import spark.implicits._
    val got = q("sim_centroid_classify").fn(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq

    val emb = graft.model.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding", $"label")
      .as[(Long, Seq[Float], Int)].collect()
    // per-label centroids: exact decimal per-dim sums, 1e-4 grid, x1e4
    val cents = emb.groupBy(_._3).map { case (lbl, vs) =>
      val ci = (0 until 64).map { d =>
        val s = vs.map(v => BigDecimal(v._2(d).toDouble)).sum
        (s.setScale(4, BigDecimal.RoundingMode.HALF_UP) * 10000).toLongExact
      }
      lbl.toLong -> ci
    }
    val naive = emb.map { case (_, e, lbl) =>
      val scored = cents.toSeq.map { case (cand, ci) =>
        var dot = BigDecimal(0); var na = BigDecimal(0); var nb = BigDecimal(0)
        (0 until 64).foreach { d =>
          dot += BigDecimal(e(d).toDouble * ci(d))
          na += BigDecimal(e(d).toDouble * e(d).toDouble)
          nb += BigDecimal(ci(d).toDouble * ci(d).toDouble)
        }
        val cos = math.round(
          dot.toDouble / (math.sqrt(na.toDouble * nb.toDouble)) * 1e9)
        (cand, cos)
      }
      val pred = scored.minBy { case (cand, cos) => (-cos, cand) }._1
      (lbl.toLong, pred)
    }.groupBy(identity).map { case ((t, p), v) => (t, p, v.length.toLong) }
      .toSeq.sortBy(r => (r._1, r._2))
    assert(got == naive,
      s"got=$got\nnaive=$naive")
    assert(got.map(_._3).sum == emb.length)
  }

  // ---- ev_rate_limit: token-bucket fold vs naive sequential ----

  test("ev_rate_limit matches a naive sequential token bucket") {
    import spark.implicits._
    val got = q("ev_rate_limit").fn(spark, sf)
      .as[(Long, Long, Long, Boolean, Long)].collect().toSeq

    val Tok = 21600L * 1000 * 1000 * 1000; val Cap = 2 * Tok
    val rows = graft.model.Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id")
      .as[(Long, Long, Long)].collect()
    val naive = rows.groupBy(_._1).toSeq.flatMap { case (u, evs) =>
      var credit = Cap; var prevTs = Long.MinValue
      evs.sortBy(e => (e._2, e._3)).map { case (_, ts, id) =>
        if (prevTs != Long.MinValue)
          credit = math.min(Cap, credit + (ts - prevTs))
        val allowed = credit >= Tok
        if (allowed) credit -= Tok
        prevTs = ts
        (u, ts, id, allowed, credit)
      }
    }.sortBy(r => (r._1, r._2, r._3))
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    // the limiter actually bites somewhere AND lets most through
    assert(got.exists(!_._4), "no event was ever rate-limited")
    assert(got.count(_._4) > got.size / 2, "limiter rejects the majority")
  }

  // ---- ev_cohort_ltv: cumulative revenue curves vs naive ----

  test("ev_cohort_ltv matches a naive cohort revenue accumulation") {
    import spark.implicits._
    val got = q("ev_cohort_ltv").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq

    val WeekNs = 7L * 86400 * 1000 * 1000 * 1000
    val rows = graft.model.Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_type", $"value")
      .as[(Long, Long, String, Double)].collect()
    val cohort = rows.filter(_._3 == "signup").groupBy(_._1)
      .map { case (u, v) => u -> v.map(_._2).min / WeekNs }
    val weekly = rows.filter(_._3 == "purchase")
      .flatMap { case (u, ts, _, v) =>
        cohort.get(u).map { cw =>
          ((cw, ts / WeekNs - cw), math.round(v * 100))
        }
      }
      .filter(_._1._2 >= 0)
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val naive = weekly.groupBy(_._1._1).toSeq.flatMap { case (cw, v) =>
      var cum = 0L
      v.toSeq.sortBy(_._1._2).map { case ((_, off), rev) =>
        cum += rev; (cw, off, rev, cum)
      }
    }.sortBy(r => (r._1, r._2))
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    // the curve is non-decreasing per cohort by construction
    assert(got.nonEmpty)
  }

  // ---- qa_gini_diversity: impurity vs naive counting ----

  test("qa_gini_diversity matches a naive per-user impurity") {
    import spark.implicits._
    val got = q("qa_gini_diversity").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq

    val rows = graft.model.Tables.events(spark, sf)
      .select($"user_id", $"event_type").as[(Long, String)].collect()
    val naive = rows.groupBy(_._1).toSeq.map { case (u, v) =>
      val cs = v.groupBy(_._2).values.map(_.length.toLong)
      val n = cs.sum; val sq = cs.map(c => c * c).sum
      (u, n, cs.size.toLong, (n * n - sq) * 1000000L / (n * n))
    }.sortBy(_._1)
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    // diversity varies across users (not a constant fixture)
    assert(got.map(_._4).distinct.size > 1)
  }

  // ---- ev_active_users: trailing distinct windows vs naive ----

  test("ev_active_users matches a naive trailing-window distinct count") {
    import spark.implicits._
    val got = q("ev_active_users").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq

    val DayNs = 86400L * 1000 * 1000 * 1000
    val ud = graft.model.Tables.events(spark, sf)
      .select($"user_id", $"ts").as[(Long, Long)].collect()
      .map { case (u, ts) => (u, ts / DayNs) }.distinct
    val days = ud.map(_._2).distinct.sorted
    val naive = days.map { d =>
      val dau = ud.count(_._2 == d).toLong
      val wau = ud.filter(x => x._2 <= d && x._2 >= d - 6).map(_._1)
        .distinct.length.toLong
      val mau = ud.filter(x => x._2 <= d && x._2 >= d - 29).map(_._1)
        .distinct.length.toLong
      (d, dau, wau, mau, 1000000L * dau / mau)
    }.toSeq
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    // windows nest: dau <= wau <= mau everywhere
    assert(got.forall(r => r._2 <= r._3 && r._3 <= r._4))
  }

  // ---- qa_exact_moments: power sums vs naive accumulation ----

  test("qa_exact_moments matches a naive integer power-sum pass") {
    import spark.implicits._
    val got = q("qa_exact_moments").fn(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq

    val rows = graft.model.Tables.events(spark, sf)
      .select($"event_type", $"value").as[(String, Double)].collect()
      .map { case (t, v) => (t, math.round(v * 100)) }
    val naive = rows.groupBy(_._1).toSeq.map { case (t, v) =>
      val n = v.length.toLong
      val s1 = v.map(_._2).sum
      val s2 = v.map(x => x._2 * x._2).sum
      (t, n, s1, s2, 100 * s1 / n, (n * s2 - s1 * s1) / (n * (n - 1)))
    }.sortBy(_._1)
    assert(got == naive, s"got=$got\nnaive=$naive")
    // variance numerator is non-negative by Cauchy-Schwarz
    assert(got.forall(_._6 >= 0))
  }

  // ---- ta_source_tvd: cross-multiplied TVD vs naive doubles ----

  test("ta_source_tvd matches a naive total-variation computation") {
    import spark.implicits._
    val got = q("ta_source_tvd").fn(spark, sf)
      .as[(String, String, Long)].collect().toSeq

    val docs = graft.model.Tables.documents(spark, sf)
      .select($"source", $"text").as[(String, String)].collect()
    val hist = docs.flatMap { case (src, t) => t.split(" ", -1).map(src -> _) }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val bySrc = hist.groupBy(_._1._1)
      .map { case (s, m) => s -> m.map { case ((_, tok), c) => tok -> c } }
    val srcs = bySrc.keys.toSeq.sorted
    val naive = (for {
      i <- srcs.indices; j <- i + 1 until srcs.length
      (sa, sb) = (srcs(i), srcs(j))
      (ha, hb) = (bySrc(sa), bySrc(sb))
      na = ha.values.sum; nb = hb.values.sum
    } yield {
      val toks = ha.keySet ++ hb.keySet
      val num = toks.toSeq.map { t =>
        math.abs(ha.getOrElse(t, 0L) * nb - hb.getOrElse(t, 0L) * na)
      }.sum
      (sa, sb, 1000000L * num / (2 * na * nb))
    }).sortBy(r => (-r._3, r._1, r._2)).take(20)
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
    assert(got.forall(r => r._3 >= 0 && r._3 <= 1000000L))
  }

  // ---- pipe_media_qa: composition vs its own gated stages ----

  test("pipe_media_qa equals a join of the separately-gated stage outputs") {
    import spark.implicits._
    val got = q("pipe_media_qa").fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap

    val dec = q("mm_decode_features").fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val patch = q("mm_patch_grid").fn(spark, sf)
      .as[(Long, Int, Int, Int, Long, Long)].collect().toSeq
      .groupBy(_._1).map { case (id, ps) =>
        val isum = ps.map(_._5).sum; val npx = ps.map(_._4.toLong).sum
        id -> Seq(ps.length.toLong, 100L * isum / npx)
      }
    val audio = q("mm_audio_energy").fn(spark, sf)
      .as[(Long, Int, Int, Long, Int)].collect().toSeq
      .groupBy(_._1).map { case (id, fs) =>
        id -> Seq(fs.length.toLong, fs.count(_._5 == 1).toLong)
      }
    val cuts = q("mm_scene_cut").fn(spark, sf)
      .select($"doc_id").as[Long].collect()
      .groupBy(identity).map { case (id, v) => id -> v.length.toLong }
    got.foreach { case (id, row) =>
      assert(row.take(4) == dec(id), s"doc $id decode leg")
      assert(row.slice(4, 6) == patch(id), s"doc $id patch leg")
      assert(row.slice(6, 8) == audio(id), s"doc $id audio leg")
      assert(row(9) == cuts.getOrElse(id, 0L), s"doc $id cuts leg")
    }
    assert(got.size == dec.size)
  }

  // ---- geo_grid_density: hotspot heap vs naive counting ----

  test("geo_grid_density matches a naive per-cell count top-20") {
    import spark.implicits._
    val got = q("geo_grid_density").fn(spark, sf)
      .as[(Int, Long, Long, Long)].collect().toSeq

    val pts = graft.operators.GeoQueries.SpatialGrid.points(spark, sf)
      .select($"c_layer", $"px", $"py")
      .as[(Int, Double, Double)].collect()
    val naive = pts.groupBy { case (l, px, py) =>
      (l, math.floor(px / 16).toLong, math.floor(py / 16).toLong)
    }.toSeq.map { case ((l, cx, cy), v) => (l, cx, cy, v.length.toLong) }
      .sortBy(r => (-r._4, r._1, r._2, r._3)).take(20)
    assert(got == naive,
      s"first diff: ${got.zip(naive).find(p => p._1 != p._2)}")
  }
}
