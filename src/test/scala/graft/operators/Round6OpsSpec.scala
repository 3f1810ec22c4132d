package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-6 catalogue additions: each checked against an
  * independently-computed naive baseline (plain in-memory Scala over
  * the same raw rows), so an algorithmic bug fails here with a value
  * diff, not as an opaque oracle hash mismatch.
  */
class Round6OpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def docs(): Array[(Long, String)] = {
    import spark.implicits._
    graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
  }

  // Winnowing re-derived with sliding windows over the word stream:
  // k=3 grams hashed via the first 8 md5 hex chars, min of each
  // 4-window, distinct per doc. Also asserts the coverage guarantee
  // winnowing exists for: two docs sharing a >= 6-word run share a
  // fingerprint.
  test("ta_winnow_fingerprint matches an in-memory winnow; shared runs share a fingerprint") {
    import spark.implicits._
    def winnow(text: String): Seq[Long] = {
      val words = text.split(" ", -1).toSeq
      if (words.length < 6) Seq.empty
      else {
        val grams = words.sliding(3).map(g =>
          java.lang.Long.parseLong(md5hex(g.mkString(" ")).substring(0, 8), 16)).toVector
        grams.sliding(4).map(_.min).toVector.distinct
      }
    }
    val expected = docs().flatMap { case (id, t) => winnow(t).map(id -> _) }
      .sortBy(identity).toSeq
    val got = q("ta_winnow_fingerprint").fn(spark, sf)
      .as[(Long, Long)].collect().toSeq
    assert(got.sorted == expected, "winnow fingerprint mismatch")

    // Coverage property on a synthetic pair sharing a 6-word run.
    val shared = "alpha beta gamma delta epsilon zeta"
    val a = winnow(s"one two three $shared x y z")
    val b = winnow(s"$shared p q r s t u v")
    assert(a.toSet.intersect(b.toSet).nonEmpty, "shared 6-word run must share a fingerprint")
  }

  // Sparse tf-idf cosine re-derived naively: all-pairs over explicit
  // term maps, integer centi-idf weights, stop-term cutoff at 90% df.
  test("ta_tfidf_cosine_topk matches a naive all-pairs re-derivation") {
    import spark.implicits._
    val slice = docs().filter(_._1 < 200)
    val n = slice.length.toLong
    val tf: Map[Long, Map[String, Long]] = slice.map { case (id, t) =>
      id -> t.split(" ", -1).toSeq.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    }.toMap
    val df: Map[String, Long] = tf.values.flatMap(_.keys).toSeq
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val kept = df.filter { case (_, d) => d * 10 <= n * 9 }.keySet
    val w: Map[Long, Map[String, Long]] = tf.map { case (id, m) =>
      id -> m.filter(kept contains _._1).map { case (t, f) => t -> f * ((n * 100) / df(t)) }
    }
    val norm2 = w.map { case (id, m) => id -> m.values.map(x => x * x).sum }
    val ids = slice.map(_._1).sorted
    val pairs = for {
      i <- ids; j <- ids if i < j
      dot = w(i).keySet.intersect(w(j).keySet).toSeq.map(t => w(i)(t) * w(j)(t)).sum
      if dot > 0
    } yield (i, j, dot, dot.toDouble / (math.sqrt(norm2(i).toDouble) * math.sqrt(norm2(j).toDouble)))
    val expected = pairs.sortBy { case (a, b, _, c) => (-c, a, b) }.take(100)
    val got = q("ta_tfidf_cosine_topk").fn(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.size == expected.size)
    got.zip(expected).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3, s"pair/dot mismatch: $g vs $e")
      assert(math.abs(g._4 - e._4) < 1e-12, s"cosine mismatch: $g vs $e")
    }
  }

  private def events(): Array[(Long, String, Long)] = {
    import spark.implicits._
    graft.model.Tables.events(spark, sf)
      .select($"user_id", $"event_type", $"ts").as[(Long, String, Long)].collect()
  }

  // Funnel re-derived per user with explicit ordering: first signup,
  // first click strictly after it, first purchase strictly after that.
  // The corpus interleaves types freely, so the strictly-after
  // constraint is exercised (a purchase before the click is ignored).
  test("ev_funnel_steps matches a per-user ordered re-derivation") {
    import spark.implicits._
    val byUser = events().map { case (u, t, ns) => (u, t, ns / 1000) }.groupBy(_._1)
    val expected = byUser.toSeq.flatMap { case (u, evs) =>
      val ts = (t: String) => evs.filter(_._2 == t).map(_._3)
      val signup = ts("signup")
      if (signup.isEmpty) None
      else {
        val t1 = signup.min
        val t2 = ts("click").filter(_ > t1) match { case a if a.isEmpty => None; case a => Some(a.min) }
        val t3 = t2.flatMap(c => ts("purchase").filter(_ > c) match { case a if a.isEmpty => None; case a => Some(a.min) })
        val steps = if (t3.isDefined) 3 else if (t2.isDefined) 2 else 1
        Some((u, t1, t2, t3, steps))
      }
    }.sortBy(_._1)
    val got = q("ev_funnel_steps").fn(spark, sf)
      .as[(Long, Long, Option[Long], Option[Long], Int)].collect().toSeq
    assert(got == expected, "funnel mismatch")
  }

  // Hand fixture with every ordering edge worked out by hand: the
  // sf0.001 corpus is dense enough that all users complete the funnel,
  // so the strictly-after branches need explicit rows. `ts` is written
  // as BIGINT nanos directly (the shape Tables.events normalizes to).
  test("ev_funnel_steps ordering edges: out-of-order events don't count") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("funnel").toString
    val us = 1000L // fixture ts is ns; the query works in us
    Seq(
      (1L, "signup", 10 * us), (1L, "click", 20 * us), (1L, "purchase", 30 * us), // complete
      (2L, "signup", 10 * us), (2L, "purchase", 5 * us),                          // purchase pre-signup
      (2L, "purchase", 15 * us), (2L, "click", 20 * us),                          // purchase pre-click: both ignored
      (3L, "signup", 10 * us),                                                    // signup only
      (4L, "click", 5 * us), (4L, "purchase", 6 * us), (4L, "signup", 10 * us),   // all action pre-signup
      (5L, "click", 1 * us),                                                      // never signed up
    ).toDF("user_id", "event_type", "ts")
      .write.parquet(s"$dir/events.parquet")
    val got = q("ev_funnel_steps").fn(spark, dir)
      .as[(Long, Long, Option[Long], Option[Long], Int)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, 10L, Some(20L), Some(30L), 3),
      (2L, 10L, Some(20L), None, 2),
      (3L, 10L, None, None, 1),
      (4L, 10L, None, None, 1),
    ), s"funnel edge-case mismatch: $got")
  }

  // HyperLogLog re-derived with BigInt/Long arithmetic straight from
  // the definition (48-bit md5 hash, p=10 registers, leading-zero
  // rank via Java numberOfLeadingZeros, integer harmonic sum) — an
  // independent path that catches a ladder or scaling bug as a value
  // diff. Also pins the estimator's documented accuracy on real data.
  test("qa_hll_distinct_sketch matches a from-definition re-derivation; error within 4 sigma") {
    import spark.implicits._
    val rows = graft.model.Tables.lineitem(spark, sf)
      .select($"l_returnflag", $"l_orderkey".cast("string"))
      .as[(String, String)].collect()
    val expected = rows.groupBy(_._1).toSeq.map { case (g, rs) =>
      val regs = new Array[Int](256)
      rs.foreach { case (_, ok) =>
        val h = java.lang.Long.parseLong(md5hex(ok).substring(0, 12), 16)
        val reg = (h % 256).toInt
        val w = h / 256
        // 40-bit suffix: leading zeros within the field + 1
        val rank = if (w == 0) 41 else java.lang.Long.numberOfLeadingZeros(w) - 24 + 1
        if (rank > regs(reg)) regs(reg) = rank
      }
      val sum = regs.map(r => 2199023255552L >> r).sum
      val est = math.floor(
        (0.7213 / (1 + 1.079 / 256)) * 65536 * 2199023255552L.toDouble / sum).toLong
      val exact = rs.map(_._2).distinct.size.toLong
      (g, est, exact)
    }.sortBy(_._1)
    val got = q("qa_hll_distinct_sketch").fn(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == expected, s"HLL mismatch: $got vs $expected")
    // All gate scales sit above the 2.5m small-range threshold, so the
    // raw estimator is unbiased and 4·(1.04/√m) bounds the error.
    got.foreach { case (g, est, exact) =>
      assert(exact > 640, s"group $g: exact $exact below 2.5m — wrong regime for this entry")
      val sigma = 1.04 / math.sqrt(256)
      assert(math.abs(est - exact) <= 4 * sigma * exact,
        s"group $g: estimate $est vs exact $exact outside 4 sigma")
    }
  }

  // Synchronous label propagation simulated independently in plain
  // Scala (adjacency maps, 3 rounds, self-vote, (count desc, label
  // asc) tie-break) — checks the join/argmax formulation; plus a
  // hand-worked two-biclique fixture with known final communities.
  private def simulateLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = (edges ++ edges.map(e => (e._2, e._1))).distinct
    val adj = sym.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var lbl = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      lbl = adj.map { case (v, nbrs) =>
        val votes = (nbrs.map(lbl) :+ lbl(v)).groupBy(identity)
          .map { case (l, g) => (l, g.size) }
        v -> votes.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    lbl
  }

  test("gr_label_propagation matches an independent simulation; disjoint cliques keep distinct labels") {
    import spark.implicits._
    val corpus = graft.model.Tables.lineitem(spark, sf)
      .select(($"l_partkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
      .distinct().as[(Long, Long)].collect().toSeq
    val expected = simulateLpa(corpus, 3).toSeq.sorted
    val got = q("gr_label_propagation").fn(spark, sf)
      .as[(Long, Long)].collect().toSeq
    assert(got == expected, "LPA mismatch vs simulation on the corpus graph")

    // Two disjoint 2x2 bicliques: every node must adopt its
    // component's minimum id; no cross-component label leaks.
    val dir = java.nio.file.Files.createTempDirectory("lpa").toString
    Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (10L, 10L), (10L, 11L), (11L, 10L), (11L, 11L))
      .toDF("l_partkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val fx = q("gr_label_propagation").fn(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(Seq(2L, 3L, 4L, 5L).forall(fx(_) == 2L),
      s"clique A did not converge to label 2: $fx")
    assert(Seq(20L, 21L, 22L, 23L).forall(fx(_) == 20L),
      s"clique B did not converge to label 20: $fx")
  }

  // SemDeDup checked against its definition using the independently
  // verified cell assignment (sim_ivf_cell_assign, oracle-gated) and
  // plain-double cosines: a vector is dropped iff a lower-id vector
  // in its cell clears the threshold. Pairs within 1e-6 of the
  // threshold are excluded from the cross-check (double vs the
  // decimal-exact kernel may legitimately disagree there; the oracle
  // pins those exactly).
  test("td_semdedup drops exactly the vectors with a lower-id in-cell near-duplicate") {
    import spark.implicits._
    val cells = q("sim_ivf_cell_assign").fn(spark, sf)
      .as[(Long, Long)].collect().toMap
    val embs = graft.model.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      dot / math.sqrt(na * nb)
    }
    val got = q("td_semdedup").fn(spark, sf)
      .as[(Long, Long, Int)].collect()
    assert(got.map(_._1).toSeq.sorted == embs.keys.toSeq.sorted,
      "semdedup must emit every vector exactly once")
    assert(got.exists(_._3 == 1) && got.exists(_._3 == 0),
      "fixture must exercise both kept and dropped arms")
    got.foreach { case (v, cell, isDup) =>
      assert(cells(v) == cell, s"vec $v cell mismatch vs sim_ivf_cell_assign")
      val near = embs.keys.filter(u => u < v && cells(u) == cell)
        .map(u => cos(embs(u), embs(v))).filter(c => math.abs(c - 0.4) > 1e-6)
      val expectDup = near.exists(_ > 0.4)
      val boundary = embs.keys.exists(u =>
        u < v && cells(u) == cell && math.abs(cos(embs(u), embs(v)) - 0.4) <= 1e-6)
      if (!boundary)
        assert(isDup == (if (expectDup) 1 else 0),
          s"vec $v: is_dup=$isDup but double-cosine says $expectDup")
    }
  }

  // Retention matrix re-derived from (cohort epoch-week of first
  // signup) x (distinct active users per later week).
  test("ev_retention_cohorts matches an in-memory cohort matrix") {
    import spark.implicits._
    val WeekNs = 7L * 86400 * 1000 * 1000 * 1000
    val evs = events()
    val cohort = evs.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, e) => u -> e.map(_._3).min / WeekNs }
    val cells = evs.flatMap { case (u, _, t) =>
      cohort.get(u).map(cw => (cw, t / WeekNs - cw, u)).filter(_._2 >= 0)
    }.distinct
    val expected = cells.groupBy(c => (c._1, c._2))
      .map { case ((cw, off), g) => (cw, off, g.map(_._3).distinct.length.toLong) }
      .toSeq.sortBy(c => (c._1, c._2))
    val got = q("ev_retention_cohorts").fn(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected, "retention matrix mismatch")
  }
}
