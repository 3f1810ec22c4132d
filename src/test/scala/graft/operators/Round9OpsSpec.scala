package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Round-9 operator replays: each result re-derived by an independent
  * in-memory implementation over the collected fixture — the oracle
  * gate proves cross-engine parity, these prove the MATH (and, for
  * the bitmask closeness rewrite, that the folded BFS equals a naive
  * per-seed BFS).
  */
class Round9OpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  /** Spark's round(x*100).cast(long): HALF_UP on the double product. */
  private def cents(v: Double): Long =
    new java.math.BigDecimal(v * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** Doubled tie-mid ranks (2·avg rank) for a value multiset. */
  private def doubledRanks(vals: Seq[Long]): Map[Long, Long] = {
    val byVal = vals.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    var cum = 0L
    byVal.map { case (v, cnt) =>
      val r2 = 2 * cum + cnt + 1
      cum += cnt
      v -> r2
    }.toMap
  }

  test("qa_mann_whitney_u: in-memory rank-sum replay") {
    import spark.implicits._
    val got = q("qa_mann_whitney_u").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long)].head()
    val rows = graft.model.Tables.lineitem(spark, sf)
      .filter($"l_returnflag".isin("R", "N"))
      .select($"l_returnflag", $"l_quantity".cast("long"))
      .as[(String, Long)].collect()
    val r2 = doubledRanks(rows.map(_._2).toSeq)
    val g1 = rows.filter(_._1 == "R").map(_._2)
    val g2 = rows.filter(_._1 == "N").map(_._2)
    val n1 = g1.length.toLong
    val n2 = g2.length.toLong
    val r1x2 = g1.map(r2).sum
    val u1x2 = r1x2 - n1 * (n1 + 1)
    val tieT = rows.map(_._2).groupBy(identity).values
      .map(g => { val t = g.size.toLong; t * t * t - t }).sum
    assert(got == ((n1, n2, u1x2, 2 * n1 * n2 - u1x2, tieT)))
    // built-in invariant of the doubled-rank formulation
    assert(got._3 + got._4 == 2 * got._1 * got._2)
  }

  test("qa_spearman_corr: in-memory doubled-rank Pearson replay") {
    import spark.implicits._
    val got = q("qa_spearman_corr").fn(spark, sf)
      .as[(Long, Option[Long])].head()
    val DayNs = 86400L * 1000 * 1000 * 1000
    val byDay = graft.model.Tables.events(spark, sf)
      .select($"ts", $"value").as[(Long, Double)].collect()
      .groupBy(_._1 / DayNs).view
      .mapValues(es => (es.map(e => cents(e._2)).sum, es.size.toLong))
      .toMap
    val days = byDay.keys.toSeq.sorted
    val rx = doubledRanks(days.map(d => byDay(d)._1))
    val ry = doubledRanks(days.map(d => byDay(d)._2))
    val pairs = days.map(d => (BigInt(rx(byDay(d)._1)), BigInt(ry(byDay(d)._2))))
    val n = BigInt(pairs.size)
    val sx = pairs.map(_._1).sum
    val sy = pairs.map(_._2).sum
    val sxx = pairs.map(p => p._1 * p._1).sum
    val syy = pairs.map(p => p._2 * p._2).sum
    val sxy = pairs.map(p => p._1 * p._2).sum
    val cov = n * sxy - sx * sy
    val vxvy = (n * sxx - sx * sx) * (n * syy - sy * sy)
    val expected =
      if (vxvy == 0) None
      else Some((cov.sign * (cov * cov * 1000 / vxvy)).toLong)
    assert(got == ((pairs.size.toLong, expected)))
  }

  test("gr_truss_support: in-memory wedge-support replay") {
    import spark.implicits._
    val got = q("gr_truss_support").fn(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    // replay the top-10 co-purchase sparsification
    val baskets = graft.model.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val wts = baskets.values.toSeq
      .flatMap(ps => ps.toSeq.sorted.combinations(2).map(c => (c(0), c(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val symW = wts.toSeq.flatMap { case ((u, v), w) => Seq((u, v, w), (v, u, w)) }
    val kept = symW.groupBy(_._1).values.flatMap { es =>
      es.sortBy(e => (-e._3, e._2)).take(10)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
    }.toSet
    // triangle support per kept edge = common kept-neighbors
    val adj = kept.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hist = kept.toSeq
      .map { case (u, v) => (adj(u) & adj(v)).size.toLong }
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    var cum = 0L
    val expected = hist.sortBy(-_._1).map { case (s, c) =>
      cum += c; (s, c, cum)
    }.sortBy(_._1)
    assert(got == expected)
  }

  test("sim_rrf_fusion: fused scores re-derive from the two input lists") {
    import spark.implicits._
    val got = q("sim_rrf_fusion").fn(spark, sf)
      .as[(Long, Int, Long, Long)].collect().toSeq
    // ANN leg is its own oracle-gated entry; exact leg re-derived via
    // the same decimal-exact kernel the operator uses
    val ann = q("sim_lsh_ann_topk").fn(spark, sf)
      .as[(Long, Int, Long)].collect()
      .map { case (p, rk, c) => (p, c) -> rk.toLong }.toMap
    import org.apache.spark.sql.functions._
    import graft.functions.exprs.cosine_e9
    val emb = graft.model.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val probes = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("p"), $"embedding".as("pe"))
    val exact = emb.crossJoin(broadcast(probes))
      .filter($"vec_id" =!= $"p")
      .select($"p", $"vec_id", cosine_e9($"pe", $"embedding").as("c"))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(e => (-e._3, e._2))
        .take(3).zipWithIndex.map { case (e, i) => e._2 -> (i + 1).toLong }.toMap)
      .toMap
    // exact.toSeq first: flatMap on the Map itself would rebuild a
    // Map keyed by probe and collapse to one candidate per probe
    val fused = (ann.keySet ++ exact.toSeq.flatMap { case (p, m) =>
      m.keys.map(p -> _) }).toSeq
      .map { case (p, c) =>
        val s = ann.get((p, c)).map(r => 1000000L / (60 + r)).getOrElse(0L) +
          exact.get(p).flatMap(_.get(c)).map(r => 1000000L / (60 + r)).getOrElse(0L)
        (p, c, s)
      }
    val expected = fused.groupBy(_._1).toSeq.flatMap { case (p, cs) =>
      cs.sortBy(e => (-e._3, e._2)).take(3).zipWithIndex
        .map { case ((_, c, s), i) => (p, i + 1, c, s) }
    }.sortBy(e => (e._1, e._2))
    assert(got == expected)
  }

  test("pipe_compaction_bins: in-memory first-fit-by-offset replay") {
    import spark.implicits._
    val got = q("pipe_compaction_bins").fn(spark, sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"source", $"doc_id", $"n_chars".cast("long"))
      .as[(String, Long, Long)].collect()
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      var off = 0L
      ds.sortBy(_._2).map { case (_, _, b) =>
        val bin = off / 65536L; off += b; (src, bin, b)
      }.groupBy(_._2).toSeq.map { case (bin, rows) =>
        (src, bin, rows.size.toLong, rows.map(_._3).sum)
      }
    }.sortBy(e => (e._1, e._2))
    assert(got == expected)
  }

  test("ta_msttr_diversity: in-memory segmental TTR replay") {
    import spark.implicits._
    val got = q("ta_msttr_diversity").fn(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val expected = docs.toSeq.flatMap { case (id, text) =>
      val segs = text.split(" ", -1).grouped(50).filter(_.length == 50).toSeq
      if (segs.isEmpty) None
      else Some((id, segs.size.toLong,
        segs.map(s => s.distinct.length.toLong * 20000L).sum / segs.size))
    }.sortBy(_._1)
    assert(got == expected)
  }

  test("qa_two_proportion_z2: in-memory staged-integer replay") {
    import spark.implicits._
    val got = q("qa_two_proportion_z2").fn(spark, sf)
      .as[(Long, Long, Long, Long, Option[Long])].head()
    val users = graft.model.Tables.events(spark, sf)
      .select($"user_id", $"event_type").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.exists(_._2 == "purchase")).toMap
    def stat(arm: Long) = {
      val u = users.filter(_._1 % 2 == arm)
      (u.size.toLong, u.count(_._2).toLong)
    }
    val (na, ca) = stat(0)
    val (nb, cb) = stat(1)
    val (n, c) = (na + nb, ca + cb)
    val expected =
      if (c == 0 || c == n) None
      else {
        val diff = BigInt(ca) * nb - BigInt(cb) * na
        Some(((diff * diff / (BigInt(na) * nb)) * 1000 * n /
          (BigInt(c) * (n - c))).toLong)
      }
    assert(got == ((na, ca, nb, cb, expected)))
  }

  test("geo_union_area: in-memory unit-cell replay") {
    import spark.implicits._
    val got = q("geo_union_area").fn(spark, sf)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    val rects = GeoQueries.SpatialGrid.rects(spark, sf)
      .select($"p_layer",
        $"x0".cast("long"), $"y0".cast("long"),
        ($"x1".cast("long") - $"x0".cast("long")),
        ($"y1".cast("long") - $"y0".cast("long")))
      .as[(Int, Long, Long, Long, Long)].collect()
    val expected = rects.groupBy(_._1).toSeq.map { case (layer, rs) =>
      val sum = rs.map { case (_, _, _, w, h) => w * h }.sum
      val union = rs.flatMap { case (_, x0, y0, w, h) =>
        for (i <- 0L until w; j <- 0L until h) yield (x0 + i, y0 + j)
      }.distinct.size.toLong
      (layer, rs.size.toLong, sum, union, (sum - union) * 1000000L / sum)
    }.sortBy(_._1)
    assert(got == expected)
  }

  test("ev_attribution_window_sweep: windows nest and replay") {
    import spark.implicits._
    val got = q("ev_attribution_window_sweep").fn(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // nesting invariants
    for ((_, p1, p3, p7, c1, c3, c7) <- got) {
      assert(p1 <= p3 && p3 <= p7 && c1 <= c3 && c3 <= c7)
    }
    val DayNs = 86400L * 1000 * 1000 * 1000
    val evs = graft.model.Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val convs = evs.filter(_._4 == "purchase")
    val touches = evs.filter(e => e._4 == "view" || e._4 == "click")
      .groupBy(_._1).view.mapValues(_.toSeq).toMap
    val pairs = convs.toSeq.flatMap { case (u, cts, cid, _) =>
      touches.getOrElse(u, Seq.empty)
        .filter(t => t._2 < cts && cts - t._2 <= 7 * DayNs)
        .map(t => (t._4, u, cid, cts - t._2))
    }
    val expected = pairs.groupBy(_._1).toSeq.map { case (ch, ps) =>
      def cnt(w: Long) = ps.count(_._4 <= w).toLong
      def cv(w: Long) =
        ps.filter(_._4 <= w).map(p => (p._2, p._3)).distinct.size.toLong
      (ch, cnt(DayNs), cnt(3 * DayNs), ps.size.toLong,
        cv(DayNs), cv(3 * DayNs), cv(7 * DayNs))
    }.sortBy(_._1)
    assert(got == expected)
  }

  test("qa_kendall_tau: in-memory pair-classification replay") {
    import spark.implicits._
    val got = q("qa_kendall_tau").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long, Option[Long])].head()
    val DayNs = 86400L * 1000 * 1000 * 1000
    val byDay = graft.model.Tables.events(spark, sf)
      .select($"ts", $"value").as[(Long, Double)].collect()
      .groupBy(_._1 / DayNs).view
      .mapValues(es => (es.map(e => cents(e._2)).sum, es.size.toLong))
      .toSeq.sortBy(_._1).map(_._2)
    val pairs = for {
      i <- byDay.indices; j <- (i + 1) until byDay.size
    } yield (byDay(i), byDay(j))
    val n0 = pairs.size.toLong
    val c = pairs.count { case ((x1, y1), (x2, y2)) =>
      (x2 > x1 && y2 > y1) || (x2 < x1 && y2 < y1) }.toLong
    val dd = pairs.count { case ((x1, y1), (x2, y2)) =>
      (x2 > x1 && y2 < y1) || (x2 < x1 && y2 > y1) }.toLong
    val tx = pairs.count { case ((x1, _), (x2, _)) => x1 == x2 }.toLong
    val ty = pairs.count { case ((_, y1), (_, y2)) => y1 == y2 }.toLong
    val denom = BigInt(n0 - tx) * (n0 - ty)
    val expected =
      if (denom == 0) None
      else Some(((if (c < dd) -BigInt(1) else BigInt(1)) *
        (BigInt(c - dd) * (c - dd) * 1000 / denom)).toLong)
    assert(got == ((n0, c, dd, tx, ty, expected)))
  }

  test("gr_clustering_coeff: in-memory Watts-Strogatz replay") {
    import spark.implicits._
    val got = q("gr_clustering_coeff").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // same kept-graph replay as the truss spec
    val baskets = graft.model.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val wts = baskets.values.toSeq
      .flatMap(ps => ps.toSeq.sorted.combinations(2).map(c => (c(0), c(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val symW = wts.toSeq.flatMap { case ((u, v), w) => Seq((u, v, w), (v, u, w)) }
    val kept = symW.groupBy(_._1).values.flatMap { es =>
      es.sortBy(e => (-e._3, e._2)).take(10)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
    }.toSet
    val adj = kept.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = adj.toSeq
      .filter(_._2.size >= 2)
      .map { case (node, ns) =>
        val s2 = ns.toSeq.map(v => (ns & adj(v)).size.toLong).sum
        val deg = ns.size.toLong
        (node, deg, s2, s2 * 1000000L / (deg * (deg - 1)))
      }
      .sortBy(e => (-e._4, e._1)).take(20)
    assert(got == expected)
  }

  test("sim_pq_recall_eval: metric laws + independent exact-truth cross-check") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.exprs.sq_dist_e9
    val got = q("sim_pq_recall_eval").fn(spark, sf)
      .as[(Long, Long, Long)].head()
    val (hits10, recallPct, inShort30) = got
    assert(hits10 >= 0 && hits10 <= 10)
    assert(recallPct == hits10 * 10)
    // the 30-deep shortlist can only retain MORE of the exact top-10
    // than the ADC top-10 does
    assert(inShort30 >= hits10 && inShort30 <= 10)
    // independent exact top-10 via the gated kernel; the separately
    // gated pq_topk output re-ranks WITHIN the same 30-deep shortlist,
    // so every exact-top-10 member it surfaces must be counted by
    // exact_in_short30
    val emb = graft.model.Tables.embeddings(spark, sf)
    val qe = emb.filter($"vec_id" === 0)
      .select($"embedding").as[Seq[Float]].head()
    val exact10 = emb.filter($"vec_id" =!= 0)
      .select($"vec_id", sq_dist_e9($"embedding", typedLit(qe), 0).as("d"))
      .as[(Long, Long)].collect().sortBy(e => (e._2, e._1))
      .take(10).map(_._1).toSet
    val pqTop = q("sim_pq_topk").fn(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    assert(inShort30 >= (pqTop & exact10).size,
      "shortlist retention undercounts the exact members pq_topk surfaced")
  }

  test("gr_closeness_centrality: bitmask BFS equals naive per-seed BFS") {
    import spark.implicits._
    val got = q("gr_closeness_centrality").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val edges = graft.model.Tables.lineitem(spark, sf)
      .select(($"l_partkey" * 2).as("s"), ($"l_suppkey" * 2 + 1).as("t"))
      .distinct().as[(Long, Long)].collect()
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seeds = graft.model.Tables.supplier(spark, sf)
      .filter($"s_nationkey" === 0)
      .select(($"s_suppkey" * 2 + 1).as("seed")).as[Long]
      .collect().sorted.take(16)
    val expected = seeds.toSeq.flatMap { seed =>
      val hops = scala.collection.mutable.Map(seed -> 0)
      var frontier = Seq(seed)
      for (h <- 1 to 4) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Array.empty[Long]).toSeq)
          .distinct.filterNot(n => hops.contains(n))
        frontier.foreach(n => hops(n) = h)
      }
      val reachedHops = hops.toSeq.filter(_._2 >= 1).map(_._2.toLong)
      if (reachedHops.isEmpty) None
      else {
        val reached = reachedHops.size.toLong
        val sumH = reachedHops.sum
        val harm = reachedHops.map(1000000L / _).sum
        Some((seed, reached, sumH, harm, reached * 1000000L / sumH))
      }
    }.sortBy(_._1)
    assert(got == expected)
  }
}
