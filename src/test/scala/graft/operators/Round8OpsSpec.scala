package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 operator replays: the Zipf octave profile re-derived from
  * an in-memory rank sort (the operator itself never ranks the
  * vocabulary globally — that's the point being checked), the epoch
  * shuffle re-derived from MessageDigest, and the IVF→PQ composition's
  * structural contract (candidates come only from the probed cells).
  */
class Round8OpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  test("ta_zipf_octave_decay: histogram-range device equals a global rank sort") {
    import spark.implicits._
    val got = q("ta_zipf_octave_decay").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // naive replay: rank every word globally, bucket ranks by octave
    val words = graft.model.Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("w"))
      .as[String].collect()
    val freq = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ranked = freq.toSeq.sortBy { case (w, f) => (-f, w) }.zipWithIndex
      .map { case ((_, f), i) => (i + 1L, f) } // (rank, freq)
    val byOct = ranked.groupBy { case (r, _) =>
      (63 - java.lang.Long.numberOfLeadingZeros(r)).toLong // floor(log2 r)
    }.toSeq.sortBy(_._1).map { case (o, rs) =>
      (o, rs.size.toLong, rs.map(_._2).sum)
    }
    val expected = byOct.zip((0L, 0L, 0L) +: byOct).map {
      case ((o, nw, tm), (_, _, prevTm)) =>
        (o, nw, tm, if (prevTm == 0) 0L else tm * 1000 / prevTm)
    }
    assert(got == expected)
    // the rank-frequency law actually decays: every octave past the
    // head carries no MORE mass per word than the one before
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(b._3 / math.max(b._2, 1) <= a._3 / math.max(a._2, 1))
    case _ => }
  }

  test("td_epoch_shuffle: md5 bucket manifest replays from MessageDigest") {
    import spark.implicits._
    val got = q("td_epoch_shuffle").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", size(split($"text", " ")).cast("long"))
      .as[(Long, Long)].collect()
    def bucket(e: Int, id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$e#$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 2), 16)
    }
    val expected = docs.groupBy { case (id, _) => bucket(1, id) }
      .toSeq.sortBy(_._1).map { case (b, rows) =>
        (b, rows.size.toLong, rows.map(_._2).sum,
          rows.count { case (id, _) => bucket(2, id) == b }.toLong)
      }
    assert(got == expected)
    // epoch independence: staying put is the 1/256 exception
    assert(got.map(_._4).sum < docs.length / 64)
  }

  test("adaptive LSH geometry: boundaries pinned, fixture scale keeps 6 planes") {
    import SimilarityQueries.lshGeometry
    // ≤ 16k vectors: the 6-plane oracle geometry, exactly
    assert(lshGeometry(1) == 6)
    assert(lshGeometry(500) == 6)
    assert(lshGeometry(16000) == 6)
    // each corpus doubling past 16k adds one plane
    assert(lshGeometry(16001) == 7)
    assert(lshGeometry(32000) == 7)
    assert(lshGeometry(64000) == 8)
    // the clamp binds at 20 planes (~260M vectors)
    assert(lshGeometry(1L << 40) == 20)
    // at the gate fixture the adaptive graph IS the 6-plane graph:
    // Round7pOpsSpec's fixed-6 replay of sim_knn_graph passing is the
    // executable form of this identity; here we pin the count it
    // rests on
    val n = graft.model.Tables.embeddings(spark, sf).count()
    assert(lshGeometry(n) == 6, s"fixture n=$n left the oracle geometry")
  }

  test("sim_ivf_pq_compose: results come only from the probed cells, ADC-shortlisted") {
    import spark.implicits._
    val got = q("sim_ivf_pq_compose").fn(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.size == 10)
    // exact distances ascend with the (dist, vec_id) tie-break
    assert(got.map(r => (r._3, r._1)) == got.map(r => (r._3, r._1)).sorted)
    // every result sits in one of (at most) 2 IVF cells — the coarse
    // stage actually restricted the scan
    val assigned = SimilarityQueries.ivfAssigned(spark, sf, kCents = 8)
    val cellOf = assigned.select($"vec_id", $"cent_id")
      .as[(Long, Long)].collect().toMap
    val resultCells = got.map(r => cellOf(r._1)).toSet
    assert(resultCells.size <= 2,
      s"results span ${resultCells.size} cells — IVF stage not restricting")
    // and the composition is NOT the unrestricted PQ search: the two
    // must be allowed to differ, but the exact re-rank contract (top
    // 10 of the shortlist by full-dim distance) must hold regardless
    assert(got.map(_._3).distinct.size > 1)
  }

  test("qa_theil_sen_slope: pairwise-median replay from raw events") {
    import spark.implicits._
    val got = q("qa_theil_sen_slope").fn(spark, sf)
      .as[(Long, Long, Long)].collect().head
    val DayNs = 86400L * 1000 * 1000 * 1000
    val byDay = graft.model.Tables.events(spark, sf)
      .select(expr(s"ts div $DayNs").as("day"),
        round($"value" * 100).cast("long").as("v"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val slopes = (for {
      (d1, y1) <- byDay; (d2, y2) <- byDay if d1 < d2
    } yield {
      val dy = BigInt(y2) - BigInt(y1)
      val s = (dy.abs * 1000000) / (d2 - d1) // truncate-toward-zero
      (if (dy < 0) -s else s).toLong
    }).sorted
    val n = slopes.length
    assert(got._1 == n)
    assert(got._2 == slopes((n + 1) / 2 - 1)) // lower middle (1-based (n+1)/2)
    assert(got._3 == slopes(n / 2))           // upper middle (1-based n/2+1)
  }

  test("gr_random_walks: every step is the hash-argmin neighbour of the last") {
    import spark.implicits._
    val got = q("gr_random_walks").fn(spark, sf)
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2)).toMap
    val adj = graft.model.Tables.lineitem(spark, sf)
      .select(($"l_partkey" * 2).as("s"), ($"l_suppkey" * 2 + 1).as("d"))
      .distinct().as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val seeds = graft.model.Tables.supplier(spark, sf)
      .filter($"s_nationkey" === 0).select(($"s_suppkey" * 2 + 1))
      .as[Long].collect().toSet
    assert(got.keySet == seeds)
    for ((walk, path) <- got) {
      assert(path.head == walk)
      for (step <- 1 until path.length) {
        val cur = path(step - 1)
        val expected = adj(cur)
          .map(n => ((cur * 1009 + n * 9176 + step * 31) % 1000003, n))
          .min
        assert(path(step) == expected._2,
          s"walk $walk step $step: got ${path(step)}, want ${expected._2}")
      }
    }
  }

  test("gr_closeness_centrality: per-seed BFS replay to the radius bound") {
    import spark.implicits._
    val got = q("gr_closeness_centrality").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val adj = graft.model.Tables.lineitem(spark, sf)
      .select(($"l_partkey" * 2).as("s"), ($"l_suppkey" * 2 + 1).as("d"))
      .distinct().as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seeds = graft.model.Tables.supplier(spark, sf)
      .filter($"s_nationkey" === 0).select(($"s_suppkey" * 2 + 1))
      .as[Long].collect().sorted.take(16) // the CloLandmarks cap
    assert(got.keySet == seeds.toSet)
    for (seed <- seeds) {
      var dist = Map(seed -> 0)
      var frontier = Set(seed)
      for (round <- 1 to 4) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
          .diff(dist.keySet)
        dist ++= frontier.map(_ -> round)
        ()
      }
      val hops = dist.values.filter(_ >= 1).toSeq
      val (reached, sumHops, harm, clo) = got(seed)
      assert(reached == hops.length)
      assert(sumHops == hops.map(_.toLong).sum)
      assert(harm == hops.map(1000000L / _).sum)
      assert(clo == reached * 1000000L / sumHops)
    }
  }

  test("sim_ndcg_eval: graded-gain replay against an independent exact ranking") {
    import spark.implicits._
    val got = q("sim_ndcg_eval").fn(spark, sf)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.size == 10)
    // independent exact top-3 per probe: BigDecimal cosine over the
    // collected vectors, ranked in plain Scala
    val emb = graft.model.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    def cosE9(a: Array[Float], b: Array[Float]): Long = {
      // exact decimal partial sums (floats are exact in BigDecimal),
      // double only for the final divide — the kernel's contract
      var dot = BigDecimal(0); var na = BigDecimal(0); var nb = BigDecimal(0)
      for (i <- a.indices) {
        val x = BigDecimal(a(i).toDouble); val y = BigDecimal(b(i).toDouble)
        dot += x * y; na += x * x; nb += y * y
      }
      math.round(dot.toDouble / math.sqrt(na.toDouble * nb.toDouble) * 1e9)
    }
    val gains = emb.filter(_._1 < 10).map { case (pid, pe) =>
      val top3 = emb.filter(_._1 != pid)
        .map { case (cid, ce) => (-cosE9(pe, ce), cid) }.sorted.take(3)
      pid -> top3.zipWithIndex.map { case ((_, cid), i) => cid -> (3L - i) }.toMap
    }.toMap
    val ann = q("sim_lsh_ann_topk").fn(spark, sf)
      .as[(Long, Int, Long)].collect()
    val weights = Map(1 -> 1000000L, 2 -> 630929L, 3 -> 500000L)
    val dcg = ann.groupBy(_._1).view.mapValues(_.map { case (pid, rk, cid) =>
      gains(pid).getOrElse(cid, 0L) * weights(rk)
    }.sum).toMap
    val idcg = 3L * 1000000 + 2L * 630929 + 500000
    for ((pid, (dcgGot, ndcgGot)) <- got) {
      assert(dcgGot == dcg(pid), s"probe $pid dcg")
      assert(ndcgGot == dcgGot * 1000000 / idcg)
      assert(ndcgGot >= 0 && ndcgGot <= 1000000)
    }
  }
}
