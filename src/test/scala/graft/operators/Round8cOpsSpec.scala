package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 batch-2/3/4 operator replays: each result re-derived by an
  * independent in-memory implementation over the collected fixture —
  * the oracle gate proves cross-engine parity, these prove the MATH.
  */
class Round8cOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  /** (user, ts, event_id, type) ordered — the shared event replay base. */
  private lazy val events = {
    import spark.implicits._
    graft.model.Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[(Long, Long, Long, String)].collect()
  }

  test("ev_markov_stationary: in-memory power-iteration replay") {
    import spark.implicits._
    val got = q("ev_markov_stationary").fn(spark, sf)
      .as[(String, Long)].collect().toMap
    // transitions from per-user time-ordered leads
    val trans = events.groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._2, e._3)).map(_._4)
      sorted.zip(sorted.tail)
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rowTot = trans.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val p = trans.map { case ((f, t), c) => (f, t) -> (1000000L * c / rowTot(f)) }
    val states = rowTot.keySet.toSeq.sorted
    var pi: Map[String, Long] = states.map(_ -> 1000000L / states.size).toMap
    for (_ <- 1 to 3) {
      pi = p.toSeq.flatMap { case ((f, t), pe6) =>
        pi.get(f).map(x => t -> (x * pe6 / 1000000L))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    }
    assert(got == pi)
  }

  test("ev_burst_detection: trailing-window replay") {
    import spark.implicits._
    val got = q("ev_burst_detection").fn(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val HourNs = 3600L * 1000 * 1000 * 1000
    val buckets = events.groupBy(e => (e._4, e._2 / HourNs)).view
      .mapValues(_.size.toLong).toSeq
      .groupBy(_._1._1).view.mapValues(_.sortBy(_._1._2)).toMap
    val expected = buckets.flatMap { case (tpe, hs) =>
      hs.zipWithIndex.flatMap { case (((_, h), cnt), i) =>
        val prev = hs.slice(math.max(0, i - 24), i).map(_._2)
        if (prev.size >= 12 && cnt * prev.size > prev.sum * 3)
          Some((tpe, h, cnt, prev.sum, prev.size.toLong))
        else None
      }
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty) // the gate fixture must actually fire
  }

  test("qa_cramers_v is the aggregate of the chi2 cell table") {
    import spark.implicits._
    val cells = q("qa_chi2_independence").fn(spark, sf)
      .select($"event_type", $"dow", $"chi2_e6")
      .as[(String, Long, Long)].collect()
    val (n, r, c, chi2, v2) = q("qa_cramers_v").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(r == cells.map(_._1).distinct.length)
    assert(c == cells.map(_._2).distinct.length)
    assert(chi2 == cells.map(_._3).sum)
    assert(v2 == chi2 / (n * (math.min(r, c) - 1)))
  }

  test("gr_katz_centrality: in-memory three-hop replay") {
    import spark.implicits._
    val got = q("gr_katz_centrality").fn(spark, sf)
      .as[(Long, Long)].collect().toSeq
    val sym = graft.model.Tables.lineitem(spark, sf)
      .select(($"l_partkey" * 2).as("s"), ($"l_suppkey" * 2 + 1).as("d"))
      .distinct().as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val inEdges = sym.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val nodes = sym.map(_._1).distinct
    var x: Map[Long, Long] = nodes.map(_ -> 1000000L).toMap
    var katz: Map[Long, Long] = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      x = inEdges.view.mapValues(_.map(u => x.getOrElse(u, 0L) / 10).sum).toMap
      katz = katz.map { case (v, k) => v -> (k + x.getOrElse(v, 0L)) }
    }
    val top20 = katz.toSeq.sortBy { case (v, k) => (-k, v) }.take(20)
    assert(got == top20)
  }

  test("mm_frame_dedup keeps exactly one frame per scene") {
    import spark.implicits._
    val got = q("mm_frame_dedup").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val meta = graft.model.Tables.documents(spark, sf)
      .select($"doc_id",
        (expr("CAST(conv(substring(md5(text), 7, 2), 16, 10) AS INT)") + 10)
          .as("nf"),
        (expr("CAST(conv(substring(md5(text), 9, 1), 16, 10) AS INT)") % 4 + 2)
          .as("sl"))
      .as[(Long, Int, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.length == meta.size)
    for ((docId, nFrames, nKept, nDropped) <- got) {
      val (nf, sl) = meta(docId)
      assert(nFrames == nf)
      // one kept frame per scene: ceil(n_frames / scene_len)
      assert(nKept == (nf + sl - 1) / sl,
        s"doc $docId: kept $nKept, frames $nf, scene_len $sl")
      assert(nDropped == nFrames - nKept)
    }
  }
}
