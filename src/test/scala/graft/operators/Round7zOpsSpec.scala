package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch eighteen: silence-run
  * segmentation (RLE replayed over the gated frame flags) and the
  * k-center greedy coreset (the farthest-point loop replayed
  * driver-side over the gated cosine kernel).
  */
class Round7zOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  test("mm_silence_segments: RLE replay over the gated per-frame flags") {
    import spark.implicits._
    val got = q("mm_silence_segments").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val frames = q("mm_audio_energy").fn(spark, sf)
      .select($"doc_id", $"frame", $"is_silence")
      .as[(Long, Int, Int)].collect()
    val naive = frames.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, fs) =>
      val flags = fs.sortBy(_._2).map(_._3)
      val runs = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
      flags.foreach { f =>
        if (runs.nonEmpty && runs.last._1 == f)
          runs(runs.length - 1) = (f, runs.last._2 + 1)
        else runs += ((f, 1L))
      }
      val sil = runs.filter(_._1 == 1)
      (id, runs.length.toLong, sil.length.toLong,
        if (sil.isEmpty) 0L else sil.map(_._2).max,
        sil.map(_._2).sum * 1000000L / flags.length)
    }
    assert(got == naive)
    assert(got.exists(_._3 > 0)) // silence exists somewhere in the corpus
    got.foreach(r => assert(r._5 <= 1000000L))
  }

  test("sim_kcenter_coreset: farthest-point greedy replayed over the gated kernel") {
    import spark.implicits._
    import graft.functions.exprs.cosine_e9
    val got = q("sim_kcenter_coreset").fn(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val emb = graft.util.Cols.fanout(
      graft.model.Tables.embeddings(spark, sf))
      .select($"vec_id", $"embedding")
    var sel = Vector(0L)
    val naive = scala.collection.mutable.ArrayBuffer((1L, 0L, 1000000000L))
    for (r <- 2 to 5) {
      val selDf = emb.filter($"vec_id".isin(sel: _*))
        .select($"embedding".as("se"))
      val maxSims = emb.filter(!$"vec_id".isin(sel: _*))
        .crossJoin(broadcast(selDf))
        .select($"vec_id", cosine_e9($"embedding", $"se"))
        .as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq
      val (pick, mc) = maxSims.minBy { case (v, m) => (m, v) }
      naive += ((r.toLong, pick, mc))
      sel :+= pick
    }
    assert(got == naive.toSeq)
    // the minimax objective is non-decreasing as centers accumulate
    val vals = got.drop(1).map(_._3)
    assert(vals == vals.sorted)
  }
}
