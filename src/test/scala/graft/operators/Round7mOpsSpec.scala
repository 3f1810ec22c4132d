package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch five: the language-ID
  * confusion matrix reconciled against the separately-gated classifier
  * output, freshness-lag domain laws, and a full naive quadtree
  * replay with both split and kept arms exercised.
  */
class Round7mOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  test("ta_lang_confusion: matrix reconciles with the gated classifier output") {
    import spark.implicits._
    val got = q("ta_lang_confusion").fn(spark, sf)
      .as[(String, String, Long, Long, Long)].collect()
    val preds = q("ta_language_id").fn(spark, sf)
      .select($"labeled_lang", $"predicted_lang")
      .as[(String, String)].collect()
    val cells = preds.groupBy(identity).view.mapValues(_.length.toLong)
    val rows = preds.groupBy(_._1).view.mapValues(_.length.toLong)
    val naive = cells.toSeq.map { case ((l, p), n) =>
      (l, p, n, rows(l), n * 1000000 / rows(l))
    }.sortBy(r => (r._1, r._2))
    assert(got.toSeq == naive)
    assert(got.map(_._3).sum == preds.length)      // matrix covers all docs
    assert(got.exists(r => r._1 == r._2))          // some correct predictions
    assert(got.exists(r => r._1 != r._2))          // and some real confusions
  }

  test("qa_freshness_lag: per-type max-ts lags; exactly one zero-lag stream") {
    import spark.implicits._
    val got = q("qa_freshness_lag").fn(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    val ev = graft.model.Tables.events(spark, sf)
      .select($"event_type", $"ts").as[(String, Long)].collect()
    val lastByType = ev.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val wm = lastByType.values.max
    val naive = lastByType.toSeq.sortBy(_._1).map { case (t, last) =>
      (t, ev.count(_._1 == t).toLong, last, wm - last,
        if (wm - last > 86400L * 1000 * 1000 * 1000) 1L else 0L)
    }
    assert(got.toSeq == naive)
    assert(got.count(_._4 == 0L) >= 1)             // the watermark stream
    assert(got.forall(r => r._4 >= 0))
  }

  test("geo_quadtree_density: naive adaptive split; both arms populated") {
    import spark.implicits._
    val got = q("geo_quadtree_density").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    val pts = GeoQueries.SpatialGrid.pointsWithCell(spark, sf)
      .select($"c_layer", $"px", $"py").as[(Long, Double, Double)].collect()
    val l0 = pts.groupBy(p =>
      (p._1, math.floor(p._2 / 32).toLong, math.floor(p._3 / 32).toLong))
    val naive = l0.toSeq.flatMap { case ((l, qx, qy), ps) =>
      if (ps.length <= 8) Seq((l, 0L, qx, qy, ps.length.toLong))
      else ps.groupBy(p =>
        (math.floor(p._2 / 16).toLong, math.floor(p._3 / 16).toLong))
        .map { case ((hx, hy), cs) => (l, 1L, hx, hy, cs.length.toLong) }
    }.sortBy(r => (r._1, r._2, r._3, r._4))
    assert(got.toSeq == naive)
    assert(got.exists(_._2 == 0L) && got.exists(_._2 == 1L))
    // conservation: level-1 children carry exactly the split cells' points
    assert(got.map(_._5).sum == pts.length)
  }
}
