package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch six: the dataset card
  * reconciled against the separately-gated stages it composes, and a
  * full naive RAKE replay.
  */
class Round7nOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  test("pipe_dataset_card: card reconciles with the gated stages it composes") {
    import spark.implicits._
    val got = q("pipe_dataset_card").fn(spark, sf)
      .as[(String, Long, Long, String, Long, Long, Long)].collect()
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"lang", $"text")
      .as[(Long, String, String, String)].collect()
    val keep = q("ta_gopher_rules").fn(spark, sf)
      .select($"doc_id", $"keep").as[(Long, Long)].collect().toMap
    val naive = docs.groupBy(_._2).toSeq.sortBy(_._1).map { case (src, rows) =>
      val n = rows.length.toLong
      val toks = rows.map(_._4.split(" ", -1).length.toLong).sum
      val (topLang, topN) = rows.groupBy(_._3).view.mapValues(_.length.toLong)
        .toSeq.minBy { case (l, c) => (-c, l) }
      val dupDocs = rows.groupBy(_._4).values.filter(_.length > 1)
        .map(_.length.toLong).sum
      val kept = rows.map(r => keep(r._1)).sum
      (src, n, toks, topLang, topN * 1000000 / n, dupDocs, kept * 1000000 / n)
    }
    assert(got.toSeq == naive)
    assert(got.length == 20)
    assert(got.exists(_._6 > 0) || got.forall(_._6 == 0)) // dup column honest
  }

  test("ta_rake_keyphrases: naive RAKE replay (degree/freq, phrase sums)") {
    import spark.implicits._
    val got = q("ta_rake_keyphrases").fn(spark, sf)
      .as[(String, Long, Long)].collect()
    val Stop = Set("the", "a", "of", "and", "el", "la", "de", "y",
      "der", "die", "das", "und", "le", "et", "un")
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"text").as[String].collect()
    val phrases = docs.flatMap { t =>
      val runs = scala.collection.mutable.ArrayBuffer[List[String]]()
      val cur = scala.collection.mutable.ArrayBuffer[String]()
      t.split(" ", -1).foreach { w =>
        if (Stop(w)) { if (cur.nonEmpty) runs += cur.toList; cur.clear() }
        else cur += w
      }
      if (cur.nonEmpty) runs += cur.toList
      runs.filter(_.length <= 4)
    }
    val freq = scala.collection.mutable.Map[String, Long]()
    val deg = scala.collection.mutable.Map[String, Long]()
    phrases.foreach { p =>
      p.foreach { w =>
        freq(w) = freq.getOrElse(w, 0L) + 1
        deg(w) = deg.getOrElse(w, 0L) + p.length
      }
    }
    val wscore = freq.keys.map(w => w -> deg(w) * 1000 / freq(w)).toMap
    val occ = phrases.groupBy(_.mkString(" ")).view.mapValues(_.length.toLong)
    val naive = occ.toSeq.map { case (ph, n) =>
      (ph, n, ph.split(" ", -1).map(wscore).sum)
    }.sortBy { case (ph, _, sc) => (-sc, ph) }.take(15)
    assert(got.toSeq == naive)
    assert(got.exists(_._1.contains(" "))) // multi-word phrases surface
  }
}
