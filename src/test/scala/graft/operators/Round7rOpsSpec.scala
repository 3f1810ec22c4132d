package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch ten: Heaps curve, term
  * burstiness, Pareto concentration, and the truncated-hash collision
  * audit — each re-derived naively in exact Scala arithmetic.
  */
class Round7rOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  private def docs() = {
    import spark.implicits._
    graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
  }

  test("ta_heaps_vocab_curve: naive first-seen replay; curve is a real Heaps curve") {
    import spark.implicits._
    val got = q("ta_heaps_vocab_curve").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val ds = docs()
    val lo = ds.map(_._1).min; val hi = ds.map(_._1).max
    def dec(id: Long): Long = math.min(10L, 1L + (id - lo) * 10 / (hi - lo + 1))
    val firstSeen = scala.collection.mutable.Map[String, Long]()
    ds.sortBy(_._1).foreach { case (id, t) =>
      t.split(" ", -1).foreach(w =>
        if (!firstSeen.contains(w)) firstSeen(w) = id)
    }
    val docCnt = ds.groupBy(d => dec(d._1)).view.mapValues(_.size.toLong).toMap
    val newW = firstSeen.values.groupBy(dec).view.mapValues(_.size.toLong).toMap
    var dc = 0L; var vc = 0L
    val naive = (1L to 10L).map { k =>
      dc += docCnt.getOrElse(k, 0L); vc += newW.getOrElse(k, 0L)
      (k, dc, vc, newW.getOrElse(k, 0L))
    }
    assert(got == naive)
    assert(got.last._2 == ds.length.toLong)
    assert(got.last._3 == firstSeen.size.toLong)
    // vocab keeps growing but decelerates overall (Heaps): the first
    // decile mints more new words than the last
    assert(got.map(_._3) == got.map(_._3).sorted)
    assert(got.head._4 > got.last._4)
  }

  test("ta_burstiness_topk: BigInt VMR replay; content terms burst above Poisson") {
    import spark.implicits._
    val got = q("ta_burstiness_topk").fn(spark, sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    val ds = docs()
    val n = BigInt(ds.length)
    val counts = scala.collection.mutable.Map[(String, Long), Long]()
    ds.foreach { case (id, t) =>
      t.split(" ", -1).foreach(w =>
        counts((w, id)) = counts.getOrElse((w, id), 0L) + 1)
    }
    val perWord = counts.toSeq.groupBy(_._1._1).map { case (w, xs) =>
      val tf = xs.map(x => BigInt(x._2)).sum
      val sx2 = xs.map(x => BigInt(x._2) * x._2).sum
      (w, tf, xs.size.toLong, sx2)
    }.toSeq
    val top = perWord.sortBy { case (w, tf, _, _) => (-tf, w) }.take(20)
    val naive = top.map { case (w, tf, df, sx2) =>
      (w, tf.toLong, df, ((n * sx2 - tf * tf) * 1000000 / (n * tf)).toLong)
    }
    assert(got == naive)
    assert(got.exists(_._4 > 1000000L)) // super-Poisson burstiness exists
  }

  test("ev_pareto_concentration: brute-force top-k replay; shares nest and exceed uniform") {
    import spark.implicits._
    val got = q("ev_pareto_concentration").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val perUser = graft.model.Tables.events(spark, sf)
      .groupBy($"user_id").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect()
    val sorted = perUser.map(_._2).sorted(Ordering[Long].reverse)
    val u = sorted.length.toLong
    val e = sorted.map(BigInt(_)).sum
    val naive = Seq(1L, 5L, 10L, 20L, 50L).map { p =>
      val k = (u * p + 99) / 100
      val top = sorted.take(k.toInt).map(BigInt(_)).sum
      (p, k, top.toLong, (top * 1000000 / e).toLong)
    }
    assert(got == naive)
    // top-p% of users always carry at least p% of events
    got.foreach { case (p, _, _, ppm) => assert(ppm >= p * 10000) }
    assert(got.map(_._4) == got.map(_._4).sorted) // shares nest
  }

  test("td_hash_collision_audit: exact pair accounting vs a Scala md5 replay") {
    import spark.implicits._
    val Seq(gotRow) = q("td_hash_collision_audit").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val ds = docs()
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val byBucket = ds.map(_._2).groupBy(t => md5hex(t).take(3))
    val n = ds.length.toLong
    val nBuckets = byBucket.size.toLong
    val maxB = byBucket.values.map(_.size).max.toLong
    val dupPairs = byBucket.values.flatMap(_.groupBy(identity).values)
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    val allPairs = byBucket.values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    val fp = allPairs - dupPairs
    val ppb = (BigInt(fp) * 2 * 1000000000L / (BigInt(n) * (n - 1))).toLong
    assert(gotRow == ((12L, n, nBuckets, maxB, dupPairs, fp, ppb)))
    assert(fp > 0L) // 12 bits at this corpus size: birthday bites
  }
}
