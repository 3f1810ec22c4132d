package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch three: naive replays for
  * k-core peeling, the shingle-space dedup eval, the seasonal-naive
  * backtest, and the audio landmark fingerprints — plus the
  * non-vacuity asserts (nodes actually peel, truth/pred both
  * non-empty, alarm arms fire).
  */
class Round7kOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  /** The shared top-10-sparsified co-purchase edge set, re-derived
    * naively (same as Round7iOpsSpec's modularity replay).
    */
  private def naiveKept(): Set[(Long, Long)] = {
    import spark.implicits._
    val li = graft.model.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val pairW = scala.collection.mutable.Map[(Long, Long), Long]()
    li.groupBy(_._1).values.foreach { rows =>
      val ps = rows.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length)
        pairW((ps(i), ps(j))) = pairW.getOrElse((ps(i), ps(j)), 0L) + 1
    }
    val symw = pairW.toSeq.flatMap { case ((u, v), w) => Seq((u, v, w), (v, u, w)) }
    symw.groupBy(_._1).values.flatMap { nbrs =>
      nbrs.sortBy { case (_, v, w) => (-w, v) }.take(10)
        .map { case (u, v, _) => (math.min(u, v), math.max(u, v)) }
    }.toSet
  }

  test("gr_kcore: naive synchronous peeling replay; peeling actually bites") {
    import spark.implicits._
    val got = q("gr_kcore").fn(spark, sf).as[(Long, Long)].collect()
    val kept = naiveKept()
    var alive: Set[Long] = kept.flatMap(e => Seq(e._1, e._2))
    val nAll = alive.size
    for (_ <- 1 to 3) {
      val deg = scala.collection.mutable.Map[Long, Long]()
      kept.foreach { case (u, v) =>
        if (alive(u) && alive(v)) {
          deg(u) = deg.getOrElse(u, 0L) + 1; deg(v) = deg.getOrElse(v, 0L) + 1
        }
      }
      alive = deg.filter(_._2 >= 12).keySet.toSet
    }
    val finalDeg = scala.collection.mutable.Map[Long, Long]()
    kept.foreach { case (u, v) =>
      if (alive(u) && alive(v)) {
        finalDeg(u) = finalDeg.getOrElse(u, 0L) + 1
        finalDeg(v) = finalDeg.getOrElse(v, 0L) + 1
      }
    }
    assert(got.toSeq == finalDeg.toSeq.sortBy(_._1))
    assert(got.nonEmpty && got.length < nAll) // peeling removed nodes
  }

  test("td_dedup_eval: shingle-space truth re-derived; LSH metrics agree") {
    import spark.implicits._
    val Seq(got) = q("td_dedup_eval").fn(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val shingles = docs.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val truth = (for {
      i <- shingles.indices; j <- i + 1 until shingles.length
      (d1, s1) = shingles(i); (d2, s2) = shingles(j)
      ni = (s1 & s2).size
      if 2 * ni >= s1.size + s2.size - ni
    } yield (math.min(d1, d2), math.max(d1, d2))).toSet
    val pred = q("td_minhash_lsh_pairs").fn(spark, sf)
      .as[(Long, Long)].collect().toSet
    val tp = pred.count(truth)
    assert(got == ((truth.size.toLong, pred.size.toLong, tp.toLong,
      if (pred.isEmpty) 0L else tp.toLong * 100 / pred.size,
      if (truth.isEmpty) 0L else tp.toLong * 100 / truth.size)))
    assert(truth.nonEmpty && pred.nonEmpty) // non-vacuous on both axes
  }

  test("ev_forecast_backtest: naive lag-7 backtest agrees") {
    import spark.implicits._
    val got = q("ev_forecast_backtest").fn(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    val DayNs = 86400L * 1000 * 1000 * 1000
    val daily = graft.model.Tables.events(spark, sf)
      .select($"event_type", $"ts", round($"value" * 100).cast("long"))
      .as[(String, Long, Long)].collect()
      .groupBy(e => (e._1, e._2 / DayNs))
      .view.mapValues(_.map(_._3).sum).toMap
    val naive = daily.keys.map(_._1).toSeq.distinct.sorted.map { t =>
      val errs = daily.collect {
        case ((`t`, day), actual) if daily.contains((t, day - 7)) =>
          (math.abs(actual - daily((t, day - 7))), actual)
      }.toSeq
      (t, errs.length.toLong,
        errs.map(_._1).sum / errs.length,
        errs.map(_._1).sum * 1000000L / errs.map(_._2).sum)
    }
    assert(got.toSeq == naive)
    assert(got.forall(r => r._2 > 0 && r._4 > 0))
  }

  test("mm_audio_fingerprint: naive landmark replay with df cap") {
    import spark.implicits._
    val got = q("mm_audio_fingerprint").fn(spark, sf)
      .as[(Long, Long, Long)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val fps = scala.collection.mutable.Map[Long, Set[String]]()
    docs.foreach { case (id, text) =>
      val b = text.getBytes("UTF-8")
      val energies = b.grouped(100).map(
        _.map(x => math.abs((x & 0xff) - 100).toLong).sum).toArray
      val peaks = (1 until energies.length - 1).collect {
        case f if energies(f) > energies(f - 1) && energies(f) > energies(f + 1) =>
          (f, energies(f) / 100)
      }
      val pairs = for {
        i <- peaks.indices; j <- i + 1 until peaks.length
        dt = peaks(j)._1 - peaks(i)._1
        if dt >= 1 && dt <= 5
      } yield md5hex(s"${peaks(i)._2}:${peaks(j)._2}:$dt")
      if (pairs.nonEmpty) fps(id) = pairs.toSet
    }
    val df = scala.collection.mutable.Map[String, Long]()
    fps.values.foreach(_.foreach(f => df(f) = df.getOrElse(f, 0L) + 1))
    val keptFp = df.filter(_._2 <= 64).keySet
    val shared = scala.collection.mutable.Map[(Long, Long), Long]()
    val ids = fps.keys.toSeq.sorted
    for (i <- ids.indices; j <- i + 1 until ids.length) {
      val n = (fps(ids(i)) & fps(ids(j))).count(keptFp)
      if (n > 0) shared((ids(i), ids(j))) = n
    }
    val naive = shared.toSeq.map { case ((a, b), n) => (a, b, n) }
      .sortBy { case (a, b, n) => (-n, a, b) }.take(20)
    assert(got.toSeq == naive)
    assert(got.length == 20 && got.head._3 >= 1)
  }
}
