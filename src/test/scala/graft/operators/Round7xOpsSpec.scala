package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 session-10 batch sixteen: the pHash Hamming
  * histogram (rolled up by hand from the gated pair table),
  * personalized PageRank (exact integer 3-round replay), and the
  * varint posting-size estimate (gap pricing replayed in Scala).
  */
class Round7xOpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  test("mm_phash_hamming_hist: hand roll-up of the gated banded pairs") {
    import spark.implicits._
    val got = q("mm_phash_hamming_hist").fn(spark, sf)
      .as[(Int, Long, Long)].collect().toSeq
    val hams = q("mm_phash_neardup").fn(spark, sf)
      .select($"hamming").as[Int].collect()
    val hist = hams.groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy(_._1)
    var cum = 0L
    val naive = hist.map { case (h, n) => cum += n; (h, n, cum) }
    assert(got == naive)
    assert(got.last._3 == hams.length.toLong)
  }

  test("gr_personalized_pagerank: exact integer 3-round replay from the seed") {
    import spark.implicits._
    val got = q("gr_personalized_pagerank").fn(spark, sf)
      .as[(Long, Long)].collect().toSeq
    val edges = graft.model.Tables.lineitem(spark, sf)
      .select($"l_partkey" * 2, $"l_suppkey" * 2 + 1).distinct()
      .as[(Long, Long)].collect()
    val sym = edges ++ edges.map(e => (e._2, e._1))
    val deg = sym.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val seed = edges.map(_._1).min
    var pr = deg.keys.map(n => n -> (if (n == seed) 1000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      val contrib = pr.map { case (n, v) => n -> v / deg(n) }
      val in = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => contrib(e._1)).sum
      }
      pr = in.map { case (n, m) =>
        n -> (85L * m / 100 + (if (n == seed) 150000L else 0L))
      }
    }
    val naive = pr.toSeq.filter(_._2 > 0)
      .sortBy { case (n, v) => (-v, n) }.take(10)
    assert(got == naive)
    assert(got.map(_._2) == got.map(_._2).sorted(Ordering[Long].reverse))
    assert(got.exists(_._1 == seed)) // restart mass keeps the seed hot
  }

  test("ta_postings_varint_size: gap pricing replayed") {
    import spark.implicits._
    val got = q("ta_postings_varint_size").fn(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val postings = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", explode(array_distinct(split($"text", " "))))
      .as[(Long, String)].collect()
    def cls(gap: Long): Long =
      if (gap < 128) 1 else if (gap < 16384) 2 else if (gap < 2097152) 3
      else if (gap < 268435456) 4 else if (gap < 34359738368L) 5 else 6
    val gaps = postings.groupBy(_._2).values.flatMap { ps =>
      val ids = ps.map(_._1).sorted
      (ids.head + 1) +: ids.zip(ids.tail).map(p => p._2 - p._1)
    }.toSeq
    val naive = gaps.groupBy(cls).toSeq.sortBy(_._1)
      .map { case (c, g) => (c, g.length.toLong, g.length.toLong * c) }
    assert(got == naive)
    assert(got.map(_._2).sum == postings.length.toLong)
  }
}
