package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-5 catalogue additions whose correctness rests on
  * a blocking/sparsification argument: each one is checked against an
  * independently-computed naive baseline (in-memory Scala or a
  * hand-built fixture with a worked-out answer), so a candidate-
  * generation bug fails HERE, not as an opaque oracle hash mismatch.
  */
class Round5OpsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = graft.TestSession.spark

  private def q(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // BM25 re-derived per row with BigInt arithmetic from the raw text —
  // an independent implementation of the integer-BM25 contract (same
  // formula, different engine path), so a truncation-order bug in the
  // SQL/DataFrame expressions shows up as a value diff.
  test("ta_bm25_rank matches a BigInt re-derivation from raw text") {
    import spark.implicits._
    val terms = Set("spark", "hash", "merge")
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val words = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val n = BigInt(docs.length)
    val a = words.values.map(_.size.toLong).sum * 10 / docs.length
    def score(id: Long): BigInt = {
      val dl = BigInt(words(id).size)
      terms.toSeq.map { t =>
        val tf = BigInt(words(id).count(_ == t))
        val df = BigInt(words.values.count(_.contains(t)))
        if (tf == 0) BigInt(0)
        else {
          val idf = (2 * (n - df) + 1) * 1000000 / (2 * df + 1)
          idf * 22 * a * tf / (10 * a * tf + 3 * a + 90 * dl)
        }
      }.sum
    }
    val got = q("ta_bm25_rank").fn(spark, sf).as[(Long, Long)].collect()
    assert(got.nonEmpty && got.forall(_._2 > 0))
    // descending, tie-broken by doc_id: the exact top-100 contract
    got.sliding(2).foreach { case Array((id1, s1), (id2, s2)) =>
      assert(s1 > s2 || (s1 == s2 && id1 < id2), s"order break at $id1/$id2")
    }
    got.foreach { case (id, s) =>
      assert(BigInt(s) == score(id), s"doc $id: got $s want ${score(id)}")
    }
  }

  // Hand fixture with a worked-out answer, including the exact-60%
  // threshold boundary.
  test("td_paragraph_dedup flags cross-doc duplicated segments, not within-doc repeats") {
    import spark.implicits._
    val dir = tmpDir("paradedup")
    val seg = (c: Char) => Seq.fill(5)(c.toString).mkString(" ") // one 5-word segment
    Seq(
      // docs 0 and 1: identical 3-segment text -> dup_pct 100 for both
      (0L, Seq(seg('a'), seg('b'), seg('c')).mkString(" ")),
      (1L, Seq(seg('a'), seg('b'), seg('c')).mkString(" ")),
      // doc 2: disjoint, and repeats ITS OWN segment twice -> within-doc
      // repeat must NOT count as duplication -> excluded
      (2L, Seq(seg('x'), seg('x'), seg('y')).mkString(" ")),
      // doc 3: 5 segments, exactly 3 shared with doc 0 -> 60%, boundary IN
      (3L, Seq(seg('a'), seg('b'), seg('c'), seg('p'), seg('q')).mkString(" ")),
      // doc 4: 5 segments, 2 shared -> 40%, out
      (4L, Seq(seg('a'), seg('b'), seg('r'), seg('s'), seg('t')).mkString(" ")),
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = q("td_paragraph_dedup").fn(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 3L, 3L, 100L), (1L, 3L, 3L, 100L), (3L, 5L, 3L, 60L)))
  }

  // Prefix-filter soundness: the blocked containment join must equal
  // the naive all-pairs containment computed in memory.
  test("td_containment_join equals the naive all-pairs containment") {
    import spark.implicits._
    val docs = graft.model.Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"text").as[(Long, String, String)].collect()
    val sets = docs.map { case (id, src, t) => (id, src, t.split(" ", -1).toSet) }
    val naive = (for {
      (d1, s1, w1) <- sets if w1.size >= 10
      (d2, s2, w2) <- sets if d1 != d2 && s1 == s2
      ni = (w1 & w2).size if ni * 10 >= w1.size * 9
    } yield (d1, d2, w1.size.toLong, ni.toLong)).toSet
    val got = q("td_containment_join").fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length == got.toSet.size, "duplicate pairs from the prefix fanout")
    assert(got.toSet == naive,
      s"blocked=${got.length} naive=${naive.size} " +
        s"missed=${(naive -- got.toSet).take(3)} extra=${(got.toSet -- naive).take(3)}")
    assert(naive.nonEmpty, "fixture produced an empty containment answer")
  }

  // Tiny basket fixture with one triangle; also proves weight-based
  // sparsification and set semantics (duplicate lineitem rows).
  test("gr_triangle_count on a hand-built basket graph") {
    import spark.implicits._
    val dir = tmpDir("tri")
    Seq(
      (100L, 1L), (100L, 2L), (100L, 3L), // basket {1,2,3}: triangle
      (101L, 3L), (101L, 4L),
      (102L, 4L), (102L, 5L),
      (103L, 1L), (103L, 2L), (103L, 2L), // duplicate row: set semantics
    ).toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
    val got = q("gr_triangle_count").fn(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((5L, 5L, 1L))) // nodes 1..5; edges 12,13,23,34,45; tri {1,2,3}
  }

  // Grid-blocking completeness for the radius-bounded kNN: blocked
  // result must equal the naive same-layer all-pairs top-3.
  test("geo_knn_radius equals the naive all-pairs kNN within radius") {
    import spark.implicits._
    val pts = GeoQueries.SpatialGrid.points(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
    val naive = pts.flatMap { case (ck, l, px, py) =>
      pts.filter { case (ck2, l2, _, _) => ck2 != ck && l2 == l }
        .map { case (ck2, _, px2, py2) =>
          (ck2, ((px - px2) * (px - px2) + (py - py2) * (py - py2)).toLong)
        }
        .filter(_._2 <= 64)
        .sortBy { case (nbr, d2) => (d2, nbr) }
        .take(3).zipWithIndex
        .map { case ((nbr, d2), i) => (ck, i + 1, nbr, d2) }
    }.toSet
    val got = q("geo_knn_radius").fn(spark, sf)
      .as[(Long, Int, Long, Long)].collect()
    assert(got.toSet == naive && got.length == naive.size)
    assert(naive.nonEmpty, "fixture produced an empty kNN answer")
  }
}
