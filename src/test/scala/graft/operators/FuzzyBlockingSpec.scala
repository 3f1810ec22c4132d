package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The PassJoin partition blocking in td_fuzzy_name_match is only
  * correct if every name pair within edit distance 3 shares a segment
  * at an admissible (index, source-length, position) key — the driver
  * oracle checks this at sf0.01, but those names are all >= 7 chars
  * from a 64-value domain. This spec attacks the edges: a seeded
  * adversarial name population over a 3-letter alphabet (maximal
  * near-collisions) with lengths 2..12 spanning the short arm (<= 6),
  * the PassJoin arm, and the cross-arm boundary, checked row-for-row
  * against the naive all-pairs join.
  */
class FuzzyBlockingSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("PassJoin blocking equals naive all-pairs on adversarial names") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alpha = "abc"
    // 300 names, many within small edit distances of each other
    val names = (0 until 300).map { i =>
      val len = 2 + rnd.nextInt(11)
      (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    }.distinct
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzzy").toString
    names.zipWithIndex
      .map { case (n, i) => (i.toLong, n, s"Brand#${i % 3}") }
      .toDF("p_partkey", "p_name", "p_brand")
      .write.parquet(s"$dir/part.parquet")

    val got = graft.QueryCatalog.all.find(_.name == "td_fuzzy_name_match").get
      .fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    val parts = spark.read.parquet(s"$dir/part.parquet")
    val a = parts.select($"p_partkey".as("k1"), $"p_brand".as("b1"), $"p_name".as("m1"))
    val b = parts.select($"p_partkey".as("k2"), $"p_brand".as("b2"), $"p_name".as("m2"))
    val naive = a.join(b, $"b1" === $"b2" && $"k1" < $"k2")
      .select($"k1", $"k2", levenshtein($"m1", $"m2").cast("int").as("dist"))
      .filter($"dist" <= 3)
      .orderBy($"k1", $"k2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    assert(naive.nonEmpty, "adversarial population produced no pairs — vacuous")
    // the population must actually exercise both arms and the boundary
    val lens = names.map(_.length)
    assert(lens.exists(_ <= 4) && lens.exists(_ >= 10),
      "population must span short and long names")
    assert(got.sameElements(naive),
      s"blocked ${got.length} rows vs naive ${naive.length}; " +
        s"missing: ${naive.diff(got).take(5).mkString(",")} " +
        s"spurious: ${got.diff(naive).take(5).mkString(",")}")
  }
}
