package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Round-11 review-fix gates for inputs the driver fixtures cannot
  * produce: the hashed-LM scorer's empty-reference degradation. The
  * oracle corpus always contains src1/src3/src5, so this replays the
  * entry on a corpus WITHOUT them — every document must score the
  * uniform smoothed default (1000000 div 256 = 3906), exactly what
  * the unchanged DuckDB formulation yields with n_t = 0, instead of
  * the NULL-poisoned scores the pre-fix sum produced.
  */
class Round11bOpsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("ta_ccnet_bucket degrades to the uniform default on an empty reference stream") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ccnet-empty")
    try {
      // documents-shaped fixture whose sources are all OUTSIDE the
      // reference set {src1, src3, src5}
      Seq(
        (0L, "alpha beta gamma", "en", "srcX", 16L),
        (1L, "delta epsilon", "en", "srcY", 13L),
        (2L, "zeta eta theta iota", "de", "srcX", 19L),
      ).toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val q = graft.QueryCatalog.all.find(_.name == "ta_ccnet_bucket").get
      val rows = q.fn(spark, dir.toString).collect()
      assert(rows.nonEmpty, "scorer returned nothing on the empty-reference corpus")
      // Every token scores (0+1)*1000000 div (0+256) = 3906, so every
      // per-doc mean is 3906 — and in particular nothing is NULL.
      val scores = rows.map(r => Option(r.getAs[Any]("score_micro")))
      assert(scores.forall(_.isDefined), s"NULL-poisoned scores: ${rows.toSeq}")
      assert(scores.flatten.forall(_ == 3906L),
        s"expected the uniform 3906 default everywhere, got ${rows.toSeq}")
    } finally EventQueries.deleteRecursively(dir)
  }
}
