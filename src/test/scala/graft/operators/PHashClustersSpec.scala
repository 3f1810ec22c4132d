package graft.operators

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** `mm_phash_clusters` on a corpus that has near-duplicates. The gated
  * sf0.001 and sf0.01 corpora have no pHash pair within hamming 3, so
  * there the query returns no rows and its connected-components loop is
  * never compared. This copies the sf0.001 documents with a few of them
  * repeated under fresh ids (identical text: hamming 0) and checks every
  * cluster against a union-find over `mm_phash_neardup`'s near-dup pairs.
  */
class PHashClustersSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def query(name: String, dir: String) =
    graft.QueryCatalog.all.find(_.name == name).get.fn(spark, dir)

  test("mm_phash_clusters equals a union-find over the near-dup pairs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-phash-dups")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
      // one document three times, two more twice each
      val copies = Seq(ids(0), ids(0), ids(5), ids(9)).zipWithIndex.map { case (id, i) =>
        docs.filter(col("doc_id") === id).withColumn("doc_id", lit(ids.last + 1 + i))
      }
      copies.foldLeft(docs)(_ unionByName _)
        .write.parquet(s"$dir/documents.parquet")

      val nChars = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("n_chars").cast("long")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val pairs = query("mm_phash_neardup", dir.toString).filter(col("is_near_dup"))
        .select(col("doc1"), col("doc2")).collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.toSeq.groupBy(find).values.map { members =>
        (members.min, members.size.toLong, members.map(nChars).sum, nChars(members.min))
      }.toSeq.sorted

      val got = query("mm_phash_clusters", dir.toString).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue,
          r.getAs[Number](3).longValue)).toSeq
      assert(got.exists(_._2 > 1), s"no multi-member cluster: $got")
      assert(got == want)
    } finally EventQueries.deleteRecursively(dir)
  }
}
