package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Every round-loop query on zero-row copies of the sf0.001 tables:
  * no exception, and the same schema as the sf0.001 run. An empty
  * state has to end a loop, never reach a driver-side `getLong` as
  * NULL or a `head` of nothing.
  */
class LoopEmptyInputSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val empty: String = {
    val dir = Files.createTempDirectory("empty-sf").toString
    for (f <- new java.io.File(sf).listFiles().map(_.getName).sorted
        if f.endsWith(".parquet"))
      spark.read.parquet(s"$sf/$f").limit(0).write.parquet(s"$dir/$f")
    dir
  }

  for (name <- Seq("gr_label_propagation", "gr_modularity", "gr_kcore",
      "gr_bfs_hops", "gr_closeness_centrality", "gr_katz_centrality",
      "td_dedup_clusters", "mm_phash_clusters", "sim_pca_power",
      "sim_mmr_select", "sim_kcenter_coreset"))
    test(s"$name on empty tables: no error, the sf0.001 schema") {
      val fn = graft.QueryCatalog.all.find(_.name == name).get.fn
      val out = fn(spark, empty)
      out.collect()
      assert(out.schema == fn(spark, sf).schema)
    }
}
