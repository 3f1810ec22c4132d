package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Spark actions per round-loop query at sf0.001: the ones `fn` runs
  * while it builds the frame, plus the final `collect`. Each bound is
  * the count before the loops went through `graft.util.Loop`, or lower
  * where the change cut it; a loop that slips back to a second action
  * per round (an eager checkpoint plus `isEmpty`, a `head` per pick)
  * shows up here as a higher count.
  */
class LoopJobsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Actions run while `frame` is built and collected. The map-stage
    * jobs AQE submits for each shuffle are left out: how many of those
    * run varies from run to run of the same plan.
    */
  private def actions(frame: => DataFrame): Long =
    graft.QueryMetrics.measure(spark)(frame.collect())._2.actions

  private def query(name: String): DataFrame =
    graft.QueryCatalog.all.find(_.name == name).get.fn(spark, sf)

  // name -> (actions before, bound now)
  private val bounds = Seq(
    "gr_label_propagation" -> (9, 9),
    "gr_modularity" -> (16, 16),
    "gr_kcore" -> (14, 14),
    "gr_bfs_hops" -> (8, 6),
    "gr_closeness_centrality" -> (4, 4),
    "gr_katz_centrality" -> (9, 9),
    "td_dedup_clusters" -> (11, 11),
    "mm_phash_clusters" -> (7, 6),
    "sim_pca_power" -> (14, 14),
    "sim_mmr_select" -> (14, 7),
    "sim_kcenter_coreset" -> (16, 8),
  )

  for ((name, (before, bound)) <- bounds)
    test(s"$name runs at most $bound Spark actions at sf0.001 (was $before)") {
      val n = actions(query(name))
      info(s"$name: $n actions")
      assert(n <= bound, s"$name ran $n actions")
    }

  test("forced-robust LPA runs at most 12 Spark actions at sf0.001 (was 15)") {
    val n = actions(GraphQueries.lpaLabels(spark, sf, Some(true)).orderBy(col("node")))
    info(s"gr_label_propagation (robust): $n actions")
    assert(n <= 12, s"robust LPA ran $n actions")
  }
}
