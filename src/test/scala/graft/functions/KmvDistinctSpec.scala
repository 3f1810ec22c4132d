package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.exprs.kmv_distinct

class KmvDistinctSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("exact below k, ~accurate above k, partition-count invariant") {
    import spark.implicits._
    val small = (1 to 100).map(_.toString).toDF("v")
    val smallEst = small.agg(kmv_distinct($"v", 256)).head().getLong(0)
    assert(smallEst == 100, "below k the sketch is exact")

    val big = (1 to 20000).map(i => (i % 7919).toString).toDF("v")
    val est = big.agg(kmv_distinct($"v", 256)).head().getLong(0)
    assert(math.abs(est - 7919.0) / 7919.0 < 0.15, s"estimate $est vs 7919")

    // merge path: the estimate must not depend on partitioning
    val est1 = big.repartition(1).agg(kmv_distinct($"v", 256)).head().getLong(0)
    val est13 = big.repartition(13).agg(kmv_distinct($"v", 256)).head().getLong(0)
    assert(est1 == est && est13 == est, "partial-aggregate merges are lossless")
  }
}
