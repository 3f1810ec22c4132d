package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** kNN-graph edge-coverage FLOOR gate (the round-8 ask carried through
  * round 9): `sim_knn_edge_coverage` reports how many nodes actually
  * get out-edges under the adaptive LSH geometry — measured 500/500 at
  * sf0.01 (multi-probe; 499/500 single-probe), 7999/7999 at grow_sf1
  * and 31991/31991 at grow_sf10 (BASELINE.md round-8 section). This
  * spec pins a ≥99% multi-probe floor so a future geometry change
  * (e.g. planes ∝ log n bringing occupancy back down to the sparse
  * regime) that silently reintroduces singleton-bucket edgeless nodes
  * fails IN-SUITE instead of surfacing as a quality regression at the
  * next grow probe.
  *
  * The grown fixture (/tmp/grow_sf1, driver-generated) is asserted
  * when present — that is the scale the ask names — and the catalogue
  * fixture is always asserted, so the gate never silently vanishes.
  */
class KnnCoverageFloorSpec extends AnyFunSuite {

  private val FloorPpm = 990000L // ≥99% of nodes must have ≥1 out-edge

  private lazy val spark = graft.TestSession.spark

  private def coverage(dir: String): (Long, Long, Long) = {
    val row = graft.QueryCatalog.all
      .find(_.name == "sim_knn_edge_coverage").get
      .fn(spark, dir)
      .selectExpr("n_nodes", "covered_multi", "cov_multi_ppm")
      .head()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  test("multi-probe edge coverage holds the 99% floor at catalogue sf") {
    val (n, covered, ppm) = coverage("/root/testdata/sf0.01")
    assert(n > 0, "coverage gate ran on an empty embeddings fixture")
    assert(ppm >= FloorPpm,
      s"multi-probe kNN coverage fell below the 99% floor at sf0.01: " +
        s"$covered/$n nodes covered ($ppm ppm < $FloorPpm)")
  }

  test("multi-probe edge coverage holds the 99% floor at grow_sf1") {
    assume(new java.io.File("/tmp/grow_sf1/embeddings.parquet").exists(),
      "grown fixture /tmp/grow_sf1 absent on this machine")
    val (n, covered, ppm) = coverage("/tmp/grow_sf1")
    assert(n > 0, "coverage gate ran on an empty embeddings fixture")
    assert(ppm >= FloorPpm,
      s"multi-probe kNN coverage fell below the 99% floor at grow_sf1: " +
        s"$covered/$n nodes covered ($ppm ppm < $FloorPpm)")
  }
}
