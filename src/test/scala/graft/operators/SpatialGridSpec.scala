package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GeoQueries.SpatialGrid

/** The grid-cell blocking's correctness rests on one structural
  * invariant — every derived rectangle is SMALLER than a cell, so its
  * bbox lies in at most 2x2 cells and the 4-offset probe covers every
  * possible (point, polygon) containment — and on the derivation
  * actually growing above the clamp. Both are exercised here on a
  * fixture BIG enough that the moduli scale (suppliers > 1000), a
  * path every sf0.01/sf0.001 test leaves clamped; the blocked join is
  * then checked row-for-row against the naive unblocked join.
  */
class SpatialGridSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  /** Fixture dir with supplier/customer parquet at 4x the clamp
    * cardinality, so moduli = floor(base * 2): the grown-grid path.
    */
  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-gridspec").toString
    spark.range(4000)
      .select($"id".as("s_suppkey"), ($"id" % 25).cast("int").as("s_nationkey"),
        concat(lit("Supplier#"), $"id").as("s_name"), lit(0.0).as("s_acctbal"))
      .write.parquet(s"$d/supplier.parquet")
    spark.range(20000)
      .select($"id".as("c_custkey"), ($"id" % 25).cast("int").as("c_nationkey"),
        concat(lit("Customer#"), $"id").as("c_name"), lit(0.0).as("c_acctbal"),
        lit("BUILDING").as("c_mktsegment"))
      .write.parquet(s"$d/customer.parquet")
    d
  }

  test("moduli grow past the clamp with supplier cardinality") {
    val (gw, gh, pw, ph) = SpatialGrid.moduli(spark, dir)
    // 4000 suppliers -> scale = sqrt(4) = 2 exactly
    assert((gw, gh, pw, ph) == (194L, 178L, 190L, 174L),
      s"expected doubled moduli, got ($gw, $gh, $pw, $ph)")
  }

  test("every derived rectangle is smaller than a blocking cell") {
    import spark.implicits._
    val spans = SpatialGrid.rects(spark, dir)
      .agg(max($"x1" - $"x0").as("mx"), max($"y1" - $"y0").as("my"))
      .head()
    assert(spans.getDouble(0) < SpatialGrid.CellSize &&
      spans.getDouble(1) < SpatialGrid.CellSize,
      s"rect spans ${spans.mkString(",")} must stay under cell ${SpatialGrid.CellSize}: " +
        "a polygon bigger than a cell can span >2 cells and the 4-offset " +
        "probe would MISS containments")
  }

  test("cell-blocked join equals the naive unblocked join on the grown grid") {
    val blocked = QueryCatalog_j3(spark, dir)
    val naive = naiveJoin(dir).map(r => (r.getLong(0), r.getLong(1)))
    val got = blocked.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty, "fixture produced no containments — spec is vacuous")
    assert(got.sameElements(naive),
      s"blocked join diverged: ${got.length} vs ${naive.length} rows")
  }

  /** Skewed fixture: every 4th supplier/customer key is remapped onto
    * a handful of diagonal positions inside cell (0,0) — the
    * gen_skew.py "downtown" trick in miniature (k = HI + j + m·lcm
    * pins grid position j for any m, and HI ≡ 0 mod lcm keeps moved
    * keys disjoint from kept ones). Hot (layer, 0, 0) keys hold ~40
    * polygons against a ~1.2 mean, so the planner must engage.
    */
  private lazy val skewDir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-gridskew").toString
    // moduli at 4000 suppliers: gw=194, gh=178 -> lcm 17266
    val sLcm = 17266L
    val sHi = sLcm * 1000
    spark.range(4000)
      .select(
        when($"id" % 4 === 0, lit(sHi) + ($"id" / 4) % 8).otherwise($"id").as("s_suppkey"),
        ($"id" % 25).cast("int").as("s_nationkey"),
        concat(lit("Supplier#"), $"id").as("s_name"), lit(0.0).as("s_acctbal"))
      .write.parquet(s"$d/supplier.parquet")
    // pw=190, ph=174 -> lcm 16530
    val cLcm = 16530L
    val cHi = cLcm * 1000
    spark.range(20000)
      .select(
        when($"id" % 4 === 0, lit(cHi) + ($"id" / 4) % 8).otherwise($"id").as("c_custkey"),
        ($"id" % 25).cast("int").as("c_nationkey"),
        concat(lit("Customer#"), $"id").as("c_name"), lit(0.0).as("c_acctbal"),
        lit("BUILDING").as("c_mktsegment"))
      .write.parquet(s"$d/customer.parquet")
    d
  }

  test("planner-chosen salt engages on the skewed fixture and is row-identical") {
    // the planner must pick selective salting from the histogram alone
    val plan = SpatialGrid.saltPlan(spark, skewDir)
    plan match {
      case SpatialGrid.SaltCells(n, hot) =>
        // the fixture's measured histogram is maxCell=42 mean≈1.52
        // (ratio ≈ 27.6) → the rule lands on S=8, the exact fan-out
        // the round-6 manual tuning converged to on the real downtown
        assert(n == 8, s"decision rule drifted: expected S=8, got S=$n")
        assert(hot.nonEmpty && hot.size <= SpatialGrid.SaltMaxHotKeys)
        // the hot keys are the downtown cell (0, 0) across layers
        assert(hot.forall { case (_, cx, cy) => cx == 0L && cy == 0L },
          s"unexpected hot keys: ${hot.take(5)}")
      case other => fail(s"planner chose $other on a 30x-skewed fixture")
    }
    val baseline = naiveJoin(skewDir).map(_.toString)
    for (name <- Seq("j3_spatial_point_in_polygon", "sql_surface_spatial")) {
      val q = graft.QueryCatalog.all.find(_.name == name).get
      val autoDf = q.fn(spark, skewDir) // planner decides: selective salt
      val auto = autoDf.collect().map(_.toString)
      assert(auto.nonEmpty && auto.sameElements(baseline),
        s"$name: planner-salted result diverged (${auto.length} vs ${baseline.length} rows)")
      assert(autoDf.queryExecution.executedPlan.toString.contains("psalt"),
        s"$name: planner-salted plan does not carry the salt key")
    }
  }

  test("planner salt stays off on the uniform fixture") {
    assert(SpatialGrid.saltPlan(spark, dir) == SpatialGrid.SaltOff)
  }

  test("salt decision boundary: engage/fan-out rule is exactly pinned") {
    import SpatialGrid.saltDecision
    // below the hot-count floor: never engage, however extreme the ratio
    assert(saltDecision(31, 0.1) == 0)
    // below the 8x ratio threshold: off
    assert(saltDecision(79, 10.0) == 0) // ratio 7.9
    // at the threshold: minimum fan-out S=2 (ratio/4 = 2)
    assert(saltDecision(80, 10.0) == 2)
    // doubling the ratio doubles S (pow2-nearest of ratio/4)
    assert(saltDecision(160, 10.0) == 4) // ratio 16
    assert(saltDecision(320, 10.0) == 8) // ratio 32
    // the measured downtown fixture's histogram lands on S=8
    assert(saltDecision(42, 1.52) == 8) // ratio 27.6
    // clamp: a 1000x pathological ratio still caps at SaltMaxS
    assert(saltDecision(10000, 10.0) == SpatialGrid.SaltMaxS)
  }

  /** The unblocked, unsalted layer-equi + rectangle join: the
    * reference every blocked or salted plan must reproduce.
    */
  private def naiveJoin(d: String) = {
    import spark.implicits._
    SpatialGrid.points(spark, d)
      .join(SpatialGrid.rects(spark, d),
        $"c_layer" === $"p_layer" &&
          $"px" >= $"x0" && $"px" <= $"x1" &&
          $"py" >= $"y0" && $"py" <= $"y1")
      .select($"c_custkey", $"s_suppkey")
      .orderBy($"c_custkey", $"s_suppkey")
      .collect()
  }

  /** The catalogue's j3 query run against the fixture dir. */
  private def QueryCatalog_j3(s: SparkSession, d: String) =
    graft.QueryCatalog.all.find(_.name == "j3_spatial_point_in_polygon").get.fn(s, d)
}
