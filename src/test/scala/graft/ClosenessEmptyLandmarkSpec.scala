package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins gr_closeness_centrality on an empty landmark set: with no
  * nation-0 supplier there is no BFS seed, and the query must return
  * zero rows with the same schema as a seeded run (the oracle SQL
  * yields zero rows too). sf0.001 is such a corpus; before the guard
  * the first round's reach-count aggregate was NULL over the empty
  * state frame and the driver-side `getLong` threw.
  */
class ClosenessEmptyLandmarkSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fixture(nations: Seq[(Long, Long)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("closeness").toString
    nations.toDF("s_suppkey", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq((10L, 1L), (10L, 2L), (11L, 2L), (11L, 3L))
      .toDF("l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("no nation-0 supplier: zero rows, seeded schema") {
    val fn = SparkEntry.queries.collectFirst {
      case (n, f) if n == "gr_closeness_centrality" => f
    }.get
    val empty = fn(spark, fixture(Seq((1L, 1L), (2L, 2L), (3L, 3L))))
    assert(empty.collect().isEmpty)
    val seeded = fn(spark, fixture(Seq((1L, 0L), (2L, 2L), (3L, 3L))))
    // seed 3 (supplier 1) reaches part 10 at hop 1, supplier 2 at
    // hop 2, part 11 at hop 3 and supplier 3 at hop 4
    assert(seeded.collect().map(r => (0 until 5).map(r.getLong)).toSeq ==
      Seq(Seq(3L, 4L, 10L, 1000000L + 500000L + 333333L + 250000L, 400000L)))
    assert(empty.schema == seeded.schema)
  }
}
