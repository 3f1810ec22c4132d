package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.exprs.misra_gries

class MisraGriesSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def candidates(df: org.apache.spark.sql.DataFrame, k: Int): Set[String] = {
    import spark.implicits._
    df.agg(misra_gries($"v", k).as("c"))
      .select(explode($"c"))
      .as[String].collect().toSet
  }

  test("exact below k: every key survives") {
    import spark.implicits._
    val df = (1 to 50).flatMap(i => Seq.fill(i)(s"k$i")).toDF("v")
    val c = candidates(df, 64)
    assert(c == (1 to 50).map(i => s"k$i").toSet)
  }

  test("lossy regime keeps every true heavy hitter (the MG guarantee)") {
    import spark.implicits._
    // n = 10 heavies x 500 + 5000 singletons = 10000; k = 50 << 5010
    // distinct keys. Every key with freq > n/k = 200 must survive.
    val heavies = (1 to 10).flatMap(i => Seq.fill(500)(s"heavy$i"))
    val tail = (1 to 5000).map(i => s"tail$i")
    val df = scala.util.Random.shuffle(heavies ++ tail).toDF("v")
    val c = candidates(df, 50)
    assert(c.size <= 50, s"sketch must hold at most k entries, got ${c.size}")
    (1 to 10).foreach { i =>
      assert(c.contains(s"heavy$i"), s"heavy$i (freq 500 > n/k=200) must survive")
    }
  }

  test("refined answer is partition-invariant even though the sketch is not") {
    import spark.implicits._
    val heavies = (1 to 10).flatMap(i => Seq.fill(500)(s"heavy$i"))
    val tail = (1 to 5000).map(i => s"tail$i")
    val rows = scala.util.Random.shuffle(heavies ++ tail)
    val refined = (1 to 17 by 8).map { p =>
      val df = rows.toDF("v").repartition(p)
      val cands = df.agg(misra_gries($"v", 50).as("c"))
        .select(explode($"c").as("v"))
      val n = rows.size
      df.join(broadcast(cands), "v")
        .groupBy($"v").agg(count(lit(1)).as("cnt"))
        .filter($"cnt" * 50 > n)
        .as[(String, Long)].collect().toMap
    }
    assert(refined.head == (1 to 10).map(i => s"heavy$i" -> 500L).toMap)
    assert(refined.toSet.size == 1, "refined heavy hitters must not depend on partitioning")
  }
}
