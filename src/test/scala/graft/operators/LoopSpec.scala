package graft.operators

import org.apache.spark.sql.functions.{col, count_if, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Loop

/** The round-loop device and the connected-components routine built on
  * it: rounds counted, an empty state stopping at once, and a capped
  * fixed-point loop failing loudly instead of returning an unconverged
  * result.
  */
class LoopSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("a fixed loop runs exactly cap rounds and reports each round's stats") {
    val init = spark.range(5).toDF("x")
    val res = Loop(init, 3, Loop.Fixed, count_if(col("x") >= 10)) {
      (st, _) => st.select((col("x") + 3).as("x"))
    }
    assert(res.rounds == 3 && res.settled == false)
    assert(res.stats.map(r => (r.getLong(0), r.getLong(1))) ==
      Vector((5L, 0L), (5L, 1L), (5L, 4L)))
    assert(res.state.collect().map(_.getLong(0)).sorted.toSeq == (9L to 13L))
  }

  test("an empty state stops the loop at once") {
    val res = Loop(spark.range(0).toDF("x"), 5, Loop.Fixed,
      org.apache.spark.sql.functions.sum(col("x"))) { (st, _) => st }
    assert(res.rounds == 1 && res.settled)
    assert(res.stats.head.getLong(0) == 0L && res.stats.head.isNullAt(1))
  }

  test("the step sees the previous round's stats; zero(i) settles the loop") {
    val res = Loop(spark.range(1).toDF("x"), 10, Loop.zero(1),
      count_if(col("x") < 4)) { (st, last) =>
      assert(last.forall(_.getLong(1) > 0))
      st.select((col("x") + 1).as("x"))
    }
    assert(res.rounds == 4 && res.settled)
    assert(res.state.collect().head.getLong(0) == 4L)
  }

  test("each round runs one action: its checkpoint job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // AQE submits each shuffle's map stage as a job of its own; count
    // only the actions
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (org.apache.spark.TestListenerBus.isAction(e)) actions.incrementAndGet()
    }
    val sc = spark.sparkContext
    val init = spark.range(100).toDF("x")
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val res = try {
      val r = Loop(init, 4, Loop.Fixed, count_if(col("x") > 50)) { (st, _) =>
        st.groupBy((col("x") + 1).as("x")).count().select(col("x"))
      }
      org.apache.spark.TestListenerBus.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
    assert(res.rounds == 4 && actions.get == 4)
  }

  private def path(n: Int) = {
    import spark.implicits._
    (1L until n.toLong).map(i => (i, i + 1)).toDF("doc1", "doc2")
  }

  test("components: a path graph converges to its minimum label") {
    val labels = DedupQueries.components(path(64), "path")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(labels == (1L to 64L).map(n => (n, 1L)))
  }

  test("components: hitting the cap with labels still changing throws") {
    val e = intercept[IllegalStateException] {
      DedupQueries.components(path(64), "path", cap = 1)
    }
    assert(e.getMessage.contains("path") && e.getMessage.contains("1 rounds"))
  }

  test("components: no edges gives no labels") {
    assert(DedupQueries.components(path(1), "empty").collect().isEmpty)
  }
}
