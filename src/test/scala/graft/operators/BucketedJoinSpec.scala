package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Co-located joins via bucketing — the zero-shuffle join path for
  * repeated big-fact joins at scale: both sides bucketed by the join
  * key join WITHOUT an Exchange on either side, while an unbucketed
  * control of the same join shuffles both sides (proving the zero
  * comes from bucketing, not from convenient sizes), and both produce
  * identical rows.
  *
  * Broadcast is disabled with conf.set + finally-restore: every suite
  * runs on the one [[graft.TestSession]], so a conf left behind would
  * leak `-1` into every other suite's plans (e.g. PlanBudgetSpec's
  * hash-join pins).
  */
class BucketedJoinSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  /** Shuffle exchanges in the executed plan. */
  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    graft.Plans.executedNodes(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec])

  test("bucketed tables join without a shuffle exchange; unbucketed control shuffles") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val tmp = Files.createTempDirectory("graft-bucketed").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val ev = graft.model.Tables.events(spark, d)
      .select($"event_id", $"user_id", $"value")
    val agg = ev.groupBy($"user_id").agg(count(lit(1)).as("n"))
    try {
      spark.sql("DROP TABLE IF EXISTS g_ev_a")
      spark.sql("DROP TABLE IF EXISTS g_ev_b")
      ev.write.format("parquet").bucketBy(8, "user_id")
        .option("path", s"$tmp/a").saveAsTable("g_ev_a")
      agg.write.format("parquet").bucketBy(8, "user_id")
        .option("path", s"$tmp/b").saveAsTable("g_ev_b")
      val joined = spark.table("g_ev_a").join(spark.table("g_ev_b"), "user_id")
      val n = joined.count()
      assert(n == ev.count(), "inner join on complete key set keeps all rows")
      assert(shuffles(joined) == 0,
        s"bucketed join must not shuffle:\n${joined.queryExecution.executedPlan}")

      // control: same join over the unbucketed frames must shuffle
      // both sides — the zero above is bucketing, not luck
      val control = ev.join(agg, "user_id")
      control.count()
      assert(shuffles(control) >= 2,
        s"control join should shuffle both sides:\n${control.queryExecution.executedPlan}")

      // identical results
      val a = joined.select($"user_id", $"event_id", $"n")
        .orderBy($"user_id", $"event_id").collect()
      val b = control.select($"user_id", $"event_id", $"n")
        .orderBy($"user_id", $"event_id").collect()
      assert(a.sameElements(b), "bucketed and control joins diverged")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS g_ev_a")
      spark.sql("DROP TABLE IF EXISTS g_ev_b")
    }
  }
}
