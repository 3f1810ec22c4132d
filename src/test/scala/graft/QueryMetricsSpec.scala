package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** One metrics collector: [[QueryMetrics]] counts what a span ran, and
  * no other source file registers a listener of its own.
  */
class QueryMetricsSpec extends AnyFunSuite {

  test("a span's record counts its jobs, actions, tasks and executed plans") {
    val spark = TestSession.spark
    val frame = spark.range(1000).repartition(4).groupBy(col("id") % 7).count()
    val (rows, m) = QueryMetrics.measure(spark)(frame.collect())
    assert(rows.length == 7)
    assert(m.actions == 1 && m.jobs >= 1)
    assert(m.plans.size == 1)
    val rec = m.record
    // perfbench Counters.toMap's names, so its collector can move here
    val perfbench = Seq("jobs", "stages", "tasks", "failed_tasks", "task_run_s",
      "task_cpu_s", "gc_s", "task_wait_s", "shuffle_write_mb", "shuffle_read_mb",
      "spill_mb", "executions", "exchanges", "planning_s", "skew_max_over_p50")
    assert(perfbench.filterNot(rec.contains).isEmpty)
    assert(rec("tasks").asInstanceOf[Long] >= 4 && rec("failed_tasks") == 0L)
    assert(rec("executions") == 1 && rec("exchanges").asInstanceOf[Int] >= 1)
    val top = rec("top_stages").asInstanceOf[Seq[Map[String, Any]]]
    assert(top.nonEmpty)
    // per-stage deserialization: present, and a share of the span's
    assert(top.forall(_.contains("deser_s")), top)
    val stageDeser = top.map(_("deser_s").asInstanceOf[Double]).sum
    assert(stageDeser <= rec("deserialize_s").asInstanceOf[Double] + 1e-9,
      s"top stages' deser_s sum $stageDeser > deserialize_s ${rec("deserialize_s")}")
  }

  // AQE submits a shuffle's stage job from its own thread pool, whose
  // call site has no graft frame: the stage takes its SQL execution's.
  test("every top stage of a shuffling query names a graft call site") {
    val spark = TestSession.spark
    val frame = spark.range(1000).repartition(4).groupBy(col("id") % 7).count()
    val (_, m) = QueryMetrics.measure(spark)(frame.collect())
    val sites = m.record("top_stages").asInstanceOf[Seq[Map[String, Any]]].map(_("site"))
    assert(sites.size >= 2, sites)
    assert(sites.forall(_.toString.contains("graft.")), sites.mkString("\n"))
  }

  test("no source file but QueryMetrics defines a Spark or query-execution listener") {
    val allowed = Paths.get("src/main/scala/graft/QueryMetrics.scala")
    val defines = """\b(extends|with|new)\s+(SparkListener|SparkFirehoseListener|SparkListenerInterface|QueryExecutionListener)\b""".r
    val files = Using.resource(Files.walk(Paths.get("src")))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(files.contains(allowed), "the source walk did not reach QueryMetrics")
    val offenders = files.filter(f =>
      f != allowed && defines.findFirstIn(Files.readString(f)).isDefined)
    assert(offenders.isEmpty,
      s"count Spark events through graft.QueryMetrics: ${offenders.mkString(", ")}")
  }
}
