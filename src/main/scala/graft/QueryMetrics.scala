package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and query-execution counters of one measured span, and
  * the program's one `SparkListener`: jobs and actions, stages, tasks,
  * task time, shuffle and spill, per-stage task times and the executed
  * plans. Every read drains the listener bus first.
  */
final class QueryMetrics private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  /** A span's running figures; `reset` starts a fresh one. */
  private final class Span {
    var jobs, actions, stages, tasks, failedTasks = 0L
    var taskRunMs, taskCpuNs, gcMs, deserializeMs, launchMs, waitMs = 0L
    var shuffleWriteB, shuffleReadB, spillB, planningMs = 0L
    val plans = mutable.ArrayBuffer[SparkPlan]()
    /** Per stage: its call site, its tasks' run times (ms) and CPU (ns). */
    val stageSite = mutable.Map[Int, String]()
    val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
    val stageCpuNs = mutable.Map[Int, Long]().withDefaultValue(0L)
  }
  private var c = new Span

  def drain(): Unit = ListenerBridge.drain(spark.sparkContext)

  /** Drains what ran before and starts the span over. */
  def reset(): Unit = { drain(); synchronized { c = new Span } }

  /** Drains, then stops listening; the figures stay readable. */
  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Spark jobs, the map-stage jobs AQE submits for each shuffle included. */
  def jobs: Long = { drain(); synchronized(c.jobs) }

  /** Jobs that end in a result stage: the actions. How many map-stage
    * jobs AQE runs for one plan varies from run to run; this does not.
    */
  def actions: Long = { drain(); synchronized(c.actions) }

  /** The executed plan of every query execution, in completion order. */
  def plans: Seq[SparkPlan] = { drain(); synchronized(c.plans.toList) }

  /** The span's figures, under perfbench `Counters.toMap`'s names where
    * it has one. Stage skew is max/p50 of task run time over the stages
    * with more than one task; `top_stages` are the 10 stages with the
    * slowest task, each with its first graft call site.
    */
  def record: ListMap[String, Any] = {
    drain()
    synchronized {
      def p50(ts: Seq[Long]): Long = ts((ts.size - 1) / 2)
      val byStage = c.stageTaskMs.view.mapValues(_.sorted.toVector).toVector
      val all = Some(byStage.flatMap(_._2).sorted).filter(_.nonEmpty).getOrElse(Vector(0L))
      val skew = (1.0 +: byStage.collect {
        case (_, ts) if ts.size > 1 => ts.last.toDouble / math.max(1L, p50(ts))
      }).max
      val ranked = byStage.sortBy { case (id, ts) => (-ts.last, id) }
      val worst = ranked.headOption.map(_._2).getOrElse(Vector.empty)
      val top = ranked.take(10).map { case (id, ts) =>
        ListMap("stage" -> id, "tasks" -> ts.size, "max_ms" -> ts.last,
          "p50_ms" -> p50(ts), "run_s" -> ts.sum / 1e3,
          "cpu_s" -> c.stageCpuNs(id) / 1e9, "site" -> c.stageSite.getOrElse(id, ""))
      }
      ListMap(
        "jobs" -> c.jobs, "actions" -> c.actions, "stages" -> c.stages, "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "task_run_s" -> c.taskRunMs / 1e3,
        "task_cpu_s" -> c.taskCpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
        "deserialize_s" -> c.deserializeMs / 1e3, "launch_overhead_s" -> c.launchMs / 1e3,
        "task_wait_s" -> c.waitMs / 1e3, "shuffle_write_mb" -> c.shuffleWriteB / 1e6,
        "shuffle_read_mb" -> c.shuffleReadB / 1e6, "spill_mb" -> c.spillB / 1e6,
        "executions" -> c.plans.size,
        "exchanges" -> c.plans.map(p =>
          Plans.executedNodes(p).count(_.isInstanceOf[ShuffleExchangeLike])).sum,
        "planning_s" -> c.planningMs / 1e3, "skew_max_over_p50" -> skew,
        "task_max_ms" -> all.last, "task_p50_ms" -> p50(all),
        "worst_stage_tasks" -> worst.size,
        "worst_stage_max_ms" -> worst.lastOption.getOrElse(0L),
        "worst_stage_p50_ms" -> (if (worst.isEmpty) 0L else p50(worst)),
        "top_stages" -> top)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c.jobs += 1
    if (ListenerBridge.isAction(e)) c.actions += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    c.stages += 1
    // the first graft frame of the call site that is not a main says
    // more than the stage name (often an AQE thunk)
    val si = e.stageInfo
    c.stageSite(si.stageId) = si.details.linesIterator
      .find(l => l.contains("graft.") && !l.contains(".main("))
      .getOrElse(si.name.takeWhile(_ != '\n')).trim.take(90)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.deserializeMs += m.executorDeserializeTime
      // launch to finish less the task's own run; the wait also leaves
      // out result serialization and fetch: scheduling and deserialization
      val idle = e.taskInfo.duration - m.executorRunTime
      c.launchMs += idle
      c.waitMs += math.max(0L, idle - m.resultSerializationTime - e.taskInfo.gettingResultTime)
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.spillB += m.diskBytesSpilled
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
      c.stageCpuNs(e.stageId) += m.executorCpuTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordExecution(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordExecution(qe)

  private def recordExecution(qe: QueryExecution): Unit = synchronized {
    c.plans += qe.executedPlan
    c.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
}

object QueryMetrics {
  /** Starts a span on `spark`. Events of work that ran before are
    * drained first and not counted.
    */
  def start(spark: SparkSession): QueryMetrics = {
    val m = new QueryMetrics(spark)
    m.drain()
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    m
  }

  /** Runs `body` as one span and stops it. */
  def measure[T](spark: SparkSession)(body: => T): (T, QueryMetrics) = {
    val m = start(spark)
    try (body, m) finally m.stop()
  }
}
