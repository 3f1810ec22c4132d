package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one layer. Times are summed over its tasks or queries. */
final class Bucket {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, gcMs, waitMs = 0L
  var shuffleWriteB, shuffleReadB, spillB = 0L
  var executions, exchanges = 0L
  var planningMs = 0L
  /** Worst max/p50 task run time over this layer's stages. */
  var skew = 1.0

  def add(o: Bucket): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs; waitMs += o.waitMs
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB; spillB += o.spillB
    executions += o.executions; exchanges += o.exchanges; planningMs += o.planningMs
    skew = math.max(skew, o.skew)
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "task_wait_s" -> waitMs / 1e3, "shuffle_write_mb" -> shuffleWriteB / 1e6,
    "shuffle_read_mb" -> shuffleReadB / 1e6, "spill_mb" -> spillB / 1e6,
    "executions" -> executions, "exchanges" -> exchanges, "planning_s" -> planningMs / 1e3,
    "skew_max_over_p50" -> skew)
}

/** Scheduler and query-execution counters, split by layer.
  *
  * Each layer call runs under its own job group, and the tracer drains
  * the listener bus at every layer boundary. Events are therefore
  * attributed to the layer that was current when the bus delivered
  * them: this also catches jobs submitted from pooled threads, which
  * do not reliably inherit the caller's job group.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  @volatile var layer: String = Tracer.Untagged
  private val buckets = mutable.LinkedHashMap[String, Bucket]()
  private val stageLayer = mutable.Map[Int, String]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  private def bucket(name: String): Bucket = buckets.getOrElseUpdate(name, new Bucket)

  def snapshot(): Map[String, Bucket] = synchronized {
    buckets.map { case (k, v) => val b = new Bucket; b.add(v); k -> b }.toMap
  }

  def reset(): Unit = synchronized { buckets.clear(); stageTaskMs.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    bucket(layer).jobs += 1
    e.stageInfos.foreach(s => stageLayer(s.stageId) = layer)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val l = stageLayer.getOrElse(e.stageInfo.stageId, layer)
    stageLayer(e.stageInfo.stageId) = l
    bucket(l).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val b = bucket(stageLayer.getOrElse(e.stageId, layer))
    b.tasks += 1
    if (!e.taskInfo.successful) b.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      b.taskRunMs += m.executorRunTime
      b.taskCpuNs += m.executorCpuTime
      b.gcMs += m.jvmGCTime
      // Scheduler delay plus deserialization: the time the task spent
      // not running its own code.
      val run = m.executorRunTime + m.resultSerializationTime + e.taskInfo.gettingResultTime
      b.waitMs += math.max(0L, e.taskInfo.duration - run)
      b.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      b.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      b.spillB += m.diskBytesSpilled
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageTaskMs.remove(id).filter(_.size > 1).foreach { ts =>
      val sorted = ts.sorted
      val p50 = math.max(1L, sorted((sorted.size - 1) / 2))
      val b = bucket(stageLayer.getOrElse(id, layer))
      b.skew = math.max(b.skew, sorted.last.toDouble / p50)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordExecution(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordExecution(qe)

  private def recordExecution(qe: QueryExecution): Unit = synchronized {
    val b = bucket(layer)
    b.executions += 1
    b.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    b.exchanges += Counters.nodes(qe.executedPlan).count(_.isInstanceOf[ShuffleExchangeLike])
  }
}

object Counters {
  /** Every node of a physical plan, looking through adaptive plans,
    * query stages and subqueries to the plan that actually ran.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children ++ p.subqueries
    }
    p +: kids.flatMap(nodes)
  }
}
