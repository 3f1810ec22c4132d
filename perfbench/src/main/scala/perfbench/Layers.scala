package perfbench

/** Layer metrics shared by every workload, per operation. */
object Layers {
  /** Total self time of the spans called `name`. */
  def self(tracer: Tracer, name: String): Double =
    tracer.spans.filter(_.name == name).map(tracer.selfSeconds).sum

  /** Metrics of the operation itself: its build and action spans, and
    * the scheduler and plan counters of the layers named in `opLayers`.
    */
  def common(tracer: Tracer, buckets: Map[String, Bucket], ops: Seq[Op], opLayers: Seq[String],
      cores: Int): Map[String, Double] = {
    val n = ops.size.toDouble
    val b = new Bucket
    opLayers.flatMap(buckets.get).foreach(b.add)
    val wall = ops.map(_.wallS).sum / n
    val taskRun = b.taskRunMs / 1e3 / n
    Map(
      "operators.build_s" -> self(tracer, "operators.build") / n,
      "operators.action_s" -> self(tracer, "operators.action") / n,
      "operators.records_out" -> ops.map(_.rows).sum / n,
      "plans.planning_s" -> b.planningMs / 1e3 / n,
      "plans.exchanges" -> b.exchanges / n,
      "spark.jobs" -> b.jobs / n,
      "spark.stages" -> b.stages / n,
      "spark.tasks" -> b.tasks / n,
      "spark.failed_tasks" -> b.failedTasks / n,
      "spark.task_run_s" -> taskRun,
      "spark.task_cpu_s" -> b.taskCpuNs / 1e9 / n,
      "spark.gc_s" -> b.gcMs / 1e3 / n,
      "spark.task_wait_s" -> b.waitMs / 1e3 / n,
      "spark.busy_frac" -> (if (wall > 0) taskRun / (wall * cores) else 0.0),
      "spark.shuffle_write_mb" -> b.shuffleWriteB / 1e6 / n,
      "spark.shuffle_read_mb" -> b.shuffleReadB / 1e6 / n,
      "spark.spill_mb" -> b.spillB / 1e6 / n,
      "spark.skew_max_over_p50" -> b.skew,
    )
  }
}
