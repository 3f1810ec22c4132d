package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.execution.FormattedMode

import graft.util.Json

/** Per-query execution profile on [[Session.local]], after Bench's
  * warmup: one JSON line per run with wall time, rows, the
  * [[QueryMetrics]] record and the plan's unpartitioned windows, so
  * many tiny stages (driver bound) separate from heavy task work and
  * one hot key from a balanced join. Run:
  *
  *   sbt "runMain graft.Profile <sf-dirs> <names|all> [reps] [explain-dir]"
  *
  * Lists are comma-separated; reps defaults to 3. With `explain-dir`,
  * `<explain-dir>/<sf-dir name>/<query>.explain.txt` gets the formatted
  * explain and `<query>.metrics.txt` the executed tree with its SQL
  * metrics. Spark settings are `-Dspark.*` properties of the forked
  * JVM (README "Profiling": broadcast off, skew thresholds);
  * `no_broadcast` says whether both broadcast thresholds were off.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 4,
      "usage: graft.Profile <sf-dirs> <names|all> [reps] [explain-dir]")
    def list(s: String) = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val queries =
      if (args(1) == "all") QueryCatalog.all
      else list(args(1)).map(n => QueryCatalog.all.find(_.name == n)
        .getOrElse(sys.error(s"$n is not in QueryCatalog")))
    val reps = args.lift(2).fold(3)(_.toInt)
    val explainDir = args.lift(3).map(Paths.get(_))
    val spark = Session.local()
    val conf = spark.sessionState.conf
    val noBroadcast = conf.autoBroadcastJoinThreshold < 0 &&
      conf.getConf(org.apache.spark.sql.internal.SQLConf.ADAPTIVE_AUTO_BROADCASTJOIN_THRESHOLD)
        .forall(_ < 0)
    val metrics = QueryMetrics.start(spark)

    for (sfDir <- list(args(0))) {
      Bench.warmup(spark, sfDir)
      for (q <- queries) {
        for (rep <- 1 to reps) {
          spark.catalog.clearCache()
          metrics.reset()
          val run = try {
            val t0 = System.nanoTime()
            val df = q.fn(spark, sfDir)
            val rows = df.count()
            val sec = (System.nanoTime() - t0) / 1e9
            ListMap("sec" -> math.rint(sec * 1000) / 1000, "rows" -> rows) ++
              metrics.record ++
              ListMap("unpartitioned_windows" ->
                Plans.unpartitionedWindows(df.queryExecution.executedPlan))
          } catch {
            case e: Throwable => ListMap("error" -> e.toString.takeWhile(_ != '\n').take(200))
          }
          println(Json(ListMap("query" -> q.name, "dir" -> sfDir, "rep" -> rep,
            "no_broadcast" -> noBroadcast) ++ run))
        }
        explainDir.foreach { dir =>
          try explain(q, spark, sfDir, dir.resolve(Paths.get(sfDir).getFileName))
          catch { case e: Throwable => println(s"[profile] ${q.name} explain failed: $e") }
        }
      }
    }
    metrics.stop()
    spark.stop()
  }

  /** Writes the formatted explain of a fresh frame of `q`, then executes
    * that same plan and writes its final tree with every non-zero SQL
    * metric.
    */
  private def explain(q: Q, spark: org.apache.spark.sql.SparkSession, sfDir: String,
      dir: Path): Unit = {
    spark.catalog.clearCache()
    Files.createDirectories(dir)
    val qe = q.fn(spark, sfDir).queryExecution
    Files.writeString(dir.resolve(s"${q.name}.explain.txt"), qe.explainString(FormattedMode))
    qe.executedPlan.executeCollect()
    val tree = Plans.executedTree(qe.executedPlan).map { case (p, depth) =>
      val ms = p.metrics.toSeq.filter(_._2.value > 0).sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }.mkString(" ")
      f"${" " * depth}${p.nodeName}%-38s $ms".stripTrailing
    }
    Files.writeString(dir.resolve(s"${q.name}.metrics.txt"), tree.mkString("", "\n", "\n"))
  }
}
