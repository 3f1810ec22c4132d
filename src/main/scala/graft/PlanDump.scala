package graft

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named catalogue queries — the
  * before/after plan evidence for optimization rounds. Run:
  *
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.1 plans/r14 _before q1,q2"
  *
  * Writes plans/r14/<query><suffix>.txt per query (4th arg omitted =
  * whole catalogue). Runs on [[Session.local]], the session Bench times,
  * so the plans are the ones the bench actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r14")
    val suffix = args.lift(2).getOrElse("_before")
    val only = args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Session.local()
    Files.createDirectories(Paths.get(outDir))
    QueryCatalog.all
      .filter(q => only.forall(_.contains(q.name)))
      .foreach { q =>
        try {
          val df = q.fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${q.name}$suffix.txt"), txt)
          println(s"[plandump] ${q.name} ok")
        } catch {
          case e: Throwable =>
            println(s"[plandump] ${q.name} FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
