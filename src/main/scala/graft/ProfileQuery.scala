package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._

/** Per-query execution profiler for optimization work: runs named
  * catalogue queries on [[Session.local]] (Bench's session) and reports, per
  * rep, where the wall time sits — number of Spark jobs/stages/tasks,
  * summed task run/CPU/GC time, shuffle bytes — so "many tiny stages"
  * (driver/scheduling bound) separates from "heavy task work"
  * (compute bound) without the UI. Run:
  *
  *   sbt "runMain graft.ProfileQuery /root/testdata/sf0.1 3 q1,q2"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Session.local()

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskRunMs = new AtomicLong   // executorRunTime
    val taskCpuMs = new AtomicLong   // executorCpuTime (ns -> ms)
    val taskGcMs = new AtomicLong
    val taskDeserMs = new AtomicLong
    val resultSerMs = new AtomicLong
    val launchOverheadMs = new AtomicLong // duration - runTime (sched+deser+ser)
    val shufWrite = new AtomicLong
    val shufRead = new AtomicLong
    val stageInfo = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Long, Int)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val si = sc.stageInfo
        val m = si.taskMetrics
        if (m != null) {
          // attribute the stage to the first graft frame in its call
          // site — far more useful than the AQE thunk name
          val graftLine = si.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("ProfileQuery"))
            .map(_.trim.take(90)).getOrElse(si.name.takeWhile(_ != '\n').take(60))
          stageInfo.put(si.stageId,
            (graftLine, m.executorRunTime,
              m.executorCpuTime / 1000000L, si.numTasks))
        }
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = te.taskMetrics
        if (m != null) {
          taskRunMs.addAndGet(m.executorRunTime)
          taskCpuMs.addAndGet(m.executorCpuTime / 1000000L)
          taskGcMs.addAndGet(m.jvmGCTime)
          taskDeserMs.addAndGet(m.executorDeserializeTime)
          resultSerMs.addAndGet(m.resultSerializationTime)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
        val ti = te.taskInfo
        if (ti != null && te.taskMetrics != null)
          launchOverheadMs.addAndGet(
            (ti.finishTime - ti.launchTime) - te.taskMetrics.executorRunTime)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // same warmup as Bench so rep minima are comparable
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => try graft.model.Tables(spark, sfDir, t).count() catch { case _: Throwable => })
    for (name <- Seq("sim_lsh_bucket", "ta_token_count");
         q <- QueryCatalog.all.find(_.name == name)) q.fn(spark, sfDir).count()

    def reset(): Unit = {
      stageInfo.clear()
      Seq(jobs, stages, tasks).foreach(_.set(0))
      Seq(taskRunMs, taskCpuMs, taskGcMs, taskDeserMs, resultSerMs,
        launchOverheadMs, shufWrite, shufRead).foreach(_.set(0L))
    }

    QueryCatalog.all
      .filter(q => only.forall(_.contains(q.name)))
      .foreach { q =>
        (1 to reps).foreach { i =>
          spark.catalog.clearCache()
          reset()
          val t0 = System.nanoTime()
          try {
            q.fn(spark, sfDir).count()
            val wall = (System.nanoTime() - t0) / 1e9
            Thread.sleep(300) // let the listener bus drain
            println(f"[prof] ${q.name}%-28s rep=$i wall=$wall%6.2fs " +
              f"jobs=${jobs.get}%3d stages=${stages.get}%3d tasks=${tasks.get}%5d " +
              f"taskRun=${taskRunMs.get / 1000.0}%7.2fs cpu=${taskCpuMs.get / 1000.0}%7.2fs " +
              f"gc=${taskGcMs.get / 1000.0}%5.2fs deser=${taskDeserMs.get / 1000.0}%5.2fs " +
              f"launchOv=${launchOverheadMs.get / 1000.0}%6.2fs " +
              f"shW=${shufWrite.get / 1048576.0}%7.1fMB shR=${shufRead.get / 1048576.0}%7.1fMB")
            if (i == reps && sys.env.get("GRAFT_PROF_STAGES").contains("1")) {
              import scala.jdk.CollectionConverters._
              stageInfo.asScala.toSeq.sortBy(-_._2._2).take(10).foreach {
                case (id, (name, run, cpu, n)) =>
                  println(f"    stage $id%4d run=${run / 1000.0}%7.2fs cpu=${cpu / 1000.0}%7.2fs tasks=$n%4d  $name")
              }
            }
          } catch {
            case e: Throwable =>
              println(s"[prof] ${q.name} rep=$i FAILED: ${e.getMessage}")
          }
        }
        // GRAFT_PROF_PLAN=1: one extra execution via executeCollect so
        // the SAME QueryExecution's final adaptive plan carries its SQL
        // metrics, then print every node with its hot metric values.
        if (sys.env.get("GRAFT_PROF_PLAN").contains("1")) {
          try {
            spark.catalog.clearCache()
            val df = q.fn(spark, sfDir)
            df.queryExecution.executedPlan.executeCollect()
            import org.apache.spark.sql.execution._
            def unwrap(p: SparkPlan): SparkPlan = p match {
              case a: adaptive.AdaptiveSparkPlanExec => a.executedPlan
              case other => other
            }
            var idx = 0
            def walk(p: SparkPlan, depth: Int): Unit = {
              val pp = unwrap(p)
              val ms = pp.metrics.toSeq
                .filter { case (_, m) => m.value > 0 }
                .sortBy(_._1)
                .map { case (k, m) => s"$k=${m.value}" }.mkString(" ")
              println(f"    [plan] ${" " * depth}${pp.nodeName}%-38s $ms")
              idx += 1
              val inner = pp match {
                case qs: adaptive.QueryStageExec => Seq(qs.plan)
                case _ => Seq.empty
              }
              (inner ++ pp.children).foreach(walk(_, depth + 1))
            }
            walk(df.queryExecution.executedPlan, 0)
          } catch {
            case e: Throwable => println(s"    [plan] FAILED: $e")
          }
        }
      }
    spark.stop()
  }
}
