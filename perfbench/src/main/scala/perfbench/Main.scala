package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation of the closed loop: one transform call, or one
  * catalogue entry. `counts` are the output's record kinds; `probeS` is
  * the host probe's time just before the operation.
  */
final case class Op(
    name: String,
    wallS: Double,
    cpuS: Double,
    buildS: Double,
    actionS: Double,
    rows: Long,
    counts: Map[String, Long] = Map.empty,
    error: Option[String] = None,
    probeS: Double = 0.0,
)

/** How fast the host runs right now. On a shared host the CPU speed a
  * run gets moves by half from one minute to the next, and the
  * program's wall and CPU times move with it. The probe is a fixed
  * single-threaded kernel that touches neither Spark nor the program
  * and allocates nothing: MD5 over a buffer, then a sort of a copy of
  * an int array; seven rounds, median.
  */
object HostProbe {
  private val bytes = Array.tabulate(1 << 16)(i => (i * 31 + 7).toByte)
  private val ints = { val r = new scala.util.Random(42); Array.fill(1 << 17)(r.nextInt()) }
  private val work = new Array[Int](ints.length)
  private val md5 = java.security.MessageDigest.getInstance("MD5")
  private val out = new Array[Byte](16)
  @volatile private var sink = 0L

  private def round(): Double = {
    val t0 = System.nanoTime()
    var k = 0
    while (k < 192) { md5.update(bytes); k += 1 }
    md5.digest(out, 0, 16)
    System.arraycopy(ints, 0, work, 0, ints.length)
    java.util.Arrays.sort(work)
    sink += out(0) + work(work.length / 2)
    (System.nanoTime() - t0) / 1e9
  }

  def seconds(): Double = Array.fill(7)(round()).sorted.apply(3)
}

/** A workload drives the program through its public entry points. */
trait Workload {
  def warmUp(spark: SparkSession): Unit

  /** Run operation `i`. Only the program call is timed; output checks
    * and clean-up happen after the clock stops.
    */
  def op(spark: SparkSession, i: Int, tracer: Tracer): Op

  /** Layer metrics of a traced phase, per operation. */
  def layerMetrics(tracer: Tracer, counters: Counters, ops: Seq[Op], cores: Int): Map[String, Double]

  /** Input description for the result stamp. */
  def inputs: Map[String, Any]
}

/** Benchmark JVM: set-up, the timed closed loop (one client, one
  * operation at a time) and, with tracing, the per-layer breakdown.
  * Writes one JSON document to `--result`; `run.py` checks it and
  * prints the metrics.
  */
object Main {
  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      work: String,
      data: String,
      cores: Int,
      result: String,
  )

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m.getOrElse("data", ""), m("cores").toInt, m("result"))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).takeWhile(_ != '\n').take(300)}"

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Names of the parquet tables in `dir`. */
  def tables(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .map(_.getName).filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L) else f.length()

  /** VmHWM of this process: peak resident set size. */
  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Run operations back to back, each after a host probe, at least
    * three and none that starts after `seconds`.
    */
  private def loop(w: Workload, spark: SparkSession, tracer: Tracer, seconds: Double): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    val deadlineNs = System.nanoTime() + (seconds * 1e9).toLong
    while (ops.size < 3 || System.nanoTime() < deadlineNs) {
      val probe = HostProbe.seconds()
      ops += w.op(spark, ops.size, tracer).copy(probeS = probe)
      spark.catalog.clearCache()
    }
    ops.toSeq
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w: Workload = a.workload match {
      case "transform_bulk" | "transform_probe" => new TransformWorkload(a.work)
      case "catalogue" => new CatalogueWorkload(a.data, a.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up, once, from JVM start: build the session, register the
    // engine's functions and make one untimed warm-up call on a small
    // input of its own.
    val spark = session(a)
    graft.functions.exprs.register(spark)
    w.warmUp(spark)
    spark.catalog.clearCache()
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    (1 to 10).foreach(_ => HostProbe.seconds()) // compiled before it is timed

    val untraced = new Tracer(spark, None)
    val start = System.nanoTime()
    val secondsNs = (a.seconds * 1e9).toLong
    val result = mutable.LinkedHashMap[String, Any]()
    if (!a.trace) {
      result("ops") = loop(w, spark, untraced, a.seconds)
    } else {
      // The traced run: each traced operation sits between two untraced
      // runs of the same operation, so all three see the same JIT and
      // cache state; traced minus their mean is the tracing overhead.
      // Listeners are attached for the traced one only.
      val counters = new Counters
      val tracer = new Tracer(spark, Some(counters))
      val traced = mutable.ArrayBuffer[Op]()
      val overheads = mutable.ArrayBuffer[Double]()
      def plain(i: Int): Op = try w.op(spark, i, untraced) finally spark.catalog.clearCache()
      while (traced.isEmpty || System.nanoTime() < start + secondsNs) {
        val i = traced.size
        val before = plain(i)
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(counters)
        val t = w.op(spark, i, tracer)
        spark.catalog.clearCache()
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(counters)
        spark.listenerManager.unregister(counters)
        val after = plain(i)
        traced += t
        if (Seq(before, t, after).forall(_.error.isEmpty))
          overheads += t.wallS - (before.wallS + after.wallS) / 2
      }
      val layers = w.layerMetrics(tracer, counters, traced.toSeq, a.cores)
      // The model layer: every table of the catalogue data set read
      // through the program's loader, timed on the second pass.
      Seq("prep", "model.scan").foreach { name =>
        tables(a.data).foreach(t => tracer.span(name, -1)(noop(graft.model.Tables(spark, a.data, t))))
      }
      result("ops") = traced.toSeq
      result("layers") = layers ++ Map(
        "model.scan_s" -> Layers.self(tracer, "model.scan"),
        "trace.overhead_s" -> (if (overheads.isEmpty) 0.0 else overheads.sum / overheads.size),
        "run.failed_frac" -> traced.count(_.error.nonEmpty).toDouble / traced.size,
      )
      result("spans") = tracer.spans.map(s => Map(
        "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - start) / 1e9, "end_s" -> (s.endNs - start) / 1e9,
        "self_s" -> tracer.selfSeconds(s)))
      result("counters") = counters.snapshot().map { case (k, b) => k -> b.toMap }
    }
    w match {
      case c: CatalogueWorkload => result("oracle_sql") = c.oracleSql
      case _ =>
    }
    result("setup_s") = setupS
    result("peak_rss_mb") = peakRssMb
    result("stamp") = Map(
      "cores" -> a.cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark_local_dir" -> new File(spark.sparkContext.getConf.get("spark.local.dir"))
        .getCanonicalPath,
      "spark_version" -> spark.version,
      "inputs" -> w.inputs,
    )
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a.result), mapper.writeValueAsString(result))
  }
}
