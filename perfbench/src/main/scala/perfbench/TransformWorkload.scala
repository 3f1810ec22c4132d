package perfbench

import java.io.File

import scala.io.Source
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, md5}

import graft.Engine
import graft.functions.exprs
import graft.operators.InspectorPipeline
import graft.sources.{GeoJson, NdjsonSink}

/** `Engine.transform` to NDJSON over one generated landing set
  * (`<work>/input`); the set-up's warm-up uses `<work>/warm`.
  */
final class TransformWorkload(work: String) extends Workload {
  private def dirs(name: String) = Engine.Dirs(
    consolidated = s"$work/$name/consolidated.geojson",
    toponyms = s"$work/$name/toponyms.geojson",
    sheets = s"$work/$name/sheets.geojson",
    layerBoroughs = s"$work/$name/layer-boroughs.json",
  )

  private val input = dirs("input")
  private val consolidatedMb = new File(input.consolidated).length() / 1e6

  def inputs: Map[String, Any] = Map("consolidated_mb" -> consolidatedMb)

  def warmUp(spark: SparkSession): Unit = {
    val out = new File(s"$work/out/warm")
    Engine.transformToNdjson(spark, dirs("warm"), out.getPath)
    Main.deleteTree(out)
  }

  def op(spark: SparkSession, i: Int, tracer: Tracer): Op = {
    val out = new File(s"$work/out/op$i")
    val c0 = Main.cpuSeconds
    val t0 = System.nanoTime()
    var t1 = t0
    val op =
      try {
        tracer.span("transform", i) {
          val df = tracer.span("operators.build", i)(Engine.transform(spark, input))
          t1 = System.nanoTime()
          tracer.span("operators.action", i)(NdjsonSink.write(df, out.getPath))
        }
        val t2 = System.nanoTime()
        val cpu = Main.cpuSeconds - c0
        val counts = TransformWorkload.countRecords(out)
        Op("transform", (t2 - t0) / 1e9, cpu, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
          counts.values.sum, counts)
      } catch {
        case NonFatal(e) =>
          Op("transform", (System.nanoTime() - t0) / 1e9, Main.cpuSeconds - c0, 0, 0, 0,
            error = Some(Main.error(e)))
      }
    Main.deleteTree(out)
    if (tracer.enabled && op.error.isEmpty) layers(spark, i, tracer)
    op
  }

  /** NDJSON megabytes written by the traced `sources.ndjson_write` calls. */
  private var ndjsonMb = 0.0

  /** Each layer called on its own, on inputs the previous layer left
    * materialized, so its span holds only its own work.
    */
  private def layers(spark: SparkSession, i: Int, tracer: Tracer): Unit = tracer.span("layers", i) {
    tracer.span("sources.parse_consolidated", i)(
      Main.noop(GeoJson.consolidated(spark, input.consolidated)))
    tracer.span("sources.parse_toponyms", i)(Main.noop(GeoJson.toponyms(spark, input.toponyms)))
    val (cons, topo, sheets, layers) = tracer.span("prep", i)((
      GeoJson.consolidated(spark, input.consolidated).localCheckpoint(),
      GeoJson.toponyms(spark, input.toponyms).localCheckpoint(),
      GeoJson.sheets(spark, input.sheets).localCheckpoint(),
      GeoJson.layerBoroughs(spark, input.layerBoroughs).localCheckpoint(),
    ))
    val (consRecords, indexed) = tracer.span("operators.consolidated", i) {
      val out = InspectorPipeline.consolidated(spark, cons, sheets, layers)
      (out.records.localCheckpoint(), out.indexedBuildings)
    }
    val index = tracer.span("prep", i)(indexed.localCheckpoint())
    val topoRecords = tracer.span("operators.toponyms", i)(
      InspectorPipeline.toponyms(spark, topo, sheets, layers, index).localCheckpoint())
    tracer.span("functions.toponym_id", i)(Main.noop(topo.select(
      exprs.base62_encode_hex(md5(exprs.js_coord_join_raw(col("feature.geometry.coordinates")))))))
    val out = new File(s"$work/out/layers$i")
    tracer.span("sources.ndjson_write", i)(
      NdjsonSink.write(consRecords.unionByName(topoRecords), out.getPath))
    ndjsonMb += Main.treeBytes(out) / 1e6
    Main.deleteTree(out)
    tracer.span("functions.register", i)(exprs.register(spark))
  }

  def layerMetrics(tracer: Tracer, counters: Counters, ops: Seq[Op], cores: Int): Map[String, Double] = {
    val n = ops.size.toDouble
    def self(name: String): Double = Layers.self(tracer, name) / n
    val buckets = counters.snapshot()
    val parse = self("sources.parse_consolidated")
    Layers.common(tracer, buckets, ops, Seq("transform", "operators.build", "operators.action"),
      cores) ++ Map(
      "sources.parse_consolidated_s" -> parse,
      "sources.parse_tasks" -> buckets.get("sources.parse_consolidated").map(_.tasks).getOrElse(0L) / n,
      "sources.parse_mb_per_s" -> (if (parse > 0) consolidatedMb / parse else 0.0),
      "sources.parse_toponyms_s" -> self("sources.parse_toponyms"),
      "sources.ndjson_write_s" -> self("sources.ndjson_write"),
      "sources.ndjson_mb" -> ndjsonMb / n,
      "operators.consolidated_s" -> self("operators.consolidated"),
      "operators.toponyms_s" -> self("operators.toponyms"),
      "functions.toponym_id_s" -> self("functions.toponym_id"),
      "functions.register_ms" -> self("functions.register") * 1e3,
    )
  }
}

object TransformWorkload {
  /** Count the NDJSON records in `dir` by kind. The sink's line layout
    * is fixed: `{"type":<kind>,"obj":{...}}` with the object's own
    * fields in schema order.
    */
  def countRecords(dir: File): Map[String, Long] = {
    val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val parts = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-"))
    parts.foreach { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().foreach(line => counts(kind(line)) += 1)
      finally src.close()
    }
    counts.toMap
  }

  private def kind(line: String): String =
    if (line.startsWith("{\"type\":\"object\",\"obj\":{")) {
      if (line.contains("\"type\":\"st:Address\"")) "object.address"
      else if (line.startsWith("{\"type\":\"object\",\"obj\":{\"id\":\"toponym-")) "object.toponym"
      else if (line.contains("\"type\":\"st:Building\"")) "object.building"
      else "object.other"
    } else if (line.startsWith("{\"type\":\"relation\",\"obj\":{")) {
      if (line.endsWith(",\"type\":\"st:in\"}}")) "relation.in"
      else if (line.endsWith(",\"type\":\"st:sameAs\"}}")) "relation.sameAs"
      else "relation.other"
    } else if (line.startsWith("{\"type\":\"log\",\"obj\":{\"error\":\"")) {
      if (line.contains("Can't find borough for layer ")) "log.no_borough"
      else if (line.contains("Can't find building for toponym ")) "log.no_building"
      else if (line.contains("Error computing intersection for toponym ")) "log.no_index"
      else "log.other"
    } else "unknown"
}
