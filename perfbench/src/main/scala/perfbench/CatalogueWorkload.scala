package perfbench

import java.io.File

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, QueryCatalog}

/** A seeded draw from `QueryCatalog.all` over the parquet tables in
  * `data`, run one entry at a time in seeded order. Each entry is
  * timed from the `q.fn` call to the full materialization of every
  * column of its result.
  */
final class CatalogueWorkload(data: String, seed: Long) extends Workload {
  private val draw = CatalogueWorkload.draw(QueryCatalog.all, seed, CatalogueWorkload.DrawSize)

  def inputs: Map[String, Any] = Map(
    "data_mb" -> Main.treeBytes(new File(data)) / 1e6,
    "draw_size" -> draw.size,
    "catalogue_size" -> QueryCatalog.all.size,
  )

  /** Oracle SQL of every catalogue entry that has one. */
  def oracleSql: Map[String, String] = QueryCatalog.all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Touch every table, then run two entries of a fixed draw, so set-up
    * does the same work for every seed.
    */
  def warmUp(spark: SparkSession): Unit = {
    Main.tables(data).foreach(t => graft.model.Tables(spark, data, t).count())
    CatalogueWorkload.draw(QueryCatalog.all, 1000003L, CatalogueWorkload.DrawSize)
      .take(2).foreach(q => CatalogueWorkload.materialize(q.fn(spark, data)))
  }

  def op(spark: SparkSession, i: Int, tracer: Tracer): Op = {
    val q = draw(i % draw.size)
    val c0 = Main.cpuSeconds
    val t0 = System.nanoTime()
    try {
      tracer.span("entry", i) {
        if (tracer.enabled) tracer.span("functions.register", i)(graft.functions.exprs.register(spark))
        val t1 = System.nanoTime()
        val df = tracer.span("operators.build", i)(q.fn(spark, data))
        val t2 = System.nanoTime()
        val rows = tracer.span("operators.action", i)(CatalogueWorkload.materialize(df))
        val t3 = System.nanoTime()
        Op(q.name, (t3 - t1) / 1e9, Main.cpuSeconds - c0, (t2 - t1) / 1e9, (t3 - t2) / 1e9, rows)
      }
    } catch {
      case NonFatal(e) =>
        Op(q.name, (System.nanoTime() - t0) / 1e9, Main.cpuSeconds - c0, 0, 0, 0,
          error = Some(Main.error(e)))
    }
  }

  def layerMetrics(tracer: Tracer, counters: Counters, ops: Seq[Op], cores: Int): Map[String, Double] = {
    val n = ops.size.toDouble
    Layers.common(tracer, counters.snapshot(), ops, Seq("entry", "operators.build", "operators.action"),
      cores) ++ Map(
      "functions.register_ms" -> Layers.self(tracer, "functions.register") / n * 1e3,
    )
  }
}

object CatalogueWorkload {
  /** Entries per draw. */
  val DrawSize = 120

  /** The family of an entry is its name's prefix, e.g. `gr` for
    * `gr_closeness_centrality`.
    */
  def family(q: Q): String = q.name.takeWhile(_ != '_')

  /** `size` entries, proportional to family size with at least one per
    * family, in seeded order.
    */
  def draw(all: Seq[Q], seed: Long, size: Int): Seq[Q] = {
    val rnd = new Random(seed)
    val families = all.groupBy(family).toSeq.sortBy(_._1)
    val picked = families.flatMap { case (_, qs) =>
      val k = math.min(qs.size, math.max(1, math.round(size.toDouble * qs.size / all.size).toInt))
      rnd.shuffle(qs).take(k)
    }
    rnd.shuffle(picked)
  }

  /** Materialize every column: count the rows and fold a hash of each
    * row. Map columns are hashed through their JSON text, since Spark
    * does not hash maps. Returns the row count.
    */
  def materialize(df: DataFrame): Long = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.agg(count(lit(1)), bit_xor(h)).head().getLong(0)
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}
