package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.InspectorPipeline
import graft.sources.{GeoJson, NdjsonSink}

/** Public entry points mirroring the reference module's two steps
  * (`module.exports.steps = [download, transform]`,
  * building-inspector.js:416-419).
  *
  * `download` is a driver-side ingest concern (paginated HTTP to
  * landing files, SURVEY §2.1 S1-S3) — see [[graft.sources.Ingest]];
  * it involves no Spark jobs. `transform` is the engine: one
  * declarative plan from landing files to tagged NDJSON.
  */
object Engine {

  /** Landing-file locations (the reference's `dirs.download`). */
  final case class Dirs(
      consolidated: String,
      toponyms: String,
      sheets: String,
      layerBoroughs: String,
  )

  /** Full transform: returns the unified tagged-record DataFrame
    * (rtype = object | relation | log). The consolidated phase's
    * polygon side is reused by the toponym phase — the reference's
    * build-then-probe barrier falls out of the join's build/probe
    * contract (SURVEY §2.4 J4).
    */
  def transform(spark: SparkSession, dirs: Dirs): DataFrame = {
    graft.functions.exprs.register(spark)
    val sheets = GeoJson.sheets(spark, dirs.sheets)
    val layers = GeoJson.layerBoroughs(spark, dirs.layerBoroughs)
    val cons = InspectorPipeline.consolidated(
      spark, GeoJson.consolidated(spark, dirs.consolidated), sheets, layers)
    val topo = InspectorPipeline.toponyms(
      spark, GeoJson.toponyms(spark, dirs.toponyms), sheets, layers,
      cons.indexedBuildings)
    cons.records.unionByName(topo)
  }

  def transformToNdjson(spark: SparkSession, dirs: Dirs, out: String): Unit =
    NdjsonSink.write(transform(spark, dirs), out)

  /** The reference's download step (building-inspector.js:337-369):
    * sequential, rate-limited driver-side ingest of the three datasets
    * to landing files — consolidated paginated to
    * `consolidated.ndjson` (one Feature per line), toponyms and sheets
    * single-shot to their upstream FeatureCollection bodies.
    * `extractFeatures` parses one page body into its features
    * (injected: keeps this module HTTP-client-pure and lets tests
    * drive the loop offline).
    *
    * [[transform]] reads these files as landed: point
    * `Dirs.consolidated` at `consolidated.ndjson` and
    * [[graft.sources.GeoJson.consolidated]] sees from the file's head
    * that it is NDJSON, reading it in parallel through
    * [[graft.sources.GeoJson.featuresNdjson]].
    */
  def download(
      baseUrl: String,
      outDir: String,
      extractFeatures: String => Seq[String],
      options: graft.sources.Ingest.Options = graft.sources.Ingest.Options(),
  ): Unit = {
    graft.sources.Ingest.pagesToNdjson(
      s"$baseUrl/consolidated", s"$outDir/consolidated.ndjson",
      extractFeatures, options)
    graft.sources.Ingest.toFile(s"$baseUrl/toponyms", s"$outDir/toponyms.geojson", options)
    graft.sources.Ingest.toFile(s"$baseUrl/sheets", s"$outDir/sheets.geojson", options)
  }
}
