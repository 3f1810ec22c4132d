package graft.sources

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GeoJSON landing-file readers (SURVEY.md §2.1 S4/S5/S6).
  *
  * Schemas are fixed and explicit — never inferred — because the
  * inputs carry two shapes Spark inference cannot hold: the variant
  * `consensus_address` ('NONE' | array, building-inspector.js:142) and
  * heterogeneous geometry coordinates (Point = array<double>, Polygon
  * = array^3<double>). Both are declared StringType, which makes
  * Spark's JSON parser capture the raw JSON subtree verbatim; callers
  * re-parse with `from_json` once the geometry type is known. This
  * keeps every row parseable in one pass with zero UDFs.
  *
  * Each reader emits `ingest_order` (the feature's index in the
  * collection) because the reference's first-seen dedup semantics
  * (building-inspector.js:92-100) are defined by file order.
  *
  * The consolidated landing file is either one FeatureCollection
  * document or NDJSON (one Feature per line, what the download step's
  * paginated writer lands); [[consolidated]] tells them apart from the
  * file's head. Scale note: `multiLine=true` on one FeatureCollection
  * document parses on a single task, while [[featuresNdjson]] reads
  * NDJSON fully parallel with the same schema.
  */
object GeoJson {

  /** Raw-captured geometry: `coordinates` is the JSON subtree text. */
  val geometrySchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("coordinates", StringType),
  ))

  val geometryCollectionSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("coordinates", StringType),
    StructField("geometries", ArrayType(geometrySchema)),
  ))

  val consolidatedFeatureSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("properties", StructType(Seq(
      StructField("id", StringType),
      StructField("sheet_id", LongType),
      StructField("map_id", StringType),
      StructField("consensus_color", StringType),
      StructField("consensus_address", StringType), // raw: 'NONE' | [...]
    ))),
    StructField("geometry", geometryCollectionSchema),
  ))

  val toponymFeatureSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("properties", StructType(Seq(
      StructField("sheet_id", LongType),
      StructField("consensus", StringType),
    ))),
    StructField("geometry", geometrySchema),
  ))

  val sheetFeatureSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("properties", StructType(Seq(
      StructField("id", LongType),
      StructField("map_id", StringType),
      StructField("layer", StructType(Seq(
        StructField("external_id", LongType),
        StructField("year", StringType),
      ))),
    ))),
  ))

  private def collectionSchema(feature: StructType) = StructType(Seq(
    StructField("type", StringType),
    StructField("features", ArrayType(feature)),
  ))

  /** One FeatureCollection document → (ingest_order, feature) rows. */
  def features(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(collectionSchema(schema))
      .option("multiLine", value = true)
      .json(path)
      .select(posexplode(col("features")).as(Seq("ingest_order", "feature")))

  /** NDJSON variant: one feature per line, order by file position. */
  def featuresNdjson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .json(path)
      .withColumn("ingest_order", monotonically_increasing_id())
      .select(col("ingest_order"), struct(col("type"), col("properties"), col("geometry")).as("feature"))

  /** True when the file holds one FeatureCollection document, false
    * for NDJSON Features. Decided by the first top-level `type` or
    * `features` key of the first JSON object, so only the file's head
    * is read.
    */
  def isFeatureCollection(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val in: java.io.InputStream =
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val parser = new JsonFactory().createParser(in)
    try {
      var verdict: Option[Boolean] = None
      if (parser.nextToken() == JsonToken.START_OBJECT) {
        while (verdict.isEmpty && parser.nextToken() == JsonToken.FIELD_NAME) {
          val key = parser.currentName()
          parser.nextToken()
          if (key == "features") verdict = Some(true)
          else if (key == "type") verdict = Some(parser.getText == "FeatureCollection")
          else parser.skipChildren()
        }
      }
      verdict.getOrElse(false)
    } finally parser.close()
  }

  /** The consolidated landing file in either layout: NDJSON as the
    * download step lands it, or one FeatureCollection document.
    */
  def consolidated(spark: SparkSession, path: String): DataFrame =
    if (isFeatureCollection(spark, path)) features(spark, path, consolidatedFeatureSchema)
    else featuresNdjson(spark, path, consolidatedFeatureSchema)

  def toponyms(spark: SparkSession, path: String): DataFrame =
    features(spark, path, toponymFeatureSchema)

  def sheets(spark: SparkSession, path: String): DataFrame =
    features(spark, path, sheetFeatureSchema)

  /** layer-boroughs.json: plain JSON array of {id, borough}
    * (reference: layer-boroughs.json, loaded building-inspector.js:388).
    */
  def layerBoroughs(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(StructType(Seq(
        StructField("id", LongType),
        StructField("borough", StringType),
      )))
      .option("multiLine", value = true)
      .json(path)

  /** Parse a raw Polygon coordinates subtree to typed rings. */
  def polygonRings(raw: Column): Column =
    from_json(raw, ArrayType(ArrayType(ArrayType(DoubleType))))

  /** Parse a raw Point coordinates subtree to [x, y]. */
  def pointCoords(raw: Column): Column =
    from_json(raw, ArrayType(DoubleType))
}
