package graft.sources

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.json.{JacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

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
  * file's head. Both layouts parse in parallel: a FeatureCollection
  * through the `geojson` source ([[graft.sources.v2.GeoJsonDataSource]]),
  * which splits the file into byte ranges of whole features, one per
  * core (capped by `spark.sql.files.maxPartitionBytes`), and
  * [[featuresNdjson]] through Spark's line-split JSON reader.
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

  /** One FeatureCollection document → (ingest_order, feature) rows:
    * the `geojson` source's raw feature text, parsed by [[FeatureFromJson]].
    */
  def features(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.format("geojson").load(path)
      .select(col("ingest_order"),
        Bridge.column(FeatureFromJson(Bridge.expression(col("feature_json")), schema)).as("feature"))

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

/** `from_json(json, schema)` for one raw GeoJSON feature, with the
  * semantics of Spark's JSON file reader that the FeatureCollection
  * readers have always had: a StringType field holding a JSON array or
  * object (`coordinates`, `consensus_address`) captures the input text
  * byte for byte (`spark.sql.json.enableExactStringParsing`), where
  * `from_json` re-prints it (no whitespace, floats through
  * `Double.toString`); a JSON `null` is a null feature, not a struct of
  * nulls. Malformed text gives a struct of nulls, as in `from_json`.
  */
private[sources] case class FeatureFromJson(child: Expression, schema: StructType)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = schema
  override def nullable: Boolean = true

  @transient private lazy val parser = {
    val options = new JSONOptions(Map.empty[String, String],
      SQLConf.get.sessionLocalTimeZone, SQLConf.get.columnNameOfCorruptRecord)
    val raw = new JacksonParser(schema, options, false, Nil)
    // a byte-array parser is what lets the raw capture slice its input
    new FailureSafeParser[Array[Byte]](
      bytes => raw.parse(bytes, (f: JsonFactory, b: Array[Byte]) => f.createParser(b),
        UTF8String.fromBytes),
      PermissiveMode, schema, options.columnNameOfCorruptRecord)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String]
    if (text == FeatureFromJson.JsonNull) null
    else {
      val rows = parser.parse(text.getBytes)
      if (rows.hasNext) rows.next() else null
    }
  }

  override protected def withNewChildInternal(newChild: Expression): FeatureFromJson =
    copy(child = newChild)
}

private object FeatureFromJson {
  private val JsonNull = UTF8String.fromString("null")
}
