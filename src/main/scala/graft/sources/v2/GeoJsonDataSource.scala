package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactory, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 GeoJSON FeatureCollection source:
  *
  *   spark.read.format("geojson").load("a.geojson,b.geojson")
  *
  * → rows (path, ingest_order, feature_json): one row per element of
  * the file's root-level `features` array — the engine twin of the
  * reference's `JSONStream.parse('features.*')`
  * (building-inspector.js:327-331). `feature_json` is the element's
  * raw text, byte for byte; `ingest_order` is its index in its file,
  * preserving the reference's first-seen dedup order. Downstream,
  * `graft.sources.GeoJson.features` parses the text with the typed
  * schemas, the only full parse a feature gets.
  *
  * SPLITTING: every file is planned as byte-range partitions of whole
  * features. Planning runs one sequential index skim over the file
  * (Jackson `skipChildren`, no tree building; I/O-bound, like the
  * Parquet footer reads of query planning) recording the byte offsets
  * of feature boundaries. The split size is derived from
  * the file and the session: `ceil(size / defaultParallelism)`, capped
  * by `spark.sql.files.maxPartitionBytes`, so a file occupies every
  * core and no task reads more than one of Spark's own file splits. A
  * split ends at the first feature boundary at or past each multiple
  * of the split size. Each task reads its range, parses `[` + range +
  * `]` as a standalone JSON array and emits each element as a byte
  * slice of that buffer. Offsets come from a real parse — there is no
  * "re-sync on `{`" heuristic to be fooled by braces inside string
  * literals — and each split carries its first feature index, keeping
  * `ingest_order` globally exact.
  *
  * Files are read through the session's Hadoop FileSystem, so any
  * Hadoop path works. The reader factory carries that Hadoop conf as a
  * broadcast made once per scan (the scan keeps its one factory), as
  * Spark's own file scans do: a task
  * whose closure reaches the scan ships the broadcast's id, not the
  * conf (over 100 KB serialized). A file that is not one JSON object,
  * or ends before its root object closes (a truncated download), fails
  * the scan with an error naming the file; a root object without a
  * `features` array yields no rows.
  */
class GeoJsonDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "geojson"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GeoJsonDataSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val paths = Option(properties.get("path")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    new GeoJsonTable(paths)
  }
}

object GeoJsonDataSource {

  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("ingest_order", LongType, nullable = false),
    StructField("feature_json", StringType, nullable = false),
  ))

  /** Split size for a file of `size` bytes: one split per core, capped
    * by Spark's own file split size.
    */
  private[v2] def splitBytes(spark: SparkSession, size: Long): Long = {
    val cores = spark.sparkContext.defaultParallelism
    math.max(1L, math.min((size + cores - 1) / cores,
      spark.sessionState.conf.filesMaxPartitionBytes))
  }

  /** Byte-range partitions of one file, sized for `spark`. */
  private[v2] def partitionsFor(
      spark: SparkSession, conf: Configuration, path: String): Seq[InputPartition] = {
    val p = new Path(path)
    val size = p.getFileSystem(conf).getFileStatus(p).getLen
    indexSplits(path, conf, splitBytes(spark, size)).map { case (s, e, i) =>
      GeoJsonInputPartition(path, s, e, i)
    }
  }

  /** Index skim of one file: byte ranges of consecutive elements of
    * the root-level `features` array as (startByte, endByteExclusive,
    * firstFeatureIndex), each ending at the first element end at or
    * past a multiple of `splitBytes`.
    */
  private[v2] def indexSplits(
      path: String, conf: Configuration, splitBytes: Long): Seq[(Long, Long, Long)] = {
    val p = new Path(path)
    val in: java.io.InputStream = p.getFileSystem(conf).open(p)
    val parser = new JsonFactory().createParser(in)
    def fail(why: String, cause: Throwable = null) =
      throw new java.io.IOException(s"$path is not a GeoJSON FeatureCollection: $why", cause)
    try {
      if (parser.nextToken() != JsonToken.START_OBJECT) fail("no root JSON object")
      val splits = Seq.newBuilder[(Long, Long, Long)]
      var seenFeatures = false
      while (parser.nextToken() == JsonToken.FIELD_NAME) {
        val isFeatures = !seenFeatures && parser.currentName() == "features"
        if (parser.nextToken() == JsonToken.START_ARRAY && isFeatures) {
          seenFeatures = true
          var splitStart = -1L
          var splitFirst = 0L
          var end = 0L
          var boundary = splitBytes
          var idx = 0L
          while (parser.nextToken() != JsonToken.END_ARRAY) {
            if (splitStart < 0) {
              splitStart = parser.currentTokenLocation().getByteOffset
              splitFirst = idx
            }
            end = elementEnd(parser)
            idx += 1
            if (end >= boundary) {
              splits += ((splitStart, end, splitFirst))
              splitStart = -1L
              boundary = (end / splitBytes + 1) * splitBytes
            }
          }
          if (splitStart >= 0) splits += ((splitStart, end, splitFirst))
        } else parser.skipChildren()
      }
      if (parser.currentToken() != JsonToken.END_OBJECT) fail("the root object does not close")
      splits.result()
    } catch {
      case e: JsonProcessingException => fail(e.getOriginalMessage, e)
    } finally parser.close()
  }

  /** Byte offset just past the array element whose first token is
    * the parser's current token.
    */
  private[v2] def elementEnd(parser: com.fasterxml.jackson.core.JsonParser): Long = {
    parser.skipChildren()
    parser.finishToken()
    parser.currentLocation().getByteOffset
  }
}

private[v2] class GeoJsonTable(paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"geojson(${paths.mkString(",")})"
  override def schema(): StructType = GeoJsonDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      private lazy val spark = SparkSession.active
      private lazy val conf = spark.sessionState.newHadoopConf()
      override def build(): Scan = this
      override def readSchema(): StructType = GeoJsonDataSource.schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        paths.flatMap(GeoJsonDataSource.partitionsFor(spark, conf, _)).toArray
      // one factory, so one conf broadcast, however often Spark asks
      private lazy val readerFactory = GeoJsonReaderFactory(spark, conf)
      override def createReaderFactory(): PartitionReaderFactory = readerFactory
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
        require(paths.size == 1 && Landing.isDirectory(paths.head, conf),
          s"streaming geojson needs a single landing DIRECTORY to watch, got $paths")
        new GeoJsonMicroBatchStream(paths.head, spark, conf)
      }
    }
}

/** Micro-batch stream over a landing directory of FeatureCollection
  * files — the engine twin of the reference's incremental
  * page-by-page ingest (building-inspector.js:37-64 pulls pages until
  * empty; here each landed `.geojson` file is a page). An offset is
  * the SET of files ingested so far (serialized as a sorted JSON
  * array), so a batch is exactly the newly-landed files, each planned
  * with the same byte-range splitting as the batch scan; per-file
  * `ingest_order` and the (path, ingest_order) dedup contract carry
  * over unchanged. The directory is listed by [[Landing.list]] on its
  * Hadoop `FileSystem`, keeping `.geojson` files. Files must land
  * atomically (write-then-rename under a hidden temp name, the
  * standard landing-dir discipline): a file is picked up when listed,
  * and a name starting with `.` or `_` is never listed.
  *
  * Known limit: offsets carry the complete file set, so offset JSON
  * and the per-batch set-diff grow O(files ever landed) — right for a
  * bounded backfill (any landing order, files may arrive out of name
  * order), but a months-long continuous ingest should compact the
  * offset to a high-water mark, which is only sound once landing
  * names are promised monotone (e.g. timestamped); this source makes
  * no such assumption, so it keeps the explicit set.
  */
private[v2] class GeoJsonMicroBatchStream(dir: String, spark: SparkSession, conf: Configuration)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val mapper = new ObjectMapper()

  private def listFiles(): Seq[String] =
    Landing.list(dir, conf)(_.getPath.getName.endsWith(".geojson"))

  override def initialOffset(): Offset = GeoJsonOffset(Seq.empty)
  override def latestOffset(): Offset = GeoJsonOffset(listFiles())
  override def deserializeOffset(json: String): Offset =
    GeoJsonOffset(mapper.readValue(json, classOf[Array[String]]).toSeq)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[GeoJsonOffset].files.toSet
    end.asInstanceOf[GeoJsonOffset].files.filterNot(seen)
      .flatMap(GeoJsonDataSource.partitionsFor(spark, conf, _)).toArray
  }
  private lazy val readerFactory = GeoJsonReaderFactory(spark, conf)
  override def createReaderFactory(): PartitionReaderFactory = readerFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[v2] case class GeoJsonOffset(files: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    new ObjectMapper().writeValueAsString(files.sorted.toArray)
}

/** A byte range [start, end) of consecutive features of one file. */
private[v2] case class GeoJsonInputPartition(
    path: String, start: Long, end: Long, firstIndex: Long) extends InputPartition

private[v2] class GeoJsonReaderFactory(conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GeoJsonRangeReader(partition.asInstanceOf[GeoJsonInputPartition], conf.value.value)
}

private[v2] object GeoJsonReaderFactory {
  /** A factory reading with `conf`, broadcast once for the scan. */
  def apply(spark: SparkSession, conf: Configuration): GeoJsonReaderFactory =
    new GeoJsonReaderFactory(spark.sparkContext.broadcast(new SerializableConfiguration(conf)))
}

/** Reads one byte range of consecutive features into a buffer
  * bracketed as `[` + range + `]`, which parses as a standalone JSON
  * array (the commas between features stay valid), and emits each
  * element as a slice of the buffer with `ingest_order` offset by the
  * split's first feature index. Memory per task is one split.
  */
private[v2] class GeoJsonRangeReader(split: GeoJsonInputPartition, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val buf = {
    val len = Math.toIntExact(split.end - split.start)
    val b = new Array[Byte](len + 2)
    val p = new Path(split.path)
    val in = p.getFileSystem(conf).open(p)
    try {
      in.seek(split.start)
      in.readFully(b, 1, len)
    } finally in.close()
    b(0) = '['
    b(len + 1) = ']'
    b
  }
  private val parser = new JsonFactory().createParser(buf)
  require(parser.nextToken() == JsonToken.START_ARRAY)
  private var order = split.firstIndex - 1
  private var current: InternalRow = _
  private val pathUtf8 = UTF8String.fromString(split.path)

  override def next(): Boolean =
    if (parser.nextToken() == JsonToken.END_ARRAY) false
    else {
      val start = parser.currentTokenLocation().getByteOffset.toInt
      val end = GeoJsonDataSource.elementEnd(parser).toInt
      order += 1
      current = InternalRow(pathUtf8, order, UTF8String.fromBytes(buf, start, end - start))
      true
    }

  override def get(): InternalRow = current
  override def close(): Unit = parser.close()
}
