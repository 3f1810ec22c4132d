package graft.sources

import java.io.{BufferedOutputStream, OutputStream}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.v2.{PartFileWriteBuilder, PartFormat, RecordWriter}

/** Tagged-record NDJSON sink (SURVEY.md §2.1 S7): each record is one
  * line `{"type":"object"|"relation"|"log","obj":{...}}`, matching the
  * writer the reference hands records to
  * (building-inspector.js:265-267,319-321,398).
  *
  * Null fields are omitted (to_json default), mirroring JS `undefined`
  * fields vanishing under JSON.stringify. Geometry travels as the raw
  * JSON subtree captured at ingest, spliced in verbatim so coordinates
  * round-trip byte-identically.
  *
  * The reference's strictly-sequential write order is not semantic
  * (SURVEY §2.7); the sink stays parallel. Tests canonicalize by
  * sorting records.
  *
  * [[write]] goes through [[graft.sources.v2.PartFileWriteBuilder]],
  * the part-file writer the WARC sink shares: one
  * `part-<partition>-<task>.txt` per non-empty partition, each line the
  * UTF-8 bytes of a [[lines]] row and `\n`, committed by rename, and
  * an empty `_SUCCESS` once every task has committed. Overwrite clears
  * the directory's old part files, not its other files. The writer
  * sends the Hadoop conf to its tasks as one broadcast per write,
  * where `df.write.text` put it in every task's payload twice.
  */
object NdjsonSink {

  /** Render the unified record DataFrame to one NDJSON line column. */
  def lines(records: DataFrame): DataFrame = {
    val objJson = when(col("rtype") === "relation",
      to_json(struct(
        col("rel_from").as("from"),
        col("rel_to").as("to"),
        col("rel_type").as("type"),
      )))
      .when(col("rtype") === "log",
        to_json(struct(col("error"))))
      .otherwise(spliceGeometry(
        to_json(struct(
          col("id"),
          col("otype").as("type"),
          col("valid_since").as("validSince"),
          col("valid_until").as("validUntil"),
          col("name"),
          col("data"),
        )),
        col("geometry_json"),
      ))
    records.select(
      concat(lit("{\"type\":\""), col("rtype"), lit("\",\"obj\":"), objJson, lit("}"))
        .as("value"))
  }

  /** Insert `,"geometry":<raw>` before the closing brace. */
  private def spliceGeometry(objJson: Column, geometryJson: Column): Column =
    when(geometryJson.isNull, objJson).otherwise(
      concat(
        substr(objJson, lit(1), length(objJson) - 1),
        lit(",\"geometry\":"), geometryJson, lit("}"),
      ))

  /** Replaces the NDJSON part files in `path`, any Hadoop path. */
  def write(records: DataFrame, path: String): Unit =
    lines(records).write.format(classOf[NdjsonDataSource].getName)
      .mode("overwrite").save(path)

  /** Each row's one string column as UTF-8, then `\n`. */
  private object Format extends PartFormat {
    val ext = ".txt"
    def open(out: OutputStream, name: String): RecordWriter = new RecordWriter {
      private val buf = new BufferedOutputStream(out, 1 << 16)
      def write(row: InternalRow): Unit = { row.getUTF8String(0).writeTo(buf); buf.write('\n') }
      def close(): Unit = buf.close()
    }
  }

  /** The write-only DSv2 table [[write]] saves through. */
  private[sources] final class Sink(path: String, tableSchema: StructType)
      extends Table with SupportsWrite {
    override def name(): String = s"ndjson($path)"
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      require(info.schema().fields.map(_.dataType).toSeq == Seq(StringType),
        s"the ndjson writer takes one string column; got ${info.schema().sql}")
      new PartFileWriteBuilder(path, Format)
    }
  }
}

/** The provider [[NdjsonSink.write]] names by class. */
class NdjsonDataSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType(Seq(StructField("value", StringType)))
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new NdjsonSink.Sink(properties.get("path"), schema)
}
