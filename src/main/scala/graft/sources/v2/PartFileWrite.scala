package graft.sources.v2

import java.io.{IOException, OutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.util.SerializableConfiguration

/** What a sink puts in one part file: the name's extension and a
  * record writer over the file's stream. It travels to every write
  * task inside the writer factory, so it holds only the sink's options.
  */
private[sources] trait PartFormat extends Serializable {
  def ext: String

  /** Starts the part file `name` on `out`, at its partition's first row. */
  def open(out: OutputStream, name: String): RecordWriter
}

/** Encodes one task's rows into its part file. */
private[sources] trait RecordWriter {
  def write(row: InternalRow): Unit

  /** Flushes and closes the part file's stream. Idempotent. */
  def close(): Unit

  /** A file placed beside the committed part file, as (name, bytes);
    * read after [[close]].
    */
  def sidecar: Option[(String, Array[Byte])] = None
}

/** DSv2 batch write of one directory of part files on the output
  * path's Hadoop `FileSystem`, so any Hadoop path works (a plain
  * path, a `file:` URI, HDFS). Both file sinks go through it: NDJSON
  * ([[graft.sources.NdjsonSink]]) and WARC ([[WarcFormat]]). Files are
  * written as [[Landing.open]] reads them, without checksums: on
  * Hadoop's local file system no `.crc` file is made beside each one.
  *
  * Commit protocol, the one copy in the source tree:
  *   - on the driver, before any task starts, the directory is made;
  *     overwrite (`SupportsTruncate`) deletes old `part-*` files,
  *     dotted `.part-*` files (sidecars, and temp files a dead JVM
  *     left), `_SUCCESS`, and the `.crc` files of any of them that a
  *     checksummed write left;
  *   - each task writes `.part-<partition>-<task><ext>.inprogress`,
  *     opened at its first row, so an empty partition leaves no file;
  *     readers never list dotted names, and task attempt ids keep
  *     concurrent attempts apart;
  *   - task commit renames it to `part-<partition>-<task><ext>`, then
  *     writes the format's sidecar by the same temp-and-rename, so a
  *     committed sidecar never exists without its part file;
  *   - task abort deletes every file the attempt made;
  *   - job commit writes an empty `_SUCCESS`, the marker Hadoop's
  *     committer leaves; job abort deletes every committed file.
  *
  * The Hadoop conf reaches the tasks as a broadcast made once per
  * write in `createBatchWriterFactory`, as the `geojson` reader's
  * does: each task carries the broadcast's id, not the conf (over
  * 100 KB serialized). Spark's built-in file writers put the conf in
  * every task.
  */
private[sources] class PartFileWriteBuilder(dir: String, format: PartFormat)
    extends WriteBuilder with SupportsTruncate {
  private var clear = false
  override def truncate(): WriteBuilder = { clear = true; this }
  override def build(): Write = new PartFileWrite(dir, format, clear)
}

private[v2] class PartFileWrite(dir: String, format: PartFormat, clear: Boolean)
    extends Write with BatchWrite {
  private val spark = SparkSession.active
  private val conf = spark.sessionState.newHadoopConf()
  private val path = new Path(dir)
  private def fs = Landing.fileSystem(path, conf)

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    if (!fs.mkdirs(path)) throw new IOException(s"cannot create the output directory $dir")
    if (clear) fs.listStatus(path).map(_.getPath)
      .filter(p => PartFileWrite.stale(p.getName))
      .foreach(PartFileWrite.delete(fs, _))
    new PartFileWriterFactory(dir, format,
      spark.sparkContext.broadcast(new SerializableConfiguration(conf)))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    fs.create(new Path(path, "_SUCCESS"), true).close()

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case PartFileCommit(names) => names.foreach(n => PartFileWrite.delete(fs, new Path(path, n)))
      case _ => ()
    }
}

private[v2] object PartFileWrite {
  /** Files an overwrite clears: parts, dotted temp files, sidecars,
    * `_SUCCESS`, and the dotted `.crc` file of any of them.
    */
  def stale(name: String): Boolean = {
    val file = name.dropWhile(_ == '.').stripSuffix(".crc")
    file.startsWith("part-") || file == "_SUCCESS"
  }

  /** Deletes `p` if it exists. */
  def delete(fs: FileSystem, p: Path): Unit =
    if (!fs.delete(p, false) && fs.exists(p)) throw new IOException(s"cannot delete $p")
}

/** The final names of the files one task committed. */
private[v2] case class PartFileCommit(names: Seq[String]) extends WriterCommitMessage

private[v2] class PartFileWriterFactory(
    dir: String, format: PartFormat, conf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new PartFileWriter(new Path(dir), format, conf.value.value,
      f"part-$partitionId%05d-$taskId${format.ext}")
}

private[v2] class PartFileWriter(
    dir: Path, format: PartFormat, conf: Configuration, name: String)
    extends DataWriter[InternalRow] {
  private val fs = Landing.fileSystem(dir, conf)
  private var records: RecordWriter = _
  // every path this attempt has made, temp or final, for abort
  private var made = List.empty[Path]

  // a dotted name (a sidecar) keeps its one leading dot
  private def temp(n: String) =
    new Path(dir, (if (n.startsWith(".")) n else "." + n) + ".inprogress")

  private def create(n: String): OutputStream = {
    made ::= temp(n)
    fs.create(temp(n), true)
  }

  private def publish(n: String): Unit = {
    val target = new Path(dir, n)
    made ::= target
    if (!fs.rename(temp(n), target)) throw new IOException(s"cannot rename ${temp(n)} to $target")
  }

  override def write(row: InternalRow): Unit = {
    if (records == null) records = format.open(create(name), name)
    records.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (records == null) return PartFileCommit(Nil)
    records.close()
    publish(name)
    val sidecar = records.sidecar.map { case (n, bytes) =>
      val out = create(n)
      try out.write(bytes) finally out.close()
      publish(n)
      n
    }
    PartFileCommit(name +: sidecar.toSeq)
  }

  override def abort(): Unit =
    try close() finally made.foreach(PartFileWrite.delete(fs, _))

  override def close(): Unit = if (records != null) records.close()
}
