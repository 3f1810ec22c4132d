package graft.sources.v2

import java.io.{BufferedInputStream, EOFException}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 WARC (ISO 28500) reader — the web-crawl archive
  * format (Common Crawl segments) that is the de-facto input of
  * large-scale training-data pipelines:
  *
  *   spark.read.format("warc").load(dir)   // or "a.warc,b.warc"
  *
  * → rows (path, record_index, warc_type, record_id, target_uri,
  * warc_date, content_type, content_length, refers_to, concurrent_to,
  * segment_number, segment_origin_id, truncated, payload_digest,
  * record_offset, payload) — record_offset is the byte offset of the
  * record's seekable frame start (the gzip MEMBER start in .warc.gz),
  * i.e. what a CDX index stores; refers_to is `WARC-Refers-To`, the revisit record's
  * pointer at its referent (crawl-side payload dedup); concurrent_to
  * is `WARC-Concurrent-To`, the request record's pointer at the
  * response of the same capture; the segment/truncated/digest columns
  * carry ISO 28500 §5.8/§5.13/§5.9 headers (NULL when absent).
  * Counterpart of
  * the [[graft.sources.Warc]] sink; together they round-trip a corpus
  * graft → WARC → graft byte-exactly (gated by `pipe_warc_roundtrip`).
  *
  * FILES: any Hadoop path (a plain path, a `file:` URI, HDFS), listed
  * and opened through [[Landing]], the one file layer of the sources.
  * A directory means its non-empty data files under the one listing
  * rule ([[Landing.list]]: regular files whose names do not start with
  * `.` or `_`, sorted by name for a stable `record_index` base), so
  * a directory the `warc` sink wrote reads back as its part files.
  * With more than one file the split planning runs as a Spark job;
  * that job and the reader tasks get the Hadoop conf as one broadcast
  * per scan.
  *
  * FRAMING, NOT SCANNING: records are advanced strictly by the
  * mandatory Content-Length header — payload bytes are never
  * inspected, so payloads containing `\r\n\r\n` or header-looking
  * lines cannot desynchronize the reader (the failure mode of
  * delimiter-scanning WARC readers). A record that violates the
  * framing (missing Content-Length, truncated payload, absent
  * closing CRLFCRLF) aborts loudly with path + byte offset, never a
  * silently short scan.
  *
  * LARGE-FILE SPLITTING (the GeoJson source's device, see the
  * GeoJsonDataSource header): crawl archives arrive as multi-GB files; planning
  * runs one driver-side skim per file — read each header block, seek
  * OVER each payload (I/O ∝ headers, not bytes) — recording record
  * offsets every ~chunkBytes (default 64 MiB), and each task then
  * parses its byte range independently. Offsets come from real
  * header parses, so splits land exactly on record boundaries and
  * `record_index` stays globally exact per file.
  *
  * COLUMN PRUNING that reaches the I/O layer
  * (SupportsPushDownRequiredColumns): when `payload` is not in the
  * required schema — metadata profiling, URL audits, dedup on header
  * hashes — tasks SKIP payload bytes instead of materializing them.
  * On a crawl corpus payload is ~99% of the bytes, so a
  * header-only query reads ~1% of the archive; `.explain` shows the
  * pruned ReadSchema like any parquet scan.
  */
class WarcDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "warc"

  // true so a WRITE's dataframe schema (one rendered-record string
  // column) reaches getTable instead of being forced to the 9-column
  // read schema; the read path still requires the fixed schema.
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcDataSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val rawPath = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("warc source/sink needs a path"))
    val paths = rawPath.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val chunkBytes = Option(properties.get("chunkBytes"))
      .map(_.toLong).getOrElse(WarcDataSource.DefaultChunkBytes)
    val offsetMode = Option(properties.get("offsetMode")).getOrElse("set")
    require(offsetMode == "set" || offsetMode == "watermark",
      s"warc offsetMode must be set|watermark, got '$offsetMode'")
    new WarcTable(paths, chunkBytes, schema, rawPath, offsetMode)
  }
}

object WarcDataSource {
  val DefaultChunkBytes: Long = 64L * 1024 * 1024
  /** Header blocks are tiny; a "header" that exceeds this without its
    * closing blank line is a malformed/binary file, not a big record.
    */
  val MaxHeaderBytes: Int = 64 * 1024

  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("record_index", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = true),
    StructField("record_id", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("refers_to", StringType, nullable = true),
    StructField("concurrent_to", StringType, nullable = true),
    // ISO 28500 §5.8 segmentation: records larger than a writer's
    // buffer ship as a first record (WARC-Segment-Number: 1) plus
    // `continuation` records pointing at it — segment_origin_id is
    // `WARC-Segment-Origin-ID`, the continuation's pointer at its
    // first record; both NULL on unsegmented records. Reassembly is a
    // read-side OPERATOR (group continuations on the origin id, sort
    // by segment number, concatenate) — gated by `pipe_warc_segmented`
    StructField("segment_number", LongType, nullable = true),
    StructField("segment_origin_id", StringType, nullable = true),
    // ISO 28500 §5.13 `WARC-Truncated`: the reason token (`length`,
    // `time`, `disconnect`, `unspecified`) when the crawler stored
    // only a PREFIX of the fetched payload — the other oversized-
    // payload device next to segmentation, and one a corpus builder
    // must see to avoid treating cut-off pages as complete documents.
    // NULL on whole records.
    StructField("truncated", StringType, nullable = true),
    // ISO 28500 §5.9 `WARC-Payload-Digest` (verbatim, e.g.
    // `md5:abc…` / `sha1:…`) — what CDX digests come from and what an
    // integrity audit verifies payload bytes AGAINST
    // (`pipe_warc_digest_audit`); NULL when the writer recorded none.
    StructField("payload_digest", StringType, nullable = true),
    // byte offset of the record's seekable frame start: the record
    // itself in plain files, the enclosing gzip MEMBER in .warc.gz —
    // exactly the offset a CDX index stores and a range-request
    // replay seeks to
    StructField("record_offset", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
  ))

  /** A directory path means its non-empty data files
    * ([[Landing.list]]), a file path means itself.
    */
  private[sources] def expandPaths(paths: Seq[String], conf: Configuration): Seq[String] =
    paths.flatMap { p =>
      if (Landing.isDirectory(p, conf)) Landing.list(p, conf)(_.getLen > 0) else Seq(p)
    }

  /** One parsed header block: field map (lower-cased names), the byte
    * offset just past the blank line, and the record's start offset.
    */
  private[sources] final case class Header(
      fields: Map[String, String], payloadStart: Long, recordStart: Long) {
    def contentLength(path: String): Long = {
      val raw = fields.getOrElse("content-length",
        throw new IllegalArgumentException(
          s"WARC record at $path:$recordStart has no Content-Length header"))
      val n = raw.toLongOption.getOrElse(
        throw new IllegalArgumentException(
          s"WARC record at $path:$recordStart has a non-numeric " +
            s"Content-Length '$raw'"))
      if (n < 0) throw new IllegalArgumentException(
        s"WARC record at $path:$recordStart has a negative " +
          s"Content-Length $n")
      n
    }
  }

  /** Read one header block (through its closing CRLFCRLF) from a
    * stream positioned at a record start. None at clean EOF.
    */
  private[sources] def readHeader(
      in: BufferedInputStream, path: String, offset: Long): Option[Header] = {
    val first = in.read()
    if (first < 0) return None
    val buf = new java.io.ByteArrayOutputStream(512)
    buf.write(first)
    // rolling last-4-bytes window: Int is exactly 32 bits, so after
    // each shift-or the value IS the last 4 bytes; shorter prefixes
    // can't false-match (max 3-byte value 0xffffff < 0x0d0a0d0a)
    var tail = first & 0xff
    var n = 1
    while (tail != 0x0d0a0d0a) {
      val b = in.read()
      if (b < 0) throw new EOFException(
        s"WARC header at $path:$offset hit EOF before its blank line")
      buf.write(b)
      tail = (tail << 8) | (b & 0xff)
      n += 1
      if (n > MaxHeaderBytes) throw new IllegalArgumentException(
        s"WARC header at $path:$offset exceeds $MaxHeaderBytes bytes " +
          "without a blank line — not a WARC file?")
    }
    val text = new String(buf.toByteArray, 0, n - 4, "UTF-8")
    val lines = text.split("\r\n", -1)
    require(lines.head.startsWith("WARC/"),
      s"WARC record at $path:$offset starts with '${lines.head.take(20)}', " +
        "expected a WARC/x.y version line")
    val fields = lines.tail.iterator.filter(_.nonEmpty).map { l =>
      val i = l.indexOf(':')
      require(i > 0, s"malformed WARC header line at $path:$offset: '$l'")
      l.substring(0, i).toLowerCase(java.util.Locale.ROOT) ->
        l.substring(i + 1).trim
    }.toMap
    Some(Header(fields, offset + n, offset))
  }

  /** Skip exactly n bytes (BufferedInputStream.skip may be short). */
  private[v2] def skipFully(
      in: BufferedInputStream, n: Long, path: String, offset: Long): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skip(left)
      if (s <= 0) {
        if (in.read() < 0) throw new EOFException(
          s"WARC payload at $path:$offset truncated ($left bytes short)")
        left -= 1
      } else left -= s
    }
  }

  private[sources] def readFully(
      in: BufferedInputStream, n: Int, path: String, offset: Long): Array[Byte] = {
    val out = new Array[Byte](n)
    var got = 0
    while (got < n) {
      val r = in.read(out, got, n - got)
      if (r < 0) throw new EOFException(
        s"WARC payload at $path:$offset truncated (${n - got} bytes short)")
      got += r
    }
    out
  }

  /** Consume the record's closing CRLFCRLF, validating the framing. */
  private[v2] def expectRecordEnd(
      in: BufferedInputStream, path: String, offset: Long): Unit = {
    val got = new Array[Int](4).map(_ => in.read())
    require(got.sameElements(Array(0x0d, 0x0a, 0x0d, 0x0a)),
      s"WARC record at $path:$offset is not followed by CRLFCRLF " +
        s"(got ${got.mkString("[", ",", "]")}) — Content-Length wrong?")
  }

  /** gzip-member file? (Common Crawl convention: one member/record). */
  private[v2] def isGzip(path: String): Boolean = path.endsWith(".gz")

  /** Index skim of one file (runs on the driver for a single file, as
    * a one-task-per-file Spark job otherwise): byte ranges of
    * consecutive record runs, each ≈ chunkBytes, as (start,
    * endExclusive, firstRecordIndex). Plain files read headers and
    * SEEK over payloads; `.gz` files walk gzip MEMBERS (self-
    * delimiting, so member boundaries are exact split points) —
    * decompression is unavoidable there (gzip has no skip), which is
    * exactly why the skim runs distributed.
    */
  private[v2] def indexSplits(
      path: String, chunkBytes: Long, conf: Configuration): Seq[(Long, Long, Long)] =
    sidecarSplits(path, chunkBytes, conf).getOrElse {
      val in = Landing.open(path, conf)
      try {
        if (isGzip(path)) indexSplitsGz(in, path, chunkBytes)
        else indexSplitsPlain(new BufferedInputStream(in, 64 * 1024), path, chunkBytes)
      } finally in.close()
    }

  /** Sidecar magic + mark granularity shared with the DSv2 writer. */
  private[v2] val SidecarMagic = "warcidx2"
  private[v2] val SidecarMarkBytes: Long = 64L * 1024
  /** Bytes fingerprinted at each end of a part file (see
    * [[contentFingerprint]]).
    */
  private[v2] val FingerprintBytes: Int = 4096

  /** Content fingerprint shared by the sidecar writer and the planner:
    * CRC32 over the file's first min(4096, n) bytes followed by its
    * last min(4096, n) bytes (the two ranges overlap on short files —
    * both sides compute the same way). The writer folds it from bytes
    * it already streams; the planner re-reads just 8 KiB per file, so
    * freshness checking stays ∝ file COUNT, not bytes. A same-length
    * rewrite of the part file (the hole in the round-12 length-only
    * check) now misses the fingerprint and falls back to the skim.
    */
  private[v2] def contentFingerprint(
      head: Array[Byte], headLen: Int, tail: Array[Byte], tailLen: Int): Long = {
    val crc = new java.util.zip.CRC32
    crc.update(head, 0, headLen)
    crc.update(tail, 0, tailLen)
    crc.getValue
  }

  /** [[contentFingerprint]] recomputed from the file itself. */
  private[sources] def fileFingerprint(path: String, conf: Configuration): Long = {
    val n = Landing.length(path, conf)
    val in = Landing.open(path, conf)
    try {
      val headLen = math.min(n, FingerprintBytes.toLong).toInt
      val head = new Array[Byte](headLen)
      in.readFully(0L, head)
      val tailLen = headLen // min(n, FingerprintBytes) too
      val tail = new Array[Byte](tailLen)
      in.readFully(n - tailLen, tail)
      contentFingerprint(head, headLen, tail, tailLen)
    } finally in.close()
  }

  /** Split planning from a sink-written sidecar index (`.{name}.idx`:
    * one record-boundary mark per ~64 KiB), when present and FRESH —
    * its recorded byte length AND head/tail content fingerprint must
    * match the file's (a stale, foreign, or same-length-rewritten
    * index falls back to the skim, which is ground truth). This makes
    * planning I/O ∝ 0.1% of the archive and — for gz — removes
    * planning-side decompression entirely.
    */
  private[sources] def sidecarSplits(
      path: String, chunkBytes: Long, conf: Configuration): Option[Seq[(Long, Long, Long)]] = {
    val f = new Path(path)
    val idx = new Path(f.getParent, "." + f.getName + ".idx").toString
    try {
      val in = Landing.open(idx, conf) // no sidecar: the catch below
      val lines = try new String(in.readAllBytes(), "UTF-8").linesIterator.toIndexedSeq
        finally in.close()
      val head = lines(0).split(" ")
      if (head.length != 4 || head(0) != SidecarMagic) return None
      val fileBytes = head(1).toLong
      if (fileBytes != Landing.length(path, conf)) return None // stale index
      if (head(3).toLong != fileFingerprint(path, conf)) return None // rewritten
      val marks = Seq((0L, 0L)) ++ lines.drop(1).map { l =>
        val p = l.split(" "); (p(0).toLong, p(1).toLong)
      } ++ Seq((fileBytes, -1L)) // terminal boundary; count unused
      val splits = Seq.newBuilder[(Long, Long, Long)]
      var start = 0L
      var firstIdx = 0L
      for (((off, recs), i) <- marks.zipWithIndex.drop(1)) {
        if (off - start >= chunkBytes || i == marks.size - 1) {
          if (off > start) splits += ((start, off, firstIdx))
          start = off
          firstIdx = recs
        }
      }
      Some(splits.result())
    } catch { case _: Exception => None } // malformed → skim
  }

  private def indexSplitsPlain(
      in: BufferedInputStream, path: String, chunkBytes: Long): Seq[(Long, Long, Long)] = {
    val splits = Seq.newBuilder[(Long, Long, Long)]
    var offset = 0L
    var idx = 0L
    var splitStart = -1L
    var splitFirstIdx = 0L
    var h = readHeader(in, path, offset)
    while (h.isDefined) {
      val len = h.get.contentLength(path)
      skipFully(in, len, path, offset)
      expectRecordEnd(in, path, offset)
      if (splitStart < 0) { splitStart = offset; splitFirstIdx = idx }
      offset = h.get.payloadStart + len + 4
      idx += 1
      if (offset - splitStart >= chunkBytes) {
        splits += ((splitStart, offset, splitFirstIdx))
        splitStart = -1L
      }
      h = readHeader(in, path, offset)
    }
    if (splitStart >= 0) splits += ((splitStart, offset, splitFirstIdx))
    splits.result()
  }

  /** Count the WARC records inside one decompressed gzip member. */
  private def countRecords(
      member: Array[Byte], path: String, at: Long): Long = {
    val in = new BufferedInputStream(
      new java.io.ByteArrayInputStream(member))
    var n = 0L
    var h = readHeader(in, path, at)
    while (h.isDefined) {
      val len = h.get.contentLength(path)
      skipFully(in, len, path, at)
      expectRecordEnd(in, path, at)
      n += 1
      h = readHeader(in, path, at)
    }
    n
  }

  private def indexSplitsGz(
      in: java.io.InputStream, path: String, chunkBytes: Long): Seq[(Long, Long, Long)] = {
    val gz = new GzipMemberStream(in, path)
    try {
      val splits = Seq.newBuilder[(Long, Long, Long)]
      var idx = 0L
      var splitStart = -1L
      var splitFirstIdx = 0L
      var memberStart = gz.offset
      var m = gz.readMember()
      while (m.isDefined) {
        val n = countRecords(m.get, path, memberStart)
        if (splitStart < 0) { splitStart = memberStart; splitFirstIdx = idx }
        idx += n
        val end = gz.offset
        if (end - splitStart >= chunkBytes) {
          splits += ((splitStart, end, splitFirstIdx))
          splitStart = -1L
        }
        memberStart = end
        m = gz.readMember()
      }
      if (splitStart >= 0) splits += ((splitStart, gz.offset, splitFirstIdx))
      splits.result()
    } finally gz.end()
  }
}

private[v2] class WarcTable(
    paths: Seq[String], chunkBytes: Long, tableSchema: StructType, rawPath: String,
    offsetMode: String)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"warc(${paths.mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(tableSchema == WarcDataSource.schema,
      "the warc READ schema is fixed (path, record_index, warc_type, " +
        "record_id, target_uri, warc_date, content_type, content_length, " +
        "refers_to, concurrent_to, segment_number, segment_origin_id, " +
        "truncated, payload_digest, record_offset, payload); a " +
        s"user-supplied schema is not supported: ${tableSchema.sql}")
    // directory expansion happens at SCAN time, not getTable: a write
    // target may not exist yet and must not be listed. The RAW paths
    // ride along for the streaming side, which watches the directory
    // itself instead of freezing one listing.
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    new WarcScanBuilder(WarcDataSource.expandPaths(paths, conf), chunkBytes,
      paths, offsetMode, spark, conf)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(rawPath.nonEmpty && !rawPath.contains(","),
      s"warc sink needs exactly one directory path, got '$rawPath'")
    new PartFileWriteBuilder(rawPath, WarcFormat(info))
  }
}

private[v2] class WarcScanBuilder(
    paths: Seq[String], chunkBytes: Long, watchPaths: Seq[String],
    offsetMode: String, spark: SparkSession, conf: Configuration)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = WarcDataSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new WarcScan(paths, chunkBytes, required, watchPaths, offsetMode, spark, conf)
}

private[v2] class WarcScan(
    paths: Seq[String], chunkBytes: Long, required: StructType,
    watchPaths: Seq[String], offsetMode: String, spark: SparkSession,
    conf: Configuration)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(watchPaths.size == 1 && Landing.isDirectory(watchPaths.head, conf),
      s"streaming warc needs a single landing DIRECTORY to watch, " +
        s"got $watchPaths")
    new WarcMicroBatchStream(watchPaths.head, chunkBytes, required,
      offsetMode, spark, conf)
  }

  // one conf broadcast per scan, shared by the planning job and the
  // reader factory (Spark asks for the factory more than once)
  private lazy val sharedConf =
    spark.sparkContext.broadcast(new SerializableConfiguration(conf))
  private lazy val readerFactory = new WarcReaderFactory(required, sharedConf)

  /** Split planning. The per-file skim reads every header block and
    * seeks over payloads — I/O ∝ headers — but it is still work
    * ∝ record count, and a crawl archive is THOUSANDS of multi-GB
    * segments: serialized on the driver, planning would dominate the
    * query (the round-11 scale caveat). So with more than one file the
    * skim runs as a SPARK JOB, one task per file (the collected result
    * is one tuple per ~chunkBytes split — the same order of driver
    * memory Spark already spends holding the InputPartition array). A
    * single file keeps the driver-side skim — a one-task job would
    * only add scheduling latency.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val chunk = chunkBytes
    val perFile: Seq[(String, Seq[(Long, Long, Long)])] =
      if (paths.size <= 1) paths.map(p => p -> WarcDataSource.indexSplits(p, chunk, conf))
      else {
        val taskConf = sharedConf
        // sort AFTER collect: task completion order is nondeterministic
        spark.sparkContext.parallelize(paths, paths.size)
          .map(p => p -> WarcDataSource.indexSplits(p, chunk, taskConf.value.value))
          .collect().toSeq.sortBy(_._1)
      }
    perFile.flatMap { case (p, splits) =>
      splits.map {
        case (start, end, firstIdx) => WarcInputPartition(p, start, end, firstIdx)
      }
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = readerFactory
}

private[v2] case class WarcInputPartition(
    path: String, start: Long, end: Long, firstIdx: Long)
    extends InputPartition

/** Micro-batch stream over a landing directory of WARC segment files —
  * the shape crawl archives actually ARRIVE in (a fetcher fleet lands
  * finished `.warc.gz` segments one by one; Common Crawl publishes
  * thousands of segment files per crawl). The GeoJson source's device
  * ([[GeoJsonMicroBatchStream]]): an offset is the SET of files
  * ingested so far, a batch is exactly the newly-landed files, each
  * planned with the SAME splitting as the batch scan (sidecar index
  * when the graft sink wrote one, header skim otherwise), so
  * `record_index` and every per-record column are identical between
  * batch and stream reads of the same bytes. The directory is listed
  * by [[Landing.list]] on its Hadoop `FileSystem`, keeping non-empty
  * `.warc` and `.warc.gz` files. Files must land atomically
  * (write-then-rename — dotted temp names are never listed); the same
  * O(files-ever-landed) offset caveat and monotone-name compaction
  * note as the GeoJson stream applies.
  */
private[v2] class WarcMicroBatchStream(
    dir: String, chunkBytes: Long, required: StructType,
    offsetMode: String, spark: SparkSession, conf: Configuration)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val mapper = WarcOffsets.mapper

  private def listFiles(): Seq[String] = Landing.list(dir, conf) { s =>
    val n = s.getPath.getName
    s.getLen > 0 && (n.endsWith(".warc") || n.endsWith(".warc.gz"))
  }

  private def name(path: String): String = new Path(path).getName

  private def watermark = offsetMode == "watermark"

  /** The listing `latestOffset()` derived its watermark offset FROM,
    * reused by `planInputPartitions` when the end offset matches: a
    * batch must be a deterministic function of its (start, end)
    * offsets, and a live re-listing is not — a file landing between
    * latestOffset() and planInputPartitions() with a name at or below
    * the new watermark would be ingested but not counted in the
    * offset's (n, ck), permanently failing the next trigger's
    * monotonicity check. With the snapshot, that late lander is simply
    * not in the batch, and the NEXT trigger's check aborts loudly on
    * it — the designed non-monotone-landing failure, not a poisoned
    * offset. planInputPartitions falls back to a re-list only on
    * restart replay (fresh stream object, snapshot empty), where the
    * offsets come from the checkpoint log.
    */
  @volatile private var listingSnapshot
      : Option[(WarcWatermarkOffset, Seq[String])] = None

  /** Order-independent fold of the names at-or-below a watermark —
    * O(1) offset state that pins the exact SET of below-watermark
    * names, so a compensating delete-plus-late-land (count unchanged,
    * membership changed) still aborts, not only a count change.
    */
  private def belowCk(names: Seq[String], wm: String): (Long, Long) = {
    var n = 0L
    var ck = 0L
    for (name <- names if name <= wm) {
      val c = new java.util.zip.CRC32
      c.update(name.getBytes("UTF-8"))
      n += 1; ck += c.getValue
    }
    (n, ck)
  }

  override def initialOffset(): Offset =
    if (watermark) WarcWatermarkOffset("", 0L, 0L)
    else WarcStreamOffset(Seq.empty)

  override def latestOffset(): Offset =
    if (watermark) {
      val files = listFiles()
      val names = files.map(name)
      val off =
        if (names.isEmpty) WarcWatermarkOffset("", 0L, 0L)
        else {
          val wm = names.max
          val (n, ck) = belowCk(names, wm)
          WarcWatermarkOffset(wm, n, ck)
        }
      listingSnapshot = Some((off, files))
      off
    } else WarcStreamOffset(listFiles())

  override def deserializeOffset(json: String): Offset =
    if (watermark) {
      val node = mapper.readTree(json)
      WarcWatermarkOffset(node.get("wm").asText(), node.get("n").asLong(),
        node.get("ck").asLong())
    } else WarcStreamOffset(mapper.readValue(json, classOf[Array[String]]).toSeq)

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val batch: Seq[String] = (start, end) match {
      case (s: WarcStreamOffset, e: WarcStreamOffset) =>
        val seen = s.files.toSet
        e.files.filterNot(seen)
      case (s: WarcWatermarkOffset, e: WarcWatermarkOffset) =>
        // the batch is planned from the SAME listing the end offset
        // was derived from (see listingSnapshot) — a live re-list here
        // runs only on restart replay, where the checkpoint log is the
        // offset's provenance
        val files = listingSnapshot match {
          case Some((off, snap)) if off == e => snap
          case _ => listFiles()
        }
        // the monotone-landing promise the O(1) offset rests on is
        // CHECKED, not assumed: the offset pins count AND an
        // order-independent name checksum of everything at-or-below
        // the start watermark, so a late lander sorting below it — or
        // a compensating delete-plus-land that keeps the count —
        // aborts loudly instead of being silently skipped forever.
        // RECOVERY NOTE: a violated watermark is not self-healing —
        // the offset can no longer describe the directory, so recovery
        // means a FRESH checkpoint (with offsetMode=set if landing
        // names stay non-monotone), which re-ingests the directory;
        // downstream must tolerate those duplicates or be rebuilt.
        val names = files.map(name)
        val (below, belowSum) = belowCk(names, s.wm)
        require(below == s.n && belowSum == s.ck,
          s"warc stream watermark violated: files at or below watermark " +
            s"'${s.wm}' changed (count $below vs ${s.n}, name-ck " +
            s"$belowSum vs ${s.ck}) — landing names are not monotone " +
            "or ingested segments were removed; recovery needs a fresh " +
            "checkpoint (re-ingests everything; use offsetMode=set if " +
            "names stay non-monotone)")
        files.filter { p =>
          val n = name(p)
          n > s.wm && n <= e.wm
        }
      case other => throw new IllegalStateException(
        s"mixed warc stream offset kinds: $other")
    }
    batch.flatMap { p =>
      WarcDataSource.indexSplits(p, chunkBytes, conf).map {
        case (s, e, i) => WarcInputPartition(p, s, e, i): InputPartition
      }
    }.toArray
  }
  private lazy val readerFactory = new WarcReaderFactory(required,
    spark.sparkContext.broadcast(new SerializableConfiguration(conf)))
  override def createReaderFactory(): PartitionReaderFactory = readerFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One shared Jackson mapper for offset (de)serialization — offsets
  * serialize every trigger, and ObjectMapper construction is the
  * expensive part of Jackson.
  */
private[v2] object WarcOffsets {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}

private[v2] case class WarcStreamOffset(files: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    WarcOffsets.mapper.writeValueAsString(files.sorted.toArray)
}

/** O(1) stream offset for monotone landing names (`offsetMode=
  * watermark`): the highest file NAME ingested plus the count and an
  * order-independent CRC fold of the names at-or-below it (the
  * promise check — membership-sensitive, not just count-sensitive).
  * A months-long continuous ingest with timestamped segment names
  * keeps constant offset size where the default set offset grows
  * with every file ever landed.
  */
private[v2] case class WarcWatermarkOffset(wm: String, n: Long, ck: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val node = WarcOffsets.mapper.createObjectNode()
    node.put("wm", wm); node.put("n", n); node.put("ck", ck)
    WarcOffsets.mapper.writeValueAsString(node)
  }
}

/** Opens each task's range with the scan's Hadoop conf, held as a
  * broadcast made once per scan (as [[GeoJsonReaderFactory]] does), so
  * a task carries the broadcast's id, not the conf.
  */
private[v2] class WarcReaderFactory(
    required: StructType, conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[WarcInputPartition]
    val in = Landing.open(part.path, conf.value.value)
    try {
      in.seek(part.start)
      if (WarcDataSource.isGzip(part.path))
        new GzipWarcPartitionReader(part, required, in)
      else new WarcPartitionReader(part, required, in)
    } catch { case e: Throwable => in.close(); throw e }
  }
}

/** Row assembly shared by the plain and gzip readers: one extractor
  * per REQUIRED field, resolved once — next() runs per record on
  * crawl-scale archives, so it must not rebuild dispatch closures or
  * re-materialize fieldNames arrays per row.
  */
private[v2] final class WarcRowBuilder(required: StructType, path: String) {
  import WarcDataSource.Header

  val needPayload: Boolean = required.fieldNames.contains("payload")
  private val pathUtf8 = UTF8String.fromString(path)
  private def header(h: Header, k: String): Any =
    h.fields.get(k).map(UTF8String.fromString).orNull
  private val extractors: Array[(Header, Long, Array[Byte], Long) => Any] =
    required.fieldNames.map[(Header, Long, Array[Byte], Long) => Any] {
      case "path" => (_, _, _, _) => pathUtf8
      case "record_index" => (_, _, _, idx) => idx
      case "warc_type" => (h, _, _, _) => header(h, "warc-type")
      case "record_id" => (h, _, _, _) =>
        h.fields.get("warc-record-id")
          .map(s => UTF8String.fromString(s.stripPrefix("<").stripSuffix(">")))
          .orNull
      case "target_uri" => (h, _, _, _) => header(h, "warc-target-uri")
      case "refers_to" => (h, _, _, _) =>
        h.fields.get("warc-refers-to")
          .map(s => UTF8String.fromString(s.stripPrefix("<").stripSuffix(">")))
          .orNull
      case "concurrent_to" => (h, _, _, _) =>
        h.fields.get("warc-concurrent-to")
          .map(s => UTF8String.fromString(s.stripPrefix("<").stripSuffix(">")))
          .orNull
      case "segment_number" => (h, _, _, _) =>
        h.fields.get("warc-segment-number").flatMap(_.toLongOption)
          .map(Long.box).orNull
      case "segment_origin_id" => (h, _, _, _) =>
        h.fields.get("warc-segment-origin-id")
          .map(s => UTF8String.fromString(s.stripPrefix("<").stripSuffix(">")))
          .orNull
      case "truncated" => (h, _, _, _) => header(h, "warc-truncated")
      case "payload_digest" => (h, _, _, _) =>
        header(h, "warc-payload-digest")
      case "record_offset" => (h, _, _, _) => h.recordStart
      case "warc_date" => (h, _, _, _) => header(h, "warc-date")
      case "content_type" => (h, _, _, _) => header(h, "content-type")
      case "content_length" => (_, len, _, _) => len
      case "payload" => (_, _, p, _) => p
      case other => throw new IllegalArgumentException(
        s"WARC reader asked for unknown column '$other'")
    }

  def build(h: Header, len: Long, payload: Array[Byte], idx: Long): InternalRow = {
    val values = new Array[Any](extractors.length)
    var i = 0
    while (i < extractors.length) {
      values(i) = extractors(i)(h, len, payload, idx); i += 1
    }
    new GenericInternalRow(values)
  }
}

/** Task-side reader of one plain byte range. Field extraction is
  * driven by the PRUNED schema: a range whose schema excludes
  * `payload` seeks over payload bytes — at crawl payload fractions
  * that is the difference between scanning the archive and scanning
  * its headers.
  */
private[v2] class WarcPartitionReader(
    part: WarcInputPartition, required: StructType, file: java.io.InputStream)
    extends PartitionReader[InternalRow] {
  import WarcDataSource._

  // `file` is positioned at the range start
  private val in = new BufferedInputStream(file, 64 * 1024)
  private var offset = part.start
  private var idx = part.firstIdx
  private val builder = new WarcRowBuilder(required, part.path)
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (offset >= part.end) return false
    val h = readHeader(in, part.path, offset).getOrElse(
      throw new EOFException(
        s"WARC split at ${part.path}:$offset ended before ${part.end}"))
    val len = h.contentLength(part.path)
    val payload: Array[Byte] =
      if (builder.needPayload) {
        require(len <= Int.MaxValue - 16,
          s"WARC payload at ${part.path}:$offset is ${len}B; " +
            "single-record payloads above 2 GiB are not supported")
        readFully(in, len.toInt, part.path, offset)
      } else { skipFully(in, len, part.path, offset); null }
    expectRecordEnd(in, part.path, offset)
    row = builder.build(h, len, payload, idx)
    offset = h.payloadStart + len + 4
    idx += 1
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

/** Task-side reader of one `.warc.gz` byte range: walks gzip members
  * from a member-aligned start offset, parsing the WARC records inside
  * each decompressed member. Column pruning still skips payload
  * MATERIALIZATION, but the member must be decompressed either way —
  * gzip has no seek; the header-only-bytes I/O win belongs to the
  * plain format. A member decompresses fully in memory (per-record
  * members — the Common Crawl layout — are small; a whole-file
  * single-member archive degrades to one task holding one record run,
  * and its payload cap is the same 2 GiB as the plain reader).
  */
private[v2] class GzipWarcPartitionReader(
    part: WarcInputPartition, required: StructType, fileIn: java.io.InputStream)
    extends PartitionReader[InternalRow] {
  import WarcDataSource._

  // `fileIn` is positioned at the range start
  private val gz = new GzipMemberStream(fileIn, part.path, part.start)
  private var memberIn: BufferedInputStream = _
  private var memberAt = part.start
  private var idx = part.firstIdx
  private val builder = new WarcRowBuilder(required, part.path)
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (memberIn != null) {
        readHeader(memberIn, part.path, memberAt) match {
          case Some(h) =>
            val len = h.contentLength(part.path)
            require(len <= Int.MaxValue - 16,
              s"WARC payload at ${part.path}:$memberAt is ${len}B; " +
                "single-record payloads above 2 GiB are not supported")
            val payload: Array[Byte] =
              if (builder.needPayload)
                readFully(memberIn, len.toInt, part.path, memberAt)
              else { skipFully(memberIn, len, part.path, memberAt); null }
            expectRecordEnd(memberIn, part.path, memberAt)
            row = builder.build(h, len, payload, idx)
            idx += 1
            return true
          case None => memberIn = null // member drained
        }
      } else {
        if (gz.offset >= part.end) return false
        memberAt = gz.offset
        val bytes = gz.readMember().getOrElse(throw new EOFException(
          s"warc.gz split at ${part.path}:$memberAt ended before ${part.end}"))
        memberIn = new BufferedInputStream(
          new java.io.ByteArrayInputStream(bytes))
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = row
  override def close(): Unit = { gz.end(); fileIn.close() }
}
