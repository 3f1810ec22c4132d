package graft.sources.v2

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.LogicalWriteInfo
import org.apache.spark.sql.types.{BinaryType, StringType}

/** WARC part files for the DSv2 batch write:
  *
  *   df.write.format("warc").option("compression", "gzip")
  *     .mode("overwrite").save(dir)
  *
  * `dir` is any Hadoop path: files are made, renamed and deleted by
  * the shared part-file protocol ([[PartFileWriteBuilder]]), which
  * also leaves `_SUCCESS` at job commit (readers skip `_` names).
  *
  * Input contract: ONE string column (text payloads,
  * [[graft.sources.Warc.render]]) or ONE binary column (encoded HTTP
  * payloads, [[graft.sources.Warc.renderHttpEncoded]] — gzip bodies
  * are not valid UTF-8); each row is a rendered WARC record and the
  * writer terminates it with CRLF — exactly the text writer's
  * `lineSep=\r\n` semantics, so plain string output is byte-identical
  * to the text-writer sink.
  *
  * `compression=gzip` writes each record as its OWN gzip member
  * (`.warc.gz`, the Common Crawl layout): members are self-delimiting,
  * so the archive stays SPLITTABLE — the reader's member walk
  * ([[GzipWarcPartitionReader]]) starts at any member boundary.
  * Whole-file gzip (what a generic text sink with compression would
  * emit) would destroy that.
  *
  * Each part file `part-<partition>-<task><ext>` gets a sidecar split
  * index `.part-<partition>-<task><ext>.idx`, committed after it.
  */
private[v2] case class WarcFormat(
    gzip: Boolean, binary: Boolean, warcinfo: Boolean, warcinfoFilename: Option[String])
    extends PartFormat {
  val ext: String = if (gzip) ".warc.gz" else ".warc"
  def open(out: OutputStream, name: String): RecordWriter = new WarcRecordWriter(out, name, this)
}

private[v2] object WarcFormat {
  /** The format a write's schema and options ask for. */
  def apply(info: LogicalWriteInfo): WarcFormat = {
    val schema = info.schema()
    // string for text-payload renders (Warc.render); BINARY for
    // encoded-payload renders (Warc.renderHttpEncoded — gzip bodies
    // are not valid UTF-8 and must never round-trip through a string)
    require(schema.length == 1 && (schema.head.dataType == StringType ||
        schema.head.dataType == BinaryType),
      "the warc writer takes exactly one string or binary column (a " +
        s"rendered record per row — graft.sources.Warc.render); got ${schema.sql}")
    val gzip = Option(info.options.get("compression")) match {
      case Some("gzip") => true
      case Some("none") | None => false
      case Some(other) => throw new IllegalArgumentException(
        s"warc writer compression must be gzip|none, got '$other'")
    }
    // warcinfo=true: every part file LEADS with a warcinfo record
    // (ISO 28500 §6.2 — real crawl segments all start with one), the
    // file-level metadata record carrying WARC-Filename and an
    // application/warc-fields payload. warcinfoFilename overrides the
    // filename FIELD (not the file's name) for single-partition
    // segment writes whose consumers need a task-id-free, replayable
    // value (the CDX oracle); default is the part file's actual name.
    val warcinfo = Option(info.options.get("warcinfo")) match {
      case Some("true") => true
      case Some("false") | None => false
      case Some(other) => throw new IllegalArgumentException(
        s"warc writer warcinfo must be true|false, got '$other'")
    }
    val warcinfoFilename = Option(info.options.get("warcinfoFilename"))
    require(warcinfo || warcinfoFilename.isEmpty,
      "warcinfoFilename needs warcinfo=true")
    WarcFormat(gzip, binary = schema.head.dataType == BinaryType, warcinfo, warcinfoFilename)
  }
}

/** Pass-through stream folding the head/tail content fingerprint
  * ([[WarcDataSource.contentFingerprint]]) from bytes the writer
  * already streams — it never re-reads its own output. Sits UNDER the
  * task's BufferedOutputStream, so it sees batched arrays and the
  * accounting is arraycopy-per-flush, not per-byte.
  */
private[sources] final class FingerprintStream(under: java.io.OutputStream)
    extends java.io.OutputStream {
  private val N = WarcDataSource.FingerprintBytes
  private val head = new Array[Byte](N)
  private val ring = new Array[Byte](N)
  private var total = 0L

  override def write(b: Int): Unit = {
    under.write(b)
    if (total < N) head(total.toInt) = b.toByte
    ring((total % N).toInt) = b.toByte
    total += 1
  }

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    under.write(b, off, len)
    if (total < N) {
      val h = math.min(len.toLong, N - total).toInt
      System.arraycopy(b, off, head, total.toInt, h)
    }
    // the ring keeps the last N bytes in stream order: copy only the
    // LAST min(len, N) bytes of this chunk, wrapping at the ring end
    val t = math.min(len, N)
    val srcOff = off + len - t
    var pos = ((total + (len - t)) % N).toInt
    var copied = 0
    while (copied < t) {
      val run = math.min(t - copied, N - pos)
      System.arraycopy(b, srcOff + copied, ring, pos, run)
      pos = (pos + run) % N
      copied += run
    }
    total += len
  }

  override def flush(): Unit = under.flush()
  override def close(): Unit = under.close()

  /** The fingerprint of everything written so far (call after close). */
  def fingerprint: Long = {
    val headLen = math.min(total, N.toLong).toInt
    val tailLen = headLen
    val tail = new Array[Byte](tailLen)
    var i = 0
    while (i < tailLen) {
      tail(i) = ring(((total - tailLen + i) % N).toInt)
      i += 1
    }
    WarcDataSource.contentFingerprint(head, headLen, tail, tailLen)
  }
}

/** Writes one part file's records (opened by the protocol at the
  * partition's first row) and its sidecar index.
  */
private[v2] class WarcRecordWriter(raw: OutputStream, name: String, format: WarcFormat)
    extends RecordWriter {
  import format.{gzip, binary}
  // fingerprint tap under the buffer (head/tail CRC for the sidecar)
  private val fp = new FingerprintStream(raw)
  private val out = new BufferedOutputStream(fp, 1 << 20)
  // ONE deflater + CRC per task, reset() per member — a fresh
  // java.util.zip.GZIPOutputStream per record would allocate (and,
  // since finish() does not end() it, LEAK) a native zlib stream per
  // record; measured at grow_sf1 that degraded the whole JVM 4×
  private val deflater =
    if (gzip) new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    else null
  private val crc = new java.util.zip.CRC32
  private val dbuf = new Array[Byte](64 * 1024)
  // RFC 1952 member framing shared with the gzip_compress expression
  // (graft.functions.HttpCodec): ONE definition of the deterministic
  // header and trailer encoding, so sink members and expression
  // members stay byte-identical by construction
  private val GzHeader = graft.functions.HttpCodec.GzHeader
  private val CrLf = Array[Byte]('\r', '\n')

  private def writeIntLE(v: Long): Unit =
    graft.functions.HttpCodec.writeIntLE(out, v)

  // Sidecar split index: record-boundary marks every ~64 KiB of output
  // (offset after record i, records written so far), emitted at task
  // commit as `.{part}.idx`. The planner reads the marks instead of
  // skimming — for gz that removes planning-side DECOMPRESSION of the
  // whole archive; for plain it removes the header walk. Memory is one
  // tuple per 64 KiB — bounded and tiny.
  private var bytesOut = 0L
  private var recordsOut = 0L
  private var lastMark = 0L
  private val marks = Seq.newBuilder[(Long, Long)]

  /** The ONE copy of per-record byte/record/sidecar-mark accounting —
    * warcinfo records and data records must agree on it or
    * `record_index` and split marks skew per record type.
    */
  private def accountRecord(n: Long): Unit = {
    bytesOut += n
    recordsOut += 1
    if (bytesOut - lastMark >= WarcDataSource.SidecarMarkBytes) {
      marks += ((bytesOut, recordsOut)); lastMark = bytesOut
    }
  }

  /** One COMPLETE record (its terminating CRLFCRLF included): as its
    * own gzip member in gz mode — so concatenated decompressed members
    * form a valid WARC stream — plain bytes otherwise; either way the
    * sidecar mark accounting counts it, keeping `record_index` exact.
    */
  private def emitRecord(rec: Array[Byte]): Unit = {
    if (gzip) {
      out.write(GzHeader)
      crc.reset(); crc.update(rec)
      deflater.reset()
      deflater.setInput(rec); deflater.finish()
      var deflated = 0L
      while (!deflater.finished()) {
        val n = deflater.deflate(dbuf)
        if (n > 0) { out.write(dbuf, 0, n); deflated += n }
      }
      writeIntLE(crc.getValue)
      writeIntLE(rec.length.toLong & 0xffffffffL)
      accountRecord(GzHeader.length + deflated + 8)
    } else {
      out.write(rec)
      accountRecord(rec.length.toLong)
    }
  }

  /** The file-head warcinfo record (ISO 28500 §6.2): WARC-Filename
    * names the part file (or the caller's override, see [[WarcFormat]]),
    * the payload is the fixed [[graft.sources.Warc.WarcinfoFields]],
    * and the record id derives from the filename, so the whole record
    * is deterministic given the name. Emitted through [[emitRecord]],
    * so offsets, sidecar marks, and `record_index` all account for it.
    */
  private def writeWarcinfo(): Unit = {
    val fname = format.warcinfoFilename.getOrElse(name)
    val payload =
      graft.sources.Warc.WarcinfoFields.getBytes(StandardCharsets.UTF_8)
    val md = java.security.MessageDigest.getInstance("MD5")
    val id = md.digest(("warcinfo:" + fname).getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    val head = (s"WARC/1.0\r\n" +
      "WARC-Type: warcinfo\r\n" +
      s"WARC-Record-ID: <urn:md5:$id>\r\n" +
      "WARC-Date: 2020-01-01T00:00:00Z\r\n" +
      s"WARC-Filename: $fname\r\n" +
      "Content-Type: application/warc-fields\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n")
      .getBytes(StandardCharsets.UTF_8)
    emitRecord(head ++ payload ++ "\r\n\r\n".getBytes(StandardCharsets.UTF_8))
  }

  // the writer opens with the partition's first row, so an empty
  // partition leaves neither a file nor a warcinfo-only one
  if (format.warcinfo) writeWarcinfo()

  override def write(row: InternalRow): Unit = {
    val s = if (binary) row.getBinary(0) else row.getUTF8String(0).getBytes
    // the rendered record ends "...payload\r\n"; the writer's CRLF
    // completes the spec's double-CRLF record separator. gz needs the
    // complete record in one array (one member per record); the plain
    // path streams the two pieces and skips the copy.
    if (gzip) {
      val rec = java.util.Arrays.copyOf(s, s.length + 2)
      rec(s.length) = '\r'; rec(s.length + 1) = '\n'
      emitRecord(rec)
    } else {
      out.write(s); out.write(CrLf)
      accountRecord(s.length.toLong + 2)
    }
  }

  override def close(): Unit = {
    if (deflater != null) deflater.end()
    out.close()
  }

  /** `.{name}.idx`: the magic, byte and record totals and content
    * fingerprint, then one `offset records` mark per line.
    */
  override def sidecar: Option[(String, Array[Byte])] = {
    val lines = new StringBuilder(
      s"${WarcDataSource.SidecarMagic} $bytesOut $recordsOut ${fp.fingerprint}\n")
    for ((off, recs) <- marks.result()) lines.append(s"$off $recs\n")
    Some(("." + name + ".idx", lines.toString.getBytes(StandardCharsets.UTF_8)))
  }
}
