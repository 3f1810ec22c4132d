package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WARC/1.0 writer — renders a `documents`-shaped DataFrame
  * (doc_id, text, lang, source, …) as ISO-28500 response records, the
  * interchange format every web-crawl training corpus ships in
  * (Common Crawl's WARC segments are the canonical 100-TB input). The
  * reference ETL consumes per-API JSON (building-inspector.js:50-83);
  * this sink plus [[graft.sources.v2.WarcDataSource]] extend the same
  * source/sink family to the crawl-archive format so a corpus can
  * round-trip graft → WARC → graft byte-exactly.
  *
  * Record layout (one per input row):
  * {{{
  *   WARC/1.0\r\n
  *   WARC-Type: response\r\n
  *   WARC-Record-ID: <urn:md5:…>\r\n
  *   WARC-Date: 2020-01-01T<hh:mm:ss>Z\r\n
  *   WARC-Target-URI: http://<source>.example/doc/<doc_id>\r\n
  *   Content-Type: text/plain; charset=utf-8\r\n
  *   Content-Length: <payload UTF-8 bytes>\r\n
  *   \r\n
  *   <payload>\r\n\r\n
  * }}}
  *
  * Every derived header is deterministic arithmetic over the row
  * (record id = md5 of a tagged doc_id, date = doc_id-derived
  * hh:mm:ss), so a DuckDB oracle can replay the bytes without reading
  * the files back. Content-Length counts payload bytes in UTF-8 —
  * `octet_length`, not the character count — which is what makes the
  * reader's framing independent of payload contents (a payload
  * containing `\r\n\r\n` or header-looking lines parses fine; the
  * reader never scans payload bytes).
  *
  * Each `render…` returns the records as ONE column (string, or binary
  * for encoded HTTP bodies), and the one [[save]] writes any of them:
  * the `warc` sink appends the record's final CRLF, completing the
  * spec's double-CRLF record separator. The caller picks the renderer
  * and the options (gzip members, a warcinfo head).
  *
  * Scale shape: rendering is one zero-shuffle projection (everything
  * in-row, whole-stage codegen); files parallelize by the input's
  * partitioning, records never cross partition boundaries. No global
  * record order is promised — WARC readers (ours included) treat
  * files as unordered record bags, exactly like parquet part files.
  */
object Warc {

  /** The warc-fields payload of every sink-emitted warcinfo record
    * (ISO 28500 §6.2) — ONE definition shared by the DSv2 writer and
    * the oracle replays, so the warcinfo gate's checksums and the CDX
    * oracle's byte accounting can reconstruct the record without
    * reading it back.
    */
  val WarcinfoFields: String =
    "software: graft-warc/1.0\r\nformat: WARC File Format 1.0\r\n"

  /** [[WarcinfoFields]] as a DuckDB expression (chr(13)||chr(10) —
    * standard SQL string literals have no escapes).
    */
  val WarcinfoFieldsSql: String =
    "('software: graft-warc/1.0' || chr(13) || chr(10) || " +
      "'format: WARC File Format 1.0' || chr(13) || chr(10))"

  /** The default target URI: the corpus page address every renderer
    * except [[renderRobots]] uses.
    */
  private def docUri: org.apache.spark.sql.Column =
    concat(lit("http://"), col("source"), lit(".example/doc/"),
      col("doc_id").cast("string"))

  /** The record's complete header block (version line through the
    * blank line) as ONE string expression — every derived header is
    * deterministic row arithmetic so a DuckDB oracle can replay the
    * bytes without reading the files back, and it is the single
    * definition behind both the string and the binary envelope, so a
    * header change can never reach one renderer and miss the other.
    */
  private def headerBlock(
      payload: org.apache.spark.sql.Column,
      contentType: String,
      warcType: org.apache.spark.sql.Column,
      idSeed: org.apache.spark.sql.Column,
      extraHeaders: org.apache.spark.sql.Column,
      targetUri: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val two = (c: org.apache.spark.sql.Column) => lpad(c.cast("string"), 2, "0")
    val date = concat(
      lit("2020-01-01T"),
      two(col("doc_id") % 24), lit(":"),
      two(col("doc_id") % 60), lit(":"),
      two((col("doc_id") * 7) % 60), lit("Z"))
    concat(
      lit("WARC/1.0\r\n"),
      lit("WARC-Type: "), warcType, lit("\r\n"),
      lit("WARC-Record-ID: <urn:md5:"),
      md5(idSeed.cast("binary")),
      lit(">\r\n"),
      lit("WARC-Date: "), date, lit("\r\n"),
      lit("WARC-Target-URI: "), targetUri, lit("\r\n"),
      extraHeaders,
      lit(s"Content-Type: $contentType\r\n"),
      lit("Content-Length: "), octet_length(payload).cast("string"),
      lit("\r\n\r\n"))
  }

  private def envelope(
      docs: DataFrame,
      payload: org.apache.spark.sql.Column,
      contentType: String,
      warcType: org.apache.spark.sql.Column = lit("response"),
      idSeed: org.apache.spark.sql.Column =
        concat(lit("warc:"), col("doc_id").cast("string")),
      extraHeaders: org.apache.spark.sql.Column = lit(""),
      targetUri: org.apache.spark.sql.Column = docUri): DataFrame =
    docs.select(concat(
      headerBlock(payload, contentType, warcType, idSeed, extraHeaders,
        targetUri),
      payload, lit("\r\n"),
    ).as("value"))

  /** Render documents rows to one WARC record string per row. */
  def render(docs: DataFrame): DataFrame =
    envelope(docs, col("text"), "text/plain; charset=utf-8")

  /** The deterministic HTML wrapping of a document's text, shared by
    * [[renderHttp]] and the oracle replays of the http/wet entries.
    */
  def htmlBody: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>doc "), col("doc_id").cast("string"),
    lit("</title></head><body><p>"), col("text"), lit("</p></body></html>"))

  /** Render documents as `application/http; msgtype=response` WARC
    * records — the ACTUAL Common Crawl layout, where each payload is a
    * full HTTP response (status line, headers, blank line, HTML body)
    * and consumers must split headers from body before any text
    * processing. Status is 200 except every 17th doc (404), so a
    * status-filtering operator has real work; the body is the
    * deterministic [[htmlBody]] wrap either way.
    */
  def renderHttp(docs: DataFrame): DataFrame = {
    val status = when(col("doc_id") % 17 === 0, lit("404 Not Found"))
      .otherwise(lit("200 OK"))
    val http = concat(
      lit("HTTP/1.1 "), status, lit("\r\n"),
      lit("Content-Type: text/html; charset=utf-8\r\n"),
      lit("X-Crawl-Lang: "), col("lang"), lit("\r\n"),
      lit("Content-Length: "), octet_length(htmlBody).cast("string"),
      lit("\r\n\r\n"),
      htmlBody)
    envelope(docs, http, "application/http; msgtype=response")
  }

  /** [[htmlBody]] with a non-ASCII marker (§, U+00A7) after the doc id
    * — the one char whose UTF-8 (0xC2 0xA7) and ISO-8859-1 (0xA7)
    * encodings differ, so a consumer that ignores the declared charset
    * produces a different byte count AND a different decoded string.
    * Shared with the oracle replay of the encoded-payload gate.
    */
  def htmlBodyIntl: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>doc "), col("doc_id").cast("string"),
    lit(" §</title></head><body><p>"), col("text"),
    lit("</p></body></html>"))

  /** Render documents as application/http WARC records with REAL
    * response encodings — the part of the Common Crawl record shape
    * [[renderHttp]] idealizes away. Per row (all doc_id arithmetic,
    * oracle-replayable):
    *
    *  - `doc_id % 3 == 1`: `Transfer-Encoding: chunked` (256-byte
    *    chunks, no Content-Length — the RFC 9112 shape);
    *  - `doc_id % 3 == 2`: `Content-Encoding: gzip` (deterministic
    *    member, [[graft.functions.HttpCodec]]);
    *  - otherwise identity;
    *  - charset alternates utf-8 / iso-8859-1 (`doc_id % 2`), declared
    *    in Content-Type and APPLIED to the body bytes — the body is
    *    [[htmlBodyIntl]], whose § encodes differently per charset.
    *
    * The record is assembled as BINARY (gzip bodies are not UTF-8):
    * ASCII envelope/HTTP headers encode transparently, the body stays
    * raw bytes, and the WARC Content-Length counts the encoded payload
    * exactly as the reader's framing requires.
    */
  def renderHttpEncoded(docs: DataFrame): DataFrame = {
    import graft.functions.exprs.{chunked_encode, gzip_compress}
    val enc = col("doc_id") % 3
    val charset = when(col("doc_id") % 2 === 0, lit("utf-8"))
      .otherwise(lit("iso-8859-1"))
    val bodyBytes = when(col("doc_id") % 2 === 0,
      encode(htmlBodyIntl, "utf-8"))
      .otherwise(encode(htmlBodyIntl, "iso-8859-1"))
    val encodedBody = when(enc === 1, chunked_encode(bodyBytes, 256))
      .when(enc === 2, gzip_compress(bodyBytes))
      .otherwise(bodyBytes)
    val status = when(col("doc_id") % 17 === 0, lit("404 Not Found"))
      .otherwise(lit("200 OK"))
    val httpHeaders = concat(
      lit("HTTP/1.1 "), status, lit("\r\n"),
      lit("Content-Type: text/html; charset="), charset, lit("\r\n"),
      lit("X-Crawl-Lang: "), col("lang"), lit("\r\n"),
      when(enc === 1, lit("Transfer-Encoding: chunked\r\n"))
        .otherwise(lit("")),
      when(enc === 2, lit("Content-Encoding: gzip\r\n"))
        .otherwise(lit("")),
      // a chunked response carries NO Content-Length (RFC 9112 §6.2);
      // the others declare the ENCODED body size
      when(enc === 1, lit(""))
        .otherwise(concat(lit("Content-Length: "),
          octet_length(encodedBody).cast("string"), lit("\r\n"))),
      lit("\r\n"))
    val http = concat(encode(httpHeaders, "utf-8"), encodedBody)
    envelopeBinary(docs, http, "application/http; msgtype=response")
  }

  /** Render documents as application/http WARC records with
    * `Content-Encoding: deflate` bodies — BOTH the RFC 9110 zlib
    * shape (doc_id % 4 == 1) and the infamous non-conformant RAW
    * stream (doc_id % 4 == 2; RFC 9110 §8.4.1.2 documents the bug),
    * under the SAME `deflate` header — exactly the ambiguity a real
    * consumer's sniffing decoder must resolve. Remaining rows are
    * identity. Body is the shared [[htmlBody]]; utf-8 throughout.
    */
  def renderHttpDeflate(docs: DataFrame): DataFrame = {
    import graft.functions.exprs.{deflate_compress, deflate_compress_raw}
    val enc = col("doc_id") % 4
    val bodyBytes = encode(htmlBody, "utf-8")
    val encodedBody = when(enc === 1, deflate_compress(bodyBytes))
      .when(enc === 2, deflate_compress_raw(bodyBytes))
      .otherwise(bodyBytes)
    val status = when(col("doc_id") % 17 === 0, lit("404 Not Found"))
      .otherwise(lit("200 OK"))
    val httpHeaders = concat(
      lit("HTTP/1.1 "), status, lit("\r\n"),
      lit("Content-Type: text/html; charset=utf-8\r\n"),
      lit("X-Crawl-Lang: "), col("lang"), lit("\r\n"),
      when(enc === 1 || enc === 2, lit("Content-Encoding: deflate\r\n"))
        .otherwise(lit("")),
      lit("Content-Length: "),
      octet_length(encodedBody).cast("string"), lit("\r\n\r\n"))
    val http = concat(encode(httpHeaders, "utf-8"), encodedBody)
    envelopeBinary(docs, http, "application/http; msgtype=response")
  }

  /** [[envelope]] for BINARY payloads: the SAME [[headerBlock]]
    * expression, assembled as a binary concat (ASCII header text
    * encodes transparently), so payload bytes that are not valid
    * UTF-8 — gzip-encoded HTTP bodies — survive untouched. The DSv2
    * sink accepts the single binary column and appends the record
    * CRLF exactly as in the string path.
    */
  private def envelopeBinary(
      docs: DataFrame,
      payload: org.apache.spark.sql.Column,
      contentType: String): DataFrame =
    docs.select(concat(
      encode(headerBlock(payload, contentType, lit("response"),
        concat(lit("warc:"), col("doc_id").cast("string")), lit(""),
        docUri), "utf-8"),
      payload, encode(lit("\r\n"), "utf-8"),
    ).as("value"))

  /** Crawl-side payload dedup, rendered the way real crawls ship it
    * (ISO 28500 §6.7; Common Crawl): of all fetches sharing a payload
    * digest within a source, the FIRST becomes a full `response`
    * record and every later one a `revisit` record — empty payload,
    * `WARC-Profile: identical-payload-digest`, `WARC-Refers-To`
    * pointing at the referent's record id, `WARC-Payload-Digest`
    * carrying the shared hash. This is the dedup device that keeps a
    * recrawl from re-storing unchanged pages; resolution
    * (revisit → referent payload) is the read-side operator gated by
    * `pipe_warc_revisit_dedup`.
    *
    * Input: documents columns plus a `fetch_id` (unique per fetch;
    * first-seen = smallest). The first-seen choice is ONE window over
    * the (source, digest) key — the same hash-partitioned shuffle any
    * payload dedup costs at 100 TB; everything else stays per-row.
    */
  def renderWithRevisits(fetches: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("source"), md5(col("text").cast("binary")))
      .orderBy(col("fetch_id"))
    val ranked = fetches
      .withColumn("_rk", row_number().over(w))
      .withColumn("_ref_fid",
        min(col("fetch_id")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val digest = concat(lit("WARC-Payload-Digest: md5:"),
      md5(col("text").cast("binary")), lit("\r\n"))
    val responses = envelope(
      ranked.filter(col("_rk") === 1),
      col("text"), "text/plain; charset=utf-8",
      idSeed = concat(lit("warc:f:"), col("fetch_id").cast("string")),
      extraHeaders = digest)
    val revisits = envelope(
      ranked.filter(col("_rk") > 1),
      lit(""), "text/plain; charset=utf-8",
      warcType = lit("revisit"),
      idSeed = concat(lit("warc:f:"), col("fetch_id").cast("string")),
      extraHeaders = concat(
        lit("WARC-Refers-To: <urn:md5:"),
        md5(concat(lit("warc:f:"), col("_ref_fid").cast("string"))
          .cast("binary")),
        lit(">\r\n"),
        lit("WARC-Profile: http://netpreserve.org/warc/1.0/revisit/" +
          "identical-payload-digest\r\n"),
        digest))
    responses.unionAll(revisits)
  }

  /** Render robots.txt fetches as response records — target URI
    * `http://<host>/robots.txt`, the address every polite crawler
    * (RFC 9309) fetches before a domain's pages. Input columns:
    * (doc_id, host, body) — doc_id feeds the deterministic date only.
    * The read side of `td_robots_filter2` parses User-agent/Disallow
    * groups back OUT of these payloads to build the politeness dim
    * from the archive itself, the way a production pipeline derives
    * its rules.
    */
  def renderRobots(robots: DataFrame): DataFrame =
    envelope(robots, col("body"), "text/plain; charset=utf-8",
      idSeed = concat(lit("warc:robots:"), col("host")),
      targetUri = concat(lit("http://"), col("host"), lit("/robots.txt")))

  /** Render full CAPTURES the way real crawls ship them: a `request`
    * record (the HTTP request that was sent, `WARC-Concurrent-To`
    * pointing at its response) next to each `response` record
    * ([[renderHttp]]'s shape). Request payloads are deterministic
    * request-line + headers, so an oracle can replay the pairing
    * byte-for-byte; the pairing key is the response's record id —
    * resolution is the same record-id join device as revisit
    * resolution, gated by `pipe_warc_request_pair`.
    */
  def renderWithRequests(docs: DataFrame): DataFrame = {
    val reqHttp = concat(
      lit("GET /doc/"), col("doc_id").cast("string"), lit(" HTTP/1.1\r\n"),
      lit("Host: "), col("source"), lit(".example\r\n"),
      lit("User-Agent: graft-crawler/1.0\r\n"),
      lit("Accept: text/html\r\n\r\n"))
    val requests = envelope(
      docs, reqHttp, "application/http; msgtype=request",
      warcType = lit("request"),
      idSeed = concat(lit("warc:rq:"), col("doc_id").cast("string")),
      extraHeaders = concat(
        lit("WARC-Concurrent-To: <urn:md5:"),
        md5(concat(lit("warc:"), col("doc_id").cast("string"))
          .cast("binary")),
        lit(">\r\n")))
    requests.unionAll(renderHttp(docs))
  }

  /** Render `metadata` records next to each [[renderHttp]] response —
    * the per-capture fetch telemetry real crawls store (ISO 28500
    * §6.6: `application/warc-fields` payload, `WARC-Concurrent-To`
    * at the capture's response). Field values are doc_id arithmetic
    * so the oracle replays them without reading the archive:
    * fetchTimeMs = (doc_id·13) % 900 + 100, outlinks = doc_id % 17.
    */
  def renderWithMetadata(docs: DataFrame): DataFrame = {
    val fields = concat(
      lit("fetchTimeMs: "),
      ((col("doc_id") * 13) % 900 + 100).cast("string"), lit("\r\n"),
      lit("outlinks: "), (col("doc_id") % 17).cast("string"), lit("\r\n"))
    val metadata = envelope(
      docs, fields, "application/warc-fields",
      warcType = lit("metadata"),
      idSeed = concat(lit("warc:md:"), col("doc_id").cast("string")),
      extraHeaders = concat(
        lit("WARC-Concurrent-To: <urn:md5:"),
        md5(concat(lit("warc:"), col("doc_id").cast("string"))
          .cast("binary")),
        lit(">\r\n")))
    metadata.unionAll(renderHttp(docs))
  }

  /** Render documents as SEGMENTED records (ISO 28500 §5.8 — how
    * records larger than a writer's buffer ship in real crawls): a
    * document whose text exceeds `segChars` becomes a first `response`
    * record carrying `WARC-Segment-Number: 1` and the first chunk,
    * plus `continuation` records (`WARC-Segment-Number: k`,
    * `WARC-Segment-Origin-ID` pointing at the first record's id; the
    * LAST one also `WARC-Segment-Total-Length`, the reassembled byte
    * count, per spec). Short documents render as ordinary unsegmented
    * responses — no segment headers at all. Chunks split at CHARACTER
    * boundaries (any split point is spec-legal; char boundaries keep
    * multi-byte UTF-8 sequences intact per chunk), each chunk's
    * Content-Length counting its own UTF-8 bytes.
    *
    * Rendering is one in-row explode — zero shuffles; READ-side
    * reassembly (`pipe_warc_segmented`) is the operator with a
    * shuffle, and it shuffles only the segmented records.
    */
  def renderSegmented(docs: DataFrame, segChars: Int): DataFrame = {
    require(segChars > 0, s"segChars must be positive, got $segChars")
    val chunks = expr(
      s"""transform(
         |  sequence(0, int(greatest(ceil(length(text) / $segChars.0), 1)) - 1),
         |  i -> substring(text, i * $segChars + 1, $segChars))""".stripMargin)
    val parts = docs
      .withColumn("_chunks", chunks)
      .withColumn("_n", size(col("_chunks")))
      .withColumn("_total", octet_length(col("text")))
      .select(col("doc_id"), col("source"), col("_n"), col("_total"),
        posexplode(col("_chunks")).as(Seq("_i", "_seg")))
    val originId = concat(lit("<urn:md5:"),
      md5(concat(lit("warc:"), col("doc_id").cast("string"))
        .cast("binary")),
      lit(">"))
    envelope(
      parts,
      col("_seg"), "text/plain; charset=utf-8",
      warcType = when(col("_i") === 0, lit("response"))
        .otherwise(lit("continuation")),
      idSeed = when(col("_i") === 0,
        concat(lit("warc:"), col("doc_id").cast("string")))
        .otherwise(concat(lit("warc:seg:"), col("doc_id").cast("string"),
          lit(":"), col("_i").cast("string"))),
      extraHeaders = when(col("_n") === 1, lit(""))
        .otherwise(concat(
          when(col("_i") > 0,
            concat(lit("WARC-Segment-Origin-ID: "), originId, lit("\r\n")))
            .otherwise(lit("")),
          lit("WARC-Segment-Number: "), (col("_i") + 1).cast("string"),
          lit("\r\n"),
          when(col("_i") === col("_n") - 1,
            concat(lit("WARC-Segment-Total-Length: "),
              col("_total").cast("string"), lit("\r\n")))
            .otherwise(lit("")))))
  }

  /** Render documents with TRUNCATION (ISO 28500 §5.13 — the other
    * oversized-payload device next to [[renderSegmented]], and the
    * one real crawlers actually default to: store only a prefix and
    * mark the record `WARC-Truncated: length`): texts over `capChars`
    * chars store their first `capChars` chars with the truncation
    * header; shorter texts render whole with no marker.
    * Content-Length counts the STORED bytes — the framing stays
    * honest about what is on disk, the header about what is not.
    */
  def renderTruncated(docs: DataFrame, capChars: Int): DataFrame = {
    require(capChars > 0, s"capChars must be positive, got $capChars")
    val cut = length(col("text")) > capChars
    envelope(
      docs,
      when(cut, substring(col("text"), 1, capChars))
        .otherwise(col("text")),
      "text/plain; charset=utf-8",
      extraHeaders = when(cut, lit("WARC-Truncated: length\r\n"))
        .otherwise(lit("")))
  }

  /** Render WET-style `conversion` records (ISO 28500 §6.8 — the
    * record type Common Crawl's WET sidecar files consist of): one
    * text/plain record per page whose payload is the EXTRACTED text,
    * `WARC-Refers-To` pointing at the response record the text was
    * derived from. Input: (doc_id, source, wet) — typically parsed
    * back out of an http archive (`pipe_warc_wet_convert` chains
    * documents → http .warc.gz → tag-strip → THIS renderer → a second
    * .warc.gz → read-back, the real WARC→WET derivation end to end).
    */
  def renderConversions(pages: DataFrame): DataFrame =
    envelope(
      pages, col("wet"), "text/plain",
      warcType = lit("conversion"),
      idSeed = concat(lit("warc:wet:"), col("doc_id").cast("string")),
      extraHeaders = concat(
        lit("WARC-Refers-To: <urn:md5:"),
        md5(concat(lit("warc:"), col("doc_id").cast("string"))
          .cast("binary")),
        lit(">\r\n")))

  /** Writes a rendered frame (any `render…` above) as WARC part files
    * under `path`, replacing what is there, through the DSv2 `warc`
    * sink, so every part file also carries its sidecar split index and
    * planning reads marks instead of skimming headers:
    * {{{
    *   Warc.save(Warc.renderHttp(docs), dir, gzip = true)
    * }}}
    *
    *  - `gzip`: `.warc.gz` with one gzip MEMBER per record — the Common
    *    Crawl layout. Members are self-delimiting, so the archive stays
    *    splittable (the reader's member walk starts at any member
    *    boundary); a generic text sink with gzip compression would
    *    emit ONE member per file and destroy that.
    *  - `warcinfo`: every part file LEADS with a warcinfo record (the
    *    real crawl-segment profile — ISO 28500 §6.2; Common Crawl
    *    segments all begin with one).
    *  - `warcinfoFilename` (with `warcinfo`): overrides that record's
    *    WARC-Filename VALUE, for single-partition segments whose
    *    consumers must replay the record's bytes without knowing the
    *    sink's task-id-bearing part name (the CDX oracle).
    */
  def save(
      records: DataFrame, path: String, gzip: Boolean = false,
      warcinfo: Boolean = false, warcinfoFilename: Option[String] = None): Unit = {
    val w = records.write.format("warc")
      .option("compression", if (gzip) "gzip" else "none")
      .option("warcinfo", warcinfo)
    warcinfoFilename.fold(w)(w.option("warcinfoFilename", _)).mode("overwrite").save(path)
  }
}
