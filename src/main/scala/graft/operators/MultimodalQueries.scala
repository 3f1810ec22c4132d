package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables

/** Multimodal-column support: media travels as an opaque `binary`
  * column plus typed metadata, exactly as image/audio/video would in a
  * 100 TB training-data lake. The decode step runs a REAL image codec
  * (javax.imageio — PNG/JPEG/GIF/BMP) on payloads that parse as
  * images, and falls back to a deterministic md5-derived pseudo-decode
  * for everything else — the quarantine-row pattern for corrupt media.
  * The `documents`-backed catalogue queries exercise the fallback arm
  * (text bytes are never valid images), keeping them oracle-checkable;
  * the real arm is spec-verified with an actual PNG round-trip.
  *
  * Scale notes: decode runs per-partition (mapPartitions) so the codec
  * amortizes init per batch; payloads never shuffle — only extracted
  * features/metadata do.
  */
object Multimodal {

  /** A media record: opaque payload + whatever metadata the lake has. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte], source: String)

  /** One fixed-size audio frame: exact integer energy Σ|sample − 100|
    * over the frame's PCM-U8 samples (100 per frame, last frame
    * clipped). */
  final case class AudioFrame(
    doc_id: Long, frame: Int, n_samples: Int, energy: Long)

  /** Frame-and-energy pass over the payload interpreted as unsigned
    * 8-bit PCM — the audio half of the decode family: real byte-level
    * parsing per partition (the shape a libsndfile/ffmpeg decode
    * feeds), with the text-backed payloads keeping every frame energy
    * SQL-replayable (ASCII byte i == codepoint of char i).
    */
  def audioFrames(rows: Dataset[MediaRow]): Dataset[AudioFrame] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.flatMap { r =>
        val b = r.payload
        val frames = (b.length + 99) / 100
        (0 until frames).iterator.map { f =>
          val start = f * 100
          val end = math.min(start + 100, b.length)
          var e = 0L
          var i = start
          while (i < end) { e += math.abs((b(i) & 0xff) - 100); i += 1 }
          AudioFrame(r.doc_id, f, end - start, e)
        }
      }
    }
  }

  /** One ViT-style patch: exact integer intensity sum over the
    * patch's pixels (bytes), count of pixels actually present (edge
    * patches clip), and the centi-scaled integer mean. */
  final case class PatchRow(
    doc_id: Long, prow: Int, pcol: Int, n_px: Int, sum_i: Long, mean_centi: Long)

  /** PATCHIFY pass: the payload as a row-major W=16 raster of unsigned
    * bytes, split into 4×4 patches with per-patch intensity stats —
    * the ViT patch-embedding input prep (an image pipeline feeds the
    * decoded raster through the same contract). One sequential pass
    * per payload accumulating into the patch-row buckets; bytes never
    * leave the task, only the ~len/16 patch rows do.
    */
  def patchGrid(rows: Dataset[MediaRow]): Dataset[PatchRow] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.flatMap { r =>
        val b = r.payload
        if (b.isEmpty) Iterator.empty
        else {
          val nRows = (b.length + 15) / 16
          val nPRows = (nRows + 3) / 4
          val sums = new Array[Long](nPRows * 4)
          val cnts = new Array[Int](nPRows * 4)
          var i = 0
          while (i < b.length) {
            val p = (i / 16 / 4) * 4 + (i % 16) / 4
            sums(p) += (b(i) & 0xff)
            cnts(p) += 1
            i += 1
          }
          (0 until nPRows * 4).iterator.filter(cnts(_) > 0).map { p =>
            PatchRow(r.doc_id, p / 4, p % 4, cnts(p), sums(p),
              100L * sums(p) / cnts(p))
          }
        }
      }
    }
  }

  /** Decoded output: metadata + a fixed-shape feature vector. */
  final case class MediaDecoded(
      doc_id: Long,
      n_bytes: Int,
      format: String,
      width: Int,
      height: Int,
      feat0: Double,
  )

  /** DETERMINISTIC FALLBACK for non-image payloads: md5-derived
    * pseudo-decode. Keeps every byte stream decodable — exactly what a
    * production pipeline does with a quarantine/default row for
    * corrupt media — and keeps the `documents`-backed oracle queries
    * replayable (their text payloads are never valid images).
    * Pure function of the payload bytes.
    */
  def decodeStub(payload: Array[Byte]): (String, Int, Int, Double) = {
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(payload)
    def ub(i: Int): Int = md5(i) & 0xff
    val format = if (ub(0) < 86) "png" else if (ub(0) < 171) "jpeg" else "webp"
    val width = 64 + ub(1)
    val height = 64 + ub(2)
    val feat0 = ub(3).toDouble / 255.0
    (format, width, height, feat0)
  }

  /** Upper bound on either pixel dimension the decoder will read: a
    * tiny payload whose header CLAIMS huge dimensions would otherwise
    * make `reader.read(0)` eagerly allocate the declared raster — a
    * decompression-bomb OOM, not a decode.
    */
  val MaxPixelDim = 16384

  /** True iff the payload starts with a known raster-image signature:
    * PNG/JPEG/GIF/BMP/TIFF — the formats the JDK's ImageIO ships
    * readers for (JDK 9+ also bundles TIFF; WBMP is deliberately NOT
    * sniffed — its "signature" is two near-arbitrary bytes, so a
    * prefix test would wave through random binary and defeat the
    * point of the sniff; WBMP payloads fall to [[decodeStub]] by
    * design). Checked BEFORE constructing an ImageInputStream: on a
    * predominantly-text corpus the per-payload stream + reader-probe
    * allocation is pure overhead, and a 4-byte prefix test rejects
    * non-images for free.
    */
  def looksLikeImage(payload: Array[Byte]): Boolean = {
    if (payload.length < 4) return false
    def b(i: Int): Int = payload(i) & 0xff
    (b(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') || // PNG
    (b(0) == 0xff && b(1) == 0xd8 && b(2) == 0xff) ||              // JPEG
    (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||  // GIF
    (b(0) == 'B' && b(1) == 'M') ||                                // BMP
    (b(0) == 'I' && b(1) == 'I' && b(2) == 0x2a && b(3) == 0) ||   // TIFF LE
    (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 0x2a)      // TIFF BE
  }

  /** Real codec path: decode the payload with javax.imageio when its
    * bytes carry an image signature AND parse, reporting the actual
    * format, pixel dimensions, and the mean-luma-of-origin-pixel
    * feature; fall back to [[decodeStub]] for anything else. Corrupt
    * containers quarantine on ANY non-fatal throw — ImageIO readers
    * surface truncation as RuntimeException subclasses
    * (IllegalArgumentException, ArrayIndexOutOfBoundsException,
    * CMMException) as often as IOException — and header-declared
    * dimensions are bounded before `read(0)` allocates them.
    */
  def decodePayload(payload: Array[Byte]): (String, Int, Int, Double) =
    readGuarded(payload) match {
      case Some((format, img)) =>
        val argb = img.getRGB(0, 0)
        val luma = (((argb >> 16) & 0xff) * 0.299 +
          ((argb >> 8) & 0xff) * 0.587 + (argb & 0xff) * 0.114) / 255.0
        (format, img.getWidth, img.getHeight, luma)
      case None => decodeStub(payload)
    }

  /** The guarded decode shared by [[decodePayload]] and [[pHashBands]]:
    * None unless the payload carries an image signature, a registered
    * reader parses it, and the header-declared dimensions pass the
    * [[MaxPixelDim]] bound; corrupt containers quarantine on ANY
    * non-fatal throw (OOM and friends still propagate).
    */
  def readGuarded(
      payload: Array[Byte]): Option[(String, java.awt.image.BufferedImage)] = {
    if (!looksLikeImage(payload)) return None
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val format = reader.getFormatName.toLowerCase(java.util.Locale.ROOT)
          if (reader.getWidth(0) > MaxPixelDim || reader.getHeight(0) > MaxPixelDim)
            None
          else Some((format, reader.read(0)))
        } finally reader.dispose()
      }
    } catch {
      case scala.util.control.NonFatal(_) => None
    } finally if (iis != null) iis.close()
  }

  /** dHash: deterministic 9×8 average-pool to a luma grid, then one
    * bit per horizontally-adjacent cell comparison — 64 bits. The pool
    * is explicit integer-block averaging, NOT Graphics2D scaling,
    * whose interpolation is platform/toolkit-dependent and would make
    * the hash non-reproducible across executors.
    */
  def dHash(img: java.awt.image.BufferedImage): Long = dHashN(img, 64) match {
    case bytes =>
      var bits = 0L
      var i = 0
      while (i < 8) { bits = (bits << 8) | (bytes(i) & 0xffL); i += 1 }
      bits
  }

  /** Generalized dHash: `totalBits/8` grid rows of 9 pooled cells →
    * 8 comparison bits per row, streamed MSB-first into a byte array.
    * totalBits = 64 reproduces [[dHash]] bit-for-bit; 128 doubles the
    * vertical resolution (16 rows) for the wider production band
    * geometry. Same explicit integer-block average pooling — no
    * Graphics2D, reproducible across executors.
    */
  def dHashN(img: java.awt.image.BufferedImage, totalBits: Int): Array[Byte] = {
    require(totalBits % 8 == 0 && totalBits > 0, s"totalBits $totalBits not a multiple of 8")
    val gw = 9; val gh = totalBits / 8
    val w = img.getWidth; val h = img.getHeight
    val grid = Array.ofDim[Double](gh, gw)
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw) {
        val x0 = gx * w / gw
        val x1 = math.min(math.max(x0 + 1, (gx + 1) * w / gw), w)
        val y0 = gy * h / gh
        val y1 = math.min(math.max(y0 + 1, (gy + 1) * h / gh), h)
        var sum = 0.0; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val argb = img.getRGB(x, y)
            sum += ((argb >> 16) & 0xff) * 0.299 +
              ((argb >> 8) & 0xff) * 0.587 + (argb & 0xff) * 0.114
            n += 1; x += 1
          }
          y += 1
        }
        grid(gy)(gx) = sum / math.max(n, 1)
        gx += 1
      }
      gy += 1
    }
    val out = new Array[Byte](gh)
    gy = 0
    while (gy < gh) {
      var b = 0
      var gx = 0
      while (gx < 8) {
        b = (b << 1) | (if (grid(gy)(gx + 1) > grid(gy)(gx)) 1 else 0)
        gx += 1
      }
      out(gy) = b.toByte
      gy += 1
    }
    out
  }

  /** Band geometry for [[pHashBandValues]]: (bands, bitsPerBand).
    * Default 4×16 over the 64-bit hash — the catalogue/oracle layout.
    * Production widths raise bitsPerBand (e.g. 4×32 over a 128-bit
    * hash: md5 has exactly 128 bits for the stub arm, [[dHashN]]
    * doubles its grid for the image arm), which divides the
    * uniform-hash candidate rate by 2^16 while keeping the pigeonhole
    * guarantee (hamming ≤ bands-1 ⊇ threshold 3). Knobs:
    * -Dgraft.phash.bands / -Dgraft.phash.bits or SPARK_GRAFT_PHASH_*.
    */
  def phashGeometry: (Int, Int) = {
    def knob(prop: String, env: String, dflt: Int): Int =
      sys.props.get(prop).orElse(sys.env.get(env)).map(_.toInt).getOrElse(dflt)
    val bands = knob("graft.phash.bands", "SPARK_GRAFT_PHASH_BANDS", 4)
    val bits = knob("graft.phash.bits", "SPARK_GRAFT_PHASH_BITS", 16)
    require(bands >= 4, s"bands $bands < 4 cannot pigeonhole hamming <= 3")
    require(bits >= 1 && bits <= 32, s"bitsPerBand $bits outside 1..32")
    require(bands * bits <= 128 && (bands * bits) % 8 == 0,
      s"geometry ${bands}x$bits: total must be <= 128 (md5 stub width) and byte-aligned")
    (bands, bits)
  }

  /** DATA-PROPORTIONAL band geometry (the winnow-maxdf scale-default
    * pattern): explicit knobs always win; corpora at or below 100k
    * docs keep the catalogue's 4×16 layout (every oracle-gated
    * fixture — the SQL replay stays bit-identical); above it, the
    * band width is derived from the corpus so uniform-hash candidate
    * volume stays ∝ n instead of n²/2^bits:
    *
    *   expected candidates ≈ bands·n²/2^(bits+1), so candidates ≤
    *   bands·n  ⇔  bits ≥ log2(n/2);  bits = clamp(even-ceil(log2(n/2)),
    *   16, 32) — rounded up to even so 4·bits stays byte-aligned,
    *   capped at 32 by the 128-bit md5/dHashN source width.
    *
    * At n = 500k that is 4×18 (4× fewer uniform collisions than the
    * default); by n ≈ 10^10 the cap 4×32 holds — the production
    * geometry round 6 measured candidates ∝ n at.
    *
    * ceil(log2(·)) is computed INTEGER-EXACT (smallest b with
    * 2^b ≥ ceil(n/2), via numberOfLeadingZeros) rather than through
    * doubles: float log ratios can flip ceil by one ULP exactly at
    * power-of-two corpus sizes, and the DuckDB oracle replays this
    * derivation as a pure threshold CASE ([[phashOracleBandsCte]]) —
    * the two surfaces must agree at EVERY n, including the
    * boundaries.
    */
  def phashGeometry(nDocs: Long): (Int, Int) = {
    val knobbed = sys.props.contains("graft.phash.bands") ||
      sys.props.contains("graft.phash.bits") ||
      sys.env.contains("SPARK_GRAFT_PHASH_BANDS") ||
      sys.env.contains("SPARK_GRAFT_PHASH_BITS")
    if (knobbed || nDocs <= 100000L) phashGeometry
    else {
      val half = (nDocs + 1) / 2 // ceil(n/2); n > 100000 so half >= 2
      val needed = 64 - java.lang.Long.numberOfLeadingZeros(half - 1)
      val bits = math.min(32, math.max(16, needed + (needed & 1)))
      (4, bits)
    }
  }

  /** The band CTEs shared by the three pHash oracles (`ph_g`, `h`):
    * replays [[phashGeometry]] + [[pHashBandValues]] in pure DuckDB
    * SQL so the replay stays valid at ANY corpus size, not just below
    * the 100k-doc fixture bound (round-8 residual). `bits` is derived
    * from count(*) by the same integer thresholds the Scala side
    * computes (even b suffices ⇔ n ≤ 2^(b+1)); band i is the
    * MSB-first slice [i·bits, (i+1)·bits) of the 128-bit md5,
    * extracted through a 64-bit hex window ending at the band's last
    * nibble (UBIGINT — DuckDB has no hex→UINT128 cast; a band is
    * ≤ 32 bits so a 64-bit window always contains it, and the
    * repeat('0',16) pad keeps the window in-range for band 0). At
    * bits = 16 this reduces bit-exactly to the historical
    * substr(md5, 1+4i, 4) layout. Explicit SPARK_GRAFT_PHASH_* knobs
    * still fork the surfaces — knobs are test-only probes.
    */
  def phashOracleBandsCte: String = {
    def band(i: Int): String =
      s"""CAST((CAST('0x' || substr(mm, ((${i + 1} * bits + 3) // 4) + 1, 16)
         |           AS UBIGINT)
         |      >> CAST(4 * ((${i + 1} * bits + 3) // 4) - ${i + 1} * bits
         |              AS UBIGINT))
         |     & ((1::UBIGINT << CAST(bits AS UBIGINT)) - 1)
         |     AS BIGINT) AS b$i""".stripMargin
    s"""ph_g AS (
       |  SELECT CASE WHEN n <= 131072 THEN 16
       |              WHEN n <= 524288 THEN 18
       |              WHEN n <= 2097152 THEN 20
       |              WHEN n <= 8388608 THEN 22
       |              WHEN n <= 33554432 THEN 24
       |              WHEN n <= 134217728 THEN 26
       |              WHEN n <= 536870912 THEN 28
       |              WHEN n <= 2147483648 THEN 30
       |              ELSE 32 END AS bits
       |  FROM (SELECT count(*) AS n FROM documents)),
       |h AS (
       |  SELECT doc_id,
       |         ${band(0)},
       |         ${band(1)},
       |         ${band(2)},
       |         ${band(3)}
       |  FROM (SELECT doc_id, repeat('0', 16) || md5(text) AS mm
       |        FROM documents), ph_g)""".stripMargin
  }

  /** Perceptual-hash band values at an arbitrary (bands × bits)
    * geometry: the bit source is [[dHashN]] for decodable images and
    * the first bands·bits bits of md5 otherwise; band i is the
    * MSB-first slice [i·bits, (i+1)·bits). At 4×16 this is bit-exact
    * with the historical layout (b_i = CAST('0x' || substr(md5(text),
    * 1+4i, 4) AS INT)), which is what keeps the DuckDB oracle replay
    * valid at the default geometry.
    */
  def pHashBandValues(payload: Array[Byte], bands: Int, bits: Int): Array[Long] = {
    val total = bands * bits
    val src: Array[Byte] = readGuarded(payload) match {
      case Some((_, img)) => dHashN(img, total)
      case None => java.security.MessageDigest.getInstance("MD5").digest(payload)
    }
    def bit(j: Int): Long = (src(j >> 3) >> (7 - (j & 7))) & 1L
    Array.tabulate(bands) { i =>
      var v = 0L
      var j = i * bits
      val end = j + bits
      while (j < end) { v = (v << 1) | bit(j); j += 1 }
      v
    }
  }

  /** 64-bit perceptual hash as four 16-bit bands (b0 = most
    * significant) — the default-geometry wrapper over
    * [[pHashBandValues]]. Real images get [[dHash]]; everything else
    * the md5-derived stub (first 8 digest bytes big-endian), which
    * keeps text-backed catalogue rows SQL-replayable:
    * b_i = CAST('0x' || substr(md5(text), 1+4i, 4) AS INT).
    */
  def pHashBands(payload: Array[Byte]): Array[Int] =
    pHashBandValues(payload, 4, 16).map(_.toInt)

  /** The batch-decode operator: per-partition iteration over typed
    * rows — the real codec initializes its ImageIO machinery once per
    * JVM and streams each partition's payloads through
    * [[decodePayload]].
    */
  def decode(rows: Dataset[MediaRow]): Dataset[MediaDecoded] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { r =>
        val (format, width, height, feat0) = decodePayload(r.payload)
        MediaDecoded(r.doc_id, r.payload.length, format, width, height, feat0)
      }
    }
  }

  /** documents.text reinterpreted as an opaque binary payload. */
  def asMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", encode($"text", "UTF-8").as("payload"), $"source")
      .as[MediaRow]
  }
}

object MultimodalQueries {

  // Metadata extraction over the binary column (no decode).
  private val metadata = Q(
    "mm_binary_metadata",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .select(
          $"doc_id",
          length($"payload").as("n_bytes"),
          md5($"payload").as("payload_md5"),
        )
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
           |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           |       md5(text) AS payload_md5
           |FROM documents
           |ORDER BY doc_id""".stripMargin),
  )

  // Full typed decode path through mapPartitions; the md5-derived stub
  // makes even the "decoded" fields oracle-checkable.
  private val decode = Q(
    "mm_decode_features",
    (s, d) => {
      import s.implicits._
      Multimodal.decode(Multimodal.asMedia(s, d))
        .toDF()
        .select($"doc_id", $"n_bytes", $"format", $"width", $"height")
        .orderBy($"doc_id")
    },
    Some("""WITH h AS (
           |  SELECT doc_id,
           |         CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           |         md5(text) AS m
           |  FROM documents)
           |SELECT doc_id, n_bytes,
           |       CASE WHEN CAST('0x' || substr(m, 1, 2) AS INT) < 86 THEN 'png'
           |            WHEN CAST('0x' || substr(m, 1, 2) AS INT) < 171 THEN 'jpeg'
           |            ELSE 'webp' END AS format,
           |       64 + CAST('0x' || substr(m, 3, 2) AS INT) AS width,
           |       64 + CAST('0x' || substr(m, 5, 2) AS INT) AS height
           |FROM h
           |ORDER BY doc_id""".stripMargin),
  )

  // Resize: pure metadata transform over the stub-decoded dimensions —
  // fit-within-256 preserving aspect ratio via exact integer math.
  private val resize = Q(
    "mm_resize",
    (s, d) => {
      import s.implicits._
      Multimodal.decode(Multimodal.asMedia(s, d))
        .toDF()
        .select(
          $"doc_id", $"width", $"height",
          when(greatest($"width", $"height") <= 256, $"width")
            .otherwise(expr("CAST(width * 256 DIV greatest(width, height) AS INT)"))
            .as("out_width"),
          when(greatest($"width", $"height") <= 256, $"height")
            .otherwise(expr("CAST(height * 256 DIV greatest(width, height) AS INT)"))
            .as("out_height"),
        )
        .orderBy($"doc_id")
    },
    Some("""WITH h AS (
           |  SELECT doc_id,
           |         64 + CAST('0x' || substr(md5(text), 3, 2) AS INT) AS width,
           |         64 + CAST('0x' || substr(md5(text), 5, 2) AS INT) AS height
           |  FROM documents)
           |SELECT doc_id, width, height,
           |       CASE WHEN greatest(width, height) <= 256 THEN width
           |            ELSE CAST(width * 256 // greatest(width, height) AS INT)
           |       END AS out_width,
           |       CASE WHEN greatest(width, height) <= 256 THEN height
           |            ELSE CAST(height * 256 // greatest(width, height) AS INT)
           |       END AS out_height
           |FROM h
           |ORDER BY doc_id""".stripMargin),
  )

  // Frame sampling: the stub "video" has md5-derived frame count; emit
  // every 5th frame as its own row (posexplode over the frame index
  // sequence — the generator plumbing a real frame extractor feeds).
  private val frameSample = Q(
    "mm_frame_sample",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          (expr("CAST(conv(substring(md5(text), 7, 2), 16, 10) AS INT)") + 10)
            .as("n_frames"))
        .select($"doc_id", $"n_frames",
          posexplode(sequence(lit(0), $"n_frames" - 1, lit(5)))
            .as(Seq("sample_idx", "frame_idx")))
        .select(
          $"doc_id",
          $"sample_idx",
          $"frame_idx",
          ($"frame_idx" * 40L).as("ts_ms"), // 25 fps
        )
        .orderBy($"doc_id", $"sample_idx")
    },
    Some("""WITH f AS (
           |  SELECT doc_id,
           |         CAST('0x' || substr(md5(text), 7, 2) AS INT) + 10 AS n_frames
           |  FROM documents)
           |SELECT doc_id,
           |       CAST(frame_idx // 5 AS INT) AS sample_idx,
           |       CAST(frame_idx AS INT) AS frame_idx,
           |       frame_idx * 40 AS ts_ms
           |FROM f, LATERAL (SELECT unnest(generate_series(0, n_frames - 1, 5)) AS frame_idx)
           |ORDER BY doc_id, sample_idx""".stripMargin),
  )

  // Image near-duplicate candidates via banded perceptual hashing: the
  // pHash (real dHash for decodable images, md5 stub otherwise —
  // Multimodal.pHashBandValues) splits into bands (geometry from
  // Multimodal.phashGeometry, default 4×16 over 64 bits); any pair
  // within hamming ≤ 3 must share at least one EXACT band (pigeonhole:
  // 3 differing bits cannot touch all 4+ bands), so a per-band equi
  // join finds every near-dup without an all-pairs comparison. At the
  // production geometry (4×32 over the full 128-bit md5/dHashN) the
  // uniform-hash candidate rate drops by 2^16, making candidates ∝ n
  // at corpus scale — measured in BASELINE.md round 6. The
  // query reports each candidate pair's exact hamming distance plus
  // the near-dup verdict; the DuckDB oracle replays it naively
  // all-pairs, which is identical by the pigeonhole bound. ORACLE
  // INVARIANT: the oracle replays the md5-stub arm for every row, so
  // parity requires that no document's UTF-8 bytes decode via
  // readGuarded — asserted over the gated corpora by PHashSpec
  // ("no documents-corpus payload decodes as an image"). Payload
  // bytes never shuffle — only (doc_id, 4×int) band rows do, and each
  // band's equi join hashes on (band_idx, band_val), the same bucketed
  // shape as the SimHash/MinHash suites.
  private val phashNearDup = Q(
    "mm_phash_neardup",
    (s, d) => {
      import s.implicits._
      // geometry scales with the corpus (metadata-only count); the
      // oracle CTE derives the SAME bits from count(*), so the replay
      // holds at any n; knobs keep the 4×16 default (test-only forks)
      val (nb, wb) = Multimodal.phashGeometry(Tables.documents(s, d).count())
      // narrow projection BEFORE the opaque mapPartitions so the scan
      // prunes to (doc_id, text) — typed MediaRow would drag `source`
      // through the codec stage for nothing
      val bandNames = (0 until nb).map(i => s"b$i")
      val bands = Tables.documents(s, d)
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, payload) =>
            (id, Multimodal.pHashBandValues(payload, nb, wb).toSeq)
          }
        }
        .toDF("doc_id", "bvals")
        .select($"doc_id" +: (0 until nb).map(i => $"bvals"(i).as(s"b$i")): _*)
      val exploded = bands.select(
        ($"doc_id" +: bandNames.map(col)) :+
          posexplode(array(bandNames.map(col): _*))
            .as(Seq("band_idx", "band_val")): _*,
      )
      val left = exploded.select(
        ($"doc_id".as("doc1") +:
          (0 until nb).map(i => col(s"b$i").as(s"a$i"))) :+
          $"band_idx" :+ $"band_val": _*)
      val right = exploded.select(
        ($"doc_id".as("doc2") +:
          (0 until nb).map(i => col(s"b$i").as(s"c$i"))) :+
          $"band_idx" :+ $"band_val": _*)
      left.join(right, Seq("band_idx", "band_val"))
        .filter($"doc1" < $"doc2")
        .select($"doc1", $"doc2",
          (0 until nb).map(i => expr(s"bit_count(a$i ^ c$i)"))
            .reduce(_ + _).cast("int").as("hamming"))
        .distinct()
        .select($"doc1", $"doc2", $"hamming",
          ($"hamming" <= 3).as("is_near_dup"))
        .orderBy($"doc1", $"doc2")
    },
    Some(s"""WITH ${Multimodal.phashOracleBandsCte}
           |SELECT doc1, doc2, hamming, hamming <= 3 AS is_near_dup
           |FROM (
           |  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           |         CAST(bit_count(xor(a.b0, b.b0)) +
           |              bit_count(xor(a.b1, b.b1)) +
           |              bit_count(xor(a.b2, b.b2)) +
           |              bit_count(xor(a.b3, b.b3)) AS INT) AS hamming,
           |         (a.b0 = b.b0 OR a.b1 = b.b1 OR
           |          a.b2 = b.b2 OR a.b3 = b.b3) AS shares_band
           |  FROM h a JOIN h b ON a.doc_id < b.doc_id)
           |WHERE shares_band
           |ORDER BY doc1, doc2""".stripMargin),
  )

  // AUDIO framing + energy + silence detection — the audio member of
  // the decode family (image decode/resize, video frame-sample, image
  // pHash are above): payload bytes as unsigned 8-bit PCM, 100-sample
  // frames, exact integer energy Σ|s − 100| per frame, silence when
  // the frame's MEAN deviation is below 15 (energy < n·15 — the VAD
  // primitive an audio pipeline segments on). The parse is a real
  // per-partition byte loop behind the same narrow projection as the
  // image decode; the text-backed payloads are pure ASCII, so the
  // oracle replays each byte as ascii(substr(text, i, 1)) and the
  // energies hash-gate exactly. Scale: frames ∝ corpus bytes, no
  // shuffle before the presentation sort.
  /** The audio framing + energy oracle CTEs (byte frames → per-frame
    * integer energy), shared verbatim by mm_audio_energy and the
    * silence segmenter so the VAD primitive can never fork. Declared
    * before both entries — object vals initialize in source order.
    */
  private val audioEnergyCtes = """b AS (
    |  SELECT doc_id, text, length(text) AS n FROM documents),
    |frames AS (
    |  SELECT doc_id, text, n,
    |         CAST(unnest(range(0, (n + 99) // 100)) AS INT) AS frame
    |  FROM b),
    |samples AS (
    |  SELECT doc_id, frame,
    |         CAST(unnest(range(frame * 100 + 1,
    |                           least(frame * 100 + 100, n) + 1)) AS INT) AS i,
    |         text
    |  FROM frames),
    |e AS (
    |  SELECT doc_id, frame, CAST(count(*) AS INT) AS n_samples,
    |         CAST(sum(abs(ascii(substr(text, i, 1)) - 100)) AS BIGINT)
    |           AS energy
    |  FROM samples GROUP BY doc_id, frame)""".stripMargin

  private val audioEnergy = Q(
    "mm_audio_energy",
    (s, d) => {
      import s.implicits._
      Multimodal.audioFrames(Multimodal.asMedia(s, d))
        .toDF()
        .select($"doc_id", $"frame", $"n_samples", $"energy",
          when($"energy" < $"n_samples" * 15L, 1).otherwise(0).as("is_silence"))
        .orderBy($"doc_id", $"frame")
    },
    Some(s"""WITH $audioEnergyCtes
            |SELECT doc_id, frame, n_samples, energy,
            |       CASE WHEN energy < n_samples * 15 THEN 1 ELSE 0 END
            |         AS is_silence
            |FROM e
            |ORDER BY doc_id, frame""".stripMargin),
  )

  // SILENCE-RUN SEGMENTATION — the VAD step after mm_audio_energy's
  // per-frame flags: collapse consecutive same-flag frames into runs
  // (the gaps-and-islands device keyed inside each doc: group id =
  // frame − row_number over (doc, flag)), then report per clip how
  // fragmented it is and how much of it is silence. Composes the
  // gated energy table; the windows partition per doc over FRAME
  // rows (the sessionize-family per-key bound), and the output is
  // one row per clip. silence_ppm divides exactly; the longest run
  // is a max over runs.
  private val silenceSegments = Q(
    "mm_silence_segments",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val frames = audioEnergy.fn(s, d)
        .select($"doc_id", $"frame", $"is_silence")
      val grp = frames.withColumn("grp",
        $"frame" - row_number().over(
          Window.partitionBy($"doc_id", $"is_silence").orderBy($"frame")))
      val runs = grp.groupBy($"doc_id", $"is_silence", $"grp")
        .agg(count(lit(1)).as("len"))
      runs.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_segments"),
          sum(when($"is_silence" === 1, 1L).otherwise(0L))
            .as("n_silence_segments"),
          coalesce(max(when($"is_silence" === 1, $"len")), lit(0L))
            .as("longest_silence"),
          sum(when($"is_silence" === 1, $"len").otherwise(0L))
            .as("sil_frames"),
          sum($"len").as("tot_frames"))
        .select($"doc_id", $"n_segments", $"n_silence_segments",
          $"longest_silence",
          expr("(sil_frames * 1000000) div tot_frames").as("silence_ppm"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH $audioEnergyCtes,
            |sg_f AS (
            |  SELECT doc_id, frame,
            |         CASE WHEN energy < n_samples * 15 THEN 1 ELSE 0 END
            |           AS is_silence
            |  FROM e),
            |sg_g AS (
            |  SELECT doc_id, is_silence,
            |         frame - row_number() OVER (
            |           PARTITION BY doc_id, is_silence ORDER BY frame)
            |           AS grp
            |  FROM sg_f),
            |sg_r AS (
            |  SELECT doc_id, is_silence, grp,
            |         CAST(count(*) AS BIGINT) AS len
            |  FROM sg_g GROUP BY 1, 2, 3)
            |SELECT doc_id,
            |       CAST(count(*) AS BIGINT) AS n_segments,
            |       CAST(sum(CASE WHEN is_silence = 1 THEN 1 ELSE 0 END)
            |            AS BIGINT) AS n_silence_segments,
            |       CAST(coalesce(max(CASE WHEN is_silence = 1 THEN len END),
            |                     0) AS BIGINT) AS longest_silence,
            |       CAST((sum(CASE WHEN is_silence = 1 THEN len ELSE 0 END)
            |             * 1000000) // sum(len) AS BIGINT) AS silence_ppm
            |FROM sg_r GROUP BY doc_id
            |ORDER BY doc_id""".stripMargin),
  )

  // VIDEO scene-cut detection — the shot-segmentation primitive a
  // video pipeline runs before per-scene sampling/captioning: hash
  // every frame perceptually, compare CONSECUTIVE frames (lag window
  // per video, frame order), and emit a cut wherever the hamming
  // distance jumps. The deterministic fake decode models real shot
  // structure: frames share a per-scene 48-bit base hash (scenes are
  // 7 frames long, base = md5(doc:scene)) plus a 1-bit per-frame
  // perturbation, so within-scene consecutive distance is exactly 2
  // and across-scene distance is ~24 — the threshold (> 8) separates
  // them with deterministic, oracle-replayed margins. A real pHash
  // would slot into the same (doc_id, frame_idx, h) contract via the
  // decode family's mapPartitions arm.
  //
  // Scale shape: frames explode in-row (no shuffle), the lag window
  // shuffles once on doc_id — each partition holds whole videos, the
  // same per-key bound as every sessionize-family op; detection is a
  // codegen'd filter. Cuts ∝ scenes, frames never leave their task
  // except the presentation sort.
  /** Pre-threshold scene distances shared by mm_scene_cut and the
    * media-QA composition: per (doc, frame>0) the hamming distance of
    * consecutive frame hashes. */
  private[operators] def sceneDistances(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // Round-15 (guide §1.2 per-task work): the frame hash digests the
    // WHOLE document text once per frame, but its only frame-dependent
    // input is frame_idx div 7 — so the digest is computed once per
    // 7-frame BLOCK (explode blocks, md5 via the thread-local-digest
    // kernel, then explode the block's ≤ 7 frames), cutting full-text
    // md5 calls ~7× plus the conv/substring machinery. The per-frame
    // bit flip stays per frame; h values are bit-identical
    // (md5_prefix_long(12, ...) == CAST(conv(substring(md5(concat(...)),
    // 1, 12), 16, 10) AS BIGINT), the round-14 pinned device, and
    // frame_idx div 7 == blk for every frame of blk).
    Tables.documents(s, d)
      .select($"doc_id", $"text",
        (expr("CAST(conv(substring(md5(text), 7, 2), 16, 10) AS INT)") + 10)
          .as("n_frames"))
      .select($"doc_id", $"text", $"n_frames",
        explode(sequence(lit(0L), expr("(n_frames - 1) div 7"))).as("blk"))
      .select($"doc_id", $"n_frames", $"blk",
        graft.functions.exprs.md5_prefix_long(12,
          $"text", lit(":"), $"blk".cast("string")).as("bh"))
      .select($"doc_id", $"bh",
        explode(sequence($"blk" * 7,
          least($"blk" * 7 + 6, $"n_frames".cast("long") - 1))).as("frame_idx"))
      .select($"doc_id", $"frame_idx".cast("int").as("frame_idx"),
        expr("bh ^ shiftleft(CAST(1 AS BIGINT), frame_idx % 16)").as("h"))
      .withColumn("prev_h",
        lag($"h", 1).over(Window.partitionBy($"doc_id").orderBy($"frame_idx")))
      .filter($"prev_h".isNotNull)
      .select($"doc_id", $"frame_idx", ($"frame_idx" * 40L).as("ts_ms"),
        expr("CAST(bit_count(h ^ prev_h) AS INT)").as("hamming"))
  }

  private val sceneCut = Q(
    "mm_scene_cut",
    (s, d) => {
      import s.implicits._
      sceneDistances(s, d)
        .filter($"hamming" > 8)
        .orderBy($"doc_id", $"frame_idx")
    },
    Some("""WITH sc_f AS (
      |  SELECT doc_id, text,
      |         CAST('0x' || substr(md5(text), 7, 2) AS INT) + 10 AS n_frames
      |  FROM documents),
      |sc_h AS (
      |  SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
      |         xor(CAST('0x' || substr(md5(text || ':' ||
      |                 CAST(frame_idx // 7 AS VARCHAR)), 1, 12) AS BIGINT),
      |             CAST(1 AS BIGINT) << CAST(frame_idx % 16 AS INT)) AS h
      |  FROM sc_f,
      |       LATERAL (SELECT unnest(generate_series(0, n_frames - 1)) AS frame_idx)),
      |sc_d AS (
      |  SELECT doc_id, frame_idx,
      |         CAST(bit_count(xor(h, lag(h) OVER (
      |           PARTITION BY doc_id ORDER BY frame_idx))) AS INT) AS hamming
      |  FROM sc_h)
      |SELECT doc_id, frame_idx, CAST(frame_idx AS BIGINT) * 40 AS ts_ms, hamming
      |FROM sc_d WHERE hamming > 8
      |ORDER BY doc_id, frame_idx""".stripMargin),
  )

  // ViT-style PATCHIFY — the patch-embedding input prep every vision
  // transformer runs: the payload as a row-major 16-wide raster of
  // unsigned bytes, 4×4 patches, exact integer intensity sum / count /
  // centi-mean per patch (edge patches clip, so the counts prove the
  // tiling partitions the bytes exactly). Real per-partition byte loop
  // behind the decode family's narrow projection; the ASCII payloads
  // make every patch stat SQL-replayable byte by byte. Scale: output
  // ∝ corpus bytes / 16, no shuffle before the presentation sort —
  // the same cost class as the audio framer above.
  private val patchGrid16 = Q(
    "mm_patch_grid",
    (s, d) => {
      import s.implicits._
      Multimodal.patchGrid(Multimodal.asMedia(s, d))
        .toDF()
        .orderBy($"doc_id", $"prow", $"pcol")
    },
    Some("""WITH px AS (
           |  SELECT doc_id,
           |         CAST(unnest(range(1, length(text) + 1)) AS INT) AS i,
           |         text
           |  FROM documents WHERE length(text) > 0),
           |p AS (
           |  SELECT doc_id,
           |         CAST(((i - 1) // 16) // 4 AS INT) AS prow,
           |         CAST(((i - 1) % 16) // 4 AS INT) AS pcol,
           |         CAST(count(*) AS INT) AS n_px,
           |         CAST(sum(ascii(substr(text, i, 1))) AS BIGINT) AS sum_i
           |  FROM px GROUP BY 1, 2, 3)
           |SELECT doc_id, prow, pcol, n_px, sum_i,
           |       100 * sum_i // n_px AS mean_centi
           |FROM p ORDER BY doc_id, prow, pcol""".stripMargin),
  )

  // MEDIA-QA COMPOSITION — the multimodal sibling of pipe_end_to_end /
  // pipe_training_data / pipe_data_selection: one quality row per
  // media asset assembling FOUR separately-gated stages (typed decode,
  // ViT patch stats, audio framing + silence, scene-cut count) on
  // doc_id-keyed equi joins. Every stage is the same code its own
  // catalogue entry gates ([[Multimodal.decode]], [[patchGrid]],
  // [[audioFrames]], [[sceneDistances]]), so the composition adds
  // only per-doc aggregation glue; all four legs partition on doc_id,
  // so the joins co-locate.
  private val mediaQa = Q(
    "pipe_media_qa",
    (s, d) => {
      import s.implicits._
      val media = Multimodal.asMedia(s, d)
      val dec = Multimodal.decode(media).toDF()
        .select($"doc_id", $"n_bytes", $"format", $"width", $"height")
      val patch = Multimodal.patchGrid(media).toDF()
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_patches"),
          sum($"sum_i").as("isum"), sum($"n_px").cast("long").as("npx"))
        .select($"doc_id", $"n_patches",
          expr("100 * isum div npx").as("mean_centi"))
      val audio = Multimodal.audioFrames(media).toDF()
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_audio_frames"),
          sum(when($"energy" < $"n_samples" * 15L, 1L).otherwise(0L))
            .as("n_silent"))
      val scene = sceneDistances(s, d)
        .groupBy($"doc_id")
        .agg((count(lit(1)) + 1).as("n_video_frames"),
          sum(when($"hamming" > 8, 1L).otherwise(0L)).as("n_cuts"))
      dec.join(patch, "doc_id").join(audio, "doc_id").join(scene, "doc_id")
        .orderBy($"doc_id")
    },
    Some("""WITH mq_h AS (
      |  SELECT doc_id, text,
      |         CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |         md5(text) AS m
      |  FROM documents),
      |mq_dec AS (
      |  SELECT doc_id, n_bytes,
      |         CASE WHEN CAST('0x' || substr(m, 1, 2) AS INT) < 86 THEN 'png'
      |              WHEN CAST('0x' || substr(m, 1, 2) AS INT) < 171 THEN 'jpeg'
      |              ELSE 'webp' END AS format,
      |         64 + CAST('0x' || substr(m, 3, 2) AS INT) AS width,
      |         64 + CAST('0x' || substr(m, 5, 2) AS INT) AS height
      |  FROM mq_h),
      |mq_px AS (
      |  SELECT doc_id, CAST(unnest(range(1, length(text) + 1)) AS INT) AS i,
      |         text
      |  FROM documents WHERE length(text) > 0),
      |mq_pt AS (
      |  SELECT doc_id, ((i - 1) // 16) // 4 AS prow, ((i - 1) % 16) // 4 AS pcol,
      |         CAST(count(*) AS BIGINT) AS n_px,
      |         CAST(sum(ascii(substr(text, i, 1))) AS BIGINT) AS sum_i
      |  FROM mq_px GROUP BY 1, 2, 3),
      |mq_patch AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_patches,
      |         100 * CAST(sum(sum_i) AS BIGINT) // CAST(sum(n_px) AS BIGINT)
      |           AS mean_centi
      |  FROM mq_pt GROUP BY doc_id),
      |mq_fr AS (
      |  SELECT doc_id,
      |         CAST(unnest(range(0, (length(text) + 99) // 100)) AS INT) AS frame,
      |         text, length(text) AS n
      |  FROM documents),
      |mq_sm AS (
      |  SELECT doc_id, frame,
      |         CAST(unnest(range(frame * 100 + 1,
      |                           least(frame * 100 + 100, n) + 1)) AS INT) AS i,
      |         text
      |  FROM mq_fr),
      |mq_au AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_audio_frames,
      |         CAST(sum(CASE WHEN energy < n_samples * 15 THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_silent
      |  FROM (SELECT doc_id, frame, CAST(count(*) AS INT) AS n_samples,
      |               CAST(sum(abs(ascii(substr(text, i, 1)) - 100)) AS BIGINT)
      |                 AS energy
      |        FROM mq_sm GROUP BY doc_id, frame)
      |  GROUP BY doc_id),
      |mq_sf AS (
      |  SELECT doc_id, text,
      |         CAST('0x' || substr(md5(text), 7, 2) AS INT) + 10 AS n_frames
      |  FROM documents),
      |mq_sh AS (
      |  SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
      |         xor(CAST('0x' || substr(md5(text || ':' ||
      |                 CAST(frame_idx // 7 AS VARCHAR)), 1, 12) AS BIGINT),
      |             CAST(1 AS BIGINT) << CAST(frame_idx % 16 AS INT)) AS h
      |  FROM mq_sf,
      |       LATERAL (SELECT unnest(generate_series(0, n_frames - 1)) AS frame_idx)),
      |mq_sc AS (
      |  SELECT doc_id, CAST(count(*) + 1 AS BIGINT) AS n_video_frames,
      |         CAST(sum(CASE WHEN hamming > 8 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_cuts
      |  FROM (SELECT doc_id,
      |               CAST(bit_count(xor(h, lag(h) OVER (
      |                 PARTITION BY doc_id ORDER BY frame_idx))) AS INT)
      |                 AS hamming
      |        FROM mq_sh)
      |  WHERE hamming IS NOT NULL
      |  GROUP BY doc_id)
      |SELECT d.doc_id, d.n_bytes, d.format, d.width, d.height,
      |       p.n_patches, p.mean_centi,
      |       a.n_audio_frames, a.n_silent,
      |       s.n_video_frames, s.n_cuts
      |FROM mq_dec d
      |JOIN mq_patch p USING (doc_id)
      |JOIN mq_au a USING (doc_id)
      |JOIN mq_sc s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin),
  )

  // AUDIO FINGERPRINT MATCHING (Wang ISMIR'03, the Shazam scheme —
  // the audio twin of pHash near-dup): salient PEAKS (frames whose
  // energy strictly exceeds both neighbours) pair up within a
  // 5-frame fan-out window, each pair hashed as (coarse energy
  // bucket₁, bucket₂, Δframe) → md5 — the time-offset-invariant
  // landmark hash; two assets sharing ≥1 landmark are match
  // candidates ranked by shared-landmark count. Same df-cap defense
  // as the posting-list entries: a landmark appearing in > 64 docs
  // is a stop-fingerprint and is pruned before the pair join, so the
  // join fan-in is bounded per key. Peaks/pairs come from per-doc
  // windows bounded by frames-per-asset; the only corpus-sized
  // exchanges are the fingerprint-keyed agg and the capped
  // candidate join — the LSH-bucket shape.
  private val audioFingerprint = Q(
    "mm_audio_fingerprint",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"doc_id").orderBy($"frame")
      val peaks = Multimodal.audioFrames(Multimodal.asMedia(s, d)).toDF()
        .withColumn("pe", lag($"energy", 1).over(w))
        .withColumn("ne", lead($"energy", 1).over(w))
        .filter($"energy" > $"pe" && $"energy" > $"ne")
        .select($"doc_id", $"frame", expr("energy div 100").as("eb"))
      val fps = peaks.as("p1")
        .join(peaks.as("p2"),
          $"p1.doc_id" === $"p2.doc_id" &&
            $"p2.frame" - $"p1.frame" >= 1 && $"p2.frame" - $"p1.frame" <= 5)
        .select($"p1.doc_id".as("doc_id"),
          md5(concat_ws(":", $"p1.eb", $"p2.eb",
            ($"p2.frame" - $"p1.frame").cast("string"))).as("fp"))
        .distinct()
        .localCheckpoint() // feeds the df cap and both join legs
      val keptFp = fps.groupBy($"fp").agg(count(lit(1)).as("df"))
        .filter($"df" <= 64).select($"fp")
      val capped = fps.join(keptFp, "fp")
      capped.select($"fp", $"doc_id".as("doc_a"))
        .join(capped.select($"fp".as("fp2"), $"doc_id".as("doc_b")),
          $"fp" === $"fp2" && $"doc_a" < $"doc_b")
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_shared"))
        .orderBy($"n_shared".desc, $"doc_a", $"doc_b")
        .limit(20)
    },
    Some("""WITH af_b AS (
           |  SELECT doc_id, text, length(text) AS n FROM documents),
           |af_frames AS (
           |  SELECT doc_id, text, n,
           |         CAST(unnest(range(0, (n + 99) // 100)) AS INT) AS frame
           |  FROM af_b),
           |af_samples AS (
           |  SELECT doc_id, frame,
           |         CAST(unnest(range(frame * 100 + 1,
           |                           least(frame * 100 + 100, n) + 1)) AS INT) AS i,
           |         text
           |  FROM af_frames),
           |af_e AS (
           |  SELECT doc_id, frame,
           |         CAST(sum(abs(ascii(substr(text, i, 1)) - 100)) AS BIGINT)
           |           AS energy
           |  FROM af_samples GROUP BY doc_id, frame),
           |af_peaks AS (
           |  SELECT doc_id, frame, energy // 100 AS eb FROM (
           |    SELECT *, lag(energy) OVER w AS pe, lead(energy) OVER w AS ne
           |    FROM af_e
           |    WINDOW w AS (PARTITION BY doc_id ORDER BY frame))
           |  WHERE energy > pe AND energy > ne),
           |af_fp AS (
           |  SELECT DISTINCT p1.doc_id,
           |         md5(p1.eb || ':' || p2.eb || ':' || (p2.frame - p1.frame))
           |           AS fp
           |  FROM af_peaks p1 JOIN af_peaks p2
           |    ON p2.doc_id = p1.doc_id
           |   AND p2.frame - p1.frame BETWEEN 1 AND 5),
           |af_kept AS (
           |  SELECT fp FROM af_fp GROUP BY fp HAVING count(*) <= 64),
           |af_c AS (SELECT f.* FROM af_fp f JOIN af_kept k USING (fp))
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |       CAST(count(*) AS BIGINT) AS n_shared
           |FROM af_c a JOIN af_c b ON b.fp = a.fp AND a.doc_id < b.doc_id
           |GROUP BY 1, 2
           |ORDER BY n_shared DESC, doc_a, doc_b
           |LIMIT 20""".stripMargin),
  )

  // pHASH HAMMING-DISTANCE HISTOGRAM — the threshold-tuning curve for
  // mm_phash_neardup's `hamming <= 3` cutoff (the mm sibling of
  // td_threshold_sweep): how many banded candidate pairs sit at each
  // distance, with the cumulative count a near-dup rollout at cutoff
  // h would fire on. Composes the (separately gated) banded pair
  // table — no re-hash, no new pair generation — then rolls up into
  // a ≤ 65-row histogram with one tiny cumulative window. Candidate
  // volume scales exactly as the neardup entry's measured band law;
  // the histogram itself is constant-size at any corpus. The oracle
  // derives the SAME adaptive band geometry from count(*)
  // (Multimodal.phashOracleBandsCte — round-9: the former ≤100k-doc
  // 4×16 hard-coding is gone), so the replay holds at any corpus
  // size; only explicit SPARK_GRAFT_PHASH_* knobs fork the surfaces.
  private val phashHammingHist = Q(
    "mm_phash_hamming_hist",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val pairs = phashNearDup.fn(s, d).select($"hamming")
      val w = Window.orderBy($"hamming")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pairs.groupBy($"hamming").agg(count(lit(1)).as("n_pairs"))
        .withColumn("cum_pairs", sum($"n_pairs").over(w))
        .select($"hamming", $"n_pairs", $"cum_pairs")
        .orderBy($"hamming")
    },
    Some(s"""WITH ${Multimodal.phashOracleBandsCte},
           |ph_p AS (
           |  SELECT CAST(bit_count(xor(a.b0, b.b0)) +
           |              bit_count(xor(a.b1, b.b1)) +
           |              bit_count(xor(a.b2, b.b2)) +
           |              bit_count(xor(a.b3, b.b3)) AS INT) AS hamming
           |  FROM h a JOIN h b ON a.doc_id < b.doc_id
           |  WHERE a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2
           |     OR a.b3 = b.b3),
           |ph_h AS (SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
           |         FROM ph_p GROUP BY 1)
           |SELECT hamming, n_pairs,
           |       CAST(sum(n_pairs) OVER (ORDER BY hamming
           |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pairs
           |FROM ph_h ORDER BY hamming""".stripMargin),
  )

  // IMAGE NEAR-DUP CLUSTERS + CANONICAL PICK — the multimodal dual of
  // td_dedup_clusters/td_cluster_canonical: connected components over
  // the pHash near-dup pairs (banded candidates, hamming ≤ 3), then
  // one row per cluster with the kept canonical (min doc — the
  // cluster representative the CC labels already carry) and the byte
  // mass kept vs total — the image-dedup savings line a media
  // pipeline reports. CC is the same bounded pointer-jumping
  // label-propagation routine as the text path
  // (DedupQueries.components); only docs in ≥ 1 near-dup pair
  // enter, mirroring the text clusters' contract.
  // The oracle derives the adaptive band geometry from count(*)
  // (Multimodal.phashOracleBandsCte), matching mm_phash_neardup — the
  // round-7/8 ≤100k-doc 4×16 hard-coding caveat is closed.
  private val phashClusters = Q(
    "mm_phash_clusters",
    (s, d) => {
      import s.implicits._
      val labels = DedupQueries.components(phashNearDup.fn(s, d)
        .filter($"is_near_dup")
        .select($"doc1", $"doc2")
        .localCheckpoint(), "mm_phash_clusters")
      val chars = Tables.documents(s, d).select($"doc_id", $"n_chars")
      labels
        .join(chars, labels("node") === chars("doc_id"))
        .groupBy($"label".as("cluster_rep"))
        .agg(
          count(lit(1)).as("n_members"),
          sum($"n_chars").as("chars_total"),
          max(when($"node" === $"label", $"n_chars")).as("chars_kept"))
        .orderBy($"cluster_rep")
    },
    Some(s"""WITH RECURSIVE ${Multimodal.phashOracleBandsCte},
           |candidates AS (
           |  SELECT doc1, doc2 FROM (
           |    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           |           CAST(bit_count(xor(a.b0, b.b0)) +
           |                bit_count(xor(a.b1, b.b1)) +
           |                bit_count(xor(a.b2, b.b2)) +
           |                bit_count(xor(a.b3, b.b3)) AS INT) AS hamming,
           |           (a.b0 = b.b0 OR a.b1 = b.b1 OR
           |            a.b2 = b.b2 OR a.b3 = b.b3) AS shares_band
           |    FROM h a JOIN h b ON a.doc_id < b.doc_id)
           |  WHERE shares_band AND hamming <= 3),
           |sym AS (
           |  SELECT doc1, doc2 FROM candidates
           |  UNION
           |  SELECT doc2, doc1 FROM candidates),
           |nodes AS (SELECT DISTINCT doc1 AS node FROM sym),
           |reach(src, dst) AS (
           |  SELECT node, node FROM nodes
           |  UNION
           |  SELECT r.src, e.doc2 FROM reach r JOIN sym e ON e.doc1 = r.dst),
           |clusters AS (
           |  SELECT src AS doc_id, min(dst) AS cluster_rep
           |  FROM reach GROUP BY src)
           |SELECT c.cluster_rep,
           |       CAST(count(*) AS BIGINT) AS n_members,
           |       CAST(sum(d.n_chars) AS BIGINT) AS chars_total,
           |       CAST(max(CASE WHEN c.doc_id = c.cluster_rep
           |                     THEN d.n_chars END) AS BIGINT) AS chars_kept
           |FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
           |GROUP BY c.cluster_rep
           |ORDER BY c.cluster_rep""".stripMargin),
  )

  // CONSECUTIVE-FRAME DEDUP — the video-preprocessing staple: static
  // scenes repeat the same frame hash for many consecutive frames;
  // keep one frame per run (lag != current), report the kept/dropped
  // economics per video. Frame model: the md5-derived frame count of
  // mm_frame_sample, a per-video scene length (2-5 frames, md5
  // nibble), and frame hash = md5(doc-scene) so frames within a
  // scene collide exactly — the deterministic stub in place of a
  // real codec hash, same discipline as the pHash stub. The dedup
  // itself is REAL run-length logic: one (doc)-partitioned lag
  // window over frame order, per-video bounded like the sessionize
  // family. Scale: frames ∝ corpus, one window, one per-doc agg.
  private val frameDedup = Q(
    "mm_frame_dedup",
    (s, d) => {
      import s.implicits._
      val frames = Tables.documents(s, d)
        .select($"doc_id", $"text",
          (expr("CAST(conv(substring(md5(text), 7, 2), 16, 10) AS INT)") + 10)
            .as("n_frames"),
          (expr("CAST(conv(substring(md5(text), 9, 1), 16, 10) AS INT)") % 4 + 2)
            .as("scene_len"))
        .select($"doc_id", $"text", $"n_frames", $"scene_len",
          posexplode(sequence(lit(0), $"n_frames" - 1)).as(Seq("i", "frame_idx")))
        .select($"doc_id", $"n_frames", $"frame_idx",
          md5(concat($"text", lit("-"),
            expr("CAST(frame_idx div scene_len AS INT)").cast("string")))
            .as("fh"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"frame_idx")
      frames
        .withColumn("prev_fh", lag($"fh", 1).over(w))
        .withColumn("keep",
          when($"prev_fh".isNull || $"fh" =!= $"prev_fh", 1L).otherwise(0L))
        .groupBy($"doc_id")
        .agg(max($"n_frames").cast("long").as("n_frames"),
          sum($"keep").as("n_kept"),
          (max($"n_frames") - sum($"keep")).cast("long").as("n_dropped"))
        .orderBy($"doc_id")
    },
    Some("""WITH fd_d AS (
           |  SELECT doc_id, text,
           |         CAST('0x' || substr(md5(text), 7, 2) AS INT) + 10 AS n_frames,
           |         CAST('0x' || substr(md5(text), 9, 1) AS INT) % 4 + 2 AS scene_len
           |  FROM documents),
           |fd_f AS (
           |  SELECT doc_id, n_frames, frame_idx,
           |         md5(text || '-' || CAST(CAST(frame_idx // scene_len AS INT)
           |             AS VARCHAR)) AS fh
           |  FROM fd_d, LATERAL (SELECT unnest(range(0, n_frames)) AS frame_idx)),
           |fd_k AS (
           |  SELECT doc_id, n_frames,
           |         CASE WHEN lag(fh) OVER (PARTITION BY doc_id
           |                                 ORDER BY frame_idx) IS DISTINCT FROM fh
           |              THEN 1 ELSE 0 END AS keep
           |  FROM fd_f)
           |SELECT doc_id,
           |       CAST(max(n_frames) AS BIGINT) AS n_frames,
           |       CAST(sum(keep) AS BIGINT) AS n_kept,
           |       CAST(max(n_frames) - sum(keep) AS BIGINT) AS n_dropped
           |FROM fd_k
           |GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin),
  )

  def all: Seq[Q] =
    Seq(metadata, decode, resize, frameSample, phashNearDup, audioEnergy,
      sceneCut, patchGrid16, mediaQa, audioFingerprint, phashHammingHist,
      silenceSegments, phashClusters, frameDedup)
}
