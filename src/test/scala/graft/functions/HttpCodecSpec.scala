package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Kernel vectors for the HTTP payload codecs (chunked
  * transfer-encoding + gzip content-encoding): round-trip fuzz over
  * adversarial byte shapes, interop with java.util.zip's own streams,
  * RFC tolerances (hex case, chunk extensions, trailers), and loud
  * aborts on framing violations.
  */
class HttpCodecSpec extends AnyFunSuite {

  private def fuzzBytes(seed: Long, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var s = seed
    for (i <- 0 until n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      out(i) = (s >>> 56).toByte
    }
    out
  }

  test("chunked encode/decode round-trips adversarial bodies") {
    // empty body, sub-chunk, exact-chunk, many-chunk, and bodies
    // containing CRLF / hex-digit lines that must not confuse framing
    val bodies = Seq(
      Array.emptyByteArray,
      "a".getBytes("UTF-8"),
      fuzzBytes(1, 256),
      fuzzBytes(2, 257),
      fuzzBytes(3, 100000),
      "1f\r\nnot a chunk\r\n0\r\n\r\n".getBytes("UTF-8"),
    )
    for ((b, i) <- bodies.zipWithIndex; cs <- Seq(1, 7, 256, 1 << 20)) {
      val enc = HttpCodec.chunkedEncode(b, cs)
      assert(HttpCodec.chunkedDecode(enc).sameElements(b),
        s"round-trip failed for body $i at chunkSize $cs")
    }
  }

  test("chunked decode tolerates hex case, extensions, and trailers") {
    val body =
      ("A;ext=1\r\n0123456789\r\n" + // uppercase hex + extension
        "3\r\nabc\r\n" +
        "0\r\nX-Trailer: v\r\n\r\n").getBytes("UTF-8") // trailer section
    assert(new String(HttpCodec.chunkedDecode(body), "UTF-8") ==
      "0123456789abc")
  }

  test("chunked decode aborts loudly on framing violations") {
    val bad = Seq(
      "5\r\nab\r\n0\r\n\r\n", // chunk overruns remaining bytes? no: len lies
      "3\r\nabcXY0\r\n\r\n", // missing CRLF after chunk data
      "zz\r\nab\r\n0\r\n\r\n", // non-hex size line
      "3\r\nabc\r\n", // no terminal chunk
      "3\r\nabc\r\n0\r\n\r\nEXTRA", // bytes after the terminal chunk
    )
    for (b <- bad)
      assertThrows[Exception](HttpCodec.chunkedDecode(b.getBytes("UTF-8")))
  }

  test("gzip compress/decompress round-trips and is deterministic") {
    val bodies = Seq(
      Array.emptyByteArray, "hello".getBytes("UTF-8"),
      fuzzBytes(4, 1), fuzzBytes(5, 65536), fuzzBytes(6, 200000))
    for ((b, i) <- bodies.zipWithIndex) {
      val gz = HttpCodec.gzipCompress(b)
      assert(HttpCodec.gzipDecompress(gz).sameElements(b), s"round-trip $i")
      assert(gz.sameElements(HttpCodec.gzipCompress(b)),
        s"gzipCompress must be deterministic (no timestamps), body $i")
    }
  }

  test("gzip decompress interops with java.util.zip.GZIPOutputStream") {
    val b = fuzzBytes(7, 12345)
    val bos = new java.io.ByteArrayOutputStream
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    assert(HttpCodec.gzipDecompress(bos.toByteArray).sameElements(b))
    // and the reverse: our member parses through GZIPInputStream
    val back = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(HttpCodec.gzipCompress(b)))
    assert(back.readAllBytes().sameElements(b))
  }

  test("gzip decompress aborts on corruption and trailing bytes") {
    val ok = HttpCodec.gzipCompress(fuzzBytes(8, 1000))
    val flipped = ok.clone(); flipped(20) = (flipped(20) ^ 0x7).toByte
    assertThrows[Exception](HttpCodec.gzipDecompress(flipped))
    assertThrows[Exception](
      HttpCodec.gzipDecompress(ok ++ Array[Byte](1, 2, 3)))
    assertThrows[Exception](
      HttpCodec.gzipDecompress("not gzip".getBytes("UTF-8")))
  }

  test("deflate: zlib + raw both round-trip through the sniffing decoder") {
    val bodies = Seq(
      "x".getBytes("UTF-8"), fuzzBytes(9, 3000), fuzzBytes(10, 100000))
    for ((b, i) <- bodies.zipWithIndex) {
      val z = HttpCodec.deflateCompress(b)
      val r = HttpCodec.deflateCompressRaw(b)
      // the two wire shapes differ (that IS the server bug) but both
      // decode through the one sniffing entry point
      assert(!z.sameElements(r), s"zlib and raw must differ, body $i")
      assert(HttpCodec.deflateDecompress(z).sameElements(b), s"zlib rt $i")
      assert(HttpCodec.deflateDecompress(r).sameElements(b), s"raw rt $i")
      assert(z.sameElements(HttpCodec.deflateCompress(b)),
        s"deflateCompress must be deterministic, body $i")
    }
    // interop: java's own zlib wrapper (DeflaterOutputStream default)
    val b = fuzzBytes(11, 12345)
    val bos = new java.io.ByteArrayOutputStream
    val d = new java.util.zip.DeflaterOutputStream(bos)
    d.write(b); d.close()
    assert(HttpCodec.deflateDecompress(bos.toByteArray).sameElements(b))
  }

  test("deflate decompress aborts on corruption, truncation, trailing bytes") {
    val ok = HttpCodec.deflateCompress(fuzzBytes(12, 1000))
    val flipped = ok.clone(); flipped(10) = (flipped(10) ^ 0x55).toByte
    assertThrows[Exception](HttpCodec.deflateDecompress(flipped))
    assertThrows[Exception](
      HttpCodec.deflateDecompress(ok.take(ok.length / 2)))
    assertThrows[Exception](
      HttpCodec.deflateDecompress(ok ++ Array[Byte](9, 9, 9)))
    assertThrows[Exception](
      HttpCodec.deflateDecompress(Array.emptyByteArray))
  }

  test("codegen expressions evaluate the kernels inside a plan") {
    val spark = graft.TestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, encode, decode}
    import graft.functions.exprs._
    val df = Seq("plain ascii", "with § marker", "").toDF("t")
      .withColumn("b", encode(col("t"), "UTF-8"))
      .withColumn("rt1",
        decode(chunked_decode(chunked_encode(col("b"), 5)), "UTF-8"))
      .withColumn("rt2", decode(gzip_decompress(gzip_compress(col("b"))), "UTF-8"))
    val rows = df.collect()
    for (r <- rows) {
      assert(r.getAs[String]("rt1") == r.getAs[String]("t"))
      assert(r.getAs[String]("rt2") == r.getAs[String]("t"))
    }
  }
}
