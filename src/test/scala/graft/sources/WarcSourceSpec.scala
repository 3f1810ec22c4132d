package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.WarcDataSource

/** Gates for the WARC sink/source pair: byte-exact golden parse,
  * Content-Length framing (payloads full of CRLFCRLF and fake
  * headers), multi-split planning parity, payload pruning reaching
  * the read schema, loud malformed-record aborts, and the full
  * corpus round-trip against `documents` at sf0.001.
  */
class WarcSourceSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def record(
      uri: String, payload: Array[Byte],
      wtype: String = "response", extra: Seq[String] = Nil): Array[Byte] = {
    val head = (Seq(
      "WARC/1.0",
      s"WARC-Type: $wtype",
      s"WARC-Record-ID: <urn:test:$uri>",
      "WARC-Date: 2020-01-01T00:00:00Z",
      s"WARC-Target-URI: $uri",
      "Content-Type: text/plain",
      s"Content-Length: ${payload.length}") ++ extra)
      .mkString("", "\r\n", "\r\n\r\n")
      .getBytes(StandardCharsets.UTF_8)
    head ++ payload ++ "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
  }

  private def writeFixture(recs: Array[Byte]*): Path = {
    val dir = Files.createTempDirectory("warc-spec")
    Files.write(dir.resolve("f.warc"), recs.flatten.toArray)
    dir
  }

  test("golden parse: fields, record_index, payload bytes") {
    val dir = writeFixture(
      record("http://a.example/1", "hello".getBytes(StandardCharsets.UTF_8)),
      record("http://a.example/2", Array[Byte](0, 1, 2, 3), wtype = "metadata"))
    try {
      val rows = spark.read.format("warc").load(dir.toString)
        .orderBy("record_index").collect()
      assert(rows.length == 2)
      val r0 = rows(0)
      assert(r0.getAs[Long]("record_index") == 0L)
      assert(r0.getAs[String]("warc_type") == "response")
      assert(r0.getAs[String]("record_id") == "urn:test:http://a.example/1")
      assert(r0.getAs[String]("target_uri") == "http://a.example/1")
      assert(r0.getAs[String]("warc_date") == "2020-01-01T00:00:00Z")
      assert(r0.getAs[String]("content_type") == "text/plain")
      assert(r0.getAs[Long]("content_length") == 5L)
      assert(new String(r0.getAs[Array[Byte]]("payload"),
        StandardCharsets.UTF_8) == "hello")
      assert(rows(1).getAs[String]("warc_type") == "metadata")
      assert(rows(1).getAs[Array[Byte]]("payload").toSeq ==
        Seq[Byte](0, 1, 2, 3))
    } finally rm(dir)
  }

  test("revisit records: mixed types parse, refers_to round-trips") {
    val dir = writeFixture(
      record("http://a.example/1", "hello".getBytes(StandardCharsets.UTF_8)),
      record("http://a.example/1", Array.emptyByteArray, wtype = "revisit",
        extra = Seq(
          "WARC-Refers-To: <urn:test:http://a.example/1>",
          "WARC-Profile: http://netpreserve.org/warc/1.0/revisit/" +
            "identical-payload-digest")))
    try {
      val rows = spark.read.format("warc").load(dir.toString)
        .orderBy("record_index").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[String]("warc_type") == "response")
      assert(rows(0).getAs[String]("refers_to") == null,
        "a response record carries no WARC-Refers-To")
      val rv = rows(1)
      assert(rv.getAs[String]("warc_type") == "revisit")
      assert(rv.getAs[String]("refers_to") == "urn:test:http://a.example/1",
        "refers_to must strip the <> like record_id")
      assert(rv.getAs[Long]("content_length") == 0L)
      assert(rv.getAs[Array[Byte]]("payload").isEmpty,
        "a revisit record has an empty payload")
      // the resolution join device: revisit.refers_to == response.record_id
      assert(rv.getAs[String]("refers_to") ==
        rows(0).getAs[String]("record_id"))
    } finally rm(dir)
  }

  test("request records: concurrent_to parses and pairs with the response") {
    val dir = writeFixture(
      record("http://a.example/1",
        "GET /1 HTTP/1.1\r\nHost: a.example\r\n\r\n"
          .getBytes(StandardCharsets.UTF_8),
        wtype = "request",
        extra = Seq("WARC-Concurrent-To: <urn:test:http://a.example/1>")),
      record("http://a.example/1", "hello".getBytes(StandardCharsets.UTF_8)))
    try {
      val rows = spark.read.format("warc").load(dir.toString)
        .orderBy("record_index").collect()
      val rq = rows(0)
      assert(rq.getAs[String]("warc_type") == "request")
      assert(rq.getAs[String]("concurrent_to") == "urn:test:http://a.example/1",
        "concurrent_to must strip the <> like record_id")
      assert(rows(1).getAs[String]("concurrent_to") == null,
        "a response record carries no WARC-Concurrent-To")
      // the pairing join device: request.concurrent_to == response.record_id
      assert(rq.getAs[String]("concurrent_to") ==
        rows(1).getAs[String]("record_id"))
    } finally rm(dir)
  }

  test("renderWithRevisits: first-seen dedup across a >2 duplicate group") {
    import spark.implicits._
    // three fetches of identical payload + one distinct, two sources —
    // the generic window path the %7 gate fixture (pairs only) misses
    val fetches = Seq(
      (10L, "srcA", "same text", 100L),
      (11L, "srcA", "same text", 101L),
      (12L, "srcA", "same text", 102L),
      (13L, "srcA", "other text", 103L),
      (14L, "srcB", "same text", 104L), // same text, OTHER source: own referent
    ).toDF("doc_id", "source", "text", "fetch_id")
    val dir = Files.createTempDirectory("warc-spec-rvw")
    try {
      Warc.writeRevisits(fetches, dir.toString + "/w")
      val rows = spark.read.format("warc").load(dir.toString + "/w")
        .selectExpr("warc_type", "record_id", "refers_to",
          "CAST(payload AS STRING) AS text", "content_length")
        .collect()
      val resp = rows.filter(_.getAs[String]("warc_type") == "response")
      val rv = rows.filter(_.getAs[String]("warc_type") == "revisit")
      assert(resp.length == 3 && rv.length == 2,
        s"want 3 responses (A:same, A:other, B:same) + 2 revisits, got " +
          s"${resp.length}/${rv.length}")
      // both revisits are srcA's later fetches and refer to fetch 100
      val md = java.security.MessageDigest.getInstance("MD5")
      def id(fid: Long) = "urn:md5:" + md.digest(s"warc:f:$fid".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      assert(rv.map(_.getAs[String]("refers_to")).toSet == Set(id(100L)),
        "every later duplicate must refer to the FIRST fetch's record")
      assert(rv.forall(_.getAs[Long]("content_length") == 0L))
      // srcB's identical text is NOT deduped across sources
      assert(resp.map(_.getAs[String]("record_id")).toSet ==
        Set(id(100L), id(103L), id(104L)))
      // referent resolution recovers the bytes
      assert(resp.filter(_.getAs[String]("record_id") == id(100L))
        .head.getAs[String]("text") == "same text")
    } finally rm(dir)
  }

  test("Content-Length framing survives adversarial payloads") {
    // payloads containing the record separator and header-looking
    // lines — a delimiter-scanning reader desynchronizes here
    val evil1 = "x\r\n\r\nWARC/1.0\r\nContent-Length: 9999\r\n\r\ny"
      .getBytes(StandardCharsets.UTF_8)
    val evil2 = "\r\n\r\n\r\n\r\n".getBytes(StandardCharsets.UTF_8)
    val dir = writeFixture(
      record("http://a.example/1", evil1),
      record("http://a.example/2", evil2),
      record("http://a.example/3", "tail".getBytes(StandardCharsets.UTF_8)))
    try {
      val rows = spark.read.format("warc").load(dir.toString)
        .orderBy("record_index").collect()
      assert(rows.map(_.getAs[String]("target_uri")).toSeq ==
        Seq("http://a.example/1", "http://a.example/2", "http://a.example/3"))
      assert(rows(0).getAs[Array[Byte]]("payload").toSeq == evil1.toSeq)
      assert(rows(1).getAs[Array[Byte]]("payload").toSeq == evil2.toSeq)
    } finally rm(dir)
  }

  test("multi-split planning: tiny chunkBytes, same rows, >1 partition") {
    val recs = (0 until 50).map(i => record(s"http://a.example/$i",
      ("payload-" * 20 + i).getBytes(StandardCharsets.UTF_8)))
    val dir = writeFixture(recs: _*)
    try {
      val whole = spark.read.format("warc").load(dir.toString)
        .selectExpr("record_index", "target_uri", "md5(payload) AS ck")
        .collect().map(_.toString).sorted.toSeq
      val split = spark.read.format("warc")
        .option("chunkBytes", "256").load(dir.toString)
      assert(split.rdd.getNumPartitions > 1,
        "chunkBytes=256 should plan multiple byte-range partitions")
      val got = split
        .selectExpr("record_index", "target_uri", "md5(payload) AS ck")
        .collect().map(_.toString).sorted.toSeq
      assert(got == whole)
    } finally rm(dir)
  }

  test("job-side split planning matches the driver skim on a multi-file fixture") {
    // >1 file → planVia=auto runs the skim as a Spark job (one task
    // per file); this pins that the job planner and the driver skim
    // produce IDENTICAL partitions and rows — the round-11 scale
    // caveat (driver-serial planning ∝ total records) closed without
    // changing semantics.
    val dir = Files.createTempDirectory("warc-spec-multi")
    try {
      for (f <- 0 until 3) {
        val recs = (0 until 20).map(i => record(s"http://f$f.example/$i",
          (s"payload-$f-" * 10 + i).getBytes(StandardCharsets.UTF_8)))
        Files.write(dir.resolve(s"$f.warc"), recs.flatten.toArray)
      }
      def load(via: String) = spark.read.format("warc")
        .option("chunkBytes", "512").option("planVia", via)
        .load(dir.toString)
      val (drv, job) = (load("driver"), load("job"))
      assert(job.rdd.getNumPartitions == drv.rdd.getNumPartitions &&
        job.rdd.getNumPartitions > 3,
        s"planners disagree on partitioning: job=${job.rdd.getNumPartitions} " +
          s"driver=${drv.rdd.getNumPartitions}")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .selectExpr("path", "record_index", "target_uri", "md5(payload) AS ck")
        .collect().map(_.toString).sorted.toSeq
      assert(rows(job) == rows(drv))
    } finally rm(dir)
  }

  test("payload pruning reaches the DSv2 read schema") {
    val dir = writeFixture(
      record("http://a.example/1", "abc".getBytes(StandardCharsets.UTF_8)))
    try {
      val q = spark.read.format("warc").load(dir.toString)
        .groupBy("warc_type").sum("content_length")
      // sparkPlan, not executedPlan: AQE wraps the executed tree in
      // AdaptiveSparkPlanExec, which collect() does not descend into
      val scans = q.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.nonEmpty)
      val readCols = scans.head.scan.readSchema().fieldNames.toSet
      assert(!readCols.contains("payload"),
        s"payload should be pruned from the scan, got $readCols")
      assert(q.collect().head.getLong(1) == 3L)
    } finally rm(dir)
  }

  test("malformed records abort loudly") {
    val ok = record("http://a.example/1", "abc".getBytes(StandardCharsets.UTF_8))
    // 1: truncated payload (Content-Length larger than the bytes)
    val truncated = ok.dropRight(6)
    // 2: wrong Content-Length (framing lands off the CRLFCRLF)
    val wrongLen = new String(ok, StandardCharsets.UTF_8)
      .replace("Content-Length: 3", "Content-Length: 2")
      .getBytes(StandardCharsets.UTF_8)
    // 3: not a WARC file at all
    val notWarc = "HTTP/1.1 200 OK\r\n\r\nbody".getBytes(StandardCharsets.UTF_8)
    // 4: non-numeric Content-Length (must abort with path+offset, not
    //    a bare NumberFormatException)
    val badLen = new String(ok, StandardCharsets.UTF_8)
      .replace("Content-Length: 3", "Content-Length: 3f")
      .getBytes(StandardCharsets.UTF_8)
    // 5: negative Content-Length (must not reach array allocation)
    val negLen = new String(ok, StandardCharsets.UTF_8)
      .replace("Content-Length: 3", "Content-Length: -5")
      .getBytes(StandardCharsets.UTF_8)
    for (bad <- Seq(truncated, wrongLen, notWarc, badLen, negLen)) {
      val dir = writeFixture(bad)
      try {
        val e = intercept[Exception] {
          spark.read.format("warc").load(dir.toString).count()
        }
        def msgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x =>
            Option(x.getMessage).toSeq ++ msgs(x.getCause))
        assert(msgs(e).exists(m => m.contains("WARC")),
          s"expected a loud WARC error, got: ${msgs(e).take(3)}")
      } finally rm(dir)
    }
  }

  private def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  test("warc.gz: per-record members parse, split, and match the plain reader") {
    val recs = (0 until 40).map(i => record(s"http://gz.example/$i",
      (s"gz-payload-" * 8 + i).getBytes(StandardCharsets.UTF_8)))
    val dir = Files.createTempDirectory("warc-spec-gz")
    try {
      Files.write(dir.resolve("plain.warc"), recs.flatten.toArray)
      // the same records, one gzip MEMBER each (the Common Crawl layout)
      Files.write(dir.resolve("mem.warc.gz"),
        recs.flatMap(gzipMember).toArray)
      def rows(name: String, chunk: String) = spark.read.format("warc")
        .option("chunkBytes", chunk).load(dir.resolve(name).toString)
        .selectExpr("record_index", "target_uri", "content_length",
          "md5(payload) AS ck")
        .collect().map(_.toString).sorted.toSeq
      val plain = rows("plain.warc", "1048576")
      assert(rows("mem.warc.gz", "1048576") == plain,
        "gz member walk must yield the plain reader's rows")
      // tiny chunk: member-aligned multi-split planning, same rows
      val split = spark.read.format("warc").option("chunkBytes", "512")
        .load(dir.resolve("mem.warc.gz").toString)
      assert(split.rdd.getNumPartitions > 1,
        "chunkBytes=512 should plan multiple member-aligned splits")
      assert(rows("mem.warc.gz", "512") == plain)
    } finally rm(dir)
  }

  test("warc.gz: multi-record members and whole-file single member degrade correctly") {
    val recs = (0 until 6).map(i => record(s"http://multi.example/$i",
      s"payload-$i".getBytes(StandardCharsets.UTF_8)))
    val dir = Files.createTempDirectory("warc-spec-gzm")
    try {
      // member 1 holds records 0-3, member 2 holds 4-5
      Files.write(dir.resolve("multi.warc.gz"),
        gzipMember(recs.take(4).flatten.toArray) ++
          gzipMember(recs.drop(4).flatten.toArray))
      // whole file as ONE member (what a generic gzip sink would emit)
      Files.write(dir.resolve("single.warc.gz"),
        gzipMember(recs.flatten.toArray))
      for (f <- Seq("multi.warc.gz", "single.warc.gz")) {
        val got = spark.read.format("warc").option("chunkBytes", "64")
          .load(dir.resolve(f).toString)
          .selectExpr("record_index", "target_uri").collect()
          .map(r => (r.getLong(0), r.getString(1))).sorted
        assert(got.length == 6, s"$f should yield 6 records")
        assert(got.map(_._1).toSeq == (0L until 6L),
          s"$f record_index must stay exact across members")
      }
      // single member = indivisible: exactly one split despite chunk=64
      val one = spark.read.format("warc").option("chunkBytes", "64")
        .load(dir.resolve("single.warc.gz").toString)
      assert(one.rdd.getNumPartitions == 1,
        "a whole-file single member cannot split")
    } finally rm(dir)
  }

  test("warc.gz: corrupt members abort loudly") {
    val rec = record("http://bad.example/1",
      "payload".getBytes(StandardCharsets.UTF_8))
    val member = gzipMember(rec)
    val dir = Files.createTempDirectory("warc-spec-gzbad")
    try {
      // flip a byte in the deflate body: CRC/ISIZE must catch it
      val corrupt = member.clone()
      corrupt(member.length / 2) = (corrupt(member.length / 2) ^ 0x41).toByte
      Files.write(dir.resolve("bad.warc.gz"), corrupt)
      val e = intercept[Exception] {
        spark.read.format("warc").load(dir.resolve("bad.warc.gz").toString)
          .collect()
      }
      val msg = String.valueOf(e.getMessage) +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("gzip") || msg.contains("corrupt") ||
        msg.contains("invalid"),
        s"corruption must surface loudly, got: $msg")
    } finally rm(dir)
  }

  test("writeGzip: one member per record, splittable, byte-exact round-trip") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("warc-spec-wgz")
    try {
      Warc.writeGzip(docs, dir.toString + "/w")
      val files = new java.io.File(dir.toString + "/w").listFiles()
        .filter(_.getName.endsWith(".warc.gz"))
      assert(files.nonEmpty, "writeGzip must emit .warc.gz part files")
      // member-per-record: the member walk over one part file must
      // find as many members as the file has records
      val f = files.minBy(_.getName)
      val in = new java.io.BufferedInputStream(
        new java.io.FileInputStream(f))
      val gz = new graft.sources.v2.GzipMemberStream(in, f.getPath)
      var members = 0
      try while (gz.readMember().isDefined) members += 1
      finally { gz.end(); in.close() }
      val recsInFile = spark.read.format("warc").load(f.getPath).count()
      assert(members.toLong == recsInFile && members > 1,
        s"expected one member per record, got $members members for " +
          s"$recsInFile records")
      // full corpus parity, forced multi-split
      val back = spark.read.format("warc")
        .option("chunkBytes", "65536").load(dir.toString + "/w")
        .selectExpr(
          "CAST(regexp_extract(target_uri, '/doc/([0-9]+)$', 1) AS BIGINT) AS doc_id",
          "CAST(payload AS STRING) AS text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      val want = docs.selectExpr("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(back.length == want.length && back.sameElements(want),
        "writeGzip -> reader must preserve every doc byte-exactly")
    } finally rm(dir)
  }

  test("sidecar index: planning uses it, parity with the skim, stale falls back") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("warc-spec-idx")
    try {
      Warc.writeGzip(docs, dir.toString + "/w")
      val d = new java.io.File(dir.toString + "/w")
      val parts = d.listFiles().filter(_.getName.endsWith(".warc.gz"))
      val sidecars = d.listFiles().filter(_.getName.endsWith(".idx"))
      assert(parts.nonEmpty && sidecars.length == parts.length,
        "every part file must carry a sidecar split index")
      def collectRows(chunk: String) = spark.read.format("warc")
        .option("chunkBytes", chunk).load(d.toString)
        .selectExpr("path", "record_index", "target_uri", "md5(payload) AS ck")
        .collect().map(_.toString).sorted.toSeq
      val withIdx = collectRows("65536")
      val partsWithIdx = spark.read.format("warc")
        .option("chunkBytes", "65536").load(d.toString).rdd.getNumPartitions
      assert(partsWithIdx > parts.length,
        "sidecar marks should still yield multi-split planning")
      // delete the sidecars: the skim must produce the same ROWS
      sidecars.foreach(s => assert(s.delete()))
      assert(collectRows("65536") == withIdx,
        "sidecar planning and the skim must agree on every row")
      // stale sidecar (wrong length) must fall back to the skim, not
      // mis-plan: write garbage marks with a wrong byte count
      val f = parts.minBy(_.getName)
      Files.write(new java.io.File(d, "." + f.getName + ".idx").toPath,
        "warcidx1 1 1\n5 1\n".getBytes("UTF-8"))
      assert(collectRows("65536") == withIdx,
        "a stale sidecar must be ignored")
    } finally rm(dir)
  }

  test("sidecar freshness: a same-length rewrite falls back to the skim") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("warc-spec-fresh")
    try {
      Warc.write(docs, dir.toString + "/w")
      val d = new java.io.File(dir.toString + "/w")
      val f = d.listFiles().filter(_.getName.endsWith(".warc")).minBy(_.getName)
      // fresh file + idx: the planner trusts the sidecar
      assert(WarcDataSource.sidecarSplits(f.getPath, 65536).isDefined,
        "a fresh sidecar must be used")
      // in-place SAME-LENGTH rewrite: flip the first payload byte (the
      // byte after the first CRLFCRLF) — framing intact, length
      // unchanged, content different. The round-12 length-only check
      // adopted this; the fingerprint must reject it.
      val bytes = Files.readAllBytes(f.toPath)
      val at = bytes.indexOfSlice("\r\n\r\n".getBytes("UTF-8")) + 4
      bytes(at) = (bytes(at) ^ 0x01).toByte
      Files.write(f.toPath, bytes)
      assert(WarcDataSource.sidecarSplits(f.getPath, 65536).isEmpty,
        "a same-length rewritten part file must fall back to the skim")
      // and the skim still reads the (valid) modified archive fine
      val n = spark.read.format("warc")
        .option("chunkBytes", "65536").load(d.toString).count()
      assert(n == docs.count(), "skim fallback must read every record")
    } finally rm(dir)
  }

  test("FingerprintStream folds the same fingerprint the planner reads") {
    val dir = Files.createTempDirectory("warc-spec-fp")
    try {
      // deterministic pseudo-random chunk sizes straddling the 4 KiB
      // head/tail windows, plus a tiny (<4 KiB, overlapping-windows)
      // file — the two shapes the ring linearization must get right
      for ((sizes, name) <- Seq(
          (Seq(1, 7, 4095, 4096, 4097, 100000, 3, 8192), "big"),
          (Seq(5, 17, 100), "tiny"))) {
        val p = dir.resolve(name)
        val fp = new graft.sources.v2.FingerprintStream(
          new java.io.FileOutputStream(p.toFile))
        var seed = 42L
        for (n <- sizes) {
          val chunk = new Array[Byte](n)
          for (i <- 0 until n) {
            seed = seed * 6364136223846793005L + 1442695040888963407L
            chunk(i) = (seed >>> 56).toByte
          }
          fp.write(chunk, 0, n)
        }
        fp.close()
        assert(fp.fingerprint == WarcDataSource.fileFingerprint(p.toFile),
          s"writer-side and file-side fingerprints must agree ($name)")
      }
    } finally rm(dir)
  }

  test("corpus round-trip: documents -> WARC -> documents parity (sf0.001)") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("warc-spec-rt")
    try {
      Warc.write(docs, dir.toString + "/w")
      val back = spark.read.format("warc")
        .option("chunkBytes", "65536")
        .load(dir.toString + "/w")
        .selectExpr(
          "CAST(regexp_extract(target_uri, '^http://([^.]+)\\\\.example/doc/([0-9]+)$', 2) AS BIGINT) AS doc_id",
          "regexp_extract(target_uri, '^http://([^.]+)\\\\.example/doc/([0-9]+)$', 1) AS source",
          "CAST(payload AS STRING) AS text")
      val a = back.orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val b = docs.selectExpr("doc_id", "source", "text").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(a.length == b.length && a.sameElements(b),
        "WARC round-trip must preserve every doc byte-exactly")
    } finally rm(dir)
  }

  test("streaming ingest: incremental pickup, batch/stream row parity") {
    val dir = Files.createTempDirectory("warc-spec-stream")
    def seg(f: Int): Array[Byte] =
      (0 until 5).map(i => record(s"http://s$f.example/$i",
        s"payload-$f-$i".getBytes(StandardCharsets.UTF_8)))
        .reduce(_ ++ _)
    def landSeg(name: String, bytes: Array[Byte]): Unit = {
      val tmp = dir.resolve(s".$name.tmp")
      Files.write(tmp, bytes)
      Files.move(tmp, dir.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    try {
      landSeg("a.warc", seg(0))
      val q = spark.readStream.format("warc").load(dir.toString)
        .selectExpr("path", "record_index", "target_uri", "md5(payload) AS ck")
        .writeStream.outputMode("append").format("memory")
        .queryName("warc_stream_spec").start()
      try {
        q.processAllAvailable()
        landSeg("b.warc", seg(1))
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) == 2,
          "each landed segment must arrive as its own micro-batch")
      } finally q.stop()
      val streamed = spark.table("warc_stream_spec")
        .collect().map(_.toString).sorted.toSeq
      val batch = spark.read.format("warc").load(dir.toString)
        .selectExpr("path", "record_index", "target_uri", "md5(payload) AS ck")
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch,
        "stream and batch reads of the same landed bytes must agree row-for-row")
      assert(streamed.size == 10)
    } finally rm(dir)
  }

  test("streaming watermark offsets: O(1) offset parity, violation aborts") {
    val dir = Files.createTempDirectory("warc-spec-wm")
    def seg(f: Int): Array[Byte] =
      (0 until 3).map(i => record(s"http://w$f.example/$i",
        s"wm-$f-$i".getBytes(StandardCharsets.UTF_8))).reduce(_ ++ _)
    def landSeg(name: String, bytes: Array[Byte]): Unit = {
      val tmp = dir.resolve(s".$name.tmp")
      Files.write(tmp, bytes)
      Files.move(tmp, dir.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    try {
      landSeg("seg-001.warc", seg(0))
      def start() = spark.readStream.format("warc")
        .option("offsetMode", "watermark").load(dir.toString)
        .selectExpr("path", "record_index", "target_uri", "md5(payload) AS ck")
        .writeStream.outputMode("append").format("memory")
        .queryName("warc_wm_spec").start()
      val q = start()
      try {
        q.processAllAvailable()
        landSeg("seg-002.warc", seg(1)) // monotone: sorts above 001
        q.processAllAvailable()
        val streamed = spark.table("warc_wm_spec")
          .collect().map(_.toString).sorted.toSeq
        val batch = spark.read.format("warc").load(dir.toString)
          .selectExpr("path", "record_index", "target_uri", "md5(payload) AS ck")
          .collect().map(_.toString).sorted.toSeq
        assert(streamed == batch && streamed.size == 6,
          "watermark offsets must ingest exactly the batch rows")
        // a late lander BELOW the watermark violates the monotone
        // promise the O(1) offset rests on — the stream must abort
        // loudly, never skip the file silently
        landSeg("seg-000.warc", seg(2))
        val ex = intercept[Exception] { q.processAllAvailable() }
        def msgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(e =>
            Option(e.getMessage).toSeq ++ msgs(e.getCause))
        assert(msgs(ex).exists(_.contains("watermark violated")),
          s"expected a watermark-violation abort, got: $ex")
      } finally q.stop()
    } finally rm(dir)
  }

  test("streaming watermark: compensating delete+land still aborts") {
    // the count-only hole: remove an ingested segment AND land a late
    // one — the below-watermark count is unchanged, but the offset's
    // name checksum pins MEMBERSHIP, so the violation still aborts
    val dir = Files.createTempDirectory("warc-spec-wm2")
    def one(f: Int): Array[Byte] =
      record(s"http://c$f.example/0", s"cc-$f".getBytes(StandardCharsets.UTF_8))
    def landSeg(name: String, bytes: Array[Byte]): Unit = {
      val tmp = dir.resolve(s".$name.tmp")
      Files.write(tmp, bytes)
      Files.move(tmp, dir.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    try {
      landSeg("seg-001.warc", one(1))
      landSeg("seg-002.warc", one(2))
      val q = spark.readStream.format("warc")
        .option("offsetMode", "watermark").load(dir.toString)
        .selectExpr("target_uri")
        .writeStream.outputMode("append").format("memory")
        .queryName("warc_wm2_spec").start()
      try {
        q.processAllAvailable()
        assert(spark.table("warc_wm2_spec").count() == 2)
        assert(Files.deleteIfExists(dir.resolve("seg-001.warc")))
        landSeg("seg-000.warc", one(0)) // count below wm unchanged
        val ex = intercept[Exception] { q.processAllAvailable() }
        def msgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(e =>
            Option(e.getMessage).toSeq ++ msgs(e.getCause))
        assert(msgs(ex).exists(_.contains("watermark violated")),
          s"expected a membership-violation abort, got: $ex")
      } finally q.stop()
    } finally rm(dir)
  }

  test("record_offset enables random access (plain and gzip member, multi-file)") {
    import graft.sources.v2.{GzipMemberStream, WarcDataSource => WDS}
    // repartition(3): the CDX replay must work across SEVERAL segment
    // files with file-local offsets (the pipe_warc_cdx2 shape), so the
    // fixture forces a multi-part archive and the sample below spans it
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .repartition(3, org.apache.spark.sql.functions.col("doc_id"))
    for (gz <- Seq(false, true)) {
      val dir = Files.createTempDirectory("warc-spec-off")
      try {
        if (gz) Warc.writeGzip(docs, dir.toString + "/w")
        else Warc.write(docs, dir.toString + "/w")
        val rows = spark.read.format("warc")
          .option("chunkBytes", "65536").load(dir.toString + "/w")
          .selectExpr("path", "record_offset", "record_id",
            "md5(payload) AS ck")
          .collect()
        assert(rows.map(_.getAs[String]("path")).distinct.length == 3,
          "multi-file replay fixture must span 3 segment files")
        // per-file offsets: sample the head and tail of EACH file so
        // the replay proves file-local accounting, not just file 1's
        for (r <- rows.groupBy(_.getAs[String]("path")).values.flatMap(fs =>
            fs.sortBy(_.getAs[Long]("record_offset")).take(3) ++
              fs.sortBy(-_.getAs[Long]("record_offset")).take(3))) {
          val path = r.getAs[String]("path")
          val off = r.getAs[Long]("record_offset")
          val in = new java.io.BufferedInputStream(
            new java.io.FileInputStream(path))
          try {
            var skipped = 0L
            while (skipped < off) skipped += in.skip(off - skipped)
            val recIn =
              if (gz) {
                val ms = new GzipMemberStream(in, path, off)
                val member = ms.readMember().get
                new java.io.BufferedInputStream(
                  new java.io.ByteArrayInputStream(member))
              } else in
            val h = WDS.readHeader(recIn, path, off).get
            val id = h.fields("warc-record-id")
              .stripPrefix("<").stripSuffix(">")
            assert(id == r.getAs[String]("record_id"),
              s"random access at $path:$off found the wrong record")
            val len = h.contentLength(path).toInt
            val payload = WDS.readFully(recIn, len, path, off)
            val md = java.security.MessageDigest.getInstance("MD5")
            assert(md.digest(payload).map(b => f"$b%02x").mkString ==
              r.getAs[String]("ck"),
              s"random access at $path:$off read different payload bytes")
          } finally in.close()
        }
      } finally rm(dir)
    }
  }

  test("header-only side of a resolution join prunes payload I/O") {
    // the metadata/request/revisit gates all join a parsed side against
    // a header-only response side; the 100-TB claim is that the
    // header-only branch never reads payload bytes — pin it in the
    // executed plan's per-scan ReadSchema
    import org.apache.spark.sql.functions._
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("warc-spec-prune")
    try {
      Warc.writeMetadata(docs, dir.toString + "/w")
      def archive = spark.read.format("warc").load(dir.toString + "/w")
      val meta = archive.filter(col("warc_type") === "metadata")
        .select(col("concurrent_to"),
          length(col("payload")).as("plen"))
      val resps = archive.filter(col("warc_type") === "response")
        .select(col("record_id").as("rid"), col("target_uri"))
      val joined = meta.join(resps, col("concurrent_to") === col("rid"))
        .agg(count(lit(1)), sum(col("plen")))
      joined.collect() // force execution so the final adaptive plan exists
      val scans = joined.queryExecution.executedPlan.toString
        .split("\n").filter(_.contains("BatchScan warc"))
      assert(scans.length >= 2, s"expected two warc scans:\n$scans")
      assert(scans.exists(!_.contains("payload")),
        "the header-only join side must carry a payload-free ReadSchema")
      assert(scans.exists(_.contains("payload")),
        "the parsed side still reads payload")
    } finally rm(dir)
  }

  test("garbage robustness: arbitrary bytes always abort loudly, never short-scan") {
    // the reader's contract is framing-or-abort: no byte soup may ever
    // yield a plausible-but-wrong row set. Deterministic LCG fuzz plus
    // the three structured corruption shapes.
    def fuzz(seed: Long, n: Int): Array[Byte] = {
      val out = new Array[Byte](n); var s = seed
      for (i <- 0 until n) {
        s = s * 6364136223846793005L + 1442695040888963407L
        out(i) = (s >>> 56).toByte
      }
      out
    }
    def mustAbort(name: String, bytes: Array[Byte]): Unit = {
      val dir = Files.createTempDirectory("warc-spec-garbage")
      try {
        Files.write(dir.resolve("g.warc"), bytes)
        val ex = intercept[Throwable] {
          spark.read.format("warc").load(dir.toString).collect()
        }
        def msgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(e =>
            Option(e.getMessage).toSeq ++ msgs(e.getCause))
        assert(msgs(ex).exists(m => m.contains("WARC") || m.contains("warc")),
          s"$name: abort must carry a WARC-framing message, got $ex")
      } finally rm(dir)
    }
    for (seed <- 1 to 8) mustAbort(s"fuzz-$seed", fuzz(seed, 500 + seed * 37))
    val good = record("http://a.example/1", "ok".getBytes(StandardCharsets.UTF_8))
    mustAbort("valid-record-then-garbage", good ++ fuzz(99, 200))
    mustAbort("content-length-overruns-file",
      record("http://a.example/1", "short".getBytes(StandardCharsets.UTF_8))
        .take(40) ++ "Content-Length: 99999\r\n\r\nx".getBytes(StandardCharsets.UTF_8))
    mustAbort("header-never-ends",
      ("WARC/1.0\r\n" + "X: y\r\n" * 50000).getBytes(StandardCharsets.UTF_8))
  }

  test("warcinfo: sink-led segments expose the head record, offsets shift exactly") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter("doc_id < 40")
    for (gz <- Seq(false, true)) {
      val dir = Files.createTempDirectory("warc-spec-info")
      try {
        Warc.render(docs).write.format("warc")
          .option("compression", if (gz) "gzip" else "none")
          .option("warcinfo", "true")
          .mode("overwrite").save(dir.toString + "/w")
        val rows = spark.read.format("warc").load(dir.toString + "/w")
          .selectExpr("path", "record_index", "warc_type", "content_type",
            "record_offset", "CAST(payload AS STRING) AS p")
          .collect()
        val byPath = rows.groupBy(_.getAs[String]("path"))
        for ((path, rs) <- byPath) {
          // record 0 of EVERY part file is the warcinfo record, with
          // the shared warc-fields payload and the right content type
          val head = rs.find(_.getAs[Long]("record_index") == 0L).get
          assert(head.getAs[String]("warc_type") == "warcinfo",
            s"$path must lead with a warcinfo record")
          assert(head.getAs[String]("content_type") == "application/warc-fields")
          assert(head.getAs[String]("p") == Warc.WarcinfoFields)
          assert(head.getAs[Long]("record_offset") == 0L)
          // the WARC-Filename header defaults to the part file's own
          // basename (header not in the read schema — parse the frame)
          val in = new java.io.BufferedInputStream(
            new java.io.FileInputStream(path))
          try {
            val recIn =
              if (gz) {
                val ms = new graft.sources.v2.GzipMemberStream(in, path)
                new java.io.BufferedInputStream(
                  new java.io.ByteArrayInputStream(ms.readMember().get))
              } else in
            val h = WarcDataSource.readHeader(recIn, path, 0L).get
            assert(h.fields("warc-filename") ==
              path.substring(path.lastIndexOf('/') + 1),
              "warcinfo WARC-Filename must name its part file")
            // plain files: the first data record starts EXACTLY at the
            // warcinfo record's end — byte-exact offset accounting
            if (!gz) {
              val infoBytes = h.payloadStart +
                h.contentLength(path) + 4
              val next = rs.filter(_.getAs[Long]("record_offset") > 0L)
                .map(_.getAs[Long]("record_offset")).min
              assert(next == infoBytes,
                s"first response offset $next != warcinfo size $infoBytes")
            }
          } finally in.close()
        }
        // type-filtered consumption is unaffected by the head record
        val resp = rows.filter(_.getAs[String]("warc_type") == "response")
        assert(resp.length == 40 &&
          rows.length == 40 + byPath.size,
          "responses must be untouched; one warcinfo per part file")
      } finally rm(dir)
    }
  }

  test("segmented records: golden render/parse shape and reassembly order") {
    import spark.implicits._
    // one doc that splits into exactly 3 segments of 4 chars, one that
    // stays whole — the renderer/reader contract in miniature
    val docs = Seq((7L, "abcdEFGHijkl", "w"), (8L, "xy", "w"))
      .toDF("doc_id", "text", "source")
    val dir = Files.createTempDirectory("warc-spec-seg")
    try {
      Warc.writeSegmented(docs.coalesce(1), dir.toString + "/w", segChars = 4)
      val rows = spark.read.format("warc").load(dir.toString + "/w")
        .selectExpr("warc_type", "record_id", "segment_number",
          "segment_origin_id", "CAST(payload AS STRING) AS p",
          "content_length")
        .collect()
      assert(rows.length == 4)
      val first = rows.filter(r => r.getAs[String]("p") == "abcd")
      assert(first.length == 1 &&
        first.head.getAs[String]("warc_type") == "response" &&
        first.head.getAs[Long]("segment_number") == 1L &&
        first.head.getAs[String]("segment_origin_id") == null)
      val conts = rows.filter(_.getAs[String]("warc_type") == "continuation")
        .sortBy(_.getAs[Long]("segment_number"))
      assert(conts.map(_.getAs[String]("p")).toSeq == Seq("EFGH", "ijkl"))
      assert(conts.map(_.getAs[Long]("segment_number")).toSeq == Seq(2L, 3L))
      assert(conts.forall(_.getAs[String]("segment_origin_id") ==
        first.head.getAs[String]("record_id")),
        "every continuation must point at its first record")
      val whole = rows.filter(_.getAs[String]("p") == "xy")
      assert(whole.length == 1 &&
        whole.head.getAs[String]("warc_type") == "response" &&
        whole.head.isNullAt(whole.head.fieldIndex("segment_number")),
        "an unsegmented record must carry no segment headers")
      // the terminal segment declares the reassembled byte count
      val raw = new String(Files.readAllBytes(
        dir.resolve("w").toFile.listFiles()
          .filter(_.getName.endsWith(".warc")).head.toPath),
        StandardCharsets.UTF_8)
      assert(raw.contains("WARC-Segment-Total-Length: 12\r\n"))
      assert(!raw.replace("WARC-Segment-Total-Length: 12", "")
        .contains("WARC-Segment-Total-Length"),
        "only the LAST segment carries Total-Length")
    } finally rm(dir)
  }

  test("payload-digest audit catches a single flipped payload byte") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter("doc_id < 30")
    val dir = Files.createTempDirectory("warc-spec-digest")
    try {
      val fetches = docs.withColumn("fetch_id", $"doc_id")
      Warc.writeRevisits(fetches, dir.toString + "/w")
      def audit() = spark.read.format("warc").load(dir.toString + "/w")
        .filter($"warc_type" === "response")
        .select($"record_id", $"path", $"record_offset",
          $"content_length", $"payload_digest",
          ($"payload_digest" === concat(lit("md5:"), md5($"payload")))
            .as("ok"))
        .collect()
      val before = audit()
      assert(before.nonEmpty && before.forall(_.getAs[Boolean]("ok")),
        "pristine archive must verify everywhere")
      // flip ONE payload byte of a response with a non-trivial body —
      // framing stays intact (Content-Length still true), only the
      // digest can catch it
      val victim = before.filter(_.getAs[Long]("content_length") >= 3L).head
      val in = new java.io.BufferedInputStream(new java.io.FileInputStream(
        victim.getAs[String]("path")))
      val h = try {
        var left = victim.getAs[Long]("record_offset")
        while (left > 0) left -= in.skip(left)
        WarcDataSource.readHeader(in, victim.getAs[String]("path"),
          victim.getAs[Long]("record_offset")).get
      } finally in.close()
      val raf = new java.io.RandomAccessFile(victim.getAs[String]("path"), "rw")
      try {
        raf.seek(h.payloadStart + 1)
        val b = raf.read()
        raf.seek(h.payloadStart + 1)
        raf.write(b ^ 0x20)
      } finally raf.close()
      val after = audit()
      val bad = after.filterNot(_.getAs[Boolean]("ok"))
      assert(bad.length == 1 &&
        bad.head.getAs[String]("record_id") ==
          victim.getAs[String]("record_id"),
        s"audit must flag exactly the tampered record, got ${bad.toSeq}")
    } finally rm(dir)
  }

  test("expandPaths: directory lists files, hidden/_ excluded") {
    val dir = Files.createTempDirectory("warc-spec-paths")
    try {
      Files.write(dir.resolve("b.warc"), record("u", Array[Byte](1)))
      Files.write(dir.resolve("a.warc"), record("u", Array[Byte](1)))
      Files.write(dir.resolve("_SUCCESS"), Array[Byte](1))
      Files.write(dir.resolve(".hidden"), Array[Byte](1))
      val got = WarcDataSource.expandPaths(Seq(dir.toString))
      assert(got.map(p => p.substring(p.lastIndexOf('/') + 1)) ==
        Seq("a.warc", "b.warc"))
    } finally rm(dir)
  }

  test("write: a file: URI lands at its path, like a plain path") {
    import spark.implicits._
    // a rendered row ends in the payload's CRLF; the writer adds the second
    val rows = (1 to 50).map(i => new String(
      record(s"http://a.example/$i", s"page $i".getBytes(StandardCharsets.UTF_8)),
      StandardCharsets.UTF_8).dropRight(2)).toDF("record").repartition(3)
    val dir = Files.createTempDirectory("warc-spec-uri")
    try {
      for (target <- Seq(dir.resolve("plain").toString, dir.resolve("uri").toUri.toString))
        rows.write.format("warc").mode("overwrite").save(target)
      def read(sub: String) = spark.read.format("warc").load(dir.resolve(sub).toString)
        .selectExpr("record_id", "payload").collect()
        .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), StandardCharsets.UTF_8)))
        .toSeq.sorted
      val plain = read("plain")
      assert(plain.size == 50)
      assert(read("uri") == plain)
    } finally rm(dir)
  }

  private def rm(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val l = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.toSeq.foreach(rm)
      } finally l.close()
    }
    Files.deleteIfExists(p)
  }
}
