package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 GeoJSON source, and [[GeoJson.features]] on top of it,
  * must yield the same features, in the same ingest order, as the
  * multiLine whole-document reader it replaced (kept here as the
  * oracle), at every split size.
  */
class GeoJsonV2Spec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  /** The replaced reader: one multiLine task, posexplode of `features`. */
  private def multiLine(path: String, schema: StructType): DataFrame =
    spark.read.schema(StructType(Seq(StructField("type", StringType),
      StructField("features", ArrayType(schema)))))
      .option("multiLine", value = true).json(path)
      .select(posexplode(col("features")).as(Seq("ingest_order", "feature")))

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select(col("ingest_order").cast("long"), to_json(col("feature")))
      .orderBy(col("ingest_order")).collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  /** Runs `f` with `spark.sql.files.maxPartitionBytes` set to `bytes`
    * on the shared session (the cap on the source's split size).
    */
  private def withMaxPartitionBytes[T](bytes: Long)(f: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try f
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Partition count and (ingest_order, feature_json) rows of one
    * source scan, planned at the session's current conf.
    */
  private def scan(path: String): (Int, Seq[(Long, String)]) = {
    val df = spark.read.format("geojson").load(path)
    (df.rdd.getNumPartitions,
      df.orderBy("ingest_order").collect().map(r => (r.getLong(1), r.getString(2))).toSeq)
  }

  private def fixture(name: String): String =
    getClass.getResource(s"/inspector/$name").getPath

  private def writeTemp(name: String, doc: String): String = {
    val f = java.nio.file.Files.createTempFile(name, ".geojson")
    java.nio.file.Files.writeString(f, doc)
    f.toFile.deleteOnExit()
    f.toString
  }

  test("v2 source matches the multiLine reader on the fixture, in order") {
    val path = fixture("consolidated.geojson")
    val v2 = spark.read.format("geojson").load(path)
      .select(col("ingest_order"),
        from_json(col("feature_json"), GeoJson.consolidatedFeatureSchema).as("feature"))
    val classic = multiLine(path, GeoJson.consolidatedFeatureSchema)

    val v2Rows = v2.orderBy("ingest_order")
      .selectExpr("ingest_order", "feature.properties.id", "feature.properties.sheet_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val classicRows = classic.orderBy("ingest_order")
      .selectExpr("CAST(ingest_order AS LONG)", "feature.properties.id", "feature.properties.sheet_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(v2Rows.nonEmpty && v2Rows.sameElements(classicRows))

    // a small file still splits, one range per core at most; two
    // files plan twice the ranges of one
    val perFile = v2.rdd.getNumPartitions
    val cores = spark.sparkContext.defaultParallelism
    assert(perFile >= math.min(2, cores) && perFile <= cores)
    val both = spark.read.format("geojson").load(s"$path,$path")
    assert(both.rdd.getNumPartitions == 2 * perFile)
    assert(both.count() == 2 * v2Rows.length)
  }

  test("a file above chunkBytes splits into byte-range tasks with exact rows") {
    // "chunkBytes" is the split size, here capped at 4096 bytes via
    // spark.sql.files.maxPartitionBytes.
    // Synthesize a "big" FeatureCollection with mixed formatting:
    // pretty-printed whitespace, braces/commas inside string values —
    // the inputs a naive brace-resync would misparse.
    val n = 500
    val features = (0 until n).map { i =>
      val name = s"""block {$i}, "quoted", [brace]"""
      s"""{ "type": "Feature",
         |  "properties": {"id": "f$i", "name": ${jsonStr(name)}, "idx": $i},
         |  "geometry": {"type": "Point", "coordinates": [${i % 180}.5, 40.$i]} }""".stripMargin
    }
    val doc = s"""{"type": "FeatureCollection",
                 |"features": [
                 |${features.mkString(",\n")}
                 |]}""".stripMargin
    val f = java.io.File.createTempFile("graft-big", ".geojson")
    try {
      java.nio.file.Files.writeString(f.toPath, doc)
      val (wholeParts, a) = scan(f.getPath)
      val (splitParts, b) = withMaxPartitionBytes(4096)(scan(f.getPath))
      assert(splitParts > 4, s"expected many byte-range tasks, got $splitParts")
      assert(wholeParts <= spark.sparkContext.defaultParallelism)
      // identical rows AND identical per-file ingest_order
      assert(a.length == n && b.length == n)
      assert(a.sameElements(b))
      assert(b.map(_._1).sameElements(0L until n.toLong))
      // feature payloads are the source text, byte for byte
      assert(b(7)._2 == features(7))
    } finally f.delete()
  }

  test("byte-range splits survive multi-byte UTF-8 boundaries and ']' inside strings") {
    // Adversarial fixture for the splitter: every feature's name is a
    // long run of 2- and 3-byte UTF-8 sequences (é = C3 A9, 中 = E4 B8
    // AD) so a 512-byte chunk boundary lands INSIDE a multi-byte
    // sequence with near-certainty, plus the exact character sequences
    // a naive resync would mistake for structure: "]}", "]}]", and a
    // lone "]" — the features-array terminator — inside string values.
    val n = 60
    val features = (0 until n).map { i =>
      val multibyte = ("é中" * 40) + s"]}] $i ] \\\" }]"
      s"""{"type":"Feature","properties":{"id":"f$i","name":${jsonStr(multibyte)},"idx":$i},""" +
        s""""geometry":{"type":"Point","coordinates":[${i % 180}.5,40.$i]}}"""
    }
    val doc =
      s"""{"type":"FeatureCollection","features":[${features.mkString(",")}]}"""
    val f = java.io.File.createTempFile("graft-utf8", ".geojson")
    try {
      java.nio.file.Files.writeString(f.toPath, doc)
      val (_, a) = scan(f.getPath)
      val (splitParts, b) = withMaxPartitionBytes(512)(scan(f.getPath))
      assert(splitParts > 8, s"fixture too small to force splits: $splitParts tasks")
      assert(a.length == n && b.sameElements(a),
        s"split parse diverged from whole-file parse: ${b.length} vs ${a.length} rows")
      // the multi-byte payload round-trips intact through the split
      // reader (no replacement chars, no truncated sequences)
      assert(b.forall(_._2.contains("é中")), "multi-byte text corrupted by a split")
      assert(b.head._2.contains("]}]"), "string-literal ']' content lost")
    } finally f.delete()
  }

  test("streaming source ingests newly-landed files incrementally, in order") {
    def collection(ids: Seq[Int]): String = {
      val fs = ids.map(i =>
        s"""{"type": "Feature", "properties": {"id": "f$i"}, "geometry": null}""")
      s"""{"type": "FeatureCollection", "features": [${fs.mkString(",")}]}"""
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-geojson-stream")
    def land(name: String, doc: String): Unit = {
      // write-then-rename: the landing-dir atomicity discipline
      val tmp = dir.resolve(s".$name.tmp")
      java.nio.file.Files.writeString(tmp, doc)
      java.nio.file.Files.move(tmp, dir.resolve(name))
    }
    land("page1.geojson", collection(Seq(0, 1, 2)))
    val q = spark.readStream.format("geojson").load(dir.toString)
      .writeStream.outputMode("append").format("memory")
      .queryName("geojson_stream_sink").start()
    try {
      q.processAllAvailable()
      land("page2.geojson", collection(Seq(10, 11)))
      q.processAllAvailable()
      val rows = spark.table("geojson_stream_sink")
        .collect()
        .map(r => (new java.io.File(r.getString(0)).getName, r.getLong(1),
          r.getString(2).contains("\"id\": \"f")))
      assert(rows.length == 5, s"got ${rows.mkString(";")}")
      assert(rows.forall(_._3), "feature_json payloads survived")
      // per-file ingest_order restarts per page, as in the batch scan
      assert(rows.filter(_._1 == "page1.geojson").map(_._2).sorted.sameElements(Seq(0L, 1L, 2L)))
      assert(rows.filter(_._1 == "page2.geojson").map(_._2).sorted.sameElements(Seq(0L, 1L)))
      // no file is ingested twice across batches
      land("page1.geojson.done", "{}") // non-.geojson noise is ignored
      q.processAllAvailable()
      assert(spark.table("geojson_stream_sink").count() == 5)
    } finally q.stop()
  }

  private val page0 =
    collection(Seq("""{"type": "Feature", "properties": {"id": "f0"}, "geometry": null}"""))

  /** Streams the `geojson` source over `watch` into a memory table,
    * runs `land` between two triggers, and returns the table's
    * (file name, feature id) rows.
    */
  private def streamed(watch: String, table: String)(land: => Unit): Seq[(String, String)] = {
    val q = spark.readStream.format("geojson").load(watch)
      .writeStream.outputMode("append").format("memory").queryName(table).start()
    try {
      q.processAllAvailable()
      land
      q.processAllAvailable()
    } finally q.stop()
    spark.table(table).selectExpr("regexp_extract(path, '[^/]+$', 0)",
      "get_json_object(feature_json, '$.properties.id')")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
  }

  test("the geojson stream never reads a hidden, still-landing file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-geojson-hidden")
    val got = streamed(dir.toString, "geojson_hidden_sink") {
      // temp names of a write-then-rename landing, caught mid-write
      for (name <- Seq(".partial.geojson", "_page-7.geojson"))
        java.nio.file.Files.writeString(dir.resolve(name),
          """{"type": "FeatureCollection", "features": [{"type": "Fea""")
      java.nio.file.Files.writeString(dir.resolve("page1.geojson"), page0)
    }
    assert(got == Seq(("page1.geojson", "f0")))
  }

  test("the geojson stream watches a file: URI landing directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft-geojson-uri")
    val got = streamed(dir.toUri.toString, "geojson_uri_sink") {
      val tmp = dir.resolve(".page1.geojson.tmp")
      java.nio.file.Files.writeString(tmp, page0)
      java.nio.file.Files.move(tmp, dir.resolve("page1.geojson"))
    }
    assert(got == Seq(("page1.geojson", "f0")))
  }

  private def topoFeature(i: Int, name: String = "", extraProps: String = ""): String =
    s"""{"type":"Feature","properties":{"sheet_id":${860 + i % 3},""" +
      s""""consensus":${jsonStr(s"t$i$name")}$extraProps},""" +
      s""""geometry":{"type":"Point","coordinates":[$i.25,-$i.5]}}"""

  private def collection(features: Seq[String]): String =
    s"""{"type":"FeatureCollection","features":[${features.mkString(",")}]}"""

  test("GeoJson.features matches the multiLine reader on every input and split size") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val pretty = mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(mapper.readTree(new java.io.File(fixture("consolidated.geojson"))))
    val topo = GeoJson.toponymFeatureSchema
    val two = writeTemp("two", collection(Seq(topoFeature(0), topoFeature(1))))
    val inputs = Seq(
      ("consolidated fixture", fixture("consolidated.geojson"), GeoJson.consolidatedFeatureSchema),
      ("toponyms fixture", fixture("toponyms.geojson"), topo),
      ("sheets fixture", fixture("sheets.geojson"), GeoJson.sheetFeatureSchema),
      ("null feature", writeTemp("null",
        collection(Seq(topoFeature(0), "null", topoFeature(2)))), topo),
      ("empty features", writeTemp("empty", collection(Nil)), topo),
      ("features before type", writeTemp("order",
        s"""{"features":[${topoFeature(0)},${topoFeature(1)}],"type":"FeatureCollection"}"""), topo),
      ("nested features keys", writeTemp("nested",
        s"""{"type":"FeatureCollection","properties":{"features":[${topoFeature(9)}]},""" +
          s""""features":[${topoFeature(0, extraProps = s""","features":[${topoFeature(8)}]""")},""" +
          s"""${topoFeature(1)}]}"""), topo),
      ("pretty-printed", writeTemp("pretty", pretty), GeoJson.consolidatedFeatureSchema),
      ("multi-byte UTF-8", writeTemp("utf8",
        collection((0 until 40).map(i => topoFeature(i, "é中😀" * (i % 7 + 1))))), topo),
      ("fewer features than cores", two, topo),
      // raw-captured coordinates keep the literals as written
      ("number literals", writeTemp("numbers", collection(Seq("[1e-7,40.70]", "[0.0005,-0.0]",
        "[12345678.5,1E21]").map(c => topoFeature(0).replace("[0.25,-0.5]", c)))), topo),
    )
    for ((name, path, schema) <- inputs; maxBytes <- Seq(None, Some(1L), Some(97L))) {
      def got = rows(GeoJson.features(spark, path, schema))
      val want = rows(multiLine(path, schema))
      assert(want.nonEmpty == (name != "empty features"), name)
      assert(maxBytes.fold(got)(withMaxPartitionBytes(_)(got)) == want,
        s"$name at maxPartitionBytes=$maxBytes")
    }
    assert(GeoJson.features(spark, two, topo).rdd.getNumPartitions <= 2)
  }

  test("a several-MB FeatureCollection plans at least one split per core") {
    val n = 20000
    val path = writeTemp("several-mb", collection((0 until n).map(topoFeature(_, "x" * 120))))
    assert(new java.io.File(path).length() > 4000000L)
    val df = GeoJson.features(spark, path, GeoJson.toponymFeatureSchema)
    assert(df.rdd.getNumPartitions >= math.min(spark.sparkContext.defaultParallelism, n))
    assert(df.count() == n)
  }

  // The Hadoop conf (about 110 KB serialized) rides a broadcast: a
  // scan's task payload stays near Spark's own `json` reader's (~14 KB).
  test("a geojson scan's task payload carries no Hadoop conf of its own") {
    val df = spark.read.format("geojson").load(fixture("consolidated.geojson"))
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    try out.writeObject(df.queryExecution.toRdd) finally out.close()
    assert(bytes.size < 32 * 1024, s"the scan's RDD serializes to ${bytes.size} bytes")
    val factory = df.queryExecution.executedPlan.collectFirst {
      case s: BatchScanExec => s.readerFactory
    }.get
    val held = factory.getClass.getDeclaredFields.toSeq.map { f =>
      f.setAccessible(true)
      f.get(factory)
    }
    assert(!held.exists(_.isInstanceOf[SerializableConfiguration]), held)
  }

  // Spark asks a scan for its reader factory more than once; each
  // factory broadcasts the conf, so the scan keeps the one it made.
  test("a planned geojson scan hands out one reader factory") {
    val df = spark.read.format("geojson").load(fixture("consolidated.geojson"))
    val batch = df.queryExecution.executedPlan.collectFirst {
      case s: BatchScanExec => s.batch
    }.get
    assert(batch.createReaderFactory() eq batch.createReaderFactory())
  }

  // Spark asks a scan for its partitions more than once while planning
  // a query; each ask skimmed the file again.
  test("planning a geojson query reads each file once") {
    val paths = Seq(fixture("consolidated.geojson"), fixture("toponyms.geojson"))
    val stats = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    def bytesRead = stats.getLong("bytesRead").longValue
    val df = spark.read.format("geojson").load(paths.mkString(","))
    val before = bytesRead
    df.queryExecution.executedPlan
    assert(bytesRead - before == paths.map(new java.io.File(_).length()).sum)
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    } + "\""
}
