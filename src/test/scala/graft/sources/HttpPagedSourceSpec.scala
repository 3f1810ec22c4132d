package graft.sources

import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** Engine-side paginated HTTP DSv2 source (SURVEY S1 scale path):
  * real-socket gates for page-partitioned parallel ingest, parity with
  * the driver-side [[Ingest.pagesToNdjson]] landing loop, O(log n)
  * page-count discovery, and a catalogue-style aggregation over the
  * landed table.
  */
class HttpPagedSourceSpec extends AnyFunSuite {

  private val NonEmptyPages = 5

  private def feature(page: Int, i: Int): String =
    s"""{"type":"Feature","properties":{"id":${page * 100 + i},"page":$page},"geometry":null}"""

  /** Serves {base}/page/n: pages 1..NonEmptyPages carry `page` features
    * each (page n has n features), later pages are empty. Counts hits.
    */
  private def withServer(test: (String, AtomicInteger) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new AtomicInteger(0)
    server.createContext("/api", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        hits.incrementAndGet()
        val m = ".*/consolidated/page/(\\d+)".r
        val body = ex.getRequestURI.getPath match {
          case m(n) if n.toInt <= NonEmptyPages =>
            val p = n.toInt
            (1 to p).map(feature(p, _)).mkString("""{"features": [""", ",", "]}")
          case m(_) => """{"features": []}"""
          case _ => """{"error": "nope"}"""
        }
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try test(s"http://127.0.0.1:${server.getAddress.getPort}/api/consolidated", hits)
    finally server.stop(0)
  }

  private lazy val spark = graft.TestSession.spark

  test("parity with the driver-side pagesToNdjson landing output") {
    withServer { (base, _) =>
      val landed = Files.createTempFile("landing", ".ndjson").toString
      Ingest.pagesToNdjson(
        base, landed, graft.sources.v2.HttpPagedDataSource.features,
        Ingest.Options(timeoutMs = 5000, retries = 2, pageSleepMs = 0))
      val landedLines = Files.readAllLines(java.nio.file.Paths.get(landed))

      val viaEngine = spark.read.format("http-paged")
        .option("base", base).option("timeoutMs", 5000).load()
        .orderBy("page", "ingest_order")
        .select("feature_json")
        .collect().map(_.getString(0)).toSeq
      assert(viaEngine == landedLines.toArray.toSeq,
        "engine rows in (page, ingest_order) order must equal the landing file lines")
      assert(viaEngine.size == (1 to NonEmptyPages).sum)
    }
  }

  test("one InputPartition per page; discovery is O(log n) extra GETs") {
    withServer { (base, hits) =>
      val df = spark.read.format("http-paged")
        .option("base", base).option("timeoutMs", 5000).load()
      hits.set(0)
      val partsAndCounts = df.rdd
        .mapPartitionsWithIndex((i, it) => Iterator((i, it.size)))
        .collect().toSeq
      // one partition per non-empty page, each carrying that page's rows
      assert(partsAndCounts.size == NonEmptyPages)
      assert(partsAndCounts.map(_._2).sorted == (1 to NonEmptyPages).toSeq)
      // total GETs = discovery probes + one per page read. Discovery for
      // E=6: exponential 1,2,4,8 + binary 6,5,7?  — bounded by
      // 2*ceil(log2 E)+2 = 8, not O(E); reads add NonEmptyPages more.
      assert(hits.get() <= NonEmptyPages + 8,
        s"expected <= ${NonEmptyPages + 8} GETs, saw ${hits.get()}")
    }
  }

  test("explicit pages option skips discovery entirely") {
    withServer { (base, hits) =>
      hits.set(0)
      val rows = spark.read.format("http-paged")
        .option("base", base).option("pages", 3).option("timeoutMs", 5000)
        .load().count()
      assert(rows == (1 to 3).sum)
      assert(hits.get() == 3, "pages option must mean exactly one GET per page")
    }
  }

  /** Like withServer, but the number of non-empty pages is mutable —
    * the growing-API fixture for the streaming source. Pages are
    * immutable once published (the source's contract): page p always
    * serves the same p features, growth only adds pages.
    */
  private def withGrowingServer(test: (String, AtomicInteger) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val published = new AtomicInteger(2)
    server.createContext("/api", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val m = ".*/consolidated/page/(\\d+)".r
        val body = ex.getRequestURI.getPath match {
          case m(n) if n.toInt <= published.get() =>
            val p = n.toInt
            (1 to p).map(feature(p, _)).mkString("""{"features": [""", ",", "]}")
          case m(_) => """{"features": []}"""
          case _ => """{"error": "nope"}"""
        }
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try test(s"http://127.0.0.1:${server.getAddress.getPort}/api/consolidated", published)
    finally server.stop(0)
  }

  test("streaming source tails new pages; parity with the batch table; exactly-once across restart") {
    withGrowingServer { (base, published) =>
      val out = Files.createTempDirectory("http-stream-out").toString
      val ckpt = Files.createTempDirectory("http-stream-ckpt").toString
      def startQuery() = spark.readStream.format("http-paged")
        .option("base", base).option("timeoutMs", 5000).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()

      // run 1: 2 published pages, then 2 more land mid-run
      val q1 = startQuery()
      q1.processAllAvailable()
      assert(spark.read.parquet(out).count() == (1 to 2).sum)
      published.set(4)
      q1.processAllAvailable()
      assert(spark.read.parquet(out).count() == (1 to 4).sum)
      q1.stop()

      // pages 5..6 land while the query is DOWN; the restart must
      // ingest exactly those (checkpointed offset 4, not page 1)
      published.set(6)
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()
      val streamed = spark.read.parquet(out)
        .orderBy("page", "ingest_order")
        .select("page", "ingest_order", "feature_json")
        .collect().map(_.toString).toSeq
      assert(streamed.size == (1 to 6).sum, "each page ingested exactly once")

      // parity: the batch table over the same final server state
      val viaBatch = spark.read.format("http-paged")
        .option("base", base).option("timeoutMs", 5000).load()
        .orderBy("page", "ingest_order")
        .select("page", "ingest_order", "feature_json")
        .collect().map(_.toString).toSeq
      assert(streamed == viaBatch)
    }
  }

  test("catalogue-style gate over the landed table (agg + json extraction)") {
    withServer { (base, _) =>
      val df = spark.read.format("http-paged")
        .option("base", base).option("timeoutMs", 5000).load()
      df.createOrReplaceTempView("landed")
      val perPage = spark.sql(
        """SELECT page,
          |       count(*) AS n,
          |       sum(get_json_object(feature_json, '$.properties.id')) AS id_sum
          |FROM landed GROUP BY page ORDER BY page""".stripMargin)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2).toLong)).toSeq
      val expected = (1 to NonEmptyPages).map { p =>
        (p, p.toLong, (1 to p).map(i => p * 100 + i).sum.toLong)
      }
      assert(perPage == expected)
    }
  }
}
