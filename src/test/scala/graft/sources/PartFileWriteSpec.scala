package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.connector.write.Write
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.V2ExistingTableWriteExec
import org.apache.spark.sql.functions.{col, spark_partition_id, udf}
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import graft.{Engine, QueryMetrics}

/** The part-file writer behind [[NdjsonSink.write]] and the `warc`
  * sink: its lines, its overwrite, empty and failed writes, the
  * `_SUCCESS` marker and the size of what each write task carries.
  */
class PartFileWriteSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def res(name: String): String =
    getClass.getResource(s"/inspector/$name").getPath

  /** The golden fixture's transform, computed once. */
  private lazy val records = Engine.transform(spark, Engine.Dirs(
    consolidated = res("consolidated.geojson"),
    toponyms = res("toponyms.geojson"),
    sheets = res("sheets.geojson"),
    layerBoroughs = res("layer-boroughs.json"),
  )).localCheckpoint()

  private lazy val expected = NdjsonSink.lines(records).collect().map(_.getString(0)).sorted.toSeq

  private def tempDir(prefix: String): File = Files.createTempDirectory(prefix).toFile

  private def names(dir: File): Seq[String] = dir.list().toSeq.sorted

  /** The lines of every part file; an empty partition leaves no file. */
  private def writtenLines(dir: File): Seq[String] =
    dir.listFiles().filter(_.getName.startsWith("part-")).toSeq.flatMap { f =>
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      assert(text.nonEmpty, s"${f.getName} is empty")
      assert(text.endsWith("\n"), s"${f.getName} does not end its last line")
      text.split("\n", -1).dropRight(1).toSeq
    }.sorted

  test("NDJSON part files hold exactly the rendered lines, at a plain path and a file: URI") {
    val plain = new File(tempDir("ndjson-plain"), "out")
    NdjsonSink.write(records, plain.getPath)
    assert(writtenLines(plain) == expected)

    val uri = new File(tempDir("ndjson-uri"), "out")
    NdjsonSink.write(records, uri.toURI.toString)
    assert(writtenLines(uri) == expected)
  }

  test("overwrite removes the previous run's part files and orphaned temp files") {
    val dir = new File(tempDir("ndjson-overwrite"), "out")
    NdjsonSink.write(records, dir.getPath)
    val first = names(dir).filter(_.startsWith("part-"))
    assert(first.nonEmpty)
    Files.write(new File(dir, ".part-x.inprogress").toPath, "half a line".getBytes("UTF-8"))

    val some = records.where(col("rtype") === "relation")
    NdjsonSink.write(some, dir.getPath)
    val after = names(dir)
    assert(after.intersect(first).isEmpty, after)
    assert(!after.contains(".part-x.inprogress"), after)
    assert(writtenLines(dir) ==
      NdjsonSink.lines(some).collect().map(_.getString(0)).sorted.toSeq)
  }

  test("an empty frame leaves a directory that reads as no rows") {
    val dir = new File(tempDir("ndjson-empty"), "out")
    NdjsonSink.write(records.limit(0), dir.getPath)
    assert(dir.isDirectory)
    assert(!names(dir).exists(_.startsWith("part-")), names(dir))
    assert(spark.read.text(dir.getPath).count() == 0)
  }

  test("a failing task fails the write and leaves no part, temp or _SUCCESS file") {
    val dir = new File(tempDir("ndjson-fail"), "out")
    // partition 0 fails after the others have had time to commit, so
    // the job abort must delete their committed parts
    val failLate = udf { (p: Int) =>
      if (p == 0) { Thread.sleep(500); throw new IllegalStateException("partition 0 fails") }
      true
    }
    val failing = records.repartition(4).where(failLate(spark_partition_id()))
    val e = intercept[Exception](NdjsonSink.write(failing, dir.getPath))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("partition 0 fails")), e)
    val left = names(dir)
    assert(!left.exists(n => n.startsWith("part-") || n.endsWith(".inprogress") || n == "_SUCCESS"),
      left)
  }

  // Job commit leaves an empty `_SUCCESS`, the marker Hadoop's file
  // committer left for the NDJSON; the WARC reader skips `_` names.
  test("a committed write leaves an empty _SUCCESS, NDJSON and WARC alike") {
    val ndjson = new File(tempDir("ndjson-success"), "out")
    NdjsonSink.write(records, ndjson.getPath)
    val warc = new File(tempDir("warc-success"), "out")
    import spark.implicits._
    // a rendered record ends in the payload's CRLF; the writer adds the second
    Seq("WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: 0\r\n\r\n\r\n").toDF("record")
      .write.format("warc").mode("overwrite").save(warc.getPath)
    for (dir <- Seq(ndjson, warc)) {
      val marker = new File(dir, "_SUCCESS")
      assert(marker.isFile && marker.length() == 0, names(dir))
    }
    assert(spark.read.format("warc").load(warc.getPath).count() == 1)
  }

  // Parts go through the raw local file system, as the readers open
  // them: no checksum file beside each committed file.
  test("a committed NDJSON or WARC directory holds no .crc file") {
    val ndjson = new File(tempDir("ndjson-crc"), "out")
    NdjsonSink.write(records, ndjson.getPath)
    val warc = new File(tempDir("warc-crc"), "out")
    import spark.implicits._
    Warc.save((1 to 4).map(i =>
      s"WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: 1\r\n\r\n$i\r\n").toDF("record")
      .repartition(2), warc.getPath)
    for (dir <- Seq(ndjson, warc)) {
      assert(names(dir).exists(_.startsWith("part-")), names(dir))
      assert(!names(dir).exists(_.endsWith(".crc")), names(dir))
    }
  }

  // A directory an older, checksummed write left holds a `.crc` beside
  // each part, sidecar and `_SUCCESS`.
  test("an overwrite clears the .crc files an older write left") {
    val dir = new File(tempDir("ndjson-old-crc"), "out")
    NdjsonSink.write(records, dir.getPath)
    val old = names(dir).filterNot(_.startsWith(".")).map(n => s".$n.crc") :+ "..part-x.idx.crc"
    old.foreach(n => Files.write(new File(dir, n).toPath, Array[Byte](0, 1)))
    NdjsonSink.write(records, dir.getPath)
    assert(!names(dir).exists(_.endsWith(".crc")), names(dir))
    assert(writtenLines(dir) == expected)
  }

  // The Hadoop conf (about 110 KB serialized) rides a broadcast made
  // once per write, as the geojson reader's does.
  test("an NDJSON write's task factory carries no Hadoop conf of its own") {
    val dir = new File(tempDir("ndjson-payload"), "out")
    val (_, metrics) = QueryMetrics.measure(spark)(NdjsonSink.write(records, dir.getPath))
    val helper = new AdaptiveSparkPlanHelper {}
    val writes: Seq[Write] = metrics.plans.flatMap(p => helper.collect(p) {
      case w: V2ExistingTableWriteExec => w.write
    })
    assert(writes.size == 1, metrics.plans.mkString("\n"))
    val factory = writes.head.toBatch.createBatchWriterFactory(null)
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    try out.writeObject(factory) finally out.close()
    assert(bytes.size < 32 * 1024, s"the writer factory serializes to ${bytes.size} bytes")
    val held = factory.getClass.getDeclaredFields.toSeq.map { f =>
      f.setAccessible(true)
      f.get(factory)
    }
    assert(!held.exists(_.isInstanceOf[SerializableConfiguration]), held)
  }
}
