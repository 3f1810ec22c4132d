package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** One file layer for the DSv2 sources: every file under
  * `sources/v2` is listed and opened through the path's Hadoop
  * `FileSystem` (`Landing`, `PartFileWrite`), so any Hadoop path
  * works on both sides of a format. A `java.io` or `java.nio` file
  * handle reads a `file:` URI as a relative local path.
  */
class FileLayerSpec extends AnyFunSuite {

  test("no file under sources/v2 opens or lists files outside Hadoop's FileSystem") {
    val root = Paths.get("src/main/scala/graft/sources/v2")
    val files = Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    for (f <- Seq("Landing.scala", "WarcDataSource.scala", "GeoJsonDataSource.scala",
        "PartFileWrite.scala", "WarcWrite.scala"))
      assert(files.contains(root.resolve(f)), s"the source walk did not reach $f")
    val banned = Seq(
      """\bjava\.io\.File\b""", """import\s+java\.io\.\{[^}]*\bFile\b""",
      """\bFileInputStream\b""", """\bRandomAccessFile\b""", """\bjava\.nio\.file\b""")
      .map(_.r)
    val offenders = for {
      f <- files
      text = Files.readString(f)
      b <- banned if b.findFirstIn(text).isDefined
    } yield s"$f: ${b.regex}"
    assert(offenders.isEmpty,
      "open and list files through graft.sources.v2.Landing: " + offenders.mkString(", "))
  }
}
