package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** One session shape for every main and spec: [[Session.local]] builds
  * it, and no other source file builds a session of its own.
  */
class SessionSpec extends AnyFunSuite {

  test("Session.local(n) builds the bench session shape with the custom functions") {
    val spark = Session.local(4)
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    val reg = spark.sessionState.functionRegistry
    graft.functions.exprs.sqlFunctions.foreach { case (name, _, _) =>
      assert(reg.functionExists(FunctionIdentifier(name)), s"$name is not registered")
    }
  }

  test("no source file but Session.scala, ExtensionsSpec and ProbeMain builds a session") {
    // ExtensionsSpec needs a session built withExtensions; ProbeMain is
    // copied into parent trees that have no graft.Session.
    val allowed = Set("src/main/scala/graft/Session.scala",
      "src/test/scala/graft/plans/ExtensionsSpec.scala",
      "src/test/scala/graft/ProbeMain.scala").map(Paths.get(_))
    val builds = """SparkSession\s*\.\s*builder""".r
    val files = Using.resource(Files.walk(Paths.get("src")))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(files.contains(Paths.get("src/test/scala/graft/SessionSpec.scala")),
      "the source walk did not reach this spec")
    val offenders = files.filter(f =>
      !allowed(f) && builds.findFirstIn(Files.readString(f)).isDefined)
    assert(offenders.isEmpty,
      "build the session with graft.Session.local (mains) or graft.TestSession.spark " +
        s"(specs): ${offenders.mkString(", ")}")
  }
}
