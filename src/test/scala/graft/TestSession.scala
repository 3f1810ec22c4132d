package graft

import org.apache.spark.sql.SparkSession

/** The one session every spec runs on. Suites share one forked test JVM,
  * so they share one SparkContext whatever each would build; this makes
  * that session [[Session.local]] at 4 cores for all of them.
  */
object TestSession {
  lazy val spark: SparkSession = Session.local(4)
}
