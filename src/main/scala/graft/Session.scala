package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape every main and spec runs on (the bench's):
  * `local[cpus]` with shuffle partitions = cpus, AQE on, parquet
  * TIMESTAMP(NANOS) read as epoch-nanos longs, UTC, no UI, WARN logging,
  * and the custom SQL functions registered.
  */
object Session {
  /** `SPARK_GRAFT_CPUS`, or every core the JVM sees when it is unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.exprs.register(spark)
    spark
  }
}
