package graft

import org.apache.spark.sql.SparkSession

/** Generic grown-corpus probe: one JSONL row per (query, dir) with
  * wall time and result rows, for ANY catalogue query. This is the
  * JVM half of the paired-A/B protocol (`tools/ab_paired.sh <sha>
  * probe …`) — the script alternates invocations of this main between
  * two checkouts and compares per-query medians and pairs won, which
  * only pairs run side by side support given this host's measured 2.2×
  * cross-session drift.
  *
  *   SPARK_GRAFT_PROBE_NAMES=a,b \
  *   SPARK_GRAFT_SF_DIRS=d1,d2 sbt "Test/runMain graft.ProbeMain"
  *
  * Names are REQUIRED and resolved against the full catalogue; an
  * unknown name aborts loudly (a silent filter once made a typo'd
  * probe look successful while measuring nothing).
  *
  * NOTE for ab_paired.sh: this file depends only on SparkSession,
  * [[QueryCatalog]] and graft.functions.exprs, all stable since round
  * 3, so the script can copy it verbatim into a parent tree that
  * predates it. Keep it standalone: it builds its own session rather
  * than take [[Session.local]], and keeps its own copy of the JSON
  * string escape rather than use `graft.util.Json`; older parents lack
  * both.
  */
object ProbeMain {
  /** Full JSON-string escape (backslash, quote, ALL control chars):
    * an exception message with a backslash or tab must not produce an
    * invalid JSONL row that crashes the A/B summary's json.loads —
    * the same contract as Bench's escaping of its errors map.
    */
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Resolve a comma-separated name list against the catalogue,
    * aborting loudly on unknown names.
    */
  def resolveNames(raw: String): Seq[String] = {
    val req = raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val known = QueryCatalog.all.map(_.name).toSet
    val unknown = req.filterNot(known)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_PROBE_NAMES entries not in QueryCatalog: " +
        unknown.mkString(", "))
    req
  }

  def main(args: Array[String]): Unit = {
    val dirs = sys.env.get("SPARK_GRAFT_SF_DIRS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("/root/testdata/sf0.1"))
    val names = resolveNames(sys.env.getOrElse("SPARK_GRAFT_PROBE_NAMES",
      sys.error("SPARK_GRAFT_PROBE_NAMES is required for ProbeMain")))
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.exprs.register(spark)

    for (d <- dirs; name <- names) {
      val q = QueryCatalog.all.find(_.name == name).get
      try {
        val t0 = System.nanoTime()
        val rows = q.fn(spark, d).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"probe":"$name","dir":"$d","rows":$rows,"sec":$sec%.2f}""")
      } catch {
        case e: Throwable =>
          println(s"""{"probe":"$name","dir":"$d","error":"${
            esc(Option(e.getMessage).getOrElse(e.getClass.getName).take(160))}"}""")
      }
      System.out.flush()
    }
    spark.stop()
  }
}
