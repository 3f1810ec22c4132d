package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** spark.sql.extensions=graft.plans.GraftExtensions must register the
  * custom functions for SQL text.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("extensions class registers every custom function") {
    // Force a NEW SparkSession (extensions apply per session) while
    // reusing any live SparkContext; never stop() here — that would
    // kill the context shared with the other suites. withExtensions is
    // the programmatic twin of spark.sql.extensions=graft.plans
    // .GraftExtensions (the string form is a static conf read at
    // SparkContext creation, which a shared test JVM cannot redo). The
    // new session joins the shared test context, and the shared session
    // is restored as default and active afterwards.
    graft.TestSession.spark
    val (priorDefault, priorActive) =
      (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val row = spark.sql(
        """SELECT
          |  st_contains(array(array(array(0d,0d),array(10d,0d),array(10d,10d),
          |                          array(0d,10d),array(0d,0d))),
          |              array(5d,5d)) AS inside,
          |  base62_encode_hex('ff') AS b62,
          |  js_coord_join(array(-73.9d, 40d)) AS joined,
          |  rolling_hash('abc') AS rh
          |""".stripMargin).collect().head
      assert(row.getBoolean(0))
      assert(row.getString(1) == "47")
      assert(row.getString(2) == "-73.9,40")
      assert(row.getLong(3) == ("abc".foldLeft(0L)((h, c) => (h * 31 + c) % 2147483647L)))
      val row2 = spark.sql(
        """SELECT
          |  cosine_e9(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)),
          |            array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))) AS self_cos,
          |  cosine_approx(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)),
          |                array(CAST(0 AS FLOAT), CAST(1 AS FLOAT))) AS ortho,
          |  lsh_bucket(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT))) AS bkt,
          |  sorted_intersect_count(array(1L, 3L, 7L), array(3L, 5L, 7L, 9L)) AS ni
          |""".stripMargin).collect().head
      assert(row2.getLong(0) == 1000000000L)
      assert(row2.getDouble(1) == 0.0)
      assert(row2.getLong(2) >= 0 && row2.getLong(2) < 64)
      assert(row2.getInt(3) == 2)
      // Functions previously exposed on only one of the two surfaces
      val row3 = spark.sql(
        """SELECT
          |  js_parse_int('12abc') AS jsi,
          |  js_coord_join_raw('[-73.25, 40.5]') AS raw,
          |  morton_interleave(3L, 5L) AS z
          |""".stripMargin).collect().head
      assert(row3.getLong(0) == 12L)
      assert(row3.getString(1) == "-73.25,40.5")
      assert(row3.getLong(2) == 39L) // interleave(011, 101) = 100111
      // multi-probe companion bucket: exactly one bit away from primary
      val row4 = spark.sql(
        """SELECT bit_count(lsh_bucket(v) ^ lsh_bucket_flip(v)) AS hb
          |FROM (SELECT array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT),
          |                   CAST(0.125 AS FLOAT)) AS v)
          |""".stripMargin).collect().head
      assert(row4.getInt(0) == 1)
      // Geometry-parameterized LSH: at planes=6 it IS the fixed-6
      // bucket (the fixture contract), extra planes only prepend bits,
      // and the planes argument must be a plan-time literal
      val row5 = spark.sql(
        """SELECT lsh_bucket_n(v, 6) = lsh_bucket(v) AS same6,
          |       lsh_bucket_n(v, 8) % 64 = lsh_bucket(v) AS low6,
          |       bit_count(lsh_bucket_n(v, 8) ^ lsh_bucket_flip_n(v, 8)) AS hb8
          |FROM (SELECT array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT),
          |                   CAST(0.125 AS FLOAT)) AS v)
          |""".stripMargin).collect().head
      assert(row5.getBoolean(0) && row5.getBoolean(1))
      assert(row5.getInt(2) == 1)
      intercept[Exception] { // planes must be a constant literal
        spark.sql("SELECT lsh_bucket_n(array(CAST(1 AS FLOAT)), CAST(rand()*6 AS INT))")
      }
      intercept[Exception] { // and in [1, 20]
        spark.sql("SELECT lsh_bucket_n(array(CAST(1 AS FLOAT)), 21)")
      }
      // Every sqlFunctions row resolves through the extensions hook, so
      // the config-time and runtime registration surfaces cannot drift
      graft.functions.exprs.sqlFunctions.foreach { case (name, _, _) =>
        assert(
          spark.sessionState.functionRegistry
            .functionExists(FunctionIdentifier(name)),
          s"extensions hook did not register $name")
      }
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      priorDefault.foreach(SparkSession.setDefaultSession)
      priorActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("a second register call leaves the session's function registry unchanged") {
    val spark = graft.TestSession.spark.newSession()
    val reg = spark.sessionState.functionRegistry
    val ids = graft.functions.exprs.sqlFunctions.map { case (name, _, _) => FunctionIdentifier(name) }
    // skipping held names never leaves a Spark built-in in place of a
    // custom function
    assert(ids.forall(id => !org.apache.spark.sql.catalyst.analysis.FunctionRegistry
      .builtin.functionExists(id)))
    def snapshot() = (reg.listFunction().toSet,
      ids.map(id => (reg.lookupFunction(id), reg.lookupFunctionBuilder(id))))
    graft.functions.exprs.register(spark)
    val first = snapshot()
    assert(first._2.forall { case (info, builder) => info.isDefined && builder.isDefined })
    graft.functions.exprs.register(spark)
    val second = snapshot()
    assert(second._1 == first._1)
    assert(second._2.zip(first._2).forall { case ((i2, b2), (i1, b1)) =>
      (i2.get eq i1.get) && (b2.get eq b1.get)
    })
  }
}
