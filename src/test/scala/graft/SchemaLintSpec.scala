package graft

import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Output-boundary type lint over the WHOLE catalogue: no query may
  * emit a DecimalType column. Round 11's one red driver row
  * (`pipe_warc_roundtrip`) was exactly this — Spark decimal(38,0) vs
  * DuckDB uncast HUGEINT, numerically identical, locally green in the
  * gate replica, but rendered differently by the driver's hasher. The
  * catalogue convention is: decimal/HUGEINT arithmetic is fine
  * INTERNALLY (exact wide sums), but every final integer column is
  * folded/CAST to int64 before it leaves the query, on both engines.
  * This spec is the Spark half of that contract (the DuckDB half lives
  * in tools/verify_local.py's DECIMAL_OUTPUT check) — it would have
  * turned round 11's driver-red row red here first.
  */
class SchemaLintSpec extends AnyFunSuite {

  private val sf = sys.props.get("graft.testdata.sf")
    .orElse(sys.env.get("GRAFT_TESTDATA_SF"))
    .getOrElse("/root/testdata/sf0.001")

  private lazy val spark = TestSession.spark

  private def hasDecimal(dt: DataType): Boolean = dt match {
    case _: DecimalType => true
    case s: StructType => s.fields.exists(f => hasDecimal(f.dataType))
    case a: ArrayType => hasDecimal(a.elementType)
    case m: MapType => hasDecimal(m.keyType) || hasDecimal(m.valueType)
    case _ => false
  }

  test("no catalogue query emits a DecimalType output column") {
    assume(new java.io.File(sf, "documents.parquet").exists(),
      s"schema-lint fixture dir $sf absent on this machine")
    spark.sparkContext.setLogLevel("WARN")
    val offenders = QueryCatalog.all.flatMap { q =>
      // fn construction may be eager for gate entries (localCheckpoint
      // over a temp WARC/NDJSON render) — at sf0.001 that is cheap and
      // exactly what the driver's Verify run does anyway.
      val df = q.fn(spark, sf)
      val bad = df.schema.fields.filter(f => hasDecimal(f.dataType))
      if (bad.isEmpty) Nil
      else Seq(s"${q.name}: ${bad.map(f => s"${f.name}=${f.dataType.sql}").mkString(", ")}")
    }
    assert(offenders.isEmpty,
      "decimal output columns (fold to BIGINT on both sides — the " +
        s"driver hasher renders decimal128/HUGEINT unlike int64):\n  " +
        offenders.mkString("\n  "))
  }
}
