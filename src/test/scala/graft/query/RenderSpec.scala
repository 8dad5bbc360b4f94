package graft.query

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

class RenderSpec extends AnyFunSuite with SparkTest {

  private lazy val df = {
    import spark.implicits._
    Seq(
      (1L, "alpha", Some(3.25), Timestamp.valueOf("2024-05-01 10:30:45")),
      (2L, "beta,x", None, Timestamp.valueOf("2024-05-01 10:31:00.123456")))
      .toDF("id", "name", "score", "ts")
  }

  test("csv matches the golden acceptance shape") {
    assert(Render.csv(df) ==
      """id,name,score,ts
        |1,alpha,3.25,2024-05-01 10:30:45
        |2,"beta,x",,2024-05-01 10:31:00.123456""".stripMargin)
  }

  test("csv without header, custom separator leaves commas unquoted") {
    assert(Render.csv(df, header = false, sep = "|") ==
      """1|alpha|3.25|2024-05-01 10:30:45
        |2|beta,x||2024-05-01 10:31:00.123456""".stripMargin)
  }

  test("json renders typed values and escapes") {
    import spark.implicits._
    val j = Render.json(Seq((1, "a\"b", true, Seq(1, 2)))
      .toDF("n", "s", "b", "arr"))
    assert(j == """[{"n":1,"s":"a\"b","b":true,"arr":[1,2]}]""")
  }

  test("json renders map columns as objects, not quoted strings") {
    import spark.implicits._
    val j = Render.json(Seq((1, Map("a" -> 1, "b" -> 2))).toDF("n", "m"))
    assert(j == """[{"n":1,"m":{"a":1,"b":2}}]""" ||
      j == """[{"n":1,"m":{"b":2,"a":1}}]""", j)
  }

  test("streaming variants emit byte-identical output to the String forms") {
    import spark.implicits._
    val df = Seq((1, "x"), (2, "y")).toDF("n", "s")
    def via(f: Appendable => Unit): String = {
      val sb = new java.lang.StringBuilder; f(sb); sb.toString
    }
    assert(via(Render.csvTo(_, df)) == Render.csv(df))
    assert(via(Render.jsonTo(_, df)) == Render.json(df))
    assert(via(Render.lineTo(_, df)) == Render.line(df))
  }

  test("line mode prints column = value blocks") {
    import spark.implicits._
    val out = Render.line(Seq(("x", 1), ("y", 2)).toDF("name", "v"))
    assert(out ==
      """name = x
        |   v = 1
        |
        |name = y
        |   v = 2""".stripMargin)
  }

  test("table draws a box with aligned columns") {
    import spark.implicits._
    val out = Render.table(Seq(("a", 10), ("longer", 2)).toDF("k", "n"))
    assert(out ==
      """+--------+----+
        || k      | n  |
        |+--------+----+
        || a      | 10 |
        || longer | 2  |
        |+--------+----+""".stripMargin)
  }

  test("cell: double integers lose the trailing .0, arrays bracket") {
    assert(Render.cell(36.0d) == "36")
    assert(Render.cell(3.25d) == "3.25")
    assert(Render.cell(Seq(1, 2, 3)) == "[1, 2, 3]")
    assert(Render.cell(null) == "")
  }

  /** A local relation holding every column type the renderers handle,
    * with a null in each column of the second row.
    */
  private lazy val everyType = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val inner = StructType(Seq(StructField("x", IntegerType),
      StructField("tags", ArrayType(StringType))))
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
      StructField("d", DateType), StructField("dec", DecimalType(12, 3)),
      StructField("dbl", DoubleType), StructField("s", StringType),
      StructField("b", BooleanType), StructField("arr", ArrayType(LongType)),
      StructField("m", MapType(StringType, IntegerType)),
      StructField("st", StructType(Seq(StructField("name", StringType),
        StructField("inner", inner)))),
      StructField("bin", BinaryType)))
    val full = Row(Timestamp.valueOf("2024-05-01 10:30:45.5"),
      java.time.LocalDateTime.parse("2024-05-01T10:30:45"),
      java.sql.Date.valueOf("2024-05-01"),
      new java.math.BigDecimal("123456789.125"), 36.0, "a,\"q\"",
      true, Seq(1L, 2L, 3L),
      Map("k1" -> 1, "k2" -> 2, "k3" -> 3, "k4" -> 4, "k5" -> 5, "k6" -> 6),
      Row("n", Row(7, Seq("t1", null))), Array[Byte](0, 15, -1))
    val nulls = Row.fromSeq(Seq.fill(schema.size)(null))
    spark.createDataFrame(java.util.Arrays.asList(full, nulls), schema)
  }

  test("a local relation renders byte-identically to a streamed " +
      "result, and its rows equal collect()") {
    val local = everyType
    val streamed = everyType.repartition(1)
    assert(local.queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec])
    assert(Render.localRows(streamed).isEmpty)
    assert(Render.localRows(local).get.toSeq === local.collect().toSeq)
    assert(Render.csv(local) === Render.csv(streamed))
    assert(Render.json(local) === Render.json(streamed))
    assert(Render.line(local) === Render.line(streamed))
    assert(Render.table(local) === Render.table(streamed))
    // spot-check the rendering itself, so equal-but-wrong cannot pass
    assert(Render.csv(local).linesIterator.drop(1).next() ===
      "2024-05-01 10:30:45.5,2024-05-01T10:30:45,2024-05-01," +
        "123456789.125,36,\"a,\"\"q\"\"\",true,\"[1, 2, 3]\"," +
        "\"{k2=2, k5=5, k6=6, k1=1, k4=4, k3=3}\"," +
        "\"{'name': n, 'inner': {'x': 7, 'tags': [t1, ]}}\",000fff")
  }

  test("rendering a local relation compiles no code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val local = everyType
    local.queryExecution.executedPlan
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Render.csv(local); Render.json(local); Render.line(local)
    Render.table(local)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === before)
  }
}
