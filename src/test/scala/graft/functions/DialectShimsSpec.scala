package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** DuckDB-dialect shim behavior, pinned against values produced by
  * DuckDB itself (documented in each assertion).
  */
class DialectShimsSpec extends AnyFunSuite with SparkTest {

  private lazy val init: Unit = DialectShims.register(spark)
  private def sql1(q: String): Any = { init; spark.sql(q).head().get(0) }

  test("cFormatToJava translates specifiers and quotes letter literals") {
    assert(DialectShims.cFormatToJava("%Y-%m-%d %H:%M:%S") ==
      "yyyy-MM-dd HH:mm:ss")
    assert(DialectShims.cFormatToJava("%Y-%m-%dT%H:%M:%S") ==
      "yyyy-MM-dd'T'HH:mm:ss")
    assert(DialectShims.cFormatToJava("%d %b %Y") == "dd MMM yyyy")
    assert(DialectShims.cFormatToJava("100%% at %H") == "'100% at 'HH")
    intercept[IllegalArgumentException] {
      DialectShims.cFormatToJava("%Q")
    }
  }

  test("strptime parses like DuckDB") {
    // duckdb: strptime('2024-03-05 10:11:12', '%Y-%m-%d %H:%M:%S')
    assert(sql1("SELECT cast(strptime('2024-03-05 10:11:12', " +
      "'%Y-%m-%d %H:%M:%S') AS string)").toString ==
      "2024-03-05 10:11:12")
    assert(sql1("SELECT cast(strptime('05/03/2024', '%d/%m/%Y') AS date)")
      .toString == "2024-03-05")
  }

  test("strftime formats like DuckDB") {
    assert(sql1("SELECT strftime(timestamp '2024-03-05 10:11:12', " +
      "'%Y-%m-%d %H:%M')") == "2024-03-05 10:11")
  }

  test("epoch_ms converts both directions") {
    // duckdb: epoch_ms(timestamp '2024-03-05 10:11:12.345') = 1709633472345
    assert(sql1("SELECT epoch_ms(timestamp '2024-03-05 10:11:12.345')") ==
      1709633472345L)
    assert(sql1("SELECT cast(epoch_ms(1709633472345) AS string)") ==
      "2024-03-05 10:11:12.345")
  }

  test("epoch returns double seconds with fraction") {
    val v = sql1("SELECT epoch(timestamp '2024-03-05 10:11:12.345')")
      .asInstanceOf[Double]
    assert(math.abs(v - 1709633472.345) < 1e-6)
  }

  test("vector shims: list_value / inner product / cosine / distance") {
    assert(sql1("SELECT list_inner_product(list_value(1.5, 2.5), " +
      "list_value(2.0, 4.0))") == 13.0)
    assert(sql1("SELECT round(list_cosine_similarity(" +
      "list_value(1.0, 2.0, 2.0), list_value(2.0, 1.0, 2.0)), 4)") ==
      0.8889) // 8 / (3·3)
    assert(sql1("SELECT list_distance(list_value(0.0, 0.0), " +
      "list_value(3.0, 4.0))") == 5.0)
    assert(sql1("SELECT list_negative_inner_product(" +
      "list_value(1.0, 1.0), list_value(2.0, 3.0))") == -5.0)
    assert(sql1("SELECT round(list_cosine_distance(" +
      "list_value(1.0, 0.0), list_value(0.0, 1.0)), 4)") == 1.0)
    // length mismatch is NULL, not an error (DotProduct contract)
    assert(sql1("SELECT list_inner_product(list_value(1.0), " +
      "list_value(1.0, 2.0)) IS NULL") == true)
  }

  test("epoch_ms / epoch accept TIMESTAMP_NTZ (tz-less parquet read type)") {
    // r8 regression: the shims' bare Cast(_, TimestampType) never got a
    // timeZoneId, so an NTZ input (how Spark 4 reads the driver's
    // timestamp[us] parquet) died with INTERNAL_ERROR at analysis —
    // q35_dialect red at sf0.1. UTC session ⇒ naive-as-UTC, DuckDB's own
    // reading of the same value.
    assert(sql1("SELECT epoch_ms(timestamp_ntz '2024-03-05 10:11:12.345')") ==
      1709633472345L)
    val v = sql1("SELECT epoch(timestamp_ntz '2024-03-05 10:11:12.345')")
      .asInstanceOf[Double]
    assert(math.abs(v - 1709633472.345) < 1e-6)
    // aggregate-wrapped, the exact shape q35 uses
    assert(sql1("SELECT epoch_ms(min(t)) FROM VALUES " +
      "(timestamp_ntz '2024-03-05 10:11:12.345') AS v(t)") ==
      1709633472345L)
  }

  test("date_diff spellings stay Spark parser syntax (documented divergence)") {
    // DuckDB's boundary-crossing date_diff cannot be shimmed — both
    // spellings are parser-reserved; Spark's native semantics apply
    assert(sql1("SELECT date_diff(HOUR, timestamp '2024-01-01 10:59:00', " +
      "timestamp '2024-01-01 11:01:00')") == 0L) // elapsed units, not crossings
    assert(sql1("SELECT datediff(date '2024-01-10', date '2024-01-01')") == 9)
  }

  test("len is BIGINT over strings and lists") {
    assert(sql1("SELECT len('hello')") == 5L)
    assert(sql1("SELECT len(array(1, 2, 3))") == 3L)
  }

  test("list/list_sort/list_contains/list_distinct/list_unique") {
    assert(sql1("SELECT list_sort(list(x)) FROM VALUES (3),(1),(2) t(x)") ==
      Seq(1, 2, 3))
    assert(sql1("SELECT list_contains(array(1,2,3), 2)") == true)
    assert(sql1("SELECT list_sort(list_distinct(array(2,1,2)))") == Seq(1, 2))
    assert(sql1("SELECT list_unique(array(2,1,2))") == 2L)
  }

  test("list preserves NULL elements like DuckDB list()/array_agg") {
    // DuckDB: SELECT list(x) FROM (VALUES (1),(NULL),(2)) → [1, NULL, 2];
    // bare collect_list would drop the NULL
    val got = sql1(
      "SELECT list_sort(list(x)) FROM VALUES (1),(NULL),(2) t(x)")
      .asInstanceOf[scala.collection.Seq[Any]]
    assert(got.length == 3 && got.count(_ == null) == 1, got)
  }

  test("list_transform/list_filter pass lambdas to native array exprs") {
    assert(sql1("SELECT list_transform(array(1,2,3), x -> x * 10)") ==
      Seq(10, 20, 30))
    assert(sql1("SELECT list_filter(array(1,2,3,4), x -> x % 2 = 0)") ==
      Seq(2, 4))
  }

  test("string_split uses a plain (non-regex) separator") {
    assert(sql1("SELECT string_split('a.b.c', '.')") == Seq("a", "b", "c"))
  }

  test("regexp_matches searches anywhere like DuckDB") {
    assert(sql1("SELECT regexp_matches('anchovy', 'chov')") == true)
    assert(sql1("SELECT regexp_matches('anchovy', '^chov')") == false)
  }

  test("string_split_regex / list_slice / list append-prepend-concat") {
    // duckdb: string_split_regex('a1b22c','[0-9]+') = [a, b, c]
    assert(sql1("SELECT string_split_regex('a1b22c', '[0-9]+')") ==
      Seq("a", "b", "c"))
    assert(sql1("SELECT string_split_regex('ab', '[0-9]')") == Seq("ab"))
    // duckdb: list_slice([1..5], 2, 4) = [2,3,4] (1-based, inclusive);
    // end past the list clamps: list_slice([1,2,3], 2, 9) = [2,3]
    assert(sql1("SELECT list_slice(array(1,2,3,4,5), 2, 4)") == Seq(2, 3, 4))
    assert(sql1("SELECT list_slice(array(1,2,3), 2, 9)") == Seq(2, 3))
    assert(sql1("SELECT list_append(array(1,2), 3)") == Seq(1, 2, 3))
    // duckdb arg order: list_prepend(elem, list)
    assert(sql1("SELECT list_prepend(0, array(1,2))") == Seq(0, 1, 2))
    assert(sql1("SELECT list_concat(array(1,2), array(3))") == Seq(1, 2, 3))
    assert(sql1("SELECT array_length(array(1,2,3))") == 3L)
  }

  test("starts_with/ends_with/prefix/suffix/strpos match DuckDB") {
    assert(sql1("SELECT starts_with('hello','he')") == true)
    assert(sql1("SELECT ends_with('hello','lo')") == true)
    assert(sql1("SELECT prefix('hello','x')") == false)
    assert(sql1("SELECT suffix('hello','lo')") == true)
    // duckdb: strpos 1-based, 0 when absent, BIGINT
    assert(sql1("SELECT strpos('hello','ll')") == 3L)
    assert(sql1("SELECT strpos('hello','x')") == 0L)
  }

  test("string_agg concatenates non-null values with the separator") {
    // duckdb: string_agg over ('a','b',NULL,'c') with '|' = 'a|b|c'
    assert(sql1("SELECT string_agg(x, '|') FROM VALUES ('a'),('b')," +
      "(CAST(NULL AS string)),('c') AS t(x)") == "a|b|c")
  }

  test("json_structure mirrors DuckDB typing") {
    // duckdb: json_structure('{"k": 69}') = {"k":"UBIGINT"}
    assert(sql1("""SELECT json_structure('{"k": 69}')""") ==
      """{"k":"UBIGINT"}""")
    assert(sql1("""SELECT json_structure('{"a": -1, "b": 1.5, "c": "x",
        "d": true, "e": null}')""") ==
      """{"a":"BIGINT","b":"DOUBLE","c":"VARCHAR","d":"BOOLEAN","e":"NULL"}""")
    assert(sql1("""SELECT json_structure('[1, 2]')""") == """["UBIGINT"]""")
    // array merge rules, all pinned against duckdb:
    assert(sql1("""SELECT json_structure('[1, "x"]')""") == """["JSON"]""")
    assert(sql1("""SELECT json_structure('[1, null]')""") == """["UBIGINT"]""")
    assert(sql1("""SELECT json_structure('[1, 1.5]')""") == """["DOUBLE"]""")
    assert(sql1("""SELECT json_structure('[1, -1]')""") == """["BIGINT"]""")
    assert(sql1("""SELECT json_structure('[{"a":1},{"b":2}]')""") ==
      """[{"a":"UBIGINT","b":"UBIGINT"}]""")
    assert(sql1("""SELECT json_structure('[{"a":1},{"a":"x"}]')""") ==
      """[{"a":"JSON"}]""")
    assert(sql1("""SELECT json_structure('[{"a":1},2]')""") == """["JSON"]""")
    assert(sql1("""SELECT json_structure('[]')""") == """["NULL"]""")
    assert(sql1("""SELECT json_structure('{"n": {"m": [{"x": 1}]}}')""") ==
      """{"n":{"m":[{"x":"UBIGINT"}]}}""")
    assert(sql1("""SELECT json_structure('not json')""") == null)
  }

  test("inet host/family over address strings") {
    assert(sql1("SELECT host('192.168.1.5/24')") == "192.168.1.5")
    assert(sql1("SELECT host('192.168.1.5')") == "192.168.1.5")
    assert(sql1("SELECT family('::1')") == 6)
    assert(sql1("SELECT family('127.0.0.1/8')") == 4)
  }

  test("shims stay codegen-native (no UDF boundary in the plan)") {
    init
    val plan = spark.sql(
      "SELECT strptime(s, '%Y-%m-%d') AS t, len(s) AS l FROM VALUES " +
        "('2024-01-01') v(s)").queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("registration logs no WARN, and the overriding shims still win") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new AbstractAppender("shim-warn-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warns.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    probe.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootCfg = ctx.getConfiguration.getRootLogger
    val registry =
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry"
    val before = LogManager.getLogger(registry).getLevel
    // the registry's warnings must reach the probe whatever the
    // configured levels are
    Configurator.setLevel(registry, Level.WARN)
    rootCfg.addAppender(probe, Level.WARN, null)
    ctx.updateLoggers()
    val fresh = spark.newSession()
    try DialectShims.register(fresh)
    finally {
      rootCfg.removeAppender("shim-warn-probe")
      ctx.updateLoggers()
      Configurator.setLevel(registry, before)
      probe.stop()
    }
    assert(warns.isEmpty, warns)
    // duckdb: len('hello') = 5 as BIGINT (Spark's own len is INT)
    assert(fresh.sql("SELECT len('hello')").head().get(0) == 5L)
    assert(fresh.sql("SELECT string_agg(x, '|') FROM VALUES ('a'),('b') " +
      "AS t(x)").head().getString(0) == "a|b")
  }
}
