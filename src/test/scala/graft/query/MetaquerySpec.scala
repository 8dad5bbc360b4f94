package graft.query

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.config.PartitionSpec
import graft.ingest.Ingest
import graft.lake.Lake

class MetaquerySpec extends AnyFunSuite with SparkTest {

  private lazy val lake: Lake = {
    val root = Files.createTempDirectory("graft_meta").toString
    val l = Lake(s"$root/lake")
    import spark.implicits._
    val src = Seq(
      (1L, "2024-03-01 10:00:00", "eu", 3.5),
      (2L, "2024-03-02 11:00:00", "us", 1.25))
      .toDF("id", "ts", "region", "score")
    Ingest.collectBatch(spark, l,
      PartitionSpec("metrics", "p0", tpIndexColumn = Some("region")),
      src, timestampColumn = "ts")
    l
  }

  test(".inspect lists lake tables") {
    val out = Metaquery.inspectTables(spark, lake)
    assert(out.contains("| Table "))
    assert(out.contains("| metrics "))
    assert(out.contains("| core "))
  }

  test(".inspect <table> sorts tp_ columns last, engine type names") {
    val out = Metaquery.inspectSchema(spark, lake, "metrics")
    val lines = out.linesIterator.filter(_.startsWith("|")).toSeq.tail
    val cols = lines.map(_.split("\\|")(1).trim)
    assert(cols.takeWhile(!_.startsWith("tp_")) == cols.filterNot(_.startsWith("tp_")),
      s"tp_ columns must come last, got: $cols")
    assert(out.contains("| score ") && out.contains("| double "))
    assert(out.contains("| tp_timestamp ") && out.contains("| timestamp "))
  }

  test(".inspect unknown table errors like the reference") {
    val e = intercept[IllegalArgumentException](
      Metaquery.inspectSchema(spark, lake, "nope"))
    assert(e.getMessage.contains("could not find a view named 'nope'"))
  }

  test("describe resolves column defs without executing") {
    import spark.implicits._
    Seq((1, "x")).toDF("a", "b").createOrReplaceTempView("t_desc")
    val defs = Metaquery.describe(spark,
      "select a + 1 as a2, upper(b) as ub, count(*) over () as n from t_desc;")
    assert(defs == Seq("a2" -> "integer", "ub" -> "varchar", "n" -> "bigint"))
  }

  test("state commands mutate QueryState") {
    val st = Metaquery.QueryState()
    Metaquery.handle(spark, lake, st, ".output csv")
    Metaquery.handle(spark, lake, st, ".header off")
    Metaquery.handle(spark, lake, st, ".separator ;")
    Metaquery.handle(spark, lake, st, ".multi on")
    assert(st.output == "csv" && !st.header && st.separator == ";" && st.multi)
    Metaquery.handle(spark, lake, st, ".exit")
    assert(st.done)
    intercept[IllegalArgumentException](
      Metaquery.handle(spark, lake, st, ".output xml"))
    intercept[IllegalArgumentException](
      Metaquery.handle(spark, lake, st, ".bogus"))
  }

  test(".explain prints the physical plan; clean queries get no warnings") {
    Views.register(spark, lake, Views.Filters())
    val st = Metaquery.QueryState()
    val out = Metaquery.handle(spark, lake, st,
      ".explain select region, count(*) from metrics group by region")
    assert(out.contains("HashAggregate"), out)
    assert(!out.contains("WARNING"), out)
  }

  test(".explain flags cartesian joins and single-partition windows") {
    Views.register(spark, lake, Views.Filters())
    val st = Metaquery.QueryState()
    val cart = Metaquery.handle(spark, lake, st,
      ".explain select * from metrics a, metrics b where a.score < b.score")
    // plans CartesianProduct or BroadcastNestedLoopJoin depending on
    // size estimates — both are per-row-pair shapes and both warn
    assert(cart.contains("WARNING") && cart.contains("row pair"), cart)
    val win = Metaquery.handle(spark, lake, st,
      ".explain select id, row_number() over (order by id) rn from metrics")
    assert(win.contains("WARNING") && win.contains("PARTITION BY"), win)
    // the empty statement errors loudly
    intercept[IllegalArgumentException](
      Metaquery.handle(spark, lake, st, ".explain"))
  }

  test(".explain suggests metadata serving for a narrowly-missed " +
      "aggregate; fires (and goes quiet) once stats exist") {
    Views.register(spark, lake, Views.Filters())
    val st = Metaquery.QueryState()
    // no colstats yet: the rewrite is structurally possible but
    // declines — the lint names the one command that enables it
    val missed = Metaquery.handle(spark, lake, st,
      ".explain select count(*) as n, max(score) as mx from metrics")
    assert(missed.contains("WARNING") &&
      missed.contains("table analyze --columns score"), missed)
    lake.enableColumnStats(spark, "metrics", Seq("score"))
    val served = Metaquery.handle(spark, lake, st,
      ".explain select count(*) as n, max(score) as mx from metrics")
    assert(served.contains("LocalTableScan"), served)
    assert(!served.contains("could be answered"), served)
    // the manifest's recorded ts_nulls proves the files null-ts-free,
    // so a band is served with no tp_timestamp stats
    val bandServed = Metaquery.handle(spark, lake, st,
      ".explain select count(*) as n from metrics where " +
        "tp_timestamp >= timestamp'2024-03-01 12:00:00'")
    assert(bandServed.contains("LocalTableScan") &&
      !bandServed.contains("could be answered"), bandServed)
    // a manifest written before ts_nulls existed carries no such
    // proof: with no tp_timestamp stats either, a tp_timestamp band
    // misses the HYBRID and the hint names that column
    graft.lake.OlderManifests.dropTsNulls(spark, lake, "metrics")
    val bandMiss = Metaquery.handle(spark, lake, st,
      ".explain select count(*) as n from metrics where " +
        "tp_timestamp >= timestamp'2024-03-01 12:00:00'")
    assert(bandMiss.contains("WARNING") &&
      bandMiss.contains("tp_timestamp"), bandMiss)
    // OR-of-bands and IN-lists are band shapes too: their misses lint
    val orMiss = Metaquery.handle(spark, lake, st,
      ".explain select count(*) as n from metrics where " +
        "tp_timestamp < timestamp'2024-03-01 06:00:00' or " +
        "tp_timestamp > timestamp'2024-03-01 18:00:00'")
    assert(orMiss.contains("WARNING") &&
      orMiss.contains("tp_timestamp"), orMiss)
    val inMiss = Metaquery.handle(spark, lake, st,
      ".explain select count(*) as n from metrics where " +
        "tp_date in (DATE'2024-03-01', DATE'2024-03-02')")
    assert(inMiss.contains("WARNING") &&
      inMiss.contains("tp_timestamp"), inMiss)
    // a banded top-k is never served, stats or not: no promise made
    val topkBand = Metaquery.handle(spark, lake, st,
      ".explain select graft_topk(tp_partition, 2) as t from metrics " +
        "where tp_timestamp >= timestamp'2024-03-01 12:00:00'")
    assert(!topkBand.contains("could be answered"), topkBand)
    // a GROUP BY tp_date / date_trunc bucket that missed the hybrid
    // (no tp_timestamp stats → no containment proof) names that
    // column in the hint — the reporting-query enablement story
    val bucketMiss = Metaquery.handle(spark, lake, st,
      ".explain select tp_date, count(*) as n from metrics " +
        "group by tp_date")
    assert(bucketMiss.contains("WARNING") &&
      bucketMiss.contains("tp_timestamp"), bucketMiss)
    val truncMiss = Metaquery.handle(spark, lake, st,
      ".explain select date_trunc('DAY', tp_timestamp) as d, " +
        "count(*) as n from metrics group by 1")
    assert(truncMiss.contains("WARNING") &&
      truncMiss.contains("tp_timestamp"), truncMiss)
    // calendar grains are servable shapes now (r19) — the lint covers
    // the monthly report too
    val monthMiss = Metaquery.handle(spark, lake, st,
      ".explain select date_trunc('MONTH', tp_timestamp) as mo, " +
        "count(*) as n from metrics group by 1")
    assert(monthMiss.contains("WARNING") &&
      monthMiss.contains("tp_timestamp"), monthMiss)
    // extract keys are servable shapes too (r19): the layout report
    // year(ts), month(ts) lints when it misses; an UNSERVABLE grain
    // pair (week × year has no common refinement) must NOT lint —
    // "could be answered" would be a false promise there
    val ymMiss = Metaquery.handle(spark, lake, st,
      ".explain select year(tp_timestamp) as y, " +
        "month(tp_timestamp) as m, count(*) as n from metrics " +
        "group by 1, 2")
    assert(ymMiss.contains("WARNING") &&
      ymMiss.contains("tp_timestamp"), ymMiss)
    val wyNoLint = Metaquery.handle(spark, lake, st,
      ".explain select date_trunc('WEEK', tp_timestamp) as w, " +
        "year(tp_timestamp) as y, count(*) as n from metrics " +
        "group by 1, 2")
    assert(!wyNoLint.contains("WARNING"), wyNoLint)
  }

  test("planWarnings flags a stream-stream join left at the session " +
    "default partition count, quiet once sized") {
    // the qi22 trap: the state partition count freezes into the
    // checkpoint layout at first start. A streaming physical plan only
    // exists once a batch ran, so drive a real micro-query on memory
    // streams and capture its executed plan — not a crafted string.
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val default = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def ijoinPlan(parts: Int, tag: String): String = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
        val l = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, java.sql.Timestamp, Long)]
        val r = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, java.sql.Timestamp, Long)]
        l.addData((1L, t0, 1L)); r.addData((2L, t0, 1L))
        val joined = graft.streaming.StreamIngest.intervalJoin(
          l.toDF().toDF("l_id", "l_ts", "l_k"),
          r.toDF().toDF("r_id", "r_ts", "r_k"),
          "l_k", "r_k", "l_ts", "r_ts",
          before = "10 minutes", after = "10 minutes",
          leftDelay = "30 minutes", rightDelay = "30 minutes")
        val q = joined.writeStream.format("memory")
          .queryName(s"mq_plan_$tag").outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val baos = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(baos, true, "UTF-8")) {
          q.explain()
        }
        baos.toString("UTF-8")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val plan = ijoinPlan(default, "default")
    assert(plan.contains("StreamingSymmetricHashJoin"), plan.take(1500))
    val fired = Metaquery.planWarnings(plan, Some(default))
    assert(fired.exists(_.contains("frozen into the checkpoint")),
      s"$fired\n${plan.take(1500)}")
    // the FIXED plan: partitions sized to key cardinality ≠ default
    val quiet = Metaquery.planWarnings(ijoinPlan(7, "sized"), Some(default))
    assert(!quiet.exists(_.contains("frozen into the checkpoint")), quiet)
  }

  test("planWarnings flags an unhinted partitioned write, quiet with " +
    "REBALANCE or repartition upstream") {
    // the fragment-explosion trap: tasks × live dirs output files
    val root = Files.createTempDirectory("graft_pw").toString
    spark.sql(s"CREATE TABLE pw_t (v BIGINT, p INT) USING parquet " +
      s"PARTITIONED BY (p) LOCATION '$root/pw_t'")
    try {
      def planOf(sql: String): String =
        spark.sql(sql).queryExecution.executedPlan.toString
      val naked = planOf(
        "INSERT INTO pw_t SELECT id AS v, cast(id % 5 AS int) AS p " +
          "FROM range(100)")
      val fired = Metaquery.planWarnings(naked, None)
      assert(fired.exists(_.contains("partitioned write")),
        s"$fired\n${naked.take(1500)}")
      val hinted = planOf(
        "INSERT INTO pw_t SELECT /*+ REBALANCE(p) */ id AS v, " +
          "cast(id % 5 AS int) AS p FROM range(100)")
      val quiet = Metaquery.planWarnings(hinted, None)
      assert(!quiet.exists(_.contains("partitioned write")),
        s"$quiet\n${hinted.take(1500)}")
      val repart = planOf(
        "INSERT INTO pw_t SELECT /*+ REPARTITION(p) */ id AS v, " +
          "cast(id % 5 AS int) AS p FROM range(100)")
      assert(!Metaquery.planWarnings(repart, None)
        .exists(_.contains("partitioned write")), repart.take(1500))
      // a fat CASE expression as a raw range-partition key: the
      // exchange evaluates it interpreted (the r14 zorder finding,
      // 57.6 vs 8.8 s at 10M) — warn; the materialized-column form of
      // the SAME key is quiet
      import org.apache.spark.sql.functions.{col => c, lit, when => w}
      val chain = (1 to 20).foldLeft(lit(0L)) { (acc, i) =>
        acc + w(c("id") >= i, 1L).otherwise(0L)
      }
      val rawKeyPlan = spark.range(1000).toDF("id")
        .repartitionByRange(4, chain)
        .queryExecution.executedPlan.toString
      assert(rawKeyPlan.contains("rangepartitioning("), rawKeyPlan.take(800))
      assert(Metaquery.planWarnings(rawKeyPlan, None)
        .exists(_.contains("range partitioning keyed")),
        rawKeyPlan.take(1500))
      val matKeyPlan = spark.range(1000).toDF("id")
        .withColumn("z", chain)
        .repartitionByRange(4, c("z"))
        .queryExecution.executedPlan.toString
      assert(!Metaquery.planWarnings(matKeyPlan, None)
        .exists(_.contains("range partitioning keyed")),
        matKeyPlan.take(1500))
      // a BENIGN first range exchange (plain ORDER BY) must not mask
      // a later fat-CASE one — the lint scans ALL occurrences (r14
      // advice: indexOf stopped at the first)
      // plan string prints top-down, so the final orderBy's benign
      // range exchange is the FIRST `rangepartitioning(` occurrence
      val masked = spark.range(1000).toDF("id")
        .repartitionByRange(4, chain)
        .orderBy(c("id"))
        .queryExecution.executedPlan.toString
      assert("rangepartitioning\\(".r.findAllMatchIn(masked).size >= 2,
        masked.take(1500))
      assert(Metaquery.planWarnings(masked, None)
        .exists(_.contains("range partitioning keyed")),
        masked.take(1500))
      // the agg-then-write shape: the aggregate's exchange hashes on
      // the GROUP BY key, NOT the write's partition column — r13's
      // lint accepted any hashpartitioning anywhere and went quiet
      // here (systematic false negative, r13 ADVICE)
      val aggFed = planOf(
        "INSERT INTO pw_t SELECT sum(id) AS v, " +
          "cast(max(id) % 5 AS int) AS p FROM range(100) GROUP BY id % 3")
      assert(aggFed.contains("hashpartitioning("), aggFed.take(1500))
      assert(Metaquery.planWarnings(aggFed, None)
        .exists(_.contains("partitioned write")), aggFed.take(1500))
    } finally {
      spark.sql("DROP TABLE IF EXISTS pw_t")
      ()
    }
  }
}
