package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.config.PartitionSpec
import graft.query.{ScanAudit, Views}

/** [[MetadataAggregateRule]]: whole-table count/min/max SQL answered
  * from the manifest + colstats sidecar with zero data-file reads —
  * and, just as important, every case where it must NOT fire: filters,
  * grouping, distinct, unsupported aggregates, missing coverage,
  * pre-pruned relations. Exactness of the fired path is additionally
  * DuckDB-gated by qi33.
  */
class MetadataAggregateRuleSpec extends AnyFunSuite with SparkTest {

  /** Banded fixture with nulls: ids 0..299 over three appends (every
    * 10th v is null) plus a 50-row all-null-v file.
    */
  private def fixture(): (Lake, String) = {
    val lake = Lake(Files.createTempDirectory("graft_metaagg").toString)
    val spec = PartitionSpec("ma", "p0", tpIndexColumn = Some("idx"))
    def batch(lo: Int, n: Int, nullV: Boolean = false) = {
      val raw = spark.range(lo, lo + n).select(
        col("id").as("event_id"),
        expr("timestamp '2024-03-05 00:00:00' + " +
          "make_interval(0,0,0,0,0,0, id*1000)").as("tp_timestamp"),
        lit("0").as("idx"),
        (if (nullV) lit(null).cast("double")
         else when(col("id") % 10 === 0, lit(null))
           .otherwise(col("id").cast("double"))).as("v"),
        concat(lit("s-"), lpad(col("id").cast("string"), 5, "0")).as("src"))
      TpSchema.enrich(raw, spec)
    }
    for (lo <- Seq(0, 100, 200)) lake.append(spark, "ma", batch(lo, 100))
    lake.append(spark, "ma", batch(1000, 50, nullV = true))
    lake.enableColumnStats(spark, "ma",
      Seq("v", "src", "event_id", "tp_timestamp"))
    Views.register(spark, lake, Views.Filters())
    (lake, "ma")
  }

  /** Ground truth through the PLAIN parquet reader (no zone index, so
    * the rule cannot touch it).
    */
  private def truth(lake: Lake, t: String): Row = {
    val df = spark.read.option("basePath", lake.tableDir(t))
      .parquet(lake.tableDir(t))
    df.agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
      min(col("v")).as("mnv"), max(col("v")).as("mxv"),
      min(col("src")).as("mns"), max(col("src")).as("mxs"),
      min(col("tp_timestamp")).as("mnt"),
      max(col("tp_timestamp")).as("mxt")).head()
  }

  test("whole-table count/min/max SQL reads ZERO data files") {
    val (lake, t) = fixture()
    val want = truth(lake, t)
    val q = spark.sql(s"""
      SELECT count(*) AS n, count(v) AS nv, min(v) AS mnv, max(v) AS mxv,
             min(src) AS mns, max(src) AS mxs,
             min(tp_timestamp) AS mnt, max(tp_timestamp) AS mxt
      FROM $t""")
    val files = ScanAudit.filesReadAfterRun(q)
    assert(files === 0, s"metadata aggregate still scanned $files files")
    assert(q.head() === want)
  }

  test("DataFrame-API whole-table aggregate is rewritten too") {
    val (lake, t) = fixture()
    val q = lake.read(spark, t).agg(
      count(lit(1)).as("n"), max(col("v")).as("mxv"))
    val files = ScanAudit.filesReadAfterRun(q)
    assert(files === 0)
    val r = q.head()
    assert(r.getLong(0) === 350L)
    assert(r.getDouble(1) === 299.0)
  }

  test("a WHERE clause keeps the normal scanning plan") {
    val (lake, t) = fixture()
    val q = spark.sql(s"SELECT count(*) AS n FROM $t WHERE v > 150.0")
    val files = ScanAudit.filesReadAfterRun(q)
    assert(files > 0, "filtered aggregate must not be metadata-served")
    assert(q.head().getLong(0) ===
      (151 to 299).count(_ % 10 != 0).toLong)
  }

  test("grouping, distinct, and unsupported aggregates decline") {
    val (lake, t) = fixture()
    val grouped = spark.sql(
      s"SELECT idx, count(*) AS n FROM $t GROUP BY idx")
    assert(ScanAudit.filesReadAfterRun(grouped) > 0)
    val distinct = spark.sql(
      s"SELECT count(DISTINCT v) AS n FROM $t")
    assert(ScanAudit.filesReadAfterRun(distinct) > 0)
    val summed = spark.sql(
      s"SELECT count(*) AS n, sum(v) AS sv FROM $t")
    assert(ScanAudit.filesReadAfterRun(summed) > 0)
    // and each still answers correctly through the normal plan
    assert(summed.head().getLong(0) === 350L)
  }

  test("missing sidecar coverage declines (normal plan, same answer)") {
    val (lake, t) = fixture()
    val want = truth(lake, t)
    // strip one file's sidecar rows
    val victim = lake.fileStats(spark, t).orderBy("file").head().getString(0)
    val sidecarDir = s"${lake.tableDir(t)}/_graft_colstats"
    val kept = spark.read.parquet(sidecarDir)
      .where(col("file") =!= victim)
    val rows = kept.collect().toSeq
    val schema = kept.schema
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(sidecarDir)
    val q = spark.sql(s"SELECT count(*) AS n, min(v) AS mnv FROM $t")
    val files = ScanAudit.filesReadAfterRun(q)
    assert(files > 0, "uncovered table must scan, not trust metadata")
    assert(q.head().getLong(0) === want.getAs[Long]("n"))
    assert(q.head().getDouble(1) === want.getAs[Double]("mnv"))
  }

  test("count(*)-only needs no sidecar at all (manifest-served)") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_ns").toString)
    val spec = PartitionSpec("ns", "p0", tpIndexColumn = Some("idx"))
    val raw = spark.range(0, 123).select(
      col("id").as("event_id"),
      expr("timestamp '2024-03-05 00:00:00'").as("tp_timestamp"),
      lit("0").as("idx"))
    lake.append(spark, "ns", TpSchema.enrich(raw, spec))
    Views.register(spark, lake, Views.Filters())
    val q = spark.sql("SELECT count(*) AS n FROM ns")
    assert(ScanAudit.filesReadAfterRun(q) === 0)
    assert(q.head().getLong(0) === 123L)
  }

  test("GROUP BY partition columns is metadata-served per group") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_gp").toString)
    // two partitions × banded appends: groups = directories
    for (p <- Seq("p0", "p1")) {
      val spec = PartitionSpec("gp", p, tpIndexColumn = Some("idx"))
      val raw = spark.range(if (p == "p0") 0 else 500,
        (if (p == "p0") 0 else 500) + 200).select(
        col("id").as("event_id"),
        expr("timestamp '2024-03-05 00:00:00' + " +
          "make_interval(0,0,0,0,0,0, id*1000)").as("tp_timestamp"),
        (col("id") % 2).cast("string").as("idx"),
        when(col("id") % 10 === 0, lit(null))
          .otherwise(col("id").cast("double")).as("v"))
      lake.append(spark, "gp", TpSchema.enrich(raw, spec))
    }
    lake.enableColumnStats(spark, "gp", Seq("v"))
    Views.register(spark, lake, Views.Filters())
    // truth through the PLAIN reader, grouped the same way
    val want = spark.read.option("basePath", lake.tableDir("gp"))
      .parquet(lake.tableDir("gp"))
      .groupBy(col("tp_partition"), col("tp_index"))
      .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
        min(col("v")).as("mnv"), max(col("v")).as("mxv"))
      .orderBy("tp_partition", "tp_index")
      .collect().toSeq
    val q = spark.sql("""
      SELECT tp_partition, tp_index, count(*) AS n, count(v) AS nv,
             min(v) AS mnv, max(v) AS mxv
      FROM gp GROUP BY tp_partition, tp_index
      ORDER BY tp_partition, tp_index""")
    val files = ScanAudit.filesReadAfterRun(q)
    assert(files === 0, s"grouped metadata aggregate scanned $files files")
    assert(q.collect().toSeq === want)
  }

  test("sum over integral columns is metadata-served; double sums " +
      "decline (order-sensitive)") {
    val (lake, t) = fixture()
    val truth = spark.read.option("basePath", lake.tableDir(t))
      .parquet(lake.tableDir(t))
      .agg(sum(col("event_id"))).head().getLong(0)
    val q = spark.sql(s"SELECT count(*) AS n, sum(event_id) AS s FROM $t")
    assert(ScanAudit.filesReadAfterRun(q) === 0,
      "integral sum should be served from per-file sums")
    assert(q.head().getLong(1) === truth)
    // double sums are order-sensitive: never metadata-served
    val dbl = spark.sql(s"SELECT sum(v) AS s FROM $t")
    assert(ScanAudit.filesReadAfterRun(dbl) > 0)
  }

  test("partition-only WHERE clauses are metadata-served exactly") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_pf").toString)
    for (p <- Seq("p0", "p1")) {
      val spec = PartitionSpec("pf", p, tpIndexColumn = Some("idx"))
      val raw = spark.range(if (p == "p0") 0 else 500,
        (if (p == "p0") 0 else 500) + 200).select(
        col("id").as("event_id"),
        expr("timestamp '2024-03-05 00:00:00' + " +
          "make_interval(0,0,0,0,0,0, id*1000)").as("tp_timestamp"),
        (col("id") % 2).cast("string").as("idx"),
        col("id").cast("double").as("v"))
      lake.append(spark, "pf", TpSchema.enrich(raw, spec))
    }
    lake.enableColumnStats(spark, "pf", Seq("v"))
    Views.register(spark, lake, Views.Filters())
    // equality + comparison + LIKE on partition columns: truth is
    // per-directory constant, so the filter is EXACT on the manifest
    val q = spark.sql("""
      SELECT count(*) AS n, min(v) AS mnv, max(v) AS mxv
      FROM pf WHERE tp_partition = 'p0' AND tp_year = 2024""")
    assert(ScanAudit.filesReadAfterRun(q) === 0)
    val r = q.head()
    assert(r.getLong(0) === 200L)
    assert(r.getDouble(1) === 0.0)
    assert(r.getDouble(2) === 199.0)
    val like = spark.sql(
      "SELECT count(*) AS n FROM pf WHERE tp_partition LIKE 'p%'")
    assert(ScanAudit.filesReadAfterRun(like) === 0)
    assert(like.head().getLong(0) === 400L)
    // a filter excluding every file: count 0 / null mins, still scan-free
    val none = spark.sql(
      "SELECT count(*) AS n, max(v) AS mxv FROM pf " +
        "WHERE tp_partition = 'p9'")
    assert(ScanAudit.filesReadAfterRun(none) === 0)
    val n0 = none.head()
    assert(n0.getLong(0) === 0L)
    assert(n0.isNullAt(1))
    // grouped + partition filter composes
    val gq = spark.sql("""
      SELECT tp_index, count(*) AS n FROM pf
      WHERE tp_partition = 'p1' GROUP BY tp_index ORDER BY tp_index""")
    assert(ScanAudit.filesReadAfterRun(gq) === 0)
    // digit-valued tp_index dirs infer as INT partition values — the
    // rule converts dir strings by the inferred type
    assert(gq.collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq
      === Seq(("0", 100L), ("1", 100L)))
    // mixed partition + data predicate declines to the scanning plan
    val mixed = spark.sql(
      "SELECT count(*) AS n FROM pf WHERE tp_partition = 'p0' AND v < 50")
    assert(ScanAudit.filesReadAfterRun(mixed) > 0)
    assert(mixed.head().getLong(0) === 50L)
  }

  test("GROUP BY a data column (or mixed) keeps the scanning plan") {
    val (lake, t) = fixture()
    val byData = spark.sql(
      s"SELECT src, count(*) AS n FROM $t GROUP BY src")
    assert(ScanAudit.filesReadAfterRun(byData) > 0)
    val mixed = spark.sql(
      s"SELECT tp_partition, src, count(*) AS n FROM $t " +
        "GROUP BY tp_partition, src")
    assert(ScanAudit.filesReadAfterRun(mixed) > 0)
    // grouped + filter also declines
    val filtered = spark.sql(
      s"SELECT tp_partition, count(*) AS n FROM $t " +
        "WHERE v > 10 GROUP BY tp_partition")
    assert(ScanAudit.filesReadAfterRun(filtered) > 0)
  }

  test("time-band SQL: contained files served from metadata, only " +
      "straddlers scanned; fully-contained bands read zero files") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_tb").toString)
    val spec = PartitionSpec("tbq", "p0", tpIndexColumn = Some("idx"))
    def slice(i: Int) = {
      val raw = spark.range(i * 100, (i + 1) * 100).select(
        col("id").as("event_id"),
        expr(s"timestamp '2024-03-05 00:00:00' + " +
          s"make_interval(0,0,0,0,$i,0, (id % 100) * 36)")
          .as("tp_timestamp"),
        lit("0").as("idx"),
        col("id").cast("double").as("v"))
      TpSchema.enrich(raw, spec)
    }
    for (i <- 0 until 8) lake.append(spark, "tbq", slice(i))
    lake.enableColumnStats(spark, "tbq",
      Seq("v", "event_id", "tp_timestamp"))
    Views.register(spark, lake, Views.Filters())
    val total = lake.dataFiles(spark, "tbq").size
    val band = "tp_timestamp >= timestamp'2024-03-05 02:30:00' AND " +
      "tp_timestamp <= timestamp'2024-03-05 05:30:00'"
    val truth = spark.read.option("basePath", lake.tableDir("tbq"))
      .parquet(lake.tableDir("tbq"))
      .where(col("tp_timestamp") >=
        lit(java.sql.Timestamp.valueOf("2024-03-05 02:30:00")) &&
        col("tp_timestamp") <=
          lit(java.sql.Timestamp.valueOf("2024-03-05 05:30:00")))
      .agg(count(lit(1)), min(col("v")), max(col("v")),
        sum(col("event_id"))).head()
    val q = spark.sql("SELECT count(*) AS n, min(v) AS mnv, " +
      s"max(v) AS mxv, sum(event_id) AS s FROM tbq WHERE $band")
    val files = ScanAudit.filesReadAfterRun(q)
    assert(files > 0 && files * 2 < total,
      s"expected only straddlers scanned, got $files of $total")
    assert(q.head() === truth)
    // a band that lands exactly on file boundaries: zero files read
    val q2 = spark.sql("SELECT count(*) AS n, sum(event_id) AS s " +
      "FROM tbq WHERE tp_timestamp >= timestamp'2024-03-05 02:00:00' " +
      "AND tp_timestamp < timestamp'2024-03-05 06:00:00'")
    assert(ScanAudit.filesReadAfterRun(q2) === 0,
      "fully-contained band must be served entirely from metadata")
    val r2 = q2.head()
    assert(r2.getLong(0) === 400L)
    assert(r2.getLong(1) === (200 until 600).map(_.toLong).sum)
    // without tp_timestamp stats the manifest's recorded ts_nulls is
    // the containment proof; a manifest written before it existed has
    // no proof: the rewrite declines and the zoned scan reads the
    // overlapping files
    val lake2 = Lake(
      Files.createTempDirectory("graft_metaagg_tb2").toString)
    val spec2 = PartitionSpec("tbq2", "p0", tpIndexColumn = Some("idx"))
    for (i <- 0 until 4) {
      val raw = spark.range(i * 100, (i + 1) * 100).select(
        col("id").as("event_id"),
        expr(s"timestamp '2024-03-05 00:00:00' + " +
          s"make_interval(0,0,0,0,$i,0, (id % 100) * 36)")
          .as("tp_timestamp"),
        lit("0").as("idx"),
        col("id").cast("double").as("v"))
      lake2.append(spark, "tbq2", TpSchema.enrich(raw, spec2))
    }
    lake2.enableColumnStats(spark, "tbq2", Seq("v", "event_id"))
    Views.register(spark, lake2, Views.Filters())
    def q3 = spark.sql("SELECT count(*) AS n FROM tbq2 WHERE " +
      "tp_timestamp >= timestamp'2024-03-05 01:00:00' AND " +
      "tp_timestamp <= timestamp'2024-03-05 02:59:59'")
    assert(ScanAudit.filesReadAfterRun(q3) === 0)
    assert(q3.head().getLong(0) === 200L)
    OlderManifests.dropTsNulls(spark, lake2, "tbq2")
    assert(ScanAudit.filesReadAfterRun(q3) > 0)
    assert(q3.head().getLong(0) === 200L)
  }

  test("GROUPED time-band SQL: per-group metadata partials merge with " +
      "the straddler scan through the final GROUP BY") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_gb").toString)
    val spec = PartitionSpec("gbq", "p0", tpIndexColumn = Some("idx"))
    def slice(i: Int) = {
      val raw = spark.range(i * 100, (i + 1) * 100).select(
        col("id").as("event_id"),
        expr(s"timestamp '2024-03-05 00:00:00' + " +
          s"make_interval(0,0,0,0,$i,0, (id % 100) * 36)")
          .as("tp_timestamp"),
        concat(lit("t"), (col("id") % 2).cast("string")).as("idx"),
        col("id").cast("double").as("v"))
      TpSchema.enrich(raw, spec)
    }
    for (i <- 0 until 8) lake.append(spark, "gbq", slice(i))
    lake.enableColumnStats(spark, "gbq",
      Seq("v", "event_id", "tp_timestamp"))
    Views.register(spark, lake, Views.Filters())
    val total = lake.dataFiles(spark, "gbq").size
    val from = java.sql.Timestamp.valueOf("2024-03-05 02:30:00")
    val to = java.sql.Timestamp.valueOf("2024-03-05 05:30:00")
    val want = spark.read.option("basePath", lake.tableDir("gbq"))
      .parquet(lake.tableDir("gbq"))
      .where(col("tp_timestamp") >= lit(from) &&
        col("tp_timestamp") <= lit(to))
      .groupBy(col("tp_index"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mnv"),
        max(col("v")).as("mxv"), sum(col("event_id")).as("s"))
      .orderBy("tp_index").collect().toSeq
    val q = spark.sql("""
      SELECT tp_index, count(*) AS n, min(v) AS mnv, max(v) AS mxv,
             sum(event_id) AS s
      FROM gbq
      WHERE tp_timestamp >= timestamp'2024-03-05 02:30:00'
        AND tp_timestamp <= timestamp'2024-03-05 05:30:00'
      GROUP BY tp_index ORDER BY tp_index""")
    val files = ScanAudit.filesReadAfterRun(q)
    assert(files > 0 && files * 2 < total,
      s"grouped band should scan only straddlers: $files of $total")
    assert(q.collect().toSeq === want)
    // fully-contained grouped band: zero files
    val q2 = spark.sql("""
      SELECT tp_index, count(*) AS n FROM gbq
      WHERE tp_timestamp >= timestamp'2024-03-05 02:00:00'
        AND tp_timestamp < timestamp'2024-03-05 06:00:00'
      GROUP BY tp_index ORDER BY tp_index""")
    assert(ScanAudit.filesReadAfterRun(q2) === 0)
    assert(q2.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("t0", 200L), ("t1", 200L)))
  }

  test("count-only columns need no zone ranges; their min/max declines") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_co").toString)
    val spec = PartitionSpec("co", "p0", tpIndexColumn = Some("idx"))
    val raw = spark.range(0, 80).select(
      col("id").as("event_id"),
      expr("timestamp '2024-03-05 00:00:00' + " +
        "make_interval(0,0,0,0,0,0, id*90000)").as("tp_timestamp"),
      lit("0").as("idx"))
    lake.append(spark, "co", TpSchema.enrich(raw, spec))
    // tp_date is DateType: double zones are unsupported for it, but
    // the sidecar's null/row counts serve count(tp_date) and its
    // min/max is the day-truncated MANIFEST ts range (r17: dates are
    // monotone in ts under the UTC-writer convention)
    lake.enableColumnStats(spark, "co", Seq("tp_date"))
    Views.register(spark, lake, Views.Filters())
    val counted = spark.sql("SELECT count(tp_date) AS n FROM co")
    assert(ScanAudit.filesReadAfterRun(counted) === 0)
    assert(counted.head().getLong(0) === 80L)
    val ranged = spark.sql(
      "SELECT min(tp_date) AS d, max(tp_date) AS x FROM co")
    assert(ScanAudit.filesReadAfterRun(ranged) === 0,
      "tp_date min/max rides the manifest ts range")
    val rr = ranged.head()
    assert(rr.getDate(0) === java.sql.Date.valueOf("2024-03-05"))
    // 79 * 90000 s = 7,110,000 s ≈ 82.3 days after Mar 5
    assert(rr.getDate(1) === lake.read(spark, "co")
      .agg(max(col("tp_date"))).head().getDate(0))
  }

  test("avg over integral columns is metadata-served; float/decimal/" +
      "distinct decline") {
    val (lake, t) = fixture()
    val truth = lake.read(spark, t)
      .agg(avg(col("event_id")), count(lit(1))).head()
    val q = spark.sql(s"SELECT avg(event_id) AS a, count(*) AS n FROM $t")
    assert(ScanAudit.filesReadAfterRun(q) === 0,
      "integral avg must be served from the sidecar sums")
    val r = q.head()
    assert(r.getDouble(0) === truth.getDouble(0))
    assert(r.getLong(1) === truth.getLong(1))
    // double column: order-sensitive double sum — must scan
    val dq = spark.sql(s"SELECT avg(v) AS a FROM $t")
    assert(ScanAudit.filesReadAfterRun(dq) > 0,
      "avg over a double column must decline")
    // DISTINCT declines
    val dd = spark.sql(s"SELECT avg(DISTINCT event_id) AS a FROM $t")
    assert(ScanAudit.filesReadAfterRun(dd) > 0)
    // grouped: per-partition avg from the per-group sums
    val gq = spark.sql(s"SELECT tp_index AS k, avg(event_id) AS a " +
      s"FROM $t GROUP BY tp_index")
    assert(ScanAudit.filesReadAfterRun(gq) === 0)
    assert(gq.head().getDouble(1) === truth.getDouble(0)) // one group
  }

  test("avg rides the band hybrid: exact decimal sum + count slots " +
      "merge with the straddler scan") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_av").toString)
    val spec = PartitionSpec("avq", "p0", tpIndexColumn = Some("idx"))
    def slice(i: Int) = {
      val raw = spark.range(i * 100, (i + 1) * 100).select(
        col("id").as("event_id"),
        expr(s"timestamp '2024-03-05 00:00:00' + " +
          s"make_interval(0,0,0,0,$i,0, (id % 100) * 36)")
          .as("tp_timestamp"),
        concat(lit("t"), (col("id") % 2).cast("string")).as("idx"),
        col("id").cast("double").as("v"))
      TpSchema.enrich(raw, spec)
    }
    for (i <- 0 until 8) lake.append(spark, "avq", slice(i))
    lake.enableColumnStats(spark, "avq", Seq("event_id", "tp_timestamp"))
    Views.register(spark, lake, Views.Filters())
    val total = lake.dataFiles(spark, "avq").size
    val band = "tp_timestamp >= timestamp'2024-03-05 02:30:00' AND " +
      "tp_timestamp <= timestamp'2024-03-05 05:30:00'"
    val truth = spark.read.option("basePath", lake.tableDir("avq"))
      .parquet(lake.tableDir("avq"))
      .where(col("tp_timestamp") >=
        lit(java.sql.Timestamp.valueOf("2024-03-05 02:30:00")) &&
        col("tp_timestamp") <=
          lit(java.sql.Timestamp.valueOf("2024-03-05 05:30:00")))
      .agg(avg(col("event_id")), count(lit(1))).head()
    val q = spark.sql(
      s"SELECT avg(event_id) AS a, count(*) AS n FROM avq WHERE $band")
    val files = ScanAudit.filesReadAfterRun(q)
    assert(files > 0 && files * 2 < total,
      s"expected only straddlers scanned, got $files of $total")
    val r = q.head()
    assert(r.getDouble(0) === truth.getDouble(0))
    assert(r.getLong(1) === truth.getLong(1))
    // grouped band avg
    val gTruth = spark.read.option("basePath", lake.tableDir("avq"))
      .parquet(lake.tableDir("avq"))
      .where(col("tp_timestamp") >=
        lit(java.sql.Timestamp.valueOf("2024-03-05 02:30:00")) &&
        col("tp_timestamp") <=
          lit(java.sql.Timestamp.valueOf("2024-03-05 05:30:00")))
      .groupBy("tp_index").agg(avg(col("event_id")).as("a"))
      .orderBy("tp_index").collect()
    val gq = spark.sql(s"SELECT tp_index AS k, avg(event_id) AS a " +
      s"FROM avq WHERE $band GROUP BY tp_index ORDER BY k")
    val gFiles = ScanAudit.filesReadAfterRun(gq)
    assert(gFiles > 0 && gFiles * 2 < total)
    val got = gq.collect()
    assert(got.length === gTruth.length)
    got.zip(gTruth).foreach { case (g, tr) =>
      assert(g.getString(0) === tr.getString(0))
      assert(g.getDouble(1) === tr.getDouble(1))
    }
    // fully-contained band: avg from metadata alone, zero reads
    val fq = spark.sql("SELECT avg(event_id) AS a FROM avq " +
      "WHERE tp_timestamp >= timestamp'2024-03-05 02:00:00' " +
      "AND tp_timestamp < timestamp'2024-03-05 06:00:00'")
    assert(ScanAudit.filesReadAfterRun(fq) === 0)
    assert(fq.head().getDouble(0) ===
      (200 until 600).map(_.toDouble).sum / 400.0)
  }

  test("tp_date bands fold into the micros band: contained slices from " +
      "metadata, straddlers scanned, date equality is the one-day band") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_db").toString)
    val spec = PartitionSpec("dbq", "p0", tpIndexColumn = Some("idx"))
    // six one-day slices, rows spread through each day
    def slice(i: Int) = {
      val raw = spark.range(i * 100, (i + 1) * 100).select(
        col("id").as("event_id"),
        expr(s"timestamp '2024-03-01 00:00:00' + " +
          s"make_interval(0,0,0,$i,0,0, (id % 100) * 860)")
          .as("tp_timestamp"),
        lit("0").as("idx"),
        col("id").cast("double").as("v"))
      TpSchema.enrich(raw, spec)
    }
    for (i <- 0 until 6) lake.append(spark, "dbq", slice(i))
    lake.enableColumnStats(spark, "dbq",
      Seq("v", "event_id", "tp_timestamp"))
    Views.register(spark, lake, Views.Filters())
    val total = lake.dataFiles(spark, "dbq").size
    def truthFor(cond: org.apache.spark.sql.Column) =
      spark.read.option("basePath", lake.tableDir("dbq"))
        .parquet(lake.tableDir("dbq")).where(cond)
        .agg(count(lit(1)), sum(col("event_id")), min(col("v"))).head()
    // days 2..3 exactly → fully contained, zero reads
    val fq = spark.sql("SELECT count(*) AS n, sum(event_id) AS s, " +
      "min(v) AS mn FROM dbq WHERE tp_date >= DATE'2024-03-03' " +
      "AND tp_date <= DATE'2024-03-04'")
    assert(ScanAudit.filesReadAfterRun(fq) === 0,
      "whole-day date band over whole-day files must be scan-free")
    assert(fq.head() === truthFor(
      col("tp_date") >= lit(java.sql.Date.valueOf("2024-03-03")) &&
        col("tp_date") <= lit(java.sql.Date.valueOf("2024-03-04"))))
    // a date lower bound + timestamp upper bound fold into ONE band:
    // day 3 contained, day 4 straddled at noon
    val hq = spark.sql("SELECT count(*) AS n, sum(event_id) AS s, " +
      "min(v) AS mn FROM dbq WHERE tp_date >= DATE'2024-03-04' AND " +
      "tp_timestamp <= timestamp'2024-03-05 12:00:00'")
    val hFiles = ScanAudit.filesReadAfterRun(hq)
    assert(hFiles === 1, s"expected 1 straddler of $total, got $hFiles")
    assert(hq.head() === truthFor(
      col("tp_date") >= lit(java.sql.Date.valueOf("2024-03-04")) &&
        col("tp_timestamp") <=
          lit(java.sql.Timestamp.valueOf("2024-03-05 12:00:00"))))
    // date EQUALITY is the one-day band
    val eq = spark.sql("SELECT count(*) AS n, sum(event_id) AS s, " +
      "min(v) AS mn FROM dbq WHERE tp_date = DATE'2024-03-02'")
    assert(ScanAudit.filesReadAfterRun(eq) === 0)
    val er = eq.head()
    assert(er.getLong(0) === 100L)
    assert(er.getLong(1) === (100 until 200).map(_.toLong).sum)
    // IS NULL on tp_date is not band-expressible: declines to the scan
    val nq = spark.sql(
      "SELECT count(*) AS n FROM dbq WHERE tp_date IS NULL")
    assert(nq.head().getLong(0) === 0L)
  }

  test("ndv() is served by sidecar sketch union; unsupported types " +
      "and band shapes fall back to the scan estimate") {
    val (lake, t) = fixture()
    val exactSrc = lake.read(spark, t)
      .agg(countDistinct(col("src"))).head().getLong(0)
    val exactId = lake.read(spark, t)
      .agg(countDistinct(col("event_id"))).head().getLong(0)
    val q = spark.sql(s"SELECT ndv(src) AS ns, ndv(event_id) AS ni FROM $t")
    assert(ScanAudit.filesReadAfterRun(q) === 0,
      "ndv over stats columns must union sidecar sketches, not scan")
    val r = q.head()
    // lgK=12 HLL: ±1.6% at 2σ — allow 5%
    assert(math.abs(r.getLong(0) - exactSrc) <= exactSrc / 20 + 2,
      s"ndv(src)=${r.getLong(0)} vs exact $exactSrc")
    assert(math.abs(r.getLong(1) - exactId) <= exactId / 20 + 2)
    // grouped: per-partition sketch union, still scan-free
    val gq = spark.sql(s"SELECT tp_partition AS p, ndv(src) AS ns " +
      s"FROM $t GROUP BY tp_partition")
    assert(ScanAudit.filesReadAfterRun(gq) === 0)
    assert(math.abs(gq.head().getLong(1) - exactSrc) <= exactSrc / 20 + 2)
    // a double column is not natively hashed: declines, scan answers
    val dq = spark.sql(s"SELECT ndv(v) AS nv FROM $t")
    assert(ScanAudit.filesReadAfterRun(dq) > 0)
    val exactV = lake.read(spark, t)
      .agg(countDistinct(col("v"))).head().getLong(0)
    assert(math.abs(dq.head().getLong(0) - exactV) <= exactV / 20 + 2)
    // scan path and metadata path estimate the same quantity: both
    // within the published bound of the exact count (pinned above) —
    // and a non-band WHERE keeps the scanning plan
    val wq = spark.sql(s"SELECT ndv(src) AS ns FROM $t WHERE v >= 0")
    assert(ScanAudit.filesReadAfterRun(wq) > 0)
    // band hybrid: contained files' sidecar blobs union with the
    // straddler scan's sketch IN-PLAN (sketch slots, register-max
    // merge) — batch 1 contained, batches 0 and 2 straddle, the
    // null batch (ts day 11+) is outside
    val total = lake.dataFiles(spark, t).size
    val bq = spark.sql(s"SELECT ndv(src) AS ns, count(*) AS n FROM $t " +
      "WHERE tp_timestamp >= timestamp'2024-03-05 13:53:20' " +
      "AND tp_timestamp <= timestamp'2024-03-07 21:26:40'")
    val bFiles = ScanAudit.filesReadAfterRun(bq)
    assert(bFiles > 0 && bFiles < total,
      s"band ndv should scan only straddlers: $bFiles of $total")
    val exactBand = lake.read(spark, t)
      .where(col("tp_timestamp") >=
        lit(java.sql.Timestamp.valueOf("2024-03-05 13:53:20")) &&
        col("tp_timestamp") <=
          lit(java.sql.Timestamp.valueOf("2024-03-07 21:26:40")))
      .agg(countDistinct(col("src"))).head().getLong(0)
    val br = bq.head()
    assert(math.abs(br.getLong(0) - exactBand) <= exactBand / 20 + 2,
      s"band ndv(src)=${br.getLong(0)} vs exact $exactBand")
  }

  test("graft_quantile is served by sidecar KLL merge; bands merge " +
      "sketches in-plan; non-covered columns scan") {
    val (lake, t) = fixture()
    // exact rank window for the estimate: k=200 KLL has ±1.65% rank
    // error (99% conf) — gate each estimate between the exact
    // percentiles at p ± 0.03
    def exactBounds(df: org.apache.spark.sql.DataFrame,
        p: Double): (Double, Double) = {
      val r = df.agg(
        expr(s"percentile(v, ${math.max(0, p - 0.03)})"),
        expr(s"percentile(v, ${math.min(1, p + 0.03)})")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    val q = spark.sql(
      s"SELECT graft_quantile(v, 0.5) AS med, " +
        s"graft_quantile(v, 0.9) AS p90 FROM $t")
    assert(ScanAudit.filesReadAfterRun(q) === 0,
      "quantiles over stats columns must merge sidecar KLL, not scan")
    val r = q.head()
    val (lo50, hi50) = exactBounds(lake.read(spark, t), 0.5)
    val (lo90, hi90) = exactBounds(lake.read(spark, t), 0.9)
    assert(r.getDouble(0) >= lo50 && r.getDouble(0) <= hi50,
      s"median ${r.getDouble(0)} outside [$lo50, $hi50]")
    assert(r.getDouble(1) >= lo90 && r.getDouble(1) <= hi90)
    // grouped: per-partition merge, still scan-free
    val gq = spark.sql(s"SELECT tp_partition AS p, " +
      s"graft_quantile(v, 0.5) AS med FROM $t GROUP BY tp_partition")
    assert(ScanAudit.filesReadAfterRun(gq) === 0)
    assert(gq.head().getDouble(1) >= lo50 && gq.head().getDouble(1) <= hi50)
    // band hybrid: contained blobs merge with the straddler scan's
    // KLL sketch in-plan
    val total = lake.dataFiles(spark, t).size
    val bandLo = "2024-03-05 13:53:20"
    val bandHi = "2024-03-07 21:26:40"
    val bq = spark.sql(s"SELECT graft_quantile(v, 0.5) AS med FROM $t " +
      s"WHERE tp_timestamp >= timestamp'$bandLo' " +
      s"AND tp_timestamp <= timestamp'$bandHi'")
    val bFiles = ScanAudit.filesReadAfterRun(bq)
    assert(bFiles > 0 && bFiles < total,
      s"band quantile should scan only straddlers: $bFiles of $total")
    val bandDf = lake.read(spark, t)
      .where(col("tp_timestamp") >=
        lit(java.sql.Timestamp.valueOf(bandLo)) &&
        col("tp_timestamp") <= lit(java.sql.Timestamp.valueOf(bandHi)))
    val (bLo, bHi) = exactBounds(bandDf, 0.5)
    val bv = bq.head().getDouble(0)
    assert(bv >= bLo && bv <= bHi, s"band median $bv outside [$bLo, $bHi]")
    // every stats column serves — integral ones too
    val uq = spark.sql(
      s"SELECT graft_quantile(event_id, 0.5) AS med FROM $t")
    assert(ScanAudit.filesReadAfterRun(uq) === 0)
    // a non-constant p fails at ANALYSIS with the function's own
    // message (checkInputDataTypes), never inside the optimizer
    val e = intercept[Exception] {
      spark.sql(s"SELECT graft_quantile(v, v) AS x FROM $t").collect()
    }
    assert(e.getMessage.contains("graft_quantile"), e.getMessage)
    // and a non-numeric value column fails the same way
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT graft_quantile(src, 0.5) AS x FROM $t").collect()
    }
    assert(e2.getMessage.contains("graft_quantile"), e2.getMessage)
  }

  test("a non-UTC reader session declines the tp_date fold (and the " +
      "manifest-served tp_date range): answers stay right via the scan") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_tz").toString)
    val spec = PartitionSpec("tzq", "p0", tpIndexColumn = Some("idx"))
    val raw = spark.range(0, 50).select(
      col("id").as("event_id"),
      expr("timestamp '2024-03-05 00:00:00' + " +
        "make_interval(0,0,0,0,0,0, id*1000)").as("tp_timestamp"),
      lit("0").as("idx"), col("id").cast("double").as("v"))
    lake.append(spark, "tzq", TpSchema.enrich(raw, spec))
    lake.enableColumnStats(spark, "tzq",
      Seq("v", "tp_timestamp", "tp_date"))
    Views.register(spark, lake, Views.Filters())
    val tzKey = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      // the date→micros equivalence assumes the UTC convention; a
      // non-UTC session signals a deployment where it may not hold,
      // so date shapes must fall back to the (correct) scan
      val dq = spark.sql("SELECT count(*) AS n FROM tzq " +
        "WHERE tp_date = DATE'2024-03-05'")
      assert(ScanAudit.filesReadAfterRun(dq) > 0,
        "non-UTC session must not serve the date fold from metadata")
      assert(dq.head().getLong(0) === 50L)
      val rq = spark.sql("SELECT min(tp_date) AS d FROM tzq")
      assert(ScanAudit.filesReadAfterRun(rq) > 0,
        "non-UTC session must not serve tp_date ranges from the manifest")
      assert(rq.head().getDate(0) === java.sql.Date.valueOf("2024-03-05"))
    } finally spark.conf.set(tzKey, prev)
    // back in UTC both serve scan-free
    val uq = spark.sql("SELECT min(tp_date) AS d, count(*) AS n FROM tzq " +
      "WHERE tp_date = DATE'2024-03-05'")
    assert(ScanAudit.filesReadAfterRun(uq) === 0)
  }

  test("a subquery in the WHERE declines cleanly (no optimizer throw)") {
    val (lake, t) = fixture()
    // ScalarSubquery references only a partition column and is
    // deterministic, but it is Unevaluable — per-file eval inside the
    // optimizer would throw UnsupportedOperationException and FAIL a
    // query that runs fine unrewritten (r16 ADVICE-high). The rule
    // must decline; the plan scans and the answer stays right.
    val q = spark.sql(
      s"SELECT count(*) AS n FROM $t " +
        s"WHERE tp_year = (SELECT max(tp_year) FROM $t)")
    assert(q.head().getLong(0) === 350L) // every fixture row is 2024
    // IN-subquery shape too
    val q2 = spark.sql(
      s"SELECT count(*) AS n, max(v) AS mx FROM $t " +
        s"WHERE tp_partition IN (SELECT tp_partition FROM $t)")
    assert(q2.head().getLong(0) === 350L)
  }

  test("HAVING / ORDER BY / LIMIT over metadata-served groups stay " +
      "scan-free (operators compose above the LocalRelation)") {
    val (lake, t) = fixture()
    val q = spark.sql(
      s"SELECT tp_index AS k, count(*) AS n, avg(event_id) AS a " +
        s"FROM $t GROUP BY tp_index HAVING count(*) > 1 " +
        s"ORDER BY n DESC LIMIT 5")
    assert(ScanAudit.filesReadAfterRun(q) === 0,
      "HAVING/ORDER BY/LIMIT must ride above the rewritten aggregate")
    val r = q.head()
    assert(r.getLong(1) === 350L)
    // a HAVING the groups fail filters to empty — still scan-free
    val q2 = spark.sql(s"SELECT tp_index AS k, count(*) AS n FROM $t " +
      s"GROUP BY tp_index HAVING count(*) > 1000000")
    assert(ScanAudit.filesReadAfterRun(q2) === 0)
    assert(q2.count() === 0L)
  }

  test("metadata answer stays fresh across appends (no stale caching)") {
    val (lake, t) = fixture()
    val spec = PartitionSpec(t, "p0", tpIndexColumn = Some("idx"))
    val more = spark.range(5000, 5010).select(
      col("id").as("event_id"),
      expr("timestamp '2024-06-01 00:00:00'").as("tp_timestamp"),
      lit("0").as("idx"),
      col("id").cast("double").as("v"),
      lit("zzz").as("src"))
    lake.append(spark, t, TpSchema.enrich(more, spec))
    val q = spark.sql(s"SELECT count(*) AS n, max(v) AS mxv, " +
      s"max(src) AS mxs FROM $t")
    assert(ScanAudit.filesReadAfterRun(q) === 0)
    val r = q.head()
    assert(r.getLong(0) === 360L)
    assert(r.getDouble(1) === 5009.0)
    assert(r.getString(2) === "zzz")
  }

  test("partition columns are DIRECTORY truth: count/min/max/sum/avg " +
      "over tp_year/tp_month/tp_index serve scan-free; null dirs " +
      "count as SQL nulls; estimator aggs decline") {
    val (lake, t) = fixture() // 350 rows, tp_year=2024, tp_month=3
    val q = spark.sql(s"""
      SELECT count(*) AS n, min(tp_year) AS mny, max(tp_year) AS mxy,
             count(tp_month) AS nm, min(tp_month) AS mnm,
             max(tp_month) AS mxm, avg(tp_month) AS am,
             sum(tp_year) AS sy,
             min(tp_index) AS mni, max(tp_index) AS mxi
      FROM $t""")
    val files = ScanAudit.filesReadAfterRun(q)
    assert(files === 0,
      s"partition-column aggregate scanned $files files")
    val r = q.head()
    assert(r.getLong(0) === 350L)
    assert(r.getInt(1) === 2024 && r.getInt(2) === 2024)
    assert(r.getLong(3) === 350L)
    assert(r.getInt(4) === 3 && r.getInt(5) === 3)
    assert(r.getDouble(6) === 3.0)
    assert(r.getLong(7) === 350L * 2024)
    assert(r.get(8).toString === "0" && r.get(9).toString === "0")
    // SELECT DISTINCT over partition keys is the same Aggregate shape
    val qd = spark.sql(s"SELECT DISTINCT tp_index, tp_year FROM $t")
    assert(ScanAudit.filesReadAfterRun(qd) === 0,
      "DISTINCT over partition keys must be directory-served")
    assert(qd.count() === 1L)
    // null partition dirs (null-ts rows in dayLake's bq) are excluded
    // from count/ranges exactly as the scan computes them
    val (lake2, _) = dayLake()
    val q2 = spark.sql(
      "SELECT count(*) AS n, count(tp_year) AS ny, min(tp_year) AS y " +
        "FROM bq")
    assert(ScanAudit.filesReadAfterRun(q2) === 0)
    val r2 = q2.head()
    assert(r2.getLong(0) === 650L && r2.getLong(1) === 640L &&
      r2.getInt(2) === 2024)
    // ndv over a partition column has no per-row sketch: decline to
    // the (correct) scan
    val qn = spark.sql(s"SELECT ndv(tp_index) AS u FROM $t")
    assert(ScanAudit.filesReadAfterRun(qn) > 0)
    assert(qn.head().getLong(0) === 1L)
  }

  test("OR-of-bands: disjoint windows serve contained slices from " +
      "metadata; overlapping windows merge; impure ORs decline") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_or").toString)
    val spec = PartitionSpec("obq", "p0", tpIndexColumn = Some("idx"))
    def slice(i: Int) = {
      val raw = spark.range(i * 100, (i + 1) * 100).select(
        col("id").as("event_id"),
        expr(s"timestamp '2024-03-05 00:00:00' + " +
          s"make_interval(0,0,0,0,$i,0, (id % 100) * 36)")
          .as("tp_timestamp"),
        lit("0").as("idx"),
        col("id").cast("double").as("v"))
      TpSchema.enrich(raw, spec)
    }
    for (i <- 0 until 8) lake.append(spark, "obq", slice(i))
    lake.enableColumnStats(spark, "obq",
      Seq("v", "event_id", "tp_timestamp"))
    Views.register(spark, lake, Views.Filters())
    val total = lake.dataFiles(spark, "obq").size
    def truthFor(where: org.apache.spark.sql.Column): Row =
      spark.read.option("basePath", lake.tableDir("obq"))
        .parquet(lake.tableDir("obq")).where(where)
        .agg(count(lit(1)), min(col("v")), max(col("v")),
          sum(col("event_id")), avg(col("event_id"))).head()
    def ts(s0: String) = lit(java.sql.Timestamp.valueOf(s0))
    // two windows: [01:30, 03:30] (slice 2 contained, 1 and 3
    // straddle) OR [05:00, 06:59:59.999999] (slices 5 and 6 contained)
    val w1 = col("tp_timestamp") >= ts("2024-03-05 01:30:00") &&
      col("tp_timestamp") <= ts("2024-03-05 03:30:00")
    val w2 = col("tp_timestamp") >= ts("2024-03-05 05:00:00") &&
      col("tp_timestamp") <= ts("2024-03-05 06:59:59.999999")
    val q = spark.sql("""
      SELECT count(*) AS n, min(v) AS mnv, max(v) AS mxv,
             sum(event_id) AS s, avg(event_id) AS a
      FROM obq
      WHERE (tp_timestamp >= timestamp'2024-03-05 01:30:00'
             AND tp_timestamp <= timestamp'2024-03-05 03:30:00')
         OR (tp_timestamp >= timestamp'2024-03-05 05:00:00'
             AND tp_timestamp <= timestamp'2024-03-05 06:59:59.999999')""")
    val files = ScanAudit.filesReadAfterRun(q)
    assert(files > 0 && files * 2 < total,
      s"OR-of-bands should scan only straddlers: $files of $total")
    assert(q.head() === truthFor(w1 || w2))
    // overlapping windows MERGE into one band: [02:00, 04:00] ∪
    // [03:00, 05:59:59.999999] = slices 2..5 contained, nothing
    // straddles → ZERO files
    val q2 = spark.sql("""
      SELECT count(*) AS n, sum(event_id) AS s FROM obq
      WHERE (tp_timestamp >= timestamp'2024-03-05 02:00:00'
             AND tp_timestamp <= timestamp'2024-03-05 04:00:00')
         OR (tp_timestamp >= timestamp'2024-03-05 03:00:00'
             AND tp_timestamp <= timestamp'2024-03-05 05:59:59.999999')""")
    assert(ScanAudit.filesReadAfterRun(q2) === 0,
      "overlapping windows must merge and serve fully from metadata")
    val r2 = q2.head()
    assert(r2.getLong(0) === 400L)
    assert(r2.getLong(1) === (200 until 600).map(_.toLong).sum)
    // the GROUPED (partition-key) and BUCKET-grouped shapes ride the
    // same multi-band classification
    val qg = spark.sql("""
      SELECT tp_index AS k, count(*) AS n, sum(event_id) AS s FROM obq
      WHERE (tp_timestamp >= timestamp'2024-03-05 01:30:00'
             AND tp_timestamp <= timestamp'2024-03-05 03:30:00')
         OR (tp_timestamp >= timestamp'2024-03-05 05:00:00'
             AND tp_timestamp <= timestamp'2024-03-05 06:59:59.999999')
      GROUP BY tp_index""")
    val fg = ScanAudit.filesReadAfterRun(qg)
    assert(fg > 0 && fg * 2 < total,
      s"grouped OR-of-bands should scan only straddlers: $fg of $total")
    val wantUngrouped = truthFor(w1 || w2)
    val rg = qg.head()
    // tp_index "0" partition-infers as INT on read — both paths agree
    assert(rg.get(0).toString === "0" &&
      rg.getLong(1) === wantUngrouped.getLong(0) &&
      rg.getLong(2) === wantUngrouped.getLong(3))
    val qb = spark.sql("""
      SELECT date_trunc('HOUR', tp_timestamp) AS h, count(*) AS n
      FROM obq
      WHERE (tp_timestamp >= timestamp'2024-03-05 01:30:00'
             AND tp_timestamp <= timestamp'2024-03-05 03:30:00')
         OR (tp_timestamp >= timestamp'2024-03-05 05:00:00'
             AND tp_timestamp <= timestamp'2024-03-05 06:59:59.999999')
      GROUP BY 1 ORDER BY h""")
    val fb = ScanAudit.filesReadAfterRun(qb)
    assert(fb > 0 && fb * 2 < total,
      s"bucket OR-of-bands should scan only straddlers: $fb of $total")
    val truthB = spark.read.option("basePath", lake.tableDir("obq"))
      .parquet(lake.tableDir("obq")).where(w1 || w2)
      .groupBy(date_trunc("HOUR", col("tp_timestamp")).as("h"))
      .agg(count(lit(1)).as("n")).orderBy("h").collect().toSeq
    assert(qb.collect().toSeq === truthB)
    // an OR with a NON-band branch cannot be factored: decline (scan),
    // answer intact
    val q3 = spark.sql("""
      SELECT count(*) AS n FROM obq
      WHERE (tp_timestamp >= timestamp'2024-03-05 02:00:00'
             AND tp_timestamp <= timestamp'2024-03-05 04:00:00')
         OR v >= 700""")
    assert(ScanAudit.filesReadAfterRun(q3) > 0,
      "an impure OR branch must decline to the scan")
    val want3 = truthFor((col("tp_timestamp") >= ts("2024-03-05 02:00:00") &&
      col("tp_timestamp") <= ts("2024-03-05 04:00:00")) ||
      col("v") >= 700).getLong(0)
    assert(q3.head().getLong(0) === want3)
    // TWO independent OR-of-band conjuncts (an intersection of unions)
    // decline too — only one disjunction is factored
    val q4 = spark.sql("""
      SELECT count(*) AS n FROM obq
      WHERE ((tp_timestamp >= timestamp'2024-03-05 01:00:00'
              AND tp_timestamp <= timestamp'2024-03-05 04:00:00')
         OR tp_timestamp >= timestamp'2024-03-05 06:00:00')
        AND ((tp_timestamp <= timestamp'2024-03-05 02:00:00')
         OR tp_timestamp >= timestamp'2024-03-05 03:00:00')""")
    assert(ScanAudit.filesReadAfterRun(q4) > 0)
    val w4a = (col("tp_timestamp") >= ts("2024-03-05 01:00:00") &&
      col("tp_timestamp") <= ts("2024-03-05 04:00:00")) ||
      col("tp_timestamp") >= ts("2024-03-05 06:00:00")
    val w4b = (col("tp_timestamp") <= ts("2024-03-05 02:00:00")) ||
      col("tp_timestamp") >= ts("2024-03-05 03:00:00")
    assert(q4.head().getLong(0) === truthFor(w4a && w4b).getLong(0))
  }

  /** Day-sliced lake for the bucket-grouped rewrite: six day-contained
    * appends (2024-03-01..06, 100 rows each), one multi-day straddler
    * (Mar 7 12:00 + 40 hourly rows → spans into Mar 9), and 10 null-ts
    * rows folded into a separate append (null bucket fodder — their
    * file can never be proven null-ts-free, so they always scan).
    */
  private def dayLake(): (Lake, Int) = {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_bg").toString)
    val spec = PartitionSpec("bq", "p0", tpIndexColumn = Some("idx"))
    def day(i: Int) = {
      val raw = spark.range(i * 100, (i + 1) * 100).select(
        col("id").as("event_id"),
        expr(s"timestamp '2024-03-01 00:00:00' + " +
          s"make_interval(0,0,0,$i,0,0, (id % 100) * 600)")
          .as("tp_timestamp"),
        lit("0").as("idx"),
        when(col("id") % 10 === 0, lit(null))
          .otherwise(col("id").cast("double")).as("v"))
      TpSchema.enrich(raw, spec)
    }
    for (i <- 0 until 6) lake.append(spark, "bq", day(i))
    val strad = spark.range(600, 640).select(
      col("id").as("event_id"),
      expr("timestamp '2024-03-07 12:00:00' + " +
        "make_interval(0,0,0,0, cast(id-600 AS int),0,0)")
        .as("tp_timestamp"),
      lit("0").as("idx"),
      col("id").cast("double").as("v"))
    lake.append(spark, "bq", TpSchema.enrich(strad, spec))
    val nullTs = spark.range(700, 710).select(
      col("id").as("event_id"),
      lit(null).cast("timestamp").as("tp_timestamp"),
      lit("0").as("idx"),
      col("id").cast("double").as("v"))
    lake.append(spark, "bq", TpSchema.enrich(nullTs, spec))
    lake.enableColumnStats(spark, "bq",
      Seq("v", "event_id", "tp_timestamp"))
    Views.register(spark, lake, Views.Filters())
    (lake, lake.dataFiles(spark, "bq").size)
  }

  test("GROUP BY tp_date: day-contained files served from metadata, " +
      "straddlers (and null-ts files) grouped in-plan") {
    val (lake, total) = dayLake()
    val truth = spark.read.option("basePath", lake.tableDir("bq"))
      .parquet(lake.tableDir("bq"))
      .groupBy("tp_date")
      .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
        min(col("v")).as("mnv"), max(col("v")).as("mxv"),
        sum(col("event_id")).as("s"), avg(col("event_id")).as("a"))
      .orderBy(col("tp_date").asc_nulls_first)
      .collect().toSeq
    val q = spark.sql("""
      SELECT tp_date, count(*) AS n, count(v) AS nv, min(v) AS mnv,
             max(v) AS mxv, sum(event_id) AS s, avg(event_id) AS a
      FROM bq GROUP BY tp_date ORDER BY tp_date ASC NULLS FIRST""")
    val files = ScanAudit.filesReadAfterRun(q)
    assert(files > 0 && files * 2 < total,
      s"day-grouped hybrid should scan only straddlers: $files of $total")
    assert(q.collect().toSeq === truth)
  }

  test("GROUP BY tp_date + a band WHERE that excludes every " +
      "straddler: ZERO files read") {
    val (lake, _) = dayLake()
    val band = "tp_timestamp >= timestamp'2024-03-02 00:00:00' AND " +
      "tp_timestamp < timestamp'2024-03-06 00:00:00'"
    val truth = spark.read.option("basePath", lake.tableDir("bq"))
      .parquet(lake.tableDir("bq"))
      .where(col("tp_timestamp") >=
        lit(java.sql.Timestamp.valueOf("2024-03-02 00:00:00")) &&
        col("tp_timestamp") <
          lit(java.sql.Timestamp.valueOf("2024-03-06 00:00:00")))
      .groupBy("tp_date")
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
      .orderBy("tp_date").collect().toSeq
    val q = spark.sql("SELECT tp_date, count(*) AS n, " +
      s"sum(event_id) AS s FROM bq WHERE $band " +
      "GROUP BY tp_date ORDER BY tp_date")
    assert(ScanAudit.filesReadAfterRun(q) === 0,
      "band excluding all straddlers must be served purely from metadata")
    assert(q.collect().toSeq === truth)
    assert(q.count() === 4L) // days 2..5
  }

  test("GROUP BY date_trunc buckets: fixed grains serve, others and " +
      "mixed grains decline; partition keys compose") {
    val (lake, total) = dayLake()
    // DAY grain over tp_timestamp — same buckets as tp_date, key typed
    // TIMESTAMP; straddlers in-plan
    val q = spark.sql("""
      SELECT date_trunc('DAY', tp_timestamp) AS d, count(*) AS n
      FROM bq GROUP BY 1 ORDER BY d ASC NULLS FIRST""")
    val files = ScanAudit.filesReadAfterRun(q)
    assert(files > 0 && files * 2 < total)
    val truth = spark.read.option("basePath", lake.tableDir("bq"))
      .parquet(lake.tableDir("bq"))
      .groupBy(date_trunc("DAY", col("tp_timestamp")).as("d"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("d").asc_nulls_first).collect().toSeq
    assert(q.collect().toSeq === truth)
    // mixed with a partition key
    val qm = spark.sql("""
      SELECT tp_index, date_trunc('DAY', tp_timestamp) AS d,
             count(*) AS n, sum(event_id) AS s
      FROM bq GROUP BY 1, 2 ORDER BY d ASC NULLS FIRST""")
    val fm = ScanAudit.filesReadAfterRun(qm)
    assert(fm > 0 && fm * 2 < total)
    val truthM = spark.read.option("basePath", lake.tableDir("bq"))
      .parquet(lake.tableDir("bq"))
      .groupBy(col("tp_index"),
        date_trunc("DAY", col("tp_timestamp")).as("d"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
      .orderBy(col("d").asc_nulls_first).collect().toSeq
    assert(qm.collect().toSeq === truthM)
    // WEEK (Monday anchor) and the CALENDAR grains MONTH/QUARTER/YEAR
    // serve too (r18 verdict task 1): containment never needed a fixed
    // width, only a bucket-id function monotone in micros —
    // idOf(min_ts)==idOf(max_ts) proves the file shares one bucket.
    // Every dated file here is week- and month-contained; only the
    // null-ts file scans (its rows land in the null bucket in-plan).
    for (grain <- Seq("WEEK", "MONTH", "QUARTER", "YEAR")) {
      val qd = spark.sql(s"SELECT date_trunc('$grain', tp_timestamp) " +
        s"AS d, count(*) AS n, sum(event_id) AS s FROM bq GROUP BY 1 " +
        "ORDER BY d ASC NULLS FIRST")
      val fd = ScanAudit.filesReadAfterRun(qd)
      assert(fd > 0 && fd * 2 < total,
        s"$grain: only the null-ts file should scan ($fd of $total)")
      val truthD = spark.read.option("basePath", lake.tableDir("bq"))
        .parquet(lake.tableDir("bq"))
        .groupBy(date_trunc(grain, col("tp_timestamp")).as("d"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
        .orderBy(col("d").asc_nulls_first).collect().toSeq
      assert(qd.collect().toSeq === truthD, s"$grain bucket values")
    }
    // the DATE-column spelling of the monthly report:
    // trunc(tp_date, 'MM') — a DateType bucket key, same serve path
    val qt = spark.sql("SELECT trunc(tp_date, 'MM') AS mo, " +
      "count(*) AS n FROM bq GROUP BY 1 ORDER BY mo ASC NULLS FIRST")
    val ft = ScanAudit.filesReadAfterRun(qt)
    assert(ft > 0 && ft * 2 < total, s"trunc(tp_date): $ft of $total")
    val truthT = spark.read.option("basePath", lake.tableDir("bq"))
      .parquet(lake.tableDir("bq"))
      .groupBy(trunc(col("tp_date"), "MM").as("mo"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("mo").asc_nulls_first).collect().toSeq
    assert(qt.collect().toSeq === truthT, "trunc(tp_date, 'MM') values")
    // TWO bucket expressions with a common refinement (hour refines
    // day) contain on the finer grain — nothing here is
    // hour-contained, so the hybrid buys nothing and the scan runs
    // (truly incompatible pairs like week × year are pinned in the
    // EXTRACT-family test)
    val q2 = spark.sql("""
      SELECT tp_date, date_trunc('HOUR', tp_timestamp) AS h,
             count(*) AS n
      FROM bq GROUP BY 1, 2""")
    assert(ScanAudit.filesReadAfterRun(q2) > 0,
      "day×hour over day-sized files must fall back to the scan")
    // bucket + a DATA column declines (src of truth is rows, not files)
    val q3 = spark.sql(
      "SELECT tp_date, v, count(*) AS n FROM bq GROUP BY 1, 2")
    assert(ScanAudit.filesReadAfterRun(q3) > 0)
  }

  test("GROUP BY date_trunc('HOUR'): hour-contained files are fully " +
      "metadata-served") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_bh").toString)
    val spec = PartitionSpec("bh", "p0", tpIndexColumn = Some("idx"))
    def slice(i: Int) = {
      val raw = spark.range(i * 100, (i + 1) * 100).select(
        col("id").as("event_id"),
        expr(s"timestamp '2024-03-05 00:00:00' + " +
          s"make_interval(0,0,0,0,$i,0, (id % 100) * 36)")
          .as("tp_timestamp"),
        lit("0").as("idx"),
        col("id").cast("double").as("v"))
      TpSchema.enrich(raw, spec)
    }
    for (i <- 0 until 8) lake.append(spark, "bh", slice(i))
    lake.enableColumnStats(spark, "bh",
      Seq("v", "event_id", "tp_timestamp"))
    Views.register(spark, lake, Views.Filters())
    val q = spark.sql("""
      SELECT date_trunc('HOUR', tp_timestamp) AS h, count(*) AS n,
             min(v) AS mnv, max(v) AS mxv, sum(event_id) AS s
      FROM bh GROUP BY 1 ORDER BY h""")
    assert(ScanAudit.filesReadAfterRun(q) === 0,
      "hour-contained files must serve hourly buckets scan-free")
    val rows = q.collect()
    assert(rows.length === 8)
    assert(rows.map(_.getLong(1)).forall(_ === 100L))
    assert(rows.head.getTimestamp(0) ===
      java.sql.Timestamp.valueOf("2024-03-05 00:00:00"))
    assert(rows.head.getLong(4) === (0 until 100).map(_.toLong).sum)
    // DAY buckets over the same table: all files share one day —
    // fully served too, one group
    val qd = spark.sql("SELECT tp_date, count(*) AS n FROM bh GROUP BY 1")
    assert(ScanAudit.filesReadAfterRun(qd) === 0)
    val rd = qd.head()
    assert(rd.getDate(0) === java.sql.Date.valueOf("2024-03-05") &&
      rd.getLong(1) === 800L)
    // HAVING / ORDER BY / LIMIT compose above the rewritten bucket
    // aggregate (exactly as over partition groups), still scan-free.
    // min(tp_date) has NO sidecar row of its own here — it derives
    // from tp_timestamp (count via the ts row's nulls, ranges via the
    // day-truncated manifest extremes)
    val qh = spark.sql("""
      SELECT date_trunc('HOUR', tp_timestamp) AS h, count(*) AS n,
             max(tp_timestamp) AS mx, min(tp_date) AS d,
             sum(event_id) AS s
      FROM bh GROUP BY 1 HAVING count(*) >= 100
      ORDER BY s DESC LIMIT 3""")
    assert(ScanAudit.filesReadAfterRun(qh) === 0,
      "HAVING/ORDER/LIMIT must ride above the bucket LocalRelation")
    val rows2 = qh.collect()
    assert(rows2.length === 3)
    // hour 7 holds ids 700..799 — the largest sum
    assert(rows2.head.getTimestamp(0) ===
      java.sql.Timestamp.valueOf("2024-03-05 07:00:00"))
    assert(rows2.head.getLong(4) === (700 until 800).map(_.toLong).sum)
    assert(rows2.head.getTimestamp(2) ===
      java.sql.Timestamp.valueOf("2024-03-05 07:59:24"))
    assert(rows2.forall(_.getDate(3) ===
      java.sql.Date.valueOf("2024-03-05")))
    // ungrouped too: count/min/max of the DERIVED tp_date on a table
    // whose stats never named it
    val qdd = spark.sql("SELECT count(tp_date) AS n, " +
      "min(tp_date) AS mn, max(tp_date) AS mx FROM bh")
    assert(ScanAudit.filesReadAfterRun(qdd) === 0,
      "derived tp_date aggregates must ride the ts row + manifest")
    val rdd = qdd.head()
    assert(rdd.getLong(0) === 800L &&
      rdd.getDate(1) === java.sql.Date.valueOf("2024-03-05") &&
      rdd.getDate(2) === java.sql.Date.valueOf("2024-03-05"))
  }

  test("cast(tp_timestamp AS date) buckets and key-DERIVED outputs " +
      "(cast of the bucket, year(tp_date)) serve with straddler-only " +
      "I/O") {
    val (lake, total) = dayLake()
    // the natural reporting spelling: GROUP BY the trunc, SELECT the
    // trunc cast to date — the cast is an output DERIVED from the
    // group key, substituted on both the metadata and straddler sides
    val q = spark.sql("""
      SELECT cast(date_trunc('DAY', tp_timestamp) AS date) AS day,
             count(*) AS n, sum(event_id) AS s
      FROM bq GROUP BY date_trunc('DAY', tp_timestamp)
      ORDER BY day ASC NULLS FIRST""")
    val files = ScanAudit.filesReadAfterRun(q)
    assert(files > 0 && files * 2 < total,
      s"derived-output day report should scan only straddlers: " +
        s"$files of $total")
    val truth = spark.read.option("basePath", lake.tableDir("bq"))
      .parquet(lake.tableDir("bq"))
      .groupBy(date_trunc("DAY", col("tp_timestamp")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
      .orderBy(col("day").asc_nulls_first).collect().toSeq
    assert(q.collect().toSeq === truth)
    // GROUP BY cast(tp_timestamp AS date): the third day-bucket
    // spelling — key type DATE, same classification
    val q2 = spark.sql("""
      SELECT cast(tp_timestamp AS date) AS day, count(*) AS n
      FROM bq GROUP BY 1 ORDER BY day ASC NULLS FIRST""")
    val f2 = ScanAudit.filesReadAfterRun(q2)
    assert(f2 > 0 && f2 * 2 < total)
    val truth2 = spark.read.option("basePath", lake.tableDir("bq"))
      .parquet(lake.tableDir("bq"))
      .groupBy(col("tp_timestamp").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("day").asc_nulls_first).collect().toSeq
    assert(q2.collect().toSeq === truth2)
    // derived output over the tp_date key (+ the key itself)
    val q3 = spark.sql("""
      SELECT tp_date, year(tp_date) AS y, month(tp_date) AS mo,
             count(*) AS n
      FROM bq
      WHERE tp_timestamp >= timestamp'2024-03-02 00:00:00'
        AND tp_timestamp < timestamp'2024-03-06 00:00:00'
      GROUP BY tp_date ORDER BY tp_date""")
    assert(ScanAudit.filesReadAfterRun(q3) === 0,
      "derived outputs must not break the fully-contained zero-read path")
    val r3 = q3.collect()
    assert(r3.length === 4)
    assert(r3.forall(r => r.getInt(1) === 2024 && r.getInt(2) === 3))
  }

  test("a non-UTC reader session declines bucket grouping (answers " +
      "stay right via the scan); no tp_timestamp stats: no proof") {
    val (lake, _) = dayLake()
    val tzKey = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      val q = spark.sql(
        "SELECT tp_date, count(*) AS n FROM bq GROUP BY 1")
      assert(ScanAudit.filesReadAfterRun(q) > 0,
        "non-UTC session must not serve tp_date buckets from metadata")
      assert(q.agg(sum(col("n"))).head().getLong(0) === 650L)
    } finally spark.conf.set(tzKey, prev)
    // no tp_timestamp sidecar row: the manifest's ts_nulls proves the
    // file null-ts-free; without it (an older manifest) no file is ever
    // bucket-contained → decline (scan), answers intact
    val lake2 = Lake(Files.createTempDirectory("graft_metaagg_bg2").toString)
    val spec2 = PartitionSpec("bq2", "p0", tpIndexColumn = Some("idx"))
    val raw = spark.range(0, 50).select(
      col("id").as("event_id"),
      expr("timestamp '2024-03-05 00:00:00' + " +
        "make_interval(0,0,0,0,0,0, id*1000)").as("tp_timestamp"),
      lit("0").as("idx"), col("id").cast("double").as("v"))
    lake2.append(spark, "bq2", TpSchema.enrich(raw, spec2))
    lake2.enableColumnStats(spark, "bq2", Seq("v"))
    Views.register(spark, lake2, Views.Filters())
    def q2 = spark.sql(
      "SELECT tp_date, count(v) AS n FROM bq2 GROUP BY 1")
    assert(ScanAudit.filesReadAfterRun(q2) === 0)
    assert(q2.head().getLong(1) === 50L)
    OlderManifests.dropTsNulls(spark, lake2, "bq2")
    assert(ScanAudit.filesReadAfterRun(q2) > 0)
    assert(q2.head().getLong(1) === 50L)
  }

  test("HAVING + ORDER BY n DESC + LIMIT compose above the BUCKET " +
      "hybrid: the rewrite still fires, straddlers stay the only scan") {
    val (lake, total) = dayLake()
    val q = spark.sql("""
      SELECT tp_date, count(*) AS n, sum(event_id) AS s
      FROM bq GROUP BY tp_date HAVING count(*) > 30
      ORDER BY n DESC, tp_date LIMIT 4""")
    val files = ScanAudit.filesReadAfterRun(q)
    assert(files > 0 && files * 2 < total,
      s"top-k over the hybrid must scan only straddlers: $files of $total")
    val truth = spark.read.option("basePath", lake.tableDir("bq"))
      .parquet(lake.tableDir("bq"))
      .groupBy("tp_date")
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
      .where(col("n") > 30)
      .orderBy(col("n").desc, col("tp_date")).limit(4)
      .collect().toSeq
    assert(q.collect().toSeq === truth)
  }

  test("count(DISTINCT tp_date): manifest-served when every file is " +
      "day-contained; ONE straddler declines to the (correct) scan") {
    // serve path: a lake of purely day-contained appends — no sidecar
    // stats at all, the proof rides the manifest ts ranges alone
    val lake = Lake(Files.createTempDirectory("graft_metaagg_dd").toString)
    val spec = PartitionSpec("dd", "p0", tpIndexColumn = Some("idx"))
    def day(i: Int) = {
      val raw = spark.range(i * 50, (i + 1) * 50).select(
        col("id").as("event_id"),
        expr(s"timestamp '2024-03-01 00:00:00' + " +
          s"make_interval(0,0,0,$i,0,0, (id % 50) * 600)")
          .as("tp_timestamp"),
        (col("id") % 2).cast("string").as("idx"),
        col("id").cast("double").as("v"))
      TpSchema.enrich(raw, spec)
    }
    for (i <- 0 until 5) lake.append(spark, "dd", day(i))
    Views.register(spark, lake, Views.Filters())
    // ungrouped + grouped by a partition column, mixed with count(*)
    val q = spark.sql(
      "SELECT count(DISTINCT tp_date) AS d, count(*) AS n FROM dd")
    assert(ScanAudit.filesReadAfterRun(q) === 0,
      "day-contained lake must serve distinct days scan-free")
    assert(q.head() === Row(5L, 250L))
    val qg = spark.sql("SELECT tp_index AS k, " +
      "count(DISTINCT tp_date) AS d, count(*) AS n FROM dd " +
      "GROUP BY tp_index ORDER BY k")
    assert(ScanAudit.filesReadAfterRun(qg) === 0)
    // the all-numeric idx dir values infer back as INT partition keys
    assert(qg.collect().toSeq === Seq(Row(0, 5L, 125L), Row(1, 5L, 125L)))
    // banded distinct (r19) — "active days in range": a DAY-ALIGNED
    // band proves every file fully inside or outside, so the count is
    // the inside files' day-set size, scan-free. The count(*) rider
    // needs band containment, which (unlike the distinct-day proof)
    // requires the sidecar's null-ts-free evidence — enable it here;
    // the unbanded asserts above ran stats-free on purpose
    lake.enableColumnStats(spark, "dd", Seq("tp_timestamp"))
    val qb = spark.sql("SELECT count(DISTINCT tp_date) AS d, " +
      "count(*) AS n FROM dd " +
      "WHERE tp_timestamp >= timestamp'2024-03-02 00:00:00' " +
      "AND tp_timestamp < timestamp'2024-03-04 00:00:00'")
    assert(ScanAudit.filesReadAfterRun(qb) === 0,
      "a day-aligned band must serve distinct days scan-free")
    assert(qb.head() === Row(2L, 100L))
    // a band edge CUTTING a day proves nothing for that file (its
    // min/max are rows, but no row is guaranteed inside the band) —
    // decline to the scan, answer intact
    val qbe = spark.sql("SELECT count(DISTINCT tp_date) AS d FROM dd " +
      "WHERE tp_timestamp >= timestamp'2024-03-02 08:00:00'")
    assert(ScanAudit.filesReadAfterRun(qbe) > 0,
      "a mid-day band edge must decline the banded distinct proof")
    assert(qbe.head().getLong(0) === 4L)
    // decline path: one two-day straddler append makes the set
    // unprovable — scan, answers intact
    val strad = spark.range(300, 320).select(
      col("id").as("event_id"),
      expr("timestamp '2024-03-05 12:00:00' + " +
        "make_interval(0,0,0,0, cast(id-300 AS int) * 2,0,0)")
        .as("tp_timestamp"),
      lit("0").as("idx"), col("id").cast("double").as("v"))
    lake.append(spark, "dd", TpSchema.enrich(strad, spec))
    val q2 = spark.sql(
      "SELECT count(DISTINCT tp_date) AS d, count(*) AS n FROM dd")
    assert(ScanAudit.filesReadAfterRun(q2) > 0,
      "a straddler must decline the distinct-day proof")
    assert(q2.head() === Row(7L, 270L)) // Mar 5 12:00 + 38h → Mar 7
    // distinct through the band hybrid declines too (day sets don't
    // slot-merge); the answer comes from the scan and stays right
    val q3 = spark.sql("SELECT count(DISTINCT tp_date) AS d FROM dd " +
      "WHERE tp_timestamp >= timestamp'2024-03-02 00:00:00'")
    assert(q3.head().getLong(0) === 6L)
  }

  test("bucket-expression WHERE filters fold into bands: the " +
      "report-for-month/week-X shape serves from metadata") {
    val (lake, total) = dayLake() // Mar 1-7 days + straddler + null file
    def truthFor(cond: org.apache.spark.sql.Column) =
      spark.read.option("basePath", lake.tableDir("bq"))
        .parquet(lake.tableDir("bq")).where(cond)
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
        .head()
    // WEEK equality: the Mar-4 (Monday) week covers the Mar 4-6 day
    // slices and the Mar 7-9 run (all metadata); the null file, which
    // the manifest's ts_nulls proves all-null, is band-excluded
    val qw = spark.sql("SELECT count(*) AS n, sum(event_id) AS s " +
      "FROM bq WHERE date_trunc('WEEK', tp_timestamp) = " +
      "timestamp'2024-03-04 00:00:00'")
    val fw = ScanAudit.filesReadAfterRun(qw)
    assert(fw === 0,
      s"week-eq fold should read no file: $fw of $total")
    assert(qw.head() === truthFor(
      date_trunc("WEEK", col("tp_timestamp")) ===
        lit(java.sql.Timestamp.valueOf("2024-03-04 00:00:00"))))
    // MONTH >= an UNALIGNED instant: first month start >= Feb 15 is
    // Mar 1 — every dated row qualifies, the null file is excluded
    val qm = spark.sql("SELECT count(*) AS n, sum(event_id) AS s " +
      "FROM bq WHERE date_trunc('MONTH', tp_timestamp) >= " +
      "timestamp'2024-02-15 00:00:00'")
    val fm = ScanAudit.filesReadAfterRun(qm)
    assert(fm === 0, s"$fm of $total")
    assert(qm.head().getLong(0) === 640L)
    // equality to a NON-start is unsatisfiable: empty result, right
    // answer regardless of path
    val qe = spark.sql("SELECT count(*) AS n FROM bq " +
      "WHERE date_trunc('MONTH', tp_timestamp) = " +
      "timestamp'2024-03-02 00:00:00'")
    assert(qe.head().getLong(0) === 0L)
    // the fold composes with the BUCKET GROUPING: daily report for
    // one week
    val qg = spark.sql("SELECT tp_date, count(*) AS n FROM bq " +
      "WHERE date_trunc('WEEK', tp_timestamp) = " +
      "timestamp'2024-03-04 00:00:00' GROUP BY 1 ORDER BY 1")
    val fg = ScanAudit.filesReadAfterRun(qg)
    assert(fg > 0 && fg * 2 < total)
    val truthG = spark.read.option("basePath", lake.tableDir("bq"))
      .parquet(lake.tableDir("bq"))
      .where(date_trunc("WEEK", col("tp_timestamp")) ===
        lit(java.sql.Timestamp.valueOf("2024-03-04 00:00:00")))
      .groupBy("tp_date").agg(count(lit(1)).as("n"))
      .orderBy("tp_date").collect().toSeq
    assert(qg.collect().toSeq === truthG)
    // the DATE spelling folds too: trunc(tp_date, 'MM') on the left
    val qd = spark.sql("SELECT count(*) AS n FROM bq " +
      "WHERE trunc(tp_date, 'MM') = DATE'2024-03-01'")
    val fd = ScanAudit.filesReadAfterRun(qd)
    assert(fd === 0, s"$fd of $total")
    assert(qd.head().getLong(0) === 640L)
    // the SCAN path (no aggregate) prunes too: BucketFilterBandRule
    // rewrites the trunc comparison into a pushable ts band, so the
    // zone-map index skips files outside the Mar-4 week entirely
    val qs = spark.sql("SELECT event_id FROM bq " +
      "WHERE date_trunc('WEEK', tp_timestamp) = " +
      "timestamp'2024-03-04 00:00:00'")
    val fs0 = ScanAudit.filesReadAfterRun(qs)
    // week files (Mar 4-6 days + the straddler) = 4; the Mar 1-3
    // files and the all-null-ts file are skipped at listing time
    assert(fs0 === 4 && fs0 < total,
      s"plain scan must prune non-week files: $fs0 of $total")
    // fixture arithmetic, independent of any rewrite: days Mar 4-6
    // (100 rows each) + the Mar 7-9 straddler (40) = the Mar-4 week
    assert(qs.count() === 340L)
    // negation stays null-exact: NOT(trunc = v) must DROP null-ts
    // rows (three-valued logic) — days Mar 1-3 only, never the 10
    // null-ts rows
    val qn = spark.sql("SELECT count(*) AS n FROM bq " +
      "WHERE NOT (date_trunc('WEEK', tp_timestamp) = " +
      "timestamp'2024-03-04 00:00:00')")
    assert(qn.head().getLong(0) === 300L)
  }

  test("year(ts) comparisons fold into bands: the archive filter " +
      "WHERE year(ts) = 2024 serves from metadata and prunes the scan") {
    val (lake, total) = dayLake() // all dated rows in March 2024
    // aggregate path: the year band contains every dated file, and
    // the manifest proves the null-ts file all-null: nothing scans
    val q = spark.sql("SELECT count(*) AS n, sum(event_id) AS s " +
      "FROM bq WHERE year(tp_timestamp) = 2024")
    val f = ScanAudit.filesReadAfterRun(q)
    assert(f === 0, s"year-eq should read no file: $f of $total")
    assert(q.head().getLong(0) === 640L)
    // the DATE-source spelling folds the same way
    val qd = spark.sql("SELECT count(*) AS n FROM bq " +
      "WHERE year(tp_date) = 2024")
    val fd = ScanAudit.filesReadAfterRun(qd)
    assert(fd === 0, s"$fd of $total")
    assert(qd.head().getLong(0) === 640L)
    // range operators: >= / < restate as bucket-start bounds
    assert(spark.sql("SELECT count(*) AS n FROM bq " +
      "WHERE year(tp_timestamp) >= 2024").head().getLong(0) === 640L)
    assert(spark.sql("SELECT count(*) AS n FROM bq " +
      "WHERE year(tp_timestamp) < 2024").head().getLong(0) === 0L)
    // the fold composes with bucket grouping: daily report for one year
    val qg = spark.sql("SELECT tp_date, count(*) AS n FROM bq " +
      "WHERE year(tp_timestamp) = 2024 GROUP BY 1 ORDER BY 1")
    val fg = ScanAudit.filesReadAfterRun(qg)
    assert(fg > 0 && fg * 2 < total)
    val truthG = spark.read.option("basePath", lake.tableDir("bq"))
      .parquet(lake.tableDir("bq"))
      .where(year(col("tp_timestamp")) === 2024)
      .groupBy("tp_date").agg(count(lit(1)).as("n"))
      .orderBy("tp_date").collect().toSeq
    assert(qg.collect().toSeq === truthG)
    // SCAN path: year(ts) = 2023 matches nothing dated — the zone-map
    // index prunes every dated file, and the null file too: its
    // manifest row records every ts as null
    val qs = spark.sql(
      "SELECT event_id FROM bq WHERE year(tp_timestamp) = 2023")
    val fs0 = ScanAudit.filesReadAfterRun(qs)
    assert(fs0 === 0 && qs.count() === 0L,
      s"2023 scan must prune all dated files: read $fs0 of $total")
    // negation stays null-exact: NOT(year = 2024) is false for every
    // dated row and NULL (dropped) for null-ts rows
    assert(spark.sql("SELECT count(*) AS n FROM bq " +
      "WHERE NOT (year(tp_timestamp) = 2024)").head().getLong(0) === 0L)
    // the ANSI spellings resolve to the same Year expression before
    // extraOptimizations run (RuntimeReplaceable replacement), so
    // extract/date_part fold identically
    val qx = spark.sql("SELECT count(*) AS n FROM bq " +
      "WHERE extract(YEAR FROM tp_timestamp) = 2024")
    val fx = ScanAudit.filesReadAfterRun(qx)
    assert(fx === 0, s"extract(YEAR): $fx of $total")
    assert(qx.head().getLong(0) === 640L)
    assert(spark.sql("SELECT count(*) AS n FROM bq " +
      "WHERE date_part('year', tp_timestamp) = 2024")
      .head().getLong(0) === 640L)
  }

  test("IN-lists fold as OR-of-bands: tp_date IN (...), bucket IN " +
      "(...), year IN (...) on both the aggregate and scan paths") {
    val (lake, total) = dayLake()
    def truthDf = spark.read.option("basePath", lake.tableDir("bq"))
      .parquet(lake.tableDir("bq"))
    // aggregate path: two day members = two bands; the two day files
    // serve from metadata, nothing else scans (Mar 1 and Mar 3 files
    // are band-contained; all other files are band-excluded)
    def q = spark.sql("SELECT count(*) AS n, sum(event_id) AS s " +
      "FROM bq WHERE tp_date IN (DATE'2024-03-01', DATE'2024-03-03')")
    val f = ScanAudit.filesReadAfterRun(q)
    // the null-ts file is band-excluded too: the manifest's ts_nulls
    // proves it all-null, so a band can admit none of its rows
    assert(f === 0, s"two-day IN should read no file: $f of $total")
    assert(q.head().getLong(0) === 200L)
    // year IN: both years fold to one merged band covering everything
    val qy = spark.sql("SELECT count(*) AS n FROM bq " +
      "WHERE year(tp_timestamp) IN (2023, 2024)")
    assert(qy.head().getLong(0) === 640L)
    // IN composes with bucket grouping: daily report for two days
    val qg = spark.sql("SELECT tp_date, count(*) AS n FROM bq " +
      "WHERE tp_date IN (DATE'2024-03-01', DATE'2024-03-03') " +
      "GROUP BY 1 ORDER BY 1")
    // the GROUPED rewrite band-excludes the unknown-range file
    // outright: a band filter is never true on a null ts, so the null
    // group can't appear and nothing needs the scan
    assert(ScanAudit.filesReadAfterRun(qg) === 0)
    val truthG = truthDf
      .where(col("tp_date").isin(
        java.sql.Date.valueOf("2024-03-01"),
        java.sql.Date.valueOf("2024-03-03")))
      .groupBy("tp_date").agg(count(lit(1)).as("n"))
      .orderBy("tp_date").collect().toSeq
    assert(qg.collect().toSeq === truthG)
    // scan path: a bucket-expression IN prunes files through the
    // zone map — months that match nothing dated, and the all-null
    // file, leave nothing to read
    def qs = spark.sql("SELECT event_id FROM bq " +
      "WHERE date_trunc('MONTH', tp_timestamp) IN " +
      "(timestamp'2024-02-01 00:00:00', timestamp'2024-04-01 00:00:00')")
    val fs0 = ScanAudit.filesReadAfterRun(qs)
    assert(fs0 === 0 && qs.count() === 0L,
      s"feb/apr IN must prune all March files: read $fs0 of $total")
    // a NULL member keeps the IN unfolded (never true, only
    // null/true semantics) — answers stay correct via the plain scan
    val qn = spark.sql("SELECT count(*) AS n FROM bq " +
      "WHERE tp_date IN (DATE'2024-03-01', NULL)")
    assert(qn.head().getLong(0) === 100L)
    // >10 members go through OptimizeIn's InSet conversion — the fold
    // handles both spellings (two real days + nine distant ones)
    val members = Seq("2024-03-01", "2024-03-03") ++
      (1 to 9).map(i => s"2030-01-0$i")
    val qb = spark.sql("SELECT count(*) AS n FROM bq WHERE tp_date IN " +
      members.map(d => s"DATE'$d'").mkString("(", ", ", ")"))
    val fb = ScanAudit.filesReadAfterRun(qb)
    assert(fb === 0, s"InSet fold should read no file: $fb of $total")
    assert(qb.head().getLong(0) === 200L)
    // a manifest written before ts_nulls proves nothing about the
    // unknown-range null file: it scans on both paths (and its rows
    // fail the filter row-level)
    OlderManifests.dropTsNulls(spark, lake, "bq")
    assert(ScanAudit.filesReadAfterRun(q) === 1)
    assert(q.head().getLong(0) === 200L)
    assert(ScanAudit.filesReadAfterRun(qs) === 1)
  }

  test("exactly-UTC zone spellings (Etc/UTC, Z, +00:00) SERVE; a real " +
      "non-UTC zone declines (ZoneId normalization, r18 verdict nit 1)") {
    assert(TpSchema.isUtcZone("UTC") && TpSchema.isUtcZone("Etc/UTC") &&
      TpSchema.isUtcZone("Z") && TpSchema.isUtcZone("+00:00") &&
      TpSchema.isUtcZone("GMT"))
    assert(!TpSchema.isUtcZone("America/New_York") &&
      !TpSchema.isUtcZone("+01:00") && !TpSchema.isUtcZone("Europe/London") &&
      !TpSchema.isUtcZone("not-a-zone"))
    val (lake, total) = dayLake()
    val tzKey = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tzKey)
    for (tz <- Seq("Etc/UTC", "Z", "+00:00")) {
      try {
        spark.conf.set(tzKey, tz)
        val q = spark.sql("SELECT tp_date, count(*) AS n FROM bq " +
          "WHERE tp_timestamp >= timestamp'2024-03-02 00:00:00' AND " +
          "tp_timestamp < timestamp'2024-03-06 00:00:00' " +
          "GROUP BY 1 ORDER BY 1")
        assert(ScanAudit.filesReadAfterRun(q) === 0,
          s"'$tz' is exactly UTC and must serve scan-free")
        assert(q.count() === 4L)
      } finally spark.conf.set(tzKey, prev)
    }
  }

  test("calendar bucket-id functions agree with java.time truncation " +
      "over a dense instant sweep (monotone, id↔start roundtrip)") {
    import MetadataAggregateRule.{WeekGrain, MonthsGrain}
    val grains: Seq[MetadataAggregateRule.BucketGrain] =
      Seq(WeekGrain, MonthsGrain(1), MonthsGrain(3), MonthsGrain(12))
    // a sparse sweep across 1969..2025 plus exact boundary instants
    val step = 7L * 3600 + 13 * 60
    val instants =
      (-31536000L to (56L * 31536000L) by step * 997).map(_ * 1000000L) ++
        Seq("1969-12-29T00:00:00Z", "1970-01-01T00:00:00Z",
          "2024-02-29T23:59:59.999999Z", "2024-03-01T00:00:00Z",
          "2024-12-31T23:59:59.999999Z", "2025-01-01T00:00:00Z")
          .map(s => java.time.Instant.parse(s).toEpochMilli * 1000L +
            (if (s.contains("999999")) 999L else 0L))
    for (g <- grains; us <- instants) {
      val id = g.idOf(us)
      val start = g.startUs(id)
      // start is inside the bucket and floors to itself
      assert(g.idOf(start) === id && start <= us)
      // the instant strictly before the start belongs to the bucket
      // before (boundary exactness)
      assert(g.idOf(start - 1) === id - 1)
      // java.time ground truth for the start instant
      val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(start, 86400000000L))
      g match {
        case MetadataAggregateRule.WeekGrain =>
          assert(d.getDayOfWeek === java.time.DayOfWeek.MONDAY)
        case MetadataAggregateRule.MonthsGrain(m) =>
          assert(d.getDayOfMonth === 1 && (d.getMonthValue - 1) % m === 0)
        case _ => fail("unexpected grain")
      }
      assert(Math.floorMod(start, 86400000000L) === 0L)
    }
  }

  test("an alias of a bucket expression that SHADOWS a physical column " +
      "name never serves the wrong column's stats (declines or matches)") {
    val (lake, _) = dayLake()
    // `tp_date AS v` shadows the data column `v`; min(v) then refers to
    // the ALIASED dates. If the rule resolved by NAME it would serve
    // the physical v column's stats (doubles) — the rule's unwrap guard
    // rejects shadowing aliases instead (r18 ADVICE-medium). Pinned by
    // value equality against the stock scan, whichever path runs.
    val shadowed = spark.table("bq")
      .select(col("tp_date").as("v"), col("event_id"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("m"))
      .orderBy(col("v").asc_nulls_first)
    val truth = spark.read.option("basePath", lake.tableDir("bq"))
      .parquet(lake.tableDir("bq"))
      .select(col("tp_date").as("v"), col("event_id"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("m"))
      .orderBy(col("v").asc_nulls_first)
    assert(shadowed.collect().toSeq === truth.collect().toSeq)
  }

  test("EXTRACT-family bucket keys: GROUP BY year(ts), month(ts) — the " +
      "reference's own layout — serves; dayofweek merges buckets " +
      "cross-day; incompatible grain pairs decline") {
    val (lake, total) = dayLake()
    def truthDf = spark.read.option("basePath", lake.tableDir("bq"))
      .parquet(lake.tableDir("bq"))
    // year × month — two bucket-functional keys, containment on MONTH
    // (month refines year); every dated file (incl. the Mar-07→09
    // straddler) is month-contained, so only the null-ts file scans
    val q = spark.sql("""
      SELECT year(tp_timestamp) AS y, month(tp_timestamp) AS m,
             count(*) AS n, sum(event_id) AS s, min(v) AS mnv
      FROM bq GROUP BY 1, 2 ORDER BY y ASC NULLS FIRST, m""")
    val f = ScanAudit.filesReadAfterRun(q)
    assert(f > 0 && f * 2 < total,
      s"year×month: only the null-ts file should scan ($f of $total)")
    val truth = truthDf
      .groupBy(year(col("tp_timestamp")).as("y"),
        month(col("tp_timestamp")).as("m"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"),
        min(col("v")).as("mnv"))
      .orderBy(col("y").asc_nulls_first, col("m")).collect().toSeq
    assert(q.collect().toSeq === truth, "year×month values")
    // dayofweek profile: days Mar 1..6 are contained partials
    // (Fri..Wed); the Mar 7..9 straddler scans and its Thu/Fri/Sat
    // rows MERGE into the same dow keys — a real metadata+scan merge
    // within one group; null ts lands in the null dow group
    val qd = spark.sql("""
      SELECT dayofweek(tp_timestamp) AS dow, count(*) AS n,
             sum(event_id) AS s
      FROM bq GROUP BY 1 ORDER BY dow ASC NULLS FIRST""")
    val fd = ScanAudit.filesReadAfterRun(qd)
    assert(fd > 0 && fd * 2 < total,
      s"dow: straddler+null only ($fd of $total)")
    val truthD = truthDf
      .groupBy(dayofweek(col("tp_timestamp")).as("dow"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
      .orderBy(col("dow").asc_nulls_first).collect().toSeq
    assert(qd.collect().toSeq === truthD, "dayofweek merge values")
    // an output DERIVED from both extract keys (y*100+m) substitutes
    val qy = spark.sql("""
      SELECT year(tp_timestamp) * 100 + month(tp_timestamp) AS ym,
             count(*) AS n
      FROM bq GROUP BY year(tp_timestamp), month(tp_timestamp)
      ORDER BY ym ASC NULLS FIRST""")
    val fy = ScanAudit.filesReadAfterRun(qy)
    assert(fy > 0 && fy * 2 < total)
    val truthY = truthDf
      .groupBy(year(col("tp_timestamp")).as("y"),
        month(col("tp_timestamp")).as("m"))
      .agg(count(lit(1)).as("n"))
      .select((col("y") * 100 + col("m")).as("ym"), col("n"))
      .orderBy(col("ym").asc_nulls_first).collect().toSeq
    assert(qy.collect().toSeq === truthY, "derived ym values")
    // WEEK × YEAR: weeks and months/years never refine each other —
    // no single containment grain serves both keys, so the shape
    // declines to the full scan (and is still correct)
    val qw = spark.sql("""
      SELECT date_trunc('WEEK', tp_timestamp) AS w,
             year(tp_timestamp) AS y, count(*) AS n
      FROM bq GROUP BY 1, 2 ORDER BY w ASC NULLS FIRST, y""")
    assert(ScanAudit.filesReadAfterRun(qw) === total,
      "week × year must decline (no common refinement)")
    val truthW = truthDf
      .groupBy(date_trunc("WEEK", col("tp_timestamp")).as("w"),
        year(col("tp_timestamp")).as("y"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("w").asc_nulls_first, col("y")).collect().toSeq
    assert(qw.collect().toSeq === truthW)
    // hour-of-day over day-sized files: nothing is hour-contained, so
    // the hybrid buys nothing and declines to the scan — correctly
    val qh = spark.sql("SELECT hour(tp_timestamp) AS h, count(*) AS n " +
      "FROM bq GROUP BY 1 ORDER BY h ASC NULLS FIRST")
    assert(ScanAudit.filesReadAfterRun(qh) === total,
      "hour profile over day files must decline")
    // a non-UTC session declines the extract family entirely
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val qn = spark.sql("SELECT year(tp_timestamp) AS y, count(*) AS n " +
        "FROM bq GROUP BY 1")
      assert(ScanAudit.filesReadAfterRun(qn) === total,
        "non-UTC session must decline extract keys")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("hour-of-day profile MERGES buckets across days: hour-contained " +
      "files from two days land on 24-key output scan-free") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_hp").toString)
    val spec = PartitionSpec("hp", "p0", tpIndexColumn = Some("idx"))
    def slice(day: Int, hour: Int, lo: Int) = {
      val raw = spark.range(lo, lo + 50).select(
        col("id").as("event_id"),
        expr(s"timestamp '2024-03-0${5 + day} 00:00:00' + " +
          s"make_interval(0,0,0,0,$hour,0, (id % 50) * 60)")
          .as("tp_timestamp"),
        lit("0").as("idx"),
        col("id").cast("double").as("v"))
      TpSchema.enrich(raw, spec)
    }
    // hours 0..3 on Mar 5 AND Mar 6: each hour-of-day key merges TWO
    // hour buckets from different days
    for (day <- 0 until 2; hour <- 0 until 4)
      lake.append(spark, "hp", slice(day, hour, (day * 4 + hour) * 50))
    lake.enableColumnStats(spark, "hp",
      Seq("v", "event_id", "tp_timestamp"))
    Views.register(spark, lake, Views.Filters())
    val q = spark.sql("""
      SELECT hour(tp_timestamp) AS h, count(*) AS n, sum(event_id) AS s
      FROM hp GROUP BY 1 ORDER BY h""")
    assert(ScanAudit.filesReadAfterRun(q) === 0,
      "hour-contained files must serve the hour-of-day profile scan-free")
    val rows = q.collect()
    assert(rows.length === 4)
    assert(rows.map(_.getInt(0)).toSeq === Seq(0, 1, 2, 3))
    assert(rows.map(_.getLong(1)).forall(_ === 100L), "two days merge")
    // hour 0 holds ids 0..49 (day 0) and 200..249 (day 1)
    assert(rows.head.getLong(2) ===
      ((0 until 50) ++ (200 until 250)).map(_.toLong).sum)
  }

  test("graft_topk: the top-talkers report serves from per-file " +
      "frequent-items sketches scan-free; ties, groups, and declines") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_tk").toString)
    val spec = PartitionSpec("tk", "p0", tpIndexColumn = Some("idx"))
    // skewed categories with a TIE at the k boundary (gamma=delta=20)
    // and nulls, split across three appends so the answer must MERGE
    def batch(lo: Int, cats: Seq[(String, Int)], nNull: Int) = {
      val values = cats.flatMap { case (c, n) => Seq.fill(n)(c) } ++
        Seq.fill(nNull)(null)
      val raw = spark.createDataFrame(
        spark.sparkContext.parallelize(values.zipWithIndex.map {
          case (c, i) => org.apache.spark.sql.Row(
            (lo + i).toLong,
            java.sql.Timestamp.valueOf("2024-03-05 00:00:00"),
            if (i % 2 == 0) "ia" else "ib", c)
        }, 2),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("tp_timestamp",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("idx",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("cat",
            org.apache.spark.sql.types.StringType))))
      TpSchema.enrich(raw, spec)
    }
    lake.append(spark, "tk",
      batch(0, Seq("alpha" -> 20, "beta" -> 10, "gamma" -> 10), 5))
    lake.append(spark, "tk",
      batch(100, Seq("alpha" -> 20, "beta" -> 15, "delta" -> 20), 0))
    lake.append(spark, "tk",
      batch(200, Seq("alpha" -> 10, "beta" -> 5, "gamma" -> 10,
        "eps" -> 5), 5))
    lake.enableColumnStats(spark, "tk", Seq("cat", "tp_timestamp"))
    Views.register(spark, lake, Views.Filters())
    // totals: alpha 50, beta 30, gamma 20, delta 20, eps 5; the
    // gamma/delta tie breaks item-ASC → delta takes the 3rd slot
    val q = spark.sql(
      "SELECT graft_topk(cat, 3) AS top FROM tk")
    assert(ScanAudit.filesReadAfterRun(q) === 0,
      "covered string column must serve top-k scan-free")
    val top = q.head().getSeq[Row](0)
    assert(top.map(r => (r.getString(0), r.getLong(1))) ===
      Seq(("alpha", 50L), ("beta", 30L), ("delta", 20L)))
    // exploded-to-rows face (the qi55 shape)
    val qe = spark.sql("SELECT t.item AS cat, t.cnt AS n FROM " +
      "(SELECT explode(graft_topk(cat, 3)) AS t FROM tk)")
    assert(qe.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("alpha", 50L), ("beta", 30L), ("delta", 20L)))
    // identical to the SCAN-path result (the plain reader has no zone
    // index, so the rule cannot fire there)
    graft.functions.TopKFns.register(spark)
    val truth = spark.read.option("basePath", lake.tableDir("tk"))
      .parquet(lake.tableDir("tk"))
      .agg(graft.functions.TopKFns.topk(spark, col("cat"), 3).as("top"))
      .head().getSeq[Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top.map(r => (r.getString(0), r.getLong(1))) === truth,
      "metadata and scan paths must agree in the exact regime")
    // per-group top-k over a partition column, still scan-free
    val qg = spark.sql("SELECT tp_index AS k, graft_topk(cat, 2) AS top " +
      "FROM tk GROUP BY tp_index ORDER BY k")
    assert(ScanAudit.filesReadAfterRun(qg) === 0)
    val truthG = spark.read.option("basePath", lake.tableDir("tk"))
      .parquet(lake.tableDir("tk"))
      .groupBy(col("tp_index").as("k"))
      .agg(graft.functions.TopKFns.topk(spark, col("cat"), 2).as("top"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getSeq[Row](1)
        .map(x => (x.getString(0), x.getLong(1))))).toSeq
    assert(qg.collect().map(r => (r.getString(0), r.getSeq[Row](1)
      .map(x => (x.getString(0), x.getLong(1))))).toSeq === truthG)
    // a band WHERE declines (no top-k slot machinery) — the scan runs
    // and the answer is still right
    val qb = spark.sql("SELECT graft_topk(cat, 2) AS top FROM tk " +
      "WHERE tp_timestamp >= timestamp'2024-03-05 00:00:00'")
    assert(ScanAudit.filesReadAfterRun(qb) > 0,
      "banded top-k must decline to the scan")
    assert(qb.head().getSeq[Row](0).map(r =>
      (r.getString(0), r.getLong(1))) === Seq(("alpha", 50L),
      ("beta", 30L)))
    // an un-tracked column (no sidecar row) declines to the scan
    val qu = spark.sql("SELECT graft_topk(tp_partition, 1) AS top FROM tk")
    assert(qu.head().getSeq[Row](0).nonEmpty)
  }

  /** Served = the aggregate became an in-memory LocalRelation with no
    * lake relation left under it; declined = the plan still scans.
    */
  private def served(q: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val plan = q.queryExecution.optimizedPlan
    plan.find(_.isInstanceOf[LocalRelation]).isDefined &&
      plan.find(_.isInstanceOf[LogicalRelation]).isEmpty
  }

  test("decision rows: tp_timestamp ranges are manifest-served without " +
      "tp_timestamp colstats; its counts still decline") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_ts").toString)
    for (d <- Seq("2024-03-05", "2024-04-11", "2024-05-20")) {
      val spec = PartitionSpec("tsr", "p0", tpIndexColumn = Some("idx"))
      val raw = spark.range(0, 40).select(
        col("id").as("event_id"),
        when(col("id") === 7, lit(null).cast("timestamp")).otherwise(
          expr(s"timestamp '$d 00:00:00' + " +
            "make_interval(0,0,0,0,0,0, id * 977)")).as("tp_timestamp"),
        (col("id") % 2).cast("string").as("idx"),
        (col("id") * 5).as("v"))
      lake.append(spark, "tsr", TpSchema.enrich(raw, spec))
    }
    lake.enableColumnStats(spark, "tsr", Seq("v"))
    Views.register(spark, lake, Views.Filters())
    val scan = spark.read.option("basePath", lake.tableDir("tsr"))
      .parquet(lake.tableDir("tsr"))
    def truth(aggs: org.apache.spark.sql.Column*) =
      scan.agg(aggs.head, aggs.tail: _*).head()

    // served: count(*) from the manifest rows, the range from its
    // min_ts/max_ts (tp_date's from their UTC days)
    val rangeQ = spark.sql("SELECT count(*) AS n, min(tp_timestamp) AS lo, " +
      "max(tp_timestamp) AS hi, min(tp_date) AS dlo, max(tp_date) AS dhi " +
      "FROM tsr")
    assert(served(rangeQ), rangeQ.queryExecution.optimizedPlan)
    assert(ScanAudit.filesReadAfterRun(rangeQ) === 0)
    assert(rangeQ.head() === truth(count(lit(1)), min("tp_timestamp"),
      max("tp_timestamp"), min("tp_date"), max("tp_date")))
    // declined: a count of tp_timestamp needs the sidecar's null counts,
    // alone or beside the range, and avg needs counts and sums
    for (sql <- Seq(
        "SELECT count(tp_timestamp) AS c FROM tsr",
        "SELECT count(*) AS n, min(tp_timestamp) AS lo, " +
          "count(tp_timestamp) AS c FROM tsr",
        "SELECT min(tp_timestamp) AS lo, avg(event_id) AS a FROM tsr")) {
      val q = spark.sql(sql)
      assert(!served(q), s"must decline: $sql")
      assert(ScanAudit.filesReadAfterRun(q) > 0, sql)
    }
    assert(spark.sql("SELECT count(tp_timestamp) AS c FROM tsr").head() ===
      truth(count("tp_timestamp")))
  }

  /** The rule's decision from the EXECUTED plan, classified the way
    * the benchmark does: `served` (a local relation, no file scan),
    * `hybrid` (a local relation merged with a file scan) or `declined`
    * (a file scan only). Descends through AQE stages and subqueries.
    */
  private def decision(q: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    q.collect()
    val ns = nodes(q.queryExecution.executedPlan)
    val scan = ns.exists(_.isInstanceOf[FileSourceScanExec])
    val local = ns.exists(_.isInstanceOf[LocalTableScanExec])
    if (local && scan) "hybrid"
    else if (local) "served"
    else if (scan) "declined"
    else "none"
  }

  test("decision table: every served/hybrid/declined shape of the rule, " +
      "each equal to the plain scan") {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_dt").toString)
    // two day-contained days and one run that crosses midnight, so
    // day buckets and bands have contained files AND straddlers. `dtns`
    // holds the same rows with no tp_timestamp colstats, as a collected
    // log table: its null-ts-free proof is the manifest's ts_nulls.
    for (t <- Seq("dtab", "dtns");
         start <- Seq("2024-03-05 00:00:00", "2024-04-11 00:00:00",
           "2024-05-20 20:00:00")) {
      val raw = spark.range(0, 40, 1, 4).select(
        col("id").as("event_id"),
        expr(s"timestamp '$start' + " +
          "make_interval(0,0,0,0,0,0, id * 977)").as("tp_timestamp"),
        (col("id") % 2).cast("string").as("idx"),
        (col("id") * 5).as("v"),
        when(col("id") % 3 === 0, lit("alpha")).otherwise(lit("beta"))
          .as("cat"),
        // 40 × 2^51 per append: the exact sum passes 2^53
        lit(1L << 51).as("big"),
        // ~2^53/100 per row: the 80 rows of the contained days sum to
        // 0.8 × 2^53, but with the 40 straddling rows' zone bound the
        // merged total could reach 1.2 × 2^53
        lit(90071992547409L).as("mid"))
      lake.append(spark, t, TpSchema.enrich(raw,
        PartitionSpec(t, "p0", tpIndexColumn = Some("idx"))))
    }
    lake.enableColumnStats(spark, "dtab",
      Seq("v", "cat", "big", "mid", "tp_timestamp"))
    lake.enableColumnStats(spark, "dtns", Seq("v", "cat"))
    Views.register(spark, lake, Views.Filters())
    for (t <- Seq("dtab", "dtns"))
      spark.read.option("basePath", lake.tableDir(t))
        .parquet(lake.tableDir(t)).createOrReplaceTempView(s"${t}_plain")

    val band = "tp_timestamp BETWEEN timestamp'2024-03-05 00:00:00' " +
      "AND timestamp'2024-05-20 22:00:00'"
    val orBands = "(tp_timestamp BETWEEN timestamp'2024-03-05 00:00:00' " +
      "AND timestamp'2024-03-06 00:00:00' OR tp_timestamp BETWEEN " +
      "timestamp'2024-04-11 00:00:00' AND timestamp'2024-04-12 00:00:00')"
    val utcRows: Seq[(String, String, String)] = Seq(
      ("whole table", "served",
        "SELECT count(*) AS n, min(v) AS lo, max(v) AS hi, sum(v) AS s " +
          "FROM dtab"),
      ("partition-only WHERE", "served",
        "SELECT count(*) AS n, max(v) AS hi FROM dtab WHERE tp_index = 1"),
      ("GROUP BY partition", "served",
        "SELECT tp_index, count(*) AS n, avg(v) AS a FROM dtab " +
          "GROUP BY tp_index"),
      ("single band", "hybrid",
        s"SELECT count(*) AS n, min(v) AS lo, avg(v) AS a FROM dtab " +
          s"WHERE $band"),
      ("OR-of-bands", "served",
        s"SELECT count(*) AS n, max(v) AS hi FROM dtab WHERE $orBands"),
      ("tp_date IN (...)", "hybrid",
        "SELECT count(*) AS n, sum(v) AS s FROM dtab WHERE tp_date IN " +
          "(DATE'2024-03-05', DATE'2024-05-21')"),
      ("band + GROUP BY partition", "hybrid",
        s"SELECT tp_index, count(*) AS n, max(v) AS hi FROM dtab " +
          s"WHERE $band GROUP BY tp_index"),
      ("bucket day", "hybrid",
        "SELECT tp_date, count(*) AS n, sum(v) AS s FROM dtab " +
          "GROUP BY tp_date"),
      ("bucket day + band", "served",
        s"SELECT tp_date, count(*) AS n FROM dtab WHERE $orBands " +
          "GROUP BY tp_date"),
      ("bucket hour", "declined",
        "SELECT date_trunc('HOUR', tp_timestamp) AS h, count(*) AS n " +
          "FROM dtab GROUP BY date_trunc('HOUR', tp_timestamp)"),
      ("bucket hour + band", "declined",
        s"SELECT date_trunc('HOUR', tp_timestamp) AS h, count(*) AS n " +
          s"FROM dtab WHERE $band GROUP BY date_trunc('HOUR', tp_timestamp)"),
      ("bucket month", "served",
        "SELECT date_trunc('MONTH', tp_timestamp) AS m, count(*) AS n, " +
          "max(v) AS hi FROM dtab GROUP BY date_trunc('MONTH', tp_timestamp)"),
      ("bucket month + band", "hybrid",
        s"SELECT date_trunc('MONTH', tp_timestamp) AS m, count(*) AS n " +
          s"FROM dtab WHERE $band GROUP BY date_trunc('MONTH', tp_timestamp)"),
      ("year, month extract", "served",
        "SELECT year(tp_timestamp) AS y, month(tp_timestamp) AS m, " +
          "count(*) AS n FROM dtab " +
          "GROUP BY year(tp_timestamp), month(tp_timestamp)"),
      ("year, month extract + band", "hybrid",
        s"SELECT year(tp_timestamp) AS y, month(tp_timestamp) AS m, " +
          s"count(*) AS n FROM dtab WHERE $band " +
          "GROUP BY year(tp_timestamp), month(tp_timestamp)"),
      ("key-derived output", "hybrid",
        "SELECT cast(date_trunc('DAY', tp_timestamp) AS date) AS d, " +
          "count(*) AS n FROM dtab GROUP BY date_trunc('DAY', tp_timestamp)"),
      ("count(DISTINCT tp_date), whole", "declined",
        "SELECT count(DISTINCT tp_date) AS d FROM dtab"),
      ("count(DISTINCT tp_date), banded", "served",
        s"SELECT count(DISTINCT tp_date) AS d FROM dtab WHERE $orBands"),
      ("graft_topk, whole", "served",
        "SELECT graft_topk(cat, 2) AS top FROM dtab"),
      ("graft_topk, banded", "declined",
        s"SELECT graft_topk(cat, 2) AS top FROM dtab WHERE $orBands"),
      ("subquery WHERE", "declined",
        "SELECT count(*) AS n FROM dtab " +
          "WHERE tp_year = (SELECT max(tp_year) FROM dtab_plain)"),
      ("avg past 2^53, whole", "declined",
        "SELECT avg(big) AS a FROM dtab"),
      // every path gates avg on its exact sum staying within 2^53
      ("avg past 2^53, contained band", "declined",
        "SELECT avg(big) AS a FROM dtab WHERE tp_timestamp BETWEEN " +
          "timestamp'2024-03-05 00:00:00' AND timestamp'2024-03-05 23:59:59'"),
      // the hybrid gates the MERGED total: contained sum plus the
      // straddlers' rows × max(|min|, |max|)
      ("avg hybrid: partials pass 2^53, merged bound does not",
        "declined", s"SELECT count(*) AS n, avg(mid) AS a FROM dtab " +
          s"WHERE $band"),
      ("avg hybrid within 2^53 after the merge", "hybrid",
        "SELECT count(*) AS n, avg(mid) AS a FROM dtab WHERE " +
          "tp_timestamp BETWEEN timestamp'2024-04-01 00:00:00' AND " +
          "timestamp'2024-05-20 22:00:00'"),
      // no tp_timestamp colstats: ts_nulls in the manifest proves the
      // contained files null-free
      ("band without ts colstats", "hybrid",
        s"SELECT count(*) AS n, min(v) AS lo, max(v) AS hi FROM dtns " +
          s"WHERE $band"),
      ("bucket day without ts colstats", "hybrid",
        "SELECT tp_date, count(*) AS n FROM dtns GROUP BY tp_date"),
      // a served answer's ORDER BY / LIMIT / HAVING run on the driver
      ("sorted: GROUP BY partition ORDER BY", "served",
        "SELECT tp_index, count(*) AS n, max(v) AS hi FROM dtab " +
          "GROUP BY tp_index ORDER BY tp_index DESC"),
      ("sorted: bucket month ORDER BY LIMIT", "served",
        "SELECT date_trunc('MONTH', tp_timestamp) AS m, count(*) AS n " +
          "FROM dtab GROUP BY date_trunc('MONTH', tp_timestamp) " +
          "ORDER BY m DESC LIMIT 2"),
      ("sorted: HAVING + ORDER BY an aggregate", "served",
        "SELECT year(tp_timestamp) AS y, month(tp_timestamp) AS mo, " +
          "count(*) AS n FROM dtab " +
          "GROUP BY year(tp_timestamp), month(tp_timestamp) " +
          "HAVING count(*) > 1 ORDER BY max(v), mo"))
    val nonUtcRows: Seq[(String, String, String)] = Seq(
      ("non-UTC session, bucket day", "declined",
        "SELECT tp_date, count(*) AS n FROM dtab GROUP BY tp_date"),
      ("non-UTC session, tp_date band", "declined",
        "SELECT count(*) AS n FROM dtab WHERE tp_date = DATE'2024-03-05'"))

    // `plain` names the scan each view is compared with; an ORDER BY
    // result is compared in order, and a served one must plan as a
    // bare local scan (no sort, no exchange)
    def check(rows: Seq[(String, String, String)],
        plain: String = "plain"): Seq[String] =
      rows.flatMap { case (name, want, sql) =>
        val got = decision(spark.sql(sql))
        val scan = sql.replaceAll("FROM (dtab|dtns)\\b", s"FROM $$1_$plain")
        val ordered = sql.contains("ORDER BY")
        def rowsOf(q: String) = {
          val r = spark.sql(q).collect().map(_.toString).toSeq
          if (ordered) r else r.sorted
        }
        val same = rowsOf(sql) == rowsOf(scan)
        val bare = !ordered || want != "served" ||
          spark.sql(sql).queryExecution.executedPlan
            .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]
        (if (got == want) Nil else Seq(s"$name: want $want, got $got")) ++
          (if (same) Nil else Seq(s"$name: result differs from the scan")) ++
          (if (bare) Nil else Seq(s"$name: not a bare local scan"))
      }
    val tzKey = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tzKey)
    val nonUtc = try {
      spark.conf.set(tzKey, "America/New_York")
      check(nonUtcRows)
    } finally spark.conf.set(tzKey, prev)

    // `--from/--to` views: the whole-table relation under the window
    // predicate, so every aggregate shape reaches the rule as a band.
    // A month-aligned window covers the March and April files whole;
    // one that ends inside the May run leaves its files straddling.
    def windowRows(f: Views.Filters, rows: Seq[(String, String, String)])
        : Seq[String] = {
      Views.register(spark, lake, f)
      for (t <- Seq("dtab", "dtns"))
        spark.table(s"${t}_plain").where(Views.predicate(f).get)
          .createOrReplaceTempView(s"${t}_wplain")
      try check(rows, "wplain")
      finally Views.register(spark, lake, Views.Filters())
    }
    val aligned = Views.Filters(
      from = Some(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")),
      to = Some(java.sql.Timestamp.valueOf("2024-04-30 23:59:59")))
    val ragged = Views.Filters(
      from = Some(java.sql.Timestamp.valueOf("2024-04-01 00:00:00")),
      to = Some(java.sql.Timestamp.valueOf("2024-05-21 03:00:00")))
    val windowed =
      windowRows(aligned, Seq(
        ("window, whole months: count/min/max/avg", "served",
          "SELECT count(*) AS n, min(v) AS lo, max(v) AS hi, " +
            "avg(v) AS a FROM dtns"),
        ("window, whole months: GROUP BY partition ORDER BY", "served",
          "SELECT tp_index, count(*) AS n FROM dtns GROUP BY tp_index " +
            "ORDER BY tp_index"),
        ("window, whole months: bucket day", "served",
          "SELECT tp_date, count(*) AS n FROM dtns GROUP BY tp_date"),
        ("window, whole months: bucket month", "served",
          "SELECT date_trunc('MONTH', tp_timestamp) AS m, count(*) AS n " +
            "FROM dtab GROUP BY date_trunc('MONTH', tp_timestamp)"),
        ("window, whole months: extra band", "served",
          s"SELECT count(*) AS n FROM dtns WHERE $orBands"),
        ("window, whole months: a lookup still scans", "declined",
          "SELECT event_id, v FROM dtns WHERE v = 35"))) ++
      windowRows(ragged, Seq(
        ("window, straddled: count/min/max", "hybrid",
          "SELECT count(*) AS n, min(v) AS lo, max(v) AS hi FROM dtns"),
        ("window, straddled: GROUP BY partition", "hybrid",
          "SELECT tp_index, count(*) AS n FROM dtns GROUP BY tp_index"),
        ("window, straddled: bucket day", "hybrid",
          "SELECT tp_date, count(*) AS n, sum(v) AS s FROM dtab " +
            "GROUP BY tp_date"))) ++
      windowRows(aligned.copy(indexes = Seq("1")), Seq(
        ("window + --index: count", "served",
          "SELECT count(*) AS n, max(v) AS hi FROM dtns")))
    val wrong = check(utcRows) ++ nonUtc ++ windowed
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("a sum past Long.MaxValue declines to the plain scan") {
    // the same answer or the same error, never a wrapped metadata sum
    val lake = Lake(Files.createTempDirectory("graft_metaagg_of").toString)
    val spec = PartitionSpec("of", "p0", tpIndexColumn = Some("idx"))
    // three rows of 5e18: total 1.5e19 > Long.MaxValue, while every
    // per-file sidecar sum is recorded exactly
    val raw = spark.range(0, 3).select(
      col("id").as("event_id"),
      expr("timestamp '2024-03-05 00:00:00'").as("tp_timestamp"),
      lit("0").as("idx"),
      (col("id") + lit(5000000000000000000L)).as("huge"))
    lake.append(spark, "of", TpSchema.enrich(raw, spec))
    lake.enableColumnStats(spark, "of", Seq("huge"))
    def summed(df: org.apache.spark.sql.DataFrame) =
      scala.util.Try(df.agg(sum(col("huge"))).collect().toSeq)
    val viaRule = summed(lake.read(spark, "of"))
    val plain = summed(spark.read.option("basePath", lake.tableDir("of"))
      .parquet(lake.tableDir("of")))
    assert(viaRule.toOption === plain.toOption)
    assert(viaRule.failed.toOption.map(_.getClass) ===
      plain.failed.toOption.map(_.getClass))
    // count/min/max over the same column still answer (from the scan:
    // its bounds are past 2^53)
    val r = lake.read(spark, "of").agg(count(col("huge")),
      min(col("huge")), max(col("huge"))).head()
    assert(r === Row(3L, 5000000000000000000L, 5000000000000000002L))
  }
}
