package graft.lake

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.config.PartitionSpec

/** [[Lake.statsAggregate]]: count/min/max answered from the manifest +
  * colstats sidecar, scan-free when covered, HYBRID (one residual scan
  * over exactly the gap) when not. The property battery:
  *
  *  - exactness vs a direct scan on a multi-append fixture with nulls
  *    and an all-null file, residual empty
  *  - provably scan-free: data files physically corrupted after the
  *    metadata exists, the metadata answer is still exact (a scan
  *    would crash on the garbage bytes)
  *  - hybrid: one file's sidecar rows removed → residual is exactly
  *    that file, the combined answer unchanged
  *  - an unrecorded live file (manifest never saw it) is residual and
  *    its rows are counted — the manifest is not trusted for rows it
  *    never recorded
  *  - long columns whose zone bounds reach 2^53 are residual (double
  *    bounds can round across the true extreme) and still exact
  *
  * The qi31 oracle gates the same exactness against DuckDB at sf0.01.
  */
class StatsAggregateSpec extends AnyFunSuite with SparkTest {

  /** Three appends with disjoint v bands + one all-null-v file; v has
    * scattered nulls (every 10th id), src is a string column.
    */
  private def fixture(): (Lake, String) = {
    val lake = Lake(Files.createTempDirectory("graft_statsagg").toString)
    val spec = PartitionSpec("sa", "p0", tpIndexColumn = Some("idx"))
    def batch(lo: Int, n: Int) = {
      val raw = spark.range(lo, lo + n).select(
        col("id").as("event_id"),
        expr("timestamp '2024-03-05 00:00:00' + " +
          "make_interval(0,0,0,0,0,0, id*1000)").as("tp_timestamp"),
        lit("0").as("idx"),
        when(col("id") % 10 === 0, lit(null))
          .otherwise(col("id").cast("double")).as("v"),
        concat(lit("s-"), lpad(col("id").cast("string"), 5, "0")).as("src"))
      TpSchema.enrich(raw, spec)
    }
    def nullBatch(lo: Int, n: Int) = {
      val raw = spark.range(lo, lo + n).select(
        col("id").as("event_id"),
        expr("timestamp '2024-03-05 00:00:00' + " +
          "make_interval(0,0,0,0,0,0, id*1000)").as("tp_timestamp"),
        lit("0").as("idx"),
        lit(null).cast("double").as("v"),
        lit(null).cast("string").as("src"))
      TpSchema.enrich(raw, spec)
    }
    lake.append(spark, "sa", batch(0, 100))
    lake.append(spark, "sa", batch(100, 100))
    lake.append(spark, "sa", batch(200, 100))
    lake.append(spark, "sa", nullBatch(1000, 50))
    lake.enableColumnStats(spark, "sa",
      Seq("v", "src", "event_id", "tp_timestamp"))
    (lake, "sa")
  }

  private val cols = Seq("v", "src", "event_id", "tp_timestamp")

  /** The same aggregate computed by actually scanning the table
    * (sum for the one integral column, matching statsAggregate's
    * output shape).
    */
  private def scanned(lake: Lake, t: String): Row = {
    val df = lake.read(spark, t)
    val aggs = (count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"n_$c"),
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))) :+
      sum(col("event_id")).as("sum_event_id")
    df.agg(aggs.head, aggs.tail: _*).head()
  }

  private def assertMatches(meta: DataFrame, truth: Row): Unit = {
    val m = meta.head()
    val names = meta.schema.fieldNames
    names.zipWithIndex.foreach { case (f, i) =>
      assert(m.get(i) === truth.getAs[Any](f), s"field $f")
    }
  }

  test("fully covered table answers exactly with zero residual files") {
    val (lake, t) = fixture()
    val truth = scanned(lake, t)
    val (meta, residual) = lake.statsAggregateAudited(spark, t, cols)
    assert(residual.isEmpty, s"expected scan-free, residual=$residual")
    assertMatches(meta, truth)
    // spot-check SQL semantics made it through: count ignores nulls,
    // the all-null file contributes rows to n_rows only
    val r = meta.head()
    assert(r.getAs[Long]("n_rows") === 350L)
    assert(r.getAs[Long]("n_v") === 270L) // 300 minus 30 null-ids, minus 0
    assert(r.getAs[Long]("n_src") === 300L)
    assert(r.getAs[Double]("min_v") === 1.0) // id 0 is a null slot
    assert(r.getAs[Double]("max_v") === 299.0)
    assert(r.getAs[String]("min_src") === "s-00000")
    assert(r.getAs[String]("max_src") === "s-00299")
  }

  test("scan-free for real: data sections corrupted, metadata still answers") {
    val (lake, t) = fixture()
    val truth = scanned(lake, t) // computed BEFORE the corruption
    // overwrite every file's DATA section (between the header magic and
    // the footer metadata) with garbage: footers stay valid, so the
    // one-footer schema inference works, but ANY row read decodes
    // garbage — a correct answer proves the aggregate never scanned
    lake.dataFiles(spark, t).foreach { p =>
      val raf = new java.io.RandomAccessFile(p, "rw")
      try {
        val len = raf.length()
        raf.seek(len - 8)
        val b = new Array[Byte](4)
        raf.readFully(b)
        val footerLen = java.nio.ByteBuffer.wrap(b)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        val dataEnd = len - 8 - footerLen
        if (dataEnd > 4) {
          raf.seek(4)
          raf.write(Array.fill((dataEnd - 4).toInt)(0x5a.toByte))
        }
      } finally raf.close()
      // Hadoop's LocalFileSystem keeps a .crc sidecar; the raw edit
      // above bypassed it — drop it so reads fail on parquet decode,
      // not on the checksum layer
      val file = new java.io.File(p)
      new java.io.File(file.getParent, s".${file.getName}.crc").delete()
    }
    // the corruption is real: an actual scan now fails
    intercept[Throwable] {
      lake.read(spark, t).agg(sum(col("v"))).head()
    }
    val (meta, residual) = lake.statsAggregateAudited(spark, t, cols)
    assert(residual.isEmpty)
    assertMatches(meta, truth)
  }

  test("hybrid: a file missing sidecar rows is the exact residual set") {
    val (lake, t) = fixture()
    val truth = scanned(lake, t)
    // strip one file's sidecar rows (rewrite the sidecar without them)
    val victim = lake.fileStats(spark, t).orderBy("file")
      .head().getString(0)
    val sidecarDir = s"${lake.tableDir(t)}/_graft_colstats"
    val kept = spark.read.parquet(sidecarDir)
      .where(col("file") =!= victim)
    val rows = kept.collect().toSeq
    val schema = kept.schema
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(sidecarDir)
    val (meta, residual) = lake.statsAggregateAudited(spark, t, cols)
    assert(residual === Seq(victim))
    assertMatches(meta, truth)
  }

  test("an unrecorded live file is residual and its rows are counted") {
    val (lake, t) = fixture()
    // clone a data file under a name the manifest has never seen
    val f = new Path(lake.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val src = new Path(lake.dataFiles(spark, t).head)
    val stray = new Path(src.getParent, "part-stray-duplicate.parquet")
    org.apache.hadoop.fs.FileUtil.copy(f, src, f, stray, false,
      spark.sparkContext.hadoopConfiguration)
    val truth = scanned(lake, t) // read() lists the dir: stray included
    val (meta, residual) = lake.statsAggregateAudited(spark, t, cols)
    assert(residual === Seq(stray.toUri.getPath))
    assertMatches(meta, truth)
  }

  test("NaN per-file extremes merge in Spark's total order (NaN wins max)") {
    val lake = Lake(Files.createTempDirectory("graft_statsagg_nan").toString)
    val spec = PartitionSpec("nn", "p0", tpIndexColumn = Some("idx"))
    def batch(lo: Int, vCol: org.apache.spark.sql.Column) = {
      val raw = spark.range(lo, lo + 10).select(
        col("id").as("event_id"),
        expr("timestamp '2024-03-05 00:00:00'").as("tp_timestamp"),
        lit("0").as("idx"), vCol.as("v"))
      TpSchema.enrich(raw, spec)
    }
    // file 1: a NaN row (its sidecar max_d is NaN — Spark's max orders
    // NaN greatest); file 2: finite values, appended LATER so the
    // merge sees the NaN extreme FIRST and the finite one second —
    // plain < would let 99.0 beat NaN (r16 ADVICE-medium)
    lake.append(spark, "nn", batch(0,
      when(col("id") === 5, lit(Double.NaN))
        .otherwise(col("id").cast("double"))))
    lake.append(spark, "nn", batch(100,
      (col("id") - lit(1.0)).cast("double")))
    lake.enableColumnStats(spark, "nn", Seq("v"))
    val (meta, residual) = lake.statsAggregateAudited(spark, "nn", Seq("v"))
    assert(residual.isEmpty, "NaN bounds are still exact doubles — " +
      "metadata must serve them")
    val r = meta.head()
    // the scan answer: Spark's max over a NaN-bearing column is NaN
    assert(r.getAs[Double]("max_v").isNaN, "metadata max must be NaN")
    assert(r.getAs[Double]("min_v") === 0.0)
    val scanMax = lake.read(spark, "nn").agg(max(col("v"))).head().getDouble(0)
    assert(scanMax.isNaN)
  }

  test("a sum past Long.MaxValue emits null, never throws or wraps") {
    val lake = Lake(Files.createTempDirectory("graft_statsagg_of").toString)
    val spec = PartitionSpec("of", "p0", tpIndexColumn = Some("idx"))
    // three rows of 5e18: total 1.5e19 > Long.MaxValue (9.22e18); the
    // 2^53-scale bounds also force the residual-scan path, so this
    // exercises the scan-side sum fold too (r16 ADVICE-medium: the CLI
    // crashed with ArithmeticException on epoch-millis sums)
    val raw = spark.range(0, 3).select(
      col("id").as("event_id"),
      expr("timestamp '2024-03-05 00:00:00'").as("tp_timestamp"),
      lit("0").as("idx"),
      (col("id") + lit(5000000000000000000L)).as("huge"))
    lake.append(spark, "of", TpSchema.enrich(raw, spec))
    lake.enableColumnStats(spark, "of", Seq("huge"))
    val (meta, _) = lake.statsAggregateAudited(spark, "of", Seq("huge"))
    val r = meta.head()
    assert(r.getAs[Long]("n_huge") === 3L)
    assert(r.getAs[Long]("min_huge") === 5000000000000000000L)
    assert(r.getAs[Any]("sum_huge") === null,
      "no exact BIGINT sum exists — must be null, not a wrap or throw")
    // withSums = false: the sum columns are absent entirely (the CLI
    // shape — count/min/max must not pay the sum machinery)
    val (lean, _) = lake.statsAggregateAudited(spark, "of", Seq("huge"),
      withSums = false)
    assert(!lean.schema.fieldNames.contains("sum_huge"))
    assert(lean.head().getAs[Long]("max_huge") === 5000000000000000002L)
  }

  test("long bounds at 2^53 force the residual scan and stay exact") {
    val lake = Lake(Files.createTempDirectory("graft_statsagg53").toString)
    val spec = PartitionSpec("big", "p0", tpIndexColumn = Some("idx"))
    val big = (1L << 53) + 1L // not representable as a double
    val raw = spark.range(0, 10).select(
      col("id").as("event_id"),
      expr("timestamp '2024-03-05 00:00:00'").as("tp_timestamp"),
      lit("0").as("idx"),
      (col("id") + lit(big)).as("huge"))
    lake.append(spark, "big", TpSchema.enrich(raw, spec))
    lake.enableColumnStats(spark, "big", Seq("huge"))
    val (meta, residual) =
      lake.statsAggregateAudited(spark, "big", Seq("huge"))
    assert(residual.nonEmpty, "2^53-scale long bounds must not be " +
      "served from double zones")
    val r = meta.head()
    assert(r.getAs[Long]("min_huge") === big)
    assert(r.getAs[Long]("max_huge") === big + 9L)
    assert(r.getAs[Long]("n_huge") === 10L)
  }

  test("tp_timestamp min/max is manifest-served; small longs are " +
      "zone-served") {
    val (lake, t) = fixture()
    val (meta, residual) = lake.statsAggregateAudited(spark, t,
      Seq("event_id", "tp_timestamp"))
    assert(residual.isEmpty)
    val r = meta.head()
    assert(r.getAs[Long]("min_event_id") === 0L)
    assert(r.getAs[Long]("max_event_id") === 1049L)
    assert(r.getAs[java.sql.Timestamp]("min_tp_timestamp") ===
      java.sql.Timestamp.valueOf("2024-03-05 00:00:00"))
    // max id is the null batch's 1049 → +1,049,000 s = 12d 3:23:20
    assert(r.getAs[java.sql.Timestamp]("max_tp_timestamp") ===
      java.sql.Timestamp.valueOf("2024-03-17 03:23:20"))
  }

  test("time-band hybrid: contained files from metadata, straddlers " +
      "scanned, outsiders untouched") {
    val lake = Lake(Files.createTempDirectory("graft_statsagg_tb").toString)
    val spec = PartitionSpec("tb", "p0", tpIndexColumn = Some("idx"))
    // 8 one-hour slices, one append (≥1 file) each
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
    for (i <- 0 until 8) lake.append(spark, "tb", slice(i))
    lake.enableColumnStats(spark, "tb",
      Seq("v", "event_id", "tp_timestamp"))
    val total = lake.dataFiles(spark, "tb").size
    // band = mid-slice-2 .. mid-slice-5: slices 3,4 contained,
    // 2 and 5 straddle, 0,1,6,7 outside
    val from = java.sql.Timestamp.valueOf("2024-03-05 02:30:00")
    val to = java.sql.Timestamp.valueOf("2024-03-05 05:30:00")
    val cols = Seq("v", "event_id")
    val (res, scanned) = lake.timeBandAggregateAudited(
      spark, "tb", from, to, cols)
    assert(scanned.nonEmpty && scanned.size < total / 2,
      s"expected only straddlers scanned, got ${scanned.size} of $total")
    // truth through the plain reader with the same band
    val truth = spark.read.option("basePath", lake.tableDir("tb"))
      .parquet(lake.tableDir("tb"))
      .where(col("tp_timestamp") >= lit(from) &&
        col("tp_timestamp") <= lit(to))
      .agg(count(lit(1)).as("n_rows"),
        count(col("v")).as("n_v"), min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        count(col("event_id")).as("n_event_id"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"),
        sum(col("event_id")).as("sum_event_id")).head()
    val m = res.head()
    res.schema.fieldNames.foreach { f =>
      assert(m.getAs[Any](f) === truth.getAs[Any](f), s"field $f")
    }
    // no tp_timestamp stats: the manifest's recorded ts_nulls is the
    // containment proof, so slices 1 and 2 answer from metadata; a
    // manifest written before ts_nulls has no proof → everything
    // overlapping scans (correct, not accelerated)
    val lake2 = Lake(Files.createTempDirectory("graft_statsagg_tb2").toString)
    for (i <- 0 until 4) lake2.append(spark, "tb",
      slice(i)) // reuse generator; table name inside spec is "tb"
    lake2.enableColumnStats(spark, "tb", Seq("v", "event_id"))
    def scanned2 = lake2.timeBandAggregateAudited(spark, "tb",
      java.sql.Timestamp.valueOf("2024-03-05 01:00:00"),
      java.sql.Timestamp.valueOf("2024-03-05 02:59:59"),
      Seq("v"))._2
    assert(scanned2.isEmpty,
      "the manifest's ts_nulls proves the contained slices null-ts-free")
    OlderManifests.dropTsNulls(spark, lake2, "tb")
    assert(scanned2.nonEmpty,
      "without ts_nulls or tp_timestamp stats nothing may be " +
        "metadata-contained")
  }

  test("unknown column and empty-table guards") {
    val (lake, t) = fixture()
    intercept[IllegalArgumentException] {
      lake.statsAggregate(spark, t, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      lake.statsAggregate(spark, "absent_table", Seq("v"))
    }
  }

  test("a STRING partition column requested as a sum declines (None), " +
      "never reaches the directory-truth sum branch (no MatchError)") {
    val (lake, t) = fixture()
    // tp_partition/tp_index are string directory values: count/min/max
    // are fine, but sum has no meaning — usable() must reject them
    // instead of letting the Integer|Long value match throw inside the
    // aggregation loop (r18 ADVICE-low). Direct Lake call, the path
    // the optimizer rule's fail-open would otherwise mask.
    // tp_partition is "p0" — a StringType directory value (tp_index
    // infers as INT here, its dir value is all-numeric, so it stays a
    // legitimate sum target below)
    val c = "tp_partition"
    def covered(needs: Lake.Needs): Option[Lake.StatsAggParts] =
      lake.metaParts(spark, t, needs).filter(_.toScan.isEmpty).map(_.whole)
    assert(covered(Lake.Needs(sums = Set(c))).isEmpty,
      s"string partition column '$c' must decline as a sum target")
    // the same column WITHOUT the sum request still serves
    assert(covered(Lake.Needs(ranges = Set(c))).isDefined)
    // integral partition columns keep their directory-truth sums
    for (ic <- Seq("tp_year", "tp_index"))
      assert(covered(Lake.Needs(sums = Set(ic))).isDefined, ic)
  }
}
