package graft.lake

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.config.PartitionSpec
import graft.query.ScanAudit

/** The count/min/max report of `graft table aggregate`: one
  * DataFrame aggregate over the table's relation (under a time window
  * when one is given), answered by [[MetadataAggregateRule]] from the
  * manifest + colstats sidecar. The property battery:
  *
  *  - exactness vs a plain parquet scan on a multi-append fixture with
  *    nulls and an all-null file, zero files read
  *  - provably scan-free: data files physically corrupted after the
  *    metadata exists, the metadata answer is still exact (a scan
  *    would crash on the garbage bytes)
  *  - a file missing sidecar rows, or a live file the manifest never
  *    recorded, is the only file a window's hybrid scans; the
  *    whole-table aggregate then runs the plain scan — both exact, the
  *    unrecorded file's rows counted
  *  - long columns whose zone bounds reach 2^53 scan (double bounds
  *    can round across the true extreme) and stay exact
  *  - the CLI's input checks name the problem
  *
  * The qi31 and qi37 oracles gate the same exactness against DuckDB.
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

  /** A window holding every row of [[fixture]]: each file is contained,
    * so only a file the metadata cannot answer is scanned.
    */
  private val everything = (Timestamp.valueOf("2024-03-01 00:00:00"),
    Timestamp.valueOf("2024-03-31 00:00:00"))

  private def aggs(cs: Seq[String]): Seq[Column] =
    count(lit(1)).as("n_rows") +: cs.flatMap(c => Seq(
      count(col(c)).as(s"n_$c"),
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))

  private def banded(df: DataFrame,
      window: Option[(Timestamp, Timestamp)]): DataFrame =
    window.fold(df) { case (from, to) =>
      df.where(col("tp_timestamp") >= lit(from) &&
        col("tp_timestamp") <= lit(to))
    }

  /** The `table aggregate` report: the aggregate over the table's
    * relation with the rule installed, and the data files it read.
    */
  private def report(lake: Lake, t: String, cs: Seq[String],
      window: Option[(Timestamp, Timestamp)] = None): (Row, Long) = {
    MetadataAggregateRule.install(spark)
    val as = aggs(cs)
    val q = banded(lake.read(spark, t), window).agg(as.head, as.tail: _*)
    val files = ScanAudit.filesReadAfterRun(q)
    (q.head(), files)
  }

  /** The same aggregate over the plain parquet reader, which the rule
    * cannot rewrite (it lists the directory: stray files included).
    */
  private def scanned(lake: Lake, t: String,
      window: Option[(Timestamp, Timestamp)] = None): Row = {
    val df = spark.read.option("basePath", lake.tableDir(t))
      .parquet(lake.tableDir(t))
    val as = aggs(cols)
    banded(df, window).agg(as.head, as.tail: _*).head()
  }

  private def assertMatches(meta: Row, truth: Row): Unit =
    meta.schema.fieldNames.foreach { f =>
      assert(meta.getAs[Any](f) === truth.getAs[Any](f), s"field $f")
    }

  test("fully covered table answers exactly with zero residual files") {
    val (lake, t) = fixture()
    val truth = scanned(lake, t)
    val (r, files) = report(lake, t, cols)
    assert(files === 0, s"expected scan-free, read $files files")
    assertMatches(r, truth)
    // spot-check SQL semantics made it through: count ignores nulls,
    // the all-null file contributes rows to n_rows only
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
    // the corruption is real: an actual scan now fails (a double sum
    // is never metadata-served)
    intercept[Throwable] {
      lake.read(spark, t).agg(sum(col("v"))).head()
    }
    val (r, files) = report(lake, t, cols)
    assert(files === 0)
    assertMatches(r, truth)
  }

  test("hybrid: a file missing sidecar rows is the exact residual set") {
    val (lake, t) = fixture()
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
    // under a window the other files answer from metadata and the
    // victim alone is scanned
    val (inWindow, files) = report(lake, t, cols, Some(everything))
    assert(files === 1, s"expected only the victim scanned, read $files")
    assertMatches(inWindow, scanned(lake, t, Some(everything)))
    // the whole-table aggregate runs the plain scan: same answer
    val (whole, all) = report(lake, t, cols)
    assert(all === lake.dataFiles(spark, t).size)
    assertMatches(whole, scanned(lake, t))
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
    // the stray file has no manifest range, so no window contains it:
    // the window's hybrid scans it alone
    val (inWindow, files) = report(lake, t, cols, Some(everything))
    assert(files === 1, s"expected only the stray file scanned, read $files")
    assertMatches(inWindow, scanned(lake, t, Some(everything)))
    val (whole, _) = report(lake, t, cols)
    assertMatches(whole, scanned(lake, t))
    assert(whole.getAs[Long]("n_rows") > 350L, "stray rows not counted")
  }

  test("NaN per-file extremes merge in Spark's total order (NaN wins max)") {
    val lake = Lake(Files.createTempDirectory("graft_statsagg_nan").toString)
    val spec = PartitionSpec("nn", "p0", tpIndexColumn = Some("idx"))
    def batch(lo: Int, vCol: Column) = {
      val raw = spark.range(lo, lo + 10).select(
        col("id").as("event_id"),
        expr("timestamp '2024-03-05 00:00:00'").as("tp_timestamp"),
        lit("0").as("idx"), vCol.as("v"))
      TpSchema.enrich(raw, spec)
    }
    // file 1: a NaN row (its sidecar max_d is NaN — Spark's max orders
    // NaN greatest); file 2: finite values, appended LATER so the
    // merge sees the NaN extreme FIRST and the finite one second —
    // plain < would let 99.0 beat NaN
    lake.append(spark, "nn", batch(0,
      when(col("id") === 5, lit(Double.NaN))
        .otherwise(col("id").cast("double"))))
    lake.append(spark, "nn", batch(100,
      (col("id") - lit(1.0)).cast("double")))
    lake.enableColumnStats(spark, "nn", Seq("v"))
    val (r, files) = report(lake, "nn", Seq("v"))
    assert(files === 0, "NaN bounds are still exact doubles — " +
      "metadata must serve them")
    // the scan answer: Spark's max over a NaN-bearing column is NaN
    assert(r.getAs[Double]("max_v").isNaN, "metadata max must be NaN")
    assert(r.getAs[Double]("min_v") === 0.0)
    val scanMax = spark.read.option("basePath", lake.tableDir("nn"))
      .parquet(lake.tableDir("nn")).agg(max(col("v"))).head().getDouble(0)
    assert(scanMax.isNaN)
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
    val (r, files) = report(lake, "big", Seq("huge"))
    assert(files > 0, "2^53-scale long bounds must not be " +
      "served from double zones")
    assert(r.getAs[Long]("min_huge") === big)
    assert(r.getAs[Long]("max_huge") === big + 9L)
    assert(r.getAs[Long]("n_huge") === 10L)
  }

  test("tp_timestamp min/max is manifest-served; small longs are " +
      "zone-served") {
    val (lake, t) = fixture()
    val (r, files) = report(lake, t, Seq("event_id", "tp_timestamp"))
    assert(files === 0)
    assert(r.getAs[Long]("min_event_id") === 0L)
    assert(r.getAs[Long]("max_event_id") === 1049L)
    assert(r.getAs[Timestamp]("min_tp_timestamp") ===
      Timestamp.valueOf("2024-03-05 00:00:00"))
    // max id is the null batch's 1049 → +1,049,000 s = 12d 3:23:20
    assert(r.getAs[Timestamp]("max_tp_timestamp") ===
      Timestamp.valueOf("2024-03-17 03:23:20"))
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
    val band = Some((Timestamp.valueOf("2024-03-05 02:30:00"),
      Timestamp.valueOf("2024-03-05 05:30:00")))
    val bandCols = Seq("v", "event_id")
    val (r, files) = report(lake, "tb", bandCols, band)
    assert(files > 0 && files < total / 2,
      s"expected only straddlers scanned, got $files of $total")
    // truth through the plain reader with the same band
    val plain = spark.read.option("basePath", lake.tableDir("tb"))
      .parquet(lake.tableDir("tb"))
    val as = aggs(bandCols)
    assertMatches(r, banded(plain, band).agg(as.head, as.tail: _*).head())
    // no tp_timestamp stats: the manifest's recorded ts_nulls is the
    // containment proof, so slices 1 and 2 answer from metadata; a
    // manifest written before ts_nulls has no proof → everything
    // overlapping scans (correct, not accelerated)
    val lake2 = Lake(Files.createTempDirectory("graft_statsagg_tb2").toString)
    for (i <- 0 until 4) lake2.append(spark, "tb",
      slice(i)) // reuse generator; table name inside spec is "tb"
    lake2.enableColumnStats(spark, "tb", Seq("v", "event_id"))
    def scanned2 = report(lake2, "tb", Seq("v"),
      Some((Timestamp.valueOf("2024-03-05 01:00:00"),
        Timestamp.valueOf("2024-03-05 02:59:59"))))._2
    assert(scanned2 === 0,
      "the manifest's ts_nulls proves the contained slices null-ts-free")
    OlderManifests.dropTsNulls(spark, lake2, "tb")
    assert(scanned2 > 0,
      "without ts_nulls or tp_timestamp stats nothing may be " +
        "metadata-contained")
  }

  test("unknown column and empty-table guards") {
    val (lake, t) = fixture()
    val config = Files.createTempDirectory("graft_statsagg_cfg").toString
    def cli(args: String*): (Int, String) = {
      val bos = new java.io.ByteArrayOutputStream()
      val rc = graft.cli.Main.run(spark, Seq("table", "aggregate") ++ args ++
        Seq("--lake-dir", lake.root, "--config-dir", config),
        new java.io.PrintStream(bos, true, "UTF-8"))
      (rc, new String(bos.toByteArray, "UTF-8"))
    }
    def fails(args: String*)(problem: String): Unit = {
      val (rc, out) = cli(args: _*)
      assert(rc === 1 && out.contains(problem), out)
    }
    fails(t, "--columns", "nope")(s"table '$t' has no column 'nope'")
    fails("absent_table", "--columns", "v")("no lake table 'absent_table'")
    fails(t, "--from", "2024-03-06", "--to", "2024-03-05")(
      "--from is after --to")
    fails(t, "--topk", "two")("--topk wants a positive integer")
    fails(t, "--quantiles", "0.5,1.5")("--quantiles wants comma-separated")
    // every row deleted: the table's directory stays, its files go
    lake.dataFiles(spark, t).foreach(p => new java.io.File(p).delete())
    fails(t, "--columns", "v")(s"table '$t' has no data files")
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
