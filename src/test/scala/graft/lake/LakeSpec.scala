package graft.lake

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.config.PartitionSpec
import graft.ingest.Ingest
import graft.query.Views

/** Latches for the catalog-sync-inside-lock pin: top-level so the
  * gate UDF's closure captures a static module reference (local-mode
  * tasks share the JVM, so the appender's tasks and the test thread
  * rendezvous on the same latches).
  */
private object LakeSpecGate {
  val entered = new java.util.concurrent.CountDownLatch(1)
  val release = new java.util.concurrent.CountDownLatch(1)
}

class LakeSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private def newLake(): Lake =
    Lake(Files.createTempDirectory("graft_lake_test").toString)

  /** 2 partitions × 2 months of enriched rows. */
  private def sampleBatch(n: Int = 100, partition: String = "p0") = {
    val raw = spark.range(n).select(
      col("id").as("event_id"),
      expr("timestamp '2024-01-05 00:00:00' + make_interval(0,0,0,0,0,0, id * 40000)")
        .as("tp_timestamp"),
      (col("id") % 3).cast("string").as("idx"),
      (col("id") * 1.5).as("v"))
    TpSchema.enrich(raw, PartitionSpec("t", partition,
      tpIndexColumn = Some("idx")))
  }

  test("enrich produces the tp_ contract") {
    val df = sampleBatch(10)
    assert(TpSchema.required.forall(df.columns.contains))
    val r = df.where(col("event_id") === 0).head()
    assert(r.getAs[Timestamp]("tp_timestamp") ==
      Timestamp.valueOf("2024-01-05 00:00:00"))
    assert(r.getAs[java.sql.Date]("tp_date").toString == "2024-01-05")
    assert(r.getAs[String]("tp_index") == "0")
    assert(r.getAs[String]("tp_partition") == "p0")
    assert(r.getAs[String]("tp_table") == "t")
    assert(r.getAs[Int]("tp_year") == 2024 && r.getAs[Int]("tp_month") == 1)
  }

  test("append partitions by (tp_partition, tp_index, tp_year, tp_month) and records stats") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(100))
    val dirs = lake.partitionDirs(spark, "t")
    assert(dirs.nonEmpty && dirs.forall(_.matches(
      "tp_partition=p0/tp_index=\\d/tp_year=2024/tp_month=\\d")))
    // months 1 and 2 present (100 rows * 40000s spans >1 month)
    val months = dirs.map(lake.partitionValues(_)(TpSchema.Month)).toSet
    assert(months == Set("1", "2"))
    val stats = lake.fileStats(spark, "t").collect()
    assert(stats.map(_.getAs[Long]("rows")).sum == 100)
    assert(stats.forall(r => r.getAs[Timestamp]("min_ts") != null))
    assert(lake.read(spark, "t").count() == 100)
  }

  test("concurrent appends serialize per table; manifest stays exact") {
    val lake = newLake()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { _ =>
      new Thread(() =>
        try lake.append(spark, "t", sampleBatch(50))
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, errs)
    assert(lake.read(spark, "t").count() == 200)
    // every file accounted for exactly once in the stats manifest
    val stats = lake.fileStats(spark, "t").collect()
    assert(stats.map(_.getAs[Long]("rows")).sum == 200)
    assert(stats.map(_.getAs[String]("file")).distinct.length == stats.length)
  }

  test("manifest self-compacts past the file threshold: a mutation " +
      "storm leaves <= K+1 files with stats identical to the unbounded " +
      "shape") {
    // K = 8 so the storm stays spec-sized; production default 64 only
    // changes WHEN the same rewrite fires (r15 verdict task 4)
    val root = Files.createTempDirectory("graft_lake_mc").toString
    val lake = Lake(root, manifestCompactThreshold = 8)
    val unbounded = Lake(
      Files.createTempDirectory("graft_lake_mc_u").toString)
    def manifestFiles(l: Lake): Int = {
      val d = new java.io.File(s"${l.tableDir("t")}/_graft_manifest")
      Option(d.listFiles()).getOrElse(Array.empty).count { f =>
        f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")
      }
    }
    // 24 mutations: each append lands one manifest file; the bounded
    // lake must rewrite at >8 while the unbounded one accumulates
    for (i <- 0 until 24) {
      lake.append(spark, "t", sampleBatch(4, s"p$i"))
      unbounded.append(spark, "t", sampleBatch(4, s"p$i"))
    }
    assert(manifestFiles(lake) <= 9,
      s"self-compaction never fired: ${manifestFiles(lake)} files")
    assert(manifestFiles(unbounded) == 24, manifestFiles(unbounded))
    // stats identical to the unbounded shape — keyed by partition dir
    // (part-file basenames are per-write UUIDs, so per-dir multisets
    // are the cross-lake-comparable form)
    def stats(l: Lake) = l.fileStats(spark, "t")
      .select(col("file"), col("rows"), col("min_ts"), col("max_ts"))
      .collect().map(r => (r.getString(0).split('/').dropRight(1)
        .takeRight(4).mkString("/"), r.getLong(1),
        r.getTimestamp(2).getTime, r.getTimestamp(3).getTime))
      .sorted.toSeq
    assert(stats(lake) == stats(unbounded))
    assert(lake.read(spark, "t").count() == 96)
    // and mutations KEEP working after a compaction (seq monotonicity
    // survived the rewrite)
    lake.append(spark, "t", sampleBatch(4, "p_after"))
    assert(lake.fileStats(spark, "t").agg(sum("rows"))
      .head().getLong(0) == 100L)
  }

  test("per-column HLL sidecar stats drive CBO to REORDER a 3-table " +
      "join it gets wrong without them, and stay current through " +
      "mutations without re-scanning") {
    val lake = newLake()
    def mk(table: String, n: Int, extra: Seq[(String,
        org.apache.spark.sql.Column)]): Unit = {
      val raw = spark.range(n).select(
        (Seq(col("id").as("event_id"),
          expr("timestamp '2024-01-05 00:00:00' + " +
            "make_interval(0,0,0,0,0,0, id)").as("tp_timestamp")) ++
          extra.map { case (nm, e) => e.as(nm) }): _*)
      lake.append(spark, table,
        TpSchema.enrich(raw, PartitionSpec(table, "p0")))
      ()
    }
    // fact: 10k rows, both keys ndv ~1000. d1: 10 rows (k1-selective
    // — f⋈d1 ≈ 100 rows). d2: 1000 rows (f⋈d2 ≈ 10000 rows). The
    // query JOINS d2 FIRST, the wrong order by 100×.
    mk("cbo_f", 10000, Seq(
      "k1" -> pmod(col("id"), lit(1000)),
      "k2" -> pmod(col("id") * 7, lit(1000))))
    mk("cbo_d1", 10, Seq("d1k" -> col("id")))
    mk("cbo_d2", 1000, Seq("d2k" -> col("id")))
    Seq("cbo_f", "cbo_d1", "cbo_d2")
      .foreach(lake.registerCatalogTable(spark, _))
    val sql = "SELECT count(*) AS n FROM cbo_f " +
      "JOIN cbo_d2 ON cbo_f.k2 = cbo_d2.d2k " +
      "JOIN cbo_d1 ON cbo_f.k1 = cbo_d1.d1k"
    def joinOrder(): (Int, Int) = {
      val p = spark.sql(sql).queryExecution.optimizedPlan.toString
      (p.indexOf("cbo_d1"), p.indexOf("cbo_d2"))
    }
    val confs = Seq("spark.sql.cbo.enabled",
      "spark.sql.cbo.joinReorder.enabled")
    val prev = confs.map(k => k -> spark.conf.getOption(k))
    try {
      confs.foreach(spark.conf.set(_, "true"))
      // WITHOUT column stats: no reliable cardinalities, the written
      // order stands — d2 joined before d1
      val (d1a, d2a) = joinOrder()
      assert(d2a >= 0 && d1a > d2a, s"expected written order, got $d1a/$d2a")
      // enable + merge column stats on the join keys of all three
      lake.enableColumnStats(spark, "cbo_f", Seq("k1", "k2"))
      lake.enableColumnStats(spark, "cbo_d1", Seq("d1k"))
      lake.enableColumnStats(spark, "cbo_d2", Seq("d2k"))
      val fStats = lake.syncCatalogColumnStats(spark, "cbo_f").get
      assert(lake.syncCatalogColumnStats(spark, "cbo_d1").isDefined)
      assert(lake.syncCatalogColumnStats(spark, "cbo_d2").isDefined)
      Seq("cbo_f", "cbo_d1", "cbo_d2").foreach { t =>
        val bad = CatalogStatsReference.mismatches(spark, lake, t)
        assert(bad.isEmpty, bad.mkString("\n"))
      }
      // HLL NDV within sketch tolerance of the true 1000
      assert(fStats("k1")._1 > 900 && fStats("k1")._1 < 1100, fStats)
      assert(fStats("k1")._2 == 0L, fStats)
      // WITH stats: CBO reorders — d1 (the 100-row intermediate)
      // joins first
      val (d1b, d2b) = joinOrder()
      assert(d1b >= 0 && d1b < d2b,
        s"CBO did not reorder: d1@$d1b d2@$d2b")
      // result unchanged by the reorder
      assert(spark.sql(sql).head().getLong(0) == 100L)
      // incremental: a later append is picked up by merge alone (the
      // manifestAppend hook wrote its sidecar rows — no re-seed scan)
      mk("cbo_d1", 40, Seq("d1k" -> (col("id") + 10)))
      val after = lake.syncCatalogColumnStats(spark, "cbo_d1").get
      assert(after("d1k")._1 > 45 && after("d1k")._1 < 55, after)
      // compaction replaces files by name: the hook sketches the
      // rewritten files and the merge's live semi-join drops the dead
      // ones — NDV unchanged through the rewrite
      Maintenance.compact(spark, lake, "cbo_d1")
      val afterC = lake.syncCatalogColumnStats(spark, "cbo_d1").get
      assert(afterC("d1k")._1 > 45 && afterC("d1k")._1 < 55, afterC)
      val bad = CatalogStatsReference.mismatches(spark, lake, "cbo_d1")
      assert(bad.isEmpty, bad.mkString("\n"))
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("readPrunedByColumn: zone maps from the colstats sidecar skip " +
      "value-disjoint files, stay conservative for unknown files, and " +
      "never change results") {
    val root = Files.createTempDirectory("graft_lake_zone").toString
    val lake = Lake(root)
    def banded(lo: Long, hi: Long) = {
      val raw = spark.range(lo, hi).select(
        col("id").as("event_id"),
        expr("timestamp '2024-01-05 00:00:00' + " +
          "make_interval(0,0,0,0,0,0, id)").as("tp_timestamp"),
        col("id").cast("double").as("v"))
      TpSchema.enrich(raw, PartitionSpec("t", "p0"))
    }
    // three appends with disjoint v ranges → per-file zone maps
    lake.append(spark, "t", banded(0, 100))
    lake.append(spark, "t", banded(100, 200))
    lake.append(spark, "t", banded(200, 300))
    lake.enableColumnStats(spark, "t", Seq("v"))
    val full = lake.read(spark, "t")
    val pruned = lake.readPrunedByColumn(spark, "t", "v", 120.0, 150.0)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"${pruned.inputFiles.length} vs ${full.inputFiles.length}")
    // identical rows after the row-level filter (conservativeness)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.where(col("v") >= 120.0 && col("v") <= 150.0)
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows(pruned) == rows(full))
    assert(rows(pruned).size == 31)
    // boundary inclusivity: a range TOUCHING a file's max must read it
    val edge = lake.readPrunedByColumn(spark, "t", "v", 99.0, 99.0)
      .where(col("v") === 99.0).count()
    assert(edge == 1L)
    // a file the sidecar doesn't know (append AFTER a stats wipe —
    // simulate by asking for a column with no sidecar rows): full read
    val unknownCol = lake.readPrunedByColumn(spark, "t", "nope",
      0.0, 1.0)
    assert(unknownCol.inputFiles.length == full.inputFiles.length)
    // colstats never enabled → plain read
    val other = Lake(Files.createTempDirectory("graft_zone2").toString)
    other.append(spark, "t", banded(0, 10))
    assert(other.readPrunedByColumn(spark, "t", "v", 0.0, 1.0)
      .inputFiles.length == other.read(spark, "t").inputFiles.length)
    // STRING zone maps: lexicographically banded appends on a string
    // column prune the same way (the source/URL-prefix shape)
    val slake = Lake(Files.createTempDirectory("graft_zone_s").toString)
    def sbanded(prefix: String) = {
      val raw = spark.range(50).select(
        col("id").as("event_id"),
        expr("timestamp '2024-01-05 00:00:00' + " +
          "make_interval(0,0,0,0,0,0, id)").as("tp_timestamp"),
        concat(lit(prefix), col("id")).as("src"))
      TpSchema.enrich(raw, PartitionSpec("t", "p0"))
    }
    slake.append(spark, "t", sbanded("alpha/"))
    slake.append(spark, "t", sbanded("beta/"))
    slake.append(spark, "t", sbanded("gamma/"))
    slake.enableColumnStats(spark, "t", Seq("src"))
    val sFull = slake.read(spark, "t")
    // prefix scan: [lo, lo + maxChar)
    val sPruned = slake.readPrunedByColumn(spark, "t", "src",
      "beta/", "beta/￿")
    assert(sPruned.inputFiles.length < sFull.inputFiles.length,
      s"${sPruned.inputFiles.length} vs ${sFull.inputFiles.length}")
    def srcRows(df: org.apache.spark.sql.DataFrame) =
      df.where(col("src").startsWith("beta/"))
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(srcRows(sPruned) == srcRows(sFull))
    assert(srcRows(sPruned).size == 50)
  }

  test("concurrent appends on a colstats-enabled, low-threshold lake: " +
      "manifest + sidecar stay exact through racing mutations and " +
      "mid-storm self-compactions") {
    // the r15 surfaces under one race: 4 threads × 8 appends against
    // manifestCompactThreshold=8 forces several manifest AND sidecar
    // rewrites to interleave with appends; the table lock must keep
    // every stats row and every sketch
    val lake = Lake(Files.createTempDirectory("graft_lake_race").toString,
      manifestCompactThreshold = 8)
    lake.append(spark, "t", sampleBatch(10, "seed"))
    lake.enableColumnStats(spark, "t", Seq("idx"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { ti =>
      new Thread(() =>
        try (0 until 8).foreach { i =>
          lake.append(spark, "t", sampleBatch(10, s"p$ti-$i")); ()
        }
        catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, errs)
    assert(lake.read(spark, "t").count() == 330)
    val stats = lake.fileStats(spark, "t").collect()
    assert(stats.map(_.getAs[Long]("rows")).sum == 330)
    assert(stats.map(_.getAs[String]("file")).distinct.length ==
      stats.length)
    // sidecar merged: idx has 3 distinct values in every batch; no
    // append's sketch was lost to a racing rewrite (a lost file's
    // sketch would not change NDV here, so ALSO pin per-file
    // coverage: every live file has a sidecar row)
    val m = lake.syncCatalogColumnStats(spark, "t").get
    assert(m("idx")._1 >= 3 && m("idx")._2 == 0L, m)
    val live = stats.map(_.getAs[String]("file")).toSet
    val covered = spark.read.parquet(
        s"${lake.tableDir("t")}/_graft_colstats")
      .where(col("column") === "idx")
      .select("file").distinct().collect().map(_.getString(0)).toSet
    assert(live.subsetOf(covered),
      s"files missing sidecar rows: ${(live -- covered).take(3)}")
  }

  test("crash-leftover _temporary task files never enter the manifest") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(10))
    val before = lake.dataFiles(spark, "t")
    // simulate a crashed concurrent job: task files under _temporary
    val tmp = new java.io.File(s"${lake.tableDir("t")}/_temporary/0/task_1")
    tmp.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(tmp, "part-00000-dead.snappy.parquet").toPath,
      Array[Byte](1, 2, 3))
    assert(lake.dataFiles(spark, "t") == before)
    // compaction planning must not see the dead file either
    val stats = lake.fileStats(spark, "t").collect()
    assert(stats.map(_.getAs[Long]("rows")).sum == 10)
  }

  test("time+partition filters prune partition directories in the scan") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(100, "p0"))
    lake.append(spark, "t", sampleBatch(100, "p1"))
    val f = Views.Filters(
      from = Some(Timestamp.valueOf("2024-02-01 00:00:00")),
      partitions = Seq("p0"), indexes = Seq("1", "2"))
    val df = Views.filtered(spark, lake, "t", f)
    val plan = df.queryExecution.executedPlan.toString
    // partition pruning reached the file source
    assert(plan.contains("PartitionFilters") &&
      plan.contains("tp_partition"), plan.take(800))
    val expected = lake.read(spark, "t")
      .where(col("tp_partition") === "p0" &&
        col("tp_index").isin("1", "2") &&
        col("tp_timestamp") >= lit(Timestamp.valueOf("2024-02-01 00:00:00")))
      .count()
    assert(df.count() == expected && expected > 0)
    // and the pruned scan reads strictly fewer files than the table has
    val scanned = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
    val allDirs = lake.partitionDirs(spark, "t").length
    assert(scanned.exists(_ < allDirs),
      s"scan touched $scanned of $allDirs partitions")
  }

  test("manifest data-skipping: time-ranged read scans fewer files, same rows") {
    val lake = newLake()
    // 3 appends → ≥3 time-disjoint files per partition dir
    (0 until 3).foreach { k =>
      val raw = spark.range(30).select(
        (col("id") + k * 1000).as("event_id"),
        expr(s"timestamp '2024-01-0${k * 3 + 1} 00:00:00' + " +
          "make_interval(0,0,0,0,0,0, id * 60)").as("tp_timestamp"),
        lit("a").as("idx"), (col("id") * 1.0).as("v"))
      lake.append(spark, "t",
        TpSchema.enrich(raw, PartitionSpec("t", "p0",
          tpIndexColumn = Some("idx"))))
    }
    val allFiles = lake.read(spark, "t").inputFiles.length
    val from = Some(Timestamp.valueOf("2024-01-04 00:00:00"))
    val to = Some(Timestamp.valueOf("2024-01-05 00:00:00"))
    // the window's tp_timestamp bounds prune through the manifest
    // time zones of the view's file index
    val f = Views.Filters(from = from, to = to)
    val view = Views.filtered(spark, lake, "t", f).select("event_id")
    val read = graft.query.ScanAudit.filesReadAfterRun(view)
    assert(read < allFiles,
      s"expected fewer than $allFiles files in the pruned scan, read $read")
    // pruning is a pure scan reduction: filtered results are identical
    val viaView = view.as[Long].collect().sorted
    val full = lake.read(spark, "t")
      .where(col("tp_timestamp") >= lit(from.get) &&
        col("tp_timestamp") <= lit(to.get))
      .select("event_id").as[Long].collect().sorted
    assert(viaView.sameElements(full) && full.nonEmpty)
    // empty window → empty result, schema preserved
    val none = Views.filtered(spark, lake, "t", Views.Filters(
      from = Some(Timestamp.valueOf("2030-01-01 00:00:00"))))
    assert(none.count() == 0 &&
      none.columns.contains(TpSchema.Partition))
  }

  test("wildcard view patterns: * becomes LIKE, no wildcard becomes equality") {
    val p = Views.predicate(Views.Filters(partitions = Seq("prod_*", "dev")))
    assert(p.get.toString.contains("like(tp_partition, 'prod_%')"))
    assert(p.get.toString.contains("=(tp_partition, 'dev')"))
  }

  test("partition delete removes only the range, prunes empty dirs") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(100, "p0"))
    lake.append(spark, "t", sampleBatch(100, "p1"))
    val from = Timestamp.valueOf("2024-01-10 00:00:00")
    val to = Timestamp.valueOf("2024-01-20 00:00:00")
    val expectDel = lake.read(spark, "t")
      .where(col("tp_partition") === "p0" &&
        col("tp_timestamp") >= lit(from) && col("tp_timestamp") <= lit(to))
      .count()
    val deleted = Maintenance.deletePartitionRange(
      spark, lake, "t", "p0", Some(from), Some(to))
    assert(deleted == expectDel && deleted > 0)
    val left = lake.read(spark, "t")
    assert(left.where(col("tp_partition") === "p0" &&
      col("tp_timestamp") >= lit(from) &&
      col("tp_timestamp") <= lit(to)).count() == 0)
    // p1 untouched
    assert(left.where(col("tp_partition") === "p1").count() == 100)
  }

  test("deleting a whole partition removes its directories") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(50, "p0"))
    lake.append(spark, "t", sampleBatch(50, "p1"))
    val deleted = Maintenance.deletePartitionRange(spark, lake, "t", "p1")
    assert(deleted == 50)
    assert(lake.partitionDirs(spark, "t")
      .forall(_.startsWith("tp_partition=p0")))
    assert(lake.read(spark, "t").count() == 50)
  }

  test("append writes one file per touched dir, not one per task") {
    // the REBALANCE-on-partition-columns pin: without it a 32-thread
    // append of a 60-dir batch emits up to tasks×dirs fragment files
    // (~8 per 8-row dir measured on the 12k-dir import), and every
    // downstream read/compact pays the open-file tax
    val lake = newLake()
    val raw = spark.range(480).select(
      col("id").as("event_id"),
      expr("timestamp '2024-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, 0, id % 720, 0, 0)").as("tp_timestamp"),
      concat(lit("x"), col("id") % 60).as("idx"),
      col("id").cast("double").as("v"))
    lake.append(spark, "wide",
      TpSchema.enrich(raw, PartitionSpec("wide", "p0",
        tpIndexColumn = Some("idx"))))
    val files = lake.dataFiles(spark, "wide")
    val perDir = files.groupBy(f => f.substring(0, f.lastIndexOf('/')))
    assert(perDir.values.forall(_.size == 1),
      s"fragmented dirs: ${perDir.filter(_._2.size > 1).keys.take(3)}")
    assert(perDir.size >= 60, s"expected ≥60 dirs, got ${perDir.size}")
    assert(lake.read(spark, "wide").count() == 480)
  }

  test("wide dir scope (2000 dirs) plans as broadcast semi-join, " +
    "not a predicate tree") {
    // the compact/delete twin of UpsertSpec's wide-batch case: the
    // partition_stress rehearsal killed compact with a
    // StackOverflowError at 1 200 dirs (every dir of a fresh wide
    // collect is fragmented, so the whole table is the work list) —
    // scopeToDirs must switch to a join above ChainMax
    val df = spark.range(4000).select(
      lit("p0").as(TpSchema.Partition),
      concat(lit("i"), col("id") % 2500).as(TpSchema.Index),
      lit(2024).as(TpSchema.Year),
      ((col("id") % 12) + 1).cast("int").as(TpSchema.Month),
      col("id").as("v"))
    val dirs = (0 until 2000).map(i => Map(
      TpSchema.Partition -> "p0", TpSchema.Index -> s"i$i",
      TpSchema.Year -> "2024", TpSchema.Month -> ((i % 12) + 1).toString))
    val wide = Maintenance.scopeToDirs(df, dirs)
    val plan = wide.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.toLowerCase.contains("leftsemi"), plan.take(2000))
    val dirSet = dirs.map(m =>
      (m(TpSchema.Index), m(TpSchema.Month).toInt)).toSet
    val expect = df.collect()
      .filter(r => dirSet((r.getString(1), r.getInt(3))))
      .map(_.getLong(4)).toSet
    assert(expect.nonEmpty)
    assert(wide.select("v").collect().map(_.getLong(0)).toSet == expect)
    // narrow scopes keep the literal predicate (planning-time pruning)
    val narrow = Maintenance.scopeToDirs(df, dirs.take(10))
    assert(!narrow.queryExecution.executedPlan.toString.contains("Join"))
    assert(narrow.select("v").collect().map(_.getLong(0)).toSet ==
      df.collect().filter(r => dirs.take(10).map(m =>
        (m(TpSchema.Index), m(TpSchema.Month).toInt)).toSet(
          (r.getString(1), r.getInt(3)))).map(_.getLong(4)).toSet)
  }

  test("manifest tombstones keep listing-free fileStats equal to the " +
    "reconciled mode across every mutation path") {
    // the object-store planning contract (verdict r12 task 4): append,
    // compact (dynamic-overwrite replace), partition delete (overwrite
    // + journaled dir removal) all tombstone what they remove, so
    // fileStats(reconcileWithListing = false) — pure manifest, zero
    // listing — answers identically to the listing-reconciled mode
    val lake = newLake()
    def raw(offset: Int) = spark.range(120).select(
      (col("id") + offset).as("event_id"),
      expr("timestamp '2024-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, id % 56, 1, 0, 0)").as("tp_timestamp"),
      concat(lit("x"), col("id") % 3).as("idx"),
      col("id").cast("double").as("v"))
    def statsEqual(where: String): Unit = {
      val rec = lake.fileStats(spark, "tomb", reconcileWithListing = true)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val man = lake.fileStats(spark, "tomb", reconcileWithListing = false)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rec == man, s"$where: reconciled=${rec.size} manifest=${man.size} " +
        s"diff=${(rec diff man) ++ (man diff rec)}")
      // and both match the physical truth
      assert(rec.map(_._1) == lake.dataFiles(spark, "tomb").toSet, where)
    }
    val spec = PartitionSpec("tomb", "p0", tpIndexColumn = Some("idx"))
    graft.ingest.Ingest.collectBatch(spark, lake, spec, raw(0))
    statsEqual("after first append")
    graft.ingest.Ingest.collectBatch(spark, lake, spec, raw(1000000))
    statsEqual("after second append (fragmented dirs)")
    Maintenance.compact(spark, lake, "tomb")
    statsEqual("after compact (overwrite replaced files)")
    val del = Maintenance.deletePartitionRange(spark, lake, "tomb", "p0",
      from = Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      to = Some(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
    assert(del > 0)
    statsEqual("after partition delete (journaled dir removals)")
    // vacuum re-syncs and drops tombstone rows; equality must survive
    Maintenance.vacuum(spark, lake, "tomb")
    statsEqual("after vacuum")
  }

  test("manifest seq is monotonic across writer generations: a " +
    "tombstone written after a legacy high-seq row still wins") {
    // the r13 defect: seq came from System.nanoTime(), whose origin is
    // arbitrary per JVM/boot — a stats row written by a long-uptime
    // machine could permanently out-rank a LATER tombstone from a
    // fresh machine, so listing-free planning kept serving a deleted
    // file. The fix floors the per-table counter at the manifest's
    // current max and anchors new values at epoch-micros.
    val lake = newLake()
    val dir = s"${lake.tableDir("t")}/_graft_manifest"
    // a legacy row whose seq simulates nanoTime on a ~25-day-uptime
    // writer: three orders of magnitude above epoch-micros
    val legacySeq = System.currentTimeMillis() * 1000L * 1000L
    val f = "/elsewhere/t/tp_partition=p0/f1.parquet"
    Seq((f, 10L, null: Timestamp, null: Timestamp, legacySeq))
      .toDF("file", "rows", "min_ts", "max_ts", "seq")
      .coalesce(1).write.parquet(dir)
    // this JVM's writer — its very first issue must floor at the
    // legacy max, so the tombstone out-ranks the stats row
    lake.noteRemoved(spark, "t", Seq(f))
    assert(lake.fileStats(spark, "t", reconcileWithListing = false)
      .collect().isEmpty, "tombstone lost max_by(seq) to the legacy row")
    // and subsequent issues keep strictly increasing past the floor
    val s1 = lake.nextSeq(spark, "t")
    val s2 = lake.nextSeq(spark, "t")
    assert(s1 > legacySeq && s2 > s1)
  }

  test("manifest seq is epoch-anchored on fresh tables") {
    // cross-process ordering contract: absent a legacy floor, seq IS
    // wall-clock (micros), so rows from separate runs/machines order
    // by time instead of by arbitrary per-boot nanoTime origins
    val lake = newLake()
    val before = System.currentTimeMillis() * 1000L
    lake.append(spark, "t", sampleBatch(10))
    val seqs = spark.read
      .parquet(s"${lake.tableDir("t")}/_graft_manifest")
      .select("seq").as[Long].collect()
    assert(seqs.nonEmpty && seqs.forall(_ >= before))
  }

  test("a mutation appends exactly ONE manifest file — stats and " +
    "tombstones combined") {
    // the r13 shape paid two coalesce(1) append jobs per overwrite
    // (recordStats then noteRemoved) — a measurable per-mutation tax
    // at the bench. One mutation = one manifest parquet append.
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(100))
    def manifestFiles = new java.io.File(
        s"${lake.tableDir("t")}/_graft_manifest")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val before = manifestFiles
    // replaces every dir it writes: adds files AND tombstones the old
    lake.overwritePartitions(spark, "t", sampleBatch(100))
    assert(manifestFiles == before + 1,
      "overwrite must write stats + tombstones in a single append")
    // and reconciliation still balances
    val stats = lake.fileStats(spark, "t", reconcileWithListing = false)
      .collect()
    assert(stats.map(_.getAs[Long]("rows")).sum == 100)
    assert(stats.forall(_.getAs[Long]("rows") >= 0))
    assert(lake.read(spark, "t").count() == 100)
  }

  test("catalog partition sync happens INSIDE the table write lock") {
    // verdict r13 task 7: the ALTER TABLE ADD PARTITION batch and the
    // refreshTable must run while the appender still holds the table
    // lock — moved outside it, an interleaved writer/reader could
    // enter between the data commit and the sync and observe (or
    // race) a files-but-no-catalog half-state. Pin: while an append
    // is paused mid-body (a gated column expression), a
    // lock-acquiring probe stays BLOCKED; the instant it unblocks the
    // catalog already lists the new partitions.
    import org.apache.spark.sql.catalyst.TableIdentifier
    val lake = newLake()
    lake.append(spark, "reg_lock", sampleBatch(20))
    lake.registerCatalogTable(spark, "reg_lock")
    try {
      val partsBefore = spark.sessionState.catalog
        .listPartitionNames(TableIdentifier("reg_lock")).size
      val gate = udf { (x: Long) =>
        LakeSpecGate.entered.countDown()
        LakeSpecGate.release.await(
          30, java.util.concurrent.TimeUnit.SECONDS)
        x
      }
      // p1 → new partition dirs → the sync must ADD them
      val batch = sampleBatch(30, partition = "p1")
        .withColumn("event_id", gate(col("event_id")))
      @volatile var partsAtEntry = -1
      val appender = new Thread(() => {
        lake.append(spark, "reg_lock", batch); ()
      })
      appender.start()
      assert(LakeSpecGate.entered.await(
        30, java.util.concurrent.TimeUnit.SECONDS))
      val probe = new Thread(() =>
        lake.locked("reg_lock") {
          partsAtEntry = spark.sessionState.catalog
            .listPartitionNames(TableIdentifier("reg_lock")).size
        })
      probe.start()
      probe.join(500)
      assert(probe.isAlive, "probe entered the table lock mid-append — " +
        "the append body (write + catalog sync) must hold it throughout")
      LakeSpecGate.release.countDown()
      appender.join(60000); probe.join(60000)
      assert(!appender.isAlive && !probe.isAlive)
      assert(partsAtEntry > partsBefore,
        s"probe acquired the lock but the catalog listed $partsAtEntry " +
          s"partitions (pre-append $partsBefore) — the sync escaped " +
          "the lock")
    } finally {
      spark.sql("DROP TABLE IF EXISTS reg_lock")
      ()
    }
  }

  test("lake join on a partition column plans dynamic partition pruning") {
    // the 100 TB join shape: fact (lake, partitioned by tp_month et
    // al.) ⋈ filtered dim on the partition column must prune fact
    // DIRECTORIES at runtime from the dim's broadcast — without DPP
    // the scan reads every month and filters rows after I/O. Pinned
    // here so a reader-path change (basePath handling, catalog vs
    // path-based planning) can't silently drop the insert.
    val lake = newLake()
    lake.append(spark, "dpp_t", sampleBatch(100)) // spans months 1, 2
    val fact = lake.read(spark, "dpp_t")
    // the dim must be FILE-BACKED: a local relation constant-folds its
    // filter away and the pruning rule sees no selective predicate
    val dimPath = s"${lake.root}/_dim"
    Seq((1, "jan"), (2, "feb")).toDF("m", "label")
      .write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("label") === "jan")
    val joined = fact.join(dim, fact("tp_month") === dim("m"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"no DPP in the fact scan's PartitionFilters:\n${plan.take(2500)}")
    // and the pruned join is value-correct: only month-1 rows survive
    val got = joined.count()
    val want = fact.where(col("tp_month") === 1).count()
    assert(got == want && want > 0, s"$got vs $want")
  }

  test("syncCatalogStats feeds exact manifest row counts into " +
    "stats-driven planning, scan-free") {
    // ANALYZE-equivalent statistics from metadata the lake already
    // maintains: rows from the manifest, size from a 4-file sample.
    // Pin: the registered table's optimized plan carries the EXACT
    // rowCount under CBO — the cardinality 100 TB join reordering
    // plans from — and a sane size estimate, without any data scan.
    import org.apache.spark.sql.catalyst.TableIdentifier
    val lake = newLake()
    lake.append(spark, "stats_t", sampleBatch(200))
    lake.registerCatalogTable(spark, "stats_t")
    try {
      val Some((rows, bytes)) = lake.syncCatalogStats(spark, "stats_t")
      assert(rows == 200L)
      val actual = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier("stats_t")).stats.get
      assert(actual.rowCount.contains(BigInt(200)))
      // size estimate within 2× of the real on-disk footprint
      val real = lake.dataFiles(spark, "stats_t")
        .map(f => new java.io.File(f).length()).sum
      assert(bytes >= real / 2 && bytes <= real * 2, s"$bytes vs $real")
      // planner-visible: under CBO the optimized plan's row estimate
      // IS the manifest count
      val prev = spark.conf.getOption("spark.sql.cbo.enabled")
      try {
        spark.conf.set("spark.sql.cbo.enabled", "true")
        val st = spark.table("stats_t")
          .queryExecution.optimizedPlan.stats
        assert(st.rowCount.contains(BigInt(200)), st)
      } finally prev.fold(spark.conf.unset("spark.sql.cbo.enabled"))(
        spark.conf.set("spark.sql.cbo.enabled", _))
    } finally {
      spark.sql("DROP TABLE IF EXISTS stats_t")
      ()
    }
  }

  test("vacuum --relocate repairs a physically moved lake's manifest") {
    // manifest rows hold absolute paths; after a root move the
    // reconciliation matches nothing (stats invisible) and a vacuum
    // would wipe them — relocate resplices every row at the new root
    val oldRoot = java.nio.file.Files
      .createTempDirectory("graft_reloc_a").toString
    val lakeA = Lake(oldRoot)
    def raw(offset: Int) = spark.range(60).select(
      (col("id") + offset).as("event_id"),
      expr("timestamp '2024-03-01 00:00:00' + " +
        "make_interval(0, 0, 0, id % 20, 1, 0, 0)").as("tp_timestamp"),
      concat(lit("x"), col("id") % 2).as("idx"),
      col("id").cast("double").as("v"))
    val spec = PartitionSpec("mv", "p0", tpIndexColumn = Some("idx"))
    graft.ingest.Ingest.collectBatch(spark, lakeA, spec, raw(0))
    graft.ingest.Ingest.collectBatch(spark, lakeA, spec, raw(1000))
    Maintenance.compact(spark, lakeA, "mv") // adds tombstones too
    val expect = lakeA.fileStats(spark, "mv").collect()
      .map(r => (lakeA.relOf("mv", r.getString(0)), r.getLong(1))).toSet

    val newRoot = java.nio.file.Files
      .createTempDirectory("graft_reloc_b").toString
    java.nio.file.Files.delete(java.nio.file.Paths.get(newRoot))
    java.nio.file.Files.move(java.nio.file.Paths.get(oldRoot),
      java.nio.file.Paths.get(newRoot))
    val lakeB = Lake(newRoot)
    // before relocate: data reads fine, but stats are invisible
    assert(lakeB.read(spark, "mv").count() == 120)
    assert(lakeB.fileStats(spark, "mv").count() == 0,
      "moved manifest should reconcile to nothing before relocate")
    val moved = Maintenance.relocate(spark, lakeB, "mv")
    assert(moved > 0, "relocate found nothing to fix")
    val gotB = lakeB.fileStats(spark, "mv").collect()
      .map(r => (lakeB.relOf("mv", r.getString(0)), r.getLong(1))).toSet
    assert(gotB == expect, s"stats diverged after relocate: " +
      s"${(gotB diff expect) ++ (expect diff gotB)}")
    // both liveness modes agree at the new root; second relocate no-ops
    val man = lakeB.fileStats(spark, "mv", reconcileWithListing = false)
      .collect().map(r => (lakeB.relOf("mv", r.getString(0)),
        r.getLong(1))).toSet
    assert(man == expect)
    assert(Maintenance.relocate(spark, lakeB, "mv") == 0)
  }

  test("second compact is a fixed-point no-op; a single-dir append " +
    "recompacts only that dir") {
    val lake = newLake()
    def raw(offset: Int, idxMod: Int) = spark.range(90).select(
      (col("id") + offset).as("event_id"),
      expr("timestamp '2024-02-01 00:00:00' + " +
        "make_interval(0, 0, 0, id % 28, 1, 0, 0)").as("tp_timestamp"),
      concat(lit("x"), col("id") % idxMod).as("idx"),
      col("id").cast("double").as("v"))
    val spec = PartitionSpec("steady", "p0", tpIndexColumn = Some("idx"))
    graft.ingest.Ingest.collectBatch(spark, lake, spec, raw(0, 3))
    graft.ingest.Ingest.collectBatch(spark, lake, spec, raw(1000000, 3))
    val (b1, a1) = Maintenance.compact(spark, lake, "steady")
    assert(a1 < b1, s"first compact merged nothing: $b1 -> $a1")
    val files1 = lake.dataFiles(spark, "steady")
    // steady state: nothing to do, nothing rewritten
    val (b2, a2) = Maintenance.compact(spark, lake, "steady")
    assert(b2 == a2 && b2 == a1, s"recompact not a no-op: $b2 -> $a2")
    assert(lake.dataFiles(spark, "steady") == files1,
      "recompact rewrote files")
    // daily increment: append rows for ONE index value only — compact
    // must rewrite exactly the fragmented dirs, leaving every other
    // file physically untouched
    graft.ingest.Ingest.collectBatch(spark, lake, spec,
      raw(2000000, 3).where(col("idx") === "x1"))
    val untouched = files1.filterNot(_.contains("/tp_index=x1/")).toSet
    Maintenance.compact(spark, lake, "steady")
    val after = lake.dataFiles(spark, "steady").toSet
    assert(untouched.subsetOf(after),
      s"incremental compact rewrote untouched dirs: " +
        s"${(untouched diff after).take(3)}")
    assert(lake.read(spark, "steady").count() == 90 * 2 + 30)
  }

  test("compactAligned: no file straddles a day afterwards, content " +
    "unchanged, bucket reports go metadata-served, second run no-ops") {
    val lake = newLake()
    val spec = PartitionSpec("al", "p0", tpIndexColumn = Some("idx"))
    // three appends each spanning 4 days hour-by-hour → every data
    // file straddles day boundaries (the shape time-ordered compaction
    // leaves behind and the bucket hybrid then has to scan)
    def slab(offset: Int) = TpSchema.enrich(spark.range(96).select(
      (col("id") + offset).as("event_id"),
      expr("timestamp '2024-02-01 00:00:00' + make_interval(0,0,0, " +
        "cast(id / 24 AS int), cast(id % 24 AS int), 0, 0)")
        .as("tp_timestamp"),
      lit("x").as("idx"), col("id").cast("double").as("v")), spec)
    for (i <- 0 until 3) lake.append(spark, "al", slab(i * 1000))
    // null-ts rows land in their own (null-partition) dir and must
    // survive alignment untouched (their dir is never a candidate)
    lake.append(spark, "al", TpSchema.enrich(spark.range(5).select(
      (col("id") + 9000).as("event_id"),
      lit(null).cast("timestamp").as("tp_timestamp"),
      lit("x").as("idx"), col("id").cast("double").as("v")), spec))
    lake.enableColumnStats(spark, "al",
      Seq("v", "event_id", "tp_timestamp"))
    val beforeRows = lake.read(spark, "al")
      .orderBy("event_id").collect().toSeq

    val (b, a) = Maintenance.compactAligned(spark, lake, "al")
    // 3 straddling files in the dated dir → 4 day-contained files
    assert(b === 4L && a === 5L, s"$b -> $a")
    assert(lake.read(spark, "al").orderBy("event_id").collect().toSeq
      === beforeRows, "alignment must not change content")
    // POST-CONDITION: every file with a time range is day-contained
    lake.fileStats(spark, "al").collect().foreach { r =>
      val mn = Option(r.getAs[Timestamp]("min_ts"))
      val mx = Option(r.getAs[Timestamp]("max_ts"))
      for (lo <- mn; hi <- mx) {
        def day(t: Timestamp) = Math.floorDiv(org.apache.spark.sql
          .catalyst.util.DateTimeUtils.fromJavaTimestamp(t), 86400000000L)
        assert(day(lo) === day(hi), s"file straddles a day: $r")
      }
    }
    // the daily report now reads ZERO dated data files (only the
    // null-ts file stays in-plan, feeding the null bucket)
    Views.register(spark, lake, Views.Filters())
    val q = spark.sql("SELECT tp_date, count(*) AS n, " +
      "sum(event_id) AS s FROM al GROUP BY 1 ORDER BY 1 ASC NULLS FIRST")
    val files = graft.query.ScanAudit.filesReadAfterRun(q)
    assert(files === 1, s"only the null-ts file may scan, read $files")
    val truth = spark.read.option("basePath", lake.tableDir("al"))
      .parquet(lake.tableDir("al"))
      .groupBy("tp_date")
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
      .orderBy(col("tp_date").asc_nulls_first).collect().toSeq
    assert(q.collect().toSeq === truth)
    // fixed point: a second aligned run collects no candidates
    val files1 = lake.dataFiles(spark, "al")
    val (b2, a2) = Maintenance.compactAligned(spark, lake, "al")
    assert(b2 === a2 && b2 === a, s"realign not a no-op: $b2 -> $a2")
    assert(lake.dataFiles(spark, "al") === files1, "realign rewrote files")
    // WEEK grain (Monday anchor): Feb 1-4 2024 all sit in the week of
    // Mon Jan 29, so week alignment MERGES the four day files into one
    // (and the null file stays); rows unchanged
    val (b3, a3) = Maintenance.compactAligned(spark, lake, "al",
      grainUs = 7 * 86400000000L, anchorUs = -3 * 86400000000L)
    assert(b3 === 5L && a3 === 2L, s"week align: $b3 -> $a3")
    assert(lake.read(spark, "al").orderBy("event_id").collect().toSeq
      === beforeRows, "week alignment must not change content")
  }

  test("scopeToDirs refuses a null-valued (__HIVE_DEFAULT_PARTITION__) " +
    "segment loudly") {
    // equality predicates/joins can never match a null partition value,
    // so maintenance would crash (toInt) or silently skip the dir —
    // both worse than a clear error (ADVICE r12)
    val df = spark.range(4).select(
      lit("p0").as(TpSchema.Partition), lit("i0").as(TpSchema.Index),
      lit(2024).as(TpSchema.Year), lit(1).as(TpSchema.Month),
      col("id").as("v"))
    val nullDir = Map(
      TpSchema.Partition -> "p0", TpSchema.Index -> "i0",
      TpSchema.Year -> "__HIVE_DEFAULT_PARTITION__",
      TpSchema.Month -> "1")
    val e = intercept[IllegalArgumentException] {
      Maintenance.scopeToDirs(df, Seq(nullDir))
    }
    assert(e.getMessage.contains("null-valued partition segment"),
      e.getMessage)
  }

  test("compaction merges small files and orders by time; content unchanged") {
    val lake = newLake()
    // 3 appends of interleaved time ranges → ≥3 overlapping files/dir
    (0 until 3).foreach { i =>
      val raw = spark.range(60).select(
        (col("id") * 3 + i).as("event_id"),
        expr(s"timestamp '2024-01-05 00:00:00' + make_interval(0,0,0,0,0,0, (id * 3 + $i) * 1000)")
          .as("tp_timestamp"),
        lit("a").as("idx"), col("id").cast("double").as("v"))
      lake.append(spark, "t",
        TpSchema.enrich(raw, PartitionSpec("t", "p0",
          tpIndexColumn = Some("idx"))))
    }
    val before = lake.dataFiles(spark, "t")
    val checksumBefore = lake.read(spark, "t")
      .agg(count(lit(1)), sum("event_id"), sum("v")).head()
    val stats = lake.fileStats(spark, "t").collect().map(r =>
      Maintenance.FileRange(r.getAs[String]("file"), r.getAs[Long]("rows"),
        Some(r.getAs[Timestamp]("min_ts")), Some(r.getAs[Timestamp]("max_ts"))))
    assert(Maintenance.hasOverlap(stats.toSeq), "fixture must overlap")

    val (nBefore, nAfter) = Maintenance.compact(spark, lake, "t")
    assert(nBefore == before.size && nAfter < nBefore)
    assert(lake.read(spark, "t")
      .agg(count(lit(1)), sum("event_id"), sum("v")).head() == checksumBefore)
    // post-compaction stats are non-overlapping
    val statsAfter = lake.fileStats(spark, "t").collect().map(r =>
      Maintenance.FileRange(r.getAs[String]("file"), r.getAs[Long]("rows"),
        Some(r.getAs[Timestamp]("min_ts")), Some(r.getAs[Timestamp]("max_ts"))))
    assert(!Maintenance.hasOverlap(statsAfter.toSeq))
    // idempotent: second compact is a no-op
    val (b2, a2) = Maintenance.compact(spark, lake, "t")
    assert(b2 == a2)
  }

  test("Hive-escaped partition values round-trip through delete and compact") {
    val lake = newLake()
    // ':' is in Hive's escape set → on-disk dir is tp_index=10%3A30
    val raw = spark.range(40).select(
      col("id").as("event_id"),
      expr("timestamp '2024-01-05 00:00:00' + make_interval(0,0,0,0,0,0, id * 40000)")
        .as("tp_timestamp"),
      lit("10:30").as("idx"), (col("id") * 1.0).as("v"))
    lake.append(spark, "t",
      TpSchema.enrich(raw, PartitionSpec("t", "p0",
        tpIndexColumn = Some("idx"))))
    assert(lake.partitionDirs(spark, "t").exists(_.contains("10%3A30")))
    // manifest rows must reference the real (decoded) file paths
    assert(lake.fileStats(spark, "t").collect()
      .map(_.getAs[Long]("rows")).sum == 40)
    // whole-partition delete must remove the escaped dirs, not miss them
    val n = Maintenance.deletePartitionRange(spark, lake, "t", "p0")
    assert(n == 40)
    assert(lake.dataFiles(spark, "t").isEmpty,
      s"escaped dirs left behind: ${lake.partitionDirs(spark, "t")}")
    // an emptied table must not break view registration for the session
    assert(!Views.register(spark, lake, Views.Filters()).contains("t") ||
      lake.dataFiles(spark, "t").nonEmpty)
  }

  test("compaction racing appends never loses or duplicates rows") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(100))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (0 until 3).map { _ =>
      new Thread(() =>
        try lake.append(spark, "t", sampleBatch(50))
        catch { case e: Throwable => errs.add(e) })
    }
    val compactor = new Thread(() =>
      try (0 until 3).foreach { _ =>
        Maintenance.compact(spark, lake, "t", targetFileRows = 60)
      } catch { case e: Throwable => errs.add(e) })
    (writers :+ compactor).foreach(_.start())
    (writers :+ compactor).foreach(_.join())
    assert(errs.isEmpty, errs)
    // plan+rewrite hold the table lock, so no append can land between
    // a compaction's file-list snapshot and its partition overwrite
    assert(lake.read(spark, "t").count() == 250)
    val stats = lake.fileStats(spark, "t").collect()
    assert(stats.map(_.getAs[Long]("rows")).sum == 250)
  }

  test("reindex racing appends never loses or duplicates rows") {
    val lake = newLake()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // every batch carries BOTH index candidates so reindex always has
    // its configured column in the stored schema
    def batch(n: Int) = {
      val raw = spark.range(n).select(
        col("id").as("event_id"),
        expr("timestamp '2024-01-05 00:00:00' + make_interval(0,0,0,0,0,0, id * 40000)")
          .as("tp_timestamp"),
        (col("id") % 3).cast("string").as("idx"),
        (col("id") % 2).cast("string").as("alt"))
      TpSchema.enrich(raw, PartitionSpec("t", "p0",
        tpIndexColumn = Some("idx")))
    }
    lake.append(spark, "t", batch(100))
    val writers = (0 until 3).map { _ =>
      new Thread(() =>
        try lake.append(spark, "t", batch(50))
        catch { case e: Throwable => errs.add(e) })
    }
    val reindexer = new Thread(() =>
      try (0 until 3).foreach { i =>
        Maintenance.reindex(spark, lake, "t", Seq(PartitionSpec("t", "p0",
          tpIndexColumn = Some(if (i % 2 == 0) "alt" else "idx"))))
      } catch { case e: Throwable => errs.add(e) })
    (writers :+ reindexer).foreach(_.start())
    (writers :+ reindexer).foreach(_.join())
    assert(errs.isEmpty, errs)
    // reindex holds the table lock across divergence scan + rewrite +
    // stale-dir cleanup, so appends interleave between, never inside
    assert(lake.read(spark, "t").count() == 250)
    assert(lake.fileStats(spark, "t").collect()
      .map(_.getAs[Long]("rows")).sum == 250)
  }

  test("z-order compaction narrows per-file ranges on BOTH z-columns") {
    val lake = newLake()
    // rows where tp_timestamp and v are independent: time-ordered
    // files have narrow ts ranges but full-width v ranges
    val n = 20000
    val raw = spark.range(n).select(
      col("id").as("event_id"),
      expr("timestamp '2024-01-05 00:00:00' + make_interval(0,0,0,0,0,0, id * 30)")
        .as("tp_timestamp"),
      lit("a").as("idx"),
      // v is a bit-reversal-ish permutation: uncorrelated with id/time
      ((col("id") * 7919) % n).cast("double").as("v"))
    lake.append(spark, "t",
      TpSchema.enrich(raw, PartitionSpec("t", "p0",
        tpIndexColumn = Some("idx"))))

    def perFileSpread(column: String): Double = {
      val spreads = lake.read(spark, "t")
        .groupBy(input_file_name().as("f"))
        .agg((max(col(column)).cast("double") -
          min(col(column)).cast("double")).as("spread"))
        .select("spread").as[Double].collect()
      spreads.sum / spreads.length
    }

    Maintenance.compact(spark, lake, "t", targetFileRows = 1250)
    val timeOrderedSpread = perFileSpread("v")

    val (_, after) = Maintenance.compactZorder(spark, lake, "t",
      Seq("tp_timestamp", "v"), targetFileRows = 1250)
    assert(after > 1, "expected multiple output files")
    assert(lake.read(spark, "t").count() == n)
    val zSpreadV = perFileSpread("v")
    val zSpreadTs = perFileSpread("tp_timestamp")
    // v clusters dramatically vs time-ordered layout...
    assert(zSpreadV < timeOrderedSpread * 0.5,
      s"v spread $zSpreadV not < half of time-ordered $timeOrderedSpread")
    // ...while time stays clustered well below the full 166-hour span
    assert(zSpreadTs < n * 30.0 * 0.5,
      s"ts spread $zSpreadTs not < half the full span")
  }

  test("z-order rewrite layout is dir-major: files ≤ slices + dirs " +
      "(r20 pin)") {
    // the range partitioner's sort key is (partitionCols, zvalue), so
    // slices are contiguous in directory order — each output file sits
    // inside one dir except the ≤ dirs−1 slices that straddle a dir
    // boundary. Pinned here because the qi26 scale-adaptive slice
    // target depends on it: total files ≈ slices, never slices × dirs.
    val lake = newLake()
    val n = 20000
    val raw = spark.range(n).select(
      col("id").as("event_id"),
      expr("timestamp '2024-01-05 00:00:00' + make_interval(0,0,0,0,0,0, id * 30)")
        .as("tp_timestamp"),
      // 5 distinct index values → 5 partition dirs
      concat(lit("t"), (col("id") % 5)).as("idx"),
      ((col("id") * 7919) % n).cast("double").as("v"))
    lake.append(spark, "t",
      TpSchema.enrich(raw, PartitionSpec("t", "p0",
        tpIndexColumn = Some("idx"))))
    val target = 1250L
    val slices = math.ceil(n.toDouble / target).toInt // 16
    val dirs = 5
    val (_, after) = Maintenance.compactZorder(spark, lake, "t",
      Seq("tp_timestamp", "v"), targetFileRows = target)
    assert(after > 1, "expected multiple output files")
    assert(after <= slices + dirs,
      s"z-order layout not dir-major: $after files > $slices slices " +
        s"+ $dirs dirs")
    assert(lake.read(spark, "t").count() == n)
  }

  test("z-order bins string columns by sampled lexicographic rank") {
    val lake = newLake()
    // s is a zero-padded permutation string, uncorrelated with time:
    // time-ordered files see the full lexicographic range of s
    val n = 20000
    val raw = spark.range(n).select(
      col("id").as("event_id"),
      expr("timestamp '2024-01-05 00:00:00' + make_interval(0,0,0,0,0,0, id * 30)")
        .as("tp_timestamp"),
      lit("a").as("idx"),
      format_string("k%05d", (col("id") * 7919) % n).as("s"),
      array(col("id")).as("arr"))
    lake.append(spark, "t",
      TpSchema.enrich(raw, PartitionSpec("t", "p0",
        tpIndexColumn = Some("idx"))))

    // numeric proxy for lexicographic spread: the padded digits
    def perFileSpread(): Double = {
      val spreads = lake.read(spark, "t")
        .groupBy(input_file_name().as("f"))
        .agg((max(substring(col("s"), 2, 5).cast("double")) -
          min(substring(col("s"), 2, 5).cast("double"))).as("spread"))
        .select("spread").as[Double].collect()
      spreads.sum / spreads.length
    }

    Maintenance.compact(spark, lake, "t", targetFileRows = 1250)
    val timeOrdered = perFileSpread()
    val (_, after) = Maintenance.compactZorder(spark, lake, "t",
      Seq("tp_timestamp", "s"), targetFileRows = 1250)
    assert(after > 1, "expected multiple output files")
    assert(lake.read(spark, "t").count() == n)
    val zSpread = perFileSpread()
    // per-file string ranges narrow → parquet min/max skipping on s
    // becomes effective where the time-ordered layout gave none
    assert(zSpread < timeOrdered * 0.5,
      s"string spread $zSpread not < half of time-ordered $timeOrdered")
    // a still-unsupported type (array) must fail loudly, not no-op
    assertThrows[IllegalArgumentException] {
      Maintenance.compactZorder(spark, lake, "t", Seq("arr"))
    }
  }

  test("crashed manifest swap heals on open: complete _new finishes " +
      "the swap, incomplete _new reverts from _old") {
    // r16 ADVICE-medium: the aside→in→drop swap has a window between
    // rename(dir, _old) and rename(_new, dir) where the live dir is
    // absent; a crash there must not lose stats until a manual vacuum
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(100))
    val before = lake.fileStats(spark, "t").orderBy("file").collect().toSeq
    assert(before.nonEmpty)
    val conf = spark.sparkContext.hadoopConfiguration
    val mdir = new org.apache.hadoop.fs.Path(
      s"${lake.tableDir("t")}/_graft_manifest")
    val hfs = mdir.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(mdir.toString + "_new")
    val old = new org.apache.hadoop.fs.Path(mdir.toString + "_old")
    // case 1: crash mid-swap with a COMPLETE _new (parquet _SUCCESS
    // present — the copy carries it): heal completes the swap
    org.apache.hadoop.fs.FileUtil.copy(hfs, mdir, hfs, tmp,
      /*deleteSource=*/ false, /*overwrite=*/ true, conf)
    assert(hfs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
    hfs.rename(mdir, old)
    assert(!hfs.exists(mdir))
    assert(lake.fileStats(spark, "t").orderBy("file").collect().toSeq
      === before)
    assert(hfs.exists(mdir) && !hfs.exists(tmp) && !hfs.exists(old),
      "heal must leave exactly the live dir")
    // case 2: crash with an INCOMPLETE _new (no _SUCCESS): heal
    // reverts from _old and discards the partial write
    hfs.rename(mdir, old)
    hfs.mkdirs(tmp)
    assert(lake.fileStats(spark, "t").orderBy("file").collect().toSeq
      === before)
    assert(hfs.exists(mdir) && !hfs.exists(tmp) && !hfs.exists(old))
    // and the healed manifest still serves mutations end-to-end
    lake.append(spark, "t", sampleBatch(10, partition = "p1"))
    assert(lake.fileStats(spark, "t").count() > before.size)
  }

  test("enableColumnStats on a FRESH table arms the sidecar: the first " +
      "append already writes stats rows; unknown columns skip loudly") {
    val lake = newLake()
    // no table dir yet — the stats_columns collect path enables first
    lake.enableColumnStats(spark, "t", Seq("v", "no_such_col"))
    assert(lake.colStatsColumns(spark, "t") === Seq("v", "no_such_col"))
    lake.append(spark, "t", sampleBatch(30))
    // first append wrote sidecar rows for the column that exists —
    // no analyze/backfill scan ever ran
    val stats = lake.syncCatalogColumnStats(spark, "t").get
    assert(stats.contains("v") && stats("v")._1 >= 28, stats)
    val bad = CatalogStatsReference.mismatches(spark, lake, "t")
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(!stats.contains("no_such_col"))
    // and the zone maps are live from file one
    val q = lake.read(spark, "t").where(col("v") > 1e9)
    assert(graft.query.ScanAudit.filesReadAfterRun(q) === 0L)
  }

  test("KLL equi-height histogram fixes skewed-filter selectivity and " +
      "flips a broadcast decision min/max uniformity gets wrong") {
    val lake = newLake()
    // fact: 100k rows, v EXTREMELY skewed — 99.9% in {0..4}, 100 rows
    // spread over [500000, 599000]. min/max uniformity estimates
    // v >= 500000 at ~17% of the table; the truth is 0.1%.
    val fRaw = spark.range(100000).select(
      col("id").as("event_id"),
      expr("timestamp '2024-01-05 00:00:00' + make_interval(0,0,0,0,0,0, id)")
        .as("tp_timestamp"),
      when(col("id") < 99900, pmod(col("id"), lit(5)))
        .otherwise(lit(500000) + (col("id") - 99900) * 1000)
        .cast("long").as("v"))
    lake.append(spark, "kf", TpSchema.enrich(fRaw, PartitionSpec("kf", "p0")))
    // dimension: 40k rows, big enough that IT never broadcasts
    val dRaw = spark.range(40000).select(
      col("id").as("event_id"),
      expr("timestamp '2024-01-05 00:00:00' + make_interval(0,0,0,0,0,0, id)")
        .as("tp_timestamp"),
      (col("id") * 13 + 500000).as("k"))
    lake.append(spark, "kd", TpSchema.enrich(dRaw, PartitionSpec("kd", "p0")))
    Seq("kf", "kd").foreach(lake.registerCatalogTable(spark, _))
    lake.enableColumnStats(spark, "kf", Seq("v"))
    lake.enableColumnStats(spark, "kd", Seq("k"))
    val filterSql = "SELECT v FROM kf WHERE v >= 500000"
    val joinSql = "SELECT count(*) AS n FROM kd JOIN kf ON kd.k = kf.v " +
      "WHERE kf.v >= 500000"
    val confs = Seq("spark.sql.cbo.enabled")
    val prevs = (confs :+ "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      confs.foreach(spark.conf.set(_, "true"))
      def estBytes(): BigInt = {
        val st = spark.sql(filterSql).queryExecution
          .optimizedPlan.stats
        st.sizeInBytes
      }
      assert(lake.syncCatalogColumnStats(spark, "kf",
        histograms = false).isDefined)
      assert(lake.syncCatalogColumnStats(spark, "kd",
        histograms = false).isDefined)
      val estUniform = estBytes()
      assert(lake.syncCatalogColumnStats(spark, "kf").isDefined)
      assert(lake.syncCatalogColumnStats(spark, "kd").isDefined)
      Seq("kf", "kd").foreach { t =>
        val bad = CatalogStatsReference.mismatches(spark, lake, t)
        assert(bad.isEmpty, bad.mkString("\n"))
      }
      val estHist = estBytes()
      // the histogram must collapse the estimate by well over 4×
      // (truth is ~170× below uniform; one equi-height bin bounds the
      // histogram estimate at ~1/64 of the table)
      assert(estHist * 4 < estUniform,
        s"histogram did not fix selectivity: $estUniform -> $estHist")
      // threshold between the two estimates → the broadcast decision
      // is exactly the selectivity difference
      val mid = (estUniform + estHist) / 2
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", mid.toString)
      def staticJoin(): String =
        spark.sql(joinSql).queryExecution.sparkPlan.toString
      val withHist = staticJoin()
      assert(withHist.contains("BroadcastHashJoin"),
        s"histogram estimate must broadcast the filtered fact:\n$withHist")
      // strip histograms (min/max only): same threshold, same query —
      // the uniform over-estimate forces the shuffle join
      assert(lake.syncCatalogColumnStats(spark, "kf",
        histograms = false).isDefined)
      val noHist = staticJoin()
      assert(noHist.contains("SortMergeJoin") &&
        !noHist.contains("BroadcastHashJoin"),
        s"uniform estimate should have picked the shuffle join:\n$noHist")
      // and the answer itself is identical either way
      assert(spark.sql(joinSql).head().getLong(0) ==
        spark.sql(joinSql).head().getLong(0))
    } finally prevs.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("compact planning collects only candidate dirs' manifest rows " +
      "(r16: driver cost bounded by work, not table size)") {
    val lake = newLake()
    // dir A: two small files (merge candidate); dir B: one file at its
    // ideal count (fixed point — must NOT be collected or rewritten)
    lake.append(spark, "t", sampleBatch(40))
    lake.append(spark, "t", sampleBatch(40))
    lake.append(spark, "t", sampleBatch(40, partition = "p1"))
    val bFilesBefore = lake.dataFiles(spark, "t")
      .filter(_.contains("tp_partition=p1"))
    val (b0, a0) = Maintenance.compact(spark, lake, "t")
    val plan = Maintenance.lastCompactPlan
    assert(plan.manifestRows == b0)
    assert(plan.collectedRows < plan.manifestRows,
      s"planner must not collect fixed-point dirs: $plan")
    assert(plan.collectedRows > 0)
    // p1's already-compact files are untouched byte-for-byte (same
    // paths — a rewrite would generate fresh file names)
    assert(lake.dataFiles(spark, "t")
      .filter(_.contains("tp_partition=p1")) === bFilesBefore)
    assert(a0 < b0)
    // fixed point: the re-plan collects ZERO rows
    val (b1, a1) = Maintenance.compact(spark, lake, "t")
    assert(b1 == a1)
    assert(Maintenance.lastCompactPlan.collectedRows === 0L,
      s"${Maintenance.lastCompactPlan}")
  }

  test("vacuum does not resurrect a tombstoned-but-present file " +
      "(crash between tombstone and physical delete)") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(50))
    lake.append(spark, "t", sampleBatch(50, partition = "p1"))
    val victim = lake.dataFiles(spark, "t")
      .find(_.contains("tp_partition=p1")).get
    // tombstone WITHOUT deleting — the r16 ADVICE crash window: the
    // file is dead by manifest truth but still on disk
    lake.noteRemoved(spark, "t", Seq(victim))
    assert(!lake.fileStats(spark, "t", reconcileWithListing = false)
      .select("file").collect().map(_.getString(0)).contains(victim))
    Maintenance.vacuum(spark, lake, "t")
    val after = lake.fileStats(spark, "t", reconcileWithListing = false)
      .select("file").collect().map(_.getString(0)).toSet
    assert(!after.contains(victim),
      s"vacuum resurrected a tombstoned file: $victim")
    // genuinely-unrecorded files (no manifest row at all) ARE still
    // recovered — the guard is tombstone-specific
    assert(after.nonEmpty)
  }

  test("vacuum backfills colstats for live files missing sidecar rows") {
    val lake = newLake()
    def batch(part: String, lo: Int, n: Int) = {
      val raw = spark.range(lo, lo + n).select(
        col("id").as("event_id"),
        expr("timestamp '2024-01-05 00:00:00' + make_interval(0,0,0,0,0,0, id * 40000)")
          .as("tp_timestamp"),
        lit("0").as("idx"), (col("id") * 1.5).as("v"))
      TpSchema.enrich(raw, PartitionSpec("t", part,
        tpIndexColumn = Some("idx")))
    }
    lake.append(spark, "t", batch("p0", 0, 60))
    lake.enableColumnStats(spark, "t", Seq("v"))
    // simulate a crashed colstats append: drop the marker so the next
    // append skips the sidecar write, then restore it
    val conf = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(
      s"${lake.tableDir("t")}/_graft_colstats_cols")
    val hfs = marker.getFileSystem(conf)
    val keep = new org.apache.hadoop.fs.Path(marker.toString + ".keep")
    hfs.rename(marker, keep)
    lake.append(spark, "t", batch("p1", 1000, 40)) // disjoint v range
    hfs.rename(keep, marker)
    // merged stats currently under-count: p1's file has no sidecar rows
    val before = lake.syncCatalogColumnStats(spark, "t").get("v")
    Maintenance.vacuum(spark, lake, "t")
    val after = lake.syncCatalogColumnStats(spark, "t").get("v")
    val bad = CatalogStatsReference.mismatches(spark, lake, "t")
    assert(bad.isEmpty, bad.mkString("\n"))
    // disjoint id ranges → 100 distinct v total; NDV is HLL (±5%)
    assert(before._1 < 70, s"fixture must start under-counted: $before")
    assert(after._1 >= 90 && after._1 <= 110,
      s"backfill must restore full NDV coverage: $before -> $after")
  }

  test("vacuum rewrites the manifest to live files only") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(50))
    Maintenance.compact(spark, lake, "t")
    Maintenance.vacuum(spark, lake, "t")
    val live = lake.dataFiles(spark, "t").toSet
    val manifest = lake.fileStats(spark, "t").collect()
      .map(_.getAs[String]("file")).toSet
    assert(manifest == live)
  }

  test("manifest backup + restore: crash replay recovers stats without a re-scan") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(50))
    val before = lake.fileStats(spark, "t").collect()
      .map(r => (r.getAs[String]("file"), r.getAs[Long]("rows"),
        r.getAs[java.sql.Timestamp]("min_ts"),
        r.getAs[java.sql.Timestamp]("max_ts"))).toSet
    assert(before.nonEmpty)

    val backup = Maintenance.backupManifest(spark, lake, "t")
    assert(backup.isDefined)

    // simulate a torn metadata write: the manifest dir is destroyed
    // mid-operation — stats-driven reads degrade to conservative
    // full-inclusion (fileStats goes empty)
    val conf = spark.sparkContext.hadoopConfiguration
    val manifestPath = new org.apache.hadoop.fs.Path(
      s"${lake.tableDir("t")}/_graft_manifest")
    manifestPath.getFileSystem(conf).delete(manifestPath, true)
    assert(lake.fileStats(spark, "t").collect().isEmpty)

    // replay the snapshot: stats come back identical, no data re-scan
    val replayed = Maintenance.restoreManifest(spark, lake, "t")
    assert(replayed == backup.get)
    val after = lake.fileStats(spark, "t").collect()
      .map(r => (r.getAs[String]("file"), r.getAs[Long]("rows"),
        r.getAs[java.sql.Timestamp]("min_ts"),
        r.getAs[java.sql.Timestamp]("max_ts"))).toSet
    assert(after == before)
    // data untouched throughout
    assert(lake.read(spark, "t").count() == 50)
  }

  test("backup keeps only the most recent snapshot") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(10))
    val t0 = java.sql.Timestamp.valueOf("2026-08-13 10:00:00").getTime
    val b1 = Maintenance.backupManifest(spark, lake, "t", () => t0)
    val b2 = Maintenance.backupManifest(spark, lake, "t", () => t0 + 60000)
    assert(b1.get.endsWith("20260813100000"))
    assert(b2.get.endsWith("20260813100100"))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(lake.tableDir("t"))
      .getFileSystem(conf)
    // older snapshot pruned after the new one lands (backup.go
    // cleanupOldBackups: exactly one backup retained)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(b1.get)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(b2.get)))
    // restoring with no manifest missing → newest replayed
    assert(Maintenance.restoreManifest(spark, lake, "t") == b2.get)
    // backup dirs never shadow data: table reads are unaffected
    assert(lake.read(spark, "t").count() == 10)
  }

  test("snapshotDiff reports added/removed/changed files vs the last snapshot") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(30))
    assert(Maintenance.backupManifest(spark, lake, "t").isDefined)
    val before = lake.dataFiles(spark, "t").toSet

    // mutate: drop one file's worth of data (delete a file directly —
    // the diff works from listings, not from any delete API), append
    // a new batch
    val conf = spark.sparkContext.hadoopConfiguration
    val victim = new org.apache.hadoop.fs.Path(before.head)
    victim.getFileSystem(conf).delete(victim, false)
    lake.append(spark, "t", sampleBatch(10))

    val d = Maintenance.snapshotDiff(spark, lake, "t").collect()
      .map(r => r.getAs[String]("file") -> r.getAs[String]("status"))
      .toMap
    assert(d(before.head) == "removed")
    val added = d.filter(_._2 == "added").keySet
    assert(added.nonEmpty && added.forall(!before.contains(_)))
    assert((d.keySet -- added - before.head)
      .forall(f => d(f) == "unchanged"))
    // snapshot-time liveness comes from the recorded _live_files
    // listing, so the diff is exact, not manifest-history-fuzzy
    val backupDirs = victim.getFileSystem(conf)
      .listStatus(new org.apache.hadoop.fs.Path(lake.tableDir("t")))
      .map(_.getPath).filter(_.getName.startsWith("_graft_manifest_backup_"))
    assert(backupDirs.exists(p => victim.getFileSystem(conf)
      .exists(new org.apache.hadoop.fs.Path(p, "_live_files"))))
  }

  test("readSnapshot time-travels to the backup state, fails loudly " +
    "after compaction removes snapshot files") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(30))
    assert(Maintenance.backupManifest(spark, lake, "t").isDefined)
    val atBackup = lake.dataFiles(spark, "t")

    // appends after the backup are invisible to the snapshot read
    lake.append(spark, "t", sampleBatch(10))
    assert(lake.read(spark, "t").count() == 40)
    val snap = Maintenance.readSnapshot(spark, lake, "t")
    assert(snap.count() == 30)
    // partition columns rederived via basePath, like a live read
    assert(Seq("tp_partition", "tp_year", "tp_month")
      .forall(snap.columns.contains))

    // delete a snapshot-member file (what compaction/retention would
    // do): the time travel must refuse, not return a silent partial
    // state
    val conf = spark.sparkContext.hadoopConfiguration
    val victim = new org.apache.hadoop.fs.Path(atBackup.head)
    victim.getFileSystem(conf).delete(victim, false)
    val e = intercept[IllegalStateException] {
      Maintenance.readSnapshot(spark, lake, "t")
    }
    assert(e.getMessage.contains("removed since backup"))
  }

  test("reindex migrates tp_index to the newly-configured column, moving partition dirs") {
    val lake = newLake()
    // collected under tp_index = idx (values 0/1/2); the raw rows also
    // carry a `region` column the config later switches to
    val raw = spark.range(60).select(
      col("id").as("event_id"),
      expr("timestamp '2024-01-05 00:00:00' + make_interval(0,0,0,0,0,0, id * 40000)")
        .as("tp_timestamp"),
      (col("id") % 3).cast("string").as("idx"),
      when(col("id") % 2 === 0, "eu").otherwise("us").as("region"))
    lake.append(spark, "t", TpSchema.enrich(raw,
      PartitionSpec("t", "p0", tpIndexColumn = Some("idx"))))
    assert(lake.partitionDirs(spark, "t")
      .forall(_.matches("tp_partition=p0/tp_index=[012]/.*")))

    // config now says tp_index = region → full-partition rewrite
    val moved = Maintenance.reindex(spark, lake, "t",
      Seq(PartitionSpec("t", "p0", tpIndexColumn = Some("region"))))
    assert(moved == 60)
    val dirs = lake.partitionDirs(spark, "t")
    assert(dirs.nonEmpty &&
      dirs.forall(_.matches("tp_partition=p0/tp_index=(eu|us)/.*")), dirs)
    val rows = lake.read(spark, "t")
    assert(rows.count() == 60)
    // every row's tp_index equals its region; nothing else changed
    assert(rows.where(col("tp_index") =!= col("region")).count() == 0)
    assert(rows.agg(sum("event_id")).head.getLong(0) == (0 until 60).sum)
    // manifest stats cover the rewritten files
    val stats = lake.fileStats(spark, "t").collect()
    assert(stats.map(_.getAs[Long]("rows")).sum == 60)

    // already-consistent table: reindex is a scan-only no-op
    val files = lake.dataFiles(spark, "t").toSet
    assert(Maintenance.reindex(spark, lake, "t",
      Seq(PartitionSpec("t", "p0", tpIndexColumn = Some("region")))) == 0L)
    assert(lake.dataFiles(spark, "t").toSet == files)

    // configured column absent from stored schema: clean error
    val e = intercept[IllegalArgumentException] {
      Maintenance.reindex(spark, lake, "t",
        Seq(PartitionSpec("t", "p0", tpIndexColumn = Some("nope"))))
    }
    assert(e.getMessage.contains("not in the stored schema"))
  }

  test("reindex scopes to diverged partitions; others untouched") {
    val lake = newLake()
    def raw(n: Int) = spark.range(n).select(
      col("id").as("event_id"),
      expr("timestamp '2024-02-01 00:00:00' + make_interval(0,0,0,0,0,0, id)")
        .as("tp_timestamp"),
      (col("id") % 2).cast("string").as("idx"),
      when(col("id") % 2 === 0, "eu").otherwise("us").as("region"))
    lake.append(spark, "t", TpSchema.enrich(raw(20),
      PartitionSpec("t", "p0", tpIndexColumn = Some("idx"))))
    lake.append(spark, "t", TpSchema.enrich(raw(10),
      PartitionSpec("t", "p1", tpIndexColumn = Some("region"))))
    val p1Files = lake.dataFiles(spark, "t")
      .filter(_.contains("tp_partition=p1")).toSet
    // p0's config flips to region; p1's stays region (already consistent)
    val moved = Maintenance.reindex(spark, lake, "t", Seq(
      PartitionSpec("t", "p0", tpIndexColumn = Some("region")),
      PartitionSpec("t", "p1", tpIndexColumn = Some("region"))))
    assert(moved == 20)
    // p1 files untouched by the rewrite (scoped to diverged partitions)
    assert(lake.dataFiles(spark, "t")
      .filter(_.contains("tp_partition=p1")).toSet == p1Files)
    val byPart = lake.read(spark, "t")
      .groupBy("tp_partition", "tp_index").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(byPart == Map(("p0", "eu") -> 10L, ("p0", "us") -> 10L,
      ("p1", "eu") -> 5L, ("p1", "us") -> 5L))
  }

  test("reindex with NULL index values lands rows in the 'default' index") {
    val lake = newLake()
    val raw = spark.range(10).select(
      col("id").as("event_id"),
      expr("timestamp '2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0, id)")
        .as("tp_timestamp"),
      lit("x").as("idx"),
      when(col("id") < 4, "a").as("maybe")) // 6 rows NULL
    lake.append(spark, "t", TpSchema.enrich(raw,
      PartitionSpec("t", "p0", tpIndexColumn = Some("idx"))))
    val moved = Maintenance.reindex(spark, lake, "t",
      Seq(PartitionSpec("t", "p0", tpIndexColumn = Some("maybe"))))
    assert(moved == 10)
    val byIdx = lake.read(spark, "t").groupBy("tp_index").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byIdx == Map("a" -> 4L, "default" -> 6L))
    // the old tp_index=x dir is gone
    assert(!lake.partitionDirs(spark, "t").exists(_.contains("tp_index=x")))
  }

  test("pending-removal journal: crash between overwrite and dir removal heals on next op") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(50, "p0"))
    lake.append(spark, "t", sampleBatch(50, "p1"))
    val staleDirs = lake.partitionDirs(spark, "t")
      .filter(_.startsWith("tp_partition=p1"))
    assert(staleDirs.nonEmpty)
    // simulate the crash window: the overwrite committed, the removal
    // list was journaled, then the process died before any dir delete
    val journal = new org.apache.hadoop.fs.Path(
      s"${lake.tableDir("t")}/_graft_pending_removals")
    val fs = journal.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(journal, true)
    try out.write(staleDirs.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    // the journal is underscore-invisible: reads still see both
    // partitions (stale rows — exactly the state replay exists to fix)
    assert(lake.read(spark, "t").count() == 100)
    // any mutating entry point replays the journal before its own work
    Maintenance.compact(spark, lake, "t")
    assert(!fs.exists(journal), "journal must be consumed by replay")
    assert(lake.partitionDirs(spark, "t")
      .forall(_.startsWith("tp_partition=p0")))
    assert(lake.read(spark, "t").count() == 50)
    // idempotent: no journal → replay is a zero-cost no-op
    assert(Maintenance.replayPendingRemovals(spark, lake, "t") == 0L)
  }

  test("restore without a backup is a clean error; backup of no manifest is None") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(5))
    val e = intercept[IllegalArgumentException] {
      Maintenance.restoreManifest(spark, lake, "t")
    }
    assert(e.getMessage.contains("no manifest backup"))
    assert(Maintenance.backupManifest(spark, lake, "nonexistent").isEmpty)
  }

  test("catalog DDL: registerCatalogTable enables catalog-planned scans") {
    val lake = newLake()
    lake.append(spark, "cat_t", sampleBatch(60))
    lake.registerCatalogTable(spark, "cat_t")
    // catalog table resolves with full schema incl. partition columns
    val df = spark.table("cat_t")
    assert(TpSchema.partitionCols.forall(df.columns.contains))
    assert(df.count() == 60)
    // catalog owns partition metadata
    val parts = spark.sql("SHOW PARTITIONS cat_t").collect().map(_.getString(0))
    assert(parts.nonEmpty && parts.forall(_.startsWith("tp_partition=p0")))
    // pruned catalog scan reads only the matching partition
    val pruned = spark.table("cat_t").where(col("tp_index") === "1")
    val scanned = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains("tp_index=1")))
    spark.sql("DROP TABLE cat_t")
  }

  test("registered catalog table stays fresh through append, compact " +
    "and partition delete (no recoverPartitions reruns)") {
    val lake = newLake()
    def batch(offset: Int, month: Int, n: Int) = {
      val raw = spark.range(n).select(
        (col("id") + offset).as("event_id"),
        expr(s"timestamp '2024-0$month-05 00:00:00' + " +
          "make_interval(0,0,0,0,0,0, id * 40000)").as("tp_timestamp"),
        (col("id") % 2).cast("string").as("idx"),
        (col("id") * 1.5).as("v"))
      TpSchema.enrich(raw, PartitionSpec("cat_s", "p0",
        tpIndexColumn = Some("idx")))
    }
    lake.append(spark, "cat_s", batch(0, 1, 40))
    lake.registerCatalogTable(spark, "cat_s")
    assert(spark.table("cat_s").count() == 40)
    // append a NEW month: the catalog must learn the new dirs without
    // a recoverPartitions rerun — before the sync this read silently
    // missed the whole second collect
    lake.append(spark, "cat_s", batch(100000, 2, 30))
    assert(spark.table("cat_s").count() == 70,
      "catalog-planned read missed freshly appended partitions")
    assert(spark.sql("SHOW PARTITIONS cat_s").count() >= 4)
    // append into an EXISTING dir (no new partitions, only new files):
    // the FileStatusCache must not serve the stale listing
    lake.append(spark, "cat_s", batch(200000, 2, 10))
    assert(spark.table("cat_s").count() == 80,
      "catalog-planned read served a stale file listing")
    // compact rewrites via dynamic overwrite — still fresh
    Maintenance.compact(spark, lake, "cat_s")
    assert(spark.table("cat_s").count() == 80)
    // delete everything in month 2: its dirs are physically removed —
    // a catalog partition left behind would fail the scan outright
    Maintenance.deletePartitionRange(spark, lake, "cat_s", "p0",
      from = Some(Timestamp.valueOf("2024-02-01 00:00:00")),
      to = Some(Timestamp.valueOf("2024-03-01 00:00:00")))
    assert(spark.table("cat_s").count() == 40,
      "catalog-planned read broken or stale after partition delete")
    assert(spark.sql("SHOW PARTITIONS cat_s").collect()
      .forall(!_.getString(0).contains("tp_month=2")),
      "removed dirs still registered in the catalog")
    spark.sql("DROP TABLE cat_s")
  }

  test("catalog DDL is idempotent even when a filtered temp view " +
    "shadows the name") {
    // the two-run bench caught this: Views.register leaves a TEMP view
    // with the table's name; DROP TABLE then resolves to the view,
    // leaves the old catalog entry alive, and re-registration dies
    // with ALREADY_EXISTS. Registration must own the name.
    val lake = newLake()
    lake.append(spark, "cat_i", sampleBatch(10))
    lake.registerCatalogTable(spark, "cat_i")
    assert(spark.table("cat_i").count() == 10)
    // a filtered temp view shadows the catalog name (qi03's shape)
    spark.table("cat_i").where(col("tp_index") === "1")
      .createOrReplaceTempView("cat_i")
    // re-registration succeeds and the catalog table wins the name
    lake.registerCatalogTable(spark, "cat_i")
    assert(spark.table("cat_i").count() == 10)
    spark.sql("DROP TABLE cat_i")
  }

  test("overlap sweep: disjoint sorted ranges are not overlapping") {
    def fr(a: String, b: String) = Maintenance.FileRange("f", 1,
      Some(Timestamp.valueOf(a)), Some(Timestamp.valueOf(b)))
    assert(!Maintenance.hasOverlap(Seq(
      fr("2024-01-01 00:00:00", "2024-01-02 00:00:00"),
      fr("2024-01-02 00:00:00", "2024-01-03 00:00:00"))))
    assert(Maintenance.hasOverlap(Seq(
      fr("2024-01-01 00:00:00", "2024-01-02 00:00:01"),
      fr("2024-01-02 00:00:00", "2024-01-03 00:00:00"))))
  }

  test("ingest end-to-end: chunked JSONL with window filter and drift gate") {
    val root = Files.createTempDirectory("graft_ingest_e2e").toString
    val src = spark.range(40).select(
      col("id"),
      date_format(
        expr("timestamp '2024-03-01 00:00:00' + make_interval(0,0,0,0, 0, 0, id * 3600)"),
        "yyyy-MM-dd HH:mm:ss").as("ts"),
      (col("id") % 2).cast("string").as("side"))
    src.repartition(4).write.mode("overwrite").json(s"$root/jsonl")
    val files = new java.io.File(s"$root/jsonl").listFiles()
      .filter(_.getName.endsWith(".json")).map(_.getAbsolutePath).sorted.toSeq
    val lake = Lake(s"$root/lake")
    val res = Ingest.collectJsonl(spark, lake,
      PartitionSpec("e2e", "p0", tpIndexColumn = Some("side")),
      files, timestampColumn = "ts",
      from = Some(Timestamp.valueOf("2024-03-01 05:00:00")),
      maxChunksPerBatch = 2)
    // ids 0..4 fall before the window (hourly steps from 00:00)
    assert(res.rowsIngested == 35 && res.rowsInvalid == 0)
    assert(res.chunksProcessed == 4)
    assert(lake.read(spark, "e2e").count() == 35)
  }

  test("prefetch caches the first data file's footer schema, the one " +
      "lake.read binds") {
    val lake = newLake()
    lake.append(spark, "t", sampleBatch(100))
    lake.prefetch("")
    val f = new org.apache.hadoop.fs.Path(lake.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val first = lake.listDataFiles(spark, "t").find(_.len > 0).get
    val footer = Lake.footerSchema(
        f.makeQualified(new org.apache.hadoop.fs.Path(first.path)),
        first.len, first.modified)(fail("the footer schema was not cached"))
      .get
    val read = lake.read(spark, "t").schema
    val partitionCols = Seq("tp_partition", "tp_index", "tp_year", "tp_month")
    assert(read.fieldNames.toSeq ===
      footer.fieldNames.toSeq ++ partitionCols)
    assert(read.fields.take(footer.size).map(_.dataType).toSeq ===
      footer.fields.map(_.dataType).toSeq)
  }
}
