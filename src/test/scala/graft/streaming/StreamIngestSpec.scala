package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.config.PartitionSpec
import graft.ingest.SchemaInference
import graft.lake.Lake

class StreamIngestSpec extends AnyFunSuite with SparkTest {

  test("collectStream drains a JSONL inbox into the lake exactly once") {
    val root = Files.createTempDirectory("graft_stream").toString
    val inbox = s"$root/inbox"
    new java.io.File(inbox).mkdirs()
    def writeChunk(name: String, rows: Seq[String]): Unit = {
      val w = new java.io.PrintWriter(s"$inbox/$name")
      try rows.foreach(w.println) finally w.close()
    }
    writeChunk("c0.json", Seq(
      """{"id": 1, "ts": "2024-03-01 10:00:00", "v": 2.5}""",
      """{"id": 2, "ts": "2024-03-01 11:00:00", "v": 1.0}"""))
    writeChunk("c1.json", Seq(
      """{"id": 3, "ts": "2024-04-02 09:00:00", "v": 4.0}"""))

    val lake = Lake(s"$root/lake")
    val rspec = graft.config.RollupSpec("events_stream", "daily",
      groupBy = Seq("tp_date"),
      aggs = Seq(graft.config.RollupAggSpec("n", "count", None)))
    val schema = SchemaInference.inferJson(spark,
      Seq(s"$inbox/c0.json", s"$inbox/c1.json"))
    val q = StreamIngest.collectStream(spark, lake,
      PartitionSpec("events_stream", "p0"),
      inbox, schema, s"$root/ckpt", timestampColumn = "ts",
      rollups = Seq(rspec))
    q.awaitTermination()

    val got = lake.read(spark, "events_stream")
    assert(got.count() == 3)
    assert(got.select("tp_month").distinct().count() == 2)

    // restart with the same checkpoint: nothing new → no re-ingest
    val q2 = StreamIngest.collectStream(spark, lake,
      PartitionSpec("events_stream", "p0"),
      inbox, schema, s"$root/ckpt", timestampColumn = "ts",
      rollups = Seq(rspec))
    q2.awaitTermination()
    assert(lake.read(spark, "events_stream").count() == 3)

    // a NEW chunk file is picked up incrementally
    writeChunk("c2.json", Seq(
      """{"id": 4, "ts": "2024-04-02 10:00:00", "v": 0.5}"""))
    val q3 = StreamIngest.collectStream(spark, lake,
      PartitionSpec("events_stream", "p0"),
      inbox, schema, s"$root/ckpt", timestampColumn = "ts",
      rollups = Seq(rspec))
    q3.awaitTermination()
    assert(lake.read(spark, "events_stream").count() == 4)

    // the rollup followed the stream: per-day counts current after the
    // incremental chunk (April 2 got its second event)
    val roll = graft.lake.Rollup.read(spark, lake, rspec)
      .select(org.apache.spark.sql.functions.col("tp_date")
        .cast("string"), org.apache.spark.sql.functions.col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(roll == Map("2024-03-01" -> 2L, "2024-04-02" -> 2L), roll)
  }

  test("routedCollectStream: clean rows ingest, failing rows land in " +
    "quarantine with reasons; quarantine writes are replay-idempotent") {
    val root = Files.createTempDirectory("graft_routed").toString
    val inbox = s"$root/inbox"
    new java.io.File(inbox).mkdirs()
    def writeChunk(name: String, rows: Seq[String]): Unit = {
      val w = new java.io.PrintWriter(s"$inbox/$name")
      try rows.foreach(w.println) finally w.close()
    }
    writeChunk("c0.json", Seq(
      """{"id": 1, "ts": "2024-03-01 10:00:00", "v": 2.5}""",
      """{"id": 2, "ts": "2024-03-01 11:00:00", "v": -1.0}""",
      """{"id": 3, "ts": null, "v": 3.0}"""))

    val lake = Lake(s"$root/lake")
    val schema = SchemaInference.inferJson(spark, Seq(s"$inbox/c0.json"))
    val rules = Seq(
      "ts_present" -> col("ts").isNotNull,
      "v_nonneg" -> (col("v") >= 0))
    def run(ckpt: String) = {
      val q = StreamIngest.routedCollectStream(spark, lake,
        PartitionSpec("routed_stream", "p0"), inbox, schema,
        ckpt, rules, timestampColumn = "ts")
      q.awaitTermination()
    }
    run(s"$root/ckpt")

    assert(lake.read(spark, "routed_stream").count() == 1)
    val quar = StreamIngest.readQuarantine(spark, lake, "routed_stream")
      .select(col("id"), col("_reject_reason")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(quar == Map(2L -> "v_nonneg", 3L -> "ts_present"), quar)

    // replaying the same batch (fresh checkpoint, same inbox) rewrites
    // the same batch_id directory: the quarantine does not double
    run(s"$root/ckpt2")
    assert(StreamIngest.readQuarantine(spark, lake, "routed_stream")
      .count() == 2)
  }

  test("collectStream mid-batch crash: replay skips the re-append and " +
    "still refreshes the rollup from the recorded dirs") {
    val root = Files.createTempDirectory("graft_stream_crash").toString
    val inbox = s"$root/inbox"
    new java.io.File(inbox).mkdirs()
    val w = new java.io.PrintWriter(s"$inbox/c0.json")
    try {
      w.println("""{"id": 1, "ts": "2024-03-01 10:00:00", "v": 2.5}""")
      w.println("""{"id": 2, "ts": "2024-03-02 11:00:00", "v": 1.0}""")
    } finally w.close()
    val lake = Lake(s"$root/lake")
    val rspec = graft.config.RollupSpec("crash_stream", "daily",
      groupBy = Seq("tp_date"),
      aggs = Seq(graft.config.RollupAggSpec("n", "count", None)))
    val schema = SchemaInference.inferJson(spark, Seq(s"$inbox/c0.json"))
    @volatile var crashed = false
    val q = StreamIngest.collectStream(spark, lake,
      PartitionSpec("crash_stream", "p0"), inbox, schema,
      s"$root/ckpt", timestampColumn = "ts", rollups = Seq(rspec),
      faultInjector = _ => if (!crashed) {
        crashed = true
        throw new RuntimeException("injected post-commit crash")
      })
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    // append committed before the crash; rollup refresh did not run
    assert(lake.read(spark, "crash_stream").count() == 2)
    // restart: the replayed batch finds its commit marker — no double
    // append — and completes the rollup refresh from the recorded dirs
    val q2 = StreamIngest.collectStream(spark, lake,
      PartitionSpec("crash_stream", "p0"), inbox, schema,
      s"$root/ckpt", timestampColumn = "ts", rollups = Seq(rspec))
    q2.awaitTermination()
    assert(lake.read(spark, "crash_stream").count() == 2)
    val roll = graft.lake.Rollup.read(spark, lake, rspec)
      .select(col("tp_date").cast("string"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(roll == Map("2024-03-01" -> 1L, "2024-03-02" -> 1L), roll)
  }

  test("routedCollectStream mid-batch crash: checkpoint restart neither " +
    "duplicates nor loses rows on either side") {
    val root = Files.createTempDirectory("graft_routed_crash").toString
    val inbox = s"$root/inbox"
    new java.io.File(inbox).mkdirs()
    val w = new java.io.PrintWriter(s"$inbox/c0.json")
    try {
      w.println("""{"id": 1, "ts": "2024-03-01 10:00:00", "v": 2.5}""")
      w.println("""{"id": 2, "ts": "2024-03-01 11:00:00", "v": 1.5}""")
      w.println("""{"id": 3, "ts": "2024-03-01 12:00:00", "v": -9.0}""")
    } finally w.close()
    val lake = Lake(s"$root/lake")
    val schema = SchemaInference.inferJson(spark, Seq(s"$inbox/c0.json"))
    val rules = Seq("v_nonneg" -> (col("v") >= 0))
    // crash at the WORST point: clean rows committed + marker written,
    // quarantine not yet — the replay must skip the re-append (marker)
    // and still complete the quarantine side
    @volatile var crashed = false
    val q = StreamIngest.routedCollectStream(spark, lake,
      PartitionSpec("routed_crash", "p0"), inbox, schema,
      s"$root/ckpt", rules, timestampColumn = "ts",
      faultInjector = _ => if (!crashed) {
        crashed = true
        throw new RuntimeException("injected mid-batch crash")
      })
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("injected mid-batch crash") ||
      Option(e.getCause).exists(_.getMessage.contains("injected")), e)
    // the crash landed after the clean commit, before quarantine
    assert(lake.read(spark, "routed_crash").count() == 2)
    assert(!new java.io.File(
      StreamIngest.quarantineDir(lake, "routed_crash")).exists())
    // restart from the SAME checkpoint, no injector: the uncommitted
    // batch replays — table must NOT double, quarantine must appear
    val q2 = StreamIngest.routedCollectStream(spark, lake,
      PartitionSpec("routed_crash", "p0"), inbox, schema,
      s"$root/ckpt", rules, timestampColumn = "ts")
    q2.awaitTermination()
    val ids = lake.read(spark, "routed_crash").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L), s"clean side duplicated or lost: $ids")
    val quar = StreamIngest.readQuarantine(spark, lake, "routed_crash")
      .select("id", "_reject_reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(quar == Seq(3L -> "v_nonneg"), quar)
    // a third run over the drained checkpoint changes nothing
    val q3 = StreamIngest.routedCollectStream(spark, lake,
      PartitionSpec("routed_crash", "p0"), inbox, schema,
      s"$root/ckpt", rules, timestampColumn = "ts")
    q3.awaitTermination()
    assert(lake.read(spark, "routed_crash").count() == 2)
    assert(StreamIngest.readQuarantine(spark, lake, "routed_crash")
      .count() == 1)
  }

  test("rebuilt checkpoint cannot alias another run's commit markers " +
    "(no silent append loss)") {
    // ADVICE r10: markers keyed only by batchId meant a rebuilt
    // checkpoint (batchIds restart at 0) found run 1's marker 0 and
    // silently skipped its append. Markers are now namespaced by the
    // checkpoint's persistent query id, so run 2 re-appends — the
    // documented at-least-once with the dedup backstop, never loss.
    val root = Files.createTempDirectory("graft_marker_ns").toString
    val inbox = s"$root/inbox"
    new java.io.File(inbox).mkdirs()
    def writeChunk(name: String, rows: Seq[String]): Unit = {
      val w = new java.io.PrintWriter(s"$inbox/$name")
      try rows.foreach(w.println) finally w.close()
    }
    writeChunk("c0.json", Seq(
      """{"id": 1, "ts": "2024-03-01 10:00:00", "v": 2.5}"""))
    val lake = Lake(s"$root/lake")
    val schema = SchemaInference.inferJson(spark, Seq(s"$inbox/c0.json"))
    val q = StreamIngest.collectStream(spark, lake,
      PartitionSpec("ns_stream", "p0"), inbox, schema,
      s"$root/ckpt", timestampColumn = "ts")
    q.awaitTermination()
    assert(lake.read(spark, "ns_stream").count() == 1)
    // two distinct query-id namespaces never collide on batch 0
    val commits = new java.io.File(
      s"${lake.tableDir("ns_stream")}/_stream_commits")
    assert(commits.listFiles().forall(_.isDirectory), "flat markers")
    // checkpoint rebuilt + NEW data: new batch 0 must not match run
    // 1's marker 0 — id=2 MUST land (old code silently dropped it)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"$root/ckpt"))
    writeChunk("c1.json", Seq(
      """{"id": 2, "ts": "2024-03-02 10:00:00", "v": 1.0}"""))
    val q2 = StreamIngest.collectStream(spark, lake,
      PartitionSpec("ns_stream", "p0"), inbox, schema,
      s"$root/ckpt", timestampColumn = "ts")
    q2.awaitTermination()
    val ids = lake.read(spark, "ns_stream").select("id").collect()
      .map(_.getLong(0)).toSeq
    assert(ids.contains(2L), s"new-run append silently lost: $ids")
    // id=1 re-appended under the fresh checkpoint — at-least-once,
    // the documented contract for a rebuilt checkpoint
    assert(ids.sorted == Seq(1L, 1L, 2L), ids.sorted)
    assert(commits.listFiles().length == 2,
      "expected one namespace dir per query id")
  }

  test("commit markers prune to a trailing window (no per-batch file leak)") {
    val root = Files.createTempDirectory("graft_markers").toString
    val dir = new org.apache.hadoop.fs.Path(s"$root/_stream_commits")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a long-running stream: batches 0..MarkerKeep+49
    (0L to StreamIngest.MarkerKeep + 49).foreach { id =>
      StreamIngest.writeMarker(fs,
        new org.apache.hadoop.fs.Path(dir, id.toString), s"dirs-$id")
    }
    val kept = fs.listStatus(dir).map(_.getPath.getName.toLong).sorted
    // everything below (last - MarkerKeep) is pruned; the window stays
    assert(kept.length <= StreamIngest.MarkerKeep + 1, kept.length)
    assert(kept.head >= 49, s"oldest surviving marker: ${kept.head}")
    assert(kept.last == StreamIngest.MarkerKeep + 49)
  }

  test("autoState derives state layout and trigger count from the " +
    "observed stream shape") {
    // 1M rows, ~1k keys, 30-day span — the r12 rehearsal shape. Pins:
    // partitions ≈ keys/KeysPerStatePartition, triggers ≈ the
    // commit/probe balance T* = N·sqrt(ratio/K) ≈ 4..5 (matches the
    // measured optimum: coarse-8 beat fine-32 at this size). Key
    // cardinality is approx_count_distinct (±5%), so asserts carry
    // that tolerance.
    val sample = spark.range(1000000).select(
      pmod(col("id"), lit(1000)).as("k"),
      timestamp_seconds(lit(1704067200L) + pmod(col("id") * 37,
        lit(2592000L))).as("t"))
    val sz = StreamIngest.autoState(sample, "k", "t",
      horizonSecs = 7200L)
    assert(sz.rows == 1000000L, sz)
    assert(sz.keys >= 900 && sz.keys <= 1100, sz)
    assert(sz.spanSecs >= 2500000L && sz.spanSecs <= 2592000L, sz)
    val wantParts = math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (sz.keys + StreamIngest.KeysPerStatePartition - 1) /
        StreamIngest.KeysPerStatePartition).toInt
    assert(sz.shufflePartitions == wantParts, sz)
    assert(sz.triggers >= 4 && sz.triggers <= 5, sz)
    // uniform keys: no hot share, no salt; c2 recovers ~1/K
    assert(sz.saltFactor == 1, sz)
    assert(sz.keyMass2 > 0.0008 && sz.keyMass2 < 0.0012, sz)
    // file-source translation: 32 inbox files at ~4 triggers → 8/side
    assert(sz.maxFilesPerTrigger(32) == 32 / sz.triggers, sz)
    assert(StreamIngest.StreamSizing(1, 50, 0, 0, 0)
      .maxFilesPerTrigger(32) == 1)

    // horizon cap: a span shorter than the state horizon caps
    // triggers at 1 — finer batches cannot shrink per-key state
    // below the horizon occupancy, they only add commits
    val narrow = spark.range(1000000).select(
      pmod(col("id"), lit(100)).as("k"),
      timestamp_seconds(lit(1704067200L) + pmod(col("id"), lit(360L)))
        .as("t"))
    val szN = StreamIngest.autoState(narrow, "k", "t",
      horizonSecs = 3600L)
    assert(szN.triggers == 1, szN)
    assert(szN.shufflePartitions == 1, szN)

    // empty sample degrades to the 1/1 floor, no divide-by-zero
    val szE = StreamIngest.autoState(
      sample.where(col("k") < 0), "k", "t", horizonSecs = 3600L)
    assert(szE.shufflePartitions == 1 && szE.triggers == 1, szE)

    // bucketed mode: the probe is linear (one window-width of state
    // per row, by construction), so the quadratic optimum is replaced
    // by memory fit — fewest commits whose per-trigger state fits the
    // heap-resident layout (measured 3.5× over the quadratic sizing
    // at 10×, stream_skew_bucketed_coarse). Expansion comes from the
    // DERIVED salt factor — (3 + saltF)/2, the stream_skew fixture's
    // measured 5.5 at saltF 8 — not a fixed constant (r14 advice:
    // the constant 6 under-provisioned hot-skew inboxes and
    // over-paid triggers on unsalted plans).
    val szB = StreamIngest.autoState(sample, "k", "t",
      horizonSecs = 7200L, rowScale = 1.0, bucketed = true)
    assert(StreamIngest.bucketedStateExpansion(8) == 5.5)
    assert(StreamIngest.bucketedStateExpansion(1) == 2.0)
    val wantB = math.max(1L, math.ceil(
      szB.rows * StreamIngest.bucketedStateExpansion(szB.saltFactor) /
        (StreamIngest.BucketedStateRowsPerPartition.toDouble *
          szB.shufflePartitions)).toLong).toInt
    assert(szB.triggers == wantB, szB)
    assert(szB.triggers <= sz.triggers,
      s"bucketed sizing should not exceed the quadratic triggers: " +
        s"$szB vs $sz")
    // and it scales with volume: 20× the rows → the memory-fit
    // formula tracks proportionally (same expansion, same parts)
    val szB20 = StreamIngest.autoState(sample, "k", "t",
      horizonSecs = 7200L, rowScale = 20.0, bucketed = true)
    val wantB20 = math.max(1L, math.ceil(
      szB20.rows * StreamIngest.bucketedStateExpansion(szB20.saltFactor) /
        (StreamIngest.BucketedStateRowsPerPartition.toDouble *
          szB20.shufflePartitions)).toLong).toInt
    assert(szB20.triggers == wantB20 && szB20.rows == 20000000L, szB20)
    assert(szB20.triggers > szB.triggers, s"$szB20 vs $szB")
  }

  test("autoState flips the state backend to RocksDB when the horizon " +
      "state floor exceeds the heap budget — the floor no trigger " +
      "granularity can shrink") {
    // 1M rows over a 30-day span, ~1k keys → parts ≈ keys/200
    val sample = spark.range(1000000).select(
      pmod(col("id"), lit(1000)).as("k"),
      timestamp_seconds(lit(1704067200L) + pmod(col("id") * 37,
        lit(2592000L))).as("t"))
    // short horizon: live state ≪ heap budget → heap, sized triggers
    val heap = StreamIngest.autoState(sample, "k", "t",
      horizonSecs = 7200L, rowScale = 100.0, bucketed = true)
    assert(heap.backend == "heap", heap)
    assert(heap.triggers > 1, heap) // memory-fit sizing engaged
    // full-span horizon at 100×: every row stays live until the
    // watermark passes — horizon floor = n·expansion ≫ budget·parts.
    // No trigger count fixes that: flip to RocksDB, and with heap no
    // longer a constraint the linear-probe optimum is ONE trigger
    val flip = StreamIngest.autoState(sample, "k", "t",
      horizonSecs = 2592000L, rowScale = 100.0, bucketed = true)
    assert(flip.backend == "rocksdb", flip)
    assert(flip.triggers == 1, flip)
    assert(flip.stateRows > StreamIngest.BucketedStateRowsPerPartition *
      flip.shufflePartitions, flip)
    // the threshold is the budget itself: same horizon, 1× volume
    // fits (1M × expansion 2 = 2M ≤ 1M × parts for parts ≥ 2)
    val fits = StreamIngest.autoState(sample, "k", "t",
      horizonSecs = 2592000L, rowScale = 1.0, bucketed = true)
    assert(fits.backend == (if (fits.stateRows >
      StreamIngest.BucketedStateRowsPerPartition *
        fits.shufflePartitions) "rocksdb" else "heap"), fits)
    // non-bucketed plans flip too (the quadratic T* stands — RocksDB
    // relaxes memory, not probe work)
    val plainFlip = StreamIngest.autoState(sample, "k", "t",
      horizonSecs = 2592000L, rowScale = 100.0, bucketed = false)
    assert(plainFlip.backend == "rocksdb", plainFlip)
    assert(plainFlip.triggers >= 1, plainFlip)
  }

  test("suggestedBucketWidth: one validated bit of widening — 2W " +
      "under the occupancy floor, the default above it, never " +
      "narrower") {
    // the r15 sparse fixture's shape: 1M rows / 30 days / 1000 keys /
    // salt 9 → 0.006 rows per (key, salt, bucket) at W = 300 s
    val sparse = StreamIngest.StreamSizing(16, 1, 1000000L, 1000L,
      2592000L, saltFactor = 9)
    assert(StreamIngest.suggestedBucketWidth(sparse, 300L)
      .contains("600 seconds"))
    // the dense fixture's shape: 10 keys, no salt → 5.8 rows per slot
    val dense = StreamIngest.StreamSizing(8, 1, 1000000L, 10L, 2592000L)
    assert(StreamIngest.suggestedBucketWidth(dense, 300L).isEmpty)
    intercept[IllegalArgumentException] {
      StreamIngest.suggestedBucketWidth(dense, 0L)
    }
  }

  test("autoState derives bucketWidth from the sampled occupancy " +
      "(r16: the last sizing knob joins the derivation set)") {
    // sparse shape (~1k keys over 30 days, 1M rows): occupancy at
    // W=300s is ≪ 1 row per (key, salt, bucket) → derive 2W
    val sparse = spark.range(1000000).select(
      pmod(col("id"), lit(1000)).as("k"),
      timestamp_seconds(lit(1704067200L) + pmod(col("id") * 37,
        lit(2592000L))).as("t"))
    val szS = StreamIngest.autoState(sparse, "k", "t",
      horizonSecs = 4200L, rowScale = 1.0, bucketed = true,
      StreamIngest.BucketedStateRowsPerPartition, windowSecs = 300L)
    assert(szS.bucketWidth.contains("600 seconds"), szS)
    // dense shape (10 keys): ≥ 1 row per slot → keep the default
    val dense = spark.range(1000000).select(
      pmod(col("id"), lit(10)).as("k"),
      timestamp_seconds(lit(1704067200L) + pmod(col("id") * 37,
        lit(2592000L))).as("t"))
    val szD = StreamIngest.autoState(dense, "k", "t",
      horizonSecs = 4200L, rowScale = 1.0, bucketed = true,
      StreamIngest.BucketedStateRowsPerPartition, windowSecs = 300L)
    assert(szD.bucketWidth.isEmpty, szD)
    // unknown window or non-bucketed mode: no width derivation
    val szU = StreamIngest.autoState(sparse, "k", "t",
      horizonSecs = 4200L, rowScale = 1.0, bucketed = true,
      StreamIngest.BucketedStateRowsPerPartition, windowSecs = 0L)
    assert(szU.bucketWidth.isEmpty, szU)
    val szP = StreamIngest.autoState(sparse, "k", "t",
      horizonSecs = 4200L, rowScale = 1.0, bucketed = false,
      StreamIngest.BucketedStateRowsPerPartition, windowSecs = 300L)
    assert(szP.bucketWidth.isEmpty, szP)
  }

  test("inboxSample parses a file subset spanning first/last by mtime " +
    "and extrapolates rows by byte ratio") {
    val root = Files.createTempDirectory("graft_inbox_sample").toString
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    // 8 files × 10 rows, mtimes ascending; rows carry their file index
    (0 until 8).foreach { i =>
      val f = new java.io.File(inbox, s"chunk$i.json")
      val w = new java.io.PrintWriter(f)
      try (0 until 10).foreach { j =>
        w.println(s"""{"k": ${i * 10 + j}, "ts": "2024-03-0${i + 1} 10:00:00"}""")
      } finally w.close()
      f.setLastModified(1700000000000L + i * 60000L); ()
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.StringType)))
    val (sample, sampledB, totalB) = StreamIngest.inboxSample(
      spark, inbox.getPath, schema, sampleFiles = 4)
    val got = sample.collect()
    assert(got.length == 40, got.length)
    // first and last files (by mtime) must be in the pick — they carry
    // the event-time span ends
    val fileIdx = got.map(_.getLong(0) / 10).toSet
    assert(fileIdx.contains(0L) && fileIdx.contains(7L), fileIdx)
    val scale = totalB.toDouble / sampledB
    assert(scale > 1.8 && scale < 2.2, scale)
    // the extrapolated row count feeds autoState's N
    val sz = StreamIngest.autoState(
      sample.select(col("k"), to_timestamp(col("ts")).as("t")),
      "k", "t", horizonSecs = 1L, rowScale = scale)
    assert(sz.rows >= 72 && sz.rows <= 88, sz)
    // fewer files than sampleFiles → everything, scale 1
    val (all, sb, tb) = StreamIngest.inboxSample(
      spark, inbox.getPath, schema, sampleFiles = 100)
    assert(all.count() == 80 && sb == tb)
  }

  test("sampledJoinSizing: on an inbox the sample fully covers, the " +
    "derivation equals the full-parse autoState (r20 contract)") {
    // the qi22/24/27 derivation contract: sizing from inboxSample must
    // be IDENTICAL to sizing from a full parse whenever the sample is
    // the whole inbox (≤ sampleFiles files per side, the bench
    // geometry) — that equivalence is what lets the declared queries
    // take the at-scale sampled path with zero oracle risk
    val root = Files.createTempDirectory("graft_sjs").toString
    def writeSide(name: String, keyBase: Int): String = {
      val d = new java.io.File(root, name); d.mkdirs()
      (0 until 2).foreach { i =>
        val f = new java.io.File(d, s"chunk$i.json")
        val w = new java.io.PrintWriter(f)
        try (0 until 30).foreach { j =>
          val k = keyBase + (i * 30 + j) % 7
          w.println(
            f"""{"user_id": $k, "ts": "2024-03-01 1$i%d:$j%02d:00"}""")
        } finally w.close()
        f.setLastModified(1700000000000L + i * 60000L); ()
      }
      d.getPath
    }
    val lDir = writeSide("purchases", 100)
    val rDir = writeSide("errors", 200)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.StringType)))
    val mapSide = (d: org.apache.spark.sql.DataFrame) =>
      d.select(col("user_id").as("k"), to_timestamp(col("ts")).as("t"))
    val sampled = StreamIngest.sampledJoinSizing(spark,
      lDir, schema, rDir, schema, mapSide,
      horizonSecs = 7200L, bucketed = true)
    val full = StreamIngest.autoState(
      mapSide(spark.read.schema(schema).json(lDir))
        .unionByName(mapSide(spark.read.schema(schema).json(rDir))),
      "k", "t", horizonSecs = 7200L, rowScale = 1.0, bucketed = true)
    assert(sampled == full, s"sampled=$sampled full=$full")
    // and the inputs really were fully covered: exact rows, exact keys
    assert(sampled.rows == 120 && sampled.keys == 14, sampled)
  }

  test("sampledJoinSizing scales each side by its own byte ratio") {
    // lopsided inboxes: 12 files of 10 fat rows beside 2 files of 100
    // thin rows. The sample takes 4 of the fat files (byte ratio 3) and
    // both thin ones (ratio 1); one blended ratio (about 2.3 here)
    // would extrapolate the fully-read thin side too
    val root = Files.createTempDirectory("graft_sjs_lop").toString
    def writeSide(name: String, files: Int, rows: Int, pad: Int,
        keyBase: Int): String = {
      val d = new java.io.File(root, name); d.mkdirs()
      (0 until files).foreach { i =>
        val f = new java.io.File(d, s"chunk$i.json")
        val w = new java.io.PrintWriter(f)
        // fixed-width lines: every file of a side has the same size
        try (0 until rows).foreach { j =>
          val k = keyBase + (i * rows + j) % 7
          w.println(f"""{"user_id": $k, "ts": "2024-03-01 $i%02d:""" +
            f"""${j % 60}%02d:00", "pad": "${"x" * pad}"}""")
        } finally w.close()
        f.setLastModified(1700000000000L + i * 60000L); ()
      }
      d.getPath
    }
    val lDir = writeSide("fat", files = 12, rows = 10, pad = 400, keyBase = 100)
    val rDir = writeSide("thin", files = 2, rows = 100, pad = 0, keyBase = 200)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.StringType)))
    val mapSide = (d: org.apache.spark.sql.DataFrame) =>
      d.select(col("user_id").as("k"), to_timestamp(col("ts")).as("t"))
    val sampled = StreamIngest.sampledJoinSizing(spark,
      lDir, schema, rDir, schema, mapSide,
      horizonSecs = 7200L, bucketed = true)
    val full = StreamIngest.autoState(
      mapSide(spark.read.schema(schema).json(lDir))
        .unionByName(mapSide(spark.read.schema(schema).json(rDir))),
      "k", "t", horizonSecs = 7200L, rowScale = 1.0, bucketed = true)
    // 4 sampled fat files × 10 rows × 3 + 200 thin rows × 1
    assert(full.rows == 320, full)
    assert(sampled.rows == full.rows, s"sampled=$sampled full=$full")
    assert(sampled.keys == full.keys && sampled.spanSecs == full.spanSecs,
      s"sampled=$sampled full=$full")
  }

  test("legacy flat-marker sweep runs once per commit root, not per batch") {
    val root = Files.createTempDirectory("graft_markers_sweep").toString
    val commits = new org.apache.hadoop.fs.Path(s"$root/_stream_commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(commits)
    // a pre-namespacing flat marker left by an older build
    val legacy = new org.apache.hadoop.fs.Path(commits, "7")
    val out = fs.create(legacy, true)
    out.write("old".getBytes("UTF-8")); out.close()
    // first namespaced write sweeps it ...
    StreamIngest.writeMarker(fs,
      new org.apache.hadoop.fs.Path(commits, "qid-a/0"), "d0")
    assert(!fs.exists(legacy), "legacy flat marker not swept at start")
    // ... and later batches do NOT re-list the root: plant another
    // flat file and confirm subsequent writes leave it alone (ADVICE
    // r12 — the per-batch sweep was an extra LIST+DELETE per trigger)
    val planted = new org.apache.hadoop.fs.Path(commits, "9")
    val out2 = fs.create(planted, true)
    out2.write("x".getBytes("UTF-8")); out2.close()
    StreamIngest.writeMarker(fs,
      new org.apache.hadoop.fs.Path(commits, "qid-a/1"), "d1")
    assert(fs.exists(planted), "sweep ran again on a later batch")
  }

  test("quality rule pack gates a stream statelessly (no state store)") {
    // QualityRules is pure per-row column algebra, so it composes into
    // a streaming pipeline with no watermark and no state — the shape
    // a live-crawl quality filter needs.
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val gated = graft.functions.QualityRules(
      in.toDF().toDF("id", "text"), "id", "text")
    val q = gated.writeStream.format("memory")
      .queryName("q_rules_stream").outputMode("append").start()
    in.addData(
      1L -> (("the data " * 30) + "that should have been fine to be"),
      2L -> "too short")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("q_rules_stream")
      .select("id", "keep_gopher").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got(1L) && !got(2L))
    // stateless: the progress log reports no stateful operators
    assert(q.lastProgress.stateOperators.isEmpty)
  }

  test("windowedAgg: tumbling windows close as the watermark advances") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamIngest.windowedAgg(
      mem.toDF().toDF("ts", "key", "v"),
      "ts", "key", "v", "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    mem.addData(
      (Timestamp.valueOf("2024-03-01 10:01:00"), "a", 1.0),
      (Timestamp.valueOf("2024-03-01 10:04:00"), "a", 2.0),
      (Timestamp.valueOf("2024-03-01 10:02:00"), "b", 5.0))
    q.processAllAvailable()
    // watermark still at batch-1 max - 5m; window [10:00,10:10) open
    mem.addData((Timestamp.valueOf("2024-03-01 10:30:00"), "a", 9.0))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2024-03-01 11:00:00"), "a", 0.0))
    q.processAllAvailable()
    val rows = spark.table("win_out")
      .orderBy("window_start", "key").collect()
    q.stop()
    val first = rows.filter(_.getTimestamp(0) ==
      Timestamp.valueOf("2024-03-01 10:00:00"))
    assert(first.length == 2)
    assert(first.map(r => (r.getString(2), r.getLong(3), r.getDouble(4)))
      .toSeq == Seq(("a", 2L, 3.0), ("b", 1L, 5.0)))
  }

  test("streamingNearDup flags fingerprint collisions across batches; " +
      "horizon-expired buckets re-seed") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val textA = "the quick brown fox jumps over the lazy dog and then " +
      "naps in the warm afternoon sun near the river bank"
    val textB = "completely different content about spark streaming " +
      "state management and watermark based eviction semantics"
    val cands = StreamIngest.streamingNearDup(
      mem.toDF().toDF("doc_id", "text", "ts"),
      watermarkDelay = "10 seconds", horizonSecs = 600)
    val q = cands.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    mem.addData(
      (1L, textA, Timestamp.valueOf("2024-03-01 10:00:00")),
      (2L, textB, Timestamp.valueOf("2024-03-01 10:00:01")))
    q.processAllAvailable()
    // batch 2: a near-copy of doc 1 arrives → candidate (3, 1)
    mem.addData(
      (3L, textA + " with a tiny tail edit",
        Timestamp.valueOf("2024-03-01 10:01:00")))
    q.processAllAvailable()
    val pairs = spark.table("neardup_out")
      .select("doc_id", "dup_of").distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 1L)), s"missing (3,1) in $pairs")
    assert(!pairs.exists(_._1 == 2L) && !pairs.exists(_._2 == 2L),
      s"unrelated doc 2 must not pair: $pairs")
    // advance the watermark far past every bucket's horizon…
    mem.addData(
      (9L, "advance the clock marker row",
        Timestamp.valueOf("2024-03-01 12:00:00")))
    q.processAllAvailable()
    // …then re-send doc 1's text: expired buckets re-seed, no pair
    mem.addData(
      (4L, textA, Timestamp.valueOf("2024-03-01 12:00:05")))
    q.processAllAvailable()
    val after = spark.table("neardup_out")
      .select("doc_id", "dup_of").distinct()
      .as[(Long, Long)].collect().toSet
    q.stop()
    assert(!after.contains((4L, 1L)),
      s"bucket state must expire at the horizon: $after")
  }

  test("streamingNearDup survives a hot bucket colliding past its " +
      "horizon: expired canonical re-seeds instead of killing the query") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val text = "repeated boilerplate header that every crawled page " +
      "shares word for word across the entire corpus forever"
    val cands = StreamIngest.streamingNearDup(
      mem.toDF().toDF("doc_id", "text", "ts"),
      watermarkDelay = "10 seconds", horizonSecs = 600)
    val q = cands.writeStream.format("memory").queryName("hotdup_out")
      .outputMode("append").start()
    mem.addData((1L, text, Timestamp.valueOf("2024-03-01 10:00:00")))
    q.processAllAvailable()
    // in-horizon collision: canonical still valid → pair (5, 1)
    mem.addData((5L, text, Timestamp.valueOf("2024-03-01 10:05:00")))
    q.processAllAvailable()
    // advance the watermark past the canonical's 10:10:00 horizon with
    // an UNRELATED document (the hot bucket gets no data, but is not
    // timed out either until the next batch's watermark applies)
    mem.addData((9L, "unrelated watermark advancing marker row",
      Timestamp.valueOf("2024-03-01 13:00:00")))
    q.processAllAvailable()
    // now the bucket receives data WITH the watermark past its horizon
    // — it has data, so the timeout callback cannot evict it first;
    // before the guard this batch emitted a stale (6,1) match and then
    // threw inside setTimeoutTimestamp, terminating the query
    mem.addData((6L, text, Timestamp.valueOf("2024-03-01 13:00:05")))
    q.processAllAvailable()
    mem.addData((7L, text, Timestamp.valueOf("2024-03-01 13:00:30")))
    q.processAllAvailable()
    assert(q.isActive, Option(q.exception).map(_.toString).getOrElse(""))
    val pairs = spark.table("hotdup_out")
      .select("doc_id", "dup_of").distinct()
      .as[(Long, Long)].collect().toSet
    q.stop()
    assert(pairs.contains((5L, 1L)), s"in-horizon pair missing: $pairs")
    assert(!pairs.contains((6L, 1L)),
      s"expired canonical must re-seed, not match: $pairs")
    // doc 6 became the new canonical; doc 7 collides within horizon
    assert(pairs.contains((7L, 6L)), s"re-seeded bucket must match: $pairs")
  }

  test("streamingDedup drops within-horizon duplicates with bounded state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val dedup = StreamIngest.streamingDedup(
      mem.toDF().toDF("ts", "key", "v"), "ts", Seq("key"), "10 minutes")
    val q = dedup.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    mem.addData(
      (Timestamp.valueOf("2024-03-01 10:00:00"), "a", 1.0),
      (Timestamp.valueOf("2024-03-01 10:01:00"), "a", 2.0), // dup key
      (Timestamp.valueOf("2024-03-01 10:02:00"), "b", 3.0))
    q.processAllAvailable()
    mem.addData( // same batch-2: 'a' still inside the horizon → dropped
      (Timestamp.valueOf("2024-03-01 10:03:00"), "a", 4.0))
    q.processAllAvailable()
    val out = spark.table("dedup_out")
      .select("key", "v").orderBy("key").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    q.stop()
    assert(out == Seq(("a", 1.0), ("b", 3.0)))
  }

  test("intervalJoin: correlates two streams by key within the time " +
      "range, across batches, with symmetric-hash state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val reqs = MemoryStream[(Timestamp, String, Long)]
    val resps = MemoryStream[(Timestamp, String, Int)]
    val joined = StreamIngest.intervalJoin(
      reqs.toDF().toDF("req_ts", "req_user", "req_id"),
      resps.toDF().toDF("resp_ts", "resp_user", "status"),
      "req_user", "resp_user", "req_ts", "resp_ts",
      before = "0 minutes", after = "10 minutes",
      leftDelay = "5 minutes", rightDelay = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    reqs.addData(
      (Timestamp.valueOf("2024-03-01 10:00:00"), "alice", 1L),
      (Timestamp.valueOf("2024-03-01 10:00:00"), "bob", 2L))
    q.processAllAvailable()
    // a later batch's response still joins the buffered request —
    // in range for alice (+3 min), OUT of range for bob (+11 min)
    resps.addData(
      (Timestamp.valueOf("2024-03-01 10:03:00"), "alice", 200),
      (Timestamp.valueOf("2024-03-01 10:11:00"), "bob", 500))
    q.processAllAvailable()
    val out = spark.table("ij_out")
      .select("req_id", "status").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(out == Seq((1L, 200)))
    q.stop()
    // bounded-state shape: watermarks on both sides reach the join
    // (what lets Spark evict old buffered rows)
    assert(joined.queryExecution.analyzed.toString
      .toLowerCase.contains("watermark"))
  }

  test("intervalJoin rejects colliding column names") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val a = MemoryStream[(Timestamp, String)]
    val b = MemoryStream[(Timestamp, String)]
    intercept[IllegalArgumentException] {
      StreamIngest.intervalJoin(
        a.toDF().toDF("ts", "user"), b.toDF().toDF("ts", "user"),
        "user", "user", "ts", "ts", "0 minutes", "5 minutes",
        "1 minute", "1 minute")
    }
  }

  test("saltedIntervalJoin is row-identical to intervalJoin across " +
      "batches and keys state by (key, salt)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val reqs = MemoryStream[(Timestamp, String, Long)]
    val resps = MemoryStream[(Timestamp, String, Int)]
    val joined = StreamIngest.saltedIntervalJoin(
      reqs.toDF().toDF("req_ts", "req_user", "req_id"),
      resps.toDF().toDF("resp_ts", "resp_user", "status"),
      "req_user", "resp_user", "req_ts", "resp_ts",
      before = "0 minutes", after = "10 minutes",
      leftDelay = "5 minutes", rightDelay = "5 minutes", factor = 3)
    val q = joined.writeStream.format("memory").queryName("sij_out")
      .outputMode("append").start()
    // a hot key with several distinct rows (distinct salts) plus a
    // cold key; responses arrive a BATCH LATER so every match crosses
    // buffered state, and one is out of range
    reqs.addData(
      (Timestamp.valueOf("2024-03-01 10:00:00"), "hot", 1L),
      (Timestamp.valueOf("2024-03-01 10:01:00"), "hot", 2L),
      (Timestamp.valueOf("2024-03-01 10:02:00"), "hot", 3L),
      (Timestamp.valueOf("2024-03-01 10:00:00"), "cold", 4L))
    q.processAllAvailable()
    resps.addData(
      (Timestamp.valueOf("2024-03-01 10:05:00"), "hot", 200),
      (Timestamp.valueOf("2024-03-01 10:09:00"), "cold", 201),
      (Timestamp.valueOf("2024-03-01 10:13:00"), "hot", 500))
    q.processAllAvailable()
    val out = spark.table("sij_out")
      .select("req_id", "status").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    // every in-range (req, resp) pair exactly ONCE: a row reaching
    // two salts would duplicate a pair, a salt mismatch would drop
    // one. The 10:13 "hot" response is +13/+12/+11 min from reqs
    // 1/2/3 — beyond the 10-minute `after` bound for all three.
    assert(out == Seq((1L, 200), (2L, 200), (3L, 200), (4L, 201)))
    q.stop()
    // the salt reaches the state layout: both equi-keys appear in the
    // analyzed join condition, and no salt column survives the output
    val plan = joined.queryExecution.analyzed.toString
    assert(plan.contains("__salt_l") && plan.contains("__salt_r"))
    assert(!joined.columns.exists(_.startsWith("__salt")))
    // factor == 1 short-circuits to the plain plan
    val plain = StreamIngest.saltedIntervalJoin(
      reqs.toDF().toDF("req_ts", "req_user", "req_id"),
      resps.toDF().toDF("resp_ts", "resp_user", "status"),
      "req_user", "resp_user", "req_ts", "resp_ts",
      "0 minutes", "10 minutes", "5 minutes", "5 minutes", factor = 1)
    assert(!plain.queryExecution.analyzed.toString.contains("__salt"))
  }

  test("bucketedIntervalJoin is row-identical to intervalJoin, " +
      "including matches that straddle a bucket edge") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val reqs = MemoryStream[(Timestamp, String, Long)]
    val resps = MemoryStream[(Timestamp, String, Int)]
    // window ±10 min → bucket width 10 min, edges at :00/:10/:20…
    val joined = StreamIngest.bucketedIntervalJoin(
      reqs.toDF().toDF("req_ts", "req_user", "req_id"),
      resps.toDF().toDF("resp_ts", "resp_user", "status"),
      "req_user", "resp_user", "req_ts", "resp_ts",
      before = "10 minutes", after = "10 minutes",
      leftDelay = "5 minutes", rightDelay = "5 minutes", factor = 2)
    val q = joined.writeStream.format("memory").queryName("bij_out")
      .outputMode("append").start()
    reqs.addData(
      // sits 1 min BEFORE a bucket edge: its in-range responses live
      // in the NEXT bucket — only the +1 replica can find them
      (Timestamp.valueOf("2024-03-01 10:09:00"), "u1", 1L),
      // sits 1 min AFTER an edge: in-range responses behind it live
      // in the PREVIOUS bucket — only the −1 replica can find them
      (Timestamp.valueOf("2024-03-01 10:11:00"), "u2", 2L),
      (Timestamp.valueOf("2024-03-01 10:00:00"), "u3", 3L))
    q.processAllAvailable()
    resps.addData(
      (Timestamp.valueOf("2024-03-01 10:12:00"), "u1", 200), // +3, next bucket
      (Timestamp.valueOf("2024-03-01 10:05:00"), "u2", 201), // −6, prev bucket
      (Timestamp.valueOf("2024-03-01 10:10:00"), "u3", 202), // +10, ON the bound
      (Timestamp.valueOf("2024-03-01 10:30:00"), "u3", 500)) // +30, out of range
    q.processAllAvailable()
    val out = spark.table("bij_out")
      .select("req_id", "status").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    // every in-range pair exactly once — a replica missing a bucket
    // drops an edge match, a double-covered bucket duplicates one
    assert(out == Seq((1L, 200), (2L, 201), (3L, 202)))
    q.stop()
    // bucket AND salt both reach the state key; neither survives output
    val plan = joined.queryExecution.analyzed.toString
    assert(plan.contains("__bkt_l") && plan.contains("__bkt_r"))
    assert(plan.contains("__salt_l") && plan.contains("__salt_r"))
    assert(!joined.columns.exists(c =>
      c.startsWith("__bkt") || c.startsWith("__salt")))
    // calendar-unit windows have no fixed bucket width
    intercept[IllegalArgumentException] {
      StreamIngest.bucketedIntervalJoin(
        reqs.toDF().toDF("req_ts", "req_user", "req_id"),
        resps.toDF().toDF("resp_ts", "resp_user", "status"),
        "req_user", "resp_user", "req_ts", "resp_ts",
        "1 month", "1 month", "5 minutes", "5 minutes")
    }
    // bucketWidth override at W/2: the replica count generalizes to
    // 2·ceil(window/W)+1 = 5, and the SAME matches survive — u2's −6
    // match now sits TWO 5-min buckets back, findable only by the −2
    // replica the generalization adds
    val reqs2 = MemoryStream[(Timestamp, String, Long)]
    val resps2 = MemoryStream[(Timestamp, String, Int)]
    val half = StreamIngest.bucketedIntervalJoin(
      reqs2.toDF().toDF("req_ts", "req_user", "req_id"),
      resps2.toDF().toDF("resp_ts", "resp_user", "status"),
      "req_user", "resp_user", "req_ts", "resp_ts",
      before = "10 minutes", after = "10 minutes",
      leftDelay = "5 minutes", rightDelay = "5 minutes", factor = 2,
      bucketWidth = Some("5 minutes"))
    val q2 = half.writeStream.format("memory").queryName("bij_half")
      .outputMode("append").start()
    reqs2.addData(
      (Timestamp.valueOf("2024-03-01 10:09:00"), "u1", 1L),
      (Timestamp.valueOf("2024-03-01 10:11:00"), "u2", 2L),
      (Timestamp.valueOf("2024-03-01 10:00:00"), "u3", 3L))
    q2.processAllAvailable()
    resps2.addData(
      (Timestamp.valueOf("2024-03-01 10:12:00"), "u1", 200),
      (Timestamp.valueOf("2024-03-01 10:05:00"), "u2", 201),
      (Timestamp.valueOf("2024-03-01 10:10:00"), "u3", 202),
      (Timestamp.valueOf("2024-03-01 10:30:00"), "u3", 500))
    q2.processAllAvailable()
    val outHalf = spark.table("bij_half")
      .select("req_id", "status").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(outHalf == Seq((1L, 200), (2L, 201), (3L, 202)))
    q2.stop()
    // five replicas reach the plan (−2..+2 explode)
    val planHalf = half.queryExecution.analyzed.toString
    assert(planHalf.contains("__bkt_l"), planHalf)
  }

  test("intervalJoin DEFAULTS to the bucketed plan; calendar and " +
      "zero-width windows fall back to plain; salted factor=1 stays " +
      "the plain measurement variant") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val reqs = MemoryStream[(Timestamp, String, Long)]
    val resps = MemoryStream[(Timestamp, String, Int)]
    def build(f: => org.apache.spark.sql.DataFrame): String =
      f.queryExecution.analyzed.toString
    // fixed physical window → the default IS the bucketed state
    // layout (r15: the 136×-measured plan is what callers get)
    val deft = build(StreamIngest.intervalJoin(
      reqs.toDF().toDF("req_ts", "req_user", "req_id"),
      resps.toDF().toDF("resp_ts", "resp_user", "status"),
      "req_user", "resp_user", "req_ts", "resp_ts",
      "0 minutes", "10 minutes", "5 minutes", "5 minutes"))
    assert(deft.contains("__bkt_l") && deft.contains("__bkt_r"), deft)
    // calendar-unit window: no fixed bucket width exists → plain
    val cal = build(StreamIngest.intervalJoin(
      reqs.toDF().toDF("req_ts", "req_user", "req_id"),
      resps.toDF().toDF("resp_ts", "resp_user", "status"),
      "req_user", "resp_user", "req_ts", "resp_ts",
      "1 month", "1 month", "5 minutes", "5 minutes"))
    assert(!cal.contains("__bkt"), cal)
    // zero-width window: one degenerate bucket, replicas buy nothing
    val zero = build(StreamIngest.intervalJoin(
      reqs.toDF().toDF("req_ts", "req_user", "req_id"),
      resps.toDF().toDF("resp_ts", "resp_user", "status"),
      "req_user", "resp_user", "req_ts", "resp_ts",
      "0 seconds", "0 seconds", "5 minutes", "5 minutes"))
    assert(!zero.contains("__bkt"), zero)
    // the explicit escape hatch never buckets
    val plain = build(StreamIngest.plainIntervalJoin(
      reqs.toDF().toDF("req_ts", "req_user", "req_id"),
      resps.toDF().toDF("resp_ts", "resp_user", "status"),
      "req_user", "resp_user", "req_ts", "resp_ts",
      "0 minutes", "10 minutes", "5 minutes", "5 minutes"))
    assert(!plain.contains("__bkt"), plain)
    // a derived/override width reaches the bucketed plan through the
    // default routing: W=600s on a ±10 min window means bucket radius
    // 1 — replicas -1..1, same as default — but the bucket expression
    // divides by 600s; pin via the analyzed plan's literal
    val widened = build(StreamIngest.intervalJoin(
      reqs.toDF().toDF("req_ts", "req_user", "req_id"),
      resps.toDF().toDF("resp_ts", "resp_user", "status"),
      "req_user", "resp_user", "req_ts", "resp_ts",
      "0 minutes", "10 minutes", "5 minutes", "5 minutes",
      bucketWidth = Some("20 minutes")))
    assert(widened.contains("__bkt_l") &&
      widened.contains("1200000000"), widened) // 20 min in micros
    // saltedIntervalJoin(factor=1) degrades to PLAIN, not bucketed —
    // it is the salt-only measurement variant (stream_skew family)
    val sf1 = build(StreamIngest.saltedIntervalJoin(
      reqs.toDF().toDF("req_ts", "req_user", "req_id"),
      resps.toDF().toDF("resp_ts", "resp_user", "status"),
      "req_user", "resp_user", "req_ts", "resp_ts",
      "0 minutes", "10 minutes", "5 minutes", "5 minutes", factor = 1))
    assert(!sf1.contains("__bkt") && !sf1.contains("__salt"), sf1)
  }

  test("salt×bucket orthogonality: one hot key's bucket replicas " +
      "land on distinct shuffle partitions, and both columns reach " +
      "the state exchange") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val reqs = MemoryStream[(Timestamp, String, Long)]
    val resps = MemoryStream[(Timestamp, String, Int)]
    val joined = StreamIngest.bucketedIntervalJoin(
      reqs.toDF().toDF("req_ts", "req_user", "req_id"),
      resps.toDF().toDF("resp_ts", "resp_user", "status"),
      "req_user", "resp_user", "req_ts", "resp_ts",
      before = "10 minutes", after = "10 minutes",
      leftDelay = "5 minutes", rightDelay = "5 minutes", factor = 2)
    // drive one micro-batch so a PHYSICAL plan exists, then read the
    // state exchange's partitioning expressions off it: the shuffle
    // that lays out join state must hash (key, salt, bucket) — key
    // alone would serialize a hot key into one state partition
    val q = joined.writeStream.format("memory").queryName("ob_out")
      .outputMode("append").start()
    reqs.addData((Timestamp.valueOf("2024-03-01 10:00:00"), "hot", 1L))
    resps.addData((Timestamp.valueOf("2024-03-01 10:01:00"), "hot", 200))
    q.processAllAvailable()
    val baos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(baos, true, "UTF-8")) {
      q.explain()
    }
    q.stop()
    val phys = baos.toString("UTF-8")
    val exch = phys.linesIterator
      .filter(_.contains("hashpartitioning")).toSeq
    assert(exch.exists(l => l.contains("__bkt_l") &&
      l.contains("__salt_l") && l.contains("req_user")),
      phys.take(2000))
    // and the hash actually SPREADS: one key, one salt, consecutive
    // buckets — repartition uses the same HashPartitioning the state
    // exchange does, so distinct spark_partition_ids here mean the
    // hot key's per-bucket state lands on distinct state partitions
    val spread = spark.range(8)
      .select(lit("hot").as("req_user"), lit(0).as("__salt_l"),
        col("id").as("__bkt_l"))
      .repartition(8, col("req_user"), col("__salt_l"), col("__bkt_l"))
      .select(spark_partition_id().as("p"))
      .distinct().count()
    assert(spread > 1,
      s"8 consecutive buckets of one (key, salt) hashed to $spread " +
        "partition(s) — bucketing is not spreading the hot key")
  }

  test("withRocksDBState: interval join result-identical on the " +
      "RocksDB provider, conf restored, provider actually engaged") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val reqs = MemoryStream[(Timestamp, String, Long)]
    val resps = MemoryStream[(Timestamp, String, Int)]
    val joined = StreamIngest.intervalJoin(
      reqs.toDF().toDF("req_ts", "req_user", "req_id"),
      resps.toDF().toDF("resp_ts", "resp_user", "status"),
      "req_user", "resp_user", "req_ts", "resp_ts",
      before = "0 minutes", after = "10 minutes",
      leftDelay = "5 minutes", rightDelay = "5 minutes")
    val q = StreamIngest.withRocksDBState(spark) {
      assert(spark.conf.get(provKey) == StreamIngest.RocksDBProvider)
      joined.writeStream.format("memory").queryName("rdb_out")
        .outputMode("append").start()
    }
    // scope-bound: the session conf is back to the default provider
    // right after start — later queries are NOT switched (getOption
    // reports the built-in default, so compare values, not presence)
    assert(spark.conf.get(provKey) != StreamIngest.RocksDBProvider)
    // matches cross micro-batches, so they traverse RocksDB-buffered
    // state, not just in-batch rows
    reqs.addData(
      (Timestamp.valueOf("2024-03-01 10:00:00"), "a", 1L),
      (Timestamp.valueOf("2024-03-01 10:01:00"), "b", 2L))
    q.processAllAvailable()
    resps.addData(
      (Timestamp.valueOf("2024-03-01 10:05:00"), "a", 200),
      (Timestamp.valueOf("2024-03-01 10:09:00"), "b", 201),
      (Timestamp.valueOf("2024-03-01 10:12:00"), "b", 502))
    q.processAllAvailable()
    val out = spark.table("rdb_out")
      .select("req_id", "status").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(out == Seq((1L, 200), (2L, 201)))
    // the provider really engaged: the state operator reports
    // RocksDB-specific custom metrics
    import scala.jdk.CollectionConverters._
    val cms = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
      .flatMap(_.customMetrics.keySet().asScala)
    assert(cms.exists(_.toLowerCase.contains("rocksdb")),
      s"no rocksdb metrics in: ${cms.distinct.sorted}")
    q.stop()
  }

  test("autoState detects a hot key: salt factor from the hottest " +
      "share, trigger optimum from the key-mass second moment") {
    // 90% of 1M rows on ONE key, the rest uniform over 100 keys.
    // c2 ≈ 0.81 → the uniform-formula triggers (which saw ~100 keys)
    // would be far too fine; the hot share out-fills its fair machine
    // share → saltFactor fires. All expectations computed from the
    // same formulas with the session's real parallelism, like the
    // uniform test above.
    val maxP = spark.sparkContext.defaultParallelism
    val sample = spark.range(1000000).select(
      when(pmod(col("id"), lit(10)) < 9, lit(-1L))
        .otherwise(pmod(col("id"), lit(100))).as("k"),
      timestamp_seconds(lit(1704067200L) + pmod(col("id") * 37,
        lit(2592000L))).as("t"))
    val sz = StreamIngest.autoState(sample, "k", "t",
      horizonSecs = 7200L)
    assert(sz.keyMass2 > 0.80 && sz.keyMass2 < 0.82, sz)
    val wantF = {
      val raw = math.ceil(0.9 * maxP).toLong
      if (raw >= StreamIngest.MinSaltFactor)
        math.min(maxP.toLong, raw).toInt else 1
    }
    assert(sz.saltFactor == wantF, s"$sz vs wantF=$wantF maxP=$maxP")
    // triggers follow c2eff = c2 − s² + s²/f, not 1/K
    val c2eff = sz.keyMass2 - 0.81 + 0.81 / math.max(1, sz.saltFactor)
    val wantT = math.round(1000000L *
      math.sqrt(StreamIngest.ProbeCommitRatio * c2eff))
    assert(math.abs(sz.triggers - wantT) <= math.max(1, wantT / 10),
      s"$sz vs wantT=$wantT")
    // salted layout gets enough partition slots for the fan-out
    if (sz.saltFactor > 1)
      assert(sz.shufflePartitions ==
        math.min(maxP, math.max(
          ((sz.keys + StreamIngest.KeysPerStatePartition - 1) /
            StreamIngest.KeysPerStatePartition).toInt,
          2 * sz.saltFactor)), sz)
  }

  test("sessionize: gap-based sessions emit on event-time timeout") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamIngest.Event]
    val sessions = StreamIngest.sessionize(
      mem.toDS(), gapSecs = 600, watermarkDelay = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // one burst for u1 (3 events within the gap), one lone event for u2
    mem.addData(
      StreamIngest.Event("u1", Timestamp.valueOf("2024-03-01 10:00:00")),
      StreamIngest.Event("u1", Timestamp.valueOf("2024-03-01 10:05:00")),
      StreamIngest.Event("u1", Timestamp.valueOf("2024-03-01 10:09:00")),
      StreamIngest.Event("u2", Timestamp.valueOf("2024-03-01 10:00:00")))
    q.processAllAvailable()
    // advance the watermark far past both sessions' end+gap
    mem.addData(
      StreamIngest.Event("u3", Timestamp.valueOf("2024-03-01 12:00:00")))
    q.processAllAvailable()
    mem.addData(
      StreamIngest.Event("u3", Timestamp.valueOf("2024-03-01 13:00:00")))
    q.processAllAvailable()
    val rows = spark.table("sess_out").orderBy("key").collect()
    q.stop()
    val u1 = rows.find(_.getString(0) == "u1").get
    assert(u1.getTimestamp(1) == Timestamp.valueOf("2024-03-01 10:00:00"))
    assert(u1.getTimestamp(2) == Timestamp.valueOf("2024-03-01 10:09:00"))
    assert(u1.getLong(3) == 3 && u1.getDouble(4) == 540.0)
    val u2 = rows.find(_.getString(0) == "u2").get
    assert(u2.getLong(3) == 1 && u2.getDouble(4) == 0.0)
  }

  test("incremental dedup sink: digest index spans micro-batches, " +
    "within-batch repeats keep the min id") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_inc_dedup").toString
    val (idx, out, ckpt) = (s"$dir/idx", s"$dir/out", s"$dir/ckpt")
    val in = MemoryStream[(Long, String)]
    val q = StreamIngest.incrementalDedupSink(
      in.toDF().toDF("id", "text"), "id", "text", idx, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
    // batch 1: "a" repeats within the batch -> min id 1 survives
    in.addData(1L -> "a", 2L -> "a", 3L -> "b")
    q.processAllAvailable()
    // batch 2: "a" re-sent across batches -> dropped by the index;
    // "c" is new
    in.addData(4L -> "a", 5L -> "c")
    q.processAllAvailable()
    // batch 3: ALL duplicates -> zero fresh rows, no batch directory
    // (r20: the index append derives from the written batch dir, so
    // this batch must cleanly skip the append, not fail on a missing
    // path)
    in.addData(6L -> "a", 7L -> "c")
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(out)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L, 5L))
    // the index holds exactly the accepted digest set
    assert(spark.read.parquet(idx).distinct().count() == 3)
  }
}
