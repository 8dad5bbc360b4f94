package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.config.TableSpec
import graft.config.PartitionSpec
import graft.ingest.Ingest
import graft.lake.Lake

/** Structured Streaming surface (SURVEY §2B streaming row): the
  * reference's ingest is micro-batched JSONL file drops with a
  * `collection_state.json` high-water mark
  * (/root/reference/internal/plugin/plugin_manager.go:100-107,
  * collector.go:408-461) — exactly the shape of a Spark file-source
  * stream with checkpointed progress. `collectStream` is the streaming
  * twin of `Ingest.collectJsonl`: same conversion/enrichment/validation
  * per micro-batch (foreachBatch reuses the batch pipeline), exactly-
  * once progress from the checkpoint, `Trigger.AvailableNow` for
  * drain-and-stop parity with one-shot collection.
  *
  * Beyond parity, the streaming-native operators a log pipeline needs:
  * watermarked tumbling-window aggregation and event-time session
  * windows via `flatMapGroupsWithState` — both bounded-state designs
  * (late data beyond the watermark is dropped, state is evicted on
  * timeout), which is what survives an unbounded stream at 100 TB/day.
  */
object StreamIngest {

  /** Stream JSONL chunk files from `inboxDir` into the lake. The file
    * source lists new files per micro-batch (the inbox pattern); each
    * batch runs the SAME pipeline as batch collect — declared-schema
    * conversion, tp_ enrichment, required-column validation, partitioned
    * append. The checkpoint is the collection state: restarts resume
    * from the last committed batch. The append is guarded by a batch
    * COMMIT MARKER (`_stream_commits/<queryId>/<batchId>`, created
    * right after the append job commits, carrying the batch's touched
    * partition dirs): a crash replay finds the marker, skips the
    * re-append, and
    * still re-runs the idempotent rollup refresh from the recorded
    * dirs — so the crash boundary is exactly-once except for the
    * one-metadata-write window between job commit and marker creation,
    * where the contract degrades to at-least-once with
    * [[streamingDedup]]/at-rest dedup as the backstop (the same
    * division of labor as the batch inbox,
    * `Ingest.collectJsonl` deleteProcessed).
    *
    * @param schema explicit source schema (streaming readers require
    *               one; infer from the first chunk via
    *               `SchemaInference.inferJson` when unknown)
    * @param maxFilesPerTrigger micro-batch size cap — the reference's
    *               ≤2000-chunks-per-conversion batching knob
    *               (convertor.go:144-170)
    */
  def collectStream(
      spark: SparkSession,
      lake: Lake,
      spec: PartitionSpec,
      inboxDir: String,
      schema: StructType,
      checkpointDir: String,
      tableSpec: TableSpec = TableSpec(""),
      timestampColumn: String = "tp_timestamp",
      trigger: Trigger = Trigger.AvailableNow(),
      // 0 = AUTO (the default operating mode, like `index --nlist
      // auto`): derive files-per-trigger from an inbox sample via
      // [[autoCollectSizing]]; pass an explicit count to opt out
      maxFilesPerTrigger: Int = 0,
      // materialized rollups maintained per micro-batch: each batch's
      // append is followed by the same month-scoped refresh the batch
      // collect runs (graft.lake.Rollup.refreshTouched), so dashboards
      // read from-the-stream aggregates without a scheduled rebuild
      rollups: Seq[graft.config.RollupSpec] = Seq.empty,
      // test-only crash-point hook: invoked after append + marker,
      // before the rollup refresh (see routedCollectStream)
      faultInjector: Long => Unit = _ => (),
      // observer for the derived sizes (the CLI prints them in the
      // collect report); called only when auto-sizing actually ran
      onSizing: CollectSizing => Unit = _ => ()): StreamingQuery = {
    val mfpt =
      if (maxFilesPerTrigger > 0) maxFilesPerTrigger
      else autoCollectSizing(spark, inboxDir, schema, spec, tableSpec,
          timestampColumn)
        .map { sz => onSizing(sz); sz.maxFilesPerTrigger }
        .getOrElse(2000)
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", mfpt)
      .json(inboxDir)
    // markers are namespaced by the stream's persistent query id so a
    // rebuilt checkpoint (batchIds restart at 0) or a second stream on
    // the same table can never match another run's stale marker and
    // silently skip its append; evaluated lazily because Spark writes
    // the checkpoint metadata at .start(), before the first batch
    lazy val ns = queryNamespace(spark, checkpointDir)
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = new org.apache.hadoop.fs.Path(
          s"${lake.tableDir(spec.table)}/_stream_commits/$ns/$batchId")
        val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val touched: Seq[String] =
          if (fs.exists(marker)) {
            // crash replay of a committed batch: skip the re-append,
            // recover the touched dirs for the (idempotent) refresh
            val in = fs.open(marker)
            val txt = try scala.io.Source.fromInputStream(in, "UTF-8")
              .mkString finally in.close()
            txt.split("\n").toSeq.filter(_.nonEmpty)
          } else {
            val res = Ingest.collectBatch(spark, lake, spec, batch,
              tableSpec, timestampColumn)
            writeMarker(fs, marker, res.touchedDirs.mkString("\n"))
            res.touchedDirs
          }
        faultInjector(batchId)
        rollups.foreach(r => graft.lake.Rollup
          .refreshTouched(spark, lake, r, touched))
        ()
      }
      .start()
  }

  /** [[collectStream]] with a quality gate and a DEAD-LETTER path:
    * every micro-batch splits on the rule pack — rows passing ALL
    * rules run the normal collect pipeline; failing rows are written
    * to the table's quarantine directory with the names of the failed
    * rules recorded. Bad data in a live feed is a fact, not an
    * exception: dropping it silently destroys auditability, and
    * failing the stream on it stops ingestion — the router keeps both
    * properties (the dead-letter-queue pattern).
    *
    * BOTH sinks are IDEMPOTENT under micro-batch replay:
    *  - quarantine: each batch overwrites its own `batch_id=N`
    *    directory (the standard batch-id-scoped-overwrite pattern)
    *  - clean side: the collect is guarded by a batch COMMIT MARKER
    *    (`_stream_commits/<queryId>/<batchId>` under the table dir, written
    *    immediately after the append job commits). A crash replay
    *    finds the marker and skips the re-append instead of
    *    duplicating it. The parquet job commit is atomic (files land
    *    only on job commit), so the only remaining duplication window
    *    is a crash BETWEEN the append's job commit and the marker
    *    creation — one metadata write wide; within it the contract
    *    degrades to collectStream's documented at-least-once with the
    *    dedup backstop.
    *
    * A NULL rule verdict counts as a failure — unparseable rows are
    * exactly what quarantine is for.
    *
    * @param rules (name, pass-predicate) pairs; a row must pass all
    * @param faultInjector test-only crash-point hook, invoked after
    *        the clean commit + marker and before the quarantine write
    *        (the worst replay point); production callers leave the
    *        default no-op
    */
  def routedCollectStream(
      spark: SparkSession,
      lake: Lake,
      spec: PartitionSpec,
      inboxDir: String,
      schema: StructType,
      checkpointDir: String,
      rules: Seq[(String, Column)],
      tableSpec: TableSpec = TableSpec(""),
      timestampColumn: String = "tp_timestamp",
      trigger: Trigger = Trigger.AvailableNow(),
      // 0 = AUTO, like [[collectStream]]; explicit count opts out
      maxFilesPerTrigger: Int = 0,
      faultInjector: Long => Unit = _ => (),
      onSizing: CollectSizing => Unit = _ => ()): StreamingQuery = {
    require(rules.nonEmpty, "routedCollectStream: need at least one rule")
    val passAll = rules.map(r => coalesce(r._2, lit(false))).reduce(_ && _)
    val reasons = concat_ws(",", rules.map { case (n, c) =>
      when(!coalesce(c, lit(false)), lit(n))
    }: _*)
    val mfpt =
      if (maxFilesPerTrigger > 0) maxFilesPerTrigger
      else autoCollectSizing(spark, inboxDir, schema, spec, tableSpec,
          timestampColumn)
        .map { sz => onSizing(sz); sz.maxFilesPerTrigger }
        .getOrElse(2000)
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", mfpt)
      .json(inboxDir)
    lazy val ns = queryNamespace(spark, checkpointDir)
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one pass over the source batch feeds both sides
        val b = batch.persist()
        try {
          val marker = new org.apache.hadoop.fs.Path(
            s"${lake.tableDir(spec.table)}/_stream_commits/$ns/$batchId")
          val fs = marker.getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(marker)) {
            Ingest.collectBatch(spark, lake, spec, b.where(passAll),
              tableSpec, timestampColumn)
            writeMarker(fs, marker, "")
          }
          faultInjector(batchId)
          b.where(!passAll).withColumn("_reject_reason", reasons)
            .write.mode("overwrite")
            .parquet(s"${quarantineDir(lake, spec.table)}/batch_id=$batchId")
          ()
        } finally { b.unpersist(); () }
      }
      .start()
  }

  /** How many trailing commit markers to keep per table. Markers only
    * matter for replay of the LAST uncommitted batch (Structured
    * Streaming replays at most the batches after the checkpoint's
    * committed offset), so a trailing window is safe — without
    * pruning, a long-running stream accumulates one tiny file per
    * micro-batch forever.
    */
  private[streaming] val MarkerKeep = 100L

  /** The stream's PERSISTENT query id, read from the checkpoint's
    * `metadata` file (Spark writes `{"id":"<uuid>"}` there at query
    * start and reuses it across restarts of the same checkpoint).
    * This is the marker namespace: stable across crash/restart replay
    * of one stream, but fresh for a rebuilt checkpoint or a second
    * stream writing the same table — the two cases where a
    * batchId-only marker would alias another run's commit and
    * silently drop an append (the Delta `(appId, version)` txn
    * pattern). Falls back to the literal `default` only if the
    * metadata file is missing/unparseable, which restores the old
    * single-namespace behavior rather than failing the stream.
    */
  private[streaming] def queryNamespace(
      spark: SparkSession, checkpointDir: String): String = {
    val meta = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parsed = scala.util.Try {
      val in = fs.open(meta)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
    }.toOption.flatten
    parsed.getOrElse("default")
  }

  /** `_stream_commits/` trees whose legacy flat markers were already
    * swept in this JVM — the upgrade sweep is genuinely one-time per
    * query start, not per micro-batch (ADVICE r12: the per-batch
    * re-list was an extra LIST + potential DELETE per trigger for the
    * stream's lifetime on an object store).
    */
  private val sweptCommitRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Create `_stream_commits/<queryId>/<batchId>` with `content`,
    * then prune markers older than the trailing window. On the FIRST
    * marker write of a commit root in this JVM, also sweeps any
    * LEGACY flat markers (`_stream_commits/<batchId>`, written before
    * markers were queryId-namespaced): they are never consulted —
    * matching them against a possibly-rebuilt checkpoint is exactly
    * the aliasing hazard the namespacing closed, and a wrong match
    * silently DROPS a batch, which is strictly worse than the
    * one-batch duplicate append the sweep admits (at-least-once,
    * dedup backstop; ADVICE r11) — so without the sweep they leak
    * forever. One directory list per batch plus one extra at query
    * start — metadata-sized.
    */
  private[streaming] def writeMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path, content: String): Unit = {
    fs.mkdirs(marker.getParent)
    val out = fs.create(marker, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val cutoff = marker.getName.toLong - MarkerKeep
    if (cutoff > 0)
      fs.listStatus(marker.getParent).foreach { st =>
        val id = scala.util.Try(st.getPath.getName.toLong).toOption
        if (id.exists(_ < cutoff)) { fs.delete(st.getPath, false); () }
      }
    val commitRoot = marker.getParent.getParent
    if (sweptCommitRoots.add(commitRoot.toString))
      fs.listStatus(commitRoot).foreach { st =>
        if (st.isFile &&
            scala.util.Try(st.getPath.getName.toLong).isSuccess) {
          fs.delete(st.getPath, false); ()
        }
      }
  }

  /** Quarantine directory of a table — under the lake root's
    * underscore-prefixed `_quarantine` tree, invisible to table scans
    * and `listTables`.
    */
  def quarantineDir(lake: Lake, table: String): String =
    s"${lake.root}/_quarantine/$table"

  /** The quarantined rows of a table, with their `batch_id` partition
    * and `_reject_reason` — what an operator replays after fixing the
    * feed (fix upstream → re-drop into the inbox → vacuum quarantine).
    */
  def readQuarantine(
      spark: SparkSession, lake: Lake, table: String): DataFrame =
    spark.read.option("basePath", quarantineDir(lake, table))
      .parquet(quarantineDir(lake, table))

  /** Watermarked tumbling-window counts/sums per key — the canonical
    * streaming aggregation. State is bounded: windows older than the
    * watermark are finalized and evicted; late rows beyond it are
    * dropped (the at-rest compaction path is the reference's answer to
    * very-late data; SURVEY §2B streaming row).
    */
  def windowedAgg(
      events: DataFrame, tsCol: String, keyCol: String, valueCol: String,
      windowDuration: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col(keyCol), col("n"), col("sum_value"))

  /** Hopping (sliding) windows — [[windowedAgg]] with a slide shorter
    * than the window, so each event contributes to window/slide
    * overlapping windows (the streaming twin of the batch q38 query).
    * Same bounded-state contract: watermark-expired windows finalize
    * and evict.
    */
  def hoppingAgg(
      events: DataFrame, tsCol: String, keyCol: String, valueCol: String,
      windowDuration: String, slideDuration: String,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration, slideDuration),
        col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))
      .select(col("window.start").as("w_start"),
        col("window.end").as("w_end"),
        col(keyCol), col("n"), col("sum_value"))

  /** Watermarked stream-stream interval join — correlate two live
    * streams by key within a bounded event-time window (each left row
    * pairs with right rows of the same key whose timestamp lies in
    * `[leftTs − before, leftTs + after]`). The log-pipeline staple:
    * requests to their responses, auth events to the activity they
    * authorize, alerts to nearby errors.
    *
    * Bounded state is the entire design: BOTH sides carry watermarks
    * and the join condition carries the event-time range, which is
    * exactly what Spark's symmetric hash join needs to prove an old
    * buffered row can never match again and evict it — each side's
    * state holds only `watermark + range` worth of rows at any moment,
    * independent of stream history (the only shape that survives an
    * unbounded stream; without the range bound Spark would buffer one
    * side forever). Late rows beyond the watermark fall to the at-rest
    * join, the same late-data division every operator here uses.
    *
    * Column names must be disjoint across the two sides (the caller
    * aliases; enforced here so the failure is immediate, not a
    * mid-stream analysis error).
    *
    * Operating rule, measured (PERF.md round-12 stream family): the
    * join state is keyed but NOT time-indexed — every arriving row
    * retrieves ALL same-key state rows (the full trigger span +
    * watermark horizon) and filters the range predicate row by row,
    * so probe work per trigger is rows_per_trigger ×
    * state_rows_per_key, quadratic in per-key trigger span. The
    * trigger interval therefore has a floor (per-trigger state-store
    * commit cost, ~1 s × stores × partitions here) AND a ceiling
    * (the quadratic probe: 8 vs 32 triggers over the same 10M events
    * measured 138.8 vs 53.4 s) — size it with arrival rate so
    * per-key rows per trigger stay near the join window's occupancy,
    * and keep `leftDelay`/`rightDelay` as tight as late data allows:
    * watermark slack is state the probe re-scans every trigger, not
    * just memory. Measured boundary on that last rule (r14
    * stream_skew_salted_wm15): slack only matters once it RIVALS the
    * per-trigger event-time span — on a bounded replay whose triggers
    * each cover days, 1 h → 15 min slack moved the 10× wall just
    * 320.6 → 300.2 s (exponent 1.14 → 1.12), because the current
    * trigger's own span is the occupancy floor the probe pays either
    * way. The lever belongs to LIVE streams with minute-scale
    * triggers, where slack is the dominant term of (span + slack).
    * The occupancy floor itself is fixable: [[bucketedIntervalJoin]]
    * time-buckets the state key so a probe touches one window-width
    * of state regardless of span or slack — measured exponent
    * 1.64 → 0.12 end-to-end and 136× the plain wall at 10× (PERF.md
    * r14) — which is why, as of round 15, it IS the default:
    * [[intervalJoin]] routes here only when the window has no fixed
    * physical width (calendar units) or is zero-width (exact
    * timestamp equality — a degenerate single bucket). Callers who
    * measured their triggers to sit INSIDE one window-width (where
    * the ×3 left replica buys nothing) opt back in here explicitly.
    */
  def plainIntervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      before: String, after: String,
      leftDelay: String, rightDelay: String): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"intervalJoin: column names must be disjoint, both sides have: " +
        overlap.mkString(", "))
    val l = left.withWatermark(leftTs, leftDelay)
    val r = right.withWatermark(rightTs, rightDelay)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $before") &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $after"))
  }

  /** Fixed physical width of an interval literal in microseconds;
    * None for calendar units (months have no fixed width) — the
    * routing test [[intervalJoin]] and the bucket-width derivation
    * in [[bucketedIntervalJoin]] share.
    */
  private def fixedWindowMicros(d: String): Option[Long] = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(d))
    if (iv.months != 0) None
    else Some(iv.days * 86400000000L + iv.microseconds)
  }

  /** The stream-stream interval join, routed to the best-measured
    * plan: [[bucketedIntervalJoin]] whenever the window has a fixed
    * physical width (the r14 measurement — exponent 1.64 → 0.12,
    * 136× at 10× — made bucketing the operating default, r15 verdict
    * task 1), falling back to [[plainIntervalJoin]] for
    * calendar-unit windows (no fixed bucket width exists) and
    * zero-width windows (one degenerate bucket — the plain plan is
    * the same probe without the ×3 replica tax). The two split the
    * semantics/mechanics documentation: [[plainIntervalJoin]] owns
    * the join contract and the quadratic-probe operating rule,
    * [[bucketedIntervalJoin]] owns the state-key bucketing argument.
    * Output is row-identical across all three entry points — qi22
    * (this default), qi24 (salted) and qi27 (bucketed+salted) all
    * pin the same DuckDB range-join oracle.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      before: String, after: String,
      leftDelay: String, rightDelay: String,
      bucketWidth: Option[String] = None): DataFrame = {
    val fixed = for {
      b <- fixedWindowMicros(before)
      a <- fixedWindowMicros(after)
    } yield math.max(b, a)
    fixed match {
      case Some(w) if w > 0 =>
        // `bucketWidth` is the autoState-derived occupancy answer
        // (StreamSizing.bucketWidth) or a caller override; None keeps
        // the measured-safe default W = max(before, after)
        bucketedIntervalJoin(left, right, leftKey, rightKey,
          leftTs, rightTs, before, after, leftDelay, rightDelay,
          bucketWidth = bucketWidth)
      case _ =>
        plainIntervalJoin(left, right, leftKey, rightKey,
          leftTs, rightTs, before, after, leftDelay, rightDelay)
    }
  }

  /** [[intervalJoin]] with the hot-key salt applied INSIDE the
    * stream — the skew lever for the one regime where Spark's own
    * remedy cannot reach. AQE's skew split only rewrites sort-merge
    * shuffle partitions of BATCH plans; a stateful stream-stream join
    * freezes its hash partitioning into the state layout at the first
    * checkpoint, so a key carrying half the stream serializes half
    * the probe work into one state partition's task forever (measured
    * in the skewjoin + stream_skew rehearsal families, PERF.md).
    *
    * Mechanics — the streaming twin of `operators.SkewJoin.salted`:
    * each left row gets a deterministic salt in `[0, factor)` hashed
    * from ALL its columns; each right row is exploded into `factor`
    * copies, one per salt; salt equality joins the equi-condition, so
    * the state key becomes `(key, salt)` and the hot key's state and
    * probe work spread over `factor` partitions. Every (left, right)
    * match survives exactly once — a left row owns ONE salt and meets
    * the single right copy carrying it — so output is row-identical
    * to the unsalted join (qi24 pins this against the qi22 DuckDB
    * oracle). Cost: right-side state ×factor, the right trade when
    * the right stream is the smaller side (responses, errors, alerts).
    *
    * The salt hashes columns, not a row id: `monotonically_increasing
    * _id` is attempt-nondeterministic, and a map-retry that re-salts
    * rows after a partial shuffle fetch could land a row in TWO state
    * partitions (duplicate matches) — batch SkewJoin tolerates that,
    * checkpointed exactly-once state cannot. The price is that
    * fully-identical left duplicates share a salt; event streams
    * carry timestamps, so full-row duplicates are the degenerate
    * case, and they stay CORRECT — just unspread.
    *
    * `factor` comes from [[autoState]]'s `saltFactor` (derived from
    * the sampled hottest-key share); `factor == 1` degrades to the
    * [[plainIntervalJoin]] plan — NOT the bucketed default, so this
    * entry point stays the salt-only measurement variant
    * (ScaleRehearsal's stream_skew family compares it against plain
    * and bucketed over identical inboxes). Production callers should
    * use [[intervalJoin]] (bucketed) or [[bucketedIntervalJoin]]
    * with a factor, which composes both levers.
    */
  def saltedIntervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      before: String, after: String,
      leftDelay: String, rightDelay: String,
      factor: Int): DataFrame = {
    require(factor >= 1, s"salt factor must be >= 1, got $factor")
    if (factor == 1)
      plainIntervalJoin(left, right, leftKey, rightKey, leftTs, rightTs,
        before, after, leftDelay, rightDelay)
    else {
      val overlap = left.columns.toSet.intersect(right.columns.toSet)
      require(overlap.isEmpty,
        s"saltedIntervalJoin: column names must be disjoint, both " +
          s"sides have: ${overlap.mkString(", ")}")
      val l = left
        .withColumn("__salt_l",
          pmod(xxhash64(left.columns.toIndexedSeq.map(col): _*),
            lit(factor.toLong)).cast("int"))
        .withWatermark(leftTs, leftDelay)
      val r = right
        .withColumn("__salt_r",
          explode(array((0 until factor).map(i => lit(i)): _*)))
        .withWatermark(rightTs, rightDelay)
      l.join(r,
        col(leftKey) === col(rightKey) &&
          col("__salt_l") === col("__salt_r") &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $before") &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $after"))
        .drop("__salt_l", "__salt_r")
    }
  }

  /** [[intervalJoin]] with the state key TIME-BUCKETED — the lever
    * for the probe cost the salt cannot touch. Spark's symmetric-hash
    * join state is keyed but not time-indexed: every arriving row
    * retrieves ALL same-key state and filters the range predicate row
    * by row, so probe work scales with whatever the watermark + the
    * trigger's own event-time span keep live — the r14
    * stream_skew_salted_wm15 measurement showed tightening the
    * watermark barely moves it because the TRIGGER SPAN is the
    * occupancy floor. Bucketing fixes the probe itself.
    *
    * Mechanics: both sides derive an integer bucket
    * `floor(event_micros / W)` with `W = max(before, after)`; the
    * range `|t_r − t_l| ≤ W` confines any match to buckets
    * `{b_l−1, b_l, b_l+1}`, so each LEFT row is exploded into three
    * replicas targeting those buckets and bucket equality joins the
    * key. The state key becomes `(key, bucket)` — a probe now
    * iterates only rows within one window-width of the probing row,
    * regardless of how many days of state the watermark or a coarse
    * trigger keeps live. Every (left, right) match survives exactly
    * once (the single left replica whose target equals the right
    * row's bucket), so output is row-identical to [[intervalJoin]] —
    * qi27 pins this against the same DuckDB range-join oracle as
    * qi22/qi24. Cost: left-side state ×3; the exact range predicate
    * still rides the join condition, so watermark state eviction is
    * unchanged.
    *
    * `factor > 1` composes the [[saltedIntervalJoin]] hot-key salt on
    * top (state key `(key, salt, bucket)`) — buckets bound the probe
    * per key, the salt spreads a hot key's buckets across partitions;
    * the two levers are orthogonal and qi27 exercises both.
    *
    * Calendar-unit windows (months) are rejected: bucket width must
    * be a fixed physical duration.
    *
    * `bucketWidth` overrides the default `W = max(before, after)`:
    * narrower buckets shrink the per-probe state slice but raise the
    * left replica count to `2·ceil(window/W) + 1` (every bucket a
    * match could land in must hold a replica); wider buckets keep 3
    * replicas but a probe iterates more state. Measured on the
    * stream_skew fixture (PERF.md r15 widths family, 1×/10×): the
    * REPLICA price is the steeper one — W/2 lost at both scales
    * (16.2 vs 12.2 s at 10×, +17% state, +18% shuffle) — and 2W WON
    * at 10× (8.3 vs 12.2 s, same state rows), because at this
    * fixture's occupancy (avg ≪ 1 row per (key, salt, bucket)) the
    * per-state-key bookkeeping, not the probe span, is the dominant
    * term; halving the key count beat halving the probe slice.
    * Operating rule: never go below W; widen toward
    * `W ≈ span·keys·expansion/N` (avg ≥ ~1 row per state key) when
    * the inbox sample shows sparse occupancy, until probe span
    * (which grows linearly with W once buckets are dense) pushes
    * back. The default stays `max(before, after)` — correct at every
    * occupancy and within 1.5× of the best measured width.
    */
  def bucketedIntervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      before: String, after: String,
      leftDelay: String, rightDelay: String,
      factor: Int = 1, bucketWidth: Option[String] = None): DataFrame = {
    require(factor >= 1, s"salt factor must be >= 1, got $factor")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"bucketedIntervalJoin: column names must be disjoint, both " +
        s"sides have: ${overlap.mkString(", ")}")
    def micros(d: String): Long = fixedWindowMicros(d).getOrElse {
      throw new IllegalArgumentException(
        s"bucketedIntervalJoin: calendar-unit window '$d' has no fixed " +
          "physical width; use days or smaller")
    }
    val span = math.max(micros(before), micros(after))
    require(span > 0,
      s"window must be positive, got before=$before after=$after")
    val w = bucketWidth.map(micros).getOrElse(span)
    require(w > 0, s"bucket width must be positive, got $bucketWidth")
    // a match can sit up to `span` away from the probing row, so its
    // bucket is within ceil(span/w) of the row's — every one of those
    // buckets needs a left replica or edge matches drop
    val rad = math.max(1L, (span + w - 1) / w).toInt
    // exact floor division in long math (micros - pmod keeps negatives
    // correct; a double division would be within mantissa range today
    // but one refactor away from a silent rounding bug)
    def bucketOf(ts: String): Column = {
      val us = unix_micros(col(ts).cast("timestamp"))
      ((us - pmod(us, lit(w))) / lit(w)).cast("long")
    }
    val l0 = left
      .withColumn("__bkt_l",
        explode(array((-rad to rad).map(i => bucketOf(leftTs) + i): _*)))
    val l1 = if (factor == 1) l0
      else l0.withColumn("__salt_l",
        pmod(xxhash64(left.columns.toIndexedSeq.map(col): _*),
          lit(factor.toLong)).cast("int"))
    val r0 = right.withColumn("__bkt_r", bucketOf(rightTs))
    val r1 = if (factor == 1) r0
      else r0.withColumn("__salt_r",
        explode(array((0 until factor).map(i => lit(i)): _*)))
    val l = l1.withWatermark(leftTs, leftDelay)
    val r = r1.withWatermark(rightTs, rightDelay)
    val equi = col(leftKey) === col(rightKey) &&
      col("__bkt_l") === col("__bkt_r") &&
      (if (factor == 1) lit(true)
       else col("__salt_l") === col("__salt_r"))
    l.join(r, equi &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $before") &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $after"))
      .drop("__bkt_l", "__bkt_r", "__salt_l", "__salt_r")
  }

  /** Spark's disk-backed state store implementation — shipped with
    * Spark itself (`rocksdbjni` is on every executor's classpath).
    */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"

  /** Run `body` (which should START one or more stateful streaming
    * queries) with the RocksDB state store provider — the 100 TB
    * answer to streaming state that outgrows executor heap.
    *
    * The default HDFSBackedStateStoreProvider keeps EVERY loaded
    * state-store version in executor heap (the store map plus up to
    * `minVersionsToRetain` snapshots); a symmetric-hash join whose
    * watermark admits hours of events, or a sessionize over hundreds
    * of millions of live keys, eventually evicts the executor, and no
    * shuffle-partition count fixes it — partitions divide the state,
    * the sum still has to fit on the heap. RocksDB moves the working
    * set to native memory + local SSD, bounding heap at the block
    * cache, and with changelog checkpointing (enabled here) uploads
    * per-batch DELTAS to the checkpoint location instead of
    * re-snapshotting whole SST files — the commit cost that matters
    * at a 1 000-executor fan-in. Trade, measured in the
    * `stream_state` rehearsal (PERF.md): single-digit-% wall overhead
    * at local scale for heap-independence.
    *
    * Provider choice is captured per-query AT START and pinned into
    * the checkpoint — a query must keep the provider it started with
    * (Spark refuses a mismatched restart), which is why this wraps
    * the `.start()` call site rather than mutating the session
    * globally: the session conf is restored on exit, already-running
    * queries are unaffected, and the scope documents exactly which
    * queries opted in.
    */
  def withRocksDBState[T](spark: SparkSession)(body: => T): T =
    withRocksDBState(spark, Map.empty[String, String])(body)

  /** As above, plus caller-scoped RocksDB tuning confs (e.g.
    * `…rocksdb.writeBufferSizeMB` — the rehearsal's forced-flush
    * variant drives the memtable→SST spill path with it, since local
    * state volumes never cross the 64 MB default organically). Every
    * key is saved/restored around `body` like the provider conf.
    */
  def withRocksDBState[T](
      spark: SparkSession, extraConf: Map[String, String])(body: => T): T = {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val logKey = "spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled"
    val confs = Map(provKey -> RocksDBProvider, logKey -> "true") ++
      extraConf
    val prevs = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prevs.foreach { case (k, p) =>
      p.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Keys per state-store shuffle partition — the qi22 rule as a
    * constant: the 1.5k-user interval join measured best at 8
    * partitions (9.0 → 4.4 s), i.e. ~200 keys per partition. Each
    * stream-stream-join partition carries 4 state stores, each paying
    * a commit per micro-batch, so partitions beyond what key
    * parallelism can use are pure per-trigger overhead.
    */
  val KeysPerStatePartition = 200L

  /** Per-row-pair probe cost over per-trigger commit cost, fitted
    * from the round-12 stream rehearsal (PERF.md "streaming
    * bounded-state rehearsal"): commit ≈ 0.9 s/trigger, probe ≈
    * 1.9e-8 s per (arriving row × same-key state row). Only the RATIO
    * enters the trigger-count optimum, and both terms scale with the
    * same hardware (CPU + local I/O), so the constant transfers
    * across rigs to the order of magnitude — which is all the
    * optimum needs: wall is within ~20% of minimum anywhere inside
    * 2× of T* (the a·T + c/T curve is flat around its minimum).
    */
  val ProbeCommitRatio = 2e-8

  /** Derived sizing for a stateful streaming query over a sampled
    * inbox. `triggers` is the target number of micro-batches for a
    * bounded replay (AvailableNow); a live stream uses the same
    * number as `spanSecs / triggers` → trigger interval.
    */
  final case class StreamSizing(
      shufflePartitions: Int, triggers: Int,
      rows: Long, keys: Long, spanSecs: Long,
      saltFactor: Int = 1, keyMass2: Double = 0.0,
      backend: String = "heap", stateRows: Long = 0L,
      bucketWidth: Option[String] = None) {
    /** File-source translation: files per trigger that yields the
      * target trigger count on an inbox of `inboxFiles` files (per
      * side, for a two-sided join whose sides are sliced alike).
      */
    def maxFilesPerTrigger(inboxFiles: Int): Int =
      math.max(1, inboxFiles / math.max(1, triggers))
  }

  /** Auto-size the state layout and trigger granularity of a stateful
    * stream — the round-12 measured sizing rules as an operating mode
    * (the `--nlist auto` of streaming):
    *
    *  - shuffle partitions = ceil(keys / [[KeysPerStatePartition]]),
    *    capped at default parallelism. The count is frozen into the
    *    state layout at the first checkpoint, so this must be set
    *    BEFORE `start()`.
    *  - trigger count T from the measured two-regime cost model.
    *    Per-trigger commit cost is a constant `a`; the symmetric-hash
    *    probe retrieves ALL same-key state per arriving row (state is
    *    keyed, not time-indexed), so probe cost totals
    *    `b · N · N/(K·T)` when the per-trigger batch span dominates
    *    the horizon. Minimizing `a·T + b·N²/(K·T)` gives
    *    `T* = N · sqrt((b/a)/K)` — the event-time window span drops
    *    out of the optimum and returns only as a CAP: once the
    *    per-trigger batch span is inside `horizonSecs` (join window +
    *    watermark slack), finer triggers cannot shrink per-key state
    *    further (its floor is the horizon occupancy) and only add
    *    commits, so T ≤ spanSecs/horizonSecs.
    *
    * Against the r12 measurements (1k keys): T*(1M rows) ≈ 4 —
    * matches coarse-8 beating fine-32 (9.6 vs 30.9 s); T*(10M) ≈ 45 —
    * matches fine-32 beating coarse-8 (53.4 vs 138.8 s). The
    * rehearsal's `stream_ijoin_auto` family holds this to the
    * measured optimum at both scales (no crossover cliff).
    *
    *  - skew: the sampled key distribution's second moment `c2`
    *    replaces the uniform 1/K in the trigger optimum (`T* =
    *    N·sqrt((b/a)·c2)`, identical for uniform keys), and a
    *    hottest-key share that out-fills its fair machine share by
    *    ≥ [[MinSaltFactor]] derives a `saltFactor` for
    *    [[saltedIntervalJoin]] — stateful plans are the one place
    *    AQE's skew split can never rescue a hot key (PERF.md
    *    "skew-join regimes").
    *
    * Scope: the trigger-count optimum models SYMMETRIC-HASH JOIN
    * state, whose probe rescans all same-key state per arriving row.
    * Keyed-ACCUMULATOR state (sessionize, windowed aggs) has no
    * quadratic probe regime — there, only the partition rule applies
    * and fewer, larger triggers are strictly cheaper until a single
    * trigger's input stops fitting in memory.
    *
    * `sample` is a batch read of the inbox or — the at-scale path — a
    * file subset from [[inboxSample]], with `rowScale` extrapolating
    * the sampled row count to the full inbox (byte ratio). Keys and
    * span come straight from the sample: key cardinality saturates
    * within a few files, and [[inboxSample]] includes the first and
    * last files by modification time so the span ends are covered.
    */
  /** State-row multiplier of a [[bucketedIntervalJoin]] drain over
    * its inbox rows: left rows store ×3 (the bucket replicas), right
    * rows ×saltFactor — an even left/right split gives
    * `(3 + saltFactor) / 2`. The stream_skew fixture measured 5.5×
    * at its derived saltFactor 8: exactly (3+8)/2 — the formula IS
    * the measurement, not a fit. Computing it from the derived salt
    * (r14 advice) keeps a hot-skew inbox whose autoState derives a
    * large factor from silently overrunning the per-partition heap
    * budget the sizing promises, and stops unsalted bucketed plans
    * (expansion 2) from over-paying triggers against the old fixed 6.
    */
  def bucketedStateExpansion(saltFactor: Int): Double =
    (3.0 + saltFactor) / 2.0

  /** Expansion of a NON-bucketed (plain/salted) join's state over its
    * inbox rows: left ×1, right ×saltFactor, even split.
    */
  def plainStateExpansion(saltFactor: Int): Double =
    (1.0 + saltFactor) / 2.0

  /** Per-state-partition row budget for [[autoState]]'s bucketed
    * trigger sizing — the HDFS-backed provider keeps live state on
    * executor heap, so per-trigger state must fit it; 1M rows ≈
    * 150–300 MB/partition leaves headroom on a 1–4 GB executor (the
    * RocksDB provider relaxes this — see [[withRocksDBState]]).
    */
  val BucketedStateRowsPerPartition = 1000000L

  def autoState(
      sample: DataFrame, keyCol: String, tsCol: String,
      horizonSecs: Long, rowScale: Double = 1.0): StreamSizing =
    autoState(sample, keyCol, tsCol, horizonSecs, rowScale,
      bucketed = false)

  /** As above; `bucketed = true` sizes for a [[bucketedIntervalJoin]]
    * plan, whose probe is LINEAR per row (one window-width of state,
    * by construction) — the quadratic `a·T + b·N²·c2/T` optimum
    * degenerates to "the fewest commits whose per-trigger state
    * fits": `T = ceil(N · expansion / (budget · partitions))`.
    * Measured (stream_skew_bucketed_coarse): one trigger at 10× runs
    * 3.5× faster than the quadratic-optimal twelve (11.1 vs 38.3 s),
    * exponent 0.38 — commits were the only remaining term.
    */
  def autoState(
      sample: DataFrame, keyCol: String, tsCol: String,
      horizonSecs: Long, rowScale: Double,
      bucketed: Boolean): StreamSizing =
    autoState(sample, keyCol, tsCol, horizonSecs, rowScale, bucketed,
      BucketedStateRowsPerPartition)

  /** As above with the per-partition heap state budget explicit —
    * executor heaps differ across deployments (the 1M-row default
    * models 1–4 GB executors; a 100 TB rig with fat rows or small
    * containers budgets less), and the budget is what decides both
    * the heap-fitting trigger count and the heap→RocksDB backend
    * flip.
    */
  def autoState(
      sample: DataFrame, keyCol: String, tsCol: String,
      horizonSecs: Long, rowScale: Double,
      bucketed: Boolean, heapRowsPerPartition: Long): StreamSizing =
    autoState(sample, keyCol, tsCol, horizonSecs, rowScale, bucketed,
      heapRowsPerPartition, windowSecs = 0L)

  /** As above, plus the JOIN WINDOW width (`max(before, after)` in
    * seconds) so the sizing can derive the bucket width too: with
    * `bucketed = true` and a positive `windowSecs`, the returned
    * sizing carries [[suggestedBucketWidth]]'s occupancy-rule answer
    * in `bucketWidth` — `Some("2W seconds")` when the sampled
    * occupancy at the default width is under [[BucketOccupancyFloor]]
    * (the measured 27% sparse-fixture win), `None` (use the default)
    * otherwise. `windowSecs = 0` (unknown) never widens. This
    * completes the derivation set: partitions, triggers, salt,
    * backend, and now width all come from the same inbox sample
    * (r16 verdict task 3).
    */
  def autoState(
      sample: DataFrame, keyCol: String, tsCol: String,
      horizonSecs: Long, rowScale: Double,
      bucketed: Boolean, heapRowsPerPartition: Long,
      windowSecs: Long): StreamSizing =
    weightedState(sample, count(lit(1)), keyCol, tsCol, horizonSecs,
      rowScale, bucketed, heapRowsPerPartition, windowSecs)

  /** [[autoState]] with each sample row counting `rowCount`'s share:
    * `count(lit(1))` counts rows, `sum(w)` weights each row by its own
    * extrapolation factor (see [[sampledJoinSizing]]).
    */
  private def weightedState(
      sample: DataFrame, rowCount: Column, keyCol: String, tsCol: String,
      horizonSecs: Long, rowScale: Double,
      bucketed: Boolean, heapRowsPerPartition: Long,
      windowSecs: Long): StreamSizing = {
    val spark = sample.sparkSession
    // ONE bounded two-level aggregate over the sample yields every
    // derivation input (r20, guide §1.2 "remove passes" — this ran as
    // TWO separate jobs through r19, i.e. two full parses of the
    // sizing sample): per-key counts + per-key ts ranges in the inner
    // groupBy (map-side combined), then row count N, EXACT key count K
    // (count of non-null group keys — strictly more accurate than the
    // approx_count_distinct the second pass used; spec asserts carry
    // ±5% slack either way), the hottest key's count, the second
    // moment Σn_k², and the event-time span, all from the group rows.
    // c2 = Σ(n_k/N)² is the key distribution's SECOND MOMENT; shares
    // are scale-free, so neither it nor topShare needs rowScale. c2
    // generalizes the uniform-key trigger formula: the symmetric-hash
    // probe totals b·Σ_k n_k²/T = b·N²·c2/T per the r12 cost model,
    // and uniform keys give c2 = 1/K exactly — while a skewed stream
    // concentrates c2 in its hot keys and needs coarser triggers.
    val d = sample.where(col(tsCol).isNotNull)
      .groupBy(col(keyCol)).agg(rowCount.as("c"),
        min(col(tsCol)).as("mn"), max(col(tsCol)).as("mx"))
      .agg(sum(col("c")).as("n"),
        count(col(keyCol)).as("k"),
        max(col("c")).as("top"),
        sum(col("c").cast("double") * col("c")).as("m2"),
        ((unix_micros(max(col("mx")).cast("timestamp")) -
          unix_micros(min(col("mn")).cast("timestamp"))) / 1000000L)
          .cast("long").as("span")).head()
    // counts are longs, weighted counts doubles
    def num(i: Int): Double = d.getAs[Number](i).doubleValue
    val nSample = if (d.isNullAt(0)) 0.0 else num(0)
    val n = math.round(nSample * math.max(1.0, rowScale))
    val k = math.max(1L, if (d.isNullAt(1)) 1L else d.getLong(1))
    val span = if (d.isNullAt(4)) 0L else d.getLong(4)
    val topShare = if (nSample <= 0.0) 0.0 else num(2) / nSample
    val c2 = if (nSample <= 0.0) 1.0 / k
      else d.getDouble(3) / (nSample * nSample)
    val maxP = math.max(1, spark.sparkContext.defaultParallelism)
    // salt when the hottest key alone would out-fill its fair share
    // of the machine by ≥ MinSaltFactor; spread it over ~topShare·maxP
    // sub-keys so its state partition carries an average load again
    val rawF = math.ceil(topShare * maxP).toLong
    val saltF = if (rawF >= MinSaltFactor)
      math.min(maxP.toLong, rawF).toInt else 1
    // salting splits the hot key's probe mass f ways:
    // (topShare/f)²·f = topShare²/f
    val c2eff = if (saltF > 1)
      c2 - topShare * topShare + topShare * topShare / saltF else c2
    val partsUnsalted = math.min(maxP.toLong,
      (k + KeysPerStatePartition - 1) / KeysPerStatePartition)
    // a salted hot key only reaches f DISTINCT partitions if the
    // layout has comfortably more than f slots for its sub-keys
    val parts = if (saltF > 1)
      math.min(maxP.toLong, math.max(partsUnsalted, 2L * saltF)).toInt
    else partsUnsalted.toInt
    val expansion = if (bucketed) bucketedStateExpansion(saltF)
      else plainStateExpansion(saltF)
    val heapBudget = heapRowsPerPartition * math.max(1, parts)
    // the state floor NO trigger granularity can shrink: rows inside
    // the watermark horizon stay live until the watermark passes them,
    // so a horizon that admits more state than the heap budget means
    // the heap provider WILL be evicted at scale regardless of sizing
    // — flip to RocksDB (disk-backed, heap bounded at the block
    // cache; measured single-digit-% wall premium, stream_state
    // rehearsal) instead of recommending a layout that OOMs at 100×.
    val horizonRows = if (horizonSecs <= 0 || span <= 0) 0L
      else math.round(n * math.min(1.0, horizonSecs.toDouble / span)
        * expansion)
    val backend = if (horizonRows > heapBudget) "rocksdb" else "heap"
    val triggers =
      if (bucketed) {
        if (backend == "rocksdb") 1 // heap fit no longer constrains:
          // with a linear probe, commits are the only remaining term
          // and fewest commits = one trigger (measured 3.5× over the
          // quadratic sizing, stream_skew_bucketed_coarse)
        else
          // linear probe → fewest commits whose per-trigger state fits
          // the heap-resident layout; the horizon cap is irrelevant
          // (buckets already bound what a probe touches)
          math.max(1L, math.ceil(n * expansion /
            heapBudget.toDouble).toLong).toInt
      } else {
        // quadratic probe: T* stands regardless of backend — RocksDB
        // relaxes memory, not the per-row probe work
        val tStar = math.round(n * math.sqrt(ProbeCommitRatio * c2eff))
        val tCap = if (horizonSecs <= 0) Long.MaxValue
          else math.max(1L, span / horizonSecs)
        math.max(1L, math.min(tStar, tCap)).toInt
      }
    val stateRows = math.max(horizonRows,
      math.round(n * expansion / math.max(1, triggers)))
    val sz = StreamSizing(math.max(1, parts), triggers, n, k, span,
      saltFactor = saltF, keyMass2 = c2,
      backend = backend, stateRows = stateRows)
    if (bucketed && windowSecs > 0)
      sz.copy(bucketWidth = suggestedBucketWidth(sz, windowSecs))
    else sz
  }

  /** Smallest salt fan-out worth its replication cost: below this the
    * hot key fits ~MinSaltFactor partitions' fair share and AQE-less
    * stateful plans still keep every core busy with other keys.
    */
  val MinSaltFactor = 4

  /** Occupancy (rows per (key, salt, bucket) state slot at the
    * default width) below which [[suggestedBucketWidth]] widens — the
    * measured flat-optimum boundary: the sparse fixture (0.006 rows)
    * ran 27% faster widened, the dense one (5.8 rows) strictly worse.
    */
  val BucketOccupancyFloor = 1.0

  /** Measured bucket-width suggestion for [[bucketedIntervalJoin]]
    * (PERF.md r15 widths + widths_dense families). The cost curve in
    * the width is `a·occupancy + b/occupancy` (probe span vs per-key
    * store bookkeeping) with a FLAT optimum near ~1 row per
    * (key, salt, bucket): the sparse fixture (occupancy 0.006 at the
    * default W) ran 27% faster at 2W and stayed flat through 8W
    * (9.72/10.27 vs 13.39 s at 10×); the dense fixture (occupancy
    * 5.8) ran best AT the default and strictly worse widened (+9% at
    * 2W, +40% at 4W). So: ONE validated bit of widening — 2W when
    * the sampled occupancy at the default width is under
    * [[BucketOccupancyFloor]], the default otherwise, and NEVER
    * narrower (W/2 lost at every occupancy measured — the replica
    * tax). None = use the default; the return slots straight into
    * `bucketedIntervalJoin(..., bucketWidth = ...)`. Occupancy comes
    * from the same [[autoState]] sample the rest of the sizing uses
    * (rows/2 ≈ the stored side of an evenly split two-sided sample).
    */
  def suggestedBucketWidth(
      sz: StreamSizing, windowSecs: Long): Option[String] = {
    require(windowSecs > 0, s"window must be positive: $windowSecs")
    val slots = math.max(1L, sz.keys) *
      math.max(1, sz.saltFactor) *
      math.max(1L, sz.spanSecs / windowSecs)
    val occ = (sz.rows / 2.0) / slots
    if (occ < BucketOccupancyFloor)
      Some(s"${2 * windowSecs} seconds")
    else None
  }

  /** Cheap sizing sample over a file inbox: parse only `sampleFiles`
    * files — the first and last by modification time (the span ends;
    * inbox mtime order is arrival order, which tracks event time in a
    * live feed) plus evenly-spaced middles (rate and key coverage) —
    * and return the byte ratio for [[autoState]]'s `rowScale`. At a
    * 100 TB/day inbox the full-parse alternative IS a day's scan; the
    * r13 stream rehearsal measured it as 15% of the whole 10M-event
    * drain before this sampler existed.
    *
    * Returns (sample, sampledBytes, totalBytes); combine sides of a
    * join by unioning the mapped samples and blending the byte
    * ratios.
    */
  /** Derived sizing for a STATELESS collect stream (no state store —
    * the foreachBatch append is the whole sink). The lever here is
    * trigger GRANULARITY alone: with no symmetric-hash probe, fewer,
    * larger triggers are strictly cheaper (each trigger pays a
    * checkpoint commit + append + marker + manifest write) until a
    * single trigger's input stops fitting, so the files-per-trigger
    * budget is one full-size scan partition per core
    * (`maxPartitionBytes × defaultParallelism`). rows/keys/span come
    * from the same [[inboxSample]]+[[autoState]] pass the stateful
    * sizes use and surface in the CLI collect report.
    */
  final case class CollectSizing(
      maxFilesPerTrigger: Int, files: Int, totalBytes: Long,
      rows: Long, keys: Long, spanSecs: Long,
      backend: String = "heap")

  /** Size a collect stream from a bounded inbox sample. `None` when
    * the inbox has no data files yet (a live stream watching an empty
    * dir) — callers fall back to a fixed files-per-trigger. The
    * timestamp column is resolved through `tableSpec`'s `source =`
    * rename, so the raw inbox schema is what gets sampled.
    */
  def autoCollectSizing(
      spark: SparkSession, inboxDir: String,
      schema: org.apache.spark.sql.types.StructType,
      spec: PartitionSpec, tableSpec: TableSpec,
      timestampColumn: String): Option[CollectSizing] = {
    val p = new org.apache.hadoop.fs.Path(inboxDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val files = fs.listStatus(p).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    if (files.isEmpty) return None
    val rawTs = tableSpec.column(timestampColumn)
      .flatMap(_.source).getOrElse(timestampColumn)
    if (!schema.fieldNames.contains(rawTs)) return None
    val (sample, sBytes, tBytes) = inboxSample(spark, inboxDir, schema)
    val keyCol = spec.tpIndexColumn
      .filter(schema.fieldNames.contains).getOrElse(rawTs)
    val sz = autoState(sample, keyCol, rawTs, horizonSecs = 0L,
      rowScale = tBytes.toDouble / math.max(1L, sBytes))
    val budget =
      math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes) *
        math.max(1, spark.sparkContext.defaultParallelism)
    val avgFile = math.max(1L, tBytes / files.size)
    val mfpt = math.max(1L, math.min(Int.MaxValue.toLong,
      budget / avgFile)).toInt
    Some(CollectSizing(mfpt, files.size, tBytes,
      sz.rows, sz.keys, sz.spanSecs, backend = sz.backend))
  }

  def inboxSample(
      spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      sampleFiles: Int = 4): (DataFrame, Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(_.getModificationTime)
    require(files.nonEmpty, s"inboxSample: no data files under $dir")
    val k = math.min(math.max(2, sampleFiles), files.size)
    val picks =
      if (files.size <= k) files
      else (0 until k).map(i =>
        files(((files.size - 1).toLong * i / (k - 1)).toInt)).distinct
    val sampledBytes = picks.map(_.getLen).sum
    val totalBytes = files.map(_.getLen).sum
    val sample = spark.read.schema(schema)
      .json(picks.map(_.getPath.toString): _*)
    (sample, sampledBytes, totalBytes)
  }

  /** Two-sided interval-join sizing from INBOX SAMPLES (r20, r19
    * verdict task 1): sample each side via [[inboxSample]] (first/last
    * by mtime + evenly spaced middles), project both to `(k, t)` with
    * `mapSide`, weight each side's rows by that side's own byte ratio,
    * and derive the state layout with [[autoState]]'s weighted form.
    * One ratio blended over both inboxes would extrapolate a side of
    * thin rows by the other side's ratio: with a fully-sampled inbox
    * of thin rows beside a partly-sampled one of fat rows, the blend
    * counts the thin rows several times over. Through r19 the qi22/24/27
    * sizing pass parsed BOTH full inboxes before the stream started —
    * at a 100 TB/day feed that sizing pass IS a day's scan (the r13
    * rehearsal measured the analogous full parse at 15% of a 10M-event
    * drain). On an inbox small enough that the sample covers every
    * file, the derivation is IDENTICAL to the full-parse one by
    * construction (sample = whole inbox, every weight 1) —
    * StreamIngestSpec pins that equivalence, which is what lets the
    * bench queries use the at-scale path without an oracle risk:
    * sizing outputs only shape state layout, never rows.
    */
  def sampledJoinSizing(
      spark: SparkSession,
      leftDir: String, leftSchema: StructType,
      rightDir: String, rightSchema: StructType,
      mapSide: DataFrame => DataFrame,
      horizonSecs: Long, bucketed: Boolean = false,
      sampleFiles: Int = 4): StreamSizing = {
    def side(dir: String, schema: StructType): DataFrame = {
      val (sample, sampled, total) =
        inboxSample(spark, dir, schema, sampleFiles)
      mapSide(sample).withColumn("w",
        lit(math.max(1.0, total.toDouble / math.max(1L, sampled))))
    }
    weightedState(side(leftDir, leftSchema)
        .unionByName(side(rightDir, rightSchema)), sum(col("w")),
      "k", "t", horizonSecs, rowScale = 1.0, bucketed = bucketed,
      heapRowsPerPartition = BucketedStateRowsPerPartition, windowSecs = 0L)
  }

  /** Streaming exact dedup with bounded state: drops rows whose key was
    * already seen within the watermark horizon
    * (`dropDuplicatesWithinWatermark`) — the streaming twin of
    * `Dedup.exact`. State is evicted as the watermark advances, so
    * memory is bounded by the duplicate-arrival window, not the stream
    * history — the only shape that survives an unbounded 100 TB/day
    * stream. Exactly-once within the horizon; re-sends later than the
    * watermark delay are the at-rest compaction/dedup job's problem
    * (same division as the reference's late-data handling).
    */
  def streamingDedup(
      events: DataFrame, tsCol: String, keyCols: Seq[String],
      watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** One micro-batch of the incremental-dedup ingest: probe the
    * persisted digest index, collapse within-batch repeats to the
    * min-id row (Dedup.exact semantics), land survivors under a
    * batch-id partition, then index their digests. Public so batch
    * callers (and the spec) can drive it without a streaming query.
    *
    * Crash-safety is ordering + idempotence, not transactions:
    * survivors are written FIRST with dynamic partition overwrite on
    * `__batch_id` (a replay rewrites the same directory, never
    * duplicates it), digests are appended LAST (set semantics — a
    * replayed append is harmless). A crash between the two replays
    * the batch: the anti-join result is deterministic, so the rewrite
    * is byte-equivalent and the index append completes the pair.
    */
  def incrementalDedupBatch(
      batch: DataFrame, batchId: Long, idCol: String, textCol: String,
      indexPath: String, outPath: String): Unit = {
    val spark = batch.sparkSession
    val cols = batch.columns
    val fresh = graft.operators.Dedup
      .filterAgainstIndex(batch, textCol, indexPath)
      .groupBy(md5(col(textCol)).as("__digest"))
      .agg(min_by(struct(cols.toIndexedSeq.map(col): _*), col(idCol))
        .as("__row"))
      .select(col("__row.*"))
    fresh.withColumn("__batch_id", lit(batchId))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id")
      .parquet(outPath)
    // the index append derives from the JUST-WRITTEN batch directory
    // rather than a localCheckpoint of the anti-join result (r20,
    // guide §1.2/§5): the r19 shape pinned every micro-batch in the
    // block cache (one materialization job) so the data write and the
    // index append saw one row set; reading the committed batch back
    // gives the identical row set (the write is the single evaluation)
    // without the extra job or the executor-storage copy — and the
    // index can now never record a digest whose row is not durably in
    // the output (the crash contract strictly tightens: ordering +
    // idempotence as before, but derived from what is actually on
    // disk).
    val bdir = new org.apache.hadoop.fs.Path(
      s"$outPath/__batch_id=$batchId")
    val bfs = bdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an all-duplicate batch wrote no directory: nothing to index
    if (bfs.exists(bdir))
      graft.operators.Dedup.appendToDigestIndex(
        spark.read.parquet(bdir.toString), textCol, indexPath)
  }

  /** Streaming incremental dedup against the PERSISTED digest index —
    * the streaming twin of `dedup --mode incremental` (qt44), for the
    * history [[streamingDedup]] cannot hold: watermark state bounds
    * dedup to a time horizon, while the digest index is the unbounded
    * "everything ever accepted" set, living as bloom-filtered parquet
    * on disk instead of in stream state. Each micro-batch pays one
    * index probe (anti-join; AQE broadcasts the batch side) — the
    * index grows with accepted rows only, 32 bytes per digest.
    */
  def incrementalDedupSink(
      stream: DataFrame, idCol: String, textCol: String,
      indexPath: String, outPath: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        incrementalDedupBatch(
          batch, batchId, idCol, textCol, indexPath, outPath)
      }
      .start()

  /** Emitted near-duplicate candidate: `doc_id` collided with the
    * bucket's canonical `dup_of` document on fingerprint `fp`.
    */
  final case class DupCandidate(doc_id: Long, dup_of: Long, fp: Long)
  /** Per-fingerprint first-seen state. */
  final case class FpSeen(doc_id: Long, tsMs: Long)

  /** Streaming NEAR-duplicate candidate detection — the streaming twin
    * of the at-rest sketch-dedup family. Each arriving document is
    * winnowed row-locally by the codegen'd fingerprint expression
    * ([[graft.functions.Fingerprints]], the same sketch qt06 gates),
    * its fingerprints are keyed into `flatMapGroupsWithState` buckets,
    * and a document colliding with a bucket's first-seen canonical doc
    * emits a candidate pair — across micro-batches, within the state
    * horizon.
    *
    * Bounded state, the only shape that survives an unbounded stream:
    * one (doc_id, ts) per LIVE fingerprint bucket, evicted by
    * event-time timeout `horizonSecs` past the canonical document's
    * event time (re-sends later than the horizon re-seed the bucket
    * instead of matching — the at-rest dedup job owns anything older,
    * same division of labor as [[streamingDedup]]).
    *
    * Output is a CANDIDATE stream (a pair per shared fingerprint, so a
    * heavily-overlapping pair repeats): downstream distinct +
    * exact-verify is the batch verifier's job, identical to the
    * sketch-then-verify contract of the batch pipeline.
    */
  def streamingNearDup(
      docs: DataFrame, watermarkDelay: String, horizonSecs: Long,
      k: Int = 8, w: Int = 16): Dataset[DupCandidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val postings = docs
      .withWatermark("ts", watermarkDelay)
      .select(col("doc_id").cast("long"), col("ts"),
        explode(graft.functions.Fingerprints.winnowSetCol(
          spark, col("text"), k, w)).as("fp"))
      .as[(Long, Timestamp, Long)]
    postings
      .groupByKey(_._3)
      .flatMapGroupsWithState[FpSeen, DupCandidate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (fp: Long, rows: Iterator[(Long, Timestamp, Long)],
         state: GroupState[FpSeen]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val horizonMs = horizonSecs * 1000
            // the timeout callback only fires for buckets with NO data
            // in a batch, so a bucket that keeps colliding is never
            // evicted that way — enforce the horizon here too: a
            // canonical older than (watermark − horizon) is expired,
            // must not match (the documented re-seed contract), and
            // must not be fed back to setTimeoutTimestamp, which
            // REJECTS timestamps at or below the watermark and would
            // kill the whole query
            val wm = state.getCurrentWatermarkMs()
            // deterministic within-batch order: event time, then id
            val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._1))
            var seen = state.getOption.filter(_.tsMs + horizonMs > wm)
            val out = Seq.newBuilder[DupCandidate]
            sorted.foreach { case (doc, ts, _) =>
              seen match {
                case Some(s) if s.doc_id != doc =>
                  out += DupCandidate(doc, s.doc_id, fp)
                case None => seen = Some(FpSeen(doc, ts.getTime))
                case _ => ()
              }
            }
            seen.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(
                math.max(s.tsMs + horizonMs, wm + 1))
            }
            out.result().iterator
          }
      }
  }

  /** One input event for sessionization. */
  final case class Event(key: String, ts: Timestamp)
  /** Accumulated session state. */
  final case class SessionState(start: Long, end: Long, n: Long)
  /** A completed session (emitted when the gap timeout fires). */
  final case class Session(
      key: String, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, duration_secs: Double)

  /** Event-time session windows with a fixed inactivity gap, as
    * `flatMapGroupsWithState` (the custom-state streaming operator the
    * builder brief calls for). A session closes when the watermark
    * passes its last event + gap; state for the key is then evicted —
    * bounded by the number of ACTIVE keys, not history.
    */
  def sessionize(
      events: Dataset[Event], gapSecs: Long,
      watermarkDelay: String): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapSecs * 1000
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, rows: Iterator[Event],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(key,
              new Timestamp(s.start), new Timestamp(s.end), s.n,
              (s.end - s.start) / 1000.0))
          } else {
            val times = rows.map(_.ts.getTime).toSeq.sorted
            val closed = Seq.newBuilder[Session]
            var cur = state.getOption
            times.foreach { t =>
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = math.max(s.end, t), n = s.n + 1))
                case Some(s) => // gap exceeded within the batch
                  closed += Session(key, new Timestamp(s.start),
                    new Timestamp(s.end), s.n, (s.end - s.start) / 1000.0)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.result().iterator
          }
      }
  }
}
