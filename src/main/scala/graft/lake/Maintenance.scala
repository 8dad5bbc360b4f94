package graft.lake

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Lake maintenance: partition delete, compaction (ordered rewrite +
  * small-file merge), and retention (SURVEY §2A rows 16-19, 23;
  * reference cleanup.go, compact.go, partition_key.go).
  *
  * Both mutating jobs are built on Spark's DYNAMIC partition overwrite:
  * one pruned read + one write that atomically replaces exactly the
  * partition directories present in the written data. That is the
  * whole-job equivalent of the reference's per-range
  * insert+delete-in-transaction dance (compact.go:339-416) — Spark's
  * commit protocol supplies the atomicity, and the job count stays
  * constant no matter how many of the table's partitions are touched
  * (no driver-side per-directory loop — the 100 TB requirement).
  */
object Maintenance {

  /** Planning observability for the rehearsal: how many manifest rows
    * the last [[compact]] call planned to rewrite (the rows of the
    * directories that need work) vs the table's live-file total — the
    * r16 task-7 bound (zero at the compaction fixed point).
    */
  final case class PlanProbe(manifestRows: Long, collectedRows: Long)
  @volatile var lastCompactPlan: PlanProbe = PlanProbe(0L, 0L)

  /** `tailpipe partition delete`-style DML (cleanup.go:14-51): remove
    * rows of `partition` within `[from, to]` (either bound optional —
    * both absent deletes the whole partition). Returns deleted-row
    * count.
    */
  def deletePartitionRange(
      spark: SparkSession, lake: Lake, table: String, partition: String,
      from: Option[Timestamp] = None,
      to: Option[Timestamp] = None,
      toInclusive: Boolean = true): Long = lake.locked(table) {
    replayPendingRemovals(spark, lake, table)
    val cond = Seq(
      from.map(f => col(TpSchema.Timestamp) >= lit(f)),
      to.map(t => if (toInclusive) col(TpSchema.Timestamp) <= lit(t)
        else col(TpSchema.Timestamp) < lit(t)))
      .flatten.reduceOption(_ && _).getOrElse(lit(true))
    // month bounds prune partition dirs before file listing
    val monthPrune = Seq(
      from.map(f => (col(TpSchema.Year) > year(lit(f))) ||
        (col(TpSchema.Year) === year(lit(f)) &&
          col(TpSchema.Month) >= month(lit(f)))),
      to.map(t => (col(TpSchema.Year) < year(lit(t))) ||
        (col(TpSchema.Year) === year(lit(t)) &&
          col(TpSchema.Month) <= month(lit(t)))))
      .flatten.reduceOption(_ && _).getOrElse(lit(true))
    val scope = col(TpSchema.Partition) === lit(partition) && monthPrune

    // one aggregate over the pruned scope: per-dir (hit, kept) counts
    val perDir = lake.read(spark, table).where(scope)
      .groupBy(TpSchema.partitionCols.map(col): _*)
      .agg(sum(when(cond, 1L).otherwise(0L)).as("hit"),
        sum(when(cond, 0L).otherwise(1L)).as("kept"))
      .where(col("hit") > 0)
      .collect()
    if (perDir.isEmpty) return 0L
    val deleted = perDir.map(_.getAs[Long]("hit")).sum

    val keep = scopeToDirs(
      lake.read(spark, table).where(scope && !cond),
      perDir.toIndexedSeq.map(r => lake.partitionValues(relDirOf(r))))
    lake.overwritePartitions(spark, table, keep,
      touched = Some(perDir.toIndexedSeq.map(relDirOf)))
    // dirs whose every row matched have nothing written → remove them
    removeDirsJournaled(spark, lake, table,
      perDir.filter(_.getAs[Long]("kept") == 0L).toIndexedSeq.map(relDirOf))
    deleted
  }

  /** Compaction (compact.go:80-89, 264-434): merge small files and
    * rewrite time-ordered where per-file time ranges overlap. Planning
    * runs on the driver over the live manifest rows (metadata-sized,
    * no Spark job — the reference's sweep, partition_key.go:96-170);
    * the rewrite is ONE pruned read + ONE dynamic-overwrite write
    * covering every partition dir that needs work, whatever their
    * number (a shuffle and a write: two jobs per regime), and the
    * mutation's manifest and colstats append adds one stats aggregate
    * over the new files (two jobs, see `Lake.appendColStats`). Returns
    * (filesBefore, filesAfter).
    */
  def compact(
      spark: SparkSession, lake: Lake, table: String,
      targetFileRows: Long = 5000000): (Long, Long) = lake.locked(table) {
    replayPendingRemovals(spark, lake, table)
    // planning AND the before/after accounting are manifest-served —
    // no full-tree walk anywhere in this method (on local FS the
    // manifest read still reconciles against the ~free NIO walk; on
    // object stores it trusts tombstones — fileStats scaladoc). The
    // only listings below are SCOPED to the rewritten dirs.
    //
    // Planning runs on the driver over the live manifest rows, which
    // it holds anyway: no Spark job. A dir needs work when its file
    // count differs from what the target size implies (too many small
    // files OR too-large files) or its file time-ranges overlap.
    // "length > 1" alone would rewrite every large multi-file dir on
    // every run — compaction must reach a fixed point, or post-collect
    // auto-compaction rewrites the whole table after each ingest batch.
    val live = lake.liveManifest(spark, table)
    val before = live.size.toLong
    val work = live.map(r => FileRange(r.file, r.rows, r.minTs, r.maxTs))
      .groupBy(f => dirOf(lake, table, f.file))
      .filter { case (_, fs) =>
        val rows = fs.map(_.rows).sum
        val ideal = math.max(1, math.ceil(rows.toDouble / targetFileRows).toInt)
        fs.length != ideal || hasOverlap(fs)
      }
    lastCompactPlan = PlanProbe(before, work.values.map(_.length).sum.toLong)
    if (work.isEmpty) return (before, before)

    // Two rewrite regimes, split by per-dir volume (partition_stress
    // finding: ceil(totalRows/target) slices is 1 for a many-dir
    // small-file table, serializing a 10k-dir rewrite into ONE task;
    // but blindly adding range slices splits dirs at range boundaries
    // and breaks compaction's fixed point):
    //  - SMALL dirs (≤ targetFileRows rows): hash-repartition on the
    //    partition columns — every dir lands whole in one task, so the
    //    output is exactly one file per dir, the write parallelizes
    //    across min(dirs, cores), and a second compact is a no-op.
    //  - BIG dirs: range partition on (physical key, time) and sort
    //    within, so each output file covers one dir and a disjoint
    //    time slice at the target size — the original shape.
    val sortKey = TpSchema.partitionCols.map(col) :+ col(TpSchema.Timestamp)
    val (bigWork, smallWork) = work.partition { case (_, fs) =>
      fs.map(_.rows).sum > targetFileRows
    }
    if (smallWork.nonEmpty) {
      val slices = math.max(1, math.min(smallWork.size,
        spark.sparkContext.defaultParallelism))
      val df = scopeToDirs(lake.read(spark, table),
          smallWork.keys.toSeq.map(lake.partitionValues))
        .repartition(slices, TpSchema.partitionCols.map(col): _*)
        .sortWithinPartitions(sortKey: _*)
      lake.overwritePartitions(spark, table, df,
        touched = Some(smallWork.keys.toSeq))
    }
    if (bigWork.nonEmpty) {
      val rows = bigWork.values.flatten.map(_.rows).sum
      val nOut = math.max(1, math.ceil(rows.toDouble / targetFileRows).toInt)
      val df = scopeToDirs(lake.read(spark, table),
          bigWork.keys.toSeq.map(lake.partitionValues))
        .repartitionByRange(nOut, sortKey: _*)
        .sortWithinPartitions(sortKey: _*)
      lake.overwritePartitions(spark, table, df,
        touched = Some(bigWork.keys.toSeq))
    }
    val rewritten = lake
      .dataFilesUnder(spark, table, work.keys.toSeq).size.toLong
    (before, before - work.values.map(_.length).sum + rewritten)
  }

  /** Grain-aligned compaction — `compact --align day|hour|minute`
    * (r18 verdict task 2; reference analog: its year/month physical
    * partition keys, ducklake_table.go:36-44 — files never straddle
    * months there). Time-ordered [[compact]] orders but does not CUT
    * at bucket boundaries, so a compacted file can straddle midnight
    * forever, capping the GROUP-BY-time-bucket hybrid's serve rate.
    * This mode rewrites directories so every output file with a time
    * range sits inside ONE `grainUs` bucket and each (dir, bucket)
    * holds exactly one file — after it, a daily report's straddler
    * scan set is EMPTY (null-ts rows land in their own per-dir file,
    * which bucket queries correctly route to the in-plan scan).
    *
    * Scale shape: planning is manifest-served (per-file min/max bucket
    * ids; the driver collects only the candidate DIR names); the
    * rewrite is one column-pruned slice-enumeration pass plus one
    * read + exact-partitioned shuffle + dynamic-overwrite write over
    * exactly the work dirs. The slice→task mapping goes through an RDD
    * `HashPartitioner` over DENSE Int slice ids (identity partitioner
    * for ints) because no DataFrame repartition guarantees one group
    * per task — a hash collision would merge two buckets of one dir
    * into one output file and re-straddle it; range partitioning
    * samples and can split mid-bucket the other way. The row
    * round-trip through the RDD is the cost of exactness and is paid
    * only on the rewritten dirs.
    *
    * Fixed point: one file per (dir, bucket) and no straddlers → the
    * next run collects zero candidates and is a no-op.
    *
    * @return (filesBefore, filesAfter)
    */
  /** @param anchorUs bucket-grid offset: buckets are
    *   `[anchor + k·grain, anchor + (k+1)·grain)` — 0 for day/hour/
    *   minute, −3 days for Monday-anchored weeks (epoch day 0 is a
    *   Thursday)
    */
  def compactAligned(
      spark: SparkSession, lake: Lake, table: String,
      grainUs: Long = 86400000000L,
      anchorUs: Long = 0L): (Long, Long) = lake.locked(table) {
    require(grainUs > 0, "compactAligned: grain must be positive")
    replayPendingRemovals(spark, lake, table)
    val live = lake.liveManifest(spark, table)
    val before = live.size.toLong
    val st = lake.fileStatsOf(spark, live)
    val dirCol = regexp_replace(col("file"), "/[^/]*$", "")
    // bucket ids of each file's manifest range: floor division, exact
    // in double (micros stay under 2^53 through year ~2255 and every
    // supported grain's quotient boundary sits > half-ulp away); an
    // all-null-ts file has null ids and counts as its own bucket
    def bucketOf(c: String) =
      floor((unix_micros(col(c)) - lit(anchorUs)) /
        lit(grainUs.toDouble)).cast("long")
    // NOTE: a file can never MIX null and non-null ts rows here — the
    // enrich path derives tp_year/tp_month from tp_timestamp, so null
    // rows route to the null-partition dirs at write time. Ranged
    // files are therefore null-free, and the rewrite's manifest
    // append records that as a fact (`ts_nulls = 0` from the output
    // footers), which is the null-free proof the metadata rule's
    // band and bucket containment reads.
    val perFile = st.withColumn("dir", dirCol)
      .withColumn("b1", bucketOf("min_ts"))
      .withColumn("b2", bucketOf("max_ts"))
    val work: Array[String] = perFile.groupBy("dir")
      .agg(
        max(when(not(col("b1") <=> col("b2")), 1).otherwise(0))
          .as("strad"),
        count(lit(1)).as("nf"),
        (count_distinct(col("b1")) +
          max(when(col("b1").isNull, 1L).otherwise(0L))).as("nb"))
      .where(col("strad") === 1 || col("nf") > col("nb"))
      .select("dir").collect().map(_.getString(0))
    if (work.isEmpty) return (before, before)
    val relDirs = work.map(d => lake.relOf(table, d)).toSeq
    val beforeInWork = lake.dataFilesUnder(spark, table, relDirs).size.toLong
    val dirVals = relDirs.map(lake.partitionValues)
    val base = scopeToDirs(lake.read(spark, table), dirVals)
    val rowBucket = when(col(TpSchema.Timestamp).isNull,
      lit(Long.MinValue)) // the per-dir null-ts slice
      .otherwise(floor((unix_micros(col(TpSchema.Timestamp)) -
        lit(anchorUs)) / lit(grainUs.toDouble)).cast("long"))
    val withBucket = base.withColumn("_graft_align_b", rowBucket)
    // live (dir, bucket) slices: a column-pruned, map-side-combined
    // pre-pass whose output is slice-count-sized
    val keyCols = TpSchema.partitionCols :+ "_graft_align_b"
    val keyed = withBucket.select(keyCols.map(col): _*).distinct()
    val slices = keyed.collect()
    val g = slices.length
    if (g == 0) return (before, before)
    require(g <= 262144, s"compactAligned: $g (dir, bucket) slices — " +
      "run with a coarser grain or scope the table first")
    val mapSchema = org.apache.spark.sql.types.StructType(
      keyed.schema.fields :+ org.apache.spark.sql.types.StructField(
        "_graft_slice", org.apache.spark.sql.types.IntegerType,
        nullable = false))
    val mapDf = spark.createDataFrame(
      java.util.Arrays.asList(slices.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ i)
      }: _*), mapSchema)
    // null-safe equi-join back (a partition value may be null); every
    // row matches exactly one slice by construction
    val joinCond = keyCols.map(k => withBucket(k) <=> mapDf(k))
      .reduce(_ && _)
    val joined = withBucket.join(broadcast(mapDf), joinCond)
      .select(withBucket.columns.map(c => withBucket(c)) :+
        mapDf("_graft_slice"): _*)
    val schema = joined.schema
    val sliceIdx = schema.fieldIndex("_graft_slice")
    val exactRdd = joined.rdd
      .map(r => (r.getInt(sliceIdx), r))
      .partitionBy(new org.apache.spark.HashPartitioner(g))
      .map(_._2)
    val out = spark.createDataFrame(exactRdd, schema)
      .sortWithinPartitions(col(TpSchema.Timestamp))
      .drop("_graft_align_b", "_graft_slice")
    lake.overwritePartitions(spark, table, out, touched = Some(relDirs))
    val rewritten = lake.dataFilesUnder(spark, table, relDirs).size.toLong
    (before, before - beforeInWork + rewritten)
  }

  /** `compact --reindex` (cmd/compact.go:34; compact.go:350-354): set
    * `tp_index` to the value of each partition's CURRENTLY-configured
    * index column — the migration path when a `partition` block's
    * `tp_index` setting changed after data was collected. The reference
    * re-inserts every row of the partition key selecting
    * `<TpIndexColumn> as tp_index` (compact.go:352); here `tp_index` is
    * a physical partition directory column, so reindexing MOVES rows
    * between dirs and the rewrite is a dynamic partition overwrite.
    *
    * Scale shape: one map-side-combined aggregate finds the partitions
    * whose stored index diverges from the configured column — an
    * already-consistent table pays a scan, never a rewrite. Diverged
    * partitions are rewritten WHOLE (the reference reorders ALL data
    * for a reindexed key, compact.go:117), range-partitioned and
    * sorted like [[compact]] so the output is simultaneously
    * reindexed, time-ordered, and size-targeted in ONE job. Old dirs
    * whose index value vanished are removed after the overwrite
    * commits (dynamic overwrite only replaces dirs it writes into).
    *
    * @param specs current partition configs (any table; filtered here)
    * @return rows whose tp_index changed (0 = nothing to do)
    */
  def reindex(
      spark: SparkSession, lake: Lake, table: String,
      specs: Seq[graft.config.PartitionSpec],
      targetFileRows: Long = 5000000): Long = lake.locked(table) {
    import org.apache.spark.sql.types.StringType
    val tSpecs = specs.filter(_.table == table)
    if (tSpecs.isEmpty || !lake.tableExists(spark, table)) return 0L
    replayPendingRemovals(spark, lake, table)
    val data = lake.read(spark, table)
    val cols = data.columns.toSet
    tSpecs.foreach(s => s.tpIndexColumn.foreach { c =>
      require(cols.contains(c), s"reindex ${s.id}: configured tp_index " +
        s"column '$c' is not in the stored schema of '$table'")
    })
    // stored index normalized to string: partition-column type
    // inference reads an all-numeric tp_index dir set back as INT, and
    // an un-cast comparison would coerce the NEW string index to
    // bigint and throw on the first non-numeric value
    val storedIdx = col(TpSchema.Index).cast(StringType)
    // per-row recomputed index: CASE over the partition name, falling
    // back to the stored value for partitions with no current config
    val newIdx = tSpecs.foldLeft(storedIdx) { (acc, s) =>
      val e = s.tpIndexColumn match {
        case Some(c) => coalesce(col(c).cast(StringType), lit("default"))
        case None    => lit("default")
      }
      when(col(TpSchema.Partition) === lit(s.name), e).otherwise(acc)
    }
    val divergence = data
      .groupBy(col(TpSchema.Partition))
      .agg(sum(when(newIdx <=> storedIdx, 0L).otherwise(1L))
        .as("moved"))
      .where(col("moved") > 0)
      .collect()
    if (divergence.isEmpty) return 0L
    val changed = divergence.map(_.getString(0)).toSet
    val moved = divergence.map(_.getAs[Long]("moved")).sum

    val scope = col(TpSchema.Partition).isin(changed.toSeq: _*)
    // old + new dir inventory in one pass over the scoped data: old =
    // distinct stored dir tuples, new = the same with the recomputed
    // index. Driver-side result is dir-count-sized, not data-sized.
    val dirRows = data.where(scope)
      .groupBy(col(TpSchema.Partition), col(TpSchema.Index),
        newIdx.as("__new_index"), col(TpSchema.Year), col(TpSchema.Month))
      .count().collect()
    def rel(p: Any, i: Any, y: Any, m: Any): String = {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      def seg(c: String, v: Any) =
        if (v == null) s"$c=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
        else s"$c=${ExternalCatalogUtils.escapePathName(v.toString)}"
      Seq(seg(TpSchema.Partition, p), seg(TpSchema.Index, i),
        seg(TpSchema.Year, y), seg(TpSchema.Month, m)).mkString("/")
    }
    val oldDirs = dirRows.map(r => rel(r.get(0), r.get(1),
      r.get(3), r.get(4))).toSet
    val newDirs = dirRows.map(r => rel(r.get(0), r.get(2),
      r.get(3), r.get(4))).toSet

    val rows = dirRows.map(_.getAs[Long]("count")).sum
    val nOut = math.max(1, math.ceil(rows.toDouble / targetFileRows).toInt)
    val sortKey = TpSchema.partitionCols.map(col) :+ col(TpSchema.Timestamp)
    val out = data.where(scope).withColumn(TpSchema.Index, newIdx)
      .repartitionByRange(nOut, sortKey: _*)
      .sortWithinPartitions(sortKey: _*)
    lake.overwritePartitions(spark, table, out,
      touched = Some((oldDirs ++ newDirs).toSeq))
    removeDirsJournaled(spark, lake, table, (oldDirs -- newDirs).toSeq)
    moved
  }

  /** Per-file time range for compaction planning. */
  final case class FileRange(file: String, rows: Long,
      minTs: Option[Timestamp], maxTs: Option[Timestamp])

  /** Sweep-line overlap detection over file ranges
    * (partition_key.go:96-170): sort by min, overlap iff a file starts
    * before the previous max.
    */
  def hasOverlap(files: Seq[FileRange]): Boolean = {
    val ranged = files.flatMap(f =>
      for (a <- f.minTs; b <- f.maxTs) yield (a, b)).sortBy(_._1.getTime)
    ranged.sliding(2).exists {
      case Seq((_, prevMax), (curMin, _)) => curMin.getTime < prevMax.getTime
      case _ => false
    }
  }

  /** Z-order compaction: rewrite the table clustered on the bit-
    * interleaved rank of `zCols`, so per-file min/max ranges stay
    * narrow on EVERY z-column and parquet row-group/file skipping
    * works for predicates on any of them — time-ordered compaction
    * ([[compact]]) only serves `tp_timestamp` predicates. The Delta
    * `OPTIMIZE ZORDER BY` capability, built from Spark primitives.
    *
    * Mechanics: each z-column is binned into `2^bitsPerCol` rank
    * buckets by approximate quantiles (a driver-side boundary array —
    * sampled, metadata-sized, never the data), bins are bit-
    * interleaved into one z-value expression (pure codegen'd integer
    * math), and the rewrite range-partitions + sorts on
    * (partition key, z-value) in ONE dynamic-overwrite job.
    *
    * Quantile binning (not min/max linear scaling) keeps the curve
    * balanced under skew: each bin holds ~equal row count no matter
    * the value distribution. Default 6 bits/column = 63 boundary
    * comparisons per column — small enough that the whole z-value
    * stays inside one whole-stage-codegen'd projection.
    *
    * ALL boundary estimation comes from ONE bounded deterministic
    * sample over just the z-columns (~128 sampled rows per target
    * bin — the density Spark's own RangePartitioner uses for ORDER
    * BY), sorted driver-side with every stride-th value becoming a
    * boundary; strings bin by lexicographic rank (binary collation),
    * numerics by double rank, through the same codegen'd when-chain.
    * r13 instead ran a full `approxQuantile(ε=0.001)` pass for the
    * numeric columns plus the sample pass for strings, and the
    * rehearsal priced the z-build at 3.7× a plain time-order rewrite —
    * mostly those summaries. Sampled boundaries are coarser (bin mass
    * ±a few percent), but that only blurs bin EDGES: output file
    * sizes are balanced downstream by `repartitionByRange`'s own
    * sampling of the z-value, so boundary precision buys nothing
    * beyond marginal skipping resolution.
    */
  def compactZorder(
      spark: SparkSession, lake: Lake, table: String,
      zCols: Seq[String], bitsPerCol: Int = 6,
      targetFileRows: Long = 5000000): (Long, Long) = lake.locked(table) {
    require(zCols.nonEmpty, "compactZorder requires at least one column")
    require(bitsPerCol >= 1 && bitsPerCol * zCols.length <= 62,
      s"bitsPerCol=$bitsPerCol × ${zCols.length} cols must fit a long")
    replayPendingRemovals(spark, lake, table)
    val before = lake.dataFiles(spark, table).size.toLong
    if (before == 0) return (0L, 0L)
    val data = lake.read(spark, table)
    zCols.foreach { c =>
      val dt = data.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        dt == org.apache.spark.sql.types.TimestampType ||
        dt == org.apache.spark.sql.types.DateType ||
        dt == org.apache.spark.sql.types.BooleanType ||
        dt == org.apache.spark.sql.types.StringType,
        s"z-order column '$c' has unsupported type $dt " +
          "(numeric/timestamp/date/boolean/string only)")
    }
    val nBins = 1 << bitsPerCol
    // manifest row count; a missing/lagging manifest (sum = null)
    // falls back to counting the data — never an NPE
    val rows = Option(lake.fileStats(spark, table)
        .agg(sum("rows")).collect()(0).get(0))
      .map(_.asInstanceOf[Long]).getOrElse(data.count())
    val isStr = zCols.map(c =>
      c -> (data.schema(c).dataType ==
        org.apache.spark.sql.types.StringType)).toMap
    // ONE bounded sample pass yields every z-column's boundaries —
    // numeric columns ride along as doubles, strings as-is; each
    // sampled row contributes a value for EVERY column, so the
    // per-column density is the full nBins×128 regardless of how many
    // columns are clustered. Column-pruned scan, driver-side sort +
    // stride pick: metadata-sized like RangePartitioner's estimator.
    val target = nBins * 128
    val fraction = math.min(1.0, target.toDouble / math.max(1L, rows))
    val sampled = data
      .select(zCols.map(c =>
        if (isStr(c)) col(c) else col(c).cast("double").as(c)): _*)
      .sample(withReplacement = false, fraction, seed = 42L).collect()
    def strideBounds[T](vs: Array[T])(implicit ord: Ordering[T],
        ct: scala.reflect.ClassTag[T]): Array[T] =
      if (vs.isEmpty) Array.empty[T]
      else {
        val s = vs.sorted
        (1 until nBins)
          .map(b => s(math.min(s.length - 1, b * s.length / nBins)))
          .distinct.toArray
      }
    val bins = zCols.zipWithIndex.map { case (c, i) =>
      if (isStr(c)) {
        val bs = strideBounds(sampled.flatMap(r => Option(r.getString(i))))
        binExpr(col(c), bs.map(lit))
      } else {
        val bs = strideBounds(sampled.collect {
          case r if !r.isNullAt(i) => r.getDouble(i) })(
          Ordering.Double.TotalOrdering, implicitly)
        binExpr(col(c).cast("double"), bs.map(lit))
      }
    }
    val zValue = interleaved(bins, bitsPerCol)
    val nOut = math.max(1, math.ceil(rows.toDouble / targetFileRows).toInt)
    // MATERIALIZE the z-value as a column before the exchange and sort
    // key it by reference: as a raw sort-key expression the
    // 2^bits-term when-chain leaves whole-stage codegen in the
    // shuffle's key extraction and gets re-evaluated interpreted —
    // measured 57.6 s vs 8.8 s for the same 10M-row range+sort+write
    // when pre-materialized (the bulk of the r13 "z-build 3.7× a plain
    // rewrite" premium). The column is computed once in the scan
    // projection (codegen'd), costs 8 bytes/row of shuffle, and is
    // dropped before the write.
    val sortKey = TpSchema.partitionCols.map(col) :+ col("__graft_zvalue")
    val df = data.withColumn("__graft_zvalue", zValue)
      .repartitionByRange(nOut, sortKey: _*)
      .sortWithinPartitions(sortKey: _*)
      .drop("__graft_zvalue")
    lake.overwritePartitions(spark, table, df)
    (before, lake.dataFiles(spark, table).size.toLong)
  }

  /** bin = number of boundaries <= value: a when-chain the codegen
    * compiles to straight-line comparisons. NULLs sort to bin 0
    * (cluster together at the curve origin). Works for any ordered
    * type — boundaries arrive as literals of the column's own type.
    */
  private def binExpr(c: Column, boundaries: Array[Column]): Column =
    boundaries.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(c >= b, 1L).otherwise(0L)
    }

  /** Bit-interleaved z-value over per-column bin expressions. */
  private def interleaved(
      bins: Seq[Column], bitsPerCol: Int): Column = {
    val nCols = bins.length
    // z = for each bit i and column j: bit i of bin_j at position
    // (i * nCols + j) — pure shiftleft/and/or integer math
    val parts = for {
      i <- 0 until bitsPerCol
      (bin, j) <- bins.zipWithIndex
    } yield shiftleft(shiftright(bin, i).bitwiseAND(lit(1L)),
      i * nCols + (nCols - 1 - j))
    parts.reduce(_.bitwiseOR(_)).as("__zvalue")
  }

  /** Retention ("vacuum", cleanup.go:72-133): compact the manifest down
    * to live files. Data-file garbage does not accumulate in our design
    * (dynamic overwrite replaces atomically), so retention is about
    * metadata.
    */
  def vacuum(spark: SparkSession, lake: Lake, table: String): Unit =
    lake.locked(table) {
      lake.healSwapAsides(spark, table)
      replayPendingRemovals(spark, lake, table)
      // sweep staging subtrees a crashed append left behind (r19: the
      // append writes into `_graft_staging_<uuid>` then moves files
      // out; the dir is only live while an append holds this table's
      // lock, so anything still here is a dead crash leftover —
      // underscore-hidden, never visible as data, but disk garbage)
      locally {
        val tdir = new Path(lake.tableDir(table))
        val tfs = tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (tfs.exists(tdir))
          tfs.listStatus(tdir).foreach { st =>
            if (st.isDirectory &&
              st.getPath.getName.startsWith("_graft_staging_"))
              tfs.delete(st.getPath, true)
          }
      }
      // the lock keeps a concurrent append from writing manifest rows
      // between our snapshot and the swap (they would be destroyed).
      // Reconciliation is FORCED here regardless of filesystem kind
      // and runs BOTH ways: manifest rows whose file is gone are
      // dropped (the semi-join), and data files the manifest never
      // recorded — a crash between a data commit and its manifest
      // append (r14 advice) — get stats computed by scanning exactly
      // those files. vacuum is the valve that re-syncs a drifted
      // manifest to listing truth, in full.
      val known = lake.liveManifest(spark, table, reconcileWithListing = true)
      val knownFiles = known.map(_.file).toSet // one path per file
      // files whose NEWEST manifest row is a tombstone but that still
      // physically exist (a crash between tombstone and delete) are
      // NOT "unrecorded" — recovering them would resurrect deleted
      // data as live (r16 ADVICE). Every removal path journals before
      // tombstoning+deleting today, but this guard is free and vacuum
      // is auto-invoked from crash recovery.
      val tombstoned = lake.tombstonedFiles(spark, table)
      val unrecorded = lake.dataFiles(spark, table)
        .filterNot(knownFiles).filterNot(tombstoned)
      val recovered = lake.statsFor(spark, table, unrecorded)
      // r19: the rewritten manifest is driver-local rows — write it
      // directly instead of a coalesce(1) Spark job; every recorded
      // field (ts_nulls too) carries over
      val seqNo = lake.nextSeq(spark, table)
      val liveRows = known.map(_.copy(seq = seqNo)) ++
        recovered.map(_.row(seqNo))
      val manifestDir = s"${lake.tableDir(table)}/_graft_manifest"
      val tmp = s"${lake.tableDir(table)}/_graft_manifest_new"
      val old = s"${lake.tableDir(table)}/_graft_manifest_old"
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new Path(manifestDir)
      val fs = p.getFileSystem(conf)
      fs.delete(new Path(tmp), true)
      ManifestIO.writeManifest(conf, tmp, liveRows)
      // aside → in → drop: a crash at any point leaves either the old
      // or the new manifest in place (a missing manifest would read as
      // empty stats and quietly disable data skipping + compaction)
      fs.delete(new Path(old), true)
      if (fs.exists(p)) fs.rename(p, new Path(old))
      fs.rename(new Path(tmp), p)
      fs.delete(new Path(old), true)
      // colstats completeness valve (r16 ADVICE): files this vacuum
      // re-added (or whose sidecar append crashed mid-write) get their
      // sidecar rows backfilled in one bounded scan — otherwise CBO
      // NDV/null merging under-counts silently forever
      lake.backfillMissingColStats(spark, table)
      ()
    }

  /** Retarget manifest file paths at the table's CURRENT directory —
    * the repair for a moved, renamed, or restored-to-a-new-root lake.
    * Manifest rows hold ABSOLUTE paths (they must compare equal to
    * `input_file_name()`), so after a physical move the live-file
    * reconciliation matches nothing: planning sees zero stats,
    * compaction sees zero work, and a vacuum would then REWRITE the
    * manifest empty — silent, permanent stats loss (found by the r13
    * rehearsal, whose fixture-copy probes hit exactly this). Each
    * row's path is respliced at its `/<table>/` anchor onto the
    * current table dir; rows already under it pass through unchanged,
    * so the operation is idempotent. Same metadata-sized atomic swap
    * discipline as [[vacuum]].
    *
    * @return rows whose path changed (0 = manifest already home)
    */
  def relocate(spark: SparkSession, lake: Lake, table: String): Long =
    lake.locked(table) {
      val conf = spark.sparkContext.hadoopConfiguration
      val manifestDir = s"${lake.tableDir(table)}/_graft_manifest"
      val p = new Path(manifestDir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return 0L
      val home = new Path(lake.tableDir(table)).toUri.getPath
      // driver-side rows in, driver-side rows out: every recorded
      // field (ts_nulls too) passes through unchanged
      var moved = 0L
      val fixed = ManifestIO.readManifest(conf, manifestDir).map { r =>
        if (r.file.startsWith(home + "/")) r
        else {
          moved += 1
          r.copy(file = s"$home/${lake.relOf(table, r.file)}")
        }
      }
      if (moved == 0) return 0L
      val tmp = new Path(s"${lake.tableDir(table)}/_graft_manifest_new")
      val old = new Path(s"${lake.tableDir(table)}/_graft_manifest_old")
      fs.delete(tmp, true)
      ManifestIO.writeManifest(conf, tmp.toString, fixed)
      fs.delete(old, true)
      if (fs.exists(p)) fs.rename(p, old)
      fs.rename(tmp, p)
      fs.delete(old, true)
      moved
    }

  /** Timestamped manifest snapshot (the reference's metadata backup
    * before each collect, internal/database/backup.go:26-90: copy the
    * metadata DB to `*.backup.YYYYMMDDHHMMSS`, keep only the most
    * recent). The snapshot is a plain directory copy —
    * `_graft_manifest_backup_<stamp>` beside the manifest, invisible to
    * table scans like every underscore-prefixed dir — and older backups
    * are pruned after the new one lands (backup.go cleanupOldBackups).
    * Manifests are metadata-sized (one row per data file), so the copy
    * cost is constant-ish regardless of table size.
    *
    * @return the backup dir path, or None when the table has no
    *         manifest yet (reference: missing DB → skip, no error)
    */
  def backupManifest(
      spark: SparkSession, lake: Lake, table: String,
      now: () => Long = System.currentTimeMillis): Option[String] =
    lake.locked(table) {
      val conf = spark.sparkContext.hadoopConfiguration
      val src = new Path(s"${lake.tableDir(table)}/_graft_manifest")
      val fs = src.getFileSystem(conf)
      if (!fs.exists(src)) None
      else {
        val stamp = new java.text.SimpleDateFormat("yyyyMMddHHmmss")
          .format(new java.util.Date(now()))
        val dst = new Path(
          s"${lake.tableDir(table)}/_graft_manifest_backup_$stamp")
        fs.delete(dst, true) // same-second re-backup: replace
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst,
          /*deleteSource=*/ false, /*overwrite=*/ true, conf)
        // record the LIVE file set at snapshot time: the manifest is
        // append-only (superseded rows linger), so the diff needs this
        // listing to tell "removed since snapshot" from "was already
        // dead at snapshot time". Underscore-prefixed name keeps it
        // invisible to the parquet reader if the dir is ever replayed
        // over _graft_manifest by restore.
        val live = lake.dataFiles(spark, table)
        val out = fs.create(new Path(dst, "_live_files"), true)
        try out.write(live.mkString("\n").getBytes("UTF-8"))
        finally out.close()
        listBackups(fs, lake, table).filter(_.getName != dst.getName)
          .foreach(p => fs.delete(p, true))
        Some(dst.toUri.getPath)
      }
    }

  /** What changed since the last manifest snapshot — the metadata diff
    * a curator reads before trusting an incremental export ("did this
    * collect add what I think it added, and did retention remove more
    * than it should?"). One row per data file with its row count on
    * each side:
    *
    *  - `added`     — live now, not live at snapshot time
    *  - `removed`   — live at snapshot time, gone now
    *  - `changed`   — live on both sides but the manifest row count
    *                  differs (a swap reused the file name)
    *  - `unchanged` — live on both sides, same stats
    *
    * Snapshot-side liveness comes from the `_live_files` listing the
    * backup records (not from the append-only manifest, whose
    * superseded rows would misreport files already dead at snapshot
    * time as "removed"). Pre-listing backups (no `_live_files`) fall
    * back to the reconciled manifest content, documented fuzziness.
    *
    * Everything here is metadata-sized (one row per file on each
    * side), so the full-outer join is trivial at any table size.
    *
    * @return (file, status, old_rows, new_rows)
    */
  def snapshotDiff(
      spark: SparkSession, lake: Lake, table: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tdir = new Path(lake.tableDir(table))
    val fs = tdir.getFileSystem(conf)
    val backup = listBackups(fs, lake, table).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no manifest backup to diff against for table '$table'"))
    import spark.implicits._
    val snapStats = spark.read.parquet(backup.toString)
      .groupBy("file")
      .agg(max_by(col("rows"), col("seq")).as("old_rows"))
      .where(col("old_rows") >= 0L) // tombstoned-at-snapshot = dead
    val liveList = new Path(backup, "_live_files")
    val old =
      if (fs.exists(liveList)) {
        val in = fs.open(liveList)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString finally in.close()
        val files = txt.split("\n").toSeq.filter(_.nonEmpty)
        snapStats.join(files.toDF("file"), Seq("file"), "left_semi")
      } else snapStats
    val cur = lake.fileStats(spark, table)
      .select(col("file"), col("rows").as("new_rows"))
    old.join(cur, Seq("file"), "full_outer")
      .select(col("file"),
        when(col("old_rows").isNull, "added")
          .when(col("new_rows").isNull, "removed")
          .when(col("old_rows") =!= col("new_rows"), "changed")
          .otherwise("unchanged").as("status"),
        col("old_rows"), col("new_rows"))
  }

  /** Replay the newest manifest snapshot over a lost/corrupt manifest —
    * file stats come back without re-scanning the data (the restore
    * path of backup.go). Stale rows for files replaced since the
    * snapshot are reconciled by `fileStats`' live-file semi-join, and
    * files newer than the snapshot read conservatively (absent from the
    * manifest → always scanned), so a restored manifest is safe, never
    * just lucky. The backup dir is kept — restore is repeatable.
    *
    * @return the backup dir replayed
    */
  def restoreManifest(spark: SparkSession, lake: Lake, table: String): String =
    lake.locked(table) {
      val conf = spark.sparkContext.hadoopConfiguration
      val manifest = new Path(s"${lake.tableDir(table)}/_graft_manifest")
      val fs = manifest.getFileSystem(conf)
      val newest = listBackups(fs, lake, table).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no manifest backup to restore for table '$table'"))
      val tmp = new Path(s"${lake.tableDir(table)}/_graft_manifest_new")
      val old = new Path(s"${lake.tableDir(table)}/_graft_manifest_old")
      fs.delete(tmp, true)
      org.apache.hadoop.fs.FileUtil.copy(fs, newest, fs, tmp,
        /*deleteSource=*/ false, /*overwrite=*/ true, conf)
      // aside → in → drop, same crash discipline as vacuum's swap
      fs.delete(old, true)
      if (fs.exists(manifest)) fs.rename(manifest, old)
      fs.rename(tmp, manifest)
      fs.delete(old, true)
      newest.toUri.getPath
    }

  /** Time-travel read: the table AS OF the newest manifest snapshot —
    * exactly the `_live_files` the backup recorded (collect takes one
    * before every mutation, mirroring the reference's metadata-DB
    * backup boundary, internal/database/backup.go:26). Partition
    * columns are rederived via basePath, so the frame is
    * indistinguishable from a live read of the old state — "what did
    * this table look like before the last collect/retention run".
    *
    * Files removed since the snapshot (compaction or retention rewrote
    * them) fail LOUDLY with the missing list: a silent partial
    * snapshot would be a wrong answer, and the remedies
    * ([[restoreManifest]], or vacuuming less eagerly) are the
    * operator's call. The existence pre-check is one driver-side RPC
    * per snapshot file — manifest-sized, the same budget every
    * maintenance entry point here spends.
    */
  def readSnapshot(
      spark: SparkSession, lake: Lake, table: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tdir = new Path(lake.tableDir(table))
    val fs = tdir.getFileSystem(conf)
    val backup = listBackups(fs, lake, table).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no manifest backup to read as-of for table '$table'"))
    val liveList = new Path(backup, "_live_files")
    if (!fs.exists(liveList))
      throw new IllegalArgumentException(
        s"backup ${backup.getName} predates live-file listings; " +
          "cannot snapshot-read (take a fresh backup first)")
    val in = fs.open(liveList)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val files = txt.split("\n").toSeq.filter(_.nonEmpty)
    if (files.isEmpty) return lake.read(spark, table).limit(0)
    val missing = files.filterNot(f => fs.exists(new Path(f)))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"snapshot read impossible for '$table': ${missing.size} of " +
          s"${files.size} snapshot file(s) were removed since backup " +
          s"${backup.getName} (compaction/retention) — first: " +
          missing.take(3).mkString(", "))
    lake.readFiles(spark, table, lake.statusesOf(spark, files))
  }

  /** Manifest backup dirs of a table, oldest → newest (stamp order). */
  private def listBackups(
      fs: org.apache.hadoop.fs.FileSystem, lake: Lake,
      table: String): Seq[Path] = {
    val glob = new Path(s"${lake.tableDir(table)}/_graft_manifest_backup_*")
    val found = fs.globStatus(glob)
    if (found == null) Seq.empty
    else found.toSeq.map(_.getPath).sortBy(_.getName)
  }

  // ---- helpers ---------------------------------------------------------

  /** Restrict `df` to exactly the given physical dirs: a literal
    * OR-of-conjunctions below [[Upsert.ChainMax]] (Catalyst folds it
    * straight into partition pruning) and a broadcast left-semi join
    * on the partition columns above it. A linear boolean tree a few
    * thousand branches deep overflows the column-converter/analyzer
    * stacks — found EMPIRICALLY by the partition_stress rehearsal:
    * the first compact of a freshly-collected 1 200-dir table (every
    * dir fragmented by the fan-out append) died in
    * ColumnNodeToExpressionConverter before this fix. Join keys are
    * the partition columns, so dynamic partition pruning still skips
    * untouched directories (the Upsert.scopeToTouched pattern, same
    * bound, generalized to all four partition columns).
    */
  private[lake] def scopeToDirs(
      df: DataFrame, dirs: Seq[Map[String, String]]): DataFrame = {
    // a __HIVE_DEFAULT_PARTITION__ segment means a null partition
    // value: toInt below would throw opaquely, and an equality join
    // can NEVER match a null — maintenance would silently skip the
    // dir. The normal enrich path cannot produce one (tp_index is
    // coalesced, the timestamp is required), so fail loudly here in
    // case a future ingest path admits nulls (ADVICE r12).
    val DefaultPart = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    dirs.foreach { vals =>
      TpSchema.partitionCols.foreach { c =>
        require(vals(c) != DefaultPart,
          s"maintenance: null-valued partition segment $c=$DefaultPart " +
            "cannot be scoped (equality predicates never match null); " +
            "repair the partition value before compacting/deleting it")
      }
    }
    if (dirs.size <= Upsert.ChainMax)
      df.where(dirs.map(dirValuesPredicate).reduce(_ || _))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      val dirRows = dirs.map { vals =>
        (vals(TpSchema.Partition), vals(TpSchema.Index),
          vals(TpSchema.Year).toInt, vals(TpSchema.Month).toInt)
      }
      val dirsDf = dirRows.toDF("__dp", "__di", "__dy", "__dm")
      df.join(broadcast(dirsDf),
        col(TpSchema.Partition) === col("__dp") &&
          col(TpSchema.Index).cast("string") === col("__di") &&
          col(TpSchema.Year) === col("__dy") &&
          col(TpSchema.Month) === col("__dm"),
        "left_semi")
    }
  }

  private def dirValuesPredicate(vals: Map[String, String]): Column =
    TpSchema.partitionCols.map { c =>
      // partition values parse back typed for year/month
      val v: Any = if (c == TpSchema.Year || c == TpSchema.Month)
        vals(c).toInt else vals(c)
      col(c) === lit(v)
    }.reduce(_ && _)

  private def relDirOf(r: Row): String =
    TpSchema.partitionCols.map { c =>
      val v = r.getAs[Any](c)
      // Hive path escaping: a value like '10:30' lives on disk as
      // '10%3A30' — an unescaped path would silently miss the dir
      val seg = if (v == null)
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME
      else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(v.toString)
      s"$c=$seg"
    }.mkString("/")

  private def dirOf(lake: Lake, table: String, file: String): String = {
    val rel = lake.relOf(table, file)
    rel.substring(0, rel.lastIndexOf('/'))
  }

  /** Deferred-removal journal: a mutation whose commit point is a
    * dynamic partition overwrite (reindex moving rows out of their old
    * index dirs, partition delete emptying a dir) still has to DELETE
    * directories the overwrite never touches. A crash between the
    * committed write and those removals would otherwise leave
    * duplicate (reindex) or undeleted (delete) rows with nothing to
    * heal them. So: once the overwrite has committed, the removal list
    * is journaled to `_graft_pending_removals` (atomic rename,
    * underscore-invisible to scans) BEFORE any dir is deleted, and
    * every mutating entry point replays a leftover journal first —
    * the crash window shrinks from "commit → last dir removed" to the
    * single journal-file create, and a crash mid-removal resumes
    * instead of leaving a half-cleaned table.
    */
  private def pendingPath(lake: Lake, table: String): Path =
    new Path(s"${lake.tableDir(table)}/_graft_pending_removals")

  private def removeDirsJournaled(
      spark: SparkSession, lake: Lake, table: String,
      dirs: Seq[String]): Unit = if (dirs.nonEmpty) {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = pendingPath(lake, table)
    val fs = p.getFileSystem(conf)
    val tmp = new Path(p.toString + "_tmp")
    val out = fs.create(tmp, true)
    try out.write(dirs.mkString("\n").getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    fs.rename(tmp, p)
    // one batched tombstone append for every file about to go —
    // BEFORE the physical deletes, so a crash mid-removal leaves the
    // manifest already-correct (the journal replay finishes the
    // deletes; a still-live-but-tombstoned file is just an early
    // answer to a committed removal)
    lake.noteRemoved(spark, table,
      lake.dataFilesUnder(spark, table, dirs))
    dirs.foreach(removeDir(spark, lake, table, _))
    // a registered catalog partition pointing at a deleted dir fails
    // the next catalog-planned scan — drop the entries with the dirs
    lake.dropCatalogPartitions(spark, table, dirs)
    fs.delete(p, false)
  }

  /** Replay a leftover removal journal (crash recovery). Returns the
    * number of directories removed.
    */
  def replayPendingRemovals(
      spark: SparkSession, lake: Lake, table: String): Long =
    lake.locked(table) {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = pendingPath(lake, table)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0L
      else {
        val in = fs.open(p)
        val text = try {
          val bos = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 4096, false)
          new String(bos.toByteArray, "UTF-8")
        } finally in.close()
        val dirs = text.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
        // re-tombstone whatever survives in the journaled dirs — the
        // crash may have landed between journal write and tombstone
        lake.noteRemoved(spark, table,
          lake.dataFilesUnder(spark, table, dirs))
        dirs.foreach(removeDir(spark, lake, table, _))
        lake.dropCatalogPartitions(spark, table, dirs)
        fs.delete(p, false)
        dirs.size.toLong
      }
    }

  private def removeDir(
      spark: SparkSession, lake: Lake, table: String, relDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    var p = new Path(s"${lake.tableDir(table)}/$relDir")
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    // prune now-empty parent partition dirs up to the table root
    p = p.getParent
    val stop = new Path(lake.tableDir(table))
    while (p != null && p != stop && fs.exists(p) &&
      fs.listStatus(p).isEmpty) {
      fs.delete(p, false); p = p.getParent
    }
  }
}
