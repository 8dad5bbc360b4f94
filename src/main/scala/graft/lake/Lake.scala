package graft.lake

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The lake: one directory per table, Hive-partitioned by
  * `(tp_partition, tp_index, tp_year, tp_month)` — the same physical
  * key the reference sets via `ALTER TABLE … SET PARTITIONED BY`
  * (ducklake_table.go:36-44). Appends are plain parquet writes; Spark's
  * job-commit protocol makes each append atomic (the reference gets
  * this from DuckLake snapshots instead — SURVEY §4 transactional row).
  *
  * Alongside the data we maintain a tiny per-file stats manifest
  * (rowcount + min/max `tp_timestamp` per parquet file) — the Spark
  * stand-in for DuckLake's `ducklake_file_column_stats`
  * (compaction_types.go:64-120). It drives compaction planning and
  * `.inspect`-style metadata without touching data files. At 100 TB the
  * manifest stays metadata-sized: one row per file.
  */
/** @param manifestCompactThreshold manifest files before
  *   [[manifestAppend]] self-compacts — see that method; the default
  *   bounds planning reads at ~64 footer pages while amortizing the
  *   rewrite to O(1/64) per mutation. Tests lower it to exercise the
  *   compaction without a 100-append storm.
  */
final case class Lake(root: String, manifestCompactThreshold: Int = 64)
  extends org.apache.spark.internal.Logging {

  def tableDir(table: String): String = s"$root/$table"
  private def manifestDir(table: String): String =
    s"${tableDir(table)}/_graft_manifest"

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tableExists(spark: SparkSession, table: String): Boolean =
    fs(spark, root).exists(new Path(tableDir(table)))

  /** Existence check for READ guards: a table dir can exist with zero
    * data files (all rows deleted, or stats_columns armed the marker
    * before the first collect — the marker write creates the dir), and
    * `read` on it fails schema inference. `tableExists → read` call
    * sites must use this instead.
    */
  def hasData(spark: SparkSession, table: String): Boolean =
    tableExists(spark, table) && dataFiles(spark, table).nonEmpty

  def listTables(spark: SparkSession): Seq[String] =
    listTables(fs(spark, root))

  private def listTables(f: FileSystem): Seq[String] = {
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) Seq.empty
    else f.listStatus(rootPath).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith("_")).sorted
  }

  /** Read a lake table. Partition-column filters prune directories;
    * `tp_timestamp` range filters additionally skip row groups via
    * parquet min/max stats. `basePath` keeps partition columns in the
    * schema when reading a pruned subtree.
    */
  def read(spark: SparkSession, table: String): DataFrame =
    if (isEvolved(spark, table)) evolvedRead(spark, table)
    else zoneMappedRead(spark, table, listDataFiles(spark, table))

  /** [[read]] over `listed`, the table's [[listDataFiles]] as the
    * caller already walked them: the file index takes its statuses
    * from that walk, so the read lists nothing again.
    */
  private[graft] def read(
      spark: SparkSession, table: String,
      listed: Seq[Lake.ListedFile]): DataFrame =
    if (isEvolved(spark, table)) evolvedRead(spark, table)
    // reads go through the zone-map FileIndex: pushed band predicates
    // on colstats-enabled columns AND on tp_timestamp/tp_date (zones
    // derived from the manifest's per-file min_ts/max_ts — present
    // for every table) skip files at planning time
    else zoneMappedRead(spark, table, listed)

  // evolved tables (schema grew across collects) must merge parquet
  // footers, or Spark binds the schema of an arbitrary file and the
  // adopted columns vanish from reads nondeterministically. The marker
  // is written once at the first evolving collect; the planning cost (a
  // footer read per file, parallelized) is the documented price of
  // `evolution = true` — non-evolved tables pay nothing.
  private def evolvedRead(spark: SparkSession, table: String): DataFrame =
    spark.read.option("basePath", tableDir(table))
      .option("mergeSchema", "true").parquet(tableDir(table))

  private def evolvedMarker(table: String): Path =
    new Path(s"${tableDir(table)}/_graft_evolved")

  /** Mark a table as schema-evolved (reads merge footers from now on). */
  def markEvolved(spark: SparkSession, table: String): Unit = {
    val p = evolvedMarker(table)
    val f = fs(spark, root)
    if (!f.exists(p)) f.create(p, true).close()
  }

  def isEvolved(spark: SparkSession, table: String): Boolean =
    fs(spark, root).exists(evolvedMarker(table))

  /** Read, while a `graft query` process starts its session, the lake
    * metadata that session will read anyway, into the JVM-wide caches
    * it checks first: the Spark schema in each table's first data-file
    * footer ([[Lake.footerSchema]], which [[zoneMappedRead]] consults)
    * and, for the tables `sql` names, the [[Lake.MetaSnapshot]] that
    * [[metaSnapshot]] serves to the metadata rule and both zone
    * families. Named tables go first. The session never waits for this:
    * whatever is not cached when it looks is loaded the usual way.
    *
    * Read-only and optimistic: a table with a pending swap-aside is
    * skipped (the session's own read heals it), and a snapshot is
    * stored only when the token read after the load equals the one
    * read before it. Any failure is swallowed; the session then meets
    * the same fault and reports it. `base` is copied with Hadoop's
    * `FileSystem` cache disabled for the lake's scheme, so no
    * `FileSystem` built from this private conf lands in the shared
    * cache the session will use. No Spark job runs here.
    */
  private[graft] def prefetch(
      sql: String,
      base: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): Unit =
    try {
      val conf = new org.apache.hadoop.conf.Configuration(base)
      val scheme = Option(new Path(root).toUri.getScheme)
        .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
      conf.setBoolean(s"fs.$scheme.impl.disable.cache", true)
      val f = new Path(root).getFileSystem(conf)
      try {
        val named = """[A-Za-z0-9_]+""".r.findAllIn(sql.toLowerCase).toSet
        val (queried, rest) = listTables(f).partition(t => named(t.toLowerCase))
        def each(tables: Seq[String])(body: String => Unit): Unit =
          tables.foreach { t =>
            try if (!f.exists(evolvedMarker(t))) body(t)
            catch { case scala.util.control.NonFatal(_) => () }
          }
        each(queried) { t =>
          prefetchFooter(f, conf, t)
          if (!swapAsidePending(f, t)) {
            val snap = loadSnapshot(f, conf, t)
            if (!swapAsidePending(f, t) && metaToken(f, t) == snap.token)
              Lake.storeSnapshot(snapshotKey(t), snap)
          }
        }
        each(rest)(prefetchFooter(f, conf, _))
      } finally f.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  private def prefetchFooter(
      f: FileSystem, conf: org.apache.hadoop.conf.Configuration,
      table: String): Unit =
    // the file the session's index lists first: listDataFiles order,
    // empty files skipped as the index skips them
    listDataFiles(f, table).find(_.len > 0).foreach { lf =>
      val p = f.makeQualified(new Path(lf.path))
      Lake.footerSchema(p, lf.len, lf.modified)(
        ManifestIO.sparkSchemaOf(conf, p))
    }

  def schemaOf(spark: SparkSession, table: String): StructType =
    read(spark, table).schema

  /** Append an enriched, validated batch, partitioned by the physical
    * key. Each append also records per-file stats in the manifest.
    *
    * Scale note: the writer never repartitions the batch — upstream
    * ingest decides parallelism; with N tasks and P touched logical
    * partitions the append creates ≤ N×P files, which compaction merges
    * (the same division of labor as the reference: convert appends,
    * compact merges — compact.go:80-89).
    */
  def append(
      spark: SparkSession, table: String, batch: DataFrame): Seq[String] =
    Lake.withTableLock(root, table) {
      val dir = tableDir(table)
      // r19 shape: write the batch into a hidden per-append STAGING
      // subtree, then move each file into its partition dir. This
      // replaces the r1-r18 discovery dance (a distinct-partitions job
      // over the batch to learn the touched dirs, then a before/after
      // listing diff of those dirs): the staging listing IS the added
      // file set and the touched dirs fall out of the staged paths —
      // zero extra Spark jobs, zero listing diffs, no tombstoned-file
      // resurrection risk (we never diff against live dirs at all).
      // Cost: one driver-side rename per new file — the same order of
      // metadata work the commit protocol already spends per file. A
      // crash between move and recordStats leaves moved files
      // unrecorded, exactly the pre-existing crash window; vacuum
      // recovers both the same way (staging is underscore-hidden, so
      // readers and vacuum never see half-moved state as data).
      // SCOPE (r19 verdict #3): this assumes rename is a metadata op —
      // true on local FS, HDFS, and ABFS. On S3-style stores rename is
      // COPY+DELETE, so the staging move would pay the append's bytes
      // twice on top of the committer's own copy; warn once so nobody
      // points this path at such a store unaware (the fix there is a
      // direct-write append with manifest-recorded paths, not staging).
      if (Lake.copyOnRenameSchemes.contains(
          new Path(root).toUri.getScheme) &&
          Lake.warnedObjectStoreRoots.add(root))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"lake root $root is on a copy-on-rename object store: the " +
            "staging append pays 2x PUT bytes; prefer an HDFS/ABFS-" +
            "semantics store for this lake")
      val stagingName = s"_graft_staging_${java.util.UUID.randomUUID()}"
      val staging = s"$dir/$stagingName"
      // r19: lake data writes annotate timestamps as INT64
      // TIMESTAMP(MICROS) instead of Spark's historical INT96 default.
      // Values are identical (Spark timestamps ARE micros); what
      // changes is that parquet writes real min/max column stats for
      // INT64 (none exist for INT96), which statsFor/footerStats then
      // serve without rescanning the data — and every engine reads
      // micros natively, INT96 being long deprecated.
      // REBALANCE on the partition columns before the partitioned
      // write: without it every write task holds rows of ~every
      // touched dir, so one append emits tasks×dirs fragment files —
      // ~8 files per 8-row directory on a 12k-dir import
      // (partition_stress finding; the same defect buildIvfIndex had
      // with cells). The AQE rebalance hint co-locates each dir into
      // one task AND splits a skewed dir across tasks when it exceeds
      // the advisory partition size — hash repartition alone would
      // serialize a hot directory. One linear shuffle per batch buys
      // a file count proportional to dirs, not dirs×tasks.
      Lake.withMicrosTimestamps(spark) {
        batch.hint("rebalance", TpSchema.partitionCols.map(col): _*)
          .write
          .partitionBy(TpSchema.partitionCols: _*)
          .mode(SaveMode.Overwrite)
          .parquet(staging)
      }
      val f = fs(spark, root)
      val stagingPath = new Path(staging)
      val stagingUri = stagingPath.toUri.getPath
      val staged = walkFiles(f, stagingPath).map(_.path).filter { p =>
        p.endsWith(".parquet") && {
          val name = p.substring(p.lastIndexOf('/') + 1)
          !name.startsWith("_") && !name.startsWith(".")
        }
      }
      val added = staged.map { p =>
        val rel = p.stripPrefix(stagingUri).stripPrefix("/")
        val dst = new Path(s"$dir/$rel")
        f.mkdirs(dst.getParent)
        if (!f.rename(new Path(p), dst))
          throw new java.io.IOException(
            s"append: staging move failed: $p -> $dst")
        dst.toUri.getPath
      }.sorted
      f.delete(stagingPath, true)
      val touched = added
        .map(p => relOf(table, p))
        .map(rel => rel.substring(0, rel.lastIndexOf('/')))
        .distinct
      recordStats(spark, table, added)
      syncCatalogPartitions(spark, table, touched)
      // the touched relative dirs: incremental consumers (rollup
      // refresh) scope their work to these
      touched
    }

  /** The catalog entry for `table` IF [[registerCatalogTable]] created
    * one over this lake's directory (a temp view or an unrelated
    * same-named table doesn't count).
    */
  private def catalogEntry(spark: SparkSession, table: String)
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] =
    scala.util.Try(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))).toOption
      .filter(m => Option(m.location).exists(
        _.getPath == new Path(tableDir(table)).toUri.getPath))

  private def partitionSpecSql(rel: String): String =
    "PARTITION (" + TpSchema.partitionCols.map { c =>
      val v = partitionValues(rel).getOrElse(c,
        throw new IllegalArgumentException(
          s"partition dir '$rel' missing segment $c"))
      s"`$c`='${v.replace("'", "''")}'"
    }.mkString(", ") + ")"

  /** Keep a [[registerCatalogTable]] registration fresh: after an
    * append or overwrite lands NEW partition dirs, a catalog-planned
    * `spark.table(t)` would silently MISS them until someone reruns a
    * full `recoverPartitions` — at 100 TB that recover is a whole-tree
    * listing, and "silently missing the last collect" is a correctness
    * bug, not a performance one. This adds exactly the touched dirs
    * (`ALTER TABLE ADD IF NOT EXISTS PARTITION`, batched), O(batch)
    * driver-side metadata. No-op when the table isn't registered.
    */
  private def syncCatalogPartitions(
      spark: SparkSession, table: String, touched: Seq[String]): Unit =
    if (touched.nonEmpty && catalogEntry(spark, table).isDefined) {
      touched.grouped(500).foreach { grp =>
        spark.sql(s"ALTER TABLE `$table` ADD IF NOT EXISTS " +
          grp.map(partitionSpecSql).mkString(" "))
        ()
      }
      // drop cached file listings for the touched dirs — appends into
      // an EXISTING partition dir change no catalog entry, so only
      // this invalidation keeps a catalog-planned scan from serving
      // the stale FileStatusCache
      spark.catalog.refreshTable(s"`$table`")
    }

  /** Catalog table STATISTICS without a scan or a listing — the
    * `ANALYZE TABLE` result from metadata the lake already maintains.
    * Row count comes from the manifest (`max_by(seq)` reconciliation,
    * listing-free); size comes from that row count × a bytes-per-row
    * ratio sampled from ≤4 live files' FileStatus (4 metadata RPCs at
    * ANY table size). `ANALYZE TABLE … COMPUTE STATISTICS` recomputes
    * the same two numbers with a full data scan — at 100 TB that scan
    * is exactly what this method exists to avoid, and the manifest is
    * already transactionally maintained by every mutation.
    *
    * What the stats buy: a registered table's `sizeInBytes` feeds
    * Spark's join-strategy sizing and `rowCount` feeds CBO
    * cardinality estimation (`spark.sql.cbo.enabled`) — without
    * catalog stats a 100 TB plan reasons from file-listing sizes
    * alone. Returns `(rowCount, sizeInBytes)`, or None when the table
    * has no manifest rows; the catalog is updated only when the table
    * is [[registerCatalogTable registered]].
    */
  def syncCatalogStats(
      spark: SparkSession, table: String): Option[(Long, Long)] = {
    val live = liveManifest(spark, table, reconcileWithListing = false)
    val rows = live.map(_.rows).sum
    if (rows <= 0L) return None
    val f = fs(spark, root)
    val sampled = live.filter(_.rows > 0).take(4).flatMap { r =>
      scala.util.Try((f.getFileStatus(new Path(r.file)).getLen, r.rows))
        .toOption
    }
    val bytesPerRow =
      if (sampled.isEmpty) 64.0 // no reachable file: nominal row width
      else sampled.map(_._1).sum.toDouble /
        math.max(1L, sampled.map(_._2).sum)
    val size = math.max(1L, math.round(rows * bytesPerRow))
    if (catalogEntry(spark, table).isDefined) {
      // preserve any per-column stats a prior
      // [[syncCatalogColumnStats]] wrote — this sync refreshes the
      // table-level numbers, it must not wipe the column ones
      val prevCols = catalogEntry(spark, table)
        .flatMap(_.stats).map(_.colStats).getOrElse(Map.empty)
      spark.sessionState.catalog.alterTableStats(
        org.apache.spark.sql.catalyst.TableIdentifier(table),
        Some(org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
          BigInt(size), Some(BigInt(rows)), prevCols)))
      spark.catalog.refreshTable(s"`$table`")
    }
    Some((rows, size))
  }

  // ------- per-column stats: the CBO join-reordering feed -------
  //
  // Spark's own `ANALYZE TABLE … FOR COLUMNS` re-scans the whole table
  // every time — a day's I/O at 100 TB. Here the scan happens ONCE
  // (enable time); after that every mutation's manifestAppend also
  // writes per-file, per-column stat rows — a mergeable HLL NDV
  // sketch, null count, length and numeric-range aggregates — into a
  // `_graft_colstats` sidecar (the DuckLake ducklake_file_column_stats
  // shape, compaction_types.go:64-120), and `table analyze` merges
  // the sketches (an HLL union on the driver) into CatalogColumnStat
  // at constant metadata cost. Liveness needs no tombstones: data files are
  // immutable and replaced by new names, so a semi-join against the
  // manifest's live file set at merge time is exact.

  private def colStatsDir(table: String): String =
    s"${tableDir(table)}/_graft_colstats"

  private def colStatsMarker(table: String): Path =
    new Path(s"${tableDir(table)}/_graft_colstats_cols")

  /** Columns under incremental stats maintenance (empty = disabled —
    * the default: per-append sketching of a 300-column table nobody
    * analyzes would be pure ingest tax).
    */
  def colStatsColumns(spark: SparkSession, table: String): Seq[String] = {
    val f = fs(spark, root)
    val p = colStatsMarker(table)
    if (!f.exists(p)) Seq.empty
    else {
      val in = f.open(p)
      val text = try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 4096, false)
        new String(bos.toByteArray, "UTF-8")
      } finally in.close()
      text.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    }
  }

  /** Per-(file, column) stat rows for exactly `files`, appended to the
    * sidecar as one part: HLL sketch (int/long/string/binary natively,
    * everything else through a string cast — NDV is cast-invariant),
    * null count, row count, string length sums and numeric min/max as
    * doubles (mergeable forms of avgLen/maxLen and range bounds).
    *
    * One scan and one `groupBy(file)` aggregate computes every stats
    * column at once; its result (one row per file, metadata the
    * table's [[metaSnapshot]] holds in driver memory anyway) is
    * collected and split into per-column rows on the driver, and
    * [[ManifestIO.writeSidecar]] writes them without a Spark job. The
    * read of `files` lists nothing and infers nothing
    * ([[knownFilesRead]]), so the pass is one aggregate: two jobs
    * under adaptive execution, however many columns.
    */
  private def appendColStats(
      spark: SparkSession, table: String,
      files: Seq[String], allColumns: Seq[String]): Unit = {
    if (files.isEmpty || allColumns.isEmpty) return
    val seqNo = nextSeq(spark, table)
    val src = readFiles(spark, table, statusesOf(spark, files))
    val schema = src.schema
    // a marker written before the first append (fresh-table
    // stats_columns) may name columns the data turned out not to
    // carry — skip them loudly rather than failing the ingest
    val columns = allColumns.filter { c =>
      val known = schema.fieldNames.contains(c)
      if (!known) logWarning(
        s"colstats: table '$table' has no column '$c' — skipping")
      known
    }
    if (columns.isEmpty) return
    val aggs = columns.flatMap { c =>
      val dt = schema(c).dataType
      val sketchIn = dt match {
        case IntegerType | LongType | StringType | BinaryType => col(c)
        case _ => col(c).cast("string")
      }
      val isStr = dt == StringType
      val isNum = dt.isInstanceOf[NumericType]
      val isIntegral = dt match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      def none(t: String): Column = lit(null).cast(t)
      Seq(
        hll_sketch_agg(sketchIn),
        sum(when(col(c).isNull, 1L).otherwise(0L)),
        if (isStr) sum(length(col(c)).cast("long")) else none("long"),
        if (isStr) max(length(col(c)).cast("long")) else none("long"),
        if (isNum) min(col(c).cast("double")) else none("double"),
        if (isNum) max(col(c).cast("double")) else none("double"),
        // string zone maps: lexicographic per-file range — prunes
        // source/URL/category predicates the numeric range can't
        if (isStr) min(col(c)) else none("string"),
        if (isStr) max(col(c)) else none("string"),
        // per-file KLL quantile sketch (numeric only): the mergeable
        // distribution feed for CatalogColumnStat.histogram — CBO's
        // answer to skewed-value filter selectivity
        if (isNum) graft.functions.KllFns.kllAgg(spark, col(c))
        else none("binary"),
        // per-file frequent-items sketch (string columns only): the
        // mergeable "top talkers" feed — exact while never evicting,
        // which is the metadata serve gate (TopKFns)
        if (isStr) graft.functions.TopKFns.topkSketchAgg(spark, col(c))
        else none("binary"),
        // per-file value sum (integral columns only): integer addition
        // is order-independent, so per-file sums merge into an EXACT
        // table sum — the metadata-aggregate feed for sum(int_col).
        // DECIMAL(38,0) accumulation: a long sum could overflow (ANSI
        // would fail the ingest); the fold converts back at answer time
        if (isIntegral) sum(col(c).cast("decimal(38,0)"))
        else none("decimal(38,0)"))
    }
    val perFile = src.groupBy(input_file_name())
      .agg(count(lit(1)), aggs: _*)
      .collect()
    // input_file_name() yields percent-encoded URIs; java.net.URI
    // .getPath strips scheme and authority and decodes, landing on the
    // manifest's path form (see statsForScan)
    val paths = perFile.map(r => new java.net.URI(r.getString(0)).getPath)
    val width = aggs.length / columns.length
    // column-major: one column's rows (and sketches) side by side
    // compress better
    val rows = columns.zipWithIndex.flatMap { case (c, i) =>
      val at = 2 + i * width
      perFile.toSeq.zip(paths).map { case (r, file) =>
        def opt[T](j: Int): Option[T] =
          if (r.isNullAt(at + j)) None else Some(r.getAs[T](at + j))
        (file, c) -> Lake.SideStat(
          sketch = opt[Array[Byte]](0), nulls = r.getLong(at + 1),
          n = r.getLong(1),
          sumLen = opt[Long](2), maxLen = opt[Long](3),
          minD = opt[Double](4), maxD = opt[Double](5),
          minS = opt[String](6), maxS = opt[String](7),
          kll = opt[Array[Byte]](8), mg = opt[Array[Byte]](9),
          sumV = opt[java.math.BigDecimal](10)
            .map(d => BigInt(d.toBigIntegerExact)),
          seq = seqNo)
      }
    }
    ManifestIO.writeSidecar(
      spark.sessionState.newHadoopConf(), colStatsDir(table), rows)
  }

  /** Enable incremental column stats for `columns`: ONE seeding scan
    * over the current live files now, then every mutation maintains
    * the sidecar and [[syncCatalogColumnStats]] merges it scan-free —
    * "analyze once, incremental forever" where Spark's ANALYZE
    * re-scans per invocation. Re-enabling re-seeds (newest seq wins
    * at merge). The marker lands AFTER the seed, so a crash mid-seed
    * retries cleanly.
    */
  def enableColumnStats(
      spark: SparkSession, table: String,
      columns: Seq[String]): Unit = locked(table) {
    require(columns.nonEmpty, "enableColumnStats: no columns given")
    val f = fs(spark, root)
    val live = liveManifest(spark, table, reconcileWithListing = false)
      .map(_.file)
    if (live.nonEmpty) {
      val schema = read(spark, table).schema
      columns.foreach(c => require(schema.fieldNames.contains(c),
        s"enableColumnStats: table '$table' has no column '$c'"))
      f.delete(new Path(colStatsDir(table)), true)
      appendColStats(spark, table, live, columns)
    } else
      // FRESH table (HCL `stats_columns` enables stats before the
      // first collect): nothing to seed — the marker alone arms the
      // per-append sidecar writes, so the first append already has
      // stats rows (r16 task 5). Column names can't be validated yet;
      // appendColStats skips (and warns on) names absent from the
      // data when it runs.
      f.delete(new Path(colStatsDir(table)), true)
    val out = f.create(colStatsMarker(table), true)
    try out.write(columns.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Backfill colstats sidecar rows for live files that are missing
    * any enabled column — files re-added by vacuum's recovery path or
    * whose colstats append crashed mid-write otherwise stay invisible
    * to NDV/null merging FOREVER (zone pruning is merely conservative
    * for them, but [[syncCatalogColumnStats]] silently under-counts
    * with no signal — r16 ADVICE). One bounded scan of exactly the
    * missing files; returns how many files were backfilled. Called
    * from [[Maintenance.vacuum]] (the re-sync valve).
    */
  private[lake] def backfillMissingColStats(
      spark: SparkSession, table: String): Int = locked(table) {
    val cols = colStatsColumns(spark, table)
    if (cols.isEmpty) return 0
    healSwapAsides(spark, table)
    val snap = metaSnapshot(spark, table)
    val covered: Set[String] = snap.sidecar.keys.groupBy(_._1).collect {
      case (f, keys) if cols.forall(c => keys.exists(_._2 == c)) => f
    }.toSet
    val missing = snap.manifest.keys.filterNot(covered).toSeq.sorted
    if (missing.nonEmpty) appendColStats(spark, table, missing, cols)
    missing.size
  }

  /** Merge the sidecar into per-column `CatalogColumnStat`s and write
    * them to the catalog (with the manifest-derived rowCount/size) —
    * metadata-sized: sketches union, counters sum, no data scan.
    * Returns (column → (ndv, nullCount)) for reporting, or None when
    * column stats aren't enabled.
    */
  def syncCatalogColumnStats(
      spark: SparkSession, table: String)
      : Option[Map[String, (Long, Long)]] =
    syncCatalogColumnStats(spark, table, histograms = true)

  /** As above with the histogram merge explicit: `histograms = false`
    * writes min/max/NDV/null stats only — the measurement control for
    * the broadcast-flip pin (skewed-value filter selectivity is
    * exactly where min/max uniformity misestimates by orders of
    * magnitude, LakeSpec).
    */
  def syncCatalogColumnStats(
      spark: SparkSession, table: String, histograms: Boolean)
      : Option[Map[String, (Long, Long)]] =
    catalogColumnStats(spark, table, histograms).map { stats =>
      if (catalogEntry(spark, table).isDefined) {
        // table-level numbers first (manifest-derived), then ONE alter
        // carrying both so the column stats land atomically with them
        val base = syncCatalogStats(spark, table)
        base.foreach { case (rows, size) =>
          spark.sessionState.catalog.alterTableStats(
            org.apache.spark.sql.catalyst.TableIdentifier(table),
            Some(org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
              BigInt(size), Some(BigInt(rows)), stats)))
          spark.catalog.refreshTable(s"`$table`")
        }
      }
      stats.map { case (c, s) =>
        c -> ((s.distinctCount.get.toLong, s.nullCount.get.toLong))
      }
    }

  /** The per-column `CatalogColumnStat`s merged from the live sidecar
    * rows, or None when column stats aren't enabled.
    */
  private[lake] def catalogColumnStats(
      spark: SparkSession, table: String, histograms: Boolean)
      : Option[Map[String, org.apache.spark.sql.catalyst.catalog.CatalogColumnStat]] = {
    val cols = colStatsColumns(spark, table)
    if (cols.isEmpty) return None
    val live = locked(table) {
      healSwapAsides(spark, table)
      if (!fs(spark, root).exists(new Path(colStatsDir(table))))
        return None
      liveSidecarRows(spark, table)
    }
    val schema = read(spark, table).schema
    def extString(dt: DataType, d: Double): Option[String] = dt match {
      case IntegerType | LongType | ShortType | ByteType =>
        Some(math.round(d).toString)
      case DoubleType => Some(d.toString)
      case FloatType => Some(d.toFloat.toString)
      case _ => None // timestamps/decimals: external-string format is
        // formatter-dependent — a wrong range bound misestimates
        // silently, so omit rather than guess
    }
    // the sidecar rows are already on the driver: sketches union,
    // counters sum, ranges fold, with no Spark job
    val byDouble = Ordering.Double.TotalOrdering
    val stats = live.groupBy { case ((_, c), _) => c }.map { case (c, group) =>
      val ss = group.map(_._2)
      val dt = schema(c).dataType
      val ndv = graft.functions.NdvFns.unionEstimate(ss.flatMap(_.sketch))
      val nulls = ss.map(_.nulls).sum
      val nonNull = math.max(0L, ss.map(_.n).sum - nulls)
      val avgLen = ss.flatMap(_.sumLen).reduceOption(_ + _)
        .filter(_ => nonNull > 0)
        .map(l => math.max(1L, math.round(l.toDouble / nonNull)))
      val maxLen = ss.flatMap(_.maxLen).maxOption
      val minS = ss.flatMap(_.minD).minOption(byDouble).flatMap(extString(dt, _))
      val maxS = ss.flatMap(_.maxD).maxOption(byDouble).flatMap(extString(dt, _))
      // table-level distribution: union of the per-file KLL sketches —
      // valid only when EVERY live file contributed one (a partial
      // union would mis-weight the histogram, which can bias estimates
      // either direction; missing-sketch files flip histograms off
      // instead, conservatively)
      val histogram =
        if (histograms && dt.isInstanceOf[NumericType] &&
          ss.forall(_.kll.isDefined))
          graft.functions.KllFns.equiHeightHistogram(
            graft.functions.QuantileFns.mergeBlobs(ss.flatMap(_.kll)),
            Lake.HistogramBins, ndv)
        else None
      c -> org.apache.spark.sql.catalyst.catalog.CatalogColumnStat(
        distinctCount = Some(BigInt(ndv)),
        min = minS, max = maxS,
        nullCount = Some(BigInt(nulls)),
        avgLen = avgLen, maxLen = maxLen,
        histogram = histogram)
    }
    Some(stats)
  }

  /** The removal twin of [[syncCatalogPartitions]]: a catalog
    * partition left pointing at a deleted dir fails the next
    * catalog-planned scan outright (missing path) — drop the entries
    * with the dirs. No-op when the table isn't registered.
    */
  private[lake] def dropCatalogPartitions(
      spark: SparkSession, table: String, removed: Seq[String]): Unit =
    if (removed.nonEmpty && catalogEntry(spark, table).isDefined) {
      removed.grouped(500).foreach { grp =>
        // note the dialect asymmetry: ADD takes space-separated
        // PARTITION specs, DROP takes comma-separated
        spark.sql(s"ALTER TABLE `$table` DROP IF EXISTS " +
          grp.map(partitionSpecSql).mkString(", "))
        ()
      }
      spark.catalog.refreshTable(s"`$table`")
    }

  /** Relative partition dirs (Hive-escaped) a batch will write to. */
  private def touchedDirs(batch: DataFrame): Seq[String] =
    batch.select(TpSchema.partitionCols.map(col): _*).distinct()
      .collect().toSeq.map { r =>
        TpSchema.partitionCols.map { c =>
          val v = r.getAs[Any](c)
          val seg = if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            else ExternalCatalogUtils.escapePathName(v.toString)
          s"$c=$seg"
        }.mkString("/")
      }

  /** Recursive (path, size) enumeration of every FILE under `base`.
    * Two paths by filesystem kind:
    *  - local (`file:`/bare): java.nio Files.walk — Hadoop's
    *    LocalFileSystem recursive `listFiles` pays per-file
    *    checksum-probe + located-status overhead (measured 38.7 s on
    *    a 17k-file / 1 400-dir tree that NIO walks in 30 ms; the
    *    partition_stress rehearsal's first finding)
    *  - remote (s3a/hdfs/…): Hadoop's `listFiles(recursive)` — on
    *    object stores that is one batched flat LIST per few thousand
    *    keys, exactly what a 100 TB lake wants; never walk those
    *    dir-by-dir
    */
  private def isLocalFs(f: FileSystem): Boolean =
    f.getScheme == "file" ||
      f.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      f.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]

  private def walkFiles(
      f: FileSystem, base: Path): Seq[Lake.ListedFile] = {
    val isLocal = isLocalFs(f)
    if (isLocal) {
      val start = java.nio.file.Paths.get(base.toUri.getPath)
      if (!java.nio.file.Files.exists(start)) return Seq.empty
      val stream = java.nio.file.Files.walk(start)
      try {
        val out = Seq.newBuilder[Lake.ListedFile]
        stream.forEach { p =>
          // one stat per entry; a file removed since the walk saw it
          // is simply not listed
          val a = try java.nio.file.Files.readAttributes(p,
              classOf[java.nio.file.attribute.BasicFileAttributes])
            catch { case _: java.nio.file.NoSuchFileException => null }
          if (a != null && a.isRegularFile) out += Lake.ListedFile(
            p.toString, a.size, a.lastModifiedTime.toMillis)
        }
        out.result()
      } finally stream.close()
    } else {
      if (!f.exists(base)) return Seq.empty
      val it = f.listFiles(base, true)
      val out = Seq.newBuilder[Lake.ListedFile]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) out += Lake.ListedFile(
          st.getPath.toUri.getPath, st.getLen, st.getModificationTime)
      }
      out.result()
    }
  }

  /** [[dataFiles]] restricted to the given relative partition dirs. */
  private[lake] def dataFilesUnder(
      spark: SparkSession, table: String, relDirs: Seq[String]): Seq[String] = {
    val f = fs(spark, root)
    relDirs.flatMap { rel =>
      val base = new Path(s"${tableDir(table)}/$rel")
      walkFiles(f, base).map(_.path).filter { p =>
        p.endsWith(".parquet") && {
          val name = p.substring(p.lastIndexOf('/') + 1)
          !name.startsWith("_") && !name.startsWith(".")
        }
      }
    }.sorted
  }

  /** All data-file paths of a table (excludes manifest + markers),
    * normalized to bare paths so they compare equal to
    * `input_file_name()`-derived paths.
    */
  def dataFiles(spark: SparkSession, table: String): Seq[String] =
    listDataFiles(spark, table).map(_.path)

  /** [[dataFiles]] with each file's length and modification time,
    * sorted by path.
    */
  private[graft] def listDataFiles(
      spark: SparkSession, table: String): Seq[Lake.ListedFile] =
    listDataFiles(fs(spark, root), table)

  private def listDataFiles(
      f: FileSystem, table: String): Seq[Lake.ListedFile] = {
    val base = new Path(tableDir(table))
    val baseUri = base.toUri.getPath
    walkFiles(f, base).filter { lf =>
      val p = lf.path
      p.endsWith(".parquet") && {
        // skip hidden trees (same rule as Spark's scan): any path
        // segment below the table root starting with '_' or '.' —
        // this covers the manifest, staging, AND a crashed job's
        // leftover _temporary task files, which must never enter the
        // manifest or compaction plans
        val rel = p.stripPrefix(baseUri).stripPrefix("/")
        !rel.split('/').exists(seg =>
          seg.startsWith("_") || seg.startsWith("."))
      }
    }.sortBy(_.path)
  }

  /** (file count, total bytes) of one partition's data files, via the
    * Hadoop FS API (works on any filesystem the lake root lives on).
    * The walk starts at the PARTITION subtree, not the table root — a
    * table holds many partitions and this is a hot per-partition
    * planning call; listing everything to filter one `tp_partition=`
    * marker out again was an O(table) cost for an O(partition) answer
    * (verdict r12 task 4).
    */
  def partitionFileSize(
      spark: SparkSession, table: String, partition: String): (Long, Long) = {
    val seg = "tp_partition=" +
      ExternalCatalogUtils.escapePathName(partition)
    val base = new Path(s"${tableDir(table)}/$seg")
    val baseUri = base.toUri.getPath
    // sizes come from the same single walk as the enumeration — a
    // second per-file getFileStatus loop doubles the metadata cost
    val files = walkFiles(fs(spark, root), base).filter { lf =>
      val p = lf.path
      p.endsWith(".parquet") && {
        val rel = p.stripPrefix(baseUri).stripPrefix("/")
        !rel.split('/').exists(s =>
          s.startsWith("_") || s.startsWith("."))
      }
    }
    (files.size.toLong, files.map(_.len).sum)
  }

  /** Next manifest `seq` for this table — monotonic across processes
    * (see [[Lake.seqCounters]]). The floor read costs one tiny
    * driver-side aggregate over the coalesced manifest, paid ONCE per
    * table per JVM; every later issue is an atomic increment.
    */
  private[lake] def nextSeq(spark: SparkSession, table: String): Long =
    Lake.nextSeq(root, table, manifestMaxSeq(spark, table))

  private def manifestMaxSeq(spark: SparkSession, table: String): Long =
    locked(table) {
      healSwapAsides(spark, table)
      // r19 optimization: max(seq) needs no data pages at all — seq is
      // a required int64, so every footer carries exact min/max stats;
      // the floor read drops from a Spark read+agg job to O(manifest
      // parts) footer reads (ManifestIO falls back to reading rows if
      // stats are ever absent).
      ManifestIO.maxSeq(
        spark.sessionState.newHadoopConf(), manifestDir(table)).getOrElse(0L)
    }

  /** Heal a crashed manifest/colstats swap (r16 ADVICE-medium): the
    * aside→in→drop pattern has a window between `rename(dir, _old)`
    * and `rename(_new, dir)` where the live dir is ABSENT — a crash
    * there used to lose all table stats silently until a manual
    * vacuum, and the compaction swap fires implicitly on the hot
    * append path. Recovery on open: when the live dir is missing,
    * complete the swap from a FINISHED `_new` (its `_SUCCESS` marker
    * proves the compacted rows are whole — they carry the same live
    * stats, so completing is strictly better than reverting), else
    * revert from `_old` (the pre-swap state). Idempotent; called
    * under the table lock from every manifest/colstats open.
    */
  private[lake] def healSwapAsides(
      spark: SparkSession, table: String): Unit =
    healSwapAsides(fs(spark, root), table)

  private def healSwapAsides(f: FileSystem, table: String): Unit =
    locked(table) {
      Lake.recoverSwapAside(f, manifestDir(table))
      Lake.recoverSwapAside(f, colStatsDir(table))
    }

  /** A manifest or sidecar swap left an aside dir (`_new`/`_old`):
    * mid-swap in a writer, or crashed until [[healSwapAsides]] runs.
    */
  private def swapAsidePending(f: FileSystem, table: String): Boolean =
    Seq(manifestDir(table), colStatsDir(table)).exists(d =>
      f.exists(new Path(d + "_new")) || f.exists(new Path(d + "_old")))

  /** Per-file manifest stats (rows, min_ts, max_ts, null-ts count)
    * for exactly `files`. One output row per file; metadata-sized.
    * Shared by [[manifestAppend]] (stats for an append's new files)
    * and [[Maintenance.vacuum]] (stats for files a crashed run
    * committed but never recorded).
    */
  private[lake] def statsFor(
      spark: SparkSession, table: String,
      files: Seq[String]): Seq[ManifestIO.FileStat] =
    if (files.isEmpty) Seq.empty
    else ManifestIO.footerStats(
        spark.sessionState.newHadoopConf(), files, TpSchema.Timestamp)
      // r19 optimization: the parquet writer already computed per-file
      // row counts and tp_timestamp min/max/null counts — read them
      // from the FOOTERS (one ~KB metadata read per file) instead of
      // re-scanning the data column. At 100 TB this turns an append's
      // stats job from a read of every new byte of tp_timestamp into
      // O(files) footer reads; locally it removes one Spark job per
      // mutation. footerStats is exact-or-None (INT96 vintages,
      // missing stats → None) and ManifestIOSpec pins footer == scan
      // on every shape, so the fallback below keeps behavior identical
      // when footers can't prove the answer.
      .getOrElse(statsForScan(spark, table, files))

  private def statsForScan(
      spark: SparkSession, table: String,
      files: Seq[String]): Seq[ManifestIO.FileStat] =
    {
      val raw = readFiles(spark, table, statusesOf(spark, files))
        .select(col(TpSchema.Timestamp))
        .withColumn("file", input_file_name())
        .groupBy("file")
        .agg(count(lit(1)).as("rows"),
          min(TpSchema.Timestamp).as("min_ts"),
          max(TpSchema.Timestamp).as("max_ts"),
          count(col(TpSchema.Timestamp)).as("ts_n"))
        .collect()
      // input_file_name() yields percent-encoded URIs (scheme +
      // authority); java.net.URI.getPath both strips them and
      // decodes, landing on exactly the form dataFiles'
      // Path.toUri.getPath produces — a regex scheme-strip would
      // keep the authority and the %-escapes, so manifest paths
      // would never match on s3a/hdfs roots or escaped partition
      // values
      raw.toSeq.map { r =>
        ManifestIO.FileStat(new java.net.URI(r.getString(0)).getPath,
          r.getLong(1), Option(r.getTimestamp(2)),
          Option(r.getTimestamp(3)), Some(r.getLong(1) - r.getLong(4)))
      }
    }

  /** ONE manifest append covering a whole mutation: stats rows for the
    * files it added AND tombstone rows (`rows = -1`) for the files it
    * removed, sharing the columns so old and new manifest files mix
    * without schema merging and `max_by(seq)` reconciliation makes the
    * newest row win. A mutation's added and removed sets are disjoint,
    * so one `seq` covers both halves — and one driver-written part
    * (the added files' row counts and tp_timestamp ranges come from
    * their footers, see [[statsFor]]) is the mutation's entire
    * manifest cost; the r13 shape paid two append jobs per overwrite. With every removal path tombstoning, the
    * manifest alone answers "what files are live" and planning never
    * needs a live recursive listing (verdict r12 task 4) — the listing
    * reconciliation remains as [[fileStats]]' local-FS mode and
    * [[Maintenance.vacuum]]'s re-sync valve.
    */
  private[lake] def manifestAppend(
      spark: SparkSession, table: String,
      added: Seq[String], removed: Seq[String]): Unit = {
    if (added.isEmpty && removed.isEmpty) return
    val seqNo = nextSeq(spark, table)
    val statsRows = statsFor(spark, table, added).map(_.row(seqNo))
    val tombRows = removed.map(f =>
      ManifestIO.MRow(f, -1L, None, None, seqNo))
    // r19 optimization: the manifest append is a KB-sized metadata
    // write — a direct driver-side parquet write (tmp + rename, same
    // visibility contract as the committer) instead of a one-task
    // Spark job per mutation. Byte-compatible schema; Spark and
    // ManifestIO readers both consume mixed old/new dirs.
    ManifestIO.writeManifest(spark.sessionState.newHadoopConf(),
      manifestDir(table), statsRows ++ tombRows)
    // incremental column stats, when enabled: one aggregate over
    // exactly the added files, every stats column at once, written as
    // one driver-side sidecar part (removals need nothing — merge time
    // semi-joins against the live manifest)
    val csCols = colStatsColumns(spark, table)
    if (csCols.nonEmpty && added.nonEmpty)
      appendColStats(spark, table, added, csCols)
    maybeCompactManifest(spark, table)
  }

  /** Collapse the manifest to its newest-row-per-file live shape once
    * it exceeds `manifestCompactThreshold` files — one part per
    * mutation is the right write shape, but a mutation-heavy table that
    * is never vacuumed accumulates one tiny parquet file per mutation
    * and every planning read ([[manifestMaxSeq]], [[fileStats]]) then
    * opens N small files (r14 verdict task 4). The colstats sidecar
    * accumulates the same way and collapses at the same threshold to
    * its snapshot's live rows (newest row per (file, column), dead
    * files dropped). This is vacuum's rewrite minus the listing
    * reconciliation (pure metadata, no filesystem walk): both dirs are
    * written on the driver ([[ManifestIO.writeManifest]],
    * [[ManifestIO.writeSidecar]]), no Spark job, under the same table
    * lock and the same aside→in→drop swap (a crash at any point leaves
    * the old or the new dir whole). Stats are IDENTICAL before and
    * after by construction: fileStats reads newest-per-file and drops
    * tombstoned files, which is exactly the row set this rewrite keeps.
    */
  private def maybeCompactManifest(
      spark: SparkSession, table: String): Unit = {
    val filesys = fs(spark, root)
    def countFiles(dir: Path): Int =
      if (!filesys.exists(dir)) 0
      else filesys.listStatus(dir).count { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    // every swap rename is CHECKED (r19 ADVICE-medium): on HDFS
    // semantics a failed rename returns false rather than throwing,
    // and proceeding would move `_new` INSIDE the still-live dir
    // (silently disabling compaction forever) or delete `_old` while
    // it is the only complete copy — abort before the delete instead
    // and let healSwapAsides recover on the next open, exactly like
    // the append staging move.
    def renameOrThrow(src: Path, dst: Path): Unit =
      if (!filesys.rename(src, dst))
        throw new java.io.IOException(
          s"manifest swap rename failed: $src -> $dst")
    // `write` fills the `_new` aside (tmp + _SUCCESS), then the
    // aside→in→drop renames put it in place
    def swap(dir: Path)(write: String => Unit): Unit = locked(table) {
      val tmp = new Path(dir.toString + "_new")
      val old = new Path(dir.toString + "_old")
      filesys.delete(tmp, true)
      write(tmp.toString)
      filesys.delete(old, true)
      if (filesys.exists(dir)) renameOrThrow(dir, old)
      renameOrThrow(tmp, dir)
      filesys.delete(old, true)
      ()
    }
    healSwapAsides(spark, table)
    val mdir = new Path(manifestDir(table))
    if (countFiles(mdir) > manifestCompactThreshold) swap(mdir) { tmp =>
      val seqNo = nextSeq(spark, table)
      val rows = ManifestIO.readManifest(
          spark.sessionState.newHadoopConf(), manifestDir(table))
        .groupBy(_.file).valuesIterator.map(_.maxBy(_.seq))
        .filter(_.rows >= 0L)
        .map(_.copy(seq = seqNo)).toSeq
      ManifestIO.writeManifest(spark.sessionState.newHadoopConf(), tmp, rows)
    }
    val cdir = new Path(colStatsDir(table))
    if (countFiles(cdir) > manifestCompactThreshold) swap(cdir) { tmp =>
      // column-major, as appendColStats writes its parts
      ManifestIO.writeSidecar(spark.sessionState.newHadoopConf(), tmp,
        liveSidecarRows(spark, table).sortBy { case ((f, c), _) => (c, f) })
    }
  }

  /** The snapshot's newest-seq sidecar rows for files the manifest
    * holds live — the metadata-sized input of the sidecar compaction
    * and of the catalog-stats merge.
    */
  private[lake] def liveSidecarRows(
      spark: SparkSession, table: String)
      : Seq[((String, String), Lake.SideStat)] = {
    val snap = metaSnapshot(spark, table)
    snap.sidecar.toSeq.filter { case ((file, _), _) =>
      snap.manifest.contains(file)
    }
  }

  private def recordStats(
      spark: SparkSession, table: String, added: Seq[String]): Unit =
    manifestAppend(spark, table, added, Seq.empty)

  private[lake] def noteRemoved(
      spark: SparkSession, table: String, removed: Seq[String]): Unit =
    manifestAppend(spark, table, Seq.empty, removed)

  /** Per-file stats from the manifest, restricted to files that still
    * exist (compaction/retention replace files; their manifest rows
    * are superseded by newer appends or tombstones rather than
    * rewritten — the read reconciles, keeping the newest row per path
    * when a swap reused a file name). Two liveness modes:
    *
    *  - `reconcileWithListing = true`: semi-join against a live
    *    recursive listing — ground truth, chosen by default on LOCAL
    *    filesystems where the NIO walk is ~free.
    *  - `false`: trust the manifest's tombstones (every removal path
    *    appends them) — the object-store mode, where a recursive LIST
    *    over a 100 TB tree is the cost being avoided. [[Maintenance
    *    .vacuum]] re-syncs the manifest from a real listing, so drift
    *    from a crashed historical run is bounded by the vacuum cadence.
    *    LakeSpec pins the two modes equal across every mutation path.
    */
  def fileStats(spark: SparkSession, table: String): DataFrame =
    fileStatsOf(spark, liveManifest(spark, table))

  def fileStats(
      spark: SparkSession, table: String,
      reconcileWithListing: Boolean): DataFrame =
    fileStatsOf(spark, liveManifest(spark, table, reconcileWithListing))

  /** `rows`, manifest rows, as a [[fileStats]] DataFrame. */
  private[lake] def fileStatsOf(
      spark: SparkSession, rows: Seq[ManifestIO.MRow]): DataFrame = {
    val schema = StructType(Seq(
      StructField("file", StringType),
      StructField("rows", org.apache.spark.sql.types.LongType,
        nullable = false),
      StructField("min_ts", org.apache.spark.sql.types.TimestampType),
      StructField("max_ts", org.apache.spark.sql.types.TimestampType)))
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(
        r.file, r.rows, r.minTs.orNull, r.maxTs.orNull)).asJava,
      schema)
  }

  /** [[liveManifest]] in [[fileStats]]' default liveness mode. */
  private[lake] def liveManifest(
      spark: SparkSession, table: String): Seq[ManifestIO.MRow] =
    liveManifest(spark, table,
      reconcileWithListing = isLocalFs(fs(spark, root)))

  /** The newest manifest row of every live file — [[fileStats]]' rows
    * with every recorded field, `ts_nulls` included.
    */
  private[lake] def liveManifest(
      spark: SparkSession, table: String,
      reconcileWithListing: Boolean): Seq[ManifestIO.MRow] = {
    // The read serializes with the compaction swap under the table
    // lock, after healing any crashed swap — a reader can no longer
    // observe the mid-swap absent-dir state from this JVM (r16
    // ADVICE-medium). r19 optimization: the manifest is metadata-sized
    // BY DESIGN and every consumer of fileStats collects it promptly,
    // so the newest-row-per-file reconciliation runs on the driver
    // over a direct parquet read — no Spark read job, no 32-partition
    // shuffle for a KB of metadata. fileStats' result is a
    // LocalRelation, which downstream joins (compaction planning)
    // broadcast for free.
    val rows = locked(table) {
      healSwapAsides(spark, table)
      ManifestIO.readManifest(
        spark.sessionState.newHadoopConf(), manifestDir(table))
    }
    val latest = rows.groupBy(_.file).valuesIterator.map(_.maxBy(_.seq))
      .filter(_.rows >= 0L) // newest row a tombstone → file is dead
      .toSeq
    if (!reconcileWithListing) latest
    else {
      val live = dataFiles(spark, table).toSet
      latest.filter(r => live(r.file))
    }
  }

  /** Change token over one metadata directory: sorted (name, size)
    * pairs hashed. Every mutation appends NEW uuid-named part files
    * (or swaps the dir for freshly-named compacted ones), so any
    * manifest/sidecar change moves the token. Metadata-sized: the
    * dirs hold one small parquet per mutation, self-compacted at the
    * threshold.
    */
  private def dirToken(f: FileSystem, dir: String): String = {
    val files = walkFiles(f, new Path(dir))
    val h = java.security.MessageDigest.getInstance("SHA-256")
    files.sortBy(_.path).foreach { lf =>
      h.update(lf.path.getBytes("UTF-8")); h.update(lf.len.toString.getBytes)
    }
    java.util.Base64.getEncoder.encodeToString(h.digest()).take(16)
  }

  private[lake] def metaToken(spark: SparkSession, table: String): String =
    metaToken(fs(spark, root), table)

  private def metaToken(f: FileSystem, table: String): String =
    dirToken(f, manifestDir(table)) + "|" + dirToken(f, colStatsDir(table))

  /** The table's [[Lake.MetaSnapshot]] — read in-process once per
    * mutation (manifest and sidecar parts, no Spark job), then served
    * from the JVM-wide cache on a matching token (one cheap
    * metadata-dir listing per probe). A cold `graft query` usually
    * finds it cached already: [[prefetch]] loads it while the session
    * starts, through the same [[loadSnapshot]], and this probe's token
    * check decides whether that copy still holds.
    */
  private[lake] def metaSnapshot(
      spark: SparkSession, table: String): Lake.MetaSnapshot = {
    val f = fs(spark, root)
    val key = snapshotKey(table)
    val probe = metaToken(f, table)
    Lake.cachedSnapshot(key).filter(_.token == probe) match {
      case Some(hit) => Lake.noteHit(key); hit
      case None =>
        Lake.noteMiss(key)
        val snap = locked(table) {
          healSwapAsides(f, table)
          // token read AFTER healing (the heal may swap the dirs)
          loadSnapshot(f, spark.sessionState.newHadoopConf(), table)
        }
        Lake.storeSnapshot(key, snap)
        snap
    }
  }

  private def snapshotKey(table: String): String = s"$root#$table"

  /** Read the table's manifest and sidecar into a snapshot stamped with
    * the token read before them. The one loader behind [[metaSnapshot]]
    * and [[prefetch]]; it neither heals nor caches.
    */
  private[lake] def loadSnapshot(
      f: FileSystem, conf: org.apache.hadoop.conf.Configuration,
      table: String): Lake.MetaSnapshot = {
    val token = metaToken(f, table)
    // r19 optimization: direct driver-side manifest read — the probe
    // already collects to a Map, so the Spark read+shuffle job bought
    // nothing (metadata-sized dir by construction)
    val manifest: Map[String, Lake.ManifestStat] =
      ManifestIO.readManifest(conf, manifestDir(table))
        .groupBy(_.file).valuesIterator.map(_.maxBy(_.seq))
        .filter(_.rows >= 0L)
        .map(r => r.file ->
          Lake.ManifestStat(r.rows, r.minTs, r.maxTs, r.tsNulls))
        .toMap
    // the sidecar the same way: newest-seq rows folded in-process, no
    // schema-inference job, no shuffle aggregate
    val sidecar = ManifestIO.readSidecar(conf, colStatsDir(table))
    Lake.MetaSnapshot(token, manifest, sidecar)
  }

  /** Files whose NEWEST manifest row is a tombstone — dead by
    * manifest truth even if a crashed removal left them on disk.
    * Metadata-sized; [[Maintenance.vacuum]] excludes these from its
    * unrecorded-file recovery (resurrecting them would undo a delete).
    */
  private[lake] def tombstonedFiles(
      spark: SparkSession, table: String): Set[String] =
    // r19: direct driver-side manifest read (see fileStats)
    ManifestIO.readManifest(
        spark.sessionState.newHadoopConf(), manifestDir(table))
      .groupBy(_.file).valuesIterator.map(_.maxBy(_.seq))
      .filter(_.rows < 0L).map(_.file).toSet

  /** ZONE-MAP pruned read over ANY numeric column with colstats
    * enabled — the generalization of the manifest's tp_timestamp
    * skipping ([[ZoneMapFileIndex]]), fed by the same per-file
    * `_graft_colstats` rows the CBO merge uses (their min_d/max_d are
    * per-file zone maps, the DuckLake/Delta file-skipping move for
    * non-partition columns).
    * Skip a file only when its live range for `column` PROVABLY
    * misses `[lo, hi]`. Conservative by construction: no sidecar at
    * all, no live row for the file, or a null range (all-null file —
    * a range predicate can't match null anyway, but a caller might
    * compose with IS NULL, so include it) → the file is read. The
    * caller still applies the row-level filter — this prunes I/O,
    * not rows, so a lagging sidecar can only over-read, never drop.
    * The sidecar read is metadata-sized and the driver holds only the
    * surviving path list.
    */
  def readPrunedByColumn(
      spark: SparkSession, table: String, column: String,
      lo: Double, hi: Double): DataFrame =
    readPrunedFlags(spark, table, column, s => (s.minD, s.maxD) match {
      case (Some(mn), Some(mx)) => mn <= hi && mx >= lo
      case _ => true
    })

  /** String twin of [[readPrunedByColumn]]: lexicographic per-file
    * ranges (`min_s`/`max_s` in the sidecar) skip files whose string
    * range misses `[lo, hi]` — the pruning shape for source/URL/
    * category predicates, including prefix scans (`lo = "s3://a/"`,
    * `hi = "s3://a/" + '￿'`). Same conservative fallbacks.
    */
  def readPrunedByColumn(
      spark: SparkSession, table: String, column: String,
      lo: String, hi: String): DataFrame =
    readPrunedFlags(spark, table, column, s => (s.minS, s.maxS) match {
      case (Some(mn), Some(mx)) => mn <= hi && mx >= lo
      case _ => true
    })

  /** Files whose newest sidecar row for `column` fails `keep` are
    * skipped; files without one are read. The rows come from the
    * table's [[metaSnapshot]], so pruning runs no Spark job.
    */
  private def readPrunedFlags(
      spark: SparkSession, table: String, column: String,
      keep: Lake.SideStat => Boolean): DataFrame = {
    if (!fs(spark, root).exists(new Path(colStatsDir(table))))
      return read(spark, table)
    val sidecar = metaSnapshot(spark, table).sidecar
    readFiles(spark, table, listDataFiles(spark, table)
      .filter(f => sidecar.get((f.path, column)).forall(keep)))
  }

  /** JOIN-KEY file skipping: the runtime-filter move at the FILE
    * level. For `fact JOIN dim ON fact.column = dim.key` with a
    * selective dim predicate, the surviving key set is collected from
    * `keys` (the dim side AFTER its filters — the same small side a
    * broadcast join ships anyway) and fact files whose zone range for
    * `column` provably contains NONE of the keys are skipped before
    * the scan. Spark's own `InjectRuntimeFilter` prunes at the
    * ROW-GROUP level inside files it has already opened; this prunes
    * whole files from the plan using the `_graft_colstats` sidecar,
    * which at 100 TB is the difference between listing+opening 10⁶
    * footers and skipping them. The reference gets the equivalent from
    * DuckDB's dynamic filter pushdown over DuckLake stats.
    *
    * Semantics: the result contains AT LEAST every fact row whose
    * `column` value appears in `keys` — the caller still performs the
    * join, so pruning is a scan reduction, never a semantics change
    * (the qi32 oracle recomputes the join from raw rows and gates
    * exactly this). Conservative fallbacks mirror
    * [[readPrunedByColumn]]: no sidecar, a file missing stats, or null
    * zone bounds keep the file.
    *
    * Scale shape: `keys` is distinct-collected to the driver capped at
    * `maxKeys` values (the DPP/broadcast-side footprint); past the cap
    * ONE aggregate job reduces the key set to its [min, max] band and
    * pruning degrades gracefully to the band test. Per-file key
    * membership is a binary search over the sorted key array —
    * O(files · log keys) driver work on metadata the driver already
    * holds. Numeric ranges widen one ULP (zone bounds are double-cast
    * aggregates); string keys compare in UTF8 BYTE order, the order
    * the sidecar's min/max were computed in. NaN keys disable pruning
    * entirely (Spark joins treat NaN = NaN as a match; zone ranges
    * can't see it soundly).
    */
  def readJoinPruned(
      spark: SparkSession, table: String, column: String,
      keys: DataFrame, maxKeys: Int = 4096): DataFrame = {
    require(keys.schema.length == 1,
      s"readJoinPruned: keys must have exactly one column, got " +
        s"${keys.schema.fieldNames.mkString(", ")}")
    val dt = keys.schema.head.dataType
    val keyCol = keys.schema.head.name
    // NOT na.drop: that drops NaN keys too, and a NaN key must reach
    // the NaN valve below (Spark joins match NaN = NaN — silently
    // dropping it would prune files holding NaN rows)
    val nonNull = keys.where(col(keyCol).isNotNull)
    val distinct = nonNull.distinct().limit(maxKeys + 1).collect()
    // an empty key set joins to nothing: preserve schema, scan nothing
    if (distinct.isEmpty) return read(spark, table).where(lit(false))
    if (distinct.length > maxKeys) dt match {
      // past the cap: ONE agg job reduces the keys to a band
      case StringType =>
        val r = nonNull.agg(min(col(keyCol)), max(col(keyCol))).head()
        readPrunedByColumn(spark, table, column,
          r.getString(0), r.getString(1))
      case _: NumericType =>
        val r = nonNull.select(col(keyCol).cast("double").as("k"))
          .agg(min(col("k")), max(col("k"))).head()
        // the NaN valve, over-cap edition: Spark orders NaN greatest,
        // so any NaN key surfaces as max = NaN here — and a [lo, NaN]
        // band matches NO stats-covered file (min_d <= NaN is false),
        // which would silently prune every file instead of none
        // (r16 ADVICE-medium). NaN keys disable pruning entirely.
        if (r.getDouble(0).isNaN || r.getDouble(1).isNaN)
          read(spark, table)
        else readPrunedByColumn(spark, table, column,
          Math.nextDown(r.getDouble(0)), Math.nextUp(r.getDouble(1)))
      case _ => read(spark, table) // unsupported key type: no pruning
    } else dt match {
      case StringType =>
        import org.apache.spark.unsafe.types.UTF8String
        val ks: Array[Array[Byte]] = distinct
          .map(r => UTF8String.fromString(r.getString(0)).getBytes)
          .sortWith((a, b) => ZoneMapFileIndex.byteCompare(a, b) < 0)
        def lowerBound(lo: Array[Byte]): Int = {
          var l = 0; var h = ks.length
          while (l < h) {
            val m = (l + h) >>> 1
            if (ZoneMapFileIndex.byteCompare(ks(m), lo) < 0) l = m + 1
            else h = m
          }
          l
        }
        readPrunedFlags(spark, table, column, s => (s.minS, s.maxS) match {
          case (Some(mn), Some(mx)) =>
            val lo = UTF8String.fromString(mn).getBytes
            val hi = UTF8String.fromString(mx).getBytes
            val i = lowerBound(lo)
            i < ks.length && ZoneMapFileIndex.byteCompare(ks(i), hi) <= 0
          case _ => true
        })
      case _: NumericType =>
        val ks: Array[Double] = distinct
          .map(_.get(0).asInstanceOf[Number].doubleValue).sorted
        if (ks.exists(_.isNaN)) return read(spark, table)
        readPrunedFlags(spark, table, column, s => (s.minD, s.maxD) match {
          case (Some(mn), Some(mx)) =>
            val lo = Math.nextDown(mn)
            val hi = Math.nextUp(mx)
            val res = java.util.Arrays.binarySearch(ks, lo)
            val i = if (res >= 0) res else -(res + 1)
            i < ks.length && ks(i) <= hi
          case _ => true
        })
      case _ => read(spark, table) // unsupported key type: no pruning
    }
  }

  // ------- metadata-only aggregates: the scan-free answer path -------

  /** Exactness threshold for integer bounds stored as doubles: at and
    * above 2^53 a double no longer represents every long, so a stored
    * zone bound may have rounded across the true extreme — files whose
    * long-typed bounds reach this magnitude are left to scan instead
    * of answering from metadata.
    */
  private val ExactLongBound: Double = 9007199254740992.0 // 2^53

  import Lake.{MetaParts, Needs, StatsAggParts}

  /** The metadata parts planner behind every scan-free answer of
    * [[MetadataAggregateRule]].
    * In-process metadata only (the table's [[metaSnapshot]] and the
    * listing): no Spark job, never a data file, safe to call from an
    * optimizer rule.
    *
    * Live truth is the LISTING: a live file the manifest never
    * recorded must scan, and a manifest row for a file the listing no
    * longer holds is ignored. Files failing `fileFilter` (a
    * per-directory predicate) leave both sides, as partition pruning
    * would; so do files the manifest proves outside every one of
    * `bands`. The rest either answer from metadata — every column of
    * `needs` is covered for them — or go to the scan list.
    *
    * Under a time predicate (`bands`: disjoint sorted closed micros
    * intervals) or a bucket key (`bucketIdOf`, MONOTONE in micros) a
    * file answers from metadata only when its manifest ts range lies
    * inside ONE band and maps to ONE bucket id, and its manifest row
    * (or, for rows written before the manifest recorded `ts_nulls`,
    * its `tp_timestamp` sidecar row) proves it holds no null
    * `tp_timestamp` (a null fails the band yet counts in the file's
    * rows). Monotonicity makes `idOf(min) == idOf(max)` prove every
    * row shares the bucket, for calendar grains as for fixed widths.
    *
    * Partials are keyed by (bucket id, `groupOf` projection); None
    * when the table has no data or lacks a needed column.
    * `knownSchema` is the table's schema when the caller already holds
    * it (the rule has its relation's); otherwise a read supplies it.
    */
  private[graft] def metaParts(
      spark: SparkSession, table: String, needs: Needs,
      bands: Option[Seq[(Long, Long)]] = None,
      bucketIdOf: Option[Long => Long] = None,
      groupOf: String => Seq[String] = _ => Nil,
      fileFilter: String => Boolean = _ => true,
      knownSchema: Option[StructType] = None): Option[MetaParts] = {
    // one walk answers "has data", the schema's read and the live set
    val listed = listDataFiles(spark, table)
    if (listed.isEmpty) return None
    val schema = knownSchema.getOrElse(read(spark, table, listed).schema)
    if (!needs.columns.forall(schema.fieldNames.contains)) return None
    val snap = metaSnapshot(spark, table)
    def range(f: String): Option[(Long, Long)] =
      snap.manifest.get(f).flatMap(m => m.minUs.zip(m.maxUs))
    def nullFree(f: String): Boolean =
      snap.manifest.get(f).flatMap(_.tsNulls)
        .orElse(snap.tsNulls.get(f)).contains(0L)
    // a file the manifest proves all-null-ts holds no row a band admits
    def allNullTs(f: String): Boolean = snap.manifest.get(f)
      .exists(m => m.minTs.isEmpty && m.tsNulls.contains(m.rows))
    val live = listed.filter(lf => fileFilter(lf.path))
    val candidates = bands.fold(live)(bs => live.filterNot(lf =>
      allNullTs(lf.path) || range(lf.path).exists { case (mn, mx) =>
        bs.forall { case (lo, hi) => mx < lo || mn > hi }
      }))
    val eligible = candidates.map(_.path).filter(f =>
      (bands.isEmpty && bucketIdOf.isEmpty) || (range(f).exists {
        case (mn, mx) =>
          bands.forall(_.exists { case (lo, hi) => mn >= lo && mx <= hi }) &&
            bucketIdOf.forall(idOf => idOf(mn) == idOf(mx))
      } && nullFree(f)))
    val (groups, covered) = partials(spark, table, snap, schema, needs,
      eligible, f => (bucketIdOf.map(_(range(f).get._1)), groupOf(f)))
    val toScan = candidates.filterNot(lf => covered(lf.path))
    // |Σ c| over the files left to scan is at most Σ rows × max(|min
    // c|, |max c|) of their zones: the bound the merged total of a
    // hybrid sum is gated on. None when a file has no zone for c.
    def absBound(f: String, c: String): Option[BigInt] =
      snap.manifest.get(f).flatMap { m =>
        if (TpSchema.partitionCols.contains(c))
          partitionValues(relOf(table, f)).get(c)
            .filterNot(_ == org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.DEFAULT_PARTITION_NAME) match {
            case None => Some(BigInt(0))
            case Some(v) => v.toLongOption.map(l => BigInt(l).abs * m.rows)
          }
        else snap.sidecar.get((f, c)).filter(_.n == m.rows).flatMap { z =>
          if (z.nulls == z.n) Some(BigInt(0))
          else z.minD.zip(z.maxD).map { case (lo, hi) =>
            BigDecimal(Math.nextUp(math.max(math.abs(lo), math.abs(hi))))
              .setScale(0, BigDecimal.RoundingMode.CEILING).toBigInt *
              m.rows
          }
        }
      }
    val scanBounds = needs.sums.map(c => c ->
      toScan.foldLeft(Option(BigInt(0))) { (acc, lf) =>
        acc.flatMap(a => absBound(lf.path, c).map(a + _))
      }).toMap
    Some(MetaParts(groups, toScan, covered.size, scanBounds))
  }

  /** Distinct `tp_date` count per `groupOf` group, PROVABLE from the
    * manifest alone ("how many active days"). Without `bands` every
    * live file passing `fileFilter` must be day-contained (its manifest
    * ts range floors to ONE epoch day — it then contributes exactly
    * that day: the min row sits on it, and no row can sit on another)
    * or all-null-ts (no dates — SQL DISTINCT ignores nulls). With
    * `bands` a day-contained file must also lie inside one band or
    * fully outside all of them: a file partially overlapping a band
    * edge proves nothing, since no row is guaranteed inside. One such
    * file, one half-known range, or one unrecorded live file → None:
    * the set is no longer provable and the caller scans. Callers gate
    * on the reader session being UTC (the tp_date derivation
    * convention).
    */
  private[graft] def distinctDayCounts(
      spark: SparkSession, table: String,
      bands: Option[Seq[(Long, Long)]],
      groupOf: String => Seq[String] = _ => Nil,
      fileFilter: String => Boolean = _ => true)
      : Option[Map[Seq[String], Long]] = {
    if (!hasData(spark, table)) return Some(Map.empty)
    val snap = metaSnapshot(spark, table)
    val sets =
      scala.collection.mutable.Map[Seq[String],
        scala.collection.mutable.Set[Long]]()
    dataFiles(spark, table).filter(fileFilter).foreach { f =>
      val set = sets.getOrElseUpdate(groupOf(f),
        scala.collection.mutable.Set.empty[Long])
      snap.manifest.get(f) match {
        case None => return None // live but unrecorded: can't prove
        case Some(m) => (m.minUs, m.maxUs) match {
          case (None, None) => () // all-null-ts: no dates
          case (Some(mn), Some(mx)) =>
            if (bands.forall(_.exists { case (lo, hi) =>
                lo <= mn && mx <= hi })) {
              val d = Math.floorDiv(mn, 86400000000L)
              if (d != Math.floorDiv(mx, 86400000000L)) return None
              set += d
            } else if (!bands.exists(_.forall { case (lo, hi) =>
                mx < lo || mn > hi })) return None // band-edge overlap
          case _ => return None // half-known range: not provable
        }
      }
    }
    Some(sets.map { case (k, s) => k -> s.size.toLong }.toMap)
  }

  /** Per-group metadata partials over `files`, and the subset of them
    * the metadata covers for every column of `needs` (the rest must
    * scan). Driver-side and metadata-sized.
    */
  private def partials(
      spark: SparkSession, table: String,
      snap: Lake.MetaSnapshot, schema: StructType, needs: Needs,
      files: Seq[String], keyOf: String => Lake.PartsKey)
      : (Map[Lake.PartsKey, StatsAggParts], Set[String]) = {
    def dtOf(c: String): DataType = schema(c).dataType
    def minMaxFromZones(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | StringType => true
      case _ => false
    }
    val sidecar = snap.sidecar
    val utc = TpSchema.isUtcZone(spark.sessionState.conf.sessionLocalTimeZone)
    import needs.{counts, kll, mg, ndv, ranges, sums}

    // tp_timestamp's min/max is the manifest's per-file ts range, and
    // tp_date's (dates are monotone in ts; UTC-writer convention) its
    // day truncation — so when nothing but the range of either is
    // wanted, no sidecar row is needed at all
    def manifestRangeOnly(c: String): Boolean =
      ranges(c) && !counts(c) && !sums(c) && !ndv(c) && !kll(c) && !mg(c) &&
        (c == TpSchema.Timestamp ||
          (c == TpSchema.Date && dtOf(c) == DateType && utc))

    def usable(file: String, rows: Long, c: String): Boolean = {
      // physical partition columns are DIRECTORY truth (partitionBy
      // strips them from the files): count = rows of files whose dir
      // value is non-null, min/max = dir-value extremes, integral
      // sum = value × rows — all from the listing + manifest, no
      // sidecar row exists or is needed. The estimator aggregates
      // (ndv/quantile) stay scan-derived: there is no per-row sketch
      // for a column materialized from the path.
      if (TpSchema.partitionCols.contains(c))
        return !ndv(c) && !kll(c) && !mg(c) &&
          (dtOf(c) match {
          case IntegerType | LongType => true
          // a string directory value has count/min/max but no sum —
          // approving it for a sum/avg would MatchError in the
          // aggregation branch below (r18 ADVICE-low)
          case StringType => !sums(c)
          case _ => false
        })
      if (manifestRangeOnly(c)) return true
      val cov = sidecar.get((file, c))
      // tp_date DERIVES from tp_timestamp (null iff ts null; extremes
      // are the day-truncated manifest ts extremes under the UTC
      // convention) — when it has no sidecar row of its own, serve its
      // count from the tp_timestamp row and its ranges from the
      // manifest. Estimator aggregates still need a real blob.
      if (c == TpSchema.Date && cov.isEmpty)
        return dtOf(c) == DateType && utc &&
          !ndv(c) && !kll(c) && !sums(c) &&
          sidecar.get((file, TpSchema.Timestamp)).exists(_.n == rows)
      // count(c): needs the sidecar's null/row counts, and they must
      // describe THIS file state (n == manifest rows; files are
      // immutable, so a mismatch means a stale or foreign row)
      val countOk = cov.exists(_.n == rows)
      if (!countOk) return false
      // sum(c): needs the per-file value sum — a null sum_v on a file
      // with non-null rows is a pre-sum sidecar row (re-seed to fix)
      if (sums(c) && !cov.exists(r =>
        r.sumV.isDefined || r.nulls == r.n)) return false
      // ndv(c): needs the per-file HLL blob to union
      if (ndv(c) && !cov.exists(_.sketch.isDefined)) return false
      // graft_quantile(c): needs the per-file KLL blob to merge
      if (kll(c) && !cov.exists(_.kll.isDefined)) return false
      // graft_topk(c): needs the per-file frequent-items blob
      if (mg(c) && !cov.exists(_.mg.isDefined)) return false
      if (!ranges(c)) return true // count-only: null/row counts do
      if (c == TpSchema.Timestamp) return true // min/max manifest-served
      // tp_date min/max = day-truncated manifest ts extremes (dates
      // are monotone in ts); exact only under the engine's UTC-writer
      // convention, so gated on the reader session being UTC like the
      // rule's date band fold
      if (c == TpSchema.Date && utc) return true
      val dt = dtOf(c)
      minMaxFromZones(dt) && (dt match {
        case LongType => cov.exists { r =>
          r.minD.forall(d => math.abs(d) < ExactLongBound) &&
            r.maxD.forall(d => math.abs(d) < ExactLongBound)
        }
        case _ => true
      })
    }

    val covered: Seq[(String, Lake.ManifestStat)] = files.flatMap(f =>
      snap.manifest.get(f)
        .filter(m => needs.columns.forall(usable(f, m.rows, _)))
        .map(f -> _))

    // ---- metadata partial (driver-side, metadata-sized) ----
    def fromDouble(dt: DataType, d: Double): Any = dt match {
      case ByteType => d.toByte
      case ShortType => d.toShort
      case IntegerType => d.toInt
      case LongType => d.toLong
      case FloatType => d.toFloat
      case _ => d
    }

    val groups = covered.groupBy(kv => keyOf(kv._1))
      .map { case (key, files) =>
        val nRows: Long = files.map(_._2.rows).sum
        val cnt = scala.collection.mutable.Map[String, Long]()
          .withDefaultValue(0L)
        val mn = scala.collection.mutable.Map[String, Any]()
        val mx = scala.collection.mutable.Map[String, Any]()
        val sm = scala.collection.mutable.Map[String, BigInt]()
        def merge(c: String, dt: DataType, lo: Any, hi: Any): Unit = {
          if (lo != null &&
            (!mn.contains(c) || Lake.statsLt(dt, lo, mn(c)))) mn(c) = lo
          if (hi != null &&
            (!mx.contains(c) || Lake.statsLt(dt, mx(c), hi))) mx(c) = hi
        }
        // tp_timestamp: the manifest ts range as is; tp_date: its UTC
        // day truncation
        def manifestRange(c: String, m: Lake.ManifestStat): Unit =
          if (c == TpSchema.Timestamp)
            merge(c, dtOf(c), m.minTs.orNull, m.maxTs.orNull)
          else {
            def day(us: Option[Long]): java.sql.Date = us.map(u =>
              java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
                Math.floorDiv(u, 86400000000L)))).orNull
            merge(c, dtOf(c), day(m.minUs), day(m.maxUs))
          }
        files.foreach { case (file, m) =>
          needs.columns.foreach { c =>
            if (TpSchema.partitionCols.contains(c)) {
              // directory-truth column: one value for every row of the
              // file (usable() gated the type; DEFAULT_PARTITION = null)
              val dt = dtOf(c)
              val v: Any = partitionValues(relOf(table, file)).get(c)
                .filterNot(_ == org.apache.spark.sql.catalyst.catalog
                  .ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
                .map(s => dt match {
                  case IntegerType => Int.box(s.toInt)
                  case LongType => Long.box(s.toLong)
                  case _ => s
                }).orNull
              if (v != null) {
                cnt(c) += m.rows
                if (sums(c)) {
                  val lv = v match {
                    case i: Integer => i.longValue
                    case l: java.lang.Long => l.longValue
                  }
                  sm(c) = sm.getOrElse(c, BigInt(0)) +
                    BigInt(lv) * m.rows
                }
                if (ranges(c)) merge(c, dt, v, v)
              }
            } else if (manifestRangeOnly(c)) {
              // range-only time column: usable() asked for no sidecar
              // row, the manifest range answers
              manifestRange(c, m)
            } else if (c == TpSchema.Date &&
                !sidecar.contains((file, c))) {
              // derived-column fallback (usable() gated UTC + the ts
              // row's presence): counts ride tp_timestamp's nulls,
              // ranges the day-truncated manifest extremes
              val tsr = sidecar((file, TpSchema.Timestamp))
              cnt(c) += tsr.n - tsr.nulls
              if (ranges(c)) manifestRange(c, m)
            } else {
            val r = sidecar((file, c))
            cnt(c) += r.n - r.nulls
            if (sums(c))
              r.sumV.foreach(v => sm(c) = sm.getOrElse(c, BigInt(0)) + v)
            val dt = dtOf(c)
            if (!ranges(c)) () // count-only column: no range merge
            else if (c == TpSchema.Timestamp ||
                (c == TpSchema.Date && dt == DateType))
              manifestRange(c, m)
            else if (dt == StringType)
              merge(c, dt, r.minS.orNull, r.maxS.orNull)
            else
              merge(c, dt,
                r.minD.map(fromDouble(dt, _)).orNull,
                r.maxD.map(fromDouble(dt, _)).orNull)
            }
          }
        }
        // ndv: one driver-side HLL union per requested column over the
        // group's per-file sidecar sketches — usable() guaranteed every
        // covered file carries a blob. The BLOB is kept (not just the
        // estimate) so band hybrids can union it with the straddler
        // scan's sketch in-plan.
        val ndvBlobs: Map[String, Array[Byte]] = ndv.map { c =>
          c -> graft.functions.NdvFns.unionBlob(
            files.flatMap { case (file, _) => sidecar((file, c)).sketch })
        }.toMap
        // quantiles: the same move over the KLL distribution sketches
        val kllBlobs: Map[String, Array[Byte]] = kll.map { c =>
          c -> graft.functions.QuantileFns.mergeBlobs(
            files.flatMap { case (file, _) => sidecar((file, c)).kll })
        }.toMap
        // top-k: the frequent-items blobs merge the same way; the
        // CALLER checks the merged sketch's error bound (exact-only
        // serve gate) — usable() guaranteed every file carries a blob
        val mgBlobs: Map[String, Array[Byte]] = mg.map { c =>
          c -> graft.functions.TopKFns.toBlob(
            graft.functions.TopKFns.mergeBlobs(
              files.flatMap { case (file, _) => sidecar((file, c)).mg }))
        }.toMap
        key -> StatsAggParts(nRows, cnt.toMap, mn.toMap, mx.toMap,
          sm.toMap, ndvBlobs, kllBlobs, mgBlobs)
      }
    (groups, covered.map(_._1).toSet)
  }

  /** Newest-seq per-(file, column) zone ranges from the colstats
    * sidecar, as [[ZoneMapFileIndex]] consumes them — metadata-sized
    * (one row per live file×stats column), called lazily on a queried
    * table's FIRST `listFiles`, never at view registration.
    */
  private def loadZoneMaps(
      spark: SparkSession,
      table: String): Map[String, Map[String, ColumnZone]] =
    metaSnapshot(spark, table).zoneMaps

  /** Synthetic zones for `tp_timestamp`/`tp_date` from the manifest's
    * per-file `min_ts`/`max_ts` — so a plain SQL time band (the
    * reference's dominant query shape) skips files at planning time
    * on EVERY lake table, no stats enablement required. Units match
    * Catalyst literal internals: epoch micros for the timestamp,
    * epoch days for the date. The day range widens ±1 day because
    * `tp_date` was truncated in the WRITER's session timezone while
    * this derivation runs in the reader's — a zone, not a value, so
    * widening only costs pruning power, never correctness. Null
    * min/max → unknown bounds, never pruned on range; a file whose
    * manifest row records every row's ts as null still prunes for any
    * comparison, as an all-null sidecar zone does.
    */
  private def loadTsZones(
      spark: SparkSession,
      table: String): Map[String, Map[String, ColumnZone]] =
    metaSnapshot(spark, table).tsZoneMaps

  /** Build the table's DataFrame over a [[ZoneMapFileIndex]] so any
    * pushed band/equality/prefix conjunct on a stats-enabled column —
    * or on `tp_timestamp`/`tp_date` via the manifest-derived time
    * zones — skips files at planning time: the integration that
    * carries [[readPrunedByColumn]]'s zone maps to plain SQL through
    * the filtered views (verdict r16 task 1). Every view, windowed or
    * not, is this one whole-table relation: a `--from/--to` window is
    * a predicate over it, so the metadata-aggregate rule always sees
    * the table it answers for.
    *
    * The relation is [[knownFilesRead]] over `listed`, the caller's
    * walk of the table, re-walked on refresh: no listing or inference
    * job. Partition pruning happens inside `listFiles` before the zone
    * maps see the candidates, so the prunings compose. Both zone
    * families load lazily and only when a pushed conjunct references
    * them, so a filter-free scan pays nothing.
    */
  private def zoneMappedRead(
      spark: SparkSession, table: String,
      listed: Seq[Lake.ListedFile]): DataFrame =
    knownFilesRead(spark, table, listed, () => listDataFiles(spark, table),
      idx => new ZoneMapFileIndex(idx,
        () => loadZoneMaps(spark, table),
        () => loadTsZones(spark, table),
        owner = (this, table),
        // pin the freshness token NOW: the index just took the walk's
        // listing, so the first listFiles needn't re-list
        initialToken = metaToken(spark, table),
        // and the session: freshness probes must use the conf of the
        // session that owns this relation, not whichever session is
        // active at listFiles time (multi-session JVM)
        owningSession = spark))
      .getOrElse(spark.read.option("basePath", tableDir(table))
        .parquet(tableDir(table)))

  /** A plain read of exactly `listed`, some of a table's data files as
    * a walk or a stat found them (partition columns kept), with no
    * listing or inference job: [[knownFilesRead]] over them. An
    * evolved table keeps the schema-merging read, which infers from
    * every footer; no file at all reads the table's schema with no
    * rows.
    */
  private[lake] def readFiles(
      spark: SparkSession, table: String,
      listed: Seq[Lake.ListedFile]): DataFrame = {
    def sparkRead = spark.read.option("basePath", tableDir(table))
    if (listed.isEmpty) read(spark, table).where(lit(false))
    else if (isEvolved(spark, table))
      sparkRead.option("mergeSchema", "true").parquet(listed.map(_.path): _*)
    else knownFilesRead(spark, table, listed, () => listed)
      .getOrElse(sparkRead.parquet(listed.map(_.path): _*))
  }

  /** A DataFrame over exactly `listed` through an `InMemoryFileIndex`
    * rooted at the table dir, whose leaf files are `listed` as located
    * statuses (scans schedule worse without block locations) and, after
    * a refresh, `relist()` — it never lists through Spark, so no
    * parallel-listing job however many directories the files span (see
    * [[ListedStatusCache]]). `wrap` may put another index over it (the
    * zone maps). Partition columns come from the leaf paths, as a
    * `basePath` read derives them.
    *
    * The data schema comes from the first leaf's footer through the
    * [[Lake.footerSchema]] cache, checked before any read: a cold
    * `graft query` finds it there from [[prefetch]], and a long session
    * re-registering views reads each footer once. Spark-written
    * footers carry the catalyst schema in key-value metadata; a
    * foreign file falls back to Spark's one-task inference. None when
    * the index holds no file or no schema can be read; callers then
    * read through Spark. Non-evolved tables only: their files share
    * one schema (the drift check enforces it at ingest).
    */
  private def knownFilesRead(
      spark: SparkSession, table: String, listed: Seq[Lake.ListedFile],
      relist: () => Seq[Lake.ListedFile],
      wrap: org.apache.spark.sql.execution.datasources.InMemoryFileIndex =>
        org.apache.spark.sql.execution.datasources.FileIndex = identity)
      : Option[DataFrame] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val dir = fs(spark, root).makeQualified(new Path(tableDir(table)))
    def leaves(files: Seq[Lake.ListedFile]) =
      Map(dir -> locatedStatuses(spark, files).toArray)
    val idx = new InMemoryFileIndex(spark, Seq(dir),
      Map("basePath" -> tableDir(table)), None,
      new ListedStatusCache(leaves(listed), () => leaves(relist())))
    val leafFiles = idx.allFiles()
    if (leafFiles.isEmpty) return None
    // Read the footer through the FileStatus, NOT a path string: a
    // Hive-escaped partition value ('%3A' etc.) does not survive the
    // Path→String→DataFrameReader round-trip (the '%' re-escapes).
    // Partition columns stay out of it (footer holds data columns
    // only). Force nullability the way DataFrameReader does: a footer
    // written from a non-nullable batch marks the field REQUIRED, and
    // binding that schema table-wide would let Catalyst fold
    // `col IS NULL` to false even though OTHER files hold nulls.
    val fmt = new ParquetFileFormat
    val head = leafFiles.head
    Lake.footerSchema(head.getPath, head.getLen, head.getModificationTime)(
        ManifestIO.sparkSchemaOf(
          spark.sessionState.newHadoopConf(), head.getPath))
      .orElse(fmt
        .inferSchema(spark, Map.empty[String, String], leafFiles.take(1)))
      .map { schema =>
        spark.baseRelationToDataFrame(HadoopFsRelation(wrap(idx),
          idx.partitionSchema, forceNullable(schema), None, fmt,
          Map.empty)(spark))
      }
  }

  /** `files`, bare data-file paths, with the length and modification
    * time one stat each finds.
    */
  private[lake] def statusesOf(
      spark: SparkSession, files: Seq[String]): Seq[Lake.ListedFile] = {
    val f = fs(spark, root)
    files.map { p =>
      val st = f.getFileStatus(new Path(p))
      Lake.ListedFile(p, st.getLen, st.getModificationTime)
    }
  }

  /** `files` as the statuses a Hadoop listing returns for them: fully
    * qualified, with block locations.
    */
  private[lake] def locatedStatuses(
      spark: SparkSession, files: Seq[Lake.ListedFile]): Seq[FileStatus] = {
    val f = fs(spark, root)
    files.map { lf =>
      val p = f.makeQualified(new Path(lf.path))
      val st = new FileStatus(lf.len, false, 1, f.getDefaultBlockSize(p),
        lf.modified, p)
      new org.apache.hadoop.fs.LocatedFileStatus(st,
        f.getFileBlockLocations(st, 0L, lf.len))
    }
  }

  /** The nullability-forcing `spark.read` applies to every source
    * schema, reimplemented for the footer-derived one (Spark's own
    * `asNullable` is private): all fields and nested element/value
    * types become nullable.
    */
  private def forceNullable(st: StructType): StructType = {
    def dt(d: DataType): DataType = d match {
      case s: StructType => forceNullable(s)
      case a: ArrayType =>
        a.copy(elementType = dt(a.elementType), containsNull = true)
      case m: MapType =>
        m.copy(valueType = dt(m.valueType), valueContainsNull = true)
      case o => o
    }
    StructType(st.fields.map(f =>
      f.copy(dataType = dt(f.dataType), nullable = true)))
  }

  /** Run `body` holding this table's writer lock — for multi-step
    * maintenance (plan + rewrite) that must not interleave with
    * appends: `spark.read.parquet` snapshots the file list EAGERLY at
    * plan time, so an append landing between planning and the
    * dynamic-overwrite commit would be silently dropped from any
    * directory the rewrite replaces. The lock is reentrant (JVM
    * monitor), so the overwrite's own acquisition nests fine.
    */
  def locked[T](table: String)(body: => T): T =
    Lake.withTableLock(root, table)(body)

  /** Atomically replace exactly the partition directories present in
    * `df` with its rows — the primitive under compaction and partition
    * delete (the reference's insert+delete-in-transaction,
    * compact.go:339-416). Implemented as Spark DYNAMIC partition
    * overwrite: one write job whose commit protocol swaps only the
    * touched directories; untouched partitions are never read or
    * rewritten, so the cost scales with the replaced data, not the
    * table (the 100 TB requirement). The manifest is refreshed on both
    * sides: stats rows for the files added, tombstone rows for the
    * files the dynamic overwrite replaced — so manifest-only planning
    * (`fileStats(reconcileWithListing = false)`) stays current without
    * a listing.
    */
  def overwritePartitions(
      spark: SparkSession, table: String, df: DataFrame,
      touched: Option[Seq[String]] = None): Unit =
    Lake.withTableLock(root, table) {
      val dir = tableDir(table)
      // callers that already know the replaced dirs (compaction,
      // partition delete) pass them so new-file discovery lists only
      // those subtrees; otherwise fall back to the full tree
      def files(): Seq[String] = touched match {
        case Some(dirs) => dataFilesUnder(spark, table, dirs)
        case None       => dataFiles(spark, table)
      }
      val before = files().toSet
      // dynamic overwrite as a WRITER OPTION, not a session-conf
      // toggle (r19 ADVICE-low conf-race class): the option is scoped
      // to exactly this write, so a concurrent overwrite on another
      // thread can neither inherit nor clobber it. The timestamp
      // encoding has no such option — withMicrosTimestamps serializes
      // its conf window instead (micros annotation → footer stats,
      // see append).
      Lake.withMicrosTimestamps(spark) {
        df.write
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(TpSchema.partitionCols: _*)
          .mode(SaveMode.Overwrite)
          .parquet(dir)
      }
      val after = files()
      val added = after.filterNot(before)
      // one combined append: stats for the new files plus tombstones
      // for the files the dynamic overwrite implicitly deleted, so the
      // manifest stays listing-free current at the cost of a single
      // write job per mutation (r13 paid two)
      manifestAppend(spark, table, added,
        (before -- after.toSet).toSeq.sorted)
      // dirs that actually RECEIVED files: a registered catalog must
      // learn any new ones (ADD IF NOT EXISTS makes the rest no-ops;
      // deriving from `added` rather than `after` keeps an unscoped
      // upsert from issuing the whole table's dir list every run —
      // dynamic overwrite never empties a dir it doesn't write, so no
      // other dir changes state here)
      syncCatalogPartitions(spark, table,
        added.map { f =>
          val rel = relOf(table, f)
          rel.substring(0, rel.lastIndexOf('/'))
        }.distinct)
    }

  /** Register a lake table in the Spark session catalog as a
    * partitioned datasource table over the table directory — the
    * engine's `CREATE TABLE … PARTITIONED BY` DDL (SURVEY §2A row 13;
    * reference ducklake_table.go:25-107 builds the same DDL against
    * DuckLake). After registration the catalog owns partition
    * metadata: `spark.table(t)` plans partition pruning from catalog
    * entries instead of listing the whole tree, `SHOW PARTITIONS`
    * works, and the registration stays FRESH automatically — append/
    * overwrite add their touched dirs and partition removals drop
    * theirs (syncCatalogPartitions/dropCatalogPartitions, O(touched)
    * ALTER TABLE batches), so no full `recoverPartitions` rerun is
    * ever needed — the catalog-driven planning path a 100 TB lake
    * needs, without the silently-stale-after-collect trap.
    */
  def registerCatalogTable(spark: SparkSession, table: String): Unit = {
    require(tableExists(spark, table), s"no lake table '$table'")
    val schema = schemaOf(spark, table)
    val dataCols = schema.fields
      .filterNot(f => TpSchema.partitionCols.contains(f.name))
    val colDdl = (dataCols ++ schema.fields
      .filter(f => TpSchema.partitionCols.contains(f.name)))
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    // A filtered TEMP view (Views.register) with the same name shadows
    // the identifier: DROP TABLE would resolve to the view, leave a
    // previous catalog entry in place, and the CREATE below would then
    // fail with ALREADY_EXISTS on re-registration. Catalog
    // registration owns the name — drop the shadow first.
    spark.catalog.dropTempView(table)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(
      s"CREATE TABLE `$table` ($colDdl) USING parquet " +
        s"PARTITIONED BY (${TpSchema.partitionCols.mkString(", ")}) " +
        s"LOCATION '${tableDir(table)}'")
    spark.catalog.recoverPartitions(table)
  }

  /** Physical partition directories (relative paths like
    * `tp_partition=p0/tp_index=a/tp_year=2024/tp_month=1`) that match a
    * predicate on their partition values.
    */
  def partitionDirs(spark: SparkSession, table: String): Seq[String] = {
    dataFiles(spark, table)
      .map(p => relOf(table, p))
      .map(rel => rel.substring(0, rel.lastIndexOf('/')))
      .distinct.sorted
  }

  /** Path of `file` relative to the table dir. Anchored on the
    * `/<table>/` segment rather than a prefix match so it also works
    * when the lake root is spelled as a URI (dataFiles returns bare
    * decoded paths, which a URI-form `tableDir` would never prefix).
    */
  def relOf(table: String, file: String): String = {
    val marker = s"/$table/"
    val i = file.lastIndexOf(marker)
    require(i >= 0, s"'$file' is not under table '$table'")
    file.substring(i + marker.length)
  }

  /** Parse `k=v` pairs out of a relative partition dir. Values are
    * Hive-unescaped (URLDecoder would additionally turn a literal '+'
    * into a space and silently mis-key that partition forever).
    */
  def partitionValues(relDir: String): Map[String, String] =
    relDir.split('/').filter(_.contains('=')).map { seg =>
      val Array(k, v) = seg.split("=", 2)
      k -> ExternalCatalogUtils.unescapePathName(v)
    }.toMap
}

object Lake {

  /** Filesystem schemes where rename is physically copy+delete. */
  private[lake] val copyOnRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos")
  private[lake] val warnedObjectStoreRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Run one lake DATA write with the session's parquet timestamp
    * encoding scoped to INT64 TIMESTAMP(MICROS) (footer-stats-bearing;
    * INT96 writes no column stats — see append). The
    * set→write→restore window is serialized under a JVM-GLOBAL lock
    * (r20, from r19 ADVICE-low): the r19 bare toggle raced concurrent
    * writes on the SAME session — per-TABLE locks don't order two
    * tables' appends, so an interleaved restore could leak INT96 into
    * a lake file (losing footer stats: fail-open to the scan, correct
    * but slow) or leak MICROS into an unrelated concurrent write.
    * There is no per-write option for this key (ParquetOptions does
    * not accept it; verified against Spark 4.1.2 bytecode) and the
    * encoding must NOT become a session-wide default — downstream
    * consumers of non-lake writes (e.g. the harness's naive-read
    * result dumps) would observe tz-aware MICROS where they wrote
    * INT96. Cost: two lake data writes in one JVM serialize across
    * this window; metadata work stays under the finer per-table
    * locks, and a deployment needing write overlap uses one session
    * per writer (each session's conf is independent).
    */
  private[lake] def withMicrosTimestamps[T](
      spark: SparkSession)(body: => T): T =
    writeConfLock.synchronized {
      val tsKey = "spark.sql.parquet.outputTimestampType"
      val prev = spark.conf.getOption(tsKey)
      spark.conf.set(tsKey, "TIMESTAMP_MICROS")
      try body
      finally prev.fold(spark.conf.unset(tsKey))(
        spark.conf.set(tsKey, _))
    }
  private val writeConfLock = new Object

  /** The metadata-served portion of an aggregate: totals over the
    * files the manifest+sidecar answer EXACTLY. `sums` carries EXACT
    * integral-column totals (BigInt — integer addition is
    * order-independent, so per-file sums merge exactly; the consumer
    * converts to the SQL result type and declines on overflow); a
    * column with zero non-null rows is absent (SQL sum of nothing is
    * null).
    */
  private[graft] final case class StatsAggParts(
      nRows: Long,
      counts: Map[String, Long],
      mins: Map[String, Any],
      maxs: Map[String, Any],
      sums: Map[String, BigInt],
      ndvBlobs: Map[String, Array[Byte]] = Map.empty,
      kllBlobs: Map[String, Array[Byte]] = Map.empty,
      mgBlobs: Map[String, Array[Byte]] = Map.empty) {
    /** Estimates from the per-column union blobs (ndv columns only). */
    def ndvs: Map[String, Long] = ndvBlobs.map { case (c, b) =>
      c -> graft.functions.NdvFns.blobEstimate(b)
    }
  }

  private[graft] object StatsAggParts {
    val Empty: StatsAggParts =
      StatsAggParts(0L, Map.empty, Map.empty, Map.empty, Map.empty)
  }

  /** What an answer reads from metadata, per column: min/max `ranges`,
    * non-null `counts`, exact integral `sums`, and the `ndv`, `kll`
    * (quantile) and `mg` (top-k) sketches.
    */
  private[graft] final case class Needs(
      ranges: Set[String] = Set.empty,
      counts: Set[String] = Set.empty,
      sums: Set[String] = Set.empty,
      ndv: Set[String] = Set.empty,
      kll: Set[String] = Set.empty,
      mg: Set[String] = Set.empty) {
    val columns: Seq[String] = (ranges ++ counts ++ sums ++ ndv ++ kll ++ mg).toSeq
  }

  /** Partials key: (bucket id under a bucket key, `groupOf` projection). */
  private[graft] type PartsKey = (Option[Long], Seq[String])

  /** [[Lake.metaParts]]' answer: per-key partials over the files the
    * metadata answers for, the files left to scan (as the listing
    * found them), how many files answered, and per summed column a
    * bound on |Σ c| over the files left to scan (None = unknown).
    */
  private[graft] final case class MetaParts(
      groups: Map[PartsKey, StatsAggParts],
      toScan: Seq[ListedFile],
      contained: Int,
      scanBounds: Map[String, Option[BigInt]]) {
    /** The one partial of an ungrouped answer (empty when no file
      * answered).
      */
    def whole: StatsAggParts =
      groups.values.headOption.getOrElse(StatsAggParts.Empty)
  }

  /** Newest-seq manifest row for one live file; `tsNulls` is None for
    * rows written before the manifest recorded it.
    */
  private[lake] final case class ManifestStat(
      rows: Long,
      minTs: Option[Timestamp], maxTs: Option[Timestamp],
      tsNulls: Option[Long]) {
    def minUs: Option[Long] = minTs.map(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp)
    def maxUs: Option[Long] = maxTs.map(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp)
  }

  /** Newest-seq colstats sidecar row for one (file, column). */
  private[lake] final case class SideStat(
      nulls: Long, n: Long,
      minD: Option[Double], maxD: Option[Double],
      minS: Option[String], maxS: Option[String],
      sumV: Option[BigInt], sketch: Option[Array[Byte]],
      kll: Option[Array[Byte]], mg: Option[Array[Byte]],
      sumLen: Option[Long], maxLen: Option[Long], seq: Long)

  /** One table's metadata, collected once per mutation: the newest-seq
    * manifest rows (tombstones dropped) and newest-seq sidecar rows for
    * every stats column — the shared feed for the optimize-time probes
    * ([[Lake.metaParts]], [[Lake.distinctDayCounts]]) and the
    * [[ZoneMapFileIndex]] loaders. Cached per `(root, table)` keyed by
    * [[Lake.dirToken]] over the manifest + sidecar directories: every
    * mutation path appends or swaps files there, so a token mismatch
    * IS the invalidation (r16 verdict task 3 — ten consecutive
    * metadata-served queries previously paid the manifest read ten
    * times, and the probe latency IS the query latency once files
    * aren't scanned). The derived zone-map forms memoize per snapshot.
    */
  private[lake] final case class MetaSnapshot(
      token: String,
      manifest: Map[String, ManifestStat],
      sidecar: Map[(String, String), SideStat]) {

    /** Sidecar rows as [[ColumnZone]]s, the value-column zone family. */
    lazy val zoneMaps: Map[String, Map[String, ColumnZone]] =
      sidecar.toSeq.groupBy(_._1._1).map { case (file, rows) =>
        file -> rows.map { case ((_, c), s) =>
          c -> ColumnZone(s.minD, s.maxD,
            s.minS.map(v => org.apache.spark.unsafe.types.UTF8String
              .fromString(v).getBytes),
            s.maxS.map(v => org.apache.spark.unsafe.types.UTF8String
              .fromString(v).getBytes),
            Some(s.nulls), Some(s.n))
        }.toMap
      }

    /** Manifest-derived `tp_timestamp`/`tp_date` zones (epoch micros /
      * epoch days, ±1-day date widening for writer-TZ skew — see the
      * loadTsZones scaladoc history in Lake), with the recorded null
      * count, so an all-null-ts file prunes for every time comparison.
      */
    lazy val tsZoneMaps: Map[String, Map[String, ColumnZone]] =
      manifest.map { case (file, m) =>
        val loUs = m.minUs
        val hiUs = m.maxUs
        def day(us: Long): Double =
          Math.floorDiv(us, 86400000000L).toDouble
        // tp_date is null exactly when tp_timestamp is
        val n = Some(m.rows)
        file -> Map(
          TpSchema.Timestamp -> ColumnZone(
            loUs.map(_.toDouble), hiUs.map(_.toDouble),
            None, None, m.tsNulls, n),
          TpSchema.Date -> ColumnZone(
            loUs.map(day(_) - 1), hiUs.map(day(_) + 1),
            None, None, m.tsNulls, n))
      }

    /** Per-file `tp_timestamp` null counts (band containment proof). */
    lazy val tsNulls: Map[String, Long] = sidecar.collect {
      case ((f, c), s) if c == TpSchema.Timestamp => f -> s.nulls
    }
  }

  /** Cap on cached [[MetaSnapshot]]s (r17 verdict nit 2): each entry
    * holds per-file maps including sketch blobs, and the cache is
    * JVM-wide — a long-lived server churning ephemeral tables (the
    * MainSpec/bench pattern over months) would otherwise grow it
    * without bound. 64 concurrently-hot tables is far past any real
    * interactive working set; eviction is access-ordered LRU, and an
    * evicted table simply rebuilds on next probe (one metadata read).
    */
  private[lake] val MetaSnapshotCacheMax = 64

  /** An access-ordered map that drops its eldest entry past `max`. */
  private def lru[K, V](max: Int): java.util.LinkedHashMap[K, V] =
    new java.util.LinkedHashMap[K, V](16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > max
    }

  private val metaSnapshots = lru[String, MetaSnapshot](MetaSnapshotCacheMax)

  /** Spark schemas read from data-file footers, keyed by (qualified
    * path, length, mtime): data files are immutable and uuid-named, so
    * a key never names two contents. One entry per table in practice
    * (the file its read binds the schema from), capped like the
    * snapshots.
    */
  private val footerSchemas =
    lru[(String, Long, Long), StructType](MetaSnapshotCacheMax)

  /** The footer schema of `file` from the cache, else from `read`;
    * a schema read is cached, a miss (None) is not.
    */
  private[lake] def footerSchema(file: Path, len: Long, mtime: Long)(
      read: => Option[StructType]): Option[StructType] = {
    val key = (file.toString, len, mtime)
    footerSchemas.synchronized(Option(footerSchemas.get(key))).orElse {
      val got = read
      got.foreach(st => footerSchemas.synchronized(footerSchemas.put(key, st)))
      got
    }
  }

  /** Per-(root#table) (hits, misses) — the probe-memoization pin. */
  private val metaCacheCounters =
    new java.util.concurrent.ConcurrentHashMap[
      String, (java.util.concurrent.atomic.AtomicLong,
        java.util.concurrent.atomic.AtomicLong)]()

  private def countersFor(key: String) =
    metaCacheCounters.computeIfAbsent(key,
      _ => (new java.util.concurrent.atomic.AtomicLong(0),
        new java.util.concurrent.atomic.AtomicLong(0)))

  private[lake] def metaCacheStats(root: String, table: String)
      : (Long, Long) = {
    val (h, m) = countersFor(s"$root#$table")
    (h.get(), m.get())
  }

  private[lake] def cachedSnapshot(key: String): Option[MetaSnapshot] =
    metaSnapshots.synchronized { Option(metaSnapshots.get(key)) }

  private[lake] def storeSnapshot(key: String, s: MetaSnapshot): Unit =
    metaSnapshots.synchronized { metaSnapshots.put(key, s); () }

  /** Test seam: the keys currently cached, LRU-first. */
  private[lake] def cachedSnapshotKeys: Seq[String] =
    metaSnapshots.synchronized {
      import scala.jdk.CollectionConverters._
      metaSnapshots.keySet().asScala.toSeq
    }

  private[lake] def noteHit(key: String): Unit =
    countersFor(key)._1.incrementAndGet()
  private[lake] def noteMiss(key: String): Unit =
    countersFor(key)._2.incrementAndGet()

  /** Value ordering for stats merging, by column type: integrals
    * compare as longs, floats as doubles, strings in UTF8 BINARY order
    * (the order Spark's min/max computed the per-file extremes in —
    * Java UTF-16 order differs above the BMP, and merging in a
    * different total order than the one the inputs were reduced in
    * could pick the wrong global extreme), timestamps via compareTo.
    */
  private[lake] def statsLt(dt: DataType, a: Any, b: Any): Boolean =
    dt match {
      case FloatType | DoubleType =>
        // Spark's float/double TOTAL order (java.lang.Double.compare:
        // NaN greatest, -0.0 < 0.0) — the order min/max computed the
        // per-file extremes in. Plain `<` is order-dependent under
        // NaN: lt(5.0, NaN) = false would let a finite max seen
        // earlier beat a file whose true max is NaN (r16
        // ADVICE-medium), diverging from the scan answer.
        java.lang.Double.compare(
          a.asInstanceOf[Number].doubleValue,
          b.asInstanceOf[Number].doubleValue) < 0
      case StringType =>
        org.apache.spark.unsafe.types.UTF8String
          .fromString(a.asInstanceOf[String]).compareTo(
            org.apache.spark.unsafe.types.UTF8String
              .fromString(b.asInstanceOf[String])) < 0
      case TimestampType | TimestampNTZType =>
        a.asInstanceOf[Timestamp].compareTo(b.asInstanceOf[Timestamp]) < 0
      case DateType =>
        a.asInstanceOf[java.sql.Date]
          .compareTo(b.asInstanceOf[java.sql.Date]) < 0
      case _ =>
        a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue
    }

  /** Equi-height histogram bin count for the catalog column stats —
    * a quarter of Spark's ANALYZE default (254): the sidecar merge is
    * metadata-sized either way, and 64 bins resolve skew well past
    * the broadcast-threshold decisions they exist to flip.
    */
  val HistogramBins = 64

  /** One file found by a directory walk: bare path, length, mtime. */
  private[graft] final case class ListedFile(
      path: String, len: Long, modified: Long)

  /** The `_graft_colstats` part schema, as `appendColStats` writes it. */
  private[lake] val SidecarSchema: StructType = StructType(Seq(
    StructField("file", StringType), StructField("column", StringType),
    StructField("sketch", BinaryType), StructField("nulls", LongType),
    StructField("n", LongType), StructField("sum_len", LongType),
    StructField("max_len", LongType), StructField("min_d", DoubleType),
    StructField("max_d", DoubleType), StructField("min_s", StringType),
    StructField("max_s", StringType), StructField("kll", BinaryType),
    StructField("mg", BinaryType), StructField("sum_v", DecimalType(38, 0)),
    StructField("seq", LongType)))

  /** Per-(lake, table) write serialization — the reference's
    * single-writer model (one DuckDB connection + converter process
    * lock, duck_db.go:63, convertor.go:131-141). Concurrent appends
    * to DIFFERENT tables proceed in parallel; two writers on one table
    * serialize so the append/manifest pair stays consistent. Driver-
    * side only: the write jobs themselves are fully distributed.
    */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withTableLock[T](root: String, table: String)(body: => T): T = {
    val lock = locks.computeIfAbsent(s"$root#$table", _ => new Object)
    lock.synchronized(body)
  }

  /** See [[Lake.healSwapAsides]]: restore a live dir lost to a crash
    * mid-swap. Prefers completing from a finished `_new`; reverts
    * from `_old` otherwise. No live dir and no asides = no-op (a
    * table that never had the dir).
    */
  private[lake] def recoverSwapAside(
      filesys: FileSystem, dirStr: String): Unit = {
    val dir = new Path(dirStr)
    if (filesys.exists(dir)) return
    val tmp = new Path(dirStr + "_new")
    val old = new Path(dirStr + "_old")
    if (filesys.exists(new Path(tmp, "_SUCCESS"))) {
      filesys.rename(tmp, dir)
      filesys.delete(old, true)
      ()
    } else if (filesys.exists(old)) {
      filesys.rename(old, dir)
      filesys.delete(tmp, true)
      ()
    }
  }

  /** Per-(lake, table) monotonic manifest `seq` issuance, shared by
    * every `Lake` instance in the JVM (keyed like [[locks]], so two
    * instances over the same root can't race out duplicate values).
    * Each issued value is `max(previous + 1, epoch-micros)`:
    * epoch-anchored so rows written by DIFFERENT processes or after a
    * reboot still order by wall clock (`System.nanoTime`'s origin is
    * arbitrary per JVM — a tombstone from a later run could LOSE
    * `max_by(seq)` to an older stats row, leaving a deleted file
    * "live" in listing-free planning until the next vacuum), and
    * floored at the table's current manifest max so manifests that
    * predate the epoch anchoring (or a writer with a skewed clock)
    * can never out-rank new rows. Residual cross-machine ordering is
    * wall-clock with millisecond grain: sequential runs are what the
    * manifest must order (the table lock serializes writers within a
    * JVM; the single-writer deployment model covers across), and
    * seconds of clock skew sit far below real mutation spacing.
    */
  private val seqCounters =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()

  private[lake] def nextSeq(
      root: String, table: String, floor: => Long): Long = {
    val ctr = seqCounters.computeIfAbsent(s"$root#$table",
      _ => new java.util.concurrent.atomic.AtomicLong(floor))
    ctr.updateAndGet(prev =>
      math.max(prev + 1, System.currentTimeMillis() * 1000L))
  }
}
