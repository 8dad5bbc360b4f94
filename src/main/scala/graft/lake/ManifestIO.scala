package graft.lake

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, MessageTypeParser, PrimitiveType}
import org.apache.spark.sql.catalyst.util.DateTimeUtils

/** Driver-side parquet I/O for the lake's METADATA plane (r19
  * optimization round, guide §1.2 "the distributed algorithm" + §6).
  *
  * The manifest is metadata-sized by design (one row per data file,
  * self-compacted at a threshold) and every consumer collects it to the
  * driver promptly — yet until r19 every manifest append ran a Spark
  * write job, every floor-seq/fileStats read ran a Spark read+shuffle
  * job, and every append re-SCANNED its new files to compute per-file
  * row counts and tp_timestamp ranges. Per lake mutation that is 3-4
  * distributed jobs whose inputs and outputs are kilobytes. This object
  * replaces them with direct parquet reads/writes on the driver:
  *
  *  - [[footerStats]]: per-file (rows, min_ts, max_ts, ts_nulls) from parquet
  *    FOOTERS — the stats the writer already computed — instead of
  *    re-scanning the data. At 100 TB an append's stats cost drops from
  *    a full read of the new files' timestamp column to one ~KB footer
  *    read per file. Falls back (None) when a footer cannot prove the
  *    answer (INT96 timestamps carry no stats; unexpected types), in
  *    which case the caller keeps the old scan path — fail-open, never
  *    wrong.
  *  - [[writeManifest]]: one snappy parquet file written directly into
  *    the manifest dir (tmp-name + rename, same crash contract as the
  *    committer's rename), byte-compatible with the Spark-written
  *    manifest schema so old and new files mix freely.
  *  - [[writeSidecar]]: the same for a `_graft_colstats` part — the
  *    per-(file, column) rows a mutation's one stats aggregate
  *    collected, or a compacted sidecar's live rows.
  *  - [[readManifest]] / [[maxSeq]]: direct reads of the manifest rows
  *    (both INT96- and INT64-timestamp vintages); maxSeq comes from
  *    footer stats alone — no data pages touched.
  *  - [[readSidecar]]: the `_graft_colstats` parts, folded to the
  *    newest row per (file, column) — what the metadata snapshot,
  *    zone maps and metadata-aggregate rule read, with no
  *    schema-inference job and no shuffle aggregate.
  *
  * Everything here is exact-equivalence plumbing: ManifestIOSpec pins
  * footer stats == scan stats (including all-null and null-mixed
  * timestamp files), write→Spark-read round-trips, readSidecar ==
  * Spark read + newest-seq fold across sidecar vintages, and
  * writeSidecar → readSidecar / Spark read round-trips.
  */
private[lake] object ManifestIO {

  /** One manifest row. `tsNulls` is the file's null `tp_timestamp`
    * count — the recorded proof that a ranged file holds no null-ts
    * row — and None in parts written before the column existed.
    */
  final case class MRow(
      file: String, rows: Long,
      minTs: Option[Timestamp], maxTs: Option[Timestamp], seq: Long,
      tsNulls: Option[Long] = None)

  /** The stats a manifest row records for one data file. */
  final case class FileStat(
      file: String, rows: Long,
      minTs: Option[Timestamp], maxTs: Option[Timestamp],
      tsNulls: Option[Long]) {
    def row(seq: Long): MRow = MRow(file, rows, minTs, maxTs, seq, tsNulls)
  }

  private val ManifestSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary file (UTF8);
      |  required int64 rows;
      |  optional int64 min_ts (TIMESTAMP(MICROS,true));
      |  optional int64 max_ts (TIMESTAMP(MICROS,true));
      |  required int64 seq;
      |  optional int64 ts_nulls;
      |}""".stripMargin)

  /** Write one manifest parquet file with `rows` into `dir` (created if
    * absent), under [[writePart]]'s visibility contract.
    */
  def writeManifest(
      conf: Configuration, dir: String,
      rows: Seq[MRow]): Unit =
    writePart(conf, dir, ManifestSchema, Map.empty, rows) { (g, r) =>
      g.append("file", Binary.fromString(r.file))
      g.append("rows", r.rows)
      r.minTs.foreach(t => g.append("min_ts", DateTimeUtils.fromJavaTimestamp(t)))
      r.maxTs.foreach(t => g.append("max_ts", DateTimeUtils.fromJavaTimestamp(t)))
      g.append("seq", r.seq)
      r.tsNulls.foreach(n => g.append("ts_nulls", n))
    }

  /** The parquet form of [[Lake.SidecarSchema]], as Spark writes it:
    * every field optional, `sum_v` a 16-byte DECIMAL(38,0).
    */
  private val SidecarParquet: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary file (UTF8);
      |  optional binary column (UTF8);
      |  optional binary sketch;
      |  optional int64 nulls;
      |  optional int64 n;
      |  optional int64 sum_len;
      |  optional int64 max_len;
      |  optional double min_d;
      |  optional double max_d;
      |  optional binary min_s (UTF8);
      |  optional binary max_s (UTF8);
      |  optional binary kll;
      |  optional binary mg;
      |  optional fixed_len_byte_array(16) sum_v (DECIMAL(38,0));
      |  optional int64 seq;
      |}""".stripMargin)

  /** Write one `_graft_colstats` part with `rows` into `dir`, under
    * [[writePart]]'s visibility contract: the [[readSidecar]] twin.
    * The footer carries [[Lake.SidecarSchema]] as Spark's row
    * metadata, so a Spark read of a directory mixing these parts with
    * Spark-written ones infers the same schema from either.
    */
  def writeSidecar(
      conf: Configuration, dir: String,
      rows: Seq[((String, String), Lake.SideStat)]): Unit =
    writePart(conf, dir, SidecarParquet,
        Map(SparkRowMetadata -> Lake.SidecarSchema.json), rows) {
      case (g, ((file, column), s)) =>
        g.append("file", Binary.fromString(file))
        g.append("column", Binary.fromString(column))
        s.sketch.foreach(b => g.append("sketch", Binary.fromConstantByteArray(b)))
        g.append("nulls", s.nulls)
        g.append("n", s.n)
        s.sumLen.foreach(g.append("sum_len", _))
        s.maxLen.foreach(g.append("max_len", _))
        s.minD.foreach(g.append("min_d", _))
        s.maxD.foreach(g.append("max_d", _))
        s.minS.foreach(v => g.append("min_s", Binary.fromString(v)))
        s.maxS.foreach(v => g.append("max_s", Binary.fromString(v)))
        s.kll.foreach(b => g.append("kll", Binary.fromConstantByteArray(b)))
        s.mg.foreach(b => g.append("mg", Binary.fromConstantByteArray(b)))
        s.sumV.foreach(v => g.append("sum_v", decimal16(v)))
        g.append("seq", s.seq)
    }

  /** `v` as DECIMAL(38,0)'s 16-byte big-endian two's complement. */
  private def decimal16(v: BigInt): Binary = {
    val raw = v.toByteArray
    require(raw.length <= 16, s"colstats sum_v $v overflows decimal(38,0)")
    val out = Array.fill[Byte](16)(if (v.signum < 0) -1 else 0)
    System.arraycopy(raw, 0, out, 16 - raw.length, raw.length)
    Binary.fromConstantByteArray(out)
  }

  private val SparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** Write one snappy parquet part of `schema` with `rows` into `dir`
    * (created if absent). Tmp-name + rename so readers never observe a
    * partial file — the same visibility contract as Spark's commit
    * rename — then a `_SUCCESS` marker, as a Spark write leaves one.
    */
  private def writePart[R](
      conf: Configuration, dir: String, schema: MessageType,
      meta: Map[String, String], rows: Seq[R])(fill: (Group, R) => Unit): Unit = {
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = new Path(s"$dir/.part-$uuid.snappy.parquet.tmp")
    val dst = new Path(s"$dir/part-$uuid-graft.snappy.parquet")
    val writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(schema)
      .withExtraMetaData(meta.asJava)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val gf = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = gf.newGroup()
      fill(g, r)
      writer.write(g)
    } finally writer.close()
    val fs = dst.getFileSystem(conf)
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"metadata part rename failed: $tmp -> $dst")
    }
    // preserve the Spark-writer invariant that a COMPLETE metadata dir
    // carries a _SUCCESS marker — healSwapAsides discriminates a
    // finished `_new` from a partial one by exactly this file
    val marker = new Path(s"$dir/_SUCCESS")
    if (!fs.exists(marker)) fs.create(marker, true).close()
  }

  /** Data-file names within `dir` eligible as manifest parts (the same
    * hidden-file rule every Spark scan applies).
    */
  private def manifestParts(conf: Configuration, dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq.collect {
      case st if st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      } => st.getPath
    }
  }

  /** All manifest rows under `dir` (no reconciliation — callers fold).
    * Handles both timestamp vintages: INT96 (Spark's historical
    * default) and INT64 TIMESTAMP(MICROS) (direct-written); parts
    * without `ts_nulls` read it as None.
    */
  def readManifest(conf: Configuration, dir: String): Seq[MRow] =
    manifestParts(conf, dir).flatMap(readManifestFile(conf, _))

  /** The `_graft_colstats` sidecar under `dir`, folded to the newest
    * `seq` row per `(file, column)` — the same answer as
    * `spark.read.parquet(dir)` plus a `max_by(…, seq)` aggregate, read
    * in-process without a schema-inference job or a shuffle. Parts
    * written before a column existed (`sum_v`, `kll`, `mg`) read it as
    * None, as do null cells. Empty when `dir` holds no parts.
    */
  def readSidecar(
      conf: Configuration, dir: String)
      : Map[(String, String), Lake.SideStat] = {
    val newest = scala.collection.mutable.HashMap
      .empty[(String, String), Lake.SideStat]
    parMap(manifestParts(conf, dir))(readSidecarFile(conf, _))
      .foreach(_.foreach { case (k, s) =>
        if (newest.get(k).forall(_.seq < s.seq)) newest(k) = s
      })
    newest.toMap
  }

  private def readSidecarFile(
      conf: Configuration, file: Path)
      : Seq[((String, String), Lake.SideStat)] = {
    val reader = ParquetReader.builder(new GroupReadSupport(), file)
      .withConf(conf).build()
    val out = Seq.newBuilder[((String, String), Lake.SideStat)]
    try {
      var g: Group = reader.read()
      while (g != null) {
        def has(n: String): Boolean =
          g.getType.containsField(n) && g.getFieldRepetitionCount(n) > 0
        def str(n: String): Option[String] =
          if (has(n)) Some(g.getString(n, 0)) else None
        def long(n: String): Option[Long] =
          if (has(n)) Some(g.getLong(n, 0)) else None
        def dbl(n: String): Option[Double] =
          if (has(n)) Some(g.getDouble(n, 0)) else None
        def bytes(n: String): Option[Array[Byte]] =
          if (has(n)) Some(g.getBinary(n, 0).getBytes) else None
        out += (str("file").orNull, str("column").orNull) ->
          Lake.SideStat(
            nulls = long("nulls").getOrElse(0L),
            n = long("n").getOrElse(0L),
            minD = dbl("min_d"), maxD = dbl("max_d"),
            minS = str("min_s"), maxS = str("max_s"),
            sumV = if (has("sum_v")) Some(decimalField(g, "sum_v", file))
              else None,
            sketch = bytes("sketch"), kll = bytes("kll"), mg = bytes("mg"),
            sumLen = long("sum_len"), maxLen = long("max_len"),
            seq = long("seq").getOrElse(0L))
        g = reader.read()
      }
    } finally reader.close()
    out.result()
  }

  /** An integral DECIMAL cell (`sum_v` is `decimal(38,0)`) as a BigInt,
    * whichever physical type the writer chose for its precision.
    */
  private def decimalField(g: Group, name: String, file: Path): BigInt = {
    val t = g.getType.getType(name).asPrimitiveType()
    val unscaled = t.getPrimitiveTypeName match {
      case PrimitiveType.PrimitiveTypeName.INT32 =>
        java.math.BigInteger.valueOf(g.getInteger(name, 0).toLong)
      case PrimitiveType.PrimitiveTypeName.INT64 =>
        java.math.BigInteger.valueOf(g.getLong(name, 0))
      case PrimitiveType.PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY |
           PrimitiveType.PrimitiveTypeName.BINARY =>
        new java.math.BigInteger(g.getBinary(name, 0).getBytes)
      case other => throw new IllegalStateException(
        s"colstats file $file: $name is $other, not a decimal")
    }
    val scale = t.getLogicalTypeAnnotation match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => d.getScale
      case _ => 0
    }
    BigInt(new java.math.BigDecimal(unscaled, scale).toBigInteger)
  }

  private def readManifestFile(conf: Configuration, file: Path): Seq[MRow] = {
    val reader = ParquetReader.builder(new GroupReadSupport(), file)
      .withConf(conf).build()
    val out = Seq.newBuilder[MRow]
    try {
      var g: Group = reader.read()
      while (g != null) {
        out += MRow(
          if (g.getFieldRepetitionCount("file") == 0) null
          else g.getString("file", 0),
          g.getLong("rows", 0),
          tsField(g, "min_ts", file),
          tsField(g, "max_ts", file),
          g.getLong("seq", 0),
          if (g.getType.containsField("ts_nulls") &&
            g.getFieldRepetitionCount("ts_nulls") > 0)
            Some(g.getLong("ts_nulls", 0))
          else None)
        g = reader.read()
      }
    } finally reader.close()
    out.result()
  }

  private def tsField(
      g: Group, name: String, file: Path): Option[Timestamp] = {
    if (g.getFieldRepetitionCount(name) == 0) return None
    val t = g.getType.getType(name).asPrimitiveType()
    t.getPrimitiveTypeName match {
      case PrimitiveType.PrimitiveTypeName.INT64 =>
        // convert by the DECLARED unit, never by assumption (r19
        // ADVICE-medium): a manifest part written by a Spark session
        // pinned to TIMESTAMP_MILLIS would otherwise be read 1000×
        // off, silently corrupting data-skipping ranges. Unannotated
        // int64 fails loudly rather than falling back to micros: every
        // writer of this column (Spark's INT96/INT64 outputs and
        // writeManifest) annotates it, so such a part is foreign or
        // corrupt, and a guessed unit would prune the wrong files.
        // The error names the part so it can be removed or rewritten.
        val raw = g.getLong(name, 0)
        val micros = t.getLogicalTypeAnnotation match {
          case a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            a.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => raw
              case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
              case LogicalTypeAnnotation.TimeUnit.NANOS  => raw / 1000L
            }
          case other => throw new IllegalStateException(
            s"manifest file $file: $name is int64 without a timestamp " +
              s"annotation ($other) — refusing to guess the unit")
        }
        Some(DateTimeUtils.toJavaTimestamp(micros))
      case PrimitiveType.PrimitiveTypeName.INT96 =>
        val bb = g.getInt96(name, 0).toByteBuffer
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = bb.getLong
        val julianDay = bb.getInt
        val micros = (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
        Some(DateTimeUtils.toJavaTimestamp(micros))
      case other => throw new IllegalStateException(
        s"manifest file $file: $name has unexpected type $other")
    }
  }

  /** max(seq) across the manifest dir from FOOTER STATS alone (seq is a
    * required int64 — stats always present). None = no rows.
    */
  def maxSeq(conf: Configuration, dir: String): Option[Long] = {
    val parts = manifestParts(conf, dir)
    // pooled footer reads like footerStats (r19 verdict: the serial
    // loop was the one remaining unpooled footer path — bounded by the
    // self-compaction threshold, but object-store open latency ×64
    // serial is still a visible stall). Per part: Some(max) from
    // stats, None for an empty part, or a thrown MissingStats to
    // trigger the row-read fallback.
    final case class MissingStats() extends RuntimeException
    val perPart: Seq[Option[Long]] =
      try parMap(parts) { p =>
        val in = HadoopInputFile.fromPath(p, conf)
        val r = ParquetFileReader.open(in)
        try {
          var best: Option[Long] = None
          r.getFooter.getBlocks.asScala.foreach { b =>
            if (b.getRowCount > 0) {
              val col = b.getColumns.asScala
                .find(_.getPath.toDotString == "seq")
                .getOrElse(throw new IllegalStateException(
                  s"manifest file $p lacks seq column"))
              val st = col.getStatistics
              if (st == null || st.isEmpty || !st.hasNonNullValue)
                // stats unexpectedly absent: fall back to reading rows
                throw MissingStats()
              val mx = st.genericGetMax
                .asInstanceOf[java.lang.Long].longValue()
              if (!best.exists(_ >= mx)) best = Some(mx)
            }
          }
          best
        } finally r.close()
      } catch {
        case _: MissingStats =>
          return readManifest(conf, dir) match {
            case rs if rs.isEmpty => None
            case rs => Some(rs.map(_.seq).max)
          }
      }
    perPart.flatten.reduceOption((a, b) => math.max(a, b))
  }

  /** The Spark catalyst schema a Spark-written parquet file carries in
    * its footer key-value metadata (`org.apache.spark.sql.parquet.row.
    * metadata`) — the exact StructType `spark.read` would infer, read
    * driver-side without a 1-task Spark job. None when the file was
    * not written by Spark (caller falls back to the job path).
    */
  def sparkSchemaOf(
      conf: Configuration, file: Path)
      : Option[org.apache.spark.sql.types.StructType] =
    try {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        Option(r.getFooter.getFileMetaData.getKeyValueMetaData
            .get(SparkRowMetadata))
          .map(org.apache.spark.sql.types.DataType.fromJson)
          .collect { case s: org.apache.spark.sql.types.StructType => s }
      } finally r.close()
    } catch { case _: Exception => None }

  /** Run `body` over `items` on a bounded thread pool (footer reads
    * are ~ms of CPU + one small I/O each, but a local ChecksumFS open
    * costs ~10 ms of latency — 84 serial opens after a compaction
    * rewrite measured 1.0 s; 16-way parallel they are ~0.1 s, and on
    * an object store the latency argument is stronger still).
    */
  private def parMap[A, B](items: Seq[A])(body: A => B): Seq[B] = {
    if (items.size <= 2) return items.map(body)
    // daemon threads: a hung filesystem open must not keep the JVM
    // alive after main exits (r19 ADVICE-low)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, items.size),
      new java.util.concurrent.ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, "graft-manifest-io")
          t.setDaemon(true)
          t
        }
      })
    try {
      val futures = items.map(a => pool.submit(
        new java.util.concurrent.Callable[B] { def call(): B = body(a) }))
      futures.map { f =>
        // surface the worker's real exception, not the Execution-
        // Exception wrapper (callers of statsFor used to see the
        // underlying IO/Spark failure from the scan path)
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally pool.shutdown()
  }

  /** Per-file stats of `tsCol` from parquet footers — the exact
    * values the old scan computed (row count includes null-ts rows;
    * min/max over non-null values; all-null file → (None, None); the
    * null count summed over the blocks, None when a block does not
    * record it). Returns None when ANY file's footer cannot prove the
    * rows or the range (missing column, non-INT64-micros physical
    * type, absent or untrustworthy stats) — the caller then scans, as
    * before. Files with zero rows are skipped, matching the scan's
    * groupBy semantics.
    */
  def footerStats(
      conf: Configuration, files: Seq[String], tsCol: String)
      : Option[Seq[FileStat]] = {
    // per-file result: Some(Some(stat)) served, Some(None) = 0-row
    // file (skipped), None = cannot prove → caller falls back
    val results = parMap(files)(f => footerStatsOne(conf, f, tsCol))
    if (results.exists(_.isEmpty)) None
    else Some(results.flatMap(_.get))
  }

  private def footerStatsOne(
      conf: Configuration, f: String, tsCol: String)
      : Option[Option[FileStat]] = {
    val r = try ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(f), conf))
    catch { case _: Exception => return None }
    try {
      val footer = r.getFooter
      val schema = footer.getFileMetaData.getSchema
      if (!schema.containsField(tsCol)) return None
      val fld = schema.getType(schema.getFieldIndex(tsCol))
      val micros = fld.isPrimitive &&
        fld.asPrimitiveType.getPrimitiveTypeName ==
          PrimitiveType.PrimitiveTypeName.INT64 &&
        (fld.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS &&
              t.isAdjustedToUTC
          case _ => false
        })
      if (!micros) return None
      var rows = 0L
      var mn: Option[Long] = None
      var mx: Option[Long] = None
      var nulls: Option[Long] = Some(0L)
      for (b <- footer.getBlocks.asScala; if b.getRowCount > 0) {
        rows += b.getRowCount
        val col = b.getColumns.asScala
          .find(_.getPath.toDotString == tsCol).getOrElse(return None)
        val st = col.getStatistics
        if (st == null || st.isEmpty) return None
        nulls = nulls.filter(_ => st.isNumNullsSet)
          .map(_ + st.getNumNulls)
        if (st.hasNonNullValue) {
          val lo = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
          val hi = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
          if (!mn.exists(_ <= lo)) mn = Some(lo)
          if (!mx.exists(_ >= hi)) mx = Some(hi)
        } else if (!st.isNumNullsSet || st.getNumNulls != b.getRowCount) {
          // no values and can't prove all-null: don't guess
          return None
        }
      }
      Some(if (rows == 0) None else Some(FileStat(f, rows,
        mn.map(DateTimeUtils.toJavaTimestamp),
        mx.map(DateTimeUtils.toJavaTimestamp), nulls)))
    } finally r.close()
  }
}
