package graft.lake

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** r19 optimization round: the driver-side metadata-plane parquet I/O
  * (ManifestIO) replaced Spark jobs for per-file stats, manifest
  * appends and manifest planning reads. These pins are the
  * equivalence contract: footer-served stats equal scan-computed
  * stats on every null shape, direct-written manifests round-trip
  * through Spark byte-compatibly (and mix with Spark-written parts),
  * and the INT96 vintage falls back instead of guessing.
  */
class ManifestIOSpec extends AnyFunSuite with SparkTest {

  private def conf = spark.sessionState.newHadoopConf()

  private def writeParquet(
      dir: String, rows: Seq[(Long, Option[String])]): String = {
    // (id, optional ts-string) — null ts stays null after cast
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try rows.toDF("event_id", "ts_s")
      .select(col("event_id"),
        col("ts_s").cast("timestamp").as(TpSchema.Timestamp))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    finally prev.fold(
      spark.conf.unset("spark.sql.parquet.outputTimestampType"))(
      spark.conf.set("spark.sql.parquet.outputTimestampType", _))
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head.getAbsolutePath
  }

  private def scanStats(file: String): (Long, Timestamp, Timestamp) = {
    val r = spark.read.parquet(file)
      .agg(count(lit(1)), min(TpSchema.Timestamp), max(TpSchema.Timestamp))
      .head()
    (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))
  }

  test("footerStats == scan stats: plain, null-mixed, all-null, " +
      "and 0-row-file/groupBy parity") {
    val base = Files.createTempDirectory("graft_mio").toString
    val plain = writeParquet(s"$base/a", Seq(
      1L -> Some("2024-03-01 10:00:00"), 2L -> Some("2024-03-02 11:30:00"),
      3L -> Some("2024-02-28 23:59:59")))
    val mixed = writeParquet(s"$base/b", Seq(
      1L -> Some("2024-03-05 00:00:01"), 2L -> None,
      3L -> Some("2024-03-04 12:00:00"), 4L -> None))
    val allNull = writeParquet(s"$base/c",
      Seq(1L -> None, 2L -> None))
    val got = ManifestIO.footerStats(
      conf, Seq(plain, mixed, allNull), TpSchema.Timestamp)
    assert(got.isDefined, "micros-annotated files must serve from footers")
    val byFile = got.get.map(r => r.file -> r).toMap
    for (f <- Seq(plain, mixed)) {
      val (n, lo, hi) = scanStats(f)
      val ManifestIO.FileStat(_, gn, glo, ghi, _) = byFile(f)
      assert(gn === n, s"rows $f")
      assert(glo === Some(lo) && ghi === Some(hi), s"range $f")
    }
    // all-null file: count includes null rows, range is absent —
    // exactly what the scan's min/max would produce (null)
    val ManifestIO.FileStat(_, an, alo, ahi, _) = byFile(allNull)
    assert(an === 2L && alo.isEmpty && ahi.isEmpty)
  }

  test("INT96-vintage file (no timestamp stats) falls back to None") {
    val base = Files.createTempDirectory("graft_mio96").toString
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try Seq((1L, "2024-03-01 10:00:00"))
      .toDF("event_id", "ts_s")
      .select(col("event_id"),
        col("ts_s").cast("timestamp").as(TpSchema.Timestamp))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/d")
    finally prev.fold(
      spark.conf.unset("spark.sql.parquet.outputTimestampType"))(
      spark.conf.set("spark.sql.parquet.outputTimestampType", _))
    val f = new java.io.File(s"$base/d").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    assert(ManifestIO.footerStats(conf, Seq(f), TpSchema.Timestamp).isEmpty,
      "INT96 carries no stats; the footer path must decline, not guess")
  }

  test("ts_nulls: footer == scan on every null shape, the scan " +
      "fallback records it too, and parts without it read as None") {
    val base = Files.createTempDirectory("graft_mion").toString
    val files = Seq(
      writeParquet(s"$base/a", Seq(1L -> Some("2024-03-01 10:00:00"),
        2L -> Some("2024-03-02 11:30:00"))),
      writeParquet(s"$base/b", Seq(1L -> Some("2024-03-05 00:00:01"),
        2L -> None, 3L -> Some("2024-03-04 12:00:00"), 4L -> None)),
      writeParquet(s"$base/c", Seq(1L -> None, 2L -> None)))
    def scanNulls(f: String): Long = {
      val r = spark.read.parquet(f)
        .agg(count(lit(1)), count(col(TpSchema.Timestamp))).head()
      r.getLong(0) - r.getLong(1)
    }
    val footer = ManifestIO.footerStats(conf, files, TpSchema.Timestamp).get
    assert(footer.map(_.tsNulls) === files.map(f => Some(scanNulls(f))))
    assert(footer.map(_.tsNulls.get) === Seq(0L, 2L, 2L))

    // an INT96 file has no footer stats: statsFor scans, and the scan
    // records the same null count
    val lake = Lake(s"$base/lake")
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try Seq[(Long, Option[String])]((1L, Some("2024-03-01 10:00:00")),
        (2L, None), (3L, Some("2024-03-02 10:00:00")))
      .toDF("event_id", "ts_s")
      .select(col("event_id"),
        col("ts_s").cast("timestamp").as(TpSchema.Timestamp))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/lake/t/k=1")
    finally prev.fold(
      spark.conf.unset("spark.sql.parquet.outputTimestampType"))(
      spark.conf.set("spark.sql.parquet.outputTimestampType", _))
    val f96 = new java.io.File(s"$base/lake/t/k=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    assert(ManifestIO.footerStats(conf, Seq(f96), TpSchema.Timestamp).isEmpty)
    val scanned = lake.statsFor(spark, "t", Seq(f96))
    assert(scanned.map(_.tsNulls) === Seq(Some(1L)))
    assert(scanned.map(_.rows) === Seq(3L))

    // a part written before the column existed reads it as None; a
    // direct-written part carries it, and Spark reads both
    val dir = s"$base/m"
    val t1 = Timestamp.valueOf("2024-03-01 10:00:00")
    Seq(("/x/old.parquet", 5L, t1, t1, 1L))
      .toDF("file", "rows", "min_ts", "max_ts", "seq")
      .coalesce(1).write.mode("append").parquet(dir)
    ManifestIO.writeManifest(conf, dir, Seq(
      footer(1).row(2L).copy(file = "/x/new.parquet")))
    val rows = ManifestIO.readManifest(conf, dir).map(r => r.file -> r).toMap
    assert(rows("/x/old.parquet").tsNulls === None)
    assert(rows("/x/new.parquet").tsNulls === Some(2L))
    val viaSpark = spark.read.option("mergeSchema", "true").parquet(dir)
      .where(col("file") === "/x/new.parquet").select("ts_nulls").head()
    assert(viaSpark.getLong(0) === 2L)
  }

  test("writeManifest round-trips through BOTH readers and mixes with " +
      "Spark-written parts; maxSeq from footers; _SUCCESS maintained") {
    val dir = Files.createTempDirectory("graft_miow").toString + "/m"
    val t1 = Timestamp.valueOf("2024-03-01 10:00:00")
    val t2 = Timestamp.valueOf("2024-03-02 11:00:00")
    ManifestIO.writeManifest(conf, dir, Seq(
      ManifestIO.MRow("/x/f1.parquet", 10L, Some(t1), Some(t2), 1L),
      ManifestIO.MRow("/x/f2.parquet", -1L, None, None, 1L)))
    // a Spark-written part in the same dir (the INT96 vintage shape)
    import spark.implicits._
    Seq(("/x/f3.parquet", 5L, t1, t2, 2L))
      .toDF("file", "rows", "min_ts", "max_ts", "seq")
      .coalesce(1).write.mode("append").parquet(dir)
    // Spark reader sees all three rows with identical values
    val viaSpark = spark.read.parquet(dir)
      .orderBy("file").collect().toSeq
    assert(viaSpark.size === 3)
    val f1 = viaSpark.find(_.getString(0) == "/x/f1.parquet").get
    assert(f1.getLong(1) === 10L && f1.getTimestamp(2) === t1 &&
      f1.getTimestamp(3) === t2 && f1.getLong(4) === 1L)
    // direct reader sees the same rows (both timestamp vintages)
    val viaDirect = ManifestIO.readManifest(conf, dir)
      .sortBy(_.file)
    assert(viaDirect.map(_.file) ===
      Seq("/x/f1.parquet", "/x/f2.parquet", "/x/f3.parquet"))
    assert(viaDirect.head.minTs === Some(t1) &&
      viaDirect.head.maxTs === Some(t2))
    assert(viaDirect(1).rows === -1L && viaDirect(1).minTs.isEmpty)
    assert(viaDirect(2).rows === 5L && viaDirect(2).minTs === Some(t1))
    // maxSeq needs only footers
    assert(ManifestIO.maxSeq(conf, dir) === Some(2L))
    // heal's complete-dir discriminator is maintained
    assert(new java.io.File(dir, "_SUCCESS").isFile,
      "direct-written manifest dirs must carry _SUCCESS (heal contract)")
  }

  /** A sidecar row as plain comparable values (arrays as Seqs). */
  private def flat(s: Lake.SideStat): Seq[Any] = Seq(
    s.nulls, s.n, s.minD, s.maxD, s.minS, s.maxS, s.sumV,
    s.sketch.map(_.toSeq), s.kll.map(_.toSeq), s.mg.map(_.toSeq),
    s.sumLen, s.maxLen, s.seq)

  test("readSidecar == spark.read.parquet + newest-seq fold across " +
      "vintages, null ranges, huge sums and repeated seqs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val dir = Files.createTempDirectory("graft_mios").toString + "/cs"
    val big = new java.math.BigDecimal("1180591620717411303424") // 2^70
    val neg = new java.math.BigDecimal("-36893488147419103232") // -2^65
    def row(file: String, column: String, seq: Long, sumV: java.math.BigDecimal,
        ranged: Boolean = true): Map[String, Any] = Map(
      "file" -> file, "column" -> column,
      "sketch" -> Array[Byte](1, seq.toByte), "nulls" -> seq, "n" -> 10L,
      "sum_len" -> (if (ranged) 40L * seq else null),
      "max_len" -> (if (ranged) 7L else null),
      "min_d" -> (if (ranged) -1.5 * seq else null),
      "max_d" -> (if (ranged) 99.25 + seq else null),
      "min_s" -> (if (ranged) s"a$seq" else null),
      "max_s" -> (if (ranged) s"z$seq" else null),
      "kll" -> Array[Byte](3, seq.toByte), "mg" -> Array[Byte](5, seq.toByte),
      "sum_v" -> sumV, "seq" -> seq)
    // one part per vintage: `drop` names the columns its writer lacked
    def part(drop: Set[String], rows: Map[String, Any]*): Unit = {
      val schema = StructType(
        Lake.SidecarSchema.fields.filterNot(f => drop(f.name)))
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r =>
          Row.fromSeq(schema.fieldNames.toSeq.map(r))): _*), schema)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    part(Set.empty,
      row("/t/f1.parquet", "v", 1L, big),
      row("/t/f1.parquet", "s", 1L, null, ranged = false),
      row("/t/f2.parquet", "v", 4L, neg))
    part(Set("sum_v", "kll", "mg"), row("/t/f1.parquet", "v", 2L, null))
    part(Set("kll"),
      row("/t/f1.parquet", "v", 3L, big.add(java.math.BigDecimal.ONE)),
      row("/t/f2.parquet", "v", 1L, big))
    part(Set("mg"),
      row("/t/f1.parquet", "s", 5L, null, ranged = false),
      row("/t/f3.parquet", "v", 2L, neg))

    // the Spark path: merged schema, absent columns as nulls, newest
    // seq per (file, column) by max_by
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    val filled = Lake.SidecarSchema.fields.foldLeft(merged) { (df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }
    val values = Seq("nulls", "n", "min_d", "max_d", "min_s", "max_s",
      "sum_v", "sketch", "kll", "mg", "sum_len", "max_len", "seq")
    val want = filled.groupBy("file", "column")
      .agg(max_by(struct(values.map(col): _*), col("seq")).as("s"))
      .select(col("file") +: col("column") +: values.map(v => col(s"s.$v")): _*)
      .collect().map { r =>
        def opt[T](i: Int)(f: Int => T): Option[T] =
          if (r.isNullAt(i)) None else Some(f(i))
        (r.getString(0), r.getString(1)) -> Seq(
          r.getLong(2), r.getLong(3),
          opt(4)(r.getDouble), opt(5)(r.getDouble),
          opt(6)(r.getString), opt(7)(r.getString),
          opt(8)(i => BigInt(r.getDecimal(i).toBigInteger)),
          opt(9)(i => r.getAs[Array[Byte]](i).toSeq),
          opt(10)(i => r.getAs[Array[Byte]](i).toSeq),
          opt(11)(i => r.getAs[Array[Byte]](i).toSeq),
          opt(12)(r.getLong), opt(13)(r.getLong), r.getLong(14))
      }.toMap

    val got = ManifestIO.readSidecar(conf, dir)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, s) => assert(flat(s) === want(k), k) }
    // the cases the fixture plants, spelled out
    val f1v = got(("/t/f1.parquet", "v"))
    assert(f1v.seq === 3L && f1v.kll.isEmpty && f1v.mg.isDefined)
    assert(f1v.sumV === Some(BigInt(big.toBigInteger) + 1))
    assert(got(("/t/f2.parquet", "v")).sumV === Some(BigInt(neg.toBigInteger)))
    val f1s = got(("/t/f1.parquet", "s"))
    assert(f1s.seq === 5L && f1s.mg.isEmpty && f1s.sumV.isEmpty)
    assert(f1s.minD.isEmpty && f1s.maxD.isEmpty &&
      f1s.minS.isEmpty && f1s.maxS.isEmpty && f1s.sumLen.isEmpty)
    // no parts at all: empty, not an error
    assert(ManifestIO.readSidecar(conf, dir + "_absent").isEmpty)
  }

  test("an INT64 manifest timestamp without a unit annotation fails " +
      "loudly and names the manifest file") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft_mio64").toString
    val schema = MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional binary file (UTF8);
        |  required int64 rows;
        |  optional int64 min_ts;
        |  optional int64 max_ts;
        |  required int64 seq;
        |}""".stripMargin)
    val part = new org.apache.hadoop.fs.Path(s"$dir/part-00000-bare.parquet")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(part, conf))
      .withConf(conf).withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
      g.append("file", Binary.fromString("/x/f1.parquet"))
      g.append("rows", 3L)
      g.append("min_ts", 1709287200000000L)
      g.append("max_ts", 1709287200000000L)
      g.append("seq", 1L)
      w.write(g)
    } finally w.close()
    val e = intercept[IllegalStateException](ManifestIO.readManifest(conf, dir))
    assert(e.getMessage.contains("part-00000-bare.parquet"), e.getMessage)
    assert(e.getMessage.contains("min_ts"), e.getMessage)
  }

  // ---- driver-written sidecar parts -------------------------------------

  private val TwoTo65 = BigInt(2).pow(65)

  private def sideStat(
      seq: Long, sumV: Option[BigInt] = None, minS: Option[String] = None,
      kll: Option[Array[Byte]] = None, mg: Option[Array[Byte]] = None,
      sumLen: Option[Long] = None): Lake.SideStat =
    Lake.SideStat(nulls = seq, n = 10L, minD = Some(-1.5), maxD = Some(9.0),
      minS = minS, maxS = minS.map(_ + "z"), sumV = sumV,
      sketch = Some(Array[Byte](1, seq.toByte)), kll = kll, mg = mg,
      sumLen = sumLen, maxLen = sumLen.map(_ / 2), seq = seq)

  /** A SideStat's fields with byte arrays as Seqs, for equality. */
  private def fields(s: Lake.SideStat): Seq[Any] =
    s.productIterator.map {
      case Some(b: Array[Byte]) => Some(b.toSeq)
      case v => v
    }.toSeq

  private val driverRows = Seq(
    ("/t/f1.parquet", "v") -> sideStat(2L, sumV = Some(TwoTo65),
      kll = Some(Array[Byte](3, 4)), sumLen = Some(40L)),
    ("/t/f2.parquet", "v") -> sideStat(2L, sumV = Some(-TwoTo65)),
    ("/t/f1.parquet", "s") -> sideStat(2L, minS = Some(""),
      mg = Some(Array[Byte](5, 6)), sumLen = Some(0L)),
    ("/t/f2.parquet", "s") -> sideStat(2L))

  test("writeSidecar round-trips through readSidecar and a Spark read: " +
      "±2^65 sums, null kll/mg/sum_len and an empty min_s survive") {
    val dir = Files.createTempDirectory("graft_miows").toString + "/cs"
    ManifestIO.writeSidecar(conf, dir, driverRows)
    assert(new java.io.File(dir, "_SUCCESS").exists)
    val parts = new java.io.File(dir).listFiles.map(_.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
    assert(parts.length === 1 && parts.head.endsWith(".snappy.parquet"),
      parts.mkString(", "))
    // the driver part is snappy-compressed like a Spark-written one
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/${parts.head}"), conf))
    try {
      import scala.jdk.CollectionConverters._
      val codecs = footer.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
      assert(codecs === Set(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY))
    } finally footer.close()

    val got = ManifestIO.readSidecar(conf, dir)
    assert(got.keySet === driverRows.map(_._1).toSet)
    driverRows.foreach { case (k, s) => assert(fields(got(k)) === fields(s), k) }
    assert(got(("/t/f1.parquet", "s")).minS === Some(""))
    assert(got(("/t/f2.parquet", "s")).sumLen.isEmpty)

    // Spark reads the part as Lake.SidecarSchema, inferred or given
    assert(spark.read.parquet(dir).schema === Lake.SidecarSchema)
    val viaSpark = spark.read.schema(Lake.SidecarSchema).parquet(dir)
      .collect().map { r =>
        def opt[T](name: String): Option[T] = {
          val i = r.fieldIndex(name)
          if (r.isNullAt(i)) None else Some(r.getAs[T](i))
        }
        (r.getAs[String]("file"), r.getAs[String]("column")) -> fields(
          Lake.SideStat(r.getAs[Long]("nulls"), r.getAs[Long]("n"),
            opt[Double]("min_d"), opt[Double]("max_d"),
            opt[String]("min_s"), opt[String]("max_s"),
            opt[java.math.BigDecimal]("sum_v").map(d => BigInt(d.toBigInteger)),
            opt[Array[Byte]]("sketch"), opt[Array[Byte]]("kll"),
            opt[Array[Byte]]("mg"), opt[Long]("sum_len"),
            opt[Long]("max_len"), r.getAs[Long]("seq")))
      }.toMap
    assert(viaSpark === driverRows.map { case (k, s) => k -> fields(s) }.toMap)
    assert(spark.read.parquet(dir).where(col("sum_v") === lit(
        new java.math.BigDecimal((-TwoTo65).bigInteger))).count() === 1L)
  }

  test("a sidecar dir mixing Spark-written and driver-written parts " +
      "folds by seq; a leftover .tmp part is invisible to readers") {
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("graft_miowm").toString + "/cs"
    // Spark-written part: seq 1 for every key driverRows holds, and
    // seq 3 for one of them (newer than the driver part's seq 2)
    def sparkRow(file: String, column: String, seq: Long): Row =
      Row(file, column, Array[Byte](9), 0L, 10L, null, null, 1.0, 2.0,
        null, null, null, null, null, seq)
    val sparkRows = driverRows.map { case ((f, c), _) => sparkRow(f, c, 1L) } :+
      sparkRow("/t/f2.parquet", "v", 3L)
    spark.createDataFrame(java.util.Arrays.asList(sparkRows: _*),
        Lake.SidecarSchema)
      .coalesce(1).write.mode("append").parquet(dir)
    ManifestIO.writeSidecar(conf, dir, driverRows)
    // a crashed writer's tmp part: hidden by name, never read
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".part-dead.snappy.parquet.tmp"),
      Array[Byte](1, 2, 3))
    val got = ManifestIO.readSidecar(conf, dir)
    assert(got.keySet === driverRows.map(_._1).toSet)
    assert(got(("/t/f2.parquet", "v")).seq === 3L)
    driverRows.filter(_._1 != (("/t/f2.parquet", "v"))).foreach {
      case (k, s) => assert(fields(got(k)) === fields(s), k)
    }
    // Spark agrees: both parts read, the tmp part skipped, newest seq
    val newest = spark.read.parquet(dir).groupBy("file", "column")
      .agg(max("seq").as("seq")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(newest === got.map { case (k, s) => k -> s.seq })
    assert(spark.read.parquet(dir).count() === sparkRows.length + driverRows.length)
  }
}
