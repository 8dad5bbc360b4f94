package graft.queries

import java.io.File
import java.sql.Timestamp

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.config.{ColumnSpec, FormatSpec, PartitionSpec, TableSpec}
import graft.ingest.{Formats, Ingest, SchemaInference, Synthetic}
import graft.lake.{Lake, Maintenance, TpSchema}
import graft.lake.Artifacts.workRoot
import graft.query.Views

/** Driver-facing queries exercising the ENGINE — the ingest/lake/view/
  * maintenance dataflow of SURVEY §2A — with exact DuckDB oracles.
  *
  * Shape of every query: build a deterministic JSONL/CSV fixture FROM a
  * shared parquet table (so DuckDB can recompute expected output from
  * the same source), run the real pipeline (typed scan → declared-
  * schema conversion → tp_ enrichment → validation → partitioned lake
  * write → filtered view), and return lake-backed results.
  */
object IngestQueries {

  // ---- fixture plumbing ----------------------------------------------

  /** Build a fixture at most once per JVM: the FIRST query to touch
    * `root` in this process deletes and rebuilds (so stale /tmp state
    * from an earlier build never leaks in), later queries reuse it —
    * qi31/qi33 and qi37/qi38 build byte-identical lakes, and paying
    * the multi-append construction twice per bench run bought nothing.
    * Queries stay independently runnable: whichever runs first builds.
    */
  private val builtFixtures =
    scala.collection.mutable.Set.empty[String]
  private def fixtureOnce(root: String)(build: => Unit): Unit =
    builtFixtures.synchronized {
      if (!builtFixtures.contains(root)) {
        FileUtils.deleteDirectory(new File(root))
        build
        builtFixtures += root
      }
    }

  /** Shared qi31/qi33 fixture: the value-banded events lake with
    * injected nulls and stats on every probed column (table
    * `events_meta31`). Built once per JVM.
    */
  private def metaAggFixture(
      s: SparkSession, dir: String): graft.lake.Lake = {
    val root = s"${workRoot(dir)}/meta3133"
    val lake = graft.lake.Lake(s"$root/lake")
    fixtureOnce(root) {
      val spec = PartitionSpec("events_meta31", "p0",
        tpIndexColumn = Some("event_type"))
      val src = Tables.load(s, dir, "events")
        .where(col("event_id") % 5 === 0)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("event_type"), col("user_id"),
          when(col("event_id") % 20 === 0, lit(null).cast("double"))
            .otherwise(col("value")).as("value"))
      val bands = Seq(
        col("value").isNull || col("value") < 40.0,
        col("value") >= 40.0 && col("value") < 80.0,
        col("value") >= 80.0)
      for (b <- bands)
        Ingest.collectBatch(s, lake, spec, src.where(b),
          timestampColumn = "ts")
      lake.enableColumnStats(s, "events_meta31",
        Seq("value", "user_id", "event_type", "tp_timestamp"))
    }
    lake
  }

  /** Shared qi28/qi29 fixture: the value-banded events lake with
    * stats on `value` (table `events_zoneb`). Built once per JVM.
    */
  private def valueBandFixture(
      s: SparkSession, dir: String): graft.lake.Lake = {
    val root = s"${workRoot(dir)}/zone2829"
    val lake = graft.lake.Lake(s"$root/lake")
    fixtureOnce(root) {
      val spec = PartitionSpec("events_zoneb", "p0",
        tpIndexColumn = Some("event_type"))
      val src = Tables.load(s, dir, "events")
        .where(col("event_id") % 5 === 0)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("event_type"), col("value"))
      for ((loB, hiB) <- Seq((Double.NegativeInfinity, 40.0),
          (40.0, 80.0), (80.0, Double.PositiveInfinity)))
        Ingest.collectBatch(s, lake, spec,
          src.where(col("value") >= loB && col("value") < hiB),
          timestampColumn = "ts")
      lake.enableColumnStats(s, "events_zoneb", Seq("value"))
    }
    lake
  }

  /** Shared qi37/qi38 fixture: the six-slice time-banded events lake
    * with stats arming the containment proof (table `events_band37`).
    * Built once per JVM.
    */
  private def bandFixture(
      s: SparkSession, dir: String): graft.lake.Lake = {
    val root = s"${workRoot(dir)}/band3738"
    val lake = graft.lake.Lake(s"$root/lake")
    fixtureOnce(root) {
      val spec = PartitionSpec("events_band37", "p0",
        tpIndexColumn = Some("event_type"))
      val src = Tables.load(s, dir, "events")
        .where(col("event_id") % 5 === 0)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("event_type"), col("user_id"), col("value"))
      for (i <- 0 until 6)
        Ingest.collectBatch(s, lake, spec,
          src.where(col("ts") >= date_add(lit("2024-01-01"), i * 5) &&
            col("ts") < date_add(lit("2024-01-01"), (i + 1) * 5)),
          timestampColumn = "ts")
      lake.enableColumnStats(s, "events_band37",
        Seq("value", "user_id", "tp_timestamp"))
    }
    lake
  }

  /** Shared qi42/qi43 fixture: the day-sliced events lake — ten
    * day-contained appends (the shape time-ordered compaction leaves
    * behind; reference compact.go:264-416 orders by tp_timestamp
    * precisely so files don't straddle) plus one two-day straddler
    * append (table `events_day42`). Built once per JVM.
    */
  private def dayFixture(
      s: SparkSession, dir: String): graft.lake.Lake = {
    val root = s"${workRoot(dir)}/day4243"
    val lake = graft.lake.Lake(s"$root/lake")
    fixtureOnce(root) {
      val spec = PartitionSpec("events_day42", "p0",
        tpIndexColumn = Some("event_type"))
      val src = Tables.load(s, dir, "events")
        .where(col("event_id") % 5 === 0)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("event_type"), col("user_id"), col("value"))
      for (i <- 0 until 10)
        Ingest.collectBatch(s, lake, spec,
          src.where(col("ts") >= date_add(lit("2024-01-01"), i) &&
            col("ts") < date_add(lit("2024-01-01"), i + 1)),
          timestampColumn = "ts")
      Ingest.collectBatch(s, lake, spec,
        src.where(col("ts") >= date_add(lit("2024-01-01"), 10) &&
          col("ts") < date_add(lit("2024-01-01"), 12)),
        timestampColumn = "ts")
      // a RE-CRAWL slice duplicating Jan 5 12:00 .. Jan 6 12:00 (string
      // bounds compare chronologically in this format): its files span
      // two days, so the Jan 5/Jan 6 groups must MERGE a metadata
      // partial (the day-contained files) with the straddler scan —
      // the per-group union merge, not just disjoint routing
      Ingest.collectBatch(s, lake, spec,
        src.where(col("ts") >= "2024-01-05 12:00:00.000000" &&
          col("ts") < "2024-01-06 12:00:00.000000"),
        timestampColumn = "ts")
      lake.enableColumnStats(s, "events_day42",
        Seq("value", "user_id", "tp_timestamp"))
    }
    lake
  }

  /** qi48 fixture: eight one-day appends, NO straddler (table
    * `events_days48`) — the post-aligned-compaction shape where every
    * file is day-contained, so the distinct `tp_date` set is exactly
    * the manifest's per-file day set. Built once per JVM.
    */
  private def daysOnlyFixture(
      s: SparkSession, dir: String): graft.lake.Lake = {
    val root = s"${workRoot(dir)}/days48"
    val lake = graft.lake.Lake(s"$root/lake")
    fixtureOnce(root) {
      val spec = PartitionSpec("events_days48", "p0",
        tpIndexColumn = Some("event_type"))
      val src = Tables.load(s, dir, "events")
        .where(col("event_id") % 5 === 0)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("event_type"), col("user_id"), col("value"))
      for (i <- 0 until 8)
        Ingest.collectBatch(s, lake, spec,
          src.where(col("ts") >= date_add(lit("2024-01-01"), i) &&
            col("ts") < date_add(lit("2024-01-01"), i + 1)),
          timestampColumn = "ts")
      // qi51's weekday profile aggregates value/user_id — sidecar rows
      // needed (qi48's distinct-days rides the manifest alone)
      lake.enableColumnStats(s, "events_days48",
        Seq("value", "user_id", "tp_timestamp"))
    }
    lake
  }

  /** Shared qi46 fixture: the month-sliced events lake — six
    * month-contained appends landing in Jan..Jun 2024 (the reference's
    * own physical layout partitions by year/month,
    * ducklake_table.go:36-44, so month-contained files are its
    * dominant case — and indeed this engine's tp_year/tp_month
    * partitionBy makes every file month-contained by construction)
    * plus one append crossing Jan→Feb (table `events_month46`).
    * Source days shift by whole-day INTERVALs — exact micros
    * arithmetic, reproduced literally in the DuckDB oracle. Built once
    * per JVM.
    */
  private def monthFixture(
      s: SparkSession, dir: String): graft.lake.Lake = {
    val root = s"${workRoot(dir)}/month46"
    val lake = graft.lake.Lake(s"$root/lake")
    fixtureOnce(root) {
      val spec = PartitionSpec("events_month46", "p0",
        tpIndexColumn = Some("event_type"))
      val src = Tables.load(s, dir, "events")
        .where(col("event_id") % 5 === 0)
      def slice(loDay: Int, hiDay: Int, shiftDays: Int): Unit = {
        val shifted = src
          .where(col("ts") >= date_add(lit("2024-01-01"), loDay) &&
            col("ts") < date_add(lit("2024-01-01"), hiDay))
          .withColumn("ts", col("ts") + expr(s"INTERVAL $shiftDays DAYS"))
          .select(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            col("event_type"), col("user_id"), col("value"))
        Ingest.collectBatch(s, lake, spec, shifted,
          timestampColumn = "ts")
      }
      // slice i covers 5 source days shifted i*30 days out: Jan 1-5,
      // Feb 5-9, Mar 11-15, Apr 15-19, May 20-24, Jun 24-28
      for (i <- 0 until 6) slice(i * 5, (i + 1) * 5, i * 30)
      // a RE-CRAWL of the last 5 source days shifted +5: Jan 31..Feb 4
      slice(25, 30, 5)
      lake.enableColumnStats(s, "events_month46",
        Seq("value", "user_id", "tp_timestamp"))
    }
    lake
  }

  /** events → deterministic JSONL chunk files (timestamp serialized at
    * full micros so the round-trip is value-exact).
    */
  private def writeEventsJsonl(
      spark: SparkSession, sfDir: String, out: String, chunks: Int): Unit =
    Tables.load(spark, sfDir, "events")
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .repartition(chunks)
      .write.mode("overwrite").json(out)

  private def jsonlFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".json"))
      .map(_.getAbsolutePath).sorted.toSeq

  /** Shared events-JSONL chunk fixture per (sfDir, chunks), built once
    * per JVM (r20, guide §1.2): qi13/qi15/qi21/qi26 and the shared
    * lake each built a byte-identical writeEventsJsonl(chunks = 4)
    * inbox per use — a full events read + round-robin shuffle + JSON
    * write apiece — and qi06/qi16 the same at chunks = 2, qi07 at 6.
    * The chunk content is deterministic (sort-before-repartition
    * round-robin over a deterministic scan) and every consumer reads
    * its inbox READ-ONLY (no deleteProcessed anywhere), so sharing is
    * observation-equivalent; the same fixtureOnce convention the
    * qi28-qi48 lake fixtures already use.
    */
  private def eventsJsonlFixture(
      s: SparkSession, dir: String, chunks: Int): String = {
    val root = s"${workRoot(dir)}/jsonl_ev$chunks"
    fixtureOnce(root) { writeEventsJsonl(s, dir, root, chunks) }
    root
  }

  /** Shared qi22/qi24/qi27 fixture: the purchases/errors JSONL inboxes
    * split from events, built once per JVM — the three interval-join
    * variants gate different STATE LAYOUTS (default-bucketed, salted,
    * bucketed+salted) over identical source rows, and each paid two
    * events-scan+shuffle+JSON-write jobs per bench run for the same
    * bytes. Streams read the inboxes read-only; checkpoints stay
    * per-query.
    */
  private def ijoinInboxFixture(s: SparkSession, dir: String): String = {
    val root = s"${workRoot(dir)}/ijoin_inbox"
    fixtureOnce(root) {
      val src = Tables.load(s, dir, "events")
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("user_id"), col("event_type"))
      src.where(col("event_type") === "purchase")
        .repartition(2).write.mode("overwrite").json(s"$root/purchases")
      src.where(col("event_type") === "error")
        .repartition(2).write.mode("overwrite").json(s"$root/errors")
    }
    root
  }

  /** qi22/qi24/qi27: `join` over the purchases (`p_id`, `p_ts`,
    * `p_user`) and errors (`e_id`, `e_ts`, `e_user`) streams of the
    * shared inbox fixture, drained into the memory sink `<name>_mem`;
    * returns each match with its exact micros delta, ordered.
    *
    * Stream-stream join state = 4 stores PER shuffle partition, each
    * paying commit/snapshot overhead every micro-batch — the partition
    * count is frozen into the state layout at the first checkpoint, so
    * it must be derived BEFORE start(). It is sized from the INBOX
    * SAMPLE (sampledJoinSizing) rather than a full parse of both
    * feeds: at this fixture's 2-files-per-side geometry the sample IS
    * the whole inbox, so the derivation is identical (StreamIngestSpec
    * pins the equivalence); at 100 TB it is the difference between
    * sizing from 4 files and re-reading a day. Restored after start so
    * batch queries keep the session default.
    */
  private def ijoinQuery(s: SparkSession, dir: String, name: String,
      bucketedSizing: Boolean = false)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val inboxes = ijoinInboxFixture(s, dir)
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val (lDir, rDir) = (s"$inboxes/purchases", s"$inboxes/errors")
    val lSchema = SchemaInference.inferJson(s, jsonlFiles(lDir).take(1))
    val rSchema = SchemaInference.inferJson(s, jsonlFiles(rDir).take(1))
    def side(inbox: String, schema: StructType, p: String): DataFrame =
      s.readStream.schema(schema).json(inbox)
        .select(col("event_id").as(s"${p}_id"),
          to_timestamp(col("ts"), fmt).as(s"${p}_ts"),
          col("user_id").as(s"${p}_user"))
    val joined = join(side(lDir, lSchema, "p"), side(rDir, rSchema, "e"))
    val sizing = graft.streaming.StreamIngest.sampledJoinSizing(s,
      lDir, lSchema, rDir, rSchema,
      d => d.select(col("user_id").as("k"),
        to_timestamp(col("ts"), fmt).as("t")),
      horizonSecs = 3600L + 3600L, bucketed = bucketedSizing)
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val q = try {
      s.conf.set("spark.sql.shuffle.partitions",
        sizing.shufflePartitions.toString)
      joined.writeStream.format("memory")
        .queryName(s"${name}_mem").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    q.awaitTermination()
    s.table(s"${name}_mem")
      .select(col("p_id"), col("e_id"), col("p_user"),
        (unix_micros(col("e_ts")) - unix_micros(col("p_ts")))
          .as("delta_us"))
      .orderBy("p_id", "e_id")
  }

  /** The shared per-sfDir lake, built once per JVM: `events_lake`
    * ingested from 4 JSONL chunks with tp_index = event_type, partition
    * name p0. Reused by every read-only engine query.
    */
  private val fixtures =
    new java.util.concurrent.ConcurrentHashMap[String, Lake]()

  private[graft] def sharedLake(spark: SparkSession, sfDir: String): Lake =
    fixtures.computeIfAbsent(sfDir, { _ =>
      val root = s"${workRoot(sfDir)}/lake"
      FileUtils.deleteDirectory(new File(root))
      val jl = eventsJsonlFixture(spark, sfDir, chunks = 4)
      val lake = Lake(root)
      Ingest.collectJsonl(spark, lake,
        PartitionSpec("events_lake", "p0", tpIndexColumn = Some("event_type")),
        jsonlFiles(jl), timestampColumn = "ts")
      lake
    })

  // ---- queries -------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2A rows 1,2,5,6,12,13: JSONL typed scan → tp_ enrichment →
    // partitioned lake append → read back. The oracle recomputes every
    // tp_ column from the source table — any enrichment or round-trip
    // defect breaks the hash.
    "qi01_ingest_enrich" -> ((s, dir) => {
      val lake = sharedLake(s, dir)
      lake.read(s, "events_lake")
        .select(col("event_id"), col("tp_timestamp"), col("tp_date"),
          col("tp_index").cast("string").as("tp_index"),
          col("tp_partition").cast("string").as("tp_partition"),
          col("tp_table"),
          col("tp_year").cast("int").as("tp_year"),
          col("tp_month").cast("int").as("tp_month"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy("event_id")
    }),

    // §2A rows 8,10,11: ingest-time window filter + required-column
    // validation with per-column null report. Nulls are planted
    // deterministically; the oracle recomputes the report.
    "qi02_ingest_validate" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi02"
      FileUtils.deleteDirectory(new File(root))
      val src = Tables.load(s, dir, "events").select(
        col("event_id"),
        when(col("event_id") % 101 === 0, lit(null))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
          .as("ts"),
        when(col("event_id") % 97 === 0, lit(null))
          .otherwise(col("user_id")).as("user_id"),
        col("event_type"), col("value"))
      src.repartition(2).write.mode("overwrite").json(s"$root/jsonl")
      val lake = Lake(s"$root/lake")
      val res = Ingest.collectJsonl(s, lake,
        PartitionSpec("events_v", "p0", tpIndexColumn = Some("event_type")),
        jsonlFiles(s"$root/jsonl"),
        TableSpec("events_v", Seq(
          ColumnSpec("user_id", Some("bigint"), required = true))),
        timestampColumn = "ts")
      import s.implicits._
      (res.nullsByColumn.toSeq.map { case (c, n) => (s"null_$c", n) } ++
        Seq(("rows_ingested", res.rowsIngested),
          ("rows_invalid", res.rowsInvalid)))
        .toDF("metric", "n").orderBy("metric")
    }),

    // §2A rows 14,15: filtered views — from/to + wildcard index
    // patterns become view predicates over the lake (and prune
    // partition dirs; see ViewsSpec for the plan assertion).
    "qi03_filtered_view" -> ((s, dir) => {
      val lake = sharedLake(s, dir)
      Views.register(s, lake, Views.Filters(
        from = Some(Timestamp.valueOf("2024-01-05 00:00:00")),
        to = Some(Timestamp.valueOf("2024-01-20 00:00:00")),
        partitions = Seq("p*"),
        indexes = Seq("cl*", "sign*")))
      s.table("events_lake")
        .groupBy(col("tp_index").cast("string").as("tp_index"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          min("tp_timestamp").as("min_ts"), max("tp_timestamp").as("max_ts"))
        .orderBy("tp_index")
    }),

    // §2A rows 2,3,4: declared-schema conversion — source rename,
    // null_if sentinel, transform expression, and NULL-preserving
    // RECURSIVE struct reconstruction (field reorder + nested subset).
    // A naive struct() rebuild turns NULL meta into a struct of NULLs
    // and breaks meta_null/hash.
    "qi04_struct_convert" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi04"
      FileUtils.deleteDirectory(new File(root))
      Tables.load(s, dir, "events").select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("event_type"), col("value"),
        when(col("event_id") % 13 === 0, lit(null)).otherwise(
          struct(get_json_object(col("props"), "$.k").cast("int").as("k"),
            struct(col("user_id").as("id"),
              concat(lit("u"), col("user_id")).as("name")).as("user")))
          .as("meta"))
        .repartition(2).write.mode("overwrite").json(s"$root/jsonl")
      val lake = Lake(s"$root/lake")
      Ingest.collectJsonl(s, lake,
        PartitionSpec("events_s", "p0"),
        jsonlFiles(s"$root/jsonl"),
        TableSpec("events_s", Seq(
          ColumnSpec("event_id", Some("bigint"), required = true),
          ColumnSpec("ts", Some("timestamp")),
          ColumnSpec("status", Some("varchar"), transform = Some(
            "CASE WHEN value < 5 THEN 'low' WHEN value < 15 THEN 'mid' ELSE 'high' END")),
          ColumnSpec("ref", Some("varchar"), source = Some("event_type"),
            nullIf = Some("error")),
          ColumnSpec("meta",
            Some("struct(user struct(name varchar, id bigint), k integer)")))),
        timestampColumn = "ts")
      lake.read(s, "events_s")
        .select(col("event_id"), col("tp_timestamp"), col("status"),
          col("ref"), col("meta").isNull.as("meta_null"),
          col("meta.k").as("meta_k"), col("meta.user.name").as("user_name"),
          col("meta.user.id").as("user_id"), col("value"))
        .orderBy("event_id")
    }),

    // §2A row 21 + §7.4: schema inference per chunk batch with
    // FAIL-FAST drift detection; the typed error lists changed columns.
    "qi05_schema_drift" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi05"
      FileUtils.deleteDirectory(new File(root))
      val base = Tables.load(s, dir, "events")
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("value"))
      base.where(col("event_id") % 2 === 0)
        .coalesce(1).write.mode("overwrite").json(s"$root/chunk_a")
      base.where(col("event_id") % 2 === 1)
        .withColumn("value", concat(lit("v"), col("value")))
        .withColumn("extra", lit(true))
        .coalesce(1).write.mode("overwrite").json(s"$root/chunk_b")
      val files = jsonlFiles(s"$root/chunk_a") ++ jsonlFiles(s"$root/chunk_b")
      import s.implicits._
      try {
        Ingest.collectJsonl(s, Lake(s"$root/lake"),
          PartitionSpec("events_d", "p0"), files,
          timestampColumn = "ts", maxChunksPerBatch = 1)
        Seq.empty[(String, String, String)]
          .toDF("column_name", "was_type", "now_type")
      } catch {
        case e: SchemaInference.SchemaChangeError =>
          e.changes.map(c => (c.column, c.was, c.now))
            .toDF("column_name", "was_type", "now_type")
            .orderBy("column_name")
      }
    }),

    // §2A row 16: partition delete DML — rewrite affected partition
    // dirs minus rows in [from, to]; the oracle is the complement scan.
    "qi06_partition_delete" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi06"
      FileUtils.deleteDirectory(new File(root))
      val jl = eventsJsonlFixture(s, dir, chunks = 2)
      val lake = Lake(s"$root/lake")
      Ingest.collectJsonl(s, lake,
        PartitionSpec("events_del", "p0", tpIndexColumn = Some("event_type")),
        jsonlFiles(jl), timestampColumn = "ts")
      Maintenance.deletePartitionRange(s, lake, "events_del", "p0",
        from = Some(Timestamp.valueOf("2024-01-10 00:00:00")),
        to = Some(Timestamp.valueOf("2024-01-15 00:00:00")))
      lake.read(s, "events_del")
        .groupBy(col("tp_index").cast("string").as("tp_index"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          min("tp_timestamp").as("min_ts"), max("tp_timestamp").as("max_ts"))
        .orderBy("tp_index")
    }),

    // §2A rows 17,18,23: compaction — small-file merge + time-ordered
    // rewrite of overlapping ranges. The aggregate proves no row was
    // lost or duplicated; CompactionSpec asserts the file-level effects.
    "qi07_compact" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi07"
      FileUtils.deleteDirectory(new File(root))
      val jl = eventsJsonlFixture(s, dir, chunks = 6)
      val lake = Lake(s"$root/lake")
      // 3 separate appends → ≥3 files per partition dir, overlapping
      // time ranges (round-robin chunking interleaves timestamps)
      jsonlFiles(jl).grouped(2).foreach { chunk =>
        Ingest.collectJsonl(s, lake,
          PartitionSpec("events_cmp", "p0",
            tpIndexColumn = Some("event_type")),
          chunk, timestampColumn = "ts")
      }
      Maintenance.compact(s, lake, "events_cmp")
      lake.read(s, "events_cmp")
        .groupBy(col("tp_index").cast("string").as("tp_index"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          min("tp_timestamp").as("min_ts"), max("tp_timestamp").as("max_ts"))
        .orderBy("tp_index")
    }),

    // SURVEY §2B scans + §7.2 step 6: GROK format — log lines are
    // rendered from events, grok-extracted (one text scan + codegen'd
    // regexp projection, Formats.readGrok), converted under a declared
    // schema and lake-ingested. The oracle reconstructs every field
    // from the source table, so a regex, capture-order, or type-cast
    // defect breaks the hash. Value round-trip is exact: value is
    // 2-decimal in the fixture and rendered %.2f.
    "qi08_grok_ingest" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi08"
      FileUtils.deleteDirectory(new File(root))
      Tables.load(s, dir, "events").select(concat(
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
          lit(" UTC ["),
          when(col("value") < 10, lit("INFO")).otherwise(lit("WARN")),
          lit("] id="), col("event_id"),
          lit(" user="), col("user_id"),
          lit(" type="), col("event_type"),
          lit(" value="), format_string("%.2f", col("value")),
          lit(" "), col("props")).as("value"))
        .repartition(2).write.mode("overwrite").text(s"$root/logs")
      val raw = Formats.read(s,
        FormatSpec("grok", "applog", pattern = Some(
          """%{TIMESTAMP_ISO8601:ts} %{WORD:tz} \[%{LOGLEVEL:level}\] id=%{INT:event_id} user=%{INT:user_id} type=%{WORD:event_type} value=%{NUMBER:value} %{GREEDYDATA:props}""")),
        Seq(s"$root/logs"))
      val lake = Lake(s"$root/lake")
      Ingest.collectBatch(s, lake,
        PartitionSpec("events_grok", "p0", tpIndexColumn = Some("event_type")),
        raw,
        TableSpec("events_grok", Seq(
          ColumnSpec("event_id", Some("bigint"), required = true),
          ColumnSpec("ts", Some("timestamp")),
          ColumnSpec("level", Some("varchar")),
          ColumnSpec("user_id", Some("bigint")),
          ColumnSpec("event_type", Some("varchar")),
          ColumnSpec("value", Some("double")),
          ColumnSpec("props", Some("varchar")))),
        timestampColumn = "ts")
      lake.read(s, "events_grok")
        .select(col("event_id"), col("tp_timestamp"),
          col("tp_index").cast("string").as("tp_index"),
          col("level"), col("user_id"), col("event_type"),
          col("value"), col("props"))
        .orderBy("event_id")
    }),

    // §2B scans + §7.2 step 6: DELIMITED format — pipe-separated CSV
    // with header and a '-' null sentinel (reference null_if_data.csv
    // fixture), read via Formats.read and converted with a per-column
    // null_if rule.
    "qi09_delimited_ingest" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi09"
      FileUtils.deleteDirectory(new File(root))
      Tables.load(s, dir, "events").select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("user_id"),
          when(col("event_type") === "error", lit("-"))
            .otherwise(col("event_type")).as("event_type"),
          col("value"))
        .coalesce(1).write.mode("overwrite")
        .option("header", "true").option("delimiter", "|")
        .csv(s"$root/csv")
      val files = new java.io.File(s"$root/csv").listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".csv"))
        .map(_.getPath).toSeq
      val raw = Formats.read(s,
        FormatSpec("delimited", "psv", delimiter = "|", header = true), files)
      val lake = Lake(s"$root/lake")
      Ingest.collectBatch(s, lake,
        PartitionSpec("events_csv", "p0"),
        raw,
        TableSpec("events_csv", Seq(
          ColumnSpec("event_id", Some("bigint"), required = true),
          ColumnSpec("ts", Some("timestamp")),
          ColumnSpec("user_id", Some("bigint")),
          ColumnSpec("etype", Some("varchar"), source = Some("event_type"),
            nullIf = Some("-")),
          ColumnSpec("value", Some("double")))),
        timestampColumn = "ts")
      lake.read(s, "events_csv")
        .select(col("event_id"), col("tp_timestamp"), col("tp_date"),
          col("user_id"), col("etype"), col("value"))
        .orderBy("event_id")
    }),

    // §2A row 24: synthetic generator parity — the full 11-type
    // template cycle generated as a distributed spark.range plan,
    // ingested through the real pipeline, and recomputed EXACTLY by
    // DuckDB from range(): every generator formula (string/int/float/
    // bool cycling, JSON rendering, md5-derived uuids, struct fields,
    // the microsecond timestamp stride) is oracle-checked.
    "qi10_synthetic" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi10"
      FileUtils.deleteDirectory(new File(root))
      val lake = Lake(s"$root/lake")
      val batch = Synthetic.dataFrame(s,
        Synthetic.Spec(cols = 11, rows = 20000, chunkSize = 5000,
          intervalMs = 1),
        partition = "p0", table = "synthetic",
        from = Timestamp.valueOf("2024-01-01 00:00:00"),
        to = Timestamp.valueOf("2024-01-31 00:00:00"))
      Ingest.collectBatch(s, lake, PartitionSpec("synthetic", "p0"), batch)
      lake.read(s, "synthetic").select(
        col("int_col_1").as("rid"),
        col("tp_timestamp"), col("tp_date"),
        col("tp_index").cast("string").as("tp_index"),
        col("string_col_0"), col("float_col_2"), col("bool_col_3"),
        col("json_col_4"), col("timestamp_col_5"), col("array_col_6"),
        col("nested_json_col_7"), col("uuid_col_8"),
        col("simple_struct_col_9.id").as("ss_id"),
        col("simple_struct_col_9.name").as("ss_name"),
        col("simple_struct_col_9.active").as("ss_active"),
        col("nested_struct_col_10.metadata.created_at").as("ns_created"),
        col("nested_struct_col_10.metadata.version").as("ns_version"))
        .orderBy("rid")
    }),

    // Multimodal binary columns (builder brief): a payload column of
    // REAL container bytes (PNG/GIF/JPEG headers + deterministic body,
    // PDF for the no-dims case) is built from documents, lake-ingested
    // as `binary`, and per-row stats are computed by the codegen'd
    // expressions in graft.functions.BinaryFns — size, container sniff
    // from magic bytes, and width/height parsed OUT OF THE BYTES
    // (PNG IHDR big-endian, GIF screen descriptor little-endian, JPEG
    // SOF marker scan). The oracle rebuilds identical bytes with
    // from_hex and recomputes every stat independently — dims from the
    // closed-form fixture, digest via sha256 over the shared hex text.
    "qi11_multimodal" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi11"
      FileUtils.deleteDirectory(new File(root))
      val d = col("doc_id")
      val w = (d % 640 + 16).cast("int")
      val h = (d % 480 + 16).cast("int")
      def hex8(c: org.apache.spark.sql.Column) = lpad(lower(hex(c)), 8, "0")
      def hex4(c: org.apache.spark.sql.Column) = lpad(lower(hex(c)), 4, "0")
      def le16(c: org.apache.spark.sql.Column) = concat(
        lpad(lower(hex(c % 256)), 2, "0"),
        lpad(lower(hex(floor(c / 256).cast("int"))), 2, "0"))
      val body = expr("repeat(md5(text), cast(doc_id % 5 + 1 as int))")
      val hexStr =
        when(d % 4 === 0, concat( // PNG: sig + IHDR(len,tag,w,h,meta)
          lit("89504e470d0a1a0a0000000d49484452"),
          hex8(w), hex8(h), lit("0806000000"), body))
        .when(d % 4 === 1, concat( // GIF89a: sig + LE screen descriptor
          lit("474946383961"), le16(w), le16(h), lit("f70000"), body))
        .when(d % 4 === 2, concat( // JPEG: SOI + SOF0(len,prec,h,w,comps)
          lit("ffd8ffc0001108"), hex4(h), hex4(w),
          lit("03011100021101031101"), body, lit("ffd9")))
        .otherwise(concat(lit("255044462d312e34"), body)) // %PDF-1.4
      val src = Tables.load(s, dir, "documents").select(
        d.as("doc_id"),
        timestamp_micros(
          unix_micros(lit(Timestamp.valueOf("2024-01-01 00:00:00"))) +
            d * 1000000L).as("tp_timestamp"),
        unhex(hexStr).as("payload"))
      val lake = Lake(s"$root/lake")
      Ingest.collectBatch(s, lake, PartitionSpec("media", "p0"), src)
      val stats = graft.operators.Multimodal.withBinaryStats(
        s, lake.read(s, "media"), "payload")
      stats.select(col("doc_id"), col("tp_timestamp"),
          col("size_bytes").cast("bigint").as("size_bytes"),
          col("magic"), col("width"), col("height"),
          sha2(lower(hex(col("payload"))), 256).as("hex_digest"))
        .orderBy("doc_id")
    }),

    // §2A row 13: Spark-catalog table DDL. The lake table is registered
    // as a partitioned catalog table (CREATE TABLE … PARTITIONED BY +
    // recoverPartitions) and queried THROUGH the catalog — partition
    // pruning on tp_index comes from catalog metadata, not directory
    // listing. The oracle recomputes from the source table.
    // Structured Streaming ingest under the correctness gate: the
    // JSONL inbox drains through collectStream (checkpointed file
    // source, foreachBatch → the SAME batch pipeline) with
    // Trigger.AvailableNow, then the lake must hold exactly the batch
    // result — the oracle recomputes from the source table, so a
    // double-ingested or dropped micro-batch breaks count/sum/hash.
    "qi13_stream_ingest" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi13"
      FileUtils.deleteDirectory(new File(root))
      val inbox = eventsJsonlFixture(s, dir, chunks = 4)
      val lake = Lake(s"$root/lake")
      // r19: infer from ONE chunk, not the whole inbox (collectJsonl's
      // own convention) — chunks are round-robin slices of a no-null
      // source, so every file carries every column with identical
      // types; the full-inbox JSON parse bought nothing. Applied to
      // every streaming fixture's schema read in this file.
      val schema = SchemaInference.inferJson(s, jsonlFiles(inbox).take(1))
      val q = graft.streaming.StreamIngest.collectStream(s, lake,
        PartitionSpec("events_stream", "p0",
          tpIndexColumn = Some("event_type")),
        inbox, schema, s"$root/ckpt",
        timestampColumn = "ts")
      q.awaitTermination()
      lake.read(s, "events_stream")
        .groupBy(col("tp_index").cast("string").as("tp_index"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          min("tp_timestamp").as("min_ts"), max("tp_timestamp").as("max_ts"))
        .orderBy("tp_index")
    }),

    // Streaming hopping-window aggregation, end-to-end: the JSONL inbox
    // replayed as a file-source stream through the watermarked sliding
    // window (StreamIngest.hoppingAgg), complete-mode memory sink. The
    // oracle recomputes the 2-windows-per-event expansion from the
    // source table, so a dropped micro-batch, a window-alignment bug,
    // or double-counting across the overlap breaks count/sum/hash.
    "qi15_stream_window" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi15"
      FileUtils.deleteDirectory(new File(root))
      val inbox = eventsJsonlFixture(s, dir, chunks = 4)
      val schema = SchemaInference.inferJson(s, jsonlFiles(inbox).take(1))
      val stream = s.readStream.schema(schema).json(inbox)
        .withColumn("ts",
          to_timestamp(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      val agg = graft.streaming.StreamIngest.hoppingAgg(stream, "ts",
        "event_type", "value", "1 hour", "30 minutes",
        watermarkDelay = "1 hour")
      val q = agg.writeStream.format("memory").queryName("qi15_mem")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("qi15_mem")
        .select(col("w_start"), col("w_end"), col("event_type"), col("n"),
          round(col("sum_value"), 4).as("sum_value"))
        .orderBy("w_start", "event_type")
    }),

    // Streaming quality router end-to-end (the dead-letter-queue
    // pattern): the JSONL inbox through routedCollectStream with a
    // two-rule pack — rows passing BOTH rules take the normal collect
    // pipeline into the lake; failures land in quarantine with their
    // failed-rule names. The result unions both end states, so the
    // oracle (a DuckDB replay of the rule predicates over the source
    // table) catches a row routed to the wrong side, a dropped or
    // double-ingested micro-batch on either sink, and a wrong or
    // misordered _reject_reason string.
    "qi21_stream_router" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi21"
      FileUtils.deleteDirectory(new File(root))
      val inbox = eventsJsonlFixture(s, dir, chunks = 4)
      val lake = Lake(s"$root/lake")
      val schema = SchemaInference.inferJson(s, jsonlFiles(inbox).take(1))
      val rules = Seq(
        "value_cap" -> (col("value") <= 100.0),
        "not_error" -> (col("event_type") =!= "error"))
      val q = graft.streaming.StreamIngest.routedCollectStream(s, lake,
        PartitionSpec("events_routed", "p0",
          tpIndexColumn = Some("event_type")),
        inbox, schema, s"$root/ckpt", rules,
        timestampColumn = "ts")
      q.awaitTermination()
      val accepted = lake.read(s, "events_routed")
        .groupBy(col("tp_index").cast("string").as("key"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(lit("accepted").as("side"), col("key"), col("n"),
          col("sum_value"))
      val quarantined = graft.streaming.StreamIngest
        .readQuarantine(s, lake, "events_routed")
        .groupBy(col("_reject_reason").as("key"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(lit("quarantined").as("side"), col("key"), col("n"),
          col("sum_value"))
      accepted.unionByName(quarantined).orderBy("side", "key")
    }),

    // Streaming interval join end-to-end: purchases and errors split
    // into two JSONL inboxes, replayed as two file-source streams
    // through StreamIngest.intervalJoin (symmetric watermarks + the
    // event-time range condition — the bounded-state stream-stream
    // join), append-mode memory sink. As of r15 the default path
    // routes to the time-bucketed state layout, so this oracle now
    // gates the DEFAULT plan (qi24 gates salt-only, qi27 the
    // explicit bucket+salt composition). The oracle is a DuckDB
    // range join over the same source rows, so a dropped match
    // (state evicted too early), a phantom match (range condition
    // off by a boundary), or a micro-batch replay duplicate breaks
    // the hash. delta_us is an exact integer micros difference — no
    // seconds-truncation ambiguity between engines.
    "qi22_stream_interval_join" -> ((s, dir) =>
      ijoinQuery(s, dir, "qi22", bucketedSizing = true) { (l, r) =>
        graft.streaming.StreamIngest.intervalJoin(
          l, r, "p_user", "e_user", "p_ts", "e_ts",
          before = "30 minutes", after = "30 minutes",
          leftDelay = "1 hour", rightDelay = "1 hour")
      }),

    // Wide-schema end-to-end (verdict r12 task 5): a 300+-column table
    // — 300 derived bigint columns plus a struct and an array — through
    // the FULL pipeline (enrichment, validation, partitioned append),
    // then two reads union'd: a PRUNED per-type aggregate touching 2 of
    // the 300 data columns (PlanAuditSpec pins the 2-column ReadSchema)
    // and a full-width checksum row folding every one of the 300
    // columns, the struct field and both array elements into exact
    // bigints — a dropped column, a reordered struct rebuild, or a
    // null-poisoned cast anywhere in the width breaks the hash.
    "qi23_wide_collect" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi23"
      FileUtils.deleteDirectory(new File(root))
      val lake = Lake(s"$root/lake")
      val spec = PartitionSpec("events_w300", "p0",
        tpIndexColumn = Some("event_type"))
      // 1-in-7 deterministic sample: WIDTH is what this query gates
      // (the wide_schema rehearsal owns width×volume mechanics), and
      // the unsampled 300-column partitioned write alone was 33 s of
      // bench at sf0.1 — all volume, no extra coverage
      val base = Tables.load(s, dir, "events")
        .where(col("event_id") % 7 === 0)
        .select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("user_id"), col("event_type"))
      // ONE select, not 300 withColumn round-trips through the analyzer
      val wide = base.select(
        base.columns.map(col) ++
          (1 to 300).map(i =>
            ((col("event_id") * i + col("user_id")) % 1000003L)
              .as(f"c$i%03d")) ++
          Seq(struct(col("user_id").as("u"), col("event_type").as("t"))
              .as("meta"),
            array(col("event_id") % 7, col("event_id") % 11).as("tags")): _*)
      Ingest.collectBatch(s, lake, spec, wide, timestampColumn = "ts")
      val t = lake.read(s, "events_w300")
      val pruned = t
        .groupBy(col("tp_index").cast("string").as("key"))
        .agg(count(lit(1)).as("n"),
          sum("c007").as("s1"), sum("c300").as("s2"))
      // ONE sum over a row-level 300-term addition tree, not 300
      // separate sum buffers: the aggregate still gates every column
      // (any dropped/corrupted cNNN shifts the grand total — columns
      // are non-null by construction, so row-level addition is
      // value-identical to per-column sums) while the agg width drops
      // 300× (r13 verdict task 6; the row expression stays inside
      // whole-stage codegen). The addition is a BALANCED tree (depth
      // 9): a left-deep 300-term chain is deep enough to overflow the
      // stack in Spark's Column-to-expression conversion on some runs.
      // Every term is a non-null bigint under 1000003, so the grouping
      // cannot change the value.
      def balancedSum(cs: Seq[Column]): Column =
        if (cs.size == 1) cs.head
        else cs.splitAt(cs.size / 2) match {
          case (l, r) => balancedSum(l) + balancedSum(r)
        }
      val checksum = t.agg(
          count(lit(1)).as("n"),
          sum(balancedSum((1 to 300).map(i => col(f"c$i%03d")))).as("s1"),
          (sum(col("meta.u")) + sum(element_at(col("tags"), 1)) +
            sum(element_at(col("tags"), 2))).as("s2"))
        .select(lit("__checksum").as("key"),
          col("n"), col("s1"), col("s2"))
      pruned.unionByName(checksum).orderBy("key")
    }),

    // The SALTED stream-stream interval join against the same DuckDB
    // range-join oracle as qi22: the salt machinery (left-side column
    // hash, right-side ×factor explode, (key, salt) state layout) must
    // be row-invisible — a duplicate match (a row reaching two salts),
    // a dropped match (salt mismatch between a row and its replica),
    // or a state-eviction change breaks the hash. factor is FORCED to
    // 4 because this table's user keys are near-uniform and autoState
    // would correctly derive 1 (= plain qi22, exercising nothing);
    // the skew-triggered derivation is pinned in StreamIngestSpec and
    // measured in the stream_skew rehearsal.
    "qi24_stream_ijoin_salted" -> ((s, dir) =>
      ijoinQuery(s, dir, "qi24") { (l, r) =>
        graft.streaming.StreamIngest.saltedIntervalJoin(
          l, r, "p_user", "e_user", "p_ts", "e_ts",
          before = "30 minutes", after = "30 minutes",
          leftDelay = "1 hour", rightDelay = "1 hour", factor = 4)
      }),

    // The time-BUCKETED salted interval join against the same DuckDB
    // range-join oracle as qi22/qi24: the (key, salt, bucket) state
    // layout — buckets bound the symmetric-hash probe to one
    // window-width of state per row, the salt spreads hot keys — must
    // be row-invisible. A boundary error in the ±1 bucket replication
    // (a match straddling a bucket edge dropped or doubled), a
    // floor-division defect on the bucket id, or a salt/bucket
    // interaction breaks the hash.
    "qi27_stream_ijoin_bucketed" -> ((s, dir) =>
      ijoinQuery(s, dir, "qi27") { (l, r) =>
        graft.streaming.StreamIngest.bucketedIntervalJoin(
          l, r, "p_user", "e_user", "p_ts", "e_ts",
          before = "30 minutes", after = "30 minutes",
          leftDelay = "1 hour", rightDelay = "1 hour", factor = 3)
      }),

    // Zone-map pruned scan from the colstats sidecar: events land in
    // three VALUE-BANDED appends (per-file value ranges disjoint — the
    // layout zone maps reward), column stats are enabled on `value`,
    // and the probe reads through readPrunedByColumn for a band that
    // lives entirely inside the middle append. The require pins that
    // pruning actually skipped files; the DuckDB oracle recomputes the
    // filtered aggregate from the raw table, so a zone map that skips
    // a file holding in-range rows (stale range, off-by-boundary
    // comparison, a file missing from the sidecar read as skippable)
    // breaks the hash — conservativeness is the gated property.
    // Zone-map pruning through the QUERY LAYER (r16 verdict task 1):
    // same value-banded lake as qi28, but the probe is a plain SQL
    // band predicate against the REGISTERED VIEW — no programmatic
    // readPrunedByColumn call anywhere. The ZoneMapFileIndex under
    // Lake.read must surface the pushed conjuncts to the colstats
    // sidecar at planning time; the require pins the measured file
    // cut (ScanAudit reads the scan's numFiles metric), and the
    // DuckDB oracle recomputes the aggregate from raw rows so any
    // unsound skip breaks the hash — conservativeness gated exactly
    // like qi28, now on the path users actually hit.
    "qi29_view_zone_pruned_query" -> ((s, dir) => {
      val lake = valueBandFixture(s, dir) // shared with qi28
      Views.register(s, lake, Views.Filters())
      val total = lake.dataFiles(s, "events_zoneb").size
      val q = s.sql("""
        SELECT cast(tp_index AS string) AS etype, count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM events_zoneb
        WHERE value >= 45.0 AND value <= 70.0
        GROUP BY 1 ORDER BY 1""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files > 0 && files < total,
        s"zone maps pruned nothing through the view: read $files of " +
          s"$total files")
      q
    }),

    // Time-zone-map pruning through the query path with NO colstats
    // sidecar: the manifest's per-file min_ts/max_ts become synthetic
    // tp_timestamp/tp_date zones, so a plain SQL time band — the
    // reference's dominant query shape (tailpipe's initial collection
    // and every `--from/--to` query are time ranges) — skips files at
    // planning time on every lake table. The require pins the file
    // cut; the DuckDB oracle recomputes the aggregate from raw rows,
    // so an unsound skip breaks the hash.
    "qi30_view_time_pruned_query" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi30"
      val lake = Lake(s"$root/lake")
      fixtureOnce(root) {
        val spec = PartitionSpec("events_time30", "p0",
          tpIndexColumn = Some("event_type"))
        val src = Tables.load(s, dir, "events")
          .where(col("event_id") % 5 === 0)
          .select(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            col("event_type"), col("value"))
        // three decade-of-January slices: disjoint per-file time zones
        for ((loB, hiB) <- Seq(("2024-01-01", "2024-01-11"),
            ("2024-01-11", "2024-01-21"), ("2024-01-21", "2024-02-01")))
          Ingest.collectBatch(s, lake, spec,
            src.where(col("ts") >= loB && col("ts") < hiB),
            timestampColumn = "ts")
        // NO enableColumnStats: time zones come from the manifest alone
      }
      Views.register(s, lake, Views.Filters())
      val total = lake.dataFiles(s, "events_time30").size
      val q = s.sql("""
        SELECT cast(tp_index AS string) AS etype, count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM events_time30
        WHERE tp_timestamp >= timestamp'2024-01-12 00:00:00'
          AND tp_timestamp < timestamp'2024-01-18 00:00:00'
        GROUP BY 1 ORDER BY 1""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files > 0 && files < total,
        s"manifest time zones pruned nothing through the view: read " +
          s"$files of $total files")
      q
    }),

    // Metadata-only aggregate: count(*)/count(c)/min(c)/max(c) answered
    // from the manifest + colstats sidecar with ZERO data-file reads —
    // the DataFrame aggregate `graft table aggregate` builds, rewritten
    // by MetadataAggregateRule (the in-query require pins the files
    // read at 0). The DuckDB oracle recomputes every aggregate from the
    // raw rows, so a stale sidecar row, a double-rounded long bound, a
    // missed null count, or a dropped file breaks the hash — metadata
    // EXACTNESS is the gated property. Nulls are injected into `value`
    // so count(value) != count(*) exercises the null-count arithmetic,
    // and tp_timestamp's min/max rides the manifest (no sidecar ranges
    // exist for timestamps) while its count rides the sidecar.
    "qi31_metadata_only_aggregate" -> ((s, dir) => {
      val lake = metaAggFixture(s, dir)
      graft.lake.MetadataAggregateRule.install(s)
      val aggs = count(lit(1)).as("n_rows") +: Seq("value" -> "value",
        "user_id" -> "user", "event_type" -> "etype",
        "tp_timestamp" -> "ts").flatMap { case (c, as) =>
          Seq(count(col(c)).as(s"n_$as"), min(col(c)).as(s"min_$as"),
            max(col(c)).as(s"max_$as"))
        }
      val q = lake.read(s, "events_meta31").agg(aggs.head, aggs.tail: _*)
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0L,
        s"metadata aggregate fell back to scanning $files files")
      q
    }),

    // The SQL-path face of qi31: a user typing plain `SELECT count(*),
    // min(v), max(v) ...` against the registered view gets the
    // manifest+sidecar answer with ZERO data-file reads — the
    // MetadataAggregateRule rewrite (installed by Views.register),
    // pinned by the in-query require on ScanAudit's file metric. The
    // DuckDB oracle recomputes every aggregate from raw rows, so a
    // rewrite that fires when metadata is stale or incomplete breaks
    // the hash — the decline-unless-provably-exact gate is the tested
    // property.
    "qi33_sql_metadata_aggregate" -> ((s, dir) => {
      val lake = metaAggFixture(s, dir) // shared with qi31
      Views.register(s, lake, Views.Filters())
      val q = s.sql("""
        SELECT count(*) AS n_rows,
               count(value) AS n_value,
               min(value) AS min_value, max(value) AS max_value,
               count(user_id) AS n_user,
               min(user_id) AS min_user, max(user_id) AS max_user,
               min(event_type) AS min_etype, max(event_type) AS max_etype,
               min(tp_timestamp) AS min_ts, max(tp_timestamp) AS max_ts
        FROM events_meta31""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0L,
        s"metadata aggregate through SQL still scanned $files files")
      q
    }),

    // The GROUPED twin of qi33: GROUP BY a physical partition column
    // (tp_index = event_type) is answered per-group from the manifest
    // + sidecar keyed by each file's directory — one output row per
    // partition group, zero data-file reads (require pins it). The
    // DuckDB oracle recomputes the grouped aggregate from raw rows, so
    // a group served from a wrong directory keying, a miscounted null,
    // or a cross-group range leak breaks the hash.
    "qi34_sql_grouped_metadata_aggregate" -> ((s, dir) => {
      // byte-identical to the qi31/qi33 lake — share it (the grouped
      // rewrite needs only `value` coverage, a subset of its stats)
      val lake = metaAggFixture(s, dir)
      Views.register(s, lake, Views.Filters())
      val q = s.sql("""
        SELECT tp_index AS etype, count(*) AS n,
               count(value) AS n_value,
               min(value) AS min_value, max(value) AS max_value
        FROM events_meta31
        GROUP BY tp_index ORDER BY etype""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0L,
        s"grouped metadata aggregate still scanned $files files")
      q
    }),

    // Partition-filtered metadata aggregate: a WHERE referencing ONLY
    // physical partition columns is constant per file directory, so
    // the rule evaluates it against each file's directory values —
    // exactly the partition pruning a scan would do — and still
    // answers from the manifest+sidecar with zero data-file reads.
    // Two partitions (odd/even event_id), the filter keeps one; the
    // DuckDB oracle recomputes the filtered grouped aggregate from the
    // same split, so a file mis-keyed into the wrong partition or a
    // filter evaluated per-row differently than per-dir breaks the
    // hash.
    "qi35_sql_partition_filtered_metadata_aggregate" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi35"
      val lake = Lake(s"$root/lake")
      fixtureOnce(root) {
        val src = Tables.load(s, dir, "events")
          .where(col("event_id") % 5 === 0)
          .select(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            col("event_type"), col("value"))
        for ((p, pred) <- Seq(
            ("even", col("event_id") % 2 === 0),
            ("odd", col("event_id") % 2 === 1))) {
          val spec = PartitionSpec("events_meta35", p,
            tpIndexColumn = Some("event_type"))
          Ingest.collectBatch(s, lake, spec, src.where(pred),
            timestampColumn = "ts")
        }
        lake.enableColumnStats(s, "events_meta35", Seq("value"))
      }
      Views.register(s, lake, Views.Filters())
      val q = s.sql("""
        SELECT tp_index AS etype, count(*) AS n,
               min(value) AS min_value, max(value) AS max_value
        FROM events_meta35
        WHERE tp_partition = 'even' AND tp_year >= 2024
        GROUP BY tp_index ORDER BY etype""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0L,
        s"partition-filtered metadata aggregate scanned $files files")
      q
    }),

    // Metadata-served SUM: integer addition is order-independent, so
    // the per-file value sums in the sidecar merge into an EXACT table
    // sum — unlike doubles, where reduce order changes the bits. The
    // grouped shape rides the same per-directory keying as qi34. The
    // DuckDB oracle recomputes both sums (cast to BIGINT — DuckDB
    // widens bigint sums to HUGEINT) from raw rows, so a missed file,
    // a stale per-file sum, or an overflow-wrapped merge breaks the
    // hash. files==0 pinned in-query.
    "qi36_sql_metadata_sum" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi36"
      val lake = Lake(s"$root/lake")
      fixtureOnce(root) {
        val spec = PartitionSpec("events_meta36", "p0",
          tpIndexColumn = Some("event_type"))
        val src = Tables.load(s, dir, "events")
          .where(col("event_id") % 5 === 0)
          .select(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            col("event_type"), col("user_id"), col("value"))
        for ((loB, hiB) <- Seq((Double.NegativeInfinity, 40.0),
            (40.0, 80.0), (80.0, Double.PositiveInfinity)))
          Ingest.collectBatch(s, lake, spec,
            src.where(col("value") >= loB && col("value") < hiB),
            timestampColumn = "ts")
        lake.enableColumnStats(s, "events_meta36",
          Seq("event_id", "user_id"))
      }
      Views.register(s, lake, Views.Filters())
      val q = s.sql("""
        SELECT tp_index AS etype, count(*) AS n,
               sum(event_id) AS sum_event, sum(user_id) AS sum_user
        FROM events_meta36
        GROUP BY tp_index ORDER BY etype""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0L,
        s"metadata sum through SQL still scanned $files files")
      q
    }),

    // TIME-BAND hybrid aggregate — the reference's dominant query
    // shape (--from/--to) answered mostly from metadata: files fully
    // inside the band (manifest range contained AND proven
    // null-ts-free) contribute counts/sums/ranges without being read;
    // only edge-straddling files scan, with the row filter applied —
    // MetadataAggregateRule's hybrid over the DataFrame aggregate
    // `graft table aggregate --from/--to` builds. The require pins
    // that the scan set is a strict subset; the DuckDB oracle
    // recomputes the banded aggregate from raw rows, so a file wrongly
    // counted as contained (off-by-boundary, a null ts missed, a stale
    // manifest range) breaks the hash.
    "qi37_time_band_hybrid_aggregate" -> ((s, dir) => {
      val lake = bandFixture(s, dir) // shared with qi38
      graft.lake.MetadataAggregateRule.install(s)
      val total = lake.dataFiles(s, "events_band37").size
      // band = mid-slice-1 .. mid-slice-4: slices 2,3 contained,
      // 1 and 4 straddle, 0 and 5 outside
      val from = Timestamp.valueOf("2024-01-08 12:00:00")
      val to = Timestamp.valueOf("2024-01-23 11:59:59")
      val q = lake.read(s, "events_band37")
        .where(col("tp_timestamp") >= lit(from) &&
          col("tp_timestamp") <= lit(to))
        .agg(count(lit(1)).as("n_rows"),
          count(col("value")).as("n_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          min(col("user_id")).as("min_user"),
          max(col("user_id")).as("max_user"),
          sum(col("user_id")).as("sum_user"))
      val scanned = graft.query.ScanAudit.filesReadAfterRun(q)
      require(scanned > 0 && scanned * 2 < total,
        s"time-band hybrid should scan only straddlers: $scanned of $total")
      q
    }),

    // The SQL-path face of qi37: a plain `WHERE tp_timestamp BETWEEN`
    // aggregate through the registered view gets the HYBRID plan —
    // contained files as a LocalRelation partial from the manifest +
    // sidecar, straddlers as an in-plan partial aggregate over a
    // relation restricted to exactly those files, merged under the
    // original output ids. The require pins that the scan touched
    // only a strict minority of files; the DuckDB oracle recomputes
    // the banded aggregate (with an exact BIGINT sum) from raw rows,
    // so a containment error or a bad merge breaks the hash.
    "qi38_sql_time_band_hybrid" -> ((s, dir) => {
      val lake = bandFixture(s, dir) // shared with qi37
      Views.register(s, lake, Views.Filters())
      val total = lake.dataFiles(s, "events_band37").size
      val q = s.sql("""
        SELECT count(*) AS n_rows, count(value) AS n_value,
               min(value) AS min_value, max(value) AS max_value,
               sum(user_id) AS sum_user
        FROM events_band37
        WHERE tp_timestamp >= timestamp'2024-01-08 12:00:00'
          AND tp_timestamp <= timestamp'2024-01-23 11:59:59'""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files > 0 && files * 2 < total,
        s"band hybrid through SQL should scan only straddlers: " +
          s"$files of $total")
      q
    }),

    // The GROUPED band hybrid: GROUP BY a partition column + a
    // tp_timestamp band — per-group metadata partials (local rows)
    // merge with the straddler scan's groups through the final GROUP
    // BY, so group alignment is the grouped merge itself. Same
    // strict-minority files-read require; the DuckDB oracle recomputes
    // the grouped banded aggregate (exact BIGINT sums) from raw rows.
    "qi39_sql_grouped_time_band_hybrid" -> ((s, dir) => {
      val lake = bandFixture(s, dir) // shared with qi37/qi38
      Views.register(s, lake, Views.Filters())
      val total = lake.dataFiles(s, "events_band37").size
      val q = s.sql("""
        SELECT tp_index AS etype, count(*) AS n,
               min(value) AS min_value, max(value) AS max_value,
               sum(user_id) AS sum_user
        FROM events_band37
        WHERE tp_timestamp >= timestamp'2024-01-08 12:00:00'
          AND tp_timestamp <= timestamp'2024-01-23 11:59:59'
        GROUP BY tp_index ORDER BY etype""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files > 0 && files * 2 < total,
        s"grouped band hybrid should scan only straddlers: " +
          s"$files of $total")
      q
    }),

    // Metadata-served AVG (r17 verdict task 1): avg over an integral
    // column is exact-sum/count — the sidecar's per-file DECIMAL sums
    // merge into an exact total, one double division at the end. Both
    // the ungrouped and the partition-grouped shape ride the rewrite
    // with zero data-file reads (pinned in-query); the DuckDB oracle
    // recomputes both avgs from raw rows — totals here sit far below
    // 2^53, so DuckDB's double accumulation is exact and the hash
    // match is bit-for-bit.
    "qi40_sql_metadata_avg" -> ((s, dir) => {
      val lake = metaAggFixture(s, dir) // shared with qi31/qi33/qi34
      Views.register(s, lake, Views.Filters())
      val q = s.sql("""
        SELECT 'all' AS etype, avg(user_id) AS avg_user,
               count(*) AS n, min(user_id) AS min_user
        FROM events_meta31
        UNION ALL
        SELECT * FROM (
          SELECT tp_index AS etype, avg(user_id) AS avg_user,
                 count(*) AS n, min(user_id) AS min_user
          FROM events_meta31
          GROUP BY tp_index)
        ORDER BY etype""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0L,
        s"metadata avg through SQL still scanned $files files")
      q
    }),

    // tp_date band hybrid (r17 verdict task 5): the reference keeps
    // tp_date for pre-0.7 compatibility and users filter on it; date
    // bounds fold exactly into the tp_timestamp micros band
    // (epoch-day × 86.4e9 under the engine's always-UTC sessions), so
    // a `WHERE tp_date BETWEEN ...` aggregate gets the same hybrid:
    // contained slices from metadata, only the straddling slice
    // scanned (pinned in-query as a strict minority). The DuckDB
    // oracle recomputes from raw rows via cast(ts AS DATE).
    "qi41_sql_date_band_hybrid" -> ((s, dir) => {
      val lake = bandFixture(s, dir) // shared with qi37/qi38/qi39
      Views.register(s, lake, Views.Filters())
      val total = lake.dataFiles(s, "events_band37").size
      val q = s.sql("""
        SELECT count(*) AS n_rows, count(value) AS n_value,
               min(value) AS min_value, max(value) AS max_value,
               sum(user_id) AS sum_user
        FROM events_band37
        WHERE tp_date >= DATE'2024-01-11' AND tp_date <= DATE'2024-01-18'""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files > 0 && files * 2 < total,
        s"date-band hybrid should scan only straddlers: " +
          s"$files of $total")
      q
    }),

    // Partition columns as DIRECTORY truth (r18): count/min/max/sum/
    // avg over tp_year/tp_month/tp_index derive from the listing +
    // manifest row counts — partitionBy strips these columns from the
    // files, so the directory IS the column; no sidecar row exists or
    // is needed, and the introspection dashboard ("what months do we
    // hold, which index names, how many rows per year") reads zero
    // data. The DuckDB oracle recomputes from raw rows via
    // year()/month() of the timestamp and the tp_index source column.
    "qi45_sql_partition_column_aggregate" -> ((s, dir) => {
      val lake = metaAggFixture(s, dir) // shared with qi31/qi33/qi40
      Views.register(s, lake, Views.Filters())
      val q = s.sql("""
        SELECT count(*) AS n, min(tp_year) AS min_year,
               max(tp_year) AS max_year, count(tp_month) AS n_month,
               avg(tp_month) AS avg_month, sum(tp_year) AS sum_year,
               min(tp_index) AS min_etype, max(tp_index) AS max_etype
        FROM events_meta31""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0L,
        s"partition-column aggregate through SQL still scanned $files")
      q
    }),

    // OR-of-bands hybrid (r17 verdict task 6): the multi-window
    // dashboard shape — `ts BETWEEN a AND b OR ts BETWEEN c AND d` —
    // factored into a disjoint band set; slices contained in EITHER
    // window answer from metadata, only the window-edge straddlers
    // scan (with the original OR applied row-level), and a file
    // between the windows is excluded entirely. The DuckDB oracle
    // recomputes the two-window aggregate (exact BIGINT sum, exact
    // avg under 2^53) from raw rows.
    "qi44_sql_or_bands_hybrid" -> ((s, dir) => {
      val lake = bandFixture(s, dir) // shared with qi37/qi38/qi39/qi41
      Views.register(s, lake, Views.Filters())
      val total = lake.dataFiles(s, "events_band37").size
      val q = s.sql("""
        SELECT count(*) AS n_rows, count(value) AS n_value,
               min(value) AS min_value, max(value) AS max_value,
               sum(user_id) AS sum_user, avg(user_id) AS avg_user
        FROM events_band37
        WHERE (tp_timestamp >= timestamp'2024-01-06 00:00:00'
               AND tp_timestamp <= timestamp'2024-01-13 12:00:00')
           OR (tp_timestamp >= timestamp'2024-01-18 12:00:00'
               AND tp_timestamp <= timestamp'2024-01-25 23:59:59')""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files > 0 && files * 2 < total,
        s"OR-of-bands hybrid should scan only straddlers: " +
          s"$files of $total")
      q
    }),

    // GROUP BY tp_date served from the metadata layer (r17 verdict
    // task 1 — THE reporting query of the reference's domain, the
    // shape its --from/--to view filters exist to feed): day-contained
    // files contribute per-day metadata partials as local rows, only
    // the band-boundary day and the multi-day straddler scan and group
    // in-plan, and the final GROUP BY merges. The require pins the
    // strict-minority scan set; the DuckDB oracle recomputes the
    // day-grouped banded aggregate (exact BIGINT sums, exact avg under
    // 2^53) from raw rows, so a bucket misclassification, a boundary
    // error, or a bad grouped merge breaks the hash.
    "qi42_sql_group_by_day_hybrid" -> ((s, dir) => {
      val lake = dayFixture(s, dir) // shared with qi43
      Views.register(s, lake, Views.Filters())
      val total = lake.dataFiles(s, "events_day42").size
      val q = s.sql("""
        SELECT tp_date, count(*) AS n, min(value) AS min_value,
               max(value) AS max_value, sum(user_id) AS sum_user,
               avg(user_id) AS avg_user
        FROM events_day42
        WHERE tp_timestamp >= timestamp'2024-01-02 12:00:00'
          AND tp_timestamp <= timestamp'2024-01-11 23:59:59'
        GROUP BY tp_date ORDER BY tp_date""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files > 0 && files * 2 < total,
        s"day-grouped hybrid should scan only straddlers: " +
          s"$files of $total")
      q
    }),

    // The date_trunc face of qi42, mixed with a partition key:
    // `GROUP BY tp_index, date_trunc('DAY', tp_timestamp)` — the
    // optimizer pulls the trunc out as a computed grouping column, the
    // rewrite resolves it back, and per-(bucket, directory) metadata
    // partials merge with the straddler scan through the final GROUP
    // BY. The SELECT casts the bucket to DATE — an output DERIVED from
    // the group key, served by key substitution on both sides. No
    // WHERE at all: bucket containment alone drives the split.
    "qi43_sql_group_by_trunc_hybrid" -> ((s, dir) => {
      val lake = dayFixture(s, dir) // shared with qi42
      Views.register(s, lake, Views.Filters())
      val total = lake.dataFiles(s, "events_day42").size
      val q = s.sql("""
        SELECT tp_index AS etype,
               cast(date_trunc('DAY', tp_timestamp) AS date) AS day,
               count(*) AS n, sum(user_id) AS sum_user
        FROM events_day42
        GROUP BY tp_index, date_trunc('DAY', tp_timestamp)
        ORDER BY etype, day""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files > 0 && files * 2 < total,
        s"trunc-grouped hybrid should scan only straddlers: " +
          s"$files of $total")
      q
    }),

    // THE monthly report (r18 verdict task 1): `GROUP BY
    // date_trunc('MONTH', tp_timestamp)` with a band WHERE whose lower
    // edge falls mid-January — a CALENDAR grain, not a fixed micros
    // width, served by the monotone bucket-id generalization
    // (idOf(min_ts)==idOf(max_ts) proves containment; MonthsGrain).
    // Jan files at the band edge scan in-plan and MERGE into the Jan
    // bucket with the Jan-31 metadata partial from the straddling
    // append; Feb..Jun answer from metadata alone. The require pins
    // the strict-minority scan set; the DuckDB oracle recomputes the
    // month-grouped banded aggregate from raw rows, so a month-id
    // error, a calendar-boundary error, or a bad grouped merge breaks
    // the hash.
    "qi46_sql_group_by_month_hybrid" -> ((s, dir) => {
      val lake = monthFixture(s, dir)
      Views.register(s, lake, Views.Filters())
      val total = lake.dataFiles(s, "events_month46").size
      val q = s.sql("""
        SELECT cast(date_trunc('MONTH', tp_timestamp) AS DATE) AS month,
               count(*) AS n, min(value) AS min_value,
               max(value) AS max_value, sum(user_id) AS sum_user,
               avg(user_id) AS avg_user
        FROM events_month46
        WHERE tp_timestamp >= timestamp'2024-01-03 12:00:00'
          AND tp_timestamp <= timestamp'2024-06-30 23:59:59'
        GROUP BY date_trunc('MONTH', tp_timestamp) ORDER BY month""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files > 0 && files * 2 < total,
        s"month-grouped hybrid should scan only band-edge files: " +
          s"$files of $total")
      q
    }),

    // The daily-report-with-LIMIT shape (r18 verdict task 4): HAVING +
    // ORDER BY n DESC + LIMIT compose ABOVE the bucket-hybrid
    // Aggregate — the rewrite fires on the Aggregate beneath them, the
    // straddler scan stays minority, and the top-k runs over the
    // merged rows. Ties on n break by tp_date so the LIMIT is
    // deterministic; the DuckDB oracle recomputes the same top-k from
    // raw rows.
    "qi47_sql_day_topk_hybrid" -> ((s, dir) => {
      val lake = dayFixture(s, dir) // shared with qi42/qi43
      Views.register(s, lake, Views.Filters())
      val total = lake.dataFiles(s, "events_day42").size
      val q = s.sql("""
        SELECT tp_date, count(*) AS n, sum(user_id) AS sum_user
        FROM events_day42
        WHERE tp_timestamp >= timestamp'2024-01-02 12:00:00'
          AND tp_timestamp <= timestamp'2024-01-11 23:59:59'
        GROUP BY tp_date HAVING count(*) > 3
        ORDER BY n DESC, tp_date LIMIT 5""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files > 0 && files * 2 < total,
        s"top-k over the day hybrid should scan only straddlers: " +
          s"$files of $total")
      q
    }),

    // The report-for-month-X filter (r19): `WHERE date_trunc('MONTH',
    // tp_timestamp) = TIMESTAMP 'start'` folds into the exact micros
    // band [start, next-start) — bucket expressions take only
    // bucket-start values — and every February file (the contained
    // slice AND the Jan→Feb straddler's tp_month=2 file) is
    // band-contained, so the aggregate reads ZERO data files. The
    // DuckDB oracle recomputes from the shifted raw feeds.
    "qi49_sql_month_eq_filter" -> ((s, dir) => {
      val lake = monthFixture(s, dir) // shared with qi46
      Views.register(s, lake, Views.Filters())
      val q = s.sql("""
        SELECT count(*) AS n, min(value) AS min_value,
               max(value) AS max_value, sum(user_id) AS sum_user
        FROM events_month46
        WHERE date_trunc('MONTH', tp_timestamp) =
              timestamp'2024-02-01 00:00:00'""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0,
        s"month-eq filter must serve scan-free, read $files")
      q
    }),

    // count(DISTINCT tp_date) — "active days per index" (r18 verdict
    // task 6): when every file is day-contained the distinct date set
    // IS the manifest's per-file day set, so the grouped answer reads
    // ZERO data files (no sidecar needed either — the proof rides the
    // manifest ts ranges alone). The DuckDB oracle recomputes the
    // distinct dates from raw rows.
    "qi48_sql_distinct_days_manifest" -> ((s, dir) => {
      val lake = daysOnlyFixture(s, dir)
      Views.register(s, lake, Views.Filters())
      val q = s.sql("""
        SELECT tp_index AS etype, count(DISTINCT tp_date) AS active_days,
               count(*) AS n
        FROM events_days48 GROUP BY tp_index ORDER BY etype""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0,
        s"distinct-days must be manifest-served scan-free, read $files")
      q
    }),

    // The reference's own physical layout as a report: it partitions
    // data files by `year(tp_timestamp), month(tp_timestamp)`
    // (ducklake_table.go:36-44), so GROUP BY those extracts IS its
    // layout-native rollup. Two bucket-FUNCTIONAL keys ride ONE month
    // containment grain (month refines year; each key's value derives
    // from the bucket-start instant), and because this engine's
    // tp_year/tp_month partitionBy makes every file month-contained by
    // construction, the full-range report reads ZERO data files. The
    // DuckDB oracle recomputes year/month/count/min/max/sum/avg from
    // the shifted raw feeds.
    "qi50_sql_year_month_layout_report" -> ((s, dir) => {
      val lake = monthFixture(s, dir) // shared with qi46/qi49
      Views.register(s, lake, Views.Filters())
      val q = s.sql("""
        SELECT year(tp_timestamp) AS y, month(tp_timestamp) AS m,
               count(*) AS n, min(value) AS min_value,
               max(value) AS max_value, sum(user_id) AS sum_user,
               avg(user_id) AS avg_user
        FROM events_month46
        GROUP BY year(tp_timestamp), month(tp_timestamp)
        ORDER BY y, m""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0,
        s"year×month layout report must serve scan-free, read $files")
      q
    }),

    // Top talkers (r19): `graft_topk(event_type, 3)` — the
    // frequent-items report (top event types / error codes / hosts)
    // served by merging the sidecar's per-file sketches with ZERO
    // data reads. Serve gate: the merged sketch must be provably
    // EXACT (no eviction anywhere — DataSketches maximum error 0), in
    // which regime the result is partition-order-independent and
    // equals the DuckDB exact GROUP BY/ORDER BY/LIMIT recompute,
    // tie-broken identically (count DESC, item ASC). event_type stays
    // a DATA column here (no tp_index) so the sketch is real.
    "qi55_sql_topk_event_types" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/tk55"
      val lake = Lake(s"$root/lake")
      fixtureOnce(root) {
        val spec = PartitionSpec("events_tk55", "p0")
        val src = Tables.load(s, dir, "events")
          .where(col("event_id") % 7 === 0)
          .select(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("ts"),
            col("event_type"), col("user_id"))
        // two appends so the answer must MERGE per-file sketches
        Ingest.collectBatch(s, lake, spec,
          src.where(col("user_id") % 2 === 0), timestampColumn = "ts")
        Ingest.collectBatch(s, lake, spec,
          src.where(col("user_id") % 2 === 1), timestampColumn = "ts")
        lake.enableColumnStats(s, "events_tk55", Seq("event_type"))
      }
      Views.register(s, lake, Views.Filters())
      val q = s.sql("""
        SELECT t.item AS etype, t.cnt AS n FROM
          (SELECT explode(graft_topk(event_type, 3)) AS t
           FROM events_tk55)""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0,
        s"top-k must serve from sidecar sketches scan-free, read $files")
      q
    }),

    // Active-days-in-range (r19): count(DISTINCT tp_date) under a
    // DAY-ALIGNED band — every file proves fully inside or outside
    // the band, so the distinct count is the inside files' manifest
    // day-set size and the count/sum riders come from the same
    // contained partials: ZERO data reads. A band edge cutting a day
    // (or any straddler) declines — pinned in the spec.
    "qi54_sql_active_days_in_range" -> ((s, dir) => {
      val lake = daysOnlyFixture(s, dir) // shared with qi48/qi51
      Views.register(s, lake, Views.Filters())
      val q = s.sql("""
        SELECT count(DISTINCT tp_date) AS active_days, count(*) AS n,
               sum(user_id) AS sum_user
        FROM events_days48
        WHERE tp_timestamp >= timestamp'2024-01-02 00:00:00'
          AND tp_timestamp <  timestamp'2024-01-06 00:00:00'""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0,
        s"active-days-in-range must serve scan-free, read $files")
      q
    }),

    // Compare-two-months: `WHERE date_trunc('MONTH', ts) IN (feb,
    // may) GROUP BY month(ts)` — the IN-list folds into OR-of-bands
    // (each member an aligned month-eq band), the month keys ride the
    // bucket grouping, and every member file is month-contained, so
    // the comparison reads ZERO data files. DuckDB recomputes from
    // the shifted feeds.
    "qi53_sql_month_in_report" -> ((s, dir) => {
      val lake = monthFixture(s, dir) // shared with qi46/qi49/qi50/qi52
      Views.register(s, lake, Views.Filters())
      val q = s.sql("""
        SELECT month(tp_timestamp) AS m, count(*) AS n,
               min(value) AS min_value, max(value) AS max_value,
               sum(user_id) AS sum_user
        FROM events_month46
        WHERE date_trunc('MONTH', tp_timestamp) IN
              (timestamp'2024-02-01 00:00:00',
               timestamp'2024-05-01 00:00:00')
        GROUP BY month(tp_timestamp) ORDER BY m""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0,
        s"month-IN comparison must serve scan-free, read $files")
      q
    }),

    // The archive report: `WHERE year(ts) = Y GROUP BY month(ts)` —
    // the YEAR extract is the one monotone extract, so its equality
    // folds into the exact [Y-01-01, Y+1-01-01) band, and the month
    // keys ride the bucket-functional grouping; every file is
    // month-contained AND in-band, so the whole report reads ZERO
    // data files. The DuckDB oracle recomputes from the shifted feeds.
    "qi52_sql_year_filter_report" -> ((s, dir) => {
      val lake = monthFixture(s, dir) // shared with qi46/qi49/qi50
      Views.register(s, lake, Views.Filters())
      val q = s.sql("""
        SELECT month(tp_timestamp) AS m, count(*) AS n,
               min(value) AS min_value, max(value) AS max_value,
               sum(user_id) AS sum_user
        FROM events_month46
        WHERE year(tp_timestamp) = 2024
        GROUP BY month(tp_timestamp) ORDER BY m""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0,
        s"year-filtered month report must serve scan-free, read $files")
      q
    }),

    // Day-of-week activity profile over a day-aligned lake (the shape
    // `compact --align day` leaves): every file is day-contained, so
    // each weekday key is served by MERGING the per-day metadata
    // partials that share it (Jan 1 and Jan 8 2024 are both Mondays —
    // a real cross-bucket merge) with zero data reads. The DuckDB
    // oracle recomputes the profile from raw rows (its dayofweek is
    // 0=Sunday; Spark's is 1=Sunday — shimmed by +1).
    "qi51_sql_dayofweek_profile" -> ((s, dir) => {
      val lake = daysOnlyFixture(s, dir) // shared with qi48
      Views.register(s, lake, Views.Filters())
      val q = s.sql("""
        SELECT dayofweek(tp_timestamp) AS dow, count(*) AS n,
               sum(user_id) AS sum_user, min(value) AS min_value
        FROM events_days48 GROUP BY 1 ORDER BY dow""")
      val files = graft.query.ScanAudit.filesReadAfterRun(q)
      require(files == 0,
        s"dow profile must serve scan-free on a day-aligned lake, " +
          s"read $files")
      q
    }),

    // Join-key file skipping: the dim side's surviving keys (customer
    // rows after a selective filter) prune fact files BEFORE the scan
    // via the colstats zone ranges — the runtime-filter move at the
    // file level (Spark's InjectRuntimeFilter prunes row groups inside
    // files it already opened; this skips whole files). The require
    // pins the measured cut; the DuckDB oracle recomputes the join
    // from raw rows, so a file skipped in error (a key its zone range
    // actually contains) breaks the hash — conservativeness gated the
    // same way as qi28/qi29.
    "qi32_join_pruned_scan" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi32"
      val lake = Lake(s"$root/lake")
      fixtureOnce(root) {
        val spec = PartitionSpec("events_jp32", "p0",
          tpIndexColumn = Some("event_type"))
        val src = Tables.load(s, dir, "events")
          .where(col("event_id") % 5 === 0)
          .select(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            col("event_type"), col("user_id"), col("value"))
        // user_id-banded appends: per-file key ranges disjoint
        for ((loB, hiB) <- Seq((Long.MinValue, 50L), (50L, 100L),
            (100L, Long.MaxValue)))
          Ingest.collectBatch(s, lake, spec,
            src.where(col("user_id") >= loB && col("user_id") < hiB),
            timestampColumn = "ts")
        lake.enableColumnStats(s, "events_jp32", Seq("user_id"))
      }
      val keys = Tables.load(s, dir, "customer")
        .where(col("c_custkey").between(60, 90) &&
          col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("user_id"))
      val total = lake.dataFiles(s, "events_jp32").size
      val pruned = lake.readJoinPruned(s, "events_jp32", "user_id", keys)
      require(pruned.inputFiles.length > 0 &&
        pruned.inputFiles.length < total,
        s"join keys pruned nothing: ${pruned.inputFiles.length} of " +
          s"$total files")
      pruned.join(broadcast(keys), "user_id")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("user_id")
    }),

    "qi28_colstats_pruned_scan" -> ((s, dir) => {
      // 1-in-5 deterministic sample (the qi23 rationale): the gated
      // property is zone-map CONSERVATIVENESS, not write volume — the
      // colprune rehearsal owns the volume axis. Byte-identical to
      // qi29's lake — shared (qi28 exercises the PROGRAMMATIC
      // readPrunedByColumn face, qi29 the SQL/view face).
      val lake = valueBandFixture(s, dir) // shared with qi29
      val pruned = lake.readPrunedByColumn(s, "events_zoneb", "value",
        45.0, 70.0)
      val full = lake.read(s, "events_zoneb")
      require(pruned.inputFiles.length < full.inputFiles.length,
        s"zone maps pruned nothing: ${pruned.inputFiles.length} of " +
          s"${full.inputFiles.length} files")
      pruned
        .where(col("value") >= 45.0 && col("value") <= 70.0)
        .groupBy(col("tp_index").cast("string").as("etype"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("etype")
    }),

    // Streaming incremental dedup, end state: the documents corpus plus
    // an injected "re-crawl" (every 3rd doc re-emitted under a fresh
    // higher id) replayed as a 6-slice file-source stream, one file per
    // micro-batch, through incrementalDedupSink — so later batches are
    // rejected by the PERSISTED digest index written by earlier ones,
    // not by in-batch grouping. Slices are cut along doc_id order and
    // mtime-stamped in slice order, making first-seen = min id; the
    // oracle recomputes keepers as arg-min-by-id per text group. A
    // replayed batch double-write, an index row lost between batches,
    // or a digest mismatch across the JSONL round-trip breaks the hash.
    "qi25_stream_incremental_dedup" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi25"
      FileUtils.deleteDirectory(new File(root))
      val docs = Tables.load(s, dir, "documents")
        .select("doc_id", "text", "source", "n_chars")
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val feed = docs.unionByName(
        docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(maxId + 1L)))
      val slices = 6
      // r19: ONE exact-quantile pass for all five boundaries — the
      // per-boundary loop ran five identical full-feed aggregations;
      // multi-probability approxQuantile(err=0) computes the same
      // exact values from a single QuantileSummaries build
      val bounds = feed.stat.approxQuantile("doc_id",
        (1 until slices).map(_.toDouble / slices).toArray, 0.0).toSeq
      val sliceOf = bounds.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col("doc_id") >= lit(b), 1).otherwise(0) }
      // r20 (guide §1.2): ONE partitioned write emits every slice —
      // the r19 shape ran the full feed scan SIX times (one
      // coalesce(1) filter+write job per slice). Hash-repartitioning
      // on the slice id puts each slice's rows in exactly one task, so
      // each __slice=i dir holds exactly one json file; the driver
      // then moves the six files into the flat inbox under
      // slice-ordered names and PINNED MTIMES (FileStreamSource
      // replays oldest-first, and first-seen-wins needs that order
      // exact). Row-to-slice assignment is identical (same sliceOf
      // expression, same bounds); row order WITHIN a slice file may
      // differ from the coalesce(1) order, which the result cannot
      // observe: within-batch dedup keeps min_by(doc_id) and
      // cross-batch order is carried by the file mtimes alone.
      val inboxDir = new java.io.File(s"$root/inbox")
      inboxDir.mkdirs()
      feed.withColumn("__slice", sliceOf)
        .repartition(slices, col("__slice"))
        .write.partitionBy("__slice").mode("overwrite")
        .json(s"$root/slice_staging")
      for (i <- 0 until slices) {
        val d = new java.io.File(s"$root/slice_staging/__slice=$i")
        val parts = Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".json"))
        require(parts.length <= 1,
          s"qi25: slice $i expected at most 1 json file, got " +
            s"${parts.length}")
        val dst = new java.io.File(inboxDir, f"slice-$i%02d.json")
        // a degenerate slice (fewer distinct ids than slices) still
        // contributes an EMPTY file so the micro-batch structure is
        // identical to the old per-slice writes
        if (parts.isEmpty) { dst.createNewFile(); () }
        else require(parts.head.renameTo(dst),
          s"qi25: move failed for $dst")
        require(dst.setLastModified(1000000000000L + i * 60000L),
          s"qi25: setLastModified failed for $dst")
      }
      FileUtils.deleteDirectory(new File(s"$root/slice_staging"))
      val schema = SchemaInference.inferJson(s, jsonlFiles(s"$root/inbox").take(1))
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(s"$root/inbox")
      val q = graft.streaming.StreamIngest.incrementalDedupSink(
        stream, "doc_id", "text",
        s"$root/index", s"$root/out", s"$root/ckpt")
      q.awaitTermination()
      s.read.parquet(s"$root/out")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // §2A row 18b (beyond-reference): z-order compaction — the lake
    // rewritten clustered on the bit-interleaved (user_id, value)
    // rank (Maintenance.compactZorder, the Delta OPTIMIZE ZORDER BY
    // capability). The oracle gates BOTH halves in one result: a full
    // row-level dump (the rewrite is row-identical — nothing lost,
    // duplicated, or changed by the bin/interleave/range-sort
    // machinery) and the rows of a selective 2-D rectangle probe (the
    // read the z-layout exists to serve; at scale it reads ~9% of the
    // bytes a time-ordered layout does — PERF.md round-14 zorder).
    "qi26_zorder_compact" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi26"
      FileUtils.deleteDirectory(new File(root))
      val jl = eventsJsonlFixture(s, dir, chunks = 4)
      val lake = Lake(s"$root/lake")
      Ingest.collectJsonl(s, lake,
        PartitionSpec("events_z", "p0", tpIndexColumn = Some("event_type")),
        jsonlFiles(jl), timestampColumn = "ts")
      // ~8 z-range output slices at EVERY SF (r20, guide §6 +
      // "scale-adaptive, not a constant"): the r1-r19 fixed 1250
      // rows/slice was tuned for sf0.01 (10k rows → 8 slices) and
      // grew linearly with scale — 80 slices + 4 dir-straddlers = 84
      // ~1250-row files at sf0.1, the suite's largest single write.
      // Deriving the target from the manifest row count (driver-side,
      // no data scan) keeps sf0.01 byte-identical (max(1250,
      // 10000/8) = 1250) and caps the slice count at ~8 everywhere;
      // the probe's footer-skipping stays a real multi-file path (the
      // rectangle probe still reads a strict subset of 8+ files —
      // oracle gates the rows, CompactionSpec pins the dir-major
      // layout bound).
      val zRows = Option(lake.fileStats(s, "events_z")
          .agg(sum("rows")).collect()(0).get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      Maintenance.compactZorder(s, lake, "events_z",
        Seq("user_id", "value"),
        targetFileRows = math.max(1250L, zRows / 8))
      def shaped(d: DataFrame, part: String) = d.select(
        col("event_id"), col("user_id"), col("value"),
        col("tp_timestamp"), lit(part).as("part"))
      val full = shaped(lake.read(s, "events_z"), "full")
      val probe = shaped(lake.read(s, "events_z")
        .where(col("user_id").between(100, 115) &&
          col("value").between(10.0, 25.0)), "probe")
      full.unionByName(probe).orderBy("part", "event_id")
    }),

    // CDC upsert (MERGE, latest-wins by key): a changelog batch of
    // same-event-time corrections plus brand-new rows applied through
    // lake.Upsert — dynamic partition overwrite of exactly the touched
    // directories. The oracle reconstructs the expected final state
    // from the source table, so a dropped rider row (a directory
    // overwritten without its unchanged rows), a lost insert, or a
    // stale value after the merge breaks the hash.
    "qi16_upsert" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi16"
      FileUtils.deleteDirectory(new File(root))
      val jl = eventsJsonlFixture(s, dir, chunks = 2)
      val lake = Lake(s"$root/lake")
      val spec = PartitionSpec("events_up", "p0",
        tpIndexColumn = Some("event_type"))
      Ingest.collectJsonl(s, lake, spec, jsonlFiles(jl),
        timestampColumn = "ts")
      val src = Tables.load(s, dir, "events")
      val asJson = (d: DataFrame) => d.select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      val updates = asJson(src.where(col("event_id") % 100 === 0))
        .withColumn("value", col("value") + 1000)
      val inserts = asJson(src.where(col("event_id") % 500 === 0))
        .withColumn("event_id", col("event_id") + 10000000)
      graft.lake.Upsert.upsert(s, lake, "events_up",
        updates.unionByName(inserts), spec, keyCols = Seq("event_id"),
        timestampColumn = "ts")
      lake.read(s, "events_up")
        .select(col("event_id"), col("tp_timestamp"), col("event_type"),
          col("value"))
        .orderBy("event_id")
    }),

    // Legacy-workspace migration analogue (reference
    // internal/migration/migration.go:39-247 re-ingests pre-DuckLake
    // `tp_table=*` parquet dirs into the new catalog): a foreign
    // hive-partitioned parquet directory with NO tp_ columns and a
    // source-named event-time column is adopted by `import` — one
    // distributed scan through the standard enrich→validate→append
    // pipeline. The oracle recomputes every tp_ column from the source
    // table, so enrichment-on-import and the hive partition-column
    // round-trip (event_type lives in directory names, not files) must
    // both be exact.
    "qi14_legacy_import" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi14"
      FileUtils.deleteDirectory(new File(root))
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .write.mode("overwrite").partitionBy("event_type")
        .parquet(s"$root/legacy")
      val lake = Lake(s"$root/lake")
      graft.ingest.Importer.importParquet(s, lake, s"$root/legacy",
        PartitionSpec("events_migrated", "legacy",
          tpIndexColumn = Some("event_type")),
        timestampColumn = "ts")
      lake.read(s, "events_migrated")
        .select(col("event_id"), col("tp_timestamp"), col("tp_date"),
          col("tp_index").cast("string").as("tp_index"),
          col("tp_partition").cast("string").as("tp_partition"),
          col("tp_table"),
          col("tp_year").cast("int").as("tp_year"),
          col("tp_month").cast("int").as("tp_month"),
          col("user_id"), col("event_type").cast("string").as("event_type"),
          col("value"))
        .orderBy("event_id")
    }),

    // Bucketed co-located join (lake/Bucketing.scala): orders and
    // customer are both written bucketed by custkey, then joined and
    // aggregated ON that key — the whole plan runs with ZERO shuffle
    // exchanges (PlanAuditSpec pins it). The write-once-join-free
    // contract is what a daily 100 TB join pipeline buys with
    // bucketing; the oracle is the plain join + group-by, so layout
    // must not change a single value.
    "qi17_bucketed_join" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi17"
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.lake.Bucketing.writeBucketed(s,
        Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        s"graft_bkt_orders_$tag", "o_custkey", buckets = 8,
        s"$root/orders")
      graft.lake.Bucketing.writeBucketed(s,
        Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
        s"graft_bkt_customer_$tag", "c_custkey", buckets = 8,
        s"$root/customer")
      val o = s.table(s"graft_bkt_orders_$tag")
      val c = s.table(s"graft_bkt_customer_$tag")
      // MERGE hint: at sf0.001 the planner would broadcast the tiny
      // customer side (adding the plan's only exchange); at the scale
      // bucketing exists for, both sides are big and SMJ is what the
      // planner picks anyway — pin that shape so the zero-exchange
      // property PlanAuditSpec asserts is the one that holds at 100 TB
      o.join(c.hint("merge"), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("c_custkey")
    }),

    // Materialized rollup across two incremental collects (beyond-
    // reference; RollupSpec scaladoc): each collect is followed by the
    // month-scoped refresh the CLI performs, and the final rollup rows
    // must equal a from-scratch aggregate over ALL the data — the
    // incremental path (pruned recompute + dynamic partition
    // overwrite) provably loses nothing and double-counts nothing.
    "qi18_rollup" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi18"
      FileUtils.deleteDirectory(new File(root))
      val lake = Lake(s"$root/lake")
      val spec = PartitionSpec("events_r", "p0",
        tpIndexColumn = Some("event_type"))
      val rspec = graft.config.RollupSpec("events_r", "daily",
        groupBy = Seq("tp_date", "event_type"),
        aggs = Seq(
          graft.config.RollupAggSpec("n", "count", None),
          graft.config.RollupAggSpec("users", "count_distinct",
            Some("user_id")),
          graft.config.RollupAggSpec("sum_value", "sum", Some("value")),
          graft.config.RollupAggSpec("vmax", "max", Some("value")),
          // r18: mergeable avg rides the sum+count pair; the surfaced
          // quotient must equal a from-scratch avg over ALL rows
          // (integral sums stay exact through the incremental path)
          graft.config.RollupAggSpec("avg_user", "avg", Some("user_id"))))
      val src = Tables.load(s, dir, "events").select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      Seq(src.where(col("event_id") % 2 === 0),
          src.where(col("event_id") % 2 === 1)).foreach { b =>
        val res = Ingest.collectBatch(s, lake, spec, b,
          timestampColumn = "ts")
        graft.lake.Rollup.refreshTouched(s, lake, rspec, res.touchedDirs)
      }
      graft.lake.Rollup.read(s, lake, rspec)
        .select(col("tp_year").cast("int").as("tp_year"),
          col("tp_month").cast("int").as("tp_month"),
          col("tp_date"), col("event_type"), col("n"), col("users"),
          round(col("sum_value"), 2).as("sum_value"), col("vmax"),
          col("avg_user"))
        .orderBy("tp_date", "event_type")
    }),

    "qi12_catalog_table" -> ((s, dir) => {
      val lake = sharedLake(s, dir)
      lake.registerCatalogTable(s, "events_lake")
      s.table("events_lake")
        .where(col("tp_index") === "click")
        .groupBy(col("tp_year"), col("tp_month"), col("tp_date"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("tp_year", "tp_month", "tp_date")
    }),

    // Vacuum + manifest backup/restore round-trip (SURVEY §2A row 19,
    // previously spec-only): two collects leave superseded rows in the
    // append-only manifest; backup snapshots it, vacuum compacts it to
    // live files, then the manifest is DELETED outright (simulated
    // metadata loss) and restored from the snapshot. The final read
    // must still produce exactly the source-derived table — a restore
    // that dropped files, resurrected superseded stats as data, or
    // left the table unreadable breaks the hash.
    "qi19_vacuum_restore" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi19"
      FileUtils.deleteDirectory(new File(root))
      val lake = Lake(s"$root/lake")
      val spec = PartitionSpec("events_v", "p0",
        tpIndexColumn = Some("event_type"))
      val src = Tables.load(s, dir, "events").select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      Seq(src.where(col("event_id") % 2 === 0),
          src.where(col("event_id") % 2 === 1))
        .foreach(b => Ingest.collectBatch(s, lake, spec, b,
          timestampColumn = "ts"))
      Maintenance.backupManifest(s, lake, "events_v")
      Maintenance.vacuum(s, lake, "events_v")
      FileUtils.deleteDirectory(
        new File(s"${lake.tableDir("events_v")}/_graft_manifest"))
      Maintenance.restoreManifest(s, lake, "events_v")
      lake.read(s, "events_v")
        .groupBy(col("tp_index").cast("string").as("tp_index"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          min("tp_timestamp").as("min_ts"), max("tp_timestamp").as("max_ts"))
        .orderBy("tp_index")
    }),

    // Snapshot time-travel read vs live (SURVEY §2A row 19's read
    // side, previously spec-only): collect the even half, snapshot,
    // collect the odd half — the as-of read must see ONLY the first
    // collect while the live read sees both, per event type, from the
    // same session. A snapshot that leaks post-backup files (or loses
    // pre-backup ones) diverges from the oracle's parity split.
    "qi20_snapshot_read" -> ((s, dir) => {
      val root = s"${workRoot(dir)}/qi20"
      FileUtils.deleteDirectory(new File(root))
      val lake = Lake(s"$root/lake")
      val spec = PartitionSpec("events_s", "p0",
        tpIndexColumn = Some("event_type"))
      val src = Tables.load(s, dir, "events").select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      Ingest.collectBatch(s, lake, spec,
        src.where(col("event_id") % 2 === 0), timestampColumn = "ts")
      Maintenance.backupManifest(s, lake, "events_s")
      Ingest.collectBatch(s, lake, spec,
        src.where(col("event_id") % 2 === 1), timestampColumn = "ts")
      val snap = Maintenance.readSnapshot(s, lake, "events_s")
        .groupBy(col("tp_index").cast("string").as("tp_index"))
        .agg(count(lit(1)).as("n_snapshot"),
          round(sum("value"), 2).as("sum_snapshot"))
      val live = lake.read(s, "events_s")
        .groupBy(col("tp_index").cast("string").as("tp_index"))
        .agg(count(lit(1)).as("n_live"),
          round(sum("value"), 2).as("sum_live"))
      snap.join(live, Seq("tp_index")).orderBy("tp_index")
    }))

  /** The pruned half of qi23 alone — PlanAuditSpec asserts its parquet
    * scan reads 2 of the 300 data columns (plus partition dirs). Call
    * AFTER qi23 has built the lake for `dir`.
    */
  private[graft] def widePruned(s: SparkSession, dir: String): DataFrame =
    Lake(s"${workRoot(dir)}/qi23/lake").read(s, "events_w300")
      .groupBy(col("tp_index").cast("string").as("key"))
      .agg(count(lit(1)).as("n"),
        sum("c007").as("s1"), sum("c300").as("s2"))

  // ---- oracles -------------------------------------------------------

  private val aggByIndex =
    """SELECT event_type AS tp_index, count(*) AS n,
      |       round(sum(value), 2) AS sum_value,
      |       min(cast(ts AS timestamp)) AS min_ts,
      |       max(cast(ts AS timestamp)) AS max_ts
      |FROM events""".stripMargin

  val oracle: Map[String, String] = Map(
    // all 300 derived columns re-derived and folded — bigint-exact
    // arithmetic, so both engines must agree to the last digit (the
    // sum is cast back from DuckDB's HUGEINT to match Spark's bigint).
    // The fold runs as an unnest(range) cross join, NOT a 300-term `+`
    // chain — DuckDB's binder caps expression nesting at 128
    "qi23_wide_collect" -> """
      WITH e AS (SELECT * FROM events WHERE event_id % 7 = 0)
      SELECT event_type AS key, count(*) AS n,
             cast(sum((event_id * 7 + user_id) % 1000003) AS bigint) AS s1,
             cast(sum((event_id * 300 + user_id) % 1000003) AS bigint) AS s2
      FROM e GROUP BY 1
      UNION ALL
      SELECT '__checksum',
             (SELECT count(*) FROM e),
             cast((SELECT sum((event_id * i + user_id) % 1000003)
                   FROM e
                   CROSS JOIN (SELECT unnest(range(1, 301)) AS i) g)
               AS bigint),
             cast((SELECT sum(user_id) + sum(event_id % 7)
                        + sum(event_id % 11) FROM e) AS bigint)
      ORDER BY key""",
    "qi14_legacy_import" -> """
      SELECT event_id,
             cast(ts AS timestamp) AS tp_timestamp,
             CASE WHEN ts IS NOT NULL
               THEN cast(date_trunc('day', cast(ts AS timestamp)) AS date)
             END AS tp_date,
             coalesce(event_type, 'default') AS tp_index,
             'legacy' AS tp_partition,
             'events_migrated' AS tp_table,
             cast(year(cast(ts AS timestamp)) AS int) AS tp_year,
             cast(month(cast(ts AS timestamp)) AS int) AS tp_month,
             user_id, event_type, value
      FROM events ORDER BY event_id""",
    "qi01_ingest_enrich" -> """
      SELECT event_id,
             cast(ts AS timestamp) AS tp_timestamp,
             CASE WHEN ts IS NOT NULL
               THEN cast(date_trunc('day', cast(ts AS timestamp)) AS date)
             END AS tp_date,
             coalesce(event_type, 'default') AS tp_index,
             'p0' AS tp_partition,
             'events_lake' AS tp_table,
             cast(year(cast(ts AS timestamp)) AS int) AS tp_year,
             cast(month(cast(ts AS timestamp)) AS int) AS tp_month,
             user_id, event_type, value, props
      FROM events ORDER BY event_id""",
    "qi02_ingest_validate" -> """
      WITH e AS (
        SELECT CASE WHEN event_id % 101 = 0 THEN NULL
                    ELSE cast(ts AS timestamp) END AS ts,
               CASE WHEN event_id % 97 = 0 THEN NULL
                    ELSE user_id END AS user_id
        FROM events)
      SELECT metric, n FROM (
        SELECT 'null_tp_timestamp' AS metric,
               count(*) FILTER (WHERE ts IS NULL) AS n FROM e
        UNION ALL
        SELECT 'null_tp_date', count(*) FILTER (WHERE ts IS NULL) FROM e
        UNION ALL
        SELECT 'null_user_id', count(*) FILTER (WHERE user_id IS NULL) FROM e
        UNION ALL
        SELECT 'rows_ingested',
               count(*) FILTER (WHERE ts IS NOT NULL AND user_id IS NOT NULL)
        FROM e
        UNION ALL
        SELECT 'rows_invalid',
               count(*) FILTER (WHERE ts IS NULL OR user_id IS NULL) FROM e)
      ORDER BY metric""",
    "qi18_rollup" -> """
      WITH e AS (SELECT event_id, cast(ts AS timestamp) AS ts,
                   user_id, event_type, value
                 FROM events)
      SELECT cast(year(ts) AS int) AS tp_year,
             cast(month(ts) AS int) AS tp_month,
             cast(date_trunc('day', ts) AS date) AS tp_date,
             event_type,
             count(*) AS n,
             cast(count(DISTINCT user_id) AS bigint) AS users,
             round(sum(value), 2) AS sum_value,
             max(value) AS vmax,
             avg(user_id) AS avg_user
      FROM e
      GROUP BY 1, 2, 3, 4
      ORDER BY tp_date, event_type""",
    "qi17_bucketed_join" -> """
      SELECT c.c_custkey, c.c_mktsegment,
             cast(count(*) AS bigint) AS n_orders,
             round(sum(o.o_totalprice), 2) AS total
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2 ORDER BY c_custkey""",
    "qi03_filtered_view" -> (aggByIndex + """
      WHERE cast(ts AS timestamp) >= TIMESTAMP '2024-01-05 00:00:00'
        AND cast(ts AS timestamp) <= TIMESTAMP '2024-01-20 00:00:00'
        AND (event_type LIKE 'cl%' OR event_type LIKE 'sign%')
      GROUP BY event_type ORDER BY tp_index"""),
    "qi04_struct_convert" -> """
      SELECT event_id,
             cast(ts AS timestamp) AS tp_timestamp,
             CASE WHEN value < 5 THEN 'low' WHEN value < 15 THEN 'mid'
                  ELSE 'high' END AS status,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE event_type END AS ref,
             (event_id % 13 = 0) AS meta_null,
             CASE WHEN event_id % 13 = 0 THEN NULL
                  ELSE cast(json_extract_string(props, '$.k') AS int)
             END AS meta_k,
             CASE WHEN event_id % 13 = 0 THEN NULL
                  ELSE 'u' || cast(user_id AS varchar) END AS user_name,
             CASE WHEN event_id % 13 = 0 THEN NULL ELSE user_id
             END AS user_id,
             value
      FROM events ORDER BY event_id""",
    "qi05_schema_drift" -> """
      SELECT * FROM (VALUES
        ('extra', '<absent>', 'boolean'),
        ('value', 'double', 'varchar'))
      AS t(column_name, was_type, now_type) ORDER BY column_name""",
    "qi06_partition_delete" -> (aggByIndex + """
      WHERE NOT (cast(ts AS timestamp) >= TIMESTAMP '2024-01-10 00:00:00'
             AND cast(ts AS timestamp) <= TIMESTAMP '2024-01-15 00:00:00')
      GROUP BY event_type ORDER BY tp_index"""),
    "qi13_stream_ingest" -> (aggByIndex + """
      GROUP BY event_type ORDER BY tp_index"""),
    "qi21_stream_router" -> """
      WITH flags AS (
        SELECT event_type, value,
               (value <= 100) AS ok_cap,
               (event_type <> 'error') AS ok_err
        FROM events)
      SELECT 'accepted' AS side, event_type AS key,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM flags WHERE ok_cap AND ok_err GROUP BY 2
      UNION ALL
      SELECT 'quarantined' AS side,
             concat_ws(',',
               CASE WHEN NOT ok_cap THEN 'value_cap' END,
               CASE WHEN NOT ok_err THEN 'not_error' END) AS key,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM flags WHERE NOT (ok_cap AND ok_err) GROUP BY 2
      ORDER BY side, key""",
    "qi22_stream_interval_join" -> """
      SELECT l.event_id AS p_id, r.event_id AS e_id,
             l.user_id AS p_user,
             date_diff('microsecond', cast(l.ts AS timestamp),
                       cast(r.ts AS timestamp)) AS delta_us
      FROM events l JOIN events r
        ON l.user_id = r.user_id
       AND l.event_type = 'purchase' AND r.event_type = 'error'
       AND cast(r.ts AS timestamp)
             >= cast(l.ts AS timestamp) - INTERVAL 30 MINUTE
       AND cast(r.ts AS timestamp)
             <= cast(l.ts AS timestamp) + INTERVAL 30 MINUTE
      ORDER BY p_id, e_id""",

    // identical oracle to qi22 on purpose: the salt must be invisible
    "qi24_stream_ijoin_salted" -> """
      SELECT l.event_id AS p_id, r.event_id AS e_id,
             l.user_id AS p_user,
             date_diff('microsecond', cast(l.ts AS timestamp),
                       cast(r.ts AS timestamp)) AS delta_us
      FROM events l JOIN events r
        ON l.user_id = r.user_id
       AND l.event_type = 'purchase' AND r.event_type = 'error'
       AND cast(r.ts AS timestamp)
             >= cast(l.ts AS timestamp) - INTERVAL 30 MINUTE
       AND cast(r.ts AS timestamp)
             <= cast(l.ts AS timestamp) + INTERVAL 30 MINUTE
      ORDER BY p_id, e_id""",

    // identical oracle to qi22/qi24 — bucketing + salt must be
    // row-invisible
    "qi27_stream_ijoin_bucketed" -> """
      SELECT l.event_id AS p_id, r.event_id AS e_id,
             l.user_id AS p_user,
             date_diff('microsecond', cast(l.ts AS timestamp),
                       cast(r.ts AS timestamp)) AS delta_us
      FROM events l JOIN events r
        ON l.user_id = r.user_id
       AND l.event_type = 'purchase' AND r.event_type = 'error'
       AND cast(r.ts AS timestamp)
             >= cast(l.ts AS timestamp) - INTERVAL 30 MINUTE
       AND cast(r.ts AS timestamp)
             <= cast(l.ts AS timestamp) + INTERVAL 30 MINUTE
      ORDER BY p_id, e_id""",

    // the raw-table recompute: a zone map that skips in-range rows
    // breaks this hash
    "qi28_colstats_pruned_scan" -> """
      SELECT event_type AS etype, count(*) AS n,
             round(sum(value), 2) AS sum_value
      FROM events
      WHERE event_id % 5 = 0 AND value >= 45.0 AND value <= 70.0
      GROUP BY 1 ORDER BY 1""",

    // same raw-table recompute discipline for the view-path probe: a
    // zone map that skips in-range rows breaks this hash
    "qi29_view_zone_pruned_query" -> """
      SELECT event_type AS etype, count(*) AS n,
             round(sum(value), 2) AS sum_value
      FROM events
      WHERE event_id % 5 = 0 AND value >= 45.0 AND value <= 70.0
      GROUP BY 1 ORDER BY 1""",

    // same discipline for the manifest-derived TIME zones: the oracle
    // recomputes the band from raw rows, so a file skipped in error
    // (or a row dropped by the slicing) breaks the hash
    "qi30_view_time_pruned_query" -> """
      SELECT event_type AS etype, count(*) AS n,
             round(sum(value), 2) AS sum_value
      FROM events
      WHERE event_id % 5 = 0
        AND cast(ts AS timestamp) >= timestamp '2024-01-12 00:00:00'
        AND cast(ts AS timestamp) < timestamp '2024-01-18 00:00:00'
      GROUP BY 1 ORDER BY 1""",

    // the raw-row recompute of every metadata-served aggregate: a
    // stale sidecar row, rounded long bound, or missed null breaks it
    "qi31_metadata_only_aggregate" -> """
      SELECT count(*) AS n_rows,
             count(v) AS n_value, min(v) AS min_value, max(v) AS max_value,
             count(user_id) AS n_user,
             min(user_id) AS min_user, max(user_id) AS max_user,
             count(event_type) AS n_etype,
             min(event_type) AS min_etype, max(event_type) AS max_etype,
             count(ts2) AS n_ts, min(ts2) AS min_ts, max(ts2) AS max_ts
      FROM (SELECT CASE WHEN event_id % 20 = 0 THEN NULL
                        ELSE value END AS v,
                   user_id, event_type, cast(ts AS timestamp) AS ts2
            FROM events WHERE event_id % 5 = 0)""",

    // raw-row recompute of the SQL-path metadata aggregate: a rewrite
    // fired on stale/incomplete metadata breaks this hash
    "qi33_sql_metadata_aggregate" -> """
      SELECT count(*) AS n_rows,
             count(v) AS n_value, min(v) AS min_value, max(v) AS max_value,
             count(user_id) AS n_user,
             min(user_id) AS min_user, max(user_id) AS max_user,
             min(event_type) AS min_etype, max(event_type) AS max_etype,
             min(ts2) AS min_ts, max(ts2) AS max_ts
      FROM (SELECT CASE WHEN event_id % 20 = 0 THEN NULL
                        ELSE value END AS v,
                   user_id, event_type, cast(ts AS timestamp) AS ts2
            FROM events WHERE event_id % 5 = 0)""",

    // raw-row recompute of the GROUPED metadata aggregate: wrong
    // directory keying, null miscounts, or range leaks break it
    "qi34_sql_grouped_metadata_aggregate" -> """
      SELECT event_type AS etype, count(*) AS n,
             count(CASE WHEN event_id % 20 = 0 THEN NULL
                        ELSE value END) AS n_value,
             min(CASE WHEN event_id % 20 = 0 THEN NULL
                      ELSE value END) AS min_value,
             max(CASE WHEN event_id % 20 = 0 THEN NULL
                      ELSE value END) AS max_value
      FROM events WHERE event_id % 5 = 0
      GROUP BY 1 ORDER BY 1""",

    // raw-row recompute of the partition-filtered grouped aggregate:
    // the 'even' partition is exactly event_id % 2 = 0
    "qi35_sql_partition_filtered_metadata_aggregate" -> """
      SELECT event_type AS etype, count(*) AS n,
             min(value) AS min_value, max(value) AS max_value
      FROM events
      WHERE event_id % 5 = 0 AND event_id % 2 = 0
      GROUP BY 1 ORDER BY 1""",

    // raw-row recompute of the GROUPED banded hybrid: group-merge or
    // containment errors break this hash
    "qi39_sql_grouped_time_band_hybrid" -> """
      SELECT event_type AS etype, count(*) AS n,
             min(value) AS min_value, max(value) AS max_value,
             cast(sum(user_id) AS BIGINT) AS sum_user
      FROM events
      WHERE event_id % 5 = 0
        AND cast(ts AS timestamp) >= timestamp '2024-01-08 12:00:00'
        AND cast(ts AS timestamp) <= timestamp '2024-01-23 11:59:59'
      GROUP BY 1 ORDER BY 1""",

    // raw-row recompute of the SQL-path banded hybrid: containment or
    // merge errors break this hash
    "qi38_sql_time_band_hybrid" -> """
      SELECT count(*) AS n_rows, count(value) AS n_value,
             min(value) AS min_value, max(value) AS max_value,
             cast(sum(user_id) AS BIGINT) AS sum_user
      FROM events
      WHERE event_id % 5 = 0
        AND cast(ts AS timestamp) >= timestamp '2024-01-08 12:00:00'
        AND cast(ts AS timestamp) <= timestamp '2024-01-23 11:59:59'""",

    // raw-row recompute of the banded aggregate: containment errors
    // (boundaries, missed nulls, stale ranges) break this hash
    "qi37_time_band_hybrid_aggregate" -> """
      SELECT count(*) AS n_rows, count(value) AS n_value,
             min(value) AS min_value, max(value) AS max_value,
             min(user_id) AS min_user, max(user_id) AS max_user,
             cast(sum(user_id) AS BIGINT) AS sum_user
      FROM events
      WHERE event_id % 5 = 0
        AND cast(ts AS timestamp) >= timestamp '2024-01-08 12:00:00'
        AND cast(ts AS timestamp) <= timestamp '2024-01-23 11:59:59'""",

    // raw-row recompute of the metadata-served sums (BIGINT casts:
    // DuckDB widens bigint sums to HUGEINT)
    // raw-row recompute of the metadata avg (ungrouped + grouped):
    // totals < 2^53 make DuckDB's double accumulation exact, so a
    // wrong sum, count, or division breaks the hash bit-for-bit
    "qi40_sql_metadata_avg" -> """
      SELECT 'all' AS etype, avg(user_id) AS avg_user,
             count(*) AS n, min(user_id) AS min_user
      FROM events WHERE event_id % 5 = 0
      UNION ALL
      SELECT * FROM (
        SELECT event_type AS etype, avg(user_id) AS avg_user,
               count(*) AS n, min(user_id) AS min_user
        FROM events WHERE event_id % 5 = 0
        GROUP BY 1)
      ORDER BY etype""",

    // raw-row recompute of the DATE-banded hybrid: a date→micros fold
    // off by a day or a containment error breaks this hash
    "qi41_sql_date_band_hybrid" -> """
      SELECT count(*) AS n_rows, count(value) AS n_value,
             min(value) AS min_value, max(value) AS max_value,
             cast(sum(user_id) AS BIGINT) AS sum_user
      FROM events
      WHERE event_id % 5 = 0
        AND cast(cast(ts AS timestamp) AS DATE) >= DATE '2024-01-11'
        AND cast(cast(ts AS timestamp) AS DATE) <= DATE '2024-01-18'""",

    // raw-row recompute of the directory-truth aggregates: a wrong
    // dir-value conversion, a null-dir miscount, or a rows-weighting
    // error in the sum breaks this hash
    "qi45_sql_partition_column_aggregate" -> """
      SELECT count(*) AS n,
             cast(min(year(cast(ts AS timestamp))) AS INT) AS min_year,
             cast(max(year(cast(ts AS timestamp))) AS INT) AS max_year,
             count(month(cast(ts AS timestamp))) AS n_month,
             avg(month(cast(ts AS timestamp))) AS avg_month,
             cast(sum(year(cast(ts AS timestamp))) AS BIGINT)
               AS sum_year,
             min(event_type) AS min_etype, max(event_type) AS max_etype
      FROM events WHERE event_id % 5 = 0""",

    // raw-row recompute of the two-window aggregate: a window-merge
    // error, a file wrongly contained, or a gap row leaking in breaks
    // this hash
    "qi44_sql_or_bands_hybrid" -> """
      SELECT count(*) AS n_rows, count(value) AS n_value,
             min(value) AS min_value, max(value) AS max_value,
             cast(sum(user_id) AS BIGINT) AS sum_user,
             avg(user_id) AS avg_user
      FROM events
      WHERE event_id % 5 = 0
        AND ((cast(ts AS timestamp) >= timestamp '2024-01-06 00:00:00'
              AND cast(ts AS timestamp) <= timestamp '2024-01-13 12:00:00')
          OR (cast(ts AS timestamp) >= timestamp '2024-01-18 12:00:00'
              AND cast(ts AS timestamp) <= timestamp '2024-01-25 23:59:59'))""",

    // raw-row recompute of the day-grouped banded hybrid: a bucket
    // misclassification (a multi-day file counted as day-contained, a
    // boundary file served from metadata) or a bad grouped merge
    // breaks this hash; avg rides the two-slot exact sum+count merge
    "qi42_sql_group_by_day_hybrid" -> """
      WITH feed AS (
        SELECT ts, user_id, value FROM events WHERE event_id % 5 = 0
        UNION ALL
        SELECT ts, user_id, value FROM events
        WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= timestamp '2024-01-05 12:00:00'
          AND cast(ts AS timestamp) < timestamp '2024-01-06 12:00:00')
      SELECT cast(cast(ts AS timestamp) AS DATE) AS tp_date,
             count(*) AS n, min(value) AS min_value,
             max(value) AS max_value,
             cast(sum(user_id) AS BIGINT) AS sum_user,
             avg(user_id) AS avg_user
      FROM feed
      WHERE cast(ts AS timestamp) >= timestamp '2024-01-02 12:00:00'
        AND cast(ts AS timestamp) <= timestamp '2024-01-11 23:59:59'
      GROUP BY 1 ORDER BY 1""",

    // raw-row recompute of the (tp_index, date_trunc) grouped hybrid
    // over the FULL range — bucket containment alone drives the
    // metadata/scan split, so a wrong per-(bucket, directory) partial
    // breaks the hash
    "qi43_sql_group_by_trunc_hybrid" -> """
      WITH feed AS (
        SELECT ts, user_id, event_type FROM events WHERE event_id % 5 = 0
        UNION ALL
        SELECT ts, user_id, event_type FROM events
        WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= timestamp '2024-01-05 12:00:00'
          AND cast(ts AS timestamp) < timestamp '2024-01-06 12:00:00')
      SELECT event_type AS etype,
             cast(date_trunc('day', cast(ts AS timestamp))
               AS DATE) AS day,
             count(*) AS n, cast(sum(user_id) AS BIGINT) AS sum_user
      FROM feed
      WHERE cast(ts AS timestamp) >= timestamp '2024-01-01 00:00:00'
        AND cast(ts AS timestamp) < timestamp '2024-01-13 00:00:00'
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // raw-row recompute of the top-k daily report (qi42's feed +
    // HAVING + deterministic ORDER + LIMIT): a hybrid merge error
    // below the top-k, or the top-k running over unmerged partials,
    // breaks this hash
    "qi47_sql_day_topk_hybrid" -> """
      WITH feed AS (
        SELECT ts, user_id FROM events WHERE event_id % 5 = 0
        UNION ALL
        SELECT ts, user_id FROM events
        WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= timestamp '2024-01-05 12:00:00'
          AND cast(ts AS timestamp) < timestamp '2024-01-06 12:00:00')
      SELECT cast(cast(ts AS timestamp) AS DATE) AS tp_date,
             count(*) AS n, cast(sum(user_id) AS BIGINT) AS sum_user
      FROM feed
      WHERE cast(ts AS timestamp) >= timestamp '2024-01-02 12:00:00'
        AND cast(ts AS timestamp) <= timestamp '2024-01-11 23:59:59'
      GROUP BY 1 HAVING count(*) > 3
      ORDER BY n DESC, tp_date LIMIT 5""",

    // raw-row recompute of the manifest-served distinct-day counts: a
    // day wrongly attributed (or a file's day set fabricated) breaks
    // this hash
    "qi48_sql_distinct_days_manifest" -> """
      SELECT event_type AS etype,
             count(DISTINCT cast(cast(ts AS timestamp) AS DATE))
               AS active_days,
             count(*) AS n
      FROM events
      WHERE event_id % 5 = 0
        AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-01 00:00:00'
        AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-09 00:00:00'
      GROUP BY 1 ORDER BY 1""",

    // raw-row recompute of the month-eq filter over the same shifted
    // feeds: a fold boundary off by a micro, or a February file
    // wrongly excluded/included, breaks this hash
    "qi49_sql_month_eq_filter" -> """
      WITH feed AS (
        SELECT cast(ts AS timestamp) AS ts2, user_id, value FROM events
        WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-01 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-06 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 30 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-06 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-11 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 60 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-11 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-16 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 90 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-16 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-21 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 120 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-21 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-26 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 150 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-26 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-31 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 5 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-26 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-31 00:00:00')
      SELECT count(*) AS n, min(value) AS min_value,
             max(value) AS max_value,
             cast(sum(user_id) AS BIGINT) AS sum_user
      FROM feed
      WHERE date_trunc('month', ts2) = TIMESTAMP '2024-02-01 00:00:00'""",

    // raw-row recompute of the MONTH-grouped banded hybrid: the feed
    // CTE reproduces the fixture's whole-day INTERVAL shifts exactly
    // (day arithmetic is exact micros in both engines), so a calendar
    // bucket-id error, a band-edge misclassification, or a bad grouped
    // merge breaks this hash
    "qi46_sql_group_by_month_hybrid" -> """
      WITH feed AS (
        SELECT cast(ts AS timestamp) AS ts2, user_id, value FROM events
        WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-01 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-06 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 30 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-06 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-11 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 60 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-11 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-16 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 90 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-16 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-21 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 120 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-21 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-26 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 150 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-26 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-31 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 5 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-26 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-31 00:00:00')
      SELECT cast(date_trunc('month', ts2) AS DATE) AS month,
             count(*) AS n, min(value) AS min_value,
             max(value) AS max_value,
             cast(sum(user_id) AS BIGINT) AS sum_user,
             avg(user_id) AS avg_user
      FROM feed
      WHERE ts2 >= TIMESTAMP '2024-01-03 12:00:00'
        AND ts2 <= TIMESTAMP '2024-06-30 23:59:59'
      GROUP BY 1 ORDER BY 1""",

    // raw-row recompute of the full-range year×month layout report
    // over the same shifted feeds (DuckDB year/month return BIGINT —
    // cast to INTEGER to meet Spark's extract type)
    "qi50_sql_year_month_layout_report" -> """
      WITH feed AS (
        SELECT cast(ts AS timestamp) AS ts2, user_id, value FROM events
        WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-01 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-06 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 30 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-06 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-11 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 60 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-11 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-16 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 90 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-16 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-21 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 120 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-21 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-26 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 150 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-26 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-31 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 5 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-26 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-31 00:00:00')
      SELECT cast(year(ts2) AS INTEGER) AS y,
             cast(month(ts2) AS INTEGER) AS m,
             count(*) AS n, min(value) AS min_value,
             max(value) AS max_value,
             cast(sum(user_id) AS BIGINT) AS sum_user,
             avg(user_id) AS avg_user
      FROM feed
      GROUP BY 1, 2 ORDER BY y, m""",

    // exact recompute of the top-3 event types with the SAME
    // deterministic tie-break (count DESC, type ASC) the sketch
    // result array carries
    "qi55_sql_topk_event_types" -> """
      SELECT event_type AS etype, count(*) AS n
      FROM events
      WHERE event_id % 7 = 0
      GROUP BY 1 ORDER BY n DESC, etype LIMIT 3""",

    // raw-row recompute of the banded active-days count
    "qi54_sql_active_days_in_range" -> """
      SELECT count(DISTINCT cast(cast(ts AS timestamp) AS DATE))
               AS active_days,
             count(*) AS n,
             cast(sum(user_id) AS BIGINT) AS sum_user
      FROM events
      WHERE event_id % 5 = 0
        AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-02 00:00:00'
        AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-06 00:00:00'""",

    // raw-row recompute of the compare-two-months IN report over the
    // same shifted feeds
    "qi53_sql_month_in_report" -> """
      WITH feed AS (
        SELECT cast(ts AS timestamp) AS ts2, user_id, value FROM events
        WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-01 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-06 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 30 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-06 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-11 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 60 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-11 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-16 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 90 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-16 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-21 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 120 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-21 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-26 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 150 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-26 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-31 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 5 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-26 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-31 00:00:00')
      SELECT cast(month(ts2) AS INTEGER) AS m,
             count(*) AS n, min(value) AS min_value,
             max(value) AS max_value,
             cast(sum(user_id) AS BIGINT) AS sum_user
      FROM feed
      WHERE date_trunc('month', ts2) IN
            (TIMESTAMP '2024-02-01 00:00:00',
             TIMESTAMP '2024-05-01 00:00:00')
      GROUP BY 1 ORDER BY m""",

    // raw-row recompute of the year-filtered month report over the
    // same shifted feeds (year/month cast to INTEGER to meet Spark)
    "qi52_sql_year_filter_report" -> """
      WITH feed AS (
        SELECT cast(ts AS timestamp) AS ts2, user_id, value FROM events
        WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-01 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-06 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 30 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-06 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-11 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 60 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-11 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-16 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 90 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-16 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-21 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 120 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-21 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-26 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 150 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-26 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-31 00:00:00'
        UNION ALL
        SELECT cast(ts AS timestamp) + INTERVAL 5 DAY, user_id, value
        FROM events WHERE event_id % 5 = 0
          AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-26 00:00:00'
          AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-31 00:00:00')
      SELECT cast(month(ts2) AS INTEGER) AS m,
             count(*) AS n, min(value) AS min_value,
             max(value) AS max_value,
             cast(sum(user_id) AS BIGINT) AS sum_user
      FROM feed
      WHERE year(ts2) = 2024
      GROUP BY 1 ORDER BY m""",

    // raw-row recompute of the day-of-week profile (DuckDB dayofweek
    // is 0=Sunday..6; Spark's is 1=Sunday..7 — +1 aligns them)
    "qi51_sql_dayofweek_profile" -> """
      SELECT cast(dayofweek(cast(ts AS timestamp)) + 1 AS INTEGER) AS dow,
             count(*) AS n,
             cast(sum(user_id) AS BIGINT) AS sum_user,
             min(value) AS min_value
      FROM events
      WHERE event_id % 5 = 0
        AND cast(ts AS timestamp) >= TIMESTAMP '2024-01-01 00:00:00'
        AND cast(ts AS timestamp) <  TIMESTAMP '2024-01-09 00:00:00'
      GROUP BY 1 ORDER BY dow""",

    "qi36_sql_metadata_sum" -> """
      SELECT event_type AS etype, count(*) AS n,
             cast(sum(event_id) AS BIGINT) AS sum_event,
             cast(sum(user_id) AS BIGINT) AS sum_user
      FROM events WHERE event_id % 5 = 0
      GROUP BY 1 ORDER BY 1""",

    // raw-row recompute of the join: a fact file skipped in error (a
    // key its zone range actually contains) breaks this hash
    "qi32_join_pruned_scan" -> """
      SELECT e.user_id, count(*) AS n, round(sum(e.value), 2) AS sum_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      WHERE e.event_id % 5 = 0
        AND c.c_custkey BETWEEN 60 AND 90 AND c.c_custkey % 3 = 0
      GROUP BY 1 ORDER BY 1""",

    // first-seen = arg-min-by-id because the stream replays slices in
    // doc_id order; covers the injected re-crawl AND natural dup texts
    "qi25_stream_incremental_dedup" -> """
      WITH feed AS (
        SELECT doc_id, text, source, n_chars FROM documents
        UNION ALL
        SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
               text, source, n_chars
        FROM documents WHERE doc_id % 3 = 0)
      SELECT min(doc_id) AS doc_id,
             arg_min(source, doc_id) AS source,
             min(n_chars) AS n_chars
      FROM feed GROUP BY text ORDER BY doc_id""",
    "qi26_zorder_compact" -> """
      WITH e AS (SELECT event_id, user_id, value,
                        cast(ts AS timestamp) AS tp_timestamp FROM events)
      SELECT event_id, user_id, value, tp_timestamp, 'full' AS part
      FROM e
      UNION ALL
      SELECT event_id, user_id, value, tp_timestamp, 'probe' AS part
      FROM e
      WHERE user_id BETWEEN 100 AND 115 AND value BETWEEN 10.0 AND 25.0
      ORDER BY part, event_id""",
    "qi16_upsert" -> """
      WITH e AS (SELECT event_id, cast(ts AS timestamp) AS ts,
                        event_type, value FROM events),
      merged AS (
        SELECT event_id, ts, event_type,
               CASE WHEN event_id % 100 = 0 THEN value + 1000
                    ELSE value END AS value
        FROM e
        UNION ALL
        SELECT event_id + 10000000 AS event_id, ts, event_type, value
        FROM e WHERE event_id % 500 = 0)
      SELECT event_id, ts AS tp_timestamp, event_type, value
      FROM merged ORDER BY event_id""",
    "qi15_stream_window" -> """
      WITH e AS (SELECT cast(ts AS timestamp) AS ts, event_type, value
                 FROM events),
      grid AS (SELECT i FROM (SELECT unnest(range(0, 2)) AS i)),
      w AS (SELECT event_type, value,
                   time_bucket(INTERVAL 30 MINUTE, ts)
                     - i * INTERVAL 30 MINUTE AS w_start
            FROM e CROSS JOIN grid)
      SELECT w_start, w_start + INTERVAL 60 MINUTE AS w_end, event_type,
             count(*) AS n, round(sum(value), 4) AS sum_value
      FROM w GROUP BY 1, 2, 3 ORDER BY w_start, event_type""",
    "qi07_compact" -> (aggByIndex + """
      GROUP BY event_type ORDER BY tp_index"""),
    "qi19_vacuum_restore" -> (aggByIndex + """
      GROUP BY event_type ORDER BY tp_index"""),
    "qi20_snapshot_read" -> """
      SELECT event_type AS tp_index,
             count(*) FILTER (WHERE event_id % 2 = 0) AS n_snapshot,
             round(sum(value) FILTER (WHERE event_id % 2 = 0), 2)
               AS sum_snapshot,
             count(*) AS n_live,
             round(sum(value), 2) AS sum_live
      FROM events GROUP BY 1 ORDER BY tp_index""",
    "qi08_grok_ingest" -> """
      SELECT event_id,
             cast(ts AS timestamp) AS tp_timestamp,
             event_type AS tp_index,
             CASE WHEN value < 10 THEN 'INFO' ELSE 'WARN' END AS level,
             user_id, event_type, value, props
      FROM events ORDER BY event_id""",
    "qi09_delimited_ingest" -> """
      SELECT event_id,
             cast(ts AS timestamp) AS tp_timestamp,
             cast(date_trunc('day', cast(ts AS timestamp)) AS date) AS tp_date,
             user_id,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE event_type END AS etype,
             value
      FROM events ORDER BY event_id""",
    // step literal: (31 days - 1 day) in micros / (rows-1) =
    // 2592000000000 / 19999, floored — the same integer division the
    // generator performs
    "qi10_synthetic" -> """
      WITH g AS (SELECT range AS id FROM range(0, 20000)),
      v AS (
        SELECT id,
               id % 100000 AS k,
               TIMESTAMP '2024-01-01 00:00:00'
                 + to_microseconds(id * 129606480) AS ts,
               TIMESTAMP '2024-01-01 00:00:00'
                 - ((id % 30) * INTERVAL 1 DAY) AS back,
               CASE WHEN id % 2 = 0 THEN 'true' ELSE 'false' END AS bstr,
               md5('uuid_col_8' || id) AS h
        FROM g)
      SELECT cast(k + 1 AS int) AS rid,
             ts AS tp_timestamp,
             cast(date_trunc('day', ts) AS date) AS tp_date,
             'default' AS tp_index,
             'string_col_0_val' || k AS string_col_0,
             k * cast(0.1 AS double) AS float_col_2,
             (id % 2 = 0) AS bool_col_3,
             '{"field1":' || k || ',"field2":"field_' || k ||
               '","field3":' || bstr || '}' AS json_col_4,
             strftime(back, '%Y-%m-%d %H:%M:%S') AS timestamp_col_5,
             '["item_' || k || '","' || k || '","' || bstr || '"]'
               AS array_col_6,
             '{"created_at":"' || strftime(back, '%Y-%m-%d') ||
               '","version":"v' || (id % 10) || '.' || (id % 5) || '"}'
               AS nested_json_col_7,
             substr(h,1,8) || '-' || substr(h,9,4) || '-' ||
               substr(h,13,4) || '-' || substr(h,17,4) || '-' ||
               substr(h,21,12) AS uuid_col_8,
             cast(k AS int) AS ss_id,
             'name_' || k AS ss_name,
             (id % 2 = 0) AS ss_active,
             strftime(back, '%Y-%m-%d') AS ns_created,
             'v' || (id % 10) || '.' || (id % 5) AS ns_version
      FROM v ORDER BY rid""",
    "qi11_multimodal" -> """
      WITH p AS (
        SELECT doc_id,
               cast(doc_id % 640 + 16 AS int) AS w,
               cast(doc_id % 480 + 16 AS int) AS h,
               repeat(md5(text), cast(doc_id % 5 + 1 AS int)) AS body
        FROM documents),
      hx AS (
        SELECT doc_id, w, h,
               CASE doc_id % 4
                 WHEN 0 THEN '89504e470d0a1a0a0000000d49484452'
                   || lpad(lower(hex(w)), 8, '0')
                   || lpad(lower(hex(h)), 8, '0') || '0806000000' || body
                 WHEN 1 THEN '474946383961'
                   || lpad(lower(hex(w % 256)), 2, '0')
                   || lpad(lower(hex(w // 256)), 2, '0')
                   || lpad(lower(hex(h % 256)), 2, '0')
                   || lpad(lower(hex(h // 256)), 2, '0')
                   || 'f70000' || body
                 WHEN 2 THEN 'ffd8ffc0001108'
                   || lpad(lower(hex(h)), 4, '0')
                   || lpad(lower(hex(w)), 4, '0')
                   || '03011100021101031101' || body || 'ffd9'
                 ELSE '255044462d312e34' || body
               END AS hexstr
        FROM p)
      SELECT doc_id,
             TIMESTAMP '2024-01-01 00:00:00'
               + doc_id * INTERVAL 1 SECOND AS tp_timestamp,
             cast(length(hexstr) / 2 AS bigint) AS size_bytes,
             CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
               WHEN 2 THEN 'jpeg' ELSE 'pdf' END AS magic,
             CASE WHEN doc_id % 4 < 3 THEN w END AS width,
             CASE WHEN doc_id % 4 < 3 THEN h END AS height,
             sha256(hexstr) AS hex_digest
      FROM hx ORDER BY doc_id""",
    "qi12_catalog_table" -> """
      SELECT cast(year(cast(ts AS timestamp)) AS int) AS tp_year,
             cast(month(cast(ts AS timestamp)) AS int) AS tp_month,
             cast(date_trunc('day', cast(ts AS timestamp)) AS date) AS tp_date,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events WHERE event_type = 'click'
      GROUP BY 1, 2, 3 ORDER BY tp_year, tp_month, tp_date""")
}
