package graft.cli

import java.io.PrintStream
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.util.matching.Regex

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row,
  SparkSession}

import graft.config.{Hcl, PartitionSpec, TableSpec, Workspace}
import graft.ingest.Ingest
import graft.lake.{Lake, Maintenance}
import graft.query.{Metaquery, Render, Views}

/** The `graft` command-line surface — the engine's counterpart of the
  * reference CLI (SURVEY §2C; /root/reference/cmd/):
  *
  *   - `collect <table.partition|wildcard> [--from --to] [--stream
  *     [--auto-size=false] [--max-files-per-trigger N] [--checkpoint]]`
  *     (cmd/collect.go:34-61)
  *   - `query "<sql>" [--output table|csv|json|line] [--from --to
  *     --partition --index --header --separator]` (cmd/query.go:25-61)
  *   - `connect` — emit an init SQL script registering filtered views
  *     (cmd/connect.go:94-173)
  *   - `compact [table]` (cmd/compact.go:25-50)
  *   - `partition list|show|delete` (cmd/partition.go:31-240)
  *   - `table list|show` (cmd/table.go:22-126) + `table diff`
  *     (beyond-reference: metadata diff vs the last manifest snapshot)
  *   - `source list|show`, `format list|show` (cmd/source.go,
  *     cmd/format.go)
  *
  * Every command routes through [[run]], which takes the SparkSession
  * and an output stream — so tests drive the full CLI in-process and
  * assert golden output (the reference's bats pattern,
  * tests/acceptance/test_files/all_column_types.bats:17-23).
  */
object Main {

  /** The process entry. For `query`, one daemon thread reads the
    * lake's metadata ([[Lake.prefetch]]) while the SparkSession starts:
    * the start is mostly single-threaded class loading, so the reads
    * use otherwise idle cores, and the session takes their results
    * from the caches it checks first. Nothing waits for the thread,
    * and [[run]] (the in-process entry) starts none.
    */
  def main(args: Array[String]): Unit = {
    quietLogging()
    if (args.headOption.contains("query")) {
      val opts = parseArgs(args.drop(1))
      val lake = Lake(opts.flag("lake-dir").getOrElse("lake"))
      val t = new Thread(() => lake.prefetch(opts.positional.mkString("\n")),
        "graft-lake-prefetch")
      t.setDaemon(true)
      t.start()
    }
    val spark = SparkSession.builder()
      .appName("graft")
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val rc = try run(spark, args.toIndexedSeq, Console.out)
    finally spark.stop()
    if (rc != 0) sys.exit(rc)
  }

  /** Quiet by default: the root logger at WARN before the session
    * starts, so a one-shot command prints its answer, not Spark's INFO
    * start-up lines. Spark's default log4j profile is installed first
    * (it would replace a level set before it); a workspace `log_level`
    * still overrides this once [[run]] resolves the profile.
    */
  private[cli] def quietLogging(): Unit = {
    new org.apache.spark.internal.Logging {
      initializeLogIfNecessary(isInterpreter = false, silent = true)
    }
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.WARN)
  }

  /** Parsed global options + positional arguments. */
  final case class Opts(
      positional: Seq[String],
      flags: Map[String, Seq[String]]) {
    def flag(name: String): Option[String] = flags.get(name).map(_.last)
    def flagAll(name: String): Seq[String] = flags.getOrElse(name, Seq.empty)
    def ts(name: String): Option[Timestamp] =
      flag(name).map(v => parseTime(v))
  }

  /** Flags that are on/off switches: a following token is consumed as
    * their value only when it IS a boolean word, so `--overwrite
    * tbl.p0` and `--header "select 1"` keep the positional argument
    * instead of swallowing it.
    */
  private val BoolFlags =
    Set("overwrite", "header", "compact", "config-dump", "all",
      "backup", "restore", "reindex", "force", "progress", "rules", "ppl",
      "vocab", "novelty", "readability", "tune", "dry-run", "stream",
      "auto-size", "ndv")
  private val BoolWords = Set("true", "false", "on", "off")

  private[cli] def parseArgs(args: Seq[String]): Opts = {
    val pos = Seq.newBuilder[String]
    var flags = Map.empty[String, Seq[String]]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val (k, v) = a.indexOf('=') match {
          case -1 =>
            val name = a.drop(2)
            val takesNext = i + 1 < args.length &&
              !args(i + 1).startsWith("--") &&
              (!BoolFlags(name) || BoolWords(args(i + 1).toLowerCase))
            if (takesNext) { i += 1; (name, args(i)) }
            else (name, "true")
          case eq => (a.substring(2, eq), a.substring(eq + 1))
        }
        flags = flags.updated(k, flags.getOrElse(k, Seq.empty) :+ v)
      } else pos += a
      i += 1
    }
    Opts(pos.result(), flags)
  }

  /** `--from/--to` time parsing (cmd/query.go doc: ISO 8601 date,
    * datetime, datetime+ms, and relative `T-2Y/T-10m/T-10W/T-180d/
    * T-9H/T-10M` — uppercase M is minutes, lowercase m months).
    */
  private val Relative: Regex = """T-(\d+)([YymWwdDHhMs])""".r

  def parseTime(s: String, now: LocalDateTime = LocalDateTime.now(ZoneOffset.UTC)): Timestamp = s match {
    case Relative(n, unit) =>
      val k = n.toLong
      val t = unit match {
        case "Y" | "y" => now.minusYears(k)
        case "m"       => now.minusMonths(k)
        case "W" | "w" => now.minusWeeks(k)
        case "d" | "D" => now.minusDays(k)
        case "H" | "h" => now.minusHours(k)
        case "M"       => now.minusMinutes(k)
        case "s"       => now.minusSeconds(k)
      }
      Timestamp.valueOf(t)
    case _ if s.length == 10 =>
      Timestamp.valueOf(LocalDate.parse(s).atStartOfDay())
    // RFC 3339 with an explicit offset ("+05:30") — normalized to UTC,
    // the session zone. The reference SKIPS this form (from_and_to
    // .bats:86, open ducklake issue #543); we accept it.
    case _ if s.matches(""".*[+-]\d{2}:\d{2}$""") =>
      Timestamp.valueOf(java.time.OffsetDateTime.parse(s)
        .withOffsetSameInstant(ZoneOffset.UTC).toLocalDateTime)
    case _ =>
      val norm = s.stripSuffix("Z").replace('T', ' ')
      Timestamp.valueOf(norm)
  }

  // ---- entry -----------------------------------------------------------

  def run(spark: SparkSession, args: Seq[String], out: PrintStream): Int = {
    val opts = parseArgs(args.drop(1))
    // DuckDB-dialect shims (strptime, list, len, epoch_ms, …): the
    // reference passes user SQL to DuckDB verbatim, so its users write
    // that dialect — register once per session for every command
    graft.functions.DialectShims.register(spark)
    val lake = Lake(opts.flag("lake-dir").getOrElse("lake"))
    val configDir = opts.flag("config-dir").getOrElse("config")
    def config = loadConfig(configDir)
    try {
      // workspace-profile resolution (flag > GRAFT_WORKSPACE env;
      // explicit profile > env vars > 'default' profile — precedence
      // pinned by WorkspaceSpec after the reference's acceptance
      // fixtures). log_level is the one setting applicable to a running
      // session; the memory caps inform deployment (spark-submit sizes
      // executor JVMs at launch, so an in-process cap can't be honored —
      // `connect` emits them as comments instead). Inside the try so a
      // bad profile name or malformed workspaces.tpc gets the normal
      // `Error: ...` + rc=1 path, like every other config error.
      // installed plugins join the adapter registry before any command
      // resolves source kinds (reference: plugin binaries are discovered
      // from the plugin dir at startup, plugin_manager.go:74-89)
      graft.plugin.Plugins.registerInstalled(
        configDir, m => out.println(s"Warning: $m"))
      val ws = Workspace.load(configDir, opts.flag("workspace"))
      ws.logLevel.foreach(l => spark.sparkContext.setLogLevel(l.toUpperCase match {
        case "TRACE" | "DEBUG" | "INFO" | "WARN" | "ERROR" => l.toUpperCase
        case _ => "WARN"
      }))
      // undocumented test hook, mirroring TAILPIPE_CONFIG_DUMP
      // (internal/cmdconfig/diagnostics.go:16-28)
      if (sys.env.get("GRAFT_CONFIG_DUMP").contains("config") ||
          opts.flag("config-dump").contains("config"))
        out.println(ws.dump)
      args.headOption match {
        case Some("collect")   => collect(spark, lake, config, opts, out)
        case Some("query")     => query(spark, lake, config, opts, out)
        case Some("connect")   => connect(spark, lake, config, opts, out)
        case Some("compact")   => compact(spark, lake, config, opts, out)
        case Some("partition") => partitionCmd(spark, lake, config, opts, out)
        case Some("table")     => tableCmd(spark, lake, config, opts, out)
        case Some("source")    => sourceCmd(config, opts, out)
        case Some("format")    => formatCmd(config, opts, out)
        case Some("plugin")    => pluginCmd(config, configDir, opts, out)
        case Some("import")    => importCmd(spark, lake, opts, out)
        case Some("export")    => exportCmd(spark, lake, opts, out)
        case Some("dedup")     => dedupCmd(spark, lake, opts, out)
        case Some("profile")   => profileCmd(spark, lake, opts, out)
        case Some("retention") => retentionCmd(spark, lake, opts, out)
        case Some("vacuum")    => vacuumCmd(spark, lake, opts, out)
        case Some("curate")    => curateCmd(spark, lake, opts, out)
        case Some("sessions")  => sessionsCmd(spark, lake, opts, out)
        case Some("index")     => indexCmd(spark, lake, opts, out)
        case Some("tokenizer") => tokenizerCmd(spark, lake, opts, out)
        case Some("lm")        => lmCmd(spark, lake, opts, out)
        case Some("rollup")    => rollupCmd(spark, lake, config, opts, out)
        case Some(other) =>
          out.println(s"unknown command: $other"); return 1
        case None =>
          out.println(usage); return 1
      }
      0
    } catch {
      case e: Exception =>
        out.println(s"Error: ${e.getMessage}")
        1
    }
  }

  val usage: String =
    """usage: graft <command> [args] [--lake-dir DIR] [--config-dir DIR]
      |commands: collect query connect compact partition table source
      |          format plugin import export dedup profile retention
      |          vacuum curate sessions index tokenizer lm rollup
      |import:   graft import <parquet-dir> <table>[.<partition>]
      |          [--timestamp-column COL] [--index-column COL]
      |          graft import --legacy <workspace-dir>
      |          [--timestamp-column COL]
      |export:   graft export <table> <out-dir> --shards N --id-column COL
      |          [--seed S] [--token-column COL [--budget TOKENS]]
      |          [--format parquet|jsonl]
      |dedup:    graft dedup <table> --id-column COL --text-column COL
      |          [--mode exact|normalized|near|substring|incremental]
      |          [--threshold J] [--k TOKENS] [--index DIR]
      |          [--pairs-out DIR | --pairs-in DIR  (near mode: persist /
      |           reuse the verified pair list)]
      |profile:  graft profile <table> --text-column COL [--top K]
      |          [--rules] [--ppl] [--bpe N] [--buckets] [--vocab]
      |          [--batching WIDTH] [--novelty]
      |curate:   graft curate <table> <out-dir> --id-column COL
      |          --text-column COL [--gates gopher|c4|both|none]
      |          [--dedup exact|normalized|near|none] [--threshold J]
      |          [--classify-column COL --classify-seeds v1,v2
      |           [--classify-min ODDS]]
      |          [--buckets head,middle,tail]
      |          [--domain-column COL [--domain-cap N]
      |           [--epochs dom1=1.5,dom2=0.75]]
      |sessions: graft sessions <table> --user-column COL
      |          [--ts-column COL] [--gap SECONDS] [--value-column COL]
      |index:    graft index build <table> <dir> --id-column COL
      |            --vector-column COL [--nlist N|auto]
      |          graft index append <table> <dir> (same columns)
      |          graft index query <dir> --table TABLE (same columns)
      |            [--k K] [--nprobe N] [--min-sim S]
      |tokenizer: graft tokenizer train <table> <dir> --text-column COL
      |            [--rounds N] [--sample K  (train on a ~1/K hash-sample)]
      |          graft tokenizer show <dir>
      |          graft tokenizer encode <table> <dir> --id-column COL
      |            --text-column COL
      |lm:       graft lm train <table> <dir> --text-column COL
      |          graft lm append <table> <dir> --text-column COL
      |          graft lm score <table> <dir> --text-column COL
      |            [--model unigram|bigram|jm]
      |retention: graft retention [table] --older-than TIME (e.g. T-90d)
      |compact:  graft compact [table] [--reindex] [--zorder col1,col2]
      |          [--align day|hour|minute|week (no file straddles a bucket)]
      |vacuum:   graft vacuum [table] [--backup] | [--restore] | [--relocate]
      |table:    graft table list | show <name> | diff <name>
      |          | analyze <name> [--columns c1,c2]
      |          (diff: file add/remove/change vs the last snapshot;
      |           analyze: manifest-derived catalog stats, no scan;
      |           --columns: per-column NDV/null/range stats for CBO —
      |           one seeding scan, then maintained per mutation)
      |rollup:   graft rollup list | refresh <table.name>
      |          (config block: rollup "table" "name" { group_by = [..]
      |           aggregate "col" { function = "count|sum|..." } };
      |           collect refreshes touched months incrementally)
      |plugin:   list | show <name> | install [ref…] | update [--all|ref…]
      |          | uninstall <ref>   (ref = [org/]name[@version];
      |          registry: --registry DIR or GRAFT_PLUGIN_REGISTRY)""".stripMargin

  /** Load + merge every `*.tpc` or `*.hcl` file in the config dir
    * (the reference loads `*.tpc` files under `~/.tailpipe/config`,
    * internal/parse/load_config.go).
    */
  def loadConfig(dir: String): Hcl.Config =
    graft.config.ConfigLoader.loadDir(dir)

  // ---- import ----------------------------------------------------------

  /** `import <parquet-dir> <table>[.<partition>]` — adopt foreign or
    * legacy parquet into a managed lake table (the reference's
    * pre-DuckLake migration, internal/migration/migration.go:39-247,
    * as an explicit command; see graft.ingest.Importer).
    */
  private def importCmd(
      spark: SparkSession, lake: Lake, opts: Opts, out: PrintStream): Unit = {
    // --legacy <workspace>: whole-workspace migration — discover
    // tp_table= dirs against the views.sql catalog, migrate matched,
    // archive unmatched (Importer.importLegacyWorkspace scaladoc)
    if (opts.flag("legacy").isDefined) {
      // `--legacy <dir>` or `--legacy` + positional dir; a bare
      // --legacy parses as value "true" — don't mistake it for a path
      val ws = opts.flag("legacy").filterNot(_ == "true")
        .orElse(opts.positional.headOption)
        .getOrElse(throw new IllegalArgumentException(
          "import --legacy requires a <workspace-dir> argument"))
      val res = graft.ingest.Importer.importLegacyWorkspace(spark, lake, ws,
        timestampColumn =
          opts.flag("timestamp-column").getOrElse("tp_timestamp"))
      res.migrated.foreach { case (t, n) =>
        out.println(s"Migrated $t.legacy: $n rows")
      }
      res.archived.foreach { d =>
        out.println(s"Archived $d to unmigrated/ (no view in views.sql)")
      }
      out.println(s"Legacy migration complete: ${res.migrated.size} " +
        s"tables, ${res.migrated.map(_._2).sum} rows, " +
        s"${res.archived.size} archived")
      return
    }
    val src = opts.positional.headOption.getOrElse(
      throw new IllegalArgumentException(
        "import requires <parquet-dir> <table>[.<partition>] arguments"))
    val target = opts.positional.lift(1).getOrElse(
      throw new IllegalArgumentException(
        "import requires a target <table>[.<partition>] argument"))
    val (table, part) = target.split('.') match {
      case Array(t)    => (t, "imported")
      case Array(t, p) => (t, p)
      case _ => throw new IllegalArgumentException(
        s"bad import target '$target' (expected table[.partition])")
    }
    val res = graft.ingest.Importer.importParquet(
      spark, lake, src,
      PartitionSpec(table, part, tpIndexColumn = opts.flag("index-column")),
      timestampColumn =
        opts.flag("timestamp-column").getOrElse("tp_timestamp"))
    out.println(s"Imported $table.$part: ${res.rowsIngested} rows from $src")
    if (res.rowsInvalid > 0)
      out.println(s"Dropped ${res.rowsInvalid} invalid rows")
  }

  /** `export <table> <out-dir> --shards N --id-column COL` — training
    * export: deterministic shuffle → [optional block packing] →
    * balanced shards → parquet `shard=K/` layout + manifest (see
    * graft.lake.Export; beyond-reference terminal pipeline stage).
    */
  private def exportCmd(
      spark: SparkSession, lake: Lake, opts: Opts, out: PrintStream): Unit = {
    val table = opts.positional.headOption.getOrElse(
      throw new IllegalArgumentException(
        "export requires <table> <out-dir> arguments"))
    val outDir = opts.positional.lift(1).getOrElse(
      throw new IllegalArgumentException(
        "export requires an <out-dir> argument"))
    val shards = opts.flag("shards").map(_.toInt).getOrElse(
      throw new IllegalArgumentException("export requires --shards N"))
    val idCol = opts.flag("id-column").getOrElse(
      throw new IllegalArgumentException(
        "export requires --id-column COL (a unique, stable row id — " +
          "shard membership is a pure function of it)"))
    val seed = opts.flag("seed").getOrElse("0")
    val format = opts.flag("format").getOrElse("parquet")
    val df = lake.read(spark, table)
    require(df.columns.contains(idCol),
      s"export: column '$idCol' not found in $table " +
        s"(columns: ${df.columns.mkString(", ")})")
    val manifest = (opts.flag("token-column"), opts.flag("budget")) match {
      case (Some(tc), Some(b)) =>
        graft.lake.Export.exportPacked(spark, df, idCol, tc, outDir,
          shards, budget = b.toLong, seed = seed, format = format)
      case (Some(tc), None) =>
        graft.lake.Export.exportShards(spark, df, idCol, outDir, shards,
          seed, tokenCol = Some(tc), format = format)
      case (None, Some(_)) =>
        throw new IllegalArgumentException(
          "export: --budget requires --token-column")
      case (None, None) =>
        graft.lake.Export.exportShards(spark, df, idCol, outDir, shards,
          seed, format = format)
    }
    out.println(s"Exported $table to $outDir ($shards shards)")
    out.println(graft.query.Render.table(manifest))
  }

  /** `df` behind a lazy local checkpoint, and its row count. The count
    * is the one execution that materializes the checkpoint, so a later
    * plan over the returned DataFrame reads it instead of recomputing
    * `df`.
    */
  private[cli] def checkpointAndCount(df: DataFrame): (DataFrame, Long) = {
    val checkpointed = df.localCheckpoint(eager = false)
    (checkpointed, checkpointed.count())
  }

  /** `curate <table> <out-dir> --id-column --text-column [--gates]
    * [--dedup] [--threshold] [--classify-column --classify-seeds
    * [--classify-min]] [--buckets]` — the one-command training-data
    * funnel: published quality gates (C4/Gopher) → content dedup
    * (exact / normalized / sketch-verified near) → seed-labeled
    * Naive Bayes classifier gate → CCNet perplexity-tercile
    * selection → curated parquet, with a per-stage rows-in →
    * rows-out report. Every stage is the same oracle-gated operator
    * the query surface pins (QualityRules qt31, Dedup qt04/qt05/
    * qt07+qt18, NaiveBayes qt40, Perplexity.buckets qt36) — the CLI
    * only composes them. Beyond-reference.
    *
    * Each surviving set is localCheckpoint'ed at the stage boundary:
    * the report needs a count per stage anyway, and without it stage
    * N+1's lineage would replay stages 1..N (and the final write all
    * of them) — the funnel is materialize-as-you-go by design. The
    * checkpoint is lazy and the stage's count is the action that
    * materializes it ([[checkpointAndCount]]): one execution a stage.
    */
  private def curateCmd(
      spark: SparkSession, lake: Lake, opts: Opts, out: PrintStream): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.functions.{TextFunctions => TF}
    import graft.operators.{Components, Dedup, Perplexity}
    val table = opts.positional.headOption.getOrElse(
      throw new IllegalArgumentException(
        "curate requires <table> <out-dir> arguments"))
    val outDir = opts.positional.lift(1).getOrElse(
      throw new IllegalArgumentException(
        "curate requires an <out-dir> argument"))
    val idCol = opts.flag("id-column").getOrElse(
      throw new IllegalArgumentException("curate requires --id-column COL"))
    val textCol = opts.flag("text-column").getOrElse(
      throw new IllegalArgumentException("curate requires --text-column COL"))
    // "--gates", not "--rules": the profile command owns --rules as a
    // boolean switch, and BoolFlags parsing would swallow the value
    val rules = opts.flag("gates").getOrElse("gopher")
    val dedupMode = opts.flag("dedup").getOrElse("exact")
    var df = lake.read(spark, table)
    Seq(idCol, textCol).foreach(c => require(df.columns.contains(c),
      s"curate: column '$c' not found in $table " +
        s"(columns: ${df.columns.mkString(", ")})"))
    var n = df.count()
    out.println(s"Curate $table: $n docs")
    def stage(name: String)(step: DataFrame => DataFrame): Unit = {
      val (checkpointed, after) = checkpointAndCount(step(df))
      df = checkpointed
      out.println(s"  $name: $n -> $after")
      n = after
    }
    if (rules != "none") stage(s"rules ($rules)") { d =>
      val r = graft.functions.QualityRules(d, idCol, textCol)
      val keep = rules match {
        case "gopher" => col("keep_gopher")
        case "c4"     => col("keep_c4")
        case "both"   => col("keep_gopher") && col("keep_c4")
        case other => throw new IllegalArgumentException(
          s"curate: unknown --gates '$other' (gopher|c4|both|none)")
      }
      d.join(r.where(keep).select(col(idCol)), Seq(idCol), "left_semi")
    }
    dedupMode match {
      case "none" =>
      case "exact" | "normalized" => stage(s"dedup ($dedupMode)") { d =>
        val groups = if (dedupMode == "exact") Dedup.exact(d, idCol, textCol)
          else Dedup.normalized(d, idCol, textCol)
        d.join(groups.select(col("keep_id").as(idCol)), Seq(idCol),
          "left_semi")
      }
      case "near" => stage("dedup (near)") { d =>
        val threshold = opts.flag("threshold").map(_.toDouble).getOrElse(0.8)
        val cands = Dedup.minhashLshCandidates(d, idCol, textCol,
          numHashes = 128, bands = 32, shingle = 3)
        val verified = Dedup.exactJaccardFor(cands, d, idCol, textCol,
            n = 3, minJaccard = threshold)
          .where(col("jaccard") >= threshold)
          .select("id_a", "id_b")
        val dropIds = Components.connectedComponents(verified)
          .where(col("id") =!= col("component"))
        d.join(dropIds, d(idCol).cast("long") === dropIds("id"),
          "left_anti")
      }
      case other => throw new IllegalArgumentException(
        s"curate: unknown --dedup '$other' (exact|normalized|near|none)")
    }
    // eval-set decontamination (qt55's span redaction): drop every
    // token covered by an eval-table n-gram, keep the rest of the
    // document, and drop docs redacted to nothing — placed after
    // dedup so the span join runs on the surviving corpus only
    opts.flag("decontaminate").foreach { evalTable =>
      val evalText = opts.flag("eval-text-column").getOrElse(textCol)
      val bench = lake.read(spark, evalTable)
      require(bench.columns.contains(evalText),
        s"curate: column '$evalText' not found in $evalTable " +
          s"(columns: ${bench.columns.mkString(", ")})")
      stage(s"decontaminate (vs $evalTable)") { d =>
        val red = Dedup.redactContaminated(d,
          bench.select(col(evalText).as(textCol)), idCol, textCol, n = 3)
        d.drop(textCol)
          .join(red.select(col(idCol), col("clean_text").as(textCol)),
            Seq(idCol))
          .where(col(textCol) =!= "")
      }
    }
    // model-based quality gate (the CCNet/DCLM ordering: dedup first,
    // then the classifier — duplicates would otherwise vote in training)
    opts.flag("classify-seeds").foreach { seeds =>
      val seedCol = opts.flag("classify-column").getOrElse(
        throw new IllegalArgumentException(
          "curate: --classify-seeds requires --classify-column COL"))
      require(df.columns.contains(seedCol),
        s"curate: column '$seedCol' not found in $table " +
          s"(columns: ${df.columns.mkString(", ")})")
      val set = seeds.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      require(set.nonEmpty, "curate: --classify-seeds needs at least one value")
      val minOdds = opts.flag("classify-min").map(_.toDouble).getOrElse(0.0)
      stage(s"classify ($seedCol in ${set.mkString(",")})") { d =>
        val scored = graft.operators.NaiveBayes.scoreBySeed(
          d, idCol, textCol, col(seedCol).isin(set: _*))
        d.join(scored.where(col("log_odds") > minOdds).select(col(idCol)),
          Seq(idCol), "left_semi")
      }
    }
    opts.flag("buckets").foreach { sel =>
      val keep = sel.split(',').map(_.trim).filter(_.nonEmpty).toSet
      require(keep.nonEmpty && keep.subsetOf(Set("head", "middle", "tail")),
        s"curate: --buckets must select from head,middle,tail (got '$sel')")
      stage(s"buckets (${keep.toSeq.sorted.mkString(",")})") { d =>
        val withLang = d.withColumn("__lang", TF.langId(col(textCol)))
        val b = Perplexity.buckets(withLang, idCol, textCol, "__lang")
        d.join(b.where(col("bucket").isin(keep.toSeq: _*)).select(col(idCol)),
          Seq(idCol), "left_semi")
      }
    }
    // anti-monoculture gate (RefinedWeb host-cap, qt45): at most N
    // docs per domain value, keeping the longest (text length desc,
    // id tiebreak — deterministic)
    opts.flag("domain-cap").foreach { nStr =>
      val cap = nStr.toInt
      val domCol = opts.flag("domain-column").getOrElse(
        throw new IllegalArgumentException(
          "curate: --domain-cap requires --domain-column COL"))
      require(df.columns.contains(domCol),
        s"curate: column '$domCol' not found in $table " +
          s"(columns: ${df.columns.mkString(", ")})")
      stage(s"domain-cap ($domCol <= $cap)") { d =>
        graft.operators.Sampling.groupCap(d, Seq(domCol),
          Seq(org.apache.spark.sql.functions.length(col(textCol)).desc,
            col(idCol).asc), cap)
          .drop("cap_rank")
      }
    }
    // epoch mixing (qt49): replicate rows per-domain by fractional
    // epoch weights ("src1=1.5,src2=0.75"; unlisted domains 1.0) as
    // the LAST stage — the written corpus is the realized mixture,
    // each copy tagged with epoch_copy
    opts.flag("epochs").foreach { spec =>
      val domCol = opts.flag("domain-column").getOrElse(
        throw new IllegalArgumentException(
          "curate: --epochs requires --domain-column COL"))
      require(df.columns.contains(domCol),
        s"curate: column '$domCol' not found in $table " +
          s"(columns: ${df.columns.mkString(", ")})")
      val weights = spec.split(',').map(_.trim).filter(_.nonEmpty)
        .map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k -> v.toDouble
        }.toMap
      stage(s"epochs (${weights.map { case (k, v) => s"$k=$v" }
          .toSeq.sorted.mkString(",")})") { d =>
        val w = weights.foldLeft(
          org.apache.spark.sql.functions.lit(1.0)) {
          case (acc, (k, v)) =>
            org.apache.spark.sql.functions
              .when(col(domCol) === k, v).otherwise(acc)
        }
        graft.operators.Sampling.epochMix(
          d.withColumn("__epoch_w", w), idCol, "__epoch_w")
          .drop("__epoch_w")
      }
    }
    df.write.mode("overwrite").parquet(outDir)
    out.println(s"Wrote $n docs to $outDir")
  }

  /** `sessions <table> --user-column COL [--ts-column COL]
    * [--gap SECONDS] [--value-column COL]` — gap-based session report
    * over a collected log table: the first analysis every log
    * pipeline runs on the reference's domain data (visits, incident
    * windows, activity bursts), via the oracle-gated [[
    * graft.operators.Sessionize]] (q42). Defaults: `tp_timestamp` as
    * the clock, 1800 s gap. Beyond-reference command.
    */
  private def sessionsCmd(
      spark: SparkSession, lake: Lake, opts: Opts, out: PrintStream): Unit = {
    import org.apache.spark.sql.functions.{avg, col, count, countDistinct, lit}
    val table = opts.positional.headOption.getOrElse(
      throw new IllegalArgumentException(
        "sessions requires a <table> argument"))
    val userCol = opts.flag("user-column").getOrElse(
      throw new IllegalArgumentException(
        "sessions requires --user-column COL"))
    val tsCol = opts.flag("ts-column").getOrElse("tp_timestamp")
    val gap = opts.flag("gap").map(_.toLong).getOrElse(1800L)
    val df = lake.read(spark, table)
    (Seq(userCol, tsCol) ++ opts.flag("value-column")).foreach(c =>
      require(df.columns.contains(c),
        s"sessions: column '$c' not found in $table " +
          s"(columns: ${df.columns.mkString(", ")})"))
    val base = opts.flag("value-column") match {
      case Some(c) => df.withColumn("__value", col(c).cast("double"))
      case None    => df.withColumn("__value", lit(0.0))
    }
    val sess = graft.operators.Sessionize.sessions(
      base, userCol, tsCol, tsCol, "__value", gap)
    val shown = if (opts.flag("value-column").isEmpty)
      sess.drop("sum_value") else sess
    val events = df.count()
    val a = sess.agg(count(lit(1)), countDistinct(col(userCol)),
      avg("n_events"), avg("duration_s")).head()
    out.println(s"Table $table: $events events, ${a.getLong(0)} sessions " +
      s"across ${a.getLong(1)} users (gap ${gap}s)")
    out.println(f"mean ${a.getDouble(2)}%.1f events / " +
      f"${a.getDouble(3)}%.1f s per session")
    out.println(graft.query.Render.table(
      shown.orderBy(col("n_events").desc, col(userCol), col("session_id"))
        .limit(20)))
  }

  /** `index build|append|query` — the persisted-IVF ANN surface as a
    * lake-level artifact (Similarity.buildIvfIndex /
    * appendToIvfIndex / probeIvfIndex, the qe12-gated operators):
    * build writes a cell-partitioned parquet index from a vector
    * column, append assigns new vectors to the stored centroids with
    * no rebuild, query probes nprobe cells as a partition-pruned
    * scan. Beyond-reference (the reference has no vector surface);
    * same library-completeness tier as import/export/dedup.
    */
  private def indexCmd(
      spark: SparkSession, lake: Lake, opts: Opts, out: PrintStream): Unit = {
    import org.apache.spark.sql.functions._
    def vectors(table: String): org.apache.spark.sql.DataFrame = {
      val idCol = opts.flag("id-column").getOrElse(
        throw new IllegalArgumentException("index requires --id-column COL"))
      val vecCol = opts.flag("vector-column").getOrElse(
        throw new IllegalArgumentException(
          "index requires --vector-column COL"))
      val df = lake.read(spark, table)
      for (c <- Seq(idCol, vecCol))
        require(df.columns.contains(c),
          s"index: column '$c' not found in $table " +
            s"(columns: ${df.columns.mkString(", ")})")
      df.select(col(idCol).as("cid"),
        col(vecCol).cast("array<double>").as("cvec"))
        .where(col("cvec").isNotNull)
    }
    opts.positional.headOption match {
      case Some("build") =>
        val (table, dir) = (opts.positional.lift(1), opts.positional.lift(2)) match {
          case (Some(t), Some(d)) => (t, d)
          case _ => throw new IllegalArgumentException(
            "index build requires <table> <index-dir>")
        }
        val c = vectors(table)
        // --nlist auto: the √N operating rule (Similarity.autoNlist
        // scaladoc) — one metadata count sizes the coarse quantizer
        // so probe cost stays O(√N) as the table grows
        val nlist = opts.flag("nlist") match {
          case Some("auto") =>
            graft.operators.Similarity.autoNlist(c.count())
          case Some(v) => v.toInt
          case None => 64
        }
        graft.operators.Similarity.buildIvfIndex(spark, c, nlist, dir)
        val n = spark.read.parquet(s"$dir/cells").count()
        out.println(s"Index built: $dir ($n vectors, $nlist cells)")
      case Some("append") =>
        val (table, dir) = (opts.positional.lift(1), opts.positional.lift(2)) match {
          case (Some(t), Some(d)) => (t, d)
          case _ => throw new IllegalArgumentException(
            "index append requires <table> <index-dir>")
        }
        val c = vectors(table)
        val before = spark.read.parquet(s"$dir/cells").count()
        graft.operators.Similarity.appendToIvfIndex(spark, c, dir)
        val after = spark.read.parquet(s"$dir/cells").count()
        out.println(s"Index appended: $dir (+${after - before} vectors, " +
          s"$after total)")
      case Some("query") =>
        val dir = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException(
            "index query requires an <index-dir>"))
        val table = opts.flag("table").getOrElse(
          throw new IllegalArgumentException(
            "index query requires --table TABLE (the query vectors)"))
        val k = opts.flag("k").map(_.toInt).getOrElse(5)
        val nprobe = opts.flag("nprobe").map(_.toInt).getOrElse(8)
        val minSim = opts.flag("min-sim").map(_.toDouble)
          .getOrElse(Double.NegativeInfinity)
        val q = vectors(table)
          .select(col("cid").as("qid"), col("cvec").as("qvec"))
        val hits = graft.operators.Similarity
          .probeIvfIndex(spark, dir, q, k, nprobe, minSim)
          .orderBy("qid", "rank")
        out.println(graft.query.Render.table(hits))
      case Some("stats") =>
        // index health: cell balance decides probe cost — a skewed
        // coarse quantizer (hot cells from appended drift) makes
        // nprobe scans uneven, and the fix (rebuild) is the operator's
        // call. One metadata-sized aggregate over the cell partitions.
        val dir = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException(
            "index stats requires an <index-dir>"))
        val cells = spark.read.parquet(s"$dir/cells")
          .groupBy("cell").agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_cells"), sum("n").as("n_vectors"),
            min("n").as("min_cell"), max("n").as("max_cell"),
            round(avg("n"), 1).as("avg_cell"))
          .head()
        val skew = cells.getLong(3).toDouble /
          math.max(1.0, cells.getDouble(4))
        out.println(s"Index $dir: ${cells.getLong(1)} vectors in " +
          s"${cells.getLong(0)} cells (min ${cells.getLong(2)}, " +
          s"avg ${cells.getDouble(4)}, max ${cells.getLong(3)}, " +
          f"skew ${skew}%.1fx)")
        if (skew > 4.0)
          out.println("Warning: cell skew > 4x — appended vectors have " +
            "drifted from the trained quantizer; consider `index build` " +
            "to recluster")
      case other => throw new IllegalArgumentException(
        s"index: expected build|append|query|stats, got ${other.getOrElse("nothing")}")
    }
  }

  /** `tokenizer train|show|encode` — the BPE tokenizer as a persisted
    * lake artifact, mirroring `index build/query`: `train` learns the
    * merge table + word vocabulary once and stores them as parquet
    * (BpeMerges.save); `encode` tokenizes any table against the stored
    * artifact with ZERO training work (the vocabulary lookup join
    * BpeEncode's scaladoc describes); `show` prints the learned
    * merges. Beyond-reference: what stops profiling surfaces
    * (qt35/qt48) from retraining the same tokenizer per query.
    */
  private def tokenizerCmd(
      spark: SparkSession, lake: Lake, opts: Opts, out: PrintStream): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.{BpeEncode, BpeMerges}
    def textCol: String = opts.flag("text-column").getOrElse(
      throw new IllegalArgumentException(
        "tokenizer requires --text-column COL"))
    opts.positional.headOption match {
      case Some("train") =>
        val (table, dir) =
          (opts.positional.lift(1), opts.positional.lift(2)) match {
            case (Some(t), Some(d)) => (t, d)
            case _ => throw new IllegalArgumentException(
              "tokenizer train requires <table> <tokenizer-dir>")
          }
        val rounds = opts.flag("rounds").map(_.toInt).getOrElse(16)
        val df0 = lake.read(spark, table)
        require(df0.columns.contains(textCol),
          s"tokenizer: column '$textCol' not found in $table")
        // --sample K: train on a deterministic ~1/K hash-sample of the
        // corpus — what tokenizer training actually does at 100 TB
        // (the merge table converges long before the full corpus is
        // seen; word-frequency RANKS are what matter and a uniform
        // sample preserves them). xxhash64 of the text keeps the
        // sample reproducible across runs and engines.
        val df = opts.flag("sample").map(_.toLong) match {
          case Some(k) if k > 1 =>
            df0.where(org.apache.spark.sql.functions.pmod(
              org.apache.spark.sql.functions.xxhash64(col(textCol)),
              org.apache.spark.sql.functions.lit(k)) === 0)
          case _ => df0
        }
        val t = BpeMerges.train(df, textCol, rounds)
        BpeMerges.save(t, dir)
        val nMerges = t.merges.count()
        val nWords = spark.read.parquet(s"$dir/vocab").count()
        t.release()
        out.println(s"Tokenizer trained: $dir ($nMerges merges, " +
          s"$nWords-word vocabulary)")
      case Some("show") =>
        val dir = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException(
            "tokenizer show requires a <tokenizer-dir>"))
        out.println(graft.query.Render.table(
          spark.read.parquet(s"$dir/merges").orderBy("merge_rank")))
      case Some("encode") =>
        val (table, dir) =
          (opts.positional.lift(1), opts.positional.lift(2)) match {
            case (Some(t), Some(d)) => (t, d)
            case _ => throw new IllegalArgumentException(
              "tokenizer encode requires <table> <tokenizer-dir>")
          }
        val idCol = opts.flag("id-column").getOrElse(
          throw new IllegalArgumentException(
            "tokenizer encode requires --id-column COL"))
        val df = lake.read(spark, table)
        for (c <- Seq(idCol, textCol))
          require(df.columns.contains(c),
            s"tokenizer: column '$c' not found in $table")
        val enc = BpeEncode(df, idCol, textCol, BpeMerges.load(spark, dir))
        out.println(graft.query.Render.table(enc.agg(
          count(lit(1)).as("docs"),
          sum("n_words").as("words"), sum("n_tokens").as("tokens"),
          round(sum("n_tokens").cast("double") / sum("n_words"), 4)
            .as("fertility"))))
      case other => throw new IllegalArgumentException(
        s"tokenizer: expected train|show|encode, got " +
          other.getOrElse("nothing"))
    }
  }

  /** `lm train|score` — the corpus LM count tables as a persisted lake
    * artifact (Perplexity.saveLm): `train` runs the counting passes
    * once; `score` rates any table against the stored model (unigram,
    * bigram, or Jelinek-Mercer interpolated) without retraining — the
    * frozen-reference-LM workflow CCNet-style filtering actually uses
    * (score new data against a FIXED clean-corpus model).
    */
  private def lmCmd(
      spark: SparkSession, lake: Lake, opts: Opts, out: PrintStream): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.Perplexity
    def textCol: String = opts.flag("text-column").getOrElse(
      throw new IllegalArgumentException("lm requires --text-column COL"))
    opts.positional.headOption match {
      case Some("train") =>
        val (table, dir) =
          (opts.positional.lift(1), opts.positional.lift(2)) match {
            case (Some(t), Some(d)) => (t, d)
            case _ => throw new IllegalArgumentException(
              "lm train requires <table> <lm-dir>")
          }
        val df = lake.read(spark, table)
        require(df.columns.contains(textCol),
          s"lm: column '$textCol' not found in $table")
        Perplexity.saveLm(df, textCol, dir)
        val v = spark.read.parquet(s"$dir/unigrams").count()
        val b = spark.read.parquet(s"$dir/bigrams").count()
        out.println(s"LM trained: $dir ($v-word vocabulary, " +
          s"$b bigram transitions)")
      case Some("append") =>
        val (table, dir) =
          (opts.positional.lift(1), opts.positional.lift(2)) match {
            case (Some(t), Some(d)) => (t, d)
            case _ => throw new IllegalArgumentException(
              "lm append requires <table> <lm-dir>")
          }
        val df = lake.read(spark, table)
        require(df.columns.contains(textCol),
          s"lm: column '$textCol' not found in $table")
        val before = spark.read.parquet(s"$dir/unigrams").count()
        Perplexity.appendLm(df, textCol, dir)
        val after = spark.read.parquet(s"$dir/unigrams").count()
        out.println(s"LM appended: $dir (vocabulary $before -> $after)")
      case Some("score") =>
        val (table, dir) =
          (opts.positional.lift(1), opts.positional.lift(2)) match {
            case (Some(t), Some(d)) => (t, d)
            case _ => throw new IllegalArgumentException(
              "lm score requires <table> <lm-dir>")
          }
        val df = lake.read(spark, table)
          .withColumn("__pid", monotonically_increasing_id())
        val model = opts.flag("model").getOrElse("unigram")
        val (scored, pplCol) = model match {
          case "unigram" =>
            (Perplexity.applyWith(df, "__pid", textCol, dir), "ppl")
          case "bigram" =>
            (Perplexity.bigramWith(df, "__pid", textCol, dir), "ppl2")
          case "jm" =>
            (Perplexity.interpolatedBigramWith(df, "__pid", textCol, dir),
              "ppl_jm")
          case o => throw new IllegalArgumentException(
            s"lm score: --model must be unigram|bigram|jm, got $o")
        }
        // a nonzero OOV count flags frozen-model scoring of a
        // diverged corpus — the CCNet workflow's first sanity check.
        // Name the column by what n_oov actually counts: unseen
        // TOKENS for the unigram model, unseen TRANSITIONS (bigrams)
        // for the bigram/jm models (ADVICE r11)
        val oovLabel =
          if (model == "unigram") "oov_tokens" else "oov_bigrams"
        out.println(graft.query.Render.table(scored.agg(
          count(lit(1)).as("docs"),
          round(min(pplCol), 2).as("ppl_min"),
          round(expr(s"percentile_approx($pplCol, 0.5)"), 2)
            .as("ppl_median"),
          round(max(pplCol), 2).as("ppl_max"),
          sum(col("n_oov")).as(oovLabel))))
      case other => throw new IllegalArgumentException(
        s"lm: expected train|append|score, got ${other.getOrElse("nothing")}")
    }
  }

  /** `dedup <table> --id-column --text-column [--mode] [--threshold]` —
    * duplicate-analysis report over a lake table: exact / normalized
    * content hashing, or the full sketch-then-verify near-dup pipeline
    * (MinHash+LSH candidates → exact n-gram Jaccard → connected
    * components), the same oracle-gated operators qt04/qt05/qt07/qt18
    * run (beyond-reference command; the training-data surface made
    * reachable from the CLI).
    */
  private def dedupCmd(
      spark: SparkSession, lake: Lake, opts: Opts, out: PrintStream): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
    import graft.operators.{Components, Dedup}
    // --tune: the LSH banding planner — no table needed, pure s-curve
    // arithmetic over the hash budget (Dedup.lshPlan scaladoc)
    if (opts.flag("tune").contains("true")) {
      val target = opts.flag("threshold").map(_.toDouble).getOrElse(0.8)
      val hashes = opts.flag("hashes").map(_.toInt).getOrElse(128)
      val plan = Dedup.lshPlan(hashes, target)
      val rec = Dedup.lshRecommend(hashes, target)
      out.println(graft.query.Render.renderTable(
        Seq("Bands", "Rows", "Curve Threshold", "P(catch @ target)") +:
          plan.map(c => Seq(c.bands.toString, c.rows.toString,
            f"${c.curveThreshold}%.4f", f"${c.pAtTarget}%.6f")),
        headerRow = true))
      out.println(s"Recommended: ${rec.bands} bands x ${rec.rows} rows " +
        f"(catches jaccard >= $target%.2f with p = ${rec.pAtTarget}%.6f)")
      return
    }
    val table = opts.positional.headOption.getOrElse(
      throw new IllegalArgumentException(
        "dedup requires a <table> argument"))
    val idCol = opts.flag("id-column").getOrElse(
      throw new IllegalArgumentException("dedup requires --id-column COL"))
    val textCol = opts.flag("text-column").getOrElse(
      throw new IllegalArgumentException("dedup requires --text-column COL"))
    val mode = opts.flag("mode").getOrElse("exact")
    val df = lake.read(spark, table)
    Seq(idCol, textCol).foreach(c => require(df.columns.contains(c),
      s"dedup: column '$c' not found in $table " +
        s"(columns: ${df.columns.mkString(", ")})"))
    val total = df.count()
    mode match {
      case "exact" | "normalized" =>
        val groups = (if (mode == "exact") Dedup.exact(df, idCol, textCol)
          else Dedup.normalized(df, idCol, textCol))
          .where(col("n_copies") > 1)
        val report = groups.agg(count(lit(1)),
          coalesce(sum(col("n_copies") - 1), lit(0L))).head()
        val (dupGroups, dupRows) = (report.getLong(0), report.getLong(1))
        out.println(s"Table $table: $total rows, $dupGroups duplicate " +
          s"groups, $dupRows redundant rows ($mode)")
        out.println(graft.query.Render.table(
          groups.orderBy(col("n_copies").desc, col("keep_id")).limit(20)))
      case "near" =>
        val threshold = opts.flag("threshold").map(_.toDouble).getOrElse(0.8)
        // --pairs-in DIR: reuse a verified pair list persisted by an
        // earlier run's --pairs-out — iterating on keep policy or
        // reporting does not re-pay the sketch-and-verify cost (the
        // same shared-artifact discipline the query surface uses for
        // qt07/qt18/qt52/qt56)
        val verified = opts.flag("pairs-in") match {
          case Some(dir) =>
            // the persisted pairs are only as good as the run that
            // wrote them: verify the manifest (threshold, LSH params,
            // source fingerprint — the Artifacts.ensure discipline)
            // before trusting them, and re-apply the jaccard filter
            // since a HIGHER --threshold is servable from stored
            // jaccard while a LOWER one is not (ADVICE r10)
            val mf = new java.io.File(dir, "_pairs_manifest.json")
            require(mf.isFile,
              s"dedup --pairs-in: no _pairs_manifest.json in $dir — " +
                "refusing unverifiable pairs; re-persist with --pairs-out")
            // a real JSON parse (Jackson ships with Spark) — a
            // hand-edited or truncated manifest must fail with
            // "corrupt manifest", not a bare NumberFormatException or
            // a silently-truncated value at the first comma/quote
            val node =
              try new com.fasterxml.jackson.databind.ObjectMapper()
                .readTree(mf)
              catch { case e: java.io.IOException =>
                throw new IllegalArgumentException(
                  s"dedup --pairs-in: corrupt _pairs_manifest.json in " +
                    s"$dir (${e.getMessage}); re-persist with --pairs-out")
              }
            def field(k: String): String = {
              val v = node.path(k)
              require(!v.isMissingNode && !v.isNull,
                s"dedup --pairs-in: _pairs_manifest.json in $dir is " +
                  s"missing '$k' — corrupt manifest; re-persist with " +
                  "--pairs-out")
              v.asText()
            }
            require(field("table") == table,
              s"dedup --pairs-in: pairs were persisted for table " +
                s"'${field("table")}', not '$table'")
            val thrNode = node.path("threshold")
            require(thrNode.isNumber,
              s"dedup --pairs-in: 'threshold' in _pairs_manifest.json " +
                "is not a number — corrupt manifest; re-persist with " +
                "--pairs-out")
            val storedThr = thrNode.asDouble()
            require(threshold >= storedThr,
              f"dedup --pairs-in: pairs persisted at threshold " +
                f"$storedThr%.2f cannot serve --threshold $threshold%.2f " +
                "(pairs below the stored cutoff were never verified); " +
                "re-run with --pairs-out at the lower threshold")
            val curFp = graft.lake.Artifacts
              .sourceFingerprint(lake.tableDir(table))
            require(field("source_fp") == curFp,
              s"dedup --pairs-in: table '$table' changed since " +
                "--pairs-out (source fingerprint mismatch); stale pairs " +
                "would produce wrong clusters — re-persist")
            spark.read.parquet(dir)
              .where(col("jaccard") >= threshold)
              .select("id_a", "id_b")
          case None =>
            val cands = Dedup.minhashLshCandidates(df, idCol, textCol,
              numHashes = 128, bands = 32, shingle = 3)
            val v = Dedup.exactJaccardFor(cands, df, idCol, textCol,
                n = 3, minJaccard = threshold)
              .where(col("jaccard") >= threshold)
            opts.flag("pairs-out").foreach { dir =>
              v.write.mode("overwrite").parquet(dir)
              // manifest AFTER the pairs land (underscore-prefixed →
              // invisible to the parquet reader); records everything
              // a later --pairs-in must match
              val fp = graft.lake.Artifacts
                .sourceFingerprint(lake.tableDir(table))
              java.nio.file.Files.write(
                new java.io.File(dir, "_pairs_manifest.json").toPath,
                (s"""{"table":"$table","threshold":$threshold,""" +
                  s""""hashes":128,"bands":32,"shingle":3,"ngram":3,""" +
                  s""""source_fp":"$fp"}""").getBytes("UTF-8"))
              out.println(s"Verified pairs written to $dir")
            }
            // when persisted, read BACK from the store so the
            // components pass reuses the materialization instead of
            // recomputing the chain a second time
            opts.flag("pairs-out") match {
              case Some(dir) => spark.read.parquet(dir).select("id_a", "id_b")
              case None      => v.select("id_a", "id_b")
            }
        }
        val labeled = Components.connectedComponents(verified)
        if (opts.flag("keep").contains("best")) {
          // quality-canonical policy: keep the cleanest member of each
          // cluster (Components.canonicalBy), not the smallest id
          val quality = df.select(col(idCol).as("id"),
            org.apache.spark.sql.functions.round(
              graft.functions.TextFunctions.qualityScore(col(textCol)), 4)
              .as("quality"))
          val kept = Components.canonicalBy(labeled, quality)
          val clusters = kept.count()
          out.println(s"Table $table: $total rows, $clusters near-dup " +
            s"clusters at jaccard >= $threshold (keep=best quality)")
          out.println(graft.query.Render.table(
            kept.orderBy(col("n_members").desc, col("component"))
              .limit(20)))
        } else {
          val stats = Components.componentStats(labeled)
          val report = stats.agg(count(lit(1)),
            coalesce(sum("n_dropped"), lit(0L))).head()
          val (clusters, dropped) = (report.getLong(0), report.getLong(1))
          out.println(s"Table $table: $total rows, $clusters near-dup " +
            s"clusters at jaccard >= $threshold, $dropped droppable rows")
          out.println(graft.query.Render.table(
            stats.orderBy(col("n_members").desc, col("component"))
              .limit(20)))
        }
      case "substring" =>
        // Lee et al. ExactSubstr (Dedup.substringDedup): report how
        // many tokens duplicated k-gram spans would cut
        val k = opts.flag("k").map(_.toInt).getOrElse(50)
        val cut = Dedup.substringDedup(df, idCol, textCol, k)
          .where(col("n_removed") > 0)
        val touched = cut.count()
        val (tokens, removed) =
          if (touched == 0) (0L, 0L)
          else {
            val r = cut.agg(sum("n_tokens"), sum("n_removed")).head()
            (r.getLong(0), r.getLong(1))
          }
        out.println(s"Table $table: $total rows, $touched docs carry " +
          s"duplicated >=$k-token spans, $removed of their " +
          s"$tokens tokens removable (substring)")
        out.println(graft.query.Render.table(
          cut.select(col(idCol), col("n_tokens"), col("n_removed"))
            .orderBy(col("n_removed").desc, col(idCol)).limit(20)))
      case "incremental" =>
        // persisted-digest-index path (Dedup.buildDigestIndex): accept
        // rows new relative to the index, then fold them in — the
        // cross-collection dedup loop a recurring collect runs
        val idxDir = opts.flag("index").getOrElse(
          throw new IllegalArgumentException(
            "dedup --mode incremental requires --index DIR"))
        val exists = new java.io.File(idxDir).exists()
        if (!exists) {
          Dedup.buildDigestIndex(df, textCol, idxDir)
          out.println(s"Table $table: $total rows, index created at " +
            s"$idxDir (all rows new)")
        } else {
          val fresh = Dedup.filterAgainstIndex(df, textCol, idxDir)
          val newRows = fresh.count()
          Dedup.appendToDigestIndex(fresh, textCol, idxDir)
          out.println(s"Table $table: $total rows, $newRows new vs index " +
            s"$idxDir (${total - newRows} already seen; index updated)")
        }
      case other =>
        throw new IllegalArgumentException(
          s"dedup: unknown --mode '$other' " +
            "(exact|normalized|near|substring|incremental)")
    }
  }

  /** `profile <table> --text-column COL [--top K]` — one-shot corpus
    * profile assembling the text-analysis operators (token counts,
    * quality score, language mix, character entropy, top terms) into
    * the report a pipeline owner checks between crawls
    * (beyond-reference command over qt01/qt02/qt03/qt24/qt27's
    * operators).
    */
  private def profileCmd(
      spark: SparkSession, lake: Lake, opts: Opts, out: PrintStream): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => TF}
    val table = opts.positional.headOption.getOrElse(
      throw new IllegalArgumentException(
        "profile requires a <table> argument"))
    val textCol = opts.flag("text-column").getOrElse(
      throw new IllegalArgumentException(
        "profile requires --text-column COL"))
    val top = opts.flag("top").map(_.toInt).getOrElse(10)
    val df = lake.read(spark, table)
    require(df.columns.contains(textCol),
      s"profile: column '$textCol' not found in $table " +
        s"(columns: ${df.columns.mkString(", ")})")
    val t = col(textCol)
    // coalesce the token sum and null-safe-print the averages: a
    // non-empty table whose text values are all NULL aggregates to
    // NULL sums/avgs (not zero), and getLong on those would NPE
    val summary = df.agg(
      count(lit(1)).as("docs"),
      coalesce(sum(TF.tokenCount(t).cast("long")), lit(0L)).as("tokens"),
      round(avg(TF.tokenCount(t)), 1).as("avg_tokens"),
      round(avg(TF.qualityScore(t)), 4).as("avg_quality"),
      round(avg(TF.charEntropy(t)), 4).as("avg_entropy")).head()
    if (summary.getLong(0) == 0) {
      out.println(s"Table $table: 0 docs")
      return
    }
    def fmt(i: Int): String = Option(summary.get(i)).fold("n/a")(_.toString)
    out.println(s"Table $table: ${summary.getLong(0)} docs, " +
      s"${summary.getLong(1)} tokens " +
      s"(avg ${fmt(2)}/doc), quality ${fmt(3)}, " +
      s"entropy ${fmt(4)} bits/char")
    val langs = df
      .select(TF.langId(t).as("lang"))
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("lang"))
    out.println(graft.query.Render.table(langs))
    out.println(graft.query.Render.table(
      graft.operators.HeavyHitters.topK(df, textCol, k = top)))
    // --ppl: corpus-LM perplexity distribution (Perplexity operator)
    if (opts.flag("ppl").contains("true")) {
      val withId = df.withColumn("__pid", monotonically_increasing_id())
      val p = graft.operators.Perplexity(withId, "__pid", textCol)
      out.println(graft.query.Render.table(p.agg(
        round(min("ppl"), 2).as("ppl_min"),
        round(expr("percentile_approx(ppl, 0.5)"), 2).as("ppl_median"),
        round(max("ppl"), 2).as("ppl_max"))))
    }
    // --bpe N: first N tokenizer merges learned from this corpus
    opts.flag("bpe").map(_.toInt).foreach { rounds =>
      out.println(graft.query.Render.table(
        graft.operators.BpeMerges(df.select(textCol), textCol, rounds)))
    }
    // --buckets: CCNet head/middle/tail — per-language perplexity
    // terciles with doc counts and ppl ranges (what a curation run
    // samples at different rates)
    // NOT a BoolFlags entry (curate's --buckets takes a value), so a
    // bare `--buckets` parses to "true" only when nothing follows —
    // accept anything but an explicit off
    if (opts.flag("buckets").exists(v => v != "false" && v != "off")) {
      // NOT "__pid" like the other branches: DistributedRank (under
      // Perplexity.buckets) reserves that name and fails loudly on it
      val withId = df.withColumn("__did", monotonically_increasing_id())
        .withColumn("__lang", TF.langId(t))
      val b = graft.operators.Perplexity
        .buckets(withId, "__did", textCol, "__lang")
      val summary = b
        .groupBy(col("__lang").as("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(min("ppl"), 2).as("ppl_min"),
          round(max("ppl"), 2).as("ppl_max"))
        .orderBy(col("lang"),
          when(col("bucket") === "head", 1)
            .when(col("bucket") === "middle", 2).otherwise(3))
      out.println(graft.query.Render.table(summary))
    }
    // --vocab: lexical-diversity corpus health per detected language
    // (TfIdf.vocabStats — TTR / hapax share; falling values across
    // pipeline stages mean the filters are collapsing diversity)
    if (opts.flag("vocab").contains("true")) {
      val withId = df.withColumn("__vid", monotonically_increasing_id())
        .withColumn("__lang", TF.langId(t))
      val v = graft.operators.TfIdf
        .vocabStats(withId, "__vid", textCol, "__lang")
        .withColumnRenamed("group", "lang")
        .orderBy("lang")
      out.println(graft.query.Render.table(v))
    }
    // --batching N: padding-waste report for width-N token buckets
    // (Batching.lengthBuckets) — what pad-to-bucket-max batching
    // burns at each sequence-length tier
    opts.flag("batching").map(_.toInt).foreach { width =>
      val b = graft.operators.Batching
        .lengthBuckets(df, TF.tokenCount(t), TF.langId(t), width)
        .withColumnRenamed("group", "lang")
        .orderBy("lang", "bucket_lo")
      out.println(graft.query.Render.table(b))
    }
    // --readability: Flesch ease / FK grade distribution from the
    // dictionary-free sentence+syllable heuristics (TextFunctions) —
    // the readability band a quality gate keys on
    if (opts.flag("readability").contains("true")) {
      val m = df.select(
        TF.tokenCount(t).as("w"), TF.sentenceCount(t).as("s"),
        TF.syllableCount(t).as("y"))
        .where(col("w") > 0)
        .select(TF.fleschEase(col("w"), col("s"), col("y")).as("flesch"),
          TF.fkGrade(col("w"), col("s"), col("y")).as("fk"))
      out.println(graft.query.Render.table(m.agg(
        round(min("flesch"), 1).as("flesch_min"),
        round(expr("percentile_approx(flesch, 0.5)"), 1)
          .as("flesch_median"),
        round(max("flesch"), 1).as("flesch_max"),
        round(expr("percentile_approx(fk, 0.5)"), 1).as("fk_median"))))
    }
    // --rules: per-gate pass rates of the C4/Gopher rule pack —
    // what fraction of the corpus each published filter would keep
    if (opts.flag("rules").contains("true")) {
      val withId = df.withColumn("__pid", monotonically_increasing_id())
      val r = graft.functions.QualityRules(withId, "__pid", textCol)
      val rates = r.agg(
        round(avg(col("keep_gopher").cast("double")), 4).as("keep_gopher"),
        round(avg(col("keep_c4").cast("double")), 4).as("keep_c4"),
        round(avg((col("n_words").between(50, 100000)).cast("double")), 4)
          .as("words_50_100k"),
        round(avg((col("stopword_hits") >= 2).cast("double")), 4)
          .as("stopwords_2plus"),
        round(avg((col("n_sentences") >= 3).cast("double")), 4)
          .as("sentences_3plus"))
      out.println(graft.query.Render.table(rates))
    }
    // --novelty: corpus-redundancy dashboard (Dedup.noveltyScore) —
    // the share of each doc's distinct 3-grams that appear nowhere
    // else; a LOW corpus mean means boilerplate the near-dup sketches
    // should be tuned to catch
    if (opts.flag("novelty").contains("true")) {
      val withId = df.withColumn("__nid", monotonically_increasing_id())
      val n = graft.operators.Dedup.noveltyScore(withId, "__nid", textCol)
      out.println(graft.query.Render.table(n.agg(
        round(avg("novelty"), 4).as("novelty_mean"),
        round(expr("percentile_approx(novelty, 0.5)"), 4)
          .as("novelty_median"),
        round(avg((col("novelty") < 0.1).cast("double")), 4)
          .as("share_below_0_1"))))
    }
  }

  /** `retention [table] --older-than TIME` — age out data older than
    * the cutoff across every partition of the named table (or all
    * tables), via the same partition-scoped delete `partition delete`
    * uses. Relative cutoffs (`T-90d`) use the shared time grammar, so
    * a scheduled `graft retention --older-than T-90d` is the whole
    * retention policy (the reference keeps retention at the user's
    * discretion via partition delete; this is the one-command sweep).
    */
  private def retentionCmd(
      spark: SparkSession, lake: Lake, opts: Opts, out: PrintStream): Unit = {
    import org.apache.spark.sql.functions.col
    val cutoff = opts.ts("older-than").getOrElse(
      throw new IllegalArgumentException(
        "retention requires --older-than TIME (absolute or relative, " +
          "e.g. T-90d)"))
    val tables = opts.positional.headOption
      .map(Seq(_)).getOrElse(lake.listTables(spark))
    tables.foreach { t =>
      // partition names are metadata-sized (distinct tp_partition)
      val parts = lake.read(spark, t)
        .select(col(graft.lake.TpSchema.Partition).cast("string"))
        .distinct().collect().map(_.getString(0)).sorted
      val removed = parts.map { p =>
        Maintenance.deletePartitionRange(spark, lake, t, p,
          from = None, to = Some(cutoff), toInclusive = false)
      }.sum
      out.println(s"Retention $t: removed $removed rows before $cutoff")
    }
  }

  /** `vacuum [table] [--backup] | [--restore]` — manifest compaction
    * with optional timestamped snapshot, and the snapshot's replay path
    * (reference internal/database/backup.go).
    */
  private def vacuumCmd(
      spark: SparkSession, lake: Lake, opts: Opts, out: PrintStream): Unit = {
    val tables = opts.positional.headOption
      .map(Seq(_)).getOrElse(lake.listTables(spark))
    tables.foreach { t =>
      if (opts.flag("relocate").contains("true")) {
        // repair for a moved/renamed lake root: respline manifest
        // paths at the current table dir (else reconciliation matches
        // nothing and a later vacuum wipes the stats)
        val n = Maintenance.relocate(spark, lake, t)
        out.println(
          if (n == 0) s"Manifest for $t already at this root"
          else s"Relocated $n manifest rows for $t")
      } else if (opts.flag("restore").contains("true")) {
        val b = Maintenance.restoreManifest(spark, lake, t)
        out.println(s"Restored manifest for $t from $b")
      } else {
        if (opts.flag("backup").contains("true"))
          Maintenance.backupManifest(spark, lake, t) match {
            case Some(b) => out.println(s"Backed up manifest for $t to $b")
            case None    => out.println(s"No manifest to back up for $t")
          }
        Maintenance.vacuum(spark, lake, t)
        out.println(s"Vacuumed $t")
      }
    }
  }

  // ---- collect ---------------------------------------------------------

  private def collect(
      spark: SparkSession, lake: Lake, config: Hcl.Config,
      opts: Opts, out: PrintStream): Unit = {
    val pattern = opts.positional.headOption.getOrElse(
      throw new IllegalArgumentException(
        "collect requires a <table.partition> argument"))
    // synthetic_<N>cols_<M>rows_<C>chunk_<I>ms load-harness partitions
    // (cmd/collect.go:265-340): table is always 'synthetic'
    graft.ingest.Synthetic.parseSpec(pattern).foreach { spec =>
      val to = opts.ts("to").getOrElse(
        new Timestamp(System.currentTimeMillis()))
      val from = opts.ts("from").getOrElse(
        new Timestamp(to.getTime - 7L * 24 * 3600 * 1000))
      val batch = graft.ingest.Synthetic.dataFrame(
        spark, spec, pattern, "synthetic", from, to)
      val res = Ingest.collectBatch(spark, lake,
        PartitionSpec("synthetic", pattern), batch)
      out.println(s"Collected synthetic.$pattern: ${res.rowsIngested} rows")
      return
    }
    val matched = resolvePartitions(config, pattern)
    require(matched.nonEmpty, s"no partitions match '$pattern'")
    val overwrite = opts.flag("overwrite").contains("true")
    matched.foreach { p =>
      val src = p.source.getOrElse(throw new IllegalArgumentException(
        s"partition ${p.id} has no source block"))
      val fmt = src.format
        .map(f => config.formats.getOrElse(f.stripPrefix("format."),
          throw new IllegalArgumentException(s"unknown format '$f'")))
      val adapter = graft.ingest.SourceRegistry.get(src.kind).getOrElse(
        throw new IllegalArgumentException(
          s"no source adapter for kind '${src.kind}'"))
      val tableSpec = config.tables.getOrElse(p.table, TableSpec(p.table))
      // stats_columns knob (r16 task 5): arm per-column stats BEFORE
      // the first append so the sidecar exists from file one — no
      // post-hoc analyze + backfill scan. Explicit list wins; absent →
      // the columns the partition's own filter references plus
      // tp_index (what this table's queries will prune on);
      // `stats_columns = []` opts out. Only armed once (the marker is
      // the latch) — `table analyze --columns` remains the
      // reconfiguration path.
      val statsCols = tableSpec.statsColumns.getOrElse(
        (p.filter.toSeq.flatMap(f =>
          spark.sessionState.sqlParser.parseExpression(f).collect {
            case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => a.name
          }) :+ graft.lake.TpSchema.Index).distinct)
      if (statsCols.nonEmpty &&
        !opts.flag("dry-run").contains("true") &&
        lake.colStatsColumns(spark, p.table).isEmpty) {
        lake.enableColumnStats(spark, p.table, statsCols)
        out.println(s"Column stats enabled for ${p.table}: " +
          statsCols.mkString(", "))
      }
      // collection window: explicit --from, else resume from the
      // partition's collection-state high-water mark (reference
      // collection_state.json, plugin_manager.go:90-111) — unless
      // --overwrite, which re-collects the requested range
      val to = opts.ts("to")
      val from = opts.ts("from").orElse(
        if (overwrite) None
        else graft.ingest.CollectionState
          .read(spark, lake, p.table, p.name).map(_.resumeFrom))
      // --dry-run: report what WOULD be collected (resolved window,
      // matched source files with sizes) and touch nothing — no
      // pre-delete, no backup, no ingest, no collection-state advance
      if (opts.flag("dry-run").contains("true")) {
        out.println(s"[dry-run] would collect ${p.id} " +
          s"(source ${src.kind})" +
          from.map(f => s" from $f").getOrElse(" from beginning") +
          to.map(t => s" to $t").getOrElse(""))
        if (src.kind == "file") {
          val files = graft.ingest.Formats
            .resolveFiles(src.paths, src.fileLayout)
          files.foreach { f =>
            out.println(s"[dry-run]   $f " +
              s"(${new java.io.File(f).length()} bytes)")
          }
          out.println(s"[dry-run] ${files.length} file(s)")
        }
      } else if (opts.flag("stream").contains("true")) {
        // STREAMING collect (beyond-reference): the file source's
        // first path is watched as a Structured Streaming JSONL inbox
        // draining through the SAME batch pipeline
        // (StreamIngest.collectStream — checkpointed exactly-once
        // appends, per-batch rollup refresh). Sizing is AUTO by
        // default: an inbox sample derives files-per-trigger (the
        // measured operating mode, like `index --nlist auto`) and the
        // derived sizes print in the collect report;
        // --auto-size=false or an explicit --max-files-per-trigger
        // opts out.
        require(src.kind == "file",
          s"collect --stream needs a file source (got '${src.kind}')")
        val inbox = src.paths.headOption.getOrElse(
          throw new IllegalArgumentException(
            s"partition ${p.id} source has no paths"))
        val pth = new org.apache.hadoop.fs.Path(inbox)
        val hfs = pth.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val dataFiles = hfs.listStatus(pth).toSeq.filter(st =>
          st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
        require(dataFiles.nonEmpty,
          s"collect --stream: no files under $inbox")
        // schema from a bounded REPRESENTATIVE sample, not a
        // full-inbox inference scan: first + last by mtime plus
        // spaced middles (the inboxSample pick), so a column that
        // appears only in later files still reaches the inferred
        // schema — two-files-by-mtime silently dropped such columns
        // for every row of the stream (r14 advice)
        val sorted = dataFiles.sortBy(_.getModificationTime)
        val sk = math.min(4, sorted.size)
        val picks = if (sorted.size <= sk) sorted
          else (0 until sk).map(i =>
            sorted(((sorted.size - 1).toLong * i / (sk - 1)).toInt))
            .distinct
        val schema = spark.read.json(
          picks.map(_.getPath.toString): _*).schema
        // and fail LOUDLY if a declared source column still isn't in
        // the sample — better a hard error than a lake of nulls
        val declared = tableSpec.columns
          .filter(c => c.transform.isEmpty)
          .map(c => c.source.getOrElse(c.name))
        val missing = declared.filterNot(schema.fieldNames.contains)
        require(missing.isEmpty,
          s"collect --stream: declared source column(s) " +
            s"${missing.mkString(", ")} absent from the sampled inbox " +
            s"schema (${sk} of ${sorted.size} files); widen the sample " +
            "or fix the table spec")
        val ckpt = opts.flag("checkpoint").getOrElse(
          s"${lake.tableDir(p.table)}/_stream_ckpt/${p.name}")
        val mfpt = opts.flag("max-files-per-trigger").map(_.toInt)
          .getOrElse(
            if (opts.flag("auto-size").contains("false")) 2000 else 0)
        def liveRows = if (!lake.hasData(spark, p.table)) 0L
          else lake.read(spark, p.table).count()
        val rowsBefore = liveRows
        val q = graft.streaming.StreamIngest.collectStream(
          spark, lake, p, inbox, schema, ckpt, tableSpec,
          maxFilesPerTrigger = mfpt,
          rollups = config.rollups.values
            .filter(_.table == p.table).toSeq,
          onSizing = sz => out.println(
            s"Stream sizing (auto): ${sz.files} files, " +
              s"~${sz.rows} rows, ~${sz.keys} keys -> " +
              s"${sz.maxFilesPerTrigger} files/trigger, " +
              s"${sz.backend} state"))
        q.awaitTermination()
        out.println(
          s"Collected ${p.id} (stream): ${liveRows - rowsBefore} rows")
      } else {
      if (overwrite && lake.hasData(spark, p.table)) {
        // pre-delete the window so re-collection can't duplicate
        // (collector.go:171-186, cleanup.go:14-51)
        val n = Maintenance.deletePartitionRange(spark, lake, p.table,
          p.name, from, to, toInclusive = false)
        if (n > 0) out.println(s"Overwrite: deleted $n rows from ${p.id}")
      }
      // per-source credentials: apply the named connection block to the
      // session Hadoop conf before any read resolves a path through it
      // (reference: connection HCL ships to the plugin process,
      // connection.go:27-67; here the Hadoop FS layer is the "plugin")
      src.connection.foreach { ref =>
        val conn = graft.config.Connections.resolve(config, ref)
        graft.config.Connections(conn,
          spark.sparkContext.hadoopConfiguration)
        out.println(s"Using connection ${conn.id}")
      }
      // metadata snapshot before mutation, quiet like the reference's
      // debug-level logging (backup.go:26: the metadata DB is backed up
      // before every collect; a torn manifest write is then replayable
      // via `vacuum --restore`)
      Maintenance.backupManifest(spark, lake, p.table)
      // live progress: Started before acquisition, per-chunk lines from
      // staging adapters during it, Collected as the Complete event —
      // the reference's Started/Chunk/Complete stream (collector.go:408-461)
      // --progress=false (cmd/collect.go:56, default true) silences the
      // Started/per-chunk stream; the final Collected line is the
      // command's result and always prints
      val progress: String => Unit =
        if (opts.flag("progress").contains("false")) _ => ()
        else out.println(_: String)
      progress(s"Collection started: ${p.id} (source ${src.kind})")
      def ingest(raw: org.apache.spark.sql.DataFrame,
          advanceTo: Option[Timestamp]): Ingest.IngestResult = {
        // declared-schema conversion maps any `source =` rename to
        // tp_timestamp BEFORE enrichment, so the enrich column is always
        // the canonical one
        val res = Ingest.collectBatch(spark, lake, p, raw, tableSpec,
          timestampColumn = "tp_timestamp", from = from, to = to)
        graft.ingest.CollectionState.advance(spark, lake, p.table, p.name,
          advanceTo, res)
        res
      }
      val res = try {
        ingest(adapter.read(spark, src, fmt, from, to, progress), to)
      } catch {
        // crash isolation (plugin_manager.go:74-166): a child process
        // dying mid-stream must not lose its COMPLETED chunks — ingest
        // them, then surface the clean error on the normal rc=1 path.
        // Resume advances only to the max INGESTED timestamp (never the
        // requested `to`): rows between the crash point and `to` never
        // arrived, and a full advance would silently skip them forever.
        case ps: graft.ingest.ProcessSource.PartialStream =>
          if (ps.chunks.nonEmpty) {
            val partial = ingest(spark.read.json(ps.chunks: _*), None)
            out.println(s"Collected ${p.id}: ${partial.rowsIngested} rows " +
              s"(partial, from ${ps.chunks.size} complete chunks)")
          }
          throw new IllegalStateException(ps.cause)
      }
      out.println(s"Collected ${p.id}: ${res.rowsIngested} rows" +
        (if (res.rowsInvalid > 0) s" (${res.rowsInvalid} invalid)" else ""))
      // post-collection compaction, on by default like the reference
      // (cmd/collect.go:191-198, --compact flag)
      if (!opts.flag("compact").contains("false") &&
          lake.tableExists(spark, p.table)) {
        val (before, after) = Maintenance.compact(spark, lake, p.table)
        if (after != before)
          out.println(s"Compacted ${p.table}: $before files -> $after files")
      }
      // incremental rollup maintenance: recompute exactly the month
      // partitions this collect touched (RollupSpec scaladoc)
      config.rollups.values.filter(_.table == p.table).foreach { r =>
        val m = graft.lake.Rollup.refreshTouched(
          spark, lake, r, res.touchedDirs)
        if (m == -1L) out.println(s"Rollup ${r.id}: built")
        else if (m > 0) out.println(s"Rollup ${r.id}: refreshed $m month(s)")
      }
      } // end non-dry-run branch
    }
  }

  /** `rollup list | refresh <table.name>` — materialized-rollup
    * surface over the config's `rollup` blocks ([[graft.lake.Rollup]];
    * beyond-reference). Collect maintains rollups incrementally;
    * `refresh` is the explicit full rebuild (bootstrap, group-key
    * change, or after retention/compaction rewrote history).
    */
  private def rollupCmd(
      spark: SparkSession, lake: Lake, config: Hcl.Config,
      opts: Opts, out: PrintStream): Unit =
    opts.positional.headOption match {
      case Some("list") | None =>
        val rows = Seq("Rollup", "View", "Group By", "Aggregates",
          "Materialized") +:
          config.rollups.values.toSeq.sortBy(_.id).map(r => Seq(
            r.id, r.viewName, r.groupBy.mkString(", "),
            r.aggs.map(a => s"${a.name}=${a.function}").mkString(", "),
            graft.lake.Rollup.exists(spark, lake, r).toString))
        out.println(Render.renderTable(rows, headerRow = true))
      case Some("refresh") =>
        val id = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException(
            "rollup refresh requires a <table.name> argument"))
        val r = config.rollups.getOrElse(id,
          throw new IllegalArgumentException(s"unknown rollup '$id' " +
            s"(configured: ${config.rollups.keys.toSeq.sorted.mkString(", ")})"))
        val n = graft.lake.Rollup.refresh(spark, lake, r)
        out.println(s"Rollup $id: rebuilt, $n rows")
      case Some(other) => throw new IllegalArgumentException(
        s"rollup: expected list|refresh, got $other")
    }

  /** Wildcard partition resolution (`*` in either segment; bare table
    * name matches all its partitions) — cmd/collect.go:207-243.
    */
  private[cli] def resolvePartitions(
      config: Hcl.Config, pattern: String): Seq[PartitionSpec] = {
    val (tp, pp) = pattern.split("\\.", 2) match {
      case Array(t, p) => (t, p)
      case Array(t)    => (t, "*")
    }
    def re(glob: String) =
      ("^" + Regex.quote(glob).replace("*", "\\E.*\\Q") + "$").r
    val (tr, pr) = (re(tp), re(pp))
    config.partitions.values.toSeq
      .filter(p => tr.matches(p.table) && pr.matches(p.name))
      .sortBy(_.id)
  }

  // ---- query -----------------------------------------------------------

  private def query(
      spark: SparkSession, lake: Lake, config: Hcl.Config,
      opts: Opts, out: PrintStream): Unit = {
    val filters = Views.Filters(
      from = opts.ts("from"), to = opts.ts("to"),
      partitions = opts.flagAll("partition"),
      indexes = opts.flagAll("index"))
    // the interactive branch skips registration — Repl.loop registers
    // the same views itself (doing both would double the manifest
    // reads and file listings at shell startup)
    if (opts.positional.nonEmpty)
      Views.register(spark, lake, filters, config.rollups.values.toSeq)
    val state = Metaquery.QueryState(
      output = opts.flag("output").getOrElse("table"),
      header = !opts.flag("header").contains("false") &&
        !opts.flag("header").contains("off"),
      separator = opts.flag("separator").getOrElse(","))
    if (opts.positional.isEmpty) {
      // no SQL argument → interactive shell (cmd/query.go:25-33: "To
      // open the interactive query shell, run query with no arguments")
      val repl = new Repl(spark, lake, config,
        new java.io.BufferedReader(new java.io.InputStreamReader(System.in)),
        out, filters = filters,
        configDir = Some(java.nio.file.Paths.get(
          opts.flag("config-dir").getOrElse("config"))))
      repl.state.output = state.output
      repl.state.header = state.header
      repl.state.separator = state.separator
      repl.loop()
      return
    }
    opts.positional.foreach { arg =>
      if (Metaquery.isMetaquery(arg))
        out.println(Metaquery.handle(spark, lake, state, arg, config))
      else splitStatements(arg)
        .foreach(q => runOne(spark, lake, config, state, q, out))
    }
  }

  /** Split a batch argument into `;`-separated statements, ignoring
    * semicolons inside single- or double-quoted runs (the reference's
    * batch sessions execute multi-statement strings,
    * internal/query/execute.go:22-43).
    */
  private[cli] def splitStatements(sql: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inSingle = false
    var inDouble = false
    sql.foreach {
      case '\'' if !inDouble => inSingle = !inSingle; cur += '\''
      case '"' if !inSingle => inDouble = !inDouble; cur += '"'
      case ';' if !inSingle && !inDouble =>
        out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def runOne(
      spark: SparkSession, lake: Lake, config: Hcl.Config,
      state: Metaquery.QueryState, sql: String, out: PrintStream): Unit = {
    val df =
      try spark.sql(sql.stripSuffix(";"))
      catch {
        // reference error shaping (execute.go:125-147): an unknown
        // table that HAS a partition config means "not collected yet"
        case e: AnalysisException
            if e.getCondition != null &&
              e.getCondition.contains("TABLE_OR_VIEW_NOT_FOUND") =>
          val missing = "`([A-Za-z0-9_]+)`".r
            .findFirstMatchIn(e.getMessage).map(_.group(1))
          missing.filter(t => config.partitions.values.exists(_.table == t))
            .foreach { t =>
              throw new IllegalArgumentException(
                s"no data has been collected for table '$t'", e)
            }
          throw e
      }
    // csv/json/line write through to the stream — no driver-side buffer
    state.output match {
      case "csv"   => Render.csvTo(out, df, state.header, state.separator)
        out.println()
      case "json"  => Render.jsonTo(out, df); out.println()
      case "line"  => Render.lineTo(out, df); out.println()
      case _       => out.println(Render.table(df))
    }
  }

  // ---- connect ---------------------------------------------------------

  /** Emit an init SQL script that attaches the lake as filtered temp
    * views — any Spark SQL client can run it (reference writes
    * `tailpipe_init_<ts>.sql` for duckdb clients,
    * cmd/connect.go:127-173).
    */
  private def connect(
      spark: SparkSession, lake: Lake, config: Hcl.Config,
      opts: Opts, out: PrintStream): Unit = {
    // resolved workspace limits ride along as comments: the init
    // script's consumer (spark-submit wrapper, session factory) sizes
    // JVMs at launch, where an in-process cap can't
    val ws = Workspace.load(opts.flag("config-dir").getOrElse("config"),
      opts.flag("workspace"))
    ws.memoryMaxMb.foreach(m => out.println(s"-- memory_max_mb: $m"))
    ws.tempDirMaxMb.foreach(m => out.println(s"-- temp_dir_max_mb: $m"))
    val filters = Views.Filters(
      from = opts.ts("from"), to = opts.ts("to"),
      partitions = opts.flagAll("partition"),
      indexes = opts.flagAll("index"))
    // SQL-text predicates, the reference's exact set (connect.go:264-399);
    // single quotes in user patterns are ''-doubled so the emitted
    // script can't be broken (or injected) by a quoted value
    def pat(c: String, p: String) = {
      val q = p.replace("'", "''")
      if (p.contains("*")) s"$c LIKE '${q.replace("*", "%")}'" else s"$c = '$q'"
    }
    val preds = Seq(
      filters.from.map(t => s"tp_timestamp >= TIMESTAMP '$t'"),
      filters.to.map(t => s"tp_timestamp <= TIMESTAMP '$t'"),
      Option(filters.partitions).filter(_.nonEmpty).map(ps =>
        "(" + ps.map(pat("tp_partition", _)).mkString(" OR ") + ")"),
      Option(filters.indexes).filter(_.nonEmpty).map(ps =>
        "(" + ps.map(pat("cast(tp_index AS string)", _)).mkString(" OR ") + ")"))
      .flatten
    val where = if (preds.isEmpty) "" else preds.mkString(" WHERE ", " AND ", "")
    lake.listTables(spark).foreach { t =>
      out.println(
        s"CREATE OR REPLACE TEMPORARY VIEW $t AS SELECT * FROM " +
          s"parquet.`${lake.tableDir(t)}`$where;")
    }
    // materialized rollups ride along unfiltered (they are aggregates;
    // the time/partition predicates above are row-level filters)
    config.rollups.values.toSeq.sortBy(_.id)
      .filter(r => graft.lake.Rollup.exists(spark, lake, r))
      .foreach { r =>
        out.println(
          s"CREATE OR REPLACE TEMPORARY VIEW ${r.viewName} AS " +
            s"SELECT * FROM parquet.`${graft.lake.Rollup.dir(lake, r)}`;")
      }
  }

  // ---- maintenance -----------------------------------------------------

  private def compact(
      spark: SparkSession, lake: Lake, config: Hcl.Config, opts: Opts,
      out: PrintStream): Unit = {
    val tables = opts.positional.headOption
      .map(Seq(_)).getOrElse(lake.listTables(spark))
    // --zorder col1,col2 → multi-column clustering rewrite instead of
    // the time-ordered one (Maintenance.compactZorder)
    val zCols = opts.flag("zorder")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    tables.foreach { t =>
      // --reindex (cmd/compact.go:34): migrate tp_index to the
      // currently-configured column before the file-merge pass
      if (opts.flag("reindex").contains("true")) {
        val moved = Maintenance.reindex(spark, lake, t,
          config.partitions.values.toSeq)
        out.println(s"Reindexed $t: $moved rows migrated")
      }
      // --align day|hour|minute: grain-aligned rewrite — no output
      // file straddles a bucket boundary, so GROUP-BY-time-bucket
      // reports serve fully from metadata afterwards
      val align = opts.flag("align").map { a =>
        val day = 86400000000L
        a.toLowerCase(java.util.Locale.ROOT) match {
          case "day"    => (day, 0L)
          case "hour"   => (3600000000L, 0L)
          case "minute" => (60000000L, 0L)
          // Monday-anchored ISO weeks: epoch day 0 is a Thursday, so
          // the grid shifts back three days
          case "week"   => (7 * day, -3 * day)
          case other => throw new IllegalArgumentException(
            s"compact --align wants day|hour|minute|week, got '$other'")
        }
      }
      val (before, after) = (zCols, align) match {
        case (Some(cs), _) => Maintenance.compactZorder(spark, lake, t, cs)
        case (None, Some((gr, anchor))) =>
          Maintenance.compactAligned(spark, lake, t, gr, anchor)
        case (None, None) => Maintenance.compact(spark, lake, t)
      }
      out.println(s"Compacted $t: $before files -> $after files")
    }
  }

  /** Minimal JSON writer for the introspection `show --output json`
    * surface (reference shapes: introspection.bats:58-111). Values are
    * strings, longs, nulls, string arrays, or nested objects.
    */
  private[cli] def jsonObj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s""""$k": ${jsonVal(v)}""" }
      .mkString("{", ", ", "}")

  private def jsonVal(v: Any): String = v match {
    case null          => "null"
    case None          => "null"
    case Some(x)       => jsonVal(x)
    case s: String     => Render.jstr(s)
    case n: Long       => n.toString
    case n: Int        => n.toString
    case b: Boolean    => b.toString
    case xs: Seq[_] if xs.nonEmpty && xs.forall(_.isInstanceOf[(_, _)]) =>
      jsonObj(xs.asInstanceOf[Seq[(String, Any)]])
    case xs: Seq[_]    => xs.map(jsonVal).mkString("[", ", ", "]")
    case other         => jsonVal(other.toString)
  }

  private def partitionCmd(
      spark: SparkSession, lake: Lake, config: Hcl.Config,
      opts: Opts, out: PrintStream): Unit =
    opts.positional.headOption match {
      case Some("list") =>
        val rows = Seq("Partition", "Table") +:
          config.partitions.values.toSeq.sortBy(_.id)
            .map(p => Seq(p.id, p.table))
        out.println(Render.renderTable(rows, headerRow = true))
      case Some("show") =>
        // reference shape (introspection.bats:58-81): name, plugin,
        // local.{file_count,file_size}
        val id = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException(
            "partition show requires <table.partition>"))
        val p = config.partitions.getOrElse(id,
          throw new IllegalArgumentException(s"unknown partition '$id'"))
        val (nFiles, nBytes) =
          if (!lake.tableExists(spark, p.table)) (0L, 0L)
          else lake.partitionFileSize(spark, p.table, p.name)
        val plugin = p.source.map(s => s"graft/${s.kind}@builtin")
        val obj = jsonObj(Seq(
          "name" -> p.id, "plugin" -> plugin,
          "local" -> Seq[(String, Any)](
            "file_count" -> nFiles, "file_size" -> nBytes)))
        if (opts.flag("output").contains("json")) out.println(s"[$obj]")
        else out.println(Render.renderTable(Seq(
          Seq("Property", "Value"),
          Seq("name", p.id),
          Seq("plugin", plugin.getOrElse("-")),
          Seq("file_count", nFiles.toString),
          Seq("file_size", nBytes.toString)), headerRow = true))
      case Some("delete") =>
        val id = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException(
            "partition delete requires <table.partition>"))
        val (table, name) = id.split("\\.", 2) match {
          case Array(t, n) => (t, n)
          case _ => throw new IllegalArgumentException(
            s"partition delete: expected <table.partition>, got '$id'")
        }
        // unknown partitions fail before any prompt or mutation
        // (partition.go:289-291; partition_delete.bats:44-55)
        if (!config.partitions.contains(id))
          throw new IllegalArgumentException(s"partition not found: $id")
        // confirmation gate (cmd/partition.go:293-299): --force skips
        // it; otherwise prompt on a TTY (Enter = yes, the reference's
        // default-true confirmation). Headless runs — tests, cron, CI
        // pipes — have no console and take the default, same as piping
        // an empty line to the reference.
        val cancelled = !opts.flag("force").contains("true") && {
          out.println(s"Are you sure you want to delete partition $id? (Y/n)")
          val c = System.console()
          val answer = if (c != null) Option(c.readLine()).getOrElse("") else ""
          answer.trim.toLowerCase.startsWith("n")
        }
        if (cancelled) out.println("Deletion cancelled")
        else {
          // metadata snapshot before the mutation (cmd/partition.go:
          // 305-310 backs up the metadata DB before deleting; failure
          // there does not block the delete)
          Maintenance.backupManifest(spark, lake, table)
          val n = Maintenance.deletePartitionRange(spark, lake, table, name,
            from = opts.ts("from"), to = opts.ts("to"))
          out.println(s"Deleted $n rows from $id")
        }
      case other => throw new IllegalArgumentException(
        s"partition: expected list|show|delete, got ${other.getOrElse("nothing")}")
    }

  private def tableCmd(
      spark: SparkSession, lake: Lake, config: Hcl.Config,
      opts: Opts, out: PrintStream): Unit =
    opts.positional.headOption match {
      case Some("list") =>
        out.println(Metaquery.inspectTables(spark, lake, config))
      case Some("show") =>
        val t = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException("table show requires a name"))
        out.println(Metaquery.inspectSchema(spark, lake, t))
      case Some("diff") =>
        // metadata diff vs the last manifest snapshot (the one vacuum
        // --backup / collect records): file-level add/remove/change
        // counts, then the changed files themselves
        val t = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException("table diff requires a name"))
        val d = graft.lake.Maintenance.snapshotDiff(spark, lake, t)
          .where(org.apache.spark.sql.functions.col("status")
            =!= "unchanged")
          .orderBy("status", "file")
          .collect() // metadata-sized: one row per changed FILE
        val counts = d.groupBy(_.getAs[String]("status"))
          .view.mapValues(_.length).toMap
        out.println(
          s"added=${counts.getOrElse("added", 0)} " +
            s"removed=${counts.getOrElse("removed", 0)} " +
            s"changed=${counts.getOrElse("changed", 0)}")
        val rows = Seq("File", "Status", "Old Rows", "New Rows") +:
          d.toSeq.map(r => Seq(
            lake.relOf(t, r.getAs[String]("file")),
            r.getAs[String]("status"),
            Option(r.get(2)).map(_.toString).getOrElse("-"),
            Option(r.get(3)).map(_.toString).getOrElse("-")))
        if (d.nonEmpty)
          out.println(Render.renderTable(rows, headerRow = true))
      case Some("snapshot") =>
        // time-travel read: the table as of the last manifest backup
        // (the state before the most recent collect/retention); --limit
        // renders the first N rows, the default prints the roll-up
        val t = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException("table snapshot requires a name"))
        val snap = graft.lake.Maintenance.readSnapshot(spark, lake, t)
        opts.flag("limit").map(_.toInt) match {
          case Some(n) =>
            out.println(graft.query.Render.table(snap.limit(n)))
          case None =>
            out.println(s"snapshot of '$t': ${snap.count()} rows")
        }
      case Some("analyze") =>
        // catalog statistics WITHOUT the ANALYZE TABLE scan: rows from
        // the transactionally-maintained manifest, size from a 4-file
        // FileStatus sample — then registered into the session catalog
        // so join sizing and CBO cardinality plan from table stats
        // instead of file listings (Lake.syncCatalogStats scaladoc).
        // Registers the table first if it isn't yet.
        val t = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException("table analyze requires a name"))
        require(lake.tableExists(spark, t), s"no lake table '$t'")
        if (scala.util.Try(spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(t))).isFailure)
          lake.registerCatalogTable(spark, t)
        lake.syncCatalogStats(spark, t) match {
          case Some((rows, bytes)) =>
            out.println(s"Analyzed $t: $rows rows, ~$bytes bytes " +
              "(from manifest, no scan)")
          case None =>
            out.println(s"Analyzed $t: no live rows in the manifest " +
              "(run vacuum to re-sync, or collect first)")
        }
        // --columns c1,c2: enable incremental per-column stats (ONE
        // seeding scan now; every later mutation maintains per-file
        // HLL/null/range rows and analyze merges them scan-free) and
        // surface the merged NDVs — the CBO join-reorder feed
        opts.flag("columns").foreach { spec =>
          val cols = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val already = lake.colStatsColumns(spark, t)
          if (cols.toSet != already.toSet)
            lake.enableColumnStats(spark, t, cols)
          ()
        }
        lake.syncCatalogColumnStats(spark, t).foreach { m =>
          // histogram presence comes from the catalog the sync just
          // wrote (the merged KLL union, when every live file has one)
          val colStats = scala.util.Try(
            spark.sessionState.catalog.getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(t))
              .stats.map(_.colStats).getOrElse(Map.empty))
            .getOrElse(Map.empty)
          m.toSeq.sortBy(_._1).foreach { case (c, (ndv, nulls)) =>
            val hist = colStats.get(c).flatMap(_.histogram)
              .map(h => s", equi-height histogram " +
                s"${h.bins.length} bins x ~${math.round(h.height)} rows")
              .getOrElse("")
            out.println(s"  column $c: ~$ndv distinct, $nulls null" +
              s"$hist (merged from per-file sketches, no scan)")
          }
        }
      case Some("aggregate") =>
        // one DataFrame aggregate per report section over the table's
        // relation, under the --from/--to window when one is given —
        // the plan `graft query` runs for the same SQL. The metadata
        // aggregate rule answers each from the manifest + colstats
        // sidecar when every file is covered, as a hybrid (contained
        // files from metadata, straddlers scanned in-plan) under a
        // window or a --by bucket, and leaves the plain scan otherwise.
        // Each section's audit is the number of data files it read.
        import org.apache.spark.sql.functions.{col, count, countDistinct,
          expr, lit, max, min}
        val t = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException(
            "table aggregate requires a name"))
        require(lake.tableExists(spark, t), s"no lake table '$t'")
        require(lake.hasData(spark, t),
          s"table aggregate: table '$t' has no data files")
        val cols = opts.flag("columns")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(lake.colStatsColumns(spark, t))
        require(cols.nonEmpty, "table aggregate requires --columns " +
          "(or stats-enabled columns on the table)")
        val schema = lake.schemaOf(spark, t)
        cols.foreach(c => require(schema.fieldNames.contains(c),
          s"table aggregate: table '$t' has no column '$c'"))
        val (from, to) = (opts.ts("from"), opts.ts("to"))
        require(from.zip(to).forall { case (f, u) => !f.after(u) },
          "table aggregate: --from is after --to")
        val topk = opts.flag("topk").map { kRaw =>
          val k = kRaw.toIntOption.getOrElse(0)
          require(k > 0, s"--topk wants a positive integer, got '$kRaw'")
          k
        }
        val quantiles = opts.flag("quantiles").map { spec =>
          val given = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val ps = given.flatMap(_.toDoubleOption).filter(p => p >= 0 && p <= 1)
          require(ps.nonEmpty && ps.size == given.size,
            "--quantiles wants comma-separated probabilities in [0,1], " +
              s"got '$spec'")
          ps
        }
        // --by minute…year: per-bucket rows. dow / hour-of-day are
        // PROFILE buckets (extract keys: many time buckets merge onto
        // one output key)
        val bucket = opts.flag("by").map { grainRaw =>
          val grain = grainRaw.toLowerCase(java.util.Locale.ROOT)
          require(Set("minute", "hour", "day", "week", "month",
            "quarter", "year", "dow", "hour-of-day").contains(grain),
            "table aggregate --by wants " +
              "minute|hour|day|week|month|quarter|year|dow|hour-of-day")
          expr(grain match {
            case "day" => graft.lake.TpSchema.Date
            case "dow" => "dayofweek(tp_timestamp)"
            case "hour-of-day" => "hour(tp_timestamp)"
            case g => s"date_trunc('${g.toUpperCase(
              java.util.Locale.ROOT)}', tp_timestamp)"
          }).as("bucket")
        }
        graft.lake.MetadataAggregateRule.install(spark)
        val base = Views.filtered(spark, lake, t, Views.Filters(from, to))
        // one section's rows and the data files its plan read
        def run(q: DataFrame): (Array[Row], Long) =
          (q.collect(), graft.query.ScanAudit.filesRead(q))
        def agg(aggs: Seq[Column]): (Row, Long) = {
          val (rows, files) = run(base.agg(aggs.head, aggs.tail: _*))
          (rows.head, files)
        }
        def note(files: Long, served: String): String =
          if (files == 0) s" ($served, no scan)" else " (scanned)"
        val ranges = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
          count(col(c)).as(s"n_$c"),
          min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
        def range(r: Row, c: String): String =
          s"count=${r.getAs[Long](s"n_$c")}" +
            s" min=${Option(r.getAs[Any](s"min_$c")).getOrElse("-")}" +
            s" max=${Option(r.getAs[Any](s"max_$c")).getOrElse("-")}"
        val files = bucket match {
          case Some(b) =>
            val (rows, n) = run(base.groupBy(b)
              .agg(ranges.head, ranges.tail: _*).orderBy("bucket"))
            rows.foreach { r =>
              out.println(
                s"${Option(r.getAs[Any]("bucket")).getOrElse("null")}: " +
                  s"rows=${r.getAs[Long]("n_rows")}" +
                  cols.map(c => s" $c[${range(r, c)}]").mkString)
            }
            n
          case None =>
            val (r, n) = agg(ranges)
            out.println(s"rows: ${r.getAs[Long]("n_rows")}")
            cols.foreach(c => out.println(s"  column $c: ${range(r, c)}"))
            n
        }
        out.println(
          if (files == 0) "served from metadata (no data scan)"
          else s"metadata + in-plan scan of $files straddler file(s)")
        // --ndv: approximate distinct counts. The sidecar's per-file
        // HLL sketches union only for int/long/string columns, so each
        // column is its own aggregate and reports its own audit
        if (opts.flag("ndv").contains("true"))
          cols.foreach { c =>
            val (r, n) = agg(Seq(graft.functions.NdvFns.ndv(spark, col(c))))
            out.println(s"  ndv $c: ~${r.getLong(0)}" +
              note(n, "sketch union"))
          }
        // --active-days: count(DISTINCT tp_date), from the manifest when
        // every file in the window is day-contained
        if (opts.flag("active-days").contains("true")) {
          val (r, n) = agg(Seq(countDistinct(col(graft.lake.TpSchema.Date))))
          out.println(s"  active days: ${r.getLong(0)}" + note(n, "manifest"))
        }
        // --topk K: the K most frequent values per STRING column (the
        // per-file frequent-items sketches merge when provably exact)
        topk.foreach { k =>
          val strCols = cols.filter(c =>
            schema(c).dataType == org.apache.spark.sql.types.StringType)
          if (strCols.nonEmpty) {
            val (r, n) = agg(strCols.map(c =>
              graft.functions.TopKFns.topk(spark, col(c), k).as(s"topk_$c")))
            strCols.foreach { c =>
              val line = Option(r.getAs[Seq[Row]](s"topk_$c")).getOrElse(Nil)
                .map(e => s"${e.getString(0)}=${e.getLong(1)}").mkString(" ")
              out.println(s"  topk $c: $line" + note(n, "sketch merge"))
            }
          }
        }
        // --quantiles p1,p2,...: approximate quantiles of the NUMERIC
        // columns (the per-file KLL sketches merge)
        quantiles.foreach { ps =>
          val numCols = cols.filter(c => schema(c).dataType.isInstanceOf[
            org.apache.spark.sql.types.NumericType])
          if (numCols.nonEmpty) {
            val (r, n) = agg(for { c <- numCols; p <- ps } yield
              graft.functions.QuantileFns.quantile(spark, col(c), p)
                .as(s"q_${c}_$p"))
            numCols.foreach { c =>
              val line = ps.map { p =>
                s"p${(p * 100).round}=" + Option(r.getAs[Any](s"q_${c}_$p"))
                  .map(v => f"${v.asInstanceOf[Double]}%.4f").getOrElse("-")
              }.mkString(" ")
              out.println(s"  quantiles $c: $line" + note(n, "KLL merge"))
            }
          }
        }
      case other => throw new IllegalArgumentException(
        s"table: expected list|show|diff|snapshot|analyze|aggregate, " +
          s"got ${other.getOrElse("nothing")}")
    }

  private def sourceCmd(
      config: Hcl.Config, opts: Opts, out: PrintStream): Unit =
    opts.positional.headOption match {
      case Some("show") =>
        // reference shape (introspection.bats:82-89): [{"name": ...}]
        val kind = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException("source show requires a name"))
        val a = graft.ingest.SourceRegistry.get(kind).getOrElse(
          throw new IllegalArgumentException(s"unknown source '$kind'"))
        val obj = jsonObj(Seq(
          "name" -> a.kind, "description" -> a.description))
        if (opts.flag("output").contains("json")) out.println(s"[$obj]")
        else out.println(Render.renderTable(Seq(
          Seq("Property", "Value"),
          Seq("name", a.kind),
          Seq("description", a.description)), headerRow = true))
      case Some("list") | None =>
        // "available sources" (introspection.bats:36-47): the adapter
        // registry, plus which configured partitions use each source
        val uses = config.partitions.values.toSeq.sortBy(_.id)
          .flatMap(p => p.source.map(s => s.kind -> p.id))
          .groupBy(_._1).view.mapValues(_.map(_._2).mkString(", ")).toMap
        val rows = Seq("Source", "Version", "Used By") +:
          graft.ingest.SourceRegistry.list.map(a =>
            Seq(a.kind, a.version, uses.getOrElse(a.kind, "-")))
        out.println(Render.renderTable(rows, headerRow = true))
      case Some(other) => throw new IllegalArgumentException(
        s"source: expected list|show, got $other")
    }

  /** `plugin install/update/uninstall/list/show` — the reference's full
    * plugin lifecycle (cmd/plugin.go:76-238) against the local
    * versioned-artifact registry (graft.plugin.Plugins; zero-egress
    * stand-in for hub.tailpipe.io + internal/ociinstaller). list/show
    * cover both compiled-in SPI adapters and installed artifacts.
    */
  private def pluginCmd(
      config: Hcl.Config, configDir: String, opts: Opts,
      out: PrintStream): Unit = {
    import graft.plugin.Plugins
    def registry: String = opts.flag("registry")
      .orElse(sys.env.get("GRAFT_PLUGIN_REGISTRY"))
      .getOrElse(s"$configDir/registry")
    opts.positional.headOption match {
      case Some("install") =>
        val refs = opts.positional.tail match {
          case Seq() =>
            // no args = install everything config references that
            // neither the SPI registry nor the plugin dir provides
            // (cmd/plugin.go:92-94)
            val present = graft.ingest.SourceRegistry.list.map(_.kind).toSet ++
              Plugins.installedList(configDir).map(_.name)
            config.partitions.values.toSeq
              .flatMap(_.source.map(_.kind)).distinct.sorted
              .filterNot(present).map(Plugins.parseRef)
          case names => names.map(Plugins.parseRef)
        }
        if (refs.isEmpty) out.println("Nothing to install")
        refs.foreach { r =>
          val row = Plugins.install(configDir, registry, r)
          out.println(s"Installed ${row.org}/${row.name}@${row.version}")
        }
      case Some("update") =>
        val slugs =
          if (opts.flag("all").contains("true"))
            Plugins.installedList(configDir).map(i => s"${i.org}/${i.name}")
          else opts.positional.tail.map { n =>
            val r = Plugins.parseRef(n); s"${r.org}/${r.name}"
          }
        if (slugs.isEmpty) out.println("Nothing to update")
        slugs.foreach { slug =>
          Plugins.update(configDir, registry, slug) match {
            case Plugins.UpToDate(v) =>
              out.println(s"Plugin $slug is up to date ($v)")
            case Plugins.Updated(was, now) =>
              out.println(s"Updated $slug $was -> $now")
          }
        }
      case Some("uninstall") =>
        val name = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException("plugin uninstall requires a name"))
        val r = Plugins.parseRef(name)
        val row = Plugins.uninstall(configDir, s"${r.org}/${r.name}")
        out.println(s"Uninstalled ${row.org}/${row.name}@${row.version}")
      case Some("show") =>
        val kind = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException("plugin show requires a name"))
        val ref = Plugins.parseRef(kind)
        val installed = Plugins.installedDescriptor(
          configDir, s"${ref.org}/${ref.name}")
        val fromSpi = graft.ingest.SourceRegistry.get(kind)
        if (installed.isEmpty && fromSpi.isEmpty)
          throw new IllegalArgumentException(s"unknown plugin '$kind'")
        val (name, version, description, tables) = installed match {
          case Some(d) =>
            (d.name, d.version, d.description,
              if (d.tables.nonEmpty) d.tables else Seq(d.name))
          case None =>
            val a = fromSpi.get
            (a.kind, a.version, a.description, Seq(a.kind))
        }
        if (opts.flag("output").contains("json")) {
          // reference shape (introspection.bats:91-111): name,
          // tables/sources arrays, null format metadata when absent
          val obj = jsonObj(Seq(
            "name" -> s"graft/$name@$version",
            "version" -> version,
            "format_presets" -> null,
            "format_types" -> null,
            "tables" -> tables,
            "sources" -> Seq(name)))
          out.println(s"[$obj]")
          return
        }
        out.println(Render.renderTable(Seq(
          Seq("Property", "Value"),
          Seq("name", name), Seq("version", version),
          Seq("description", description),
          Seq("tables", tables.mkString(", "))), headerRow = true))
      case _ =>
        // compiled-in SPI adapters + installed artifacts (installed
        // adapter_class plugins are already in the SPI registry — the
        // version file wins for those so list reflects the artifact)
        val installed = Plugins.installedList(configDir)
        val installedNames = installed.map(_.name).toSet
        val spiRows = graft.ingest.SourceRegistry.list
          .filterNot(a => installedNames(a.kind))
          .map(a => Seq(a.kind, a.version, a.description))
        val instRows = installed.map { i =>
          val d = Plugins.installedDescriptor(configDir, s"${i.org}/${i.name}")
          Seq(s"${i.org}/${i.name}", i.version,
            d.map(_.description).getOrElse(""))
        }
        val rows = Seq("Plugin", "Version", "Description") +:
          (spiRows ++ instRows).sortBy(_.head)
        out.println(Render.renderTable(rows, headerRow = true))
    }
  }

  private def formatCmd(
      config: Hcl.Config, opts: Opts, out: PrintStream): Unit =
    opts.positional.headOption match {
      case Some("show") =>
        val name = opts.positional.lift(1).getOrElse(
          throw new IllegalArgumentException("format show requires a name"))
        val f = config.formats.getOrElse(name,
          throw new IllegalArgumentException(s"unknown format '$name'"))
        out.println(Render.renderTable(Seq(
          Seq("Property", "Value"),
          Seq("kind", f.kind), Seq("name", f.name),
          Seq("delimiter", f.delimiter), Seq("header", f.header.toString),
          Seq("pattern", f.pattern.getOrElse("-"))), headerRow = true))
      case _ =>
        val rows = Seq("Format", "Kind") +:
          config.formats.values.toSeq.sortBy(_.name)
            .map(f => Seq(s"${f.kind}.${f.name}", f.kind))
        out.println(Render.renderTable(rows, headerRow = true))
    }
}
