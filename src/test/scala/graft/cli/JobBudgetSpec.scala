package graft.cli

import java.io.{ByteArrayOutputStream, File, PrintStream, PrintWriter}
import java.nio.file.Files

import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.config.PartitionSpec
import graft.lake.{CatalogStatsReference, Lake, SidecarReference, TpSchema}
import graft.query.Render

/** The Spark-job budget of a cold `graft query`: lake metadata (the
  * manifest, the colstats sidecar, file listings) is read in-process,
  * so a metadata-served aggregate runs no job at all — its ORDER BY
  * and LIMIT included, and under a `--from/--to` window whose files
  * the metadata covers — and a time-windowed lookup runs only its own
  * query, however many files the window keeps. Jobs are counted with a listener around an
  * in-process `Main.run`, and the rows must equal the plain-scan
  * answer.
  *
  * The write path has budgets too: a `collect` of a JSONL chunk set
  * into a table with 4 stats columns, a `compact`, and the
  * `table analyze --columns` seed. After each, the colstats sidecar
  * must equal a reference aggregate of the live files.
  *
  * So do the corpus commands: `dedup --mode near` and
  * `curate --gates both --dedup near` on a docs table with planted
  * exact and near duplicate groups, whose report lines are pinned.
  */
class JobBudgetSpec extends AnyFunSuite with SparkTest {

  private val From = "2024-02-15T00:00:00"
  private val To = "2024-11-15T00:00:00"

  /** 48 files (4 `tp_index` values × 12 months) with colstats on value
    * columns only — none on `tp_timestamp`, as a collected log table.
    */
  private lazy val lake: Lake = {
    val lake = Lake(Files.createTempDirectory("graft_jobs").toString)
    val spec = PartitionSpec("web", "p0", tpIndexColumn = Some("idx"))
    val raw = spark.range(0, 4800).select(
      col("id").as("req_id"),
      expr("timestamp '2024-01-01 00:00:00' + " +
        "make_interval(0,0,0,0,0,0, id * 6570)").as("tp_timestamp"),
      (col("id") % 4).cast("string").as("idx"),
      concat(lit("u"), (col("id") % 7).cast("string")).as("user"),
      (col("id") * 3).as("bytes"))
    lake.append(spark, "web", TpSchema.enrich(raw, spec))
    lake.enableColumnStats(spark, "web", Seq("req_id", "user", "bytes"))
    lake
  }

  private def plain = spark.read.option("basePath", lake.tableDir("web"))
    .parquet(lake.tableDir("web"))

  /** (rc, stdout, jobs launched) of one in-process CLI call over `on`. */
  private def cliOn(on: Lake, args: Seq[String]): (Int, String, Int) = {
    val config = Files.createTempDirectory("graft_jobs_cfg").toString
    val bos = new ByteArrayOutputStream()
    val (rc, jobs) = JobCounter.count(spark.sparkContext) {
      Main.run(spark, args ++ Seq("--lake-dir", on.root,
        "--config-dir", config), new PrintStream(bos, true, "UTF-8"))
    }
    (rc, new String(bos.toByteArray, "UTF-8").trim, jobs)
  }

  private def query(args: String*): (Int, String, Int) =
    cliOn(lake, Seq("query") ++ args ++ Seq("--output", "csv"))

  test("a whole-table count/min/max(tp_timestamp) runs no Spark job") {
    val want = Render.csv(plain.agg(count(lit(1)).as("n"),
      min(TpSchema.Timestamp).as("lo"), max(TpSchema.Timestamp).as("hi")))
    val (rc, out, jobs) = query("SELECT count(*) AS n, " +
      "min(tp_timestamp) AS lo, max(tp_timestamp) AS hi FROM web")
    assert(rc === 0, out)
    assert(out === want)
    assert(jobs === 0, s"metadata-served aggregate launched $jobs job(s)")
  }

  test("a served GROUP BY ... ORDER BY, with or without LIMIT, runs no " +
      "Spark job") {
    val ts = col(TpSchema.Timestamp)
    val cases = Seq(
      "SELECT tp_index, count(*) AS n, min(tp_timestamp) AS lo, " +
        "max(tp_timestamp) AS hi FROM web GROUP BY tp_index " +
        "ORDER BY tp_index" ->
        plain.groupBy("tp_index").agg(count(lit(1)).as("n"),
          min(ts).as("lo"), max(ts).as("hi")).orderBy("tp_index"),
      "SELECT tp_month, count(*) AS n FROM web GROUP BY tp_month " +
        "ORDER BY tp_month" ->
        plain.groupBy("tp_month").agg(count(lit(1)).as("n"))
          .orderBy("tp_month"),
      "SELECT tp_index, count(*) AS n, max(bytes) AS b FROM web " +
        "GROUP BY tp_index ORDER BY tp_index DESC LIMIT 2" ->
        plain.groupBy("tp_index").agg(count(lit(1)).as("n"),
          max("bytes").as("b")).orderBy(col("tp_index").desc).limit(2))
    for ((sql, truth) <- cases) {
      val want = Render.csv(truth)
      val (rc, out, jobs) = query(sql)
      assert(rc === 0, out)
      assert(out === want, sql)
      assert(jobs === 0, s"served '$sql' launched $jobs job(s)")
    }
  }

  test("a --from/--to count over whole months of contained files runs " +
      "no Spark job") {
    val lo = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-05-31 23:59:59")
    val want = Render.csv(plain
      .where(col(TpSchema.Timestamp).between(lo, hi))
      .agg(count(lit(1)).as("n"), max("bytes").as("b"),
        min(TpSchema.Timestamp).as("lo")))
    val (rc, out, jobs) = query(
      "SELECT count(*) AS n, max(bytes) AS b, min(tp_timestamp) AS lo " +
        "FROM web",
      "--from", "2024-03-01T00:00:00", "--to", "2024-05-31T23:59:59")
    assert(rc === 0, out)
    assert(out === want)
    assert(jobs === 0, s"windowed metadata count launched $jobs job(s)")
  }

  test("a --from/--to lookup keeping more than 32 files runs exactly " +
      "one job") {
    val lo = java.sql.Timestamp.valueOf(From.replace('T', ' '))
    val hi = java.sql.Timestamp.valueOf(To.replace('T', ' '))
    val kept = lake.fileStats(spark, "web").where(
      col("min_ts") <= lit(hi) && col("max_ts") >= lit(lo)).count()
    assert(kept > 32, s"the window must keep > 32 files, kept $kept")
    val want = Render.csv(plain
      .where(col(TpSchema.Timestamp).between(lo, hi) && col("user") === "u3")
      .select("req_id", "user", "bytes").orderBy("req_id").limit(100))
    val (rc, out, jobs) = query(
      "SELECT req_id, user, bytes FROM web WHERE user = 'u3' " +
        "ORDER BY req_id LIMIT 100",
      "--from", From, "--to", To)
    assert(rc === 0, out)
    assert(out === want)
    assert(jobs === 1, s"windowed lookup launched $jobs job(s)")
  }

  test("after a lake prefetch, the served count still runs no job and " +
      "the --from/--to lookup exactly one") {
    val served = "SELECT count(*) AS n, min(tp_timestamp) AS lo, " +
      "max(tp_timestamp) AS hi FROM web"
    val lookup = "SELECT req_id, user, bytes FROM web WHERE user = 'u3' " +
      "ORDER BY req_id LIMIT 100"
    val want = Render.csv(plain.agg(count(lit(1)).as("n"),
      min(TpSchema.Timestamp).as("lo"), max(TpSchema.Timestamp).as("hi")))
    lake.prefetch(served)
    val (rc, out, jobs) = query(served)
    assert(rc === 0, out)
    assert(out === want)
    assert(jobs === 0, s"metadata-served aggregate launched $jobs job(s)")
    lake.prefetch(lookup)
    val (rc2, out2, jobs2) = query(lookup, "--from", From, "--to", To)
    assert(rc2 === 0, out2)
    assert(jobs2 === 1, s"windowed lookup launched $jobs2 job(s)")
  }

  /** 3 day-contained appends with colstats on a long, a string and
    * `tp_timestamp`: every `table aggregate` section can answer from
    * metadata.
    */
  private lazy val daily: Lake = {
    val lake = Lake(Files.createTempDirectory("graft_jobs_agg").toString)
    val spec = PartitionSpec("daily", "p0", tpIndexColumn = Some("idx"))
    for (d <- 1 to 3) {
      val raw = spark.range(0, 100).select(
        (col("id") + d * 1000).as("req_id"),
        expr(s"timestamp '2024-03-0$d 00:00:00' + " +
          "make_interval(0,0,0,0,0,0, id * 600)").as("tp_timestamp"),
        lit("a").as("idx"),
        when(col("id") < 50, "u0").when(col("id") < 80, "u1")
          .otherwise("u2").as("user"))
      lake.append(spark, "daily", TpSchema.enrich(raw, spec))
    }
    lake.enableColumnStats(spark, "daily",
      Seq("req_id", "user", "tp_timestamp"))
    lake
  }

  private def aggregate(args: String*): (Int, String, Int) =
    cliOn(daily, Seq("table", "aggregate", "daily") ++ args)

  test("table aggregate on a table the metadata covers runs no Spark " +
      "job, with --ndv --quantiles --active-days and with --topk") {
    // ndv is served for int/long/string columns only, so the report
    // names two of the three stats columns
    val (rc, out, jobs) = aggregate("--columns", "req_id,user",
      "--ndv", "--quantiles", "0.5", "--active-days")
    assert(rc === 0, out)
    assert(out.contains("rows: 300"), out)
    assert(out.contains("served from metadata (no data scan)"), out)
    assert(out.contains("ndv user: ~3 (sketch union, no scan)"), out)
    assert(out.contains("active days: 3 (manifest, no scan)"), out)
    assert(out.contains("quantiles req_id: "), out)
    assert(!out.contains("(scanned)"), out)
    assert(jobs === 0, s"served table aggregate launched $jobs job(s)")
    val (rc2, out2, jobs2) = aggregate("--columns", "user", "--topk", "2")
    assert(rc2 === 0, out2)
    assert(out2.contains("topk user: u0=150 u1=90 (sketch merge, no scan)"),
      out2)
    assert(jobs2 === 0, s"served --topk launched $jobs2 job(s)")
  }

  test("table aggregate over a --from/--to window with band-edge " +
      "straddlers runs 2 jobs") {
    val lo = java.sql.Timestamp.valueOf("2024-03-01 08:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-03-03 08:00:00")
    val want = spark.read.option("basePath", daily.tableDir("daily"))
      .parquet(daily.tableDir("daily"))
      .where(col(TpSchema.Timestamp).between(lo, hi)).count()
    val (rc, out, jobs) = aggregate("--from", "2024-03-01T08:00:00",
      "--to", "2024-03-03T08:00:00")
    assert(rc === 0, out)
    assert(out.contains(s"rows: $want"), out)
    assert(out.contains("metadata + in-plan scan of 2 straddler file(s)"),
      out)
    assert(jobs === 2, s"windowed table aggregate launched $jobs job(s)")
  }

  // ---- write path ------------------------------------------------------

  private val StatsCols = Seq("req_id", "user", "bytes", "tp_index")

  private def write(f: File, text: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.print(text) finally w.close()
  }

  /** Chunk set `round` of the JSONL source, replacing the inbox's
    * previous one: 4 chunks of 90 rows over 3 months and 2 accounts
    * (about 60 rows per partition dir and collect), with null and
    * empty-string users and null byte counts.
    */
  private def stage(dir: File, round: Int): Unit = {
    Option(new File(dir, "inbox").listFiles).foreach(_.foreach(_.delete()))
    (0 until 4).foreach { c =>
      val lines = (0 until 90).map { j =>
        val id = round * 1000 + c * 100 + j
        val ts = java.time.Instant.parse("2024-01-01T00:00:00Z")
          .plusSeconds(id.toLong * 104729L % (90L * 86400L))
        val user = id % 11 match {
          case 0 => "null"
          case 1 => "\"\""
          case k => "\"u" + k + "\""
        }
        val bytes = if (id % 13 == 0) "null" else (id * 37L % 5000L).toString
        s"""{"ts":"$ts","req_id":$id,"user":$user,"bytes":$bytes,""" +
          s""""account":"a${id % 2}"}"""
      }
      write(new File(dir, s"inbox/chunk_${round}_$c.jsonl"),
        lines.mkString("", "\n", "\n"))
    }
  }

  /** A config dir with one JSONL-fed table `http` whose stats columns
    * are [[StatsCols]], and a lake holding its first collect.
    */
  private def writeFixture(): File = {
    val dir = Files.createTempDirectory("graft_jobs_write").toFile
    write(new File(dir, "config/http.tpc"),
      s"""table "http" {
         |  column "tp_timestamp" { source = "ts" }
         |  column "req_id" { type = "bigint" }
         |  column "user" { type = "varchar" }
         |  column "bytes" { type = "bigint" }
         |  column "account" { type = "varchar" }
         |  stats_columns = [${StatsCols.map("\"" + _ + "\"").mkString(", ")}]
         |}
         |partition "http" "main" {
         |  tp_index = "account"
         |  source "file" {
         |    paths = ["${dir.getPath}/inbox/"]
         |  }
         |}
         |""".stripMargin)
    stage(dir, 0)
    val (rc, out, _) = cliJobs(dir, collectArgs: _*)
    assert(rc === 0 && out.contains("Collected http.main: 360 rows"), out)
    dir
  }

  private val collectArgs = Seq("collect", "http.main", "--compact", "false",
    "--progress", "false", "--from", "2024-01-01T00:00:00")

  /** (rc, stdout, jobs launched) of one in-process CLI call over the
    * write fixture's lake and config.
    */
  private def cliJobs(dir: File, args: String*): (Int, String, Int) = {
    val bos = new ByteArrayOutputStream()
    val (rc, jobs) = JobCounter.count(spark.sparkContext) {
      Main.run(spark, args ++ Seq("--lake-dir", s"${dir.getPath}/lake",
        "--config-dir", s"${dir.getPath}/config"),
        new PrintStream(bos, true, "UTF-8"))
    }
    (rc, new String(bos.toByteArray, "UTF-8").trim, jobs)
  }

  private def assertSidecar(dir: File): Unit = {
    val lake = Lake(s"${dir.getPath}/lake")
    val bad = SidecarReference.mismatches(spark, lake, "http")
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  test("a collect of a JSONL chunk set into a table with 4 stats columns " +
      "runs at most 5 jobs") {
    val dir = writeFixture()
    stage(dir, 1)
    val (rc, out, jobs) = cliJobs(dir, collectArgs: _*)
    assert(rc === 0 && out.contains("Collected http.main: 360 rows"), out)
    assert(jobs <= 5, s"collect launched $jobs job(s)")
    assertSidecar(dir)
  }

  test("a compact of two collects runs at most 4 jobs") {
    val dir = writeFixture()
    stage(dir, 1)
    assert(cliJobs(dir, collectArgs: _*)._1 === 0)
    val (rc, out, jobs) = cliJobs(dir, "compact", "http")
    assert(rc === 0 && out.contains("Compacted http: 12 files -> 6 files"), out)
    assert(jobs <= 4, s"compact launched $jobs job(s)")
    assertSidecar(dir)
  }

  test("table analyze --columns (seed, catalog stats and a driver-side " +
      "column stats merge) runs at most 2 jobs") {
    val dir = writeFixture()
    val (rc, out, jobs) = cliJobs(dir, "table", "analyze", "http",
      "--columns", "req_id,user,bytes")
    assert(rc === 0 && out.contains("column user: "), out)
    assert(jobs <= 2, s"analyze --columns launched $jobs job(s)")
    assertSidecar(dir)
    val bad = CatalogStatsReference.mismatches(spark,
      Lake(s"${dir.getPath}/lake"), "http")
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  // ---- corpus commands -------------------------------------------------

  private val Words = ("the of and to in is was for on that with as by at " +
    "from it this be are which an or have has had were not but their they " +
    "its one all been more river mountain village market harbor library " +
    "garden bridge winter summer history science music language engineer " +
    "council school museum railway festival forest island station coast " +
    "valley province century building research student teacher farmer " +
    "painter writer doctor opened built founded visited described recorded " +
    "measured improved ancient modern quiet busy narrow wide northern " +
    "southern local public early later small large famous common simple " +
    "careful").split(" ").toIndexedSeq

  private val ExactGroups = Seq(2, 3, 2)
  private val NearClusters = Seq(2, 2, 3)
  private val Docs = 60

  /** A lake with one `docs` table (doc_id, text) of [[Docs]] documents:
    * groups of exact copies ([[ExactGroups]]), clusters of near copies
    * with one word in 60 replaced ([[NearClusters]]), and distinct
    * prose or symbol junk for the rest, in shuffled id order.
    */
  private lazy val docsLake: Lake = {
    val rnd = new scala.util.Random(12)
    def sentence = {
      val ws = Seq.fill(8 + rnd.nextInt(8))(Words(rnd.nextInt(Words.size)))
      (ws.head.capitalize +: ws.tail).mkString(" ") + "."
    }
    def prose = Seq.fill(6 + rnd.nextInt(6))(sentence).mkString(" ")
    def junk = Seq.fill(5 + rnd.nextInt(20))(
      Seq("#", "$$", "{x}", "!!", "...", "@@", "lorem", "ipsum")(rnd.nextInt(8)))
      .mkString(" ")
    def edit(text: String) = {
      val ws = text.split(" ")
      (0 until math.max(1, ws.length / 60)).foreach { _ =>
        ws(rnd.nextInt(ws.length)) = Words(rnd.nextInt(Words.size))
      }
      ws.mkString(" ")
    }
    val planted = ExactGroups.flatMap { k => val t = prose; Seq.fill(k)(t) } ++
      NearClusters.flatMap { k => val t = prose; t +: Seq.fill(k - 1)(edit(t)) }
    val texts = planted ++ Seq.fill(Docs - planted.size)(
      if (rnd.nextInt(4) == 0) junk else prose)
    val ids = rnd.shuffle((1 to Docs).toList)
    import spark.implicits._
    val raw = ids.zip(texts).map { case (id, t) => (id.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("tp_timestamp", expr("timestamp '2024-03-01 00:00:00'"))
    val lake = Lake(Files.createTempDirectory("graft_jobs_docs").toString)
    lake.append(spark, "docs", TpSchema.enrich(raw, PartitionSpec("docs", "p0")))
    lake
  }

  /** (rc, stdout, jobs launched) of one in-process CLI call over the
    * docs lake.
    */
  private def corpusJobs(args: String*): (Int, String, Int) = {
    val config = Files.createTempDirectory("graft_jobs_cfg").toString
    val bos = new ByteArrayOutputStream()
    val (rc, jobs) = JobCounter.count(spark.sparkContext) {
      Main.run(spark, args ++ Seq("--lake-dir", docsLake.root,
        "--config-dir", config), new PrintStream(bos, true, "UTF-8"))
    }
    (rc, new String(bos.toByteArray, "UTF-8").trim, jobs)
  }

  private val DocCols = Seq("--id-column", "doc_id", "--text-column", "text")

  test("dedup --mode near on a docs table with planted groups runs at " +
      "most 16 jobs") {
    val (rc, out, jobs) = corpusJobs(Seq("dedup", "docs", "--mode", "near") ++
      DocCols: _*)
    assert(rc === 0, out)
    val clusters = ExactGroups.size + NearClusters.size
    val droppable = (ExactGroups ++ NearClusters).map(_ - 1).sum
    assert(out.linesIterator.next() === s"Table docs: $Docs rows, $clusters " +
      s"near-dup clusters at jaccard >= 0.8, $droppable droppable rows", out)
    assert(jobs <= 16, s"dedup --mode near launched $jobs job(s)")
  }

  test("curate --gates both --dedup near on a docs table with planted " +
      "groups runs at most 32 jobs") {
    val outDir = Files.createTempDirectory("graft_jobs_curated").toString
    val (rc, out, jobs) = corpusJobs(Seq("curate", "docs", outDir,
      "--gates", "both", "--dedup", "near", "--buckets", "head,middle") ++
      DocCols: _*)
    assert(rc === 0, out)
    // the gates drop the junk; near dedup then drops every planted copy
    val copies = (ExactGroups ++ NearClusters).map(_ - 1).sum
    assert(out.linesIterator.toSeq.init === Seq(
      s"Curate docs: $Docs docs",
      "  rules (both): 60 -> 51",
      s"  dedup (near): 51 -> ${51 - copies}",
      "  buckets (head,middle): 43 -> 29"), out)
    assert(out.linesIterator.toSeq.last === s"Wrote 29 docs to $outDir", out)
    assert(jobs <= 32, s"curate launched $jobs job(s)")
  }

  test("a curate stage's count materializes its lazy checkpoint, and the " +
      "next stage reads it instead of recomputing the upstream") {
    val evals = spark.sparkContext.longAccumulator("upstream rows")
    val bump = udf { (x: Long) => evals.add(1); x }.asNondeterministic()
    val upstream = spark.range(0, 100, 1, 4).select(bump(col("id")).as("id"))
      .where(col("id") % 3 =!= 0)
    val ((checkpointed, n), jobs) = JobCounter.count(spark.sparkContext)(
      Main.checkpointAndCount(upstream))
    assert(n === 66)
    assert(evals.value === 100L)
    val (next, nextJobs) = JobCounter.count(spark.sparkContext)(
      checkpointed.where(col("id") % 2 === 0).count())
    assert(next === 33)
    assert(evals.value === 100L, "the next stage recomputed the upstream")
    // the count is the one execution: a map stage and its result
    assert(jobs <= 2, s"checkpoint and count launched $jobs job(s)")
    assert(nextJobs <= 2, s"a count over the checkpoint launched $nextJobs job(s)")
  }
}
