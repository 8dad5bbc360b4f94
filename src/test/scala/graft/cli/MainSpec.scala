package graft.cli

import java.io.{ByteArrayOutputStream, File, PrintStream, PrintWriter}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** End-to-end CLI drive over a fixture: HCL config → collect → query,
  * asserting golden CSV — the reference's acceptance pattern
  * (tests/acceptance/test_files/core_formats.bats,
  * all_column_types.bats:17-23).
  */
class MainSpec extends AnyFunSuite with SparkTest {

  private def write(f: File, text: String): Unit = {
    val w = new PrintWriter(f)
    try w.print(text) finally w.close()
  }

  private def cli(root: File, args: String*): (Int, String) = {
    val bos = new ByteArrayOutputStream()
    val rc = Main.run(spark,
      args.toSeq ++ Seq(
        "--lake-dir", s"${root.getPath}/lake",
        "--config-dir", s"${root.getPath}/config"),
      new PrintStream(bos, true, "UTF-8"))
    (rc, new String(bos.toByteArray, "UTF-8").trim)
  }

  private lazy val root: File = {
    val dir = Files.createTempDirectory("graft_cli").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "logs").mkdirs()
    write(new File(dir, "logs/access_log.csv"),
      """timestamp,ip_address,user_agent,status_code
        |2024-05-01T10:30:45Z,192.168.1.1,"Mozilla/5.0 (Macintosh)",200
        |2024-05-01T10:31:00Z,192.168.1.2,"Mozilla/5.0 (Windows NT 10.0)",404
        |2024-05-01T10:32:15Z,10.0.0.7,"curl/8.1",200
        |""".stripMargin)
    write(new File(dir, "config/access.tpc"),
      s"""format "delimited" "access_log" {
         |  delimiter = ","
         |  header = true
         |}
         |
         |table "access_log" {
         |  format = format.delimited.access_log
         |  column "tp_timestamp" {
         |    source = "timestamp"
         |  }
         |  column "ip_address" { type = "varchar" }
         |  column "user_agent" { type = "varchar" }
         |  column "status_code" { type = "integer" }
         |  column "is_internal" {
         |    type = "boolean"
         |    transform = "ip_address LIKE '192.168.%' OR ip_address LIKE '10.%'"
         |  }
         |}
         |
         |partition "access_log" "local" {
         |  source "file" {
         |    format = format.delimited.access_log
         |    paths = ["${dir.getPath}/logs/"]
         |    file_layout = "access_log.csv"
         |  }
         |}
         |""".stripMargin)
    // collect exactly once for all read-only tests (appends accumulate)
    val bos = new ByteArrayOutputStream()
    val rc = Main.run(spark,
      Seq("collect", "access_log.local",
        "--lake-dir", s"${dir.getPath}/lake",
        "--config-dir", s"${dir.getPath}/config"),
      new PrintStream(bos, true, "UTF-8"))
    assert(rc == 0, new String(bos.toByteArray, "UTF-8"))
    assert(new String(bos.toByteArray, "UTF-8")
      .contains("Collected access_log.local: 3 rows"))
    dir
  }

  test("collect then query --output csv returns the golden rows") {
    val (rc2, csv) = cli(root, "query",
      "select ip_address, status_code, is_internal from access_log order by tp_timestamp",
      "--output", "csv")
    assert(rc2 == 0, csv)
    assert(csv ==
      """ip_address,status_code,is_internal
        |192.168.1.1,200,true
        |192.168.1.2,404,true
        |10.0.0.7,200,true""".stripMargin)
  }

  test("query respects --from/--to filters") {
    val (_, csv) = cli(root, "query",
      "select count(*) as n from access_log",
      "--output", "csv",
      "--from", "2024-05-01T10:31:00",
      "--to", "2024-05-01T10:32:00")
    assert(csv == "n\n1")
  }

  test("table list and table show render the lake catalog") {
    val (_, listOut) = cli(root, "table", "list")
    assert(listOut.contains("| access_log "))
    val (_, showOut) = cli(root, "table", "show", "access_log")
    assert(showOut.linesIterator.exists(l =>
      l.contains("status_code") && l.contains("integer")))
    // tp_ columns sort last
    val cols = showOut.linesIterator.filter(_.startsWith("|"))
      .map(_.split("\\|")(1).trim).toSeq.tail
    assert(cols.last.startsWith("tp_"))
  }

  test("plugin list/show render the source-adapter registry") {
    val (_, list) = cli(root, "plugin", "list")
    assert(list.contains("| file ") && list.contains("| synthetic "))
    val (_, show) = cli(root, "plugin", "show", "file")
    assert(show.contains("| version "))
    val (rc, _) = cli(root, "plugin", "show", "bogus")
    assert(rc == 1)
  }

  test("show --output json matches the reference introspection shapes") {
    // partition show: name, plugin, local.{file_count,file_size}
    // (introspection.bats:58-81)
    val (_, pshow) = cli(root,
      "partition", "show", "access_log.local", "--output", "json")
    assert(pshow.trim.startsWith("[{") && pshow.contains(
      "\"name\": \"access_log.local\""), pshow)
    assert(pshow.contains("\"plugin\": \"graft/file@builtin\""), pshow)
    assert(pshow.contains("\"file_count\": ") &&
      pshow.contains("\"file_size\": "), pshow)
    // source show: [{"name": ...}] (introspection.bats:82-89)
    val (_, sshow) = cli(root, "source", "show", "file", "--output", "json")
    assert(sshow.contains("\"name\": \"file\""), sshow)
    // plugin show: name + tables/sources arrays, null format metadata
    // (introspection.bats:91-111)
    val (_, gshow) = cli(root, "plugin", "show", "file", "--output", "json")
    assert(gshow.contains("\"format_presets\": null") &&
      gshow.contains("\"sources\": [\"file\"]"), gshow)
    // unknown ids still error
    val (rc, _) = cli(root, "partition", "show", "nope.x", "--output", "json")
    assert(rc == 1)
  }

  test("connect carries workspace memory limits as SQL comments") {
    val f = new File(root, "config/workspaces.tpc")
    write(f, """workspace "w1" { memory_max_mb = 2048 }""")
    try {
      val (rc, script) = cli(root, "connect", "--workspace", "w1")
      assert(rc == 0 && script.contains("-- memory_max_mb: 2048"), script)
    } finally f.delete()
  }

  test("quiet by default: WARN before the session, and a workspace " +
      "log_level still overrides it") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    def rootLevel = LogManager.getRootLogger.getLevel
    val before = rootLevel
    val dir = Files.createTempDirectory("graft_cli_log").toFile
    new File(dir, "config").mkdirs()
    write(new File(dir, "config/workspaces.tpc"),
      """workspace "loud" { log_level = "info" }""")
    try {
      Main.quietLogging()
      assert(rootLevel === Level.WARN)
      val (rc, out) = cli(dir, "table", "list")
      assert(rc == 0, out)
      assert(rootLevel === Level.WARN, "no profile selected: stays quiet")
      val (rc2, out2) = cli(dir, "table", "list", "--workspace", "loud")
      assert(rc2 == 0, out2)
      assert(rootLevel === Level.INFO)
    } finally Configurator.setRootLevel(before)
  }

  test("unknown --workspace fails with the normal Error path, rc=1") {
    val (rc, out) = cli(root, "table", "list", "--workspace", "nope")
    assert(rc == 1 && out.contains("Error:"), out)
  }

  test("partition list, source list, format list/show") {
    val (_, parts) = cli(root, "partition", "list")
    assert(parts.contains("| access_log.local "))
    val (_, sources) = cli(root, "source", "list")
    assert(sources.contains("| file "))
    val (_, formats) = cli(root, "format", "list")
    assert(formats.contains("| delimited.access_log "))
    val (_, fshow) = cli(root, "format", "show", "delimited.access_log")
    assert(fshow.contains("| delimiter | , "))
  }

  test("partition delete removes a time range") {
    val dir = Files.createTempDirectory("graft_cli2").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "logs").mkdirs()
    write(new File(dir, "logs/access_log.csv"),
      new String(Files.readAllBytes(
        new File(root, "logs/access_log.csv").toPath), "UTF-8"))
    write(new File(dir, "config/access.tpc"),
      new String(Files.readAllBytes(
        new File(root, "config/access.tpc").toPath), "UTF-8")
        .replace(root.getPath, dir.getPath))
    cli(dir, "collect", "access_log.local")
    val (rc, out) = cli(dir, "partition", "delete", "access_log.local",
      "--from", "2024-05-01T10:31:00", "--to", "2024-05-01T10:32:00")
    assert(rc == 0, out)
    // headless (no TTY): the confirmation prompt prints and takes the
    // reference's default-yes (partition.go:293-299)
    assert(out.contains("Are you sure you want to delete partition"), out)
    assert(out.contains("Deleted 1 rows"))
    // --force skips the prompt entirely
    val (rc2, out2) = cli(dir, "partition", "delete", "access_log.local",
      "--force", "--from", "2024-05-01T10:30:00", "--to", "2024-05-01T10:30:50")
    assert(rc2 == 0, out2)
    assert(!out2.contains("Are you sure"), out2)
    assert(out2.contains("Deleted 1 rows"), out2)
    val (_, csv) = cli(dir, "query",
      "select count(*) as n from access_log", "--output", "csv")
    assert(csv == "n\n1")
  }

  test("deleting a non-existent partition fails gracefully") {
    // partition_delete.bats:44-55: rc!=0, 'partition not found', id shown
    val (rc, out) = cli(root, "partition", "delete",
      "access_log.non_existent", "--force")
    assert(rc == 1, out)
    assert(out.contains("partition not found"), out)
    assert(out.contains("access_log.non_existent"), out)
  }

  test("connect emits a runnable init script with view filters") {
    val (rc, script) = cli(root, "connect",
      "--from", "2024-05-01T10:31:00", "--partition", "loc*")
    assert(rc == 0, script)
    assert(script.contains(
      "CREATE OR REPLACE TEMPORARY VIEW access_log AS SELECT * FROM parquet."))
    assert(script.contains("tp_timestamp >= TIMESTAMP '2024-05-01 10:31:00"))
    assert(script.contains("tp_partition LIKE 'loc%'"))
    // the emitted SQL actually runs on a fresh Spark session state
    script.linesIterator.filter(_.nonEmpty)
      .foreach(stmt => spark.sql(stmt.stripSuffix(";")))
    assert(spark.sql("select count(*) from access_log").head().getLong(0) == 2)
  }

  test("table diff reports what the last collect changed") {
    val dir = Files.createTempDirectory("graft_cli_diff").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "logs").mkdirs()
    write(new File(dir, "logs/access_log.csv"),
      new String(Files.readAllBytes(
        new File(root, "logs/access_log.csv").toPath), "UTF-8"))
    write(new File(dir, "config/access.tpc"),
      new String(Files.readAllBytes(
        new File(root, "config/access.tpc").toPath), "UTF-8")
        .replace(root.getPath, dir.getPath))

    cli(dir, "collect", "access_log.local")
    // second collect: the pre-collect snapshot captures state after
    // collect #1; a new row lands a new file
    val f = new File(dir, "logs/access_log.csv")
    write(f, new String(Files.readAllBytes(f.toPath), "UTF-8") +
      "2024-05-02T09:00:00Z,172.16.0.9,\"curl/8.1\",500\n")
    cli(dir, "collect", "access_log.local")

    val (rc, out) = cli(dir, "table", "diff", "access_log")
    assert(rc == 0, out)
    // the incremental collect lands the merged partition as a NEW file
    // replacing the old one: one added (4 rows), one removed (3 rows)
    assert(out.linesIterator.next() == "added=1 removed=1 changed=0", out)
    val lines = out.linesIterator.toSeq
    assert(lines.exists(l => l.contains("| added") && l.contains("| 4 ")),
      out)
    assert(lines.exists(l => l.contains("| removed") && l.contains("| 3 ")),
      out)
    // diff against a table with no snapshot errors cleanly
    val (rc2, out2) = cli(dir, "table", "diff", "nope")
    assert(rc2 == 1 && out2.contains("no manifest backup"), out2)

    // time travel to the pre-collect-#2 state is impossible — the
    // incremental collect REWROTE the May partition file the snapshot
    // lists. The read must refuse loudly, not return a partial state.
    val (rc3, out3) = cli(dir, "table", "snapshot", "access_log")
    assert(rc3 == 1 && out3.contains("removed since backup"), out3)

    // a collect that only ADDS a partition (June row) leaves the May
    // file intact, so the pre-collect-#3 snapshot is readable: 4 rows
    // (with the May curl hit), while the live table already has 5
    write(f, new String(Files.readAllBytes(f.toPath), "UTF-8") +
      "2024-06-02T09:00:00Z,172.16.0.77,\"curl/8.1\",500\n")
    cli(dir, "collect", "access_log.local")
    val (rc4, out4) = cli(dir, "table", "snapshot", "access_log")
    assert(rc4 == 0 && out4.contains("4 rows"), out4)
    val (rc5, out5) =
      cli(dir, "table", "snapshot", "access_log", "--limit", "10")
    assert(rc5 == 0 && out5.contains("172.16.0.9")
      && !out5.contains("172.16.0.77"), out5)
  }

  test("rollup: collect maintains the materialized aggregate; " +
    "view queries read rollup rows; refresh rebuilds") {
    val dir = Files.createTempDirectory("graft_cli_rollup").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "logs").mkdirs()
    write(new File(dir, "logs/access_log.csv"),
      new String(Files.readAllBytes(
        new File(root, "logs/access_log.csv").toPath), "UTF-8"))
    write(new File(dir, "config/access.tpc"),
      new String(Files.readAllBytes(
        new File(root, "config/access.tpc").toPath), "UTF-8")
        .replace(root.getPath, dir.getPath) +
        """
          |rollup "access_log" "by_status" {
          |  group_by = ["status_code"]
          |  aggregate "n" { function = "count" }
          |  aggregate "last_seen" {
          |    function = "max"
          |    column = "tp_timestamp"
          |  }
          |  aggregate "avg_status" {
          |    function = "avg"
          |    column = "status_code"
          |  }
          |}
          |""".stripMargin)

    // first collect bootstraps the rollup
    val (rc1, out1) = cli(dir, "collect", "access_log.local")
    assert(rc1 == 0, out1)
    assert(out1.contains("Rollup access_log.by_status: built"), out1)
    // the rollup view answers the dashboard query (month cols implicit)
    val (rc2, q1) = cli(dir, "query",
      "select status_code, n from access_log_rollup_by_status " +
        "order by status_code", "--output", "csv")
    assert(rc2 == 0, q1)
    assert(q1 == "status_code,n\n200,2\n404,1", q1)

    // incremental: a new row lands in the same month -> 1 month refresh
    val f = new File(dir, "logs/access_log.csv")
    write(f, new String(Files.readAllBytes(f.toPath), "UTF-8") +
      "2024-05-01T10:40:00Z,172.16.0.9,\"curl/8.1\",500\n")
    val (rc3, out3) = cli(dir, "collect", "access_log.local")
    assert(rc3 == 0, out3)
    assert(out3.contains("Rollup access_log.by_status: refreshed 1 month(s)"),
      out3)
    val (_, q2) = cli(dir, "query",
      "select status_code, n from access_log_rollup_by_status " +
        "order by status_code", "--output", "csv")
    assert(q2 == "status_code,n\n200,2\n404,1\n500,1", q2)

    // avg surfaces the per-row quotient AND its mergeable sum+count
    // pair (r18: averages don't average — cross-range avg is
    // Σsum/Σn over rollup rows)
    val (_, qa) = cli(dir, "query",
      "select status_code, cast(avg_status as bigint) as a, " +
        "cast(avg_status_sum as bigint) as s, avg_status_n as c " +
        "from access_log_rollup_by_status order by status_code",
      "--output", "csv")
    assert(qa == "status_code,a,s,c\n200,200,400,2\n404,404,404,1\n" +
      "500,500,500,1", qa)

    // list + explicit full rebuild
    val (_, lst) = cli(dir, "rollup", "list")
    assert(lst.contains("access_log.by_status") && lst.contains("true"), lst)
    val (rc4, out4) = cli(dir, "rollup", "refresh", "access_log.by_status")
    assert(rc4 == 0 && out4.contains("rebuilt, 3 rows"), out4)
    // unknown rollup errors loudly
    val (rc5, out5) = cli(dir, "rollup", "refresh", "nope.x")
    assert(rc5 == 1 && out5.contains("unknown rollup"), out5)
    // connect scripts expose the materialized rollup as a view too
    val (rc6, script) = cli(dir, "connect")
    assert(rc6 == 0, script)
    assert(script.contains(
      "TEMPORARY VIEW access_log_rollup_by_status AS"), script)
  }

  test("collection state makes repeated collect incremental; --overwrite re-collects") {
    val dir = Files.createTempDirectory("graft_cli_state").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "logs").mkdirs()
    write(new File(dir, "logs/access_log.csv"),
      new String(Files.readAllBytes(
        new File(root, "logs/access_log.csv").toPath), "UTF-8"))
    write(new File(dir, "config/access.tpc"),
      new String(Files.readAllBytes(
        new File(root, "config/access.tpc").toPath), "UTF-8")
        .replace(root.getPath, dir.getPath))

    val (_, out1) = cli(dir, "collect", "access_log.local")
    assert(out1.contains("Collected access_log.local: 3 rows"))
    // state recorded max ts + 1µs → a plain re-collect ingests nothing
    val (_, out2) = cli(dir, "collect", "access_log.local")
    assert(out2.contains("Collected access_log.local: 0 rows"), out2)
    val (_, n1) = cli(dir, "query",
      "select count(*) as n from access_log", "--output", "csv")
    assert(n1 == "n\n3")

    // a NEW source row past the high-water mark is picked up
    val f = new File(dir, "logs/access_log.csv")
    write(f, new String(Files.readAllBytes(f.toPath), "UTF-8") +
      "2024-05-01T10:40:00Z,172.16.0.9,\"curl/8.1\",500\n")
    val (_, out3) = cli(dir, "collect", "access_log.local")
    assert(out3.contains("Collected access_log.local: 1 rows"), out3)
    val (_, n2) = cli(dir, "query",
      "select count(*) as n from access_log", "--output", "csv")
    assert(n2 == "n\n4")

    // --overwrite re-collects the window without duplicating
    val (_, out4) = cli(dir, "collect", "access_log.local",
      "--overwrite", "--from", "2024-05-01", "--to", "2024-05-02")
    assert(out4.contains("Overwrite: deleted 4 rows"), out4)
    assert(out4.contains("Collected access_log.local: 4 rows"), out4)
    val (_, n3) = cli(dir, "query",
      "select count(*) as n from access_log", "--output", "csv")
    assert(n3 == "n\n4")
  }

  test("unknown-but-configured table gets the 'no data collected' error") {
    val dir = Files.createTempDirectory("graft_cli3").toFile
    new File(dir, "config").mkdirs()
    write(new File(dir, "config/p.tpc"),
      """partition "uncollected_logs" "p0" { }""" + "\n")
    val (rc, out) = cli(dir, "query", "select * from uncollected_logs")
    assert(rc == 1)
    assert(out.contains("no data has been collected for table 'uncollected_logs'"))
  }

  test("stats_columns arms column stats at first collect; analyze " +
      "reports the merged NDV + histogram with no scan") {
    val dir = Files.createTempDirectory("graft_cli_stats").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "logs").mkdirs()
    write(new File(dir, "logs/m.csv"),
      """timestamp,status_code,svc
        |2024-05-01T10:30:45Z,200,api
        |2024-05-01T10:31:00Z,404,web
        |2024-05-01T10:32:15Z,200,api
        |""".stripMargin)
    write(new File(dir, "config/m.tpc"),
      s"""format "delimited" "m" { delimiter = "," }
         |table "metrics" {
         |  format = format.delimited.m
         |  stats_columns = ["status_code", "svc", "tp_timestamp"]
         |  column "tp_timestamp" { source = "timestamp" }
         |  column "status_code" { type = "integer" }
         |  column "svc" { type = "varchar" }
         |}
         |partition "metrics" "local" {
         |  source "file" {
         |    format = format.delimited.m
         |    paths = ["${dir.getPath}/logs/"]
         |    file_layout = "m.csv"
         |  }
         |}
         |""".stripMargin)
    val (rc, outTxt) = cli(dir, "collect", "metrics.local")
    assert(rc == 0, outTxt)
    assert(outTxt.contains(
      "Column stats enabled for metrics: status_code"), outTxt)
    assert(outTxt.contains("Collected metrics.local: 3 rows"), outTxt)
    // the FIRST append wrote the sidecar (marker was armed pre-append):
    // analyze merges scan-free and reports NDV + the KLL histogram
    val (rc2, rep) = cli(dir, "table", "analyze", "metrics")
    assert(rc2 == 0, rep)
    assert(rep.contains("column status_code: ~2 distinct, 0 null"), rep)
    assert(rep.contains("equi-height histogram 64 bins"), rep)
    // table aggregate: the metadata-served count/min/max (defaults to
    // the stats-enabled columns); the audit line pins scan-freeness
    val (rc3, agg) = cli(dir, "table", "aggregate", "metrics")
    assert(rc3 == 0, agg)
    assert(agg.contains("rows: 3"), agg)
    assert(agg.contains("column status_code: count=3 min=200 max=404"), agg)
    assert(agg.contains("served from metadata (no data scan)"), agg)
    // --from/--to: the time-band hybrid. A band containing the whole
    // file stays scan-free; a band cutting into it scans the straddler
    val (rc4, band) = cli(dir, "table", "aggregate", "metrics",
      "--from", "2024-05-01", "--to", "2024-05-02")
    assert(rc4 == 0, band)
    assert(band.contains("rows: 3"), band)
    assert(band.contains("served from metadata (no data scan)"), band)
    val (rc5, band2) = cli(dir, "table", "aggregate", "metrics",
      "--from", "2024-05-01 10:31:00", "--to", "2024-05-02")
    assert(rc5 == 0, band2)
    assert(band2.contains("rows: 2"), band2)
    assert(band2.contains("metadata + in-plan scan of 1 straddler file(s)"),
      band2)
    // --ndv: distinct-count estimates from the sidecar sketch union,
    // scan-free when every live file carries a blob (3 rows, 2
    // distinct status codes — small sets estimate exactly)
    val (rc6, nd) = cli(dir, "table", "aggregate", "metrics", "--ndv")
    assert(rc6 == 0, nd)
    assert(nd.contains("ndv status_code: ~2 (sketch union, no scan)"), nd)
    // --quantiles: KLL-merged distribution points, scan-free when the
    // sidecar covers (3 values [200,404,200]: p50 = 200)
    val (rc7, qn) = cli(dir, "table", "aggregate", "metrics",
      "--quantiles", "0.5,0.99")
    assert(rc7 == 0, qn)
    assert(qn.contains(
      "quantiles status_code: p50=200.0000 p99=404.0000 " +
        "(KLL merge, no scan)"), qn)
    // --by day: the per-bucket report through the SQL bucket hybrid —
    // the single day-contained file serves scan-free
    val (rc8, byDay) = cli(dir, "table", "aggregate", "metrics",
      "--by", "day")
    assert(rc8 == 0, byDay)
    assert(byDay.contains(
      "2024-05-01: rows=3 status_code[count=3 min=200 max=404]"), byDay)
    assert(byDay.contains("served from metadata (no data scan)"), byDay)
    // --by hour buckets the same rows into one 10:00 bucket
    val (rc9, byHour) = cli(dir, "table", "aggregate", "metrics",
      "--by", "hour")
    assert(rc9 == 0, byHour)
    assert(byHour.contains("2024-05-01 10:00:00"), byHour)
    assert(byHour.contains("rows=3"), byHour)
    // --by month: the calendar grain (r19) — same scan-free serve
    val (rc11, byMonth) = cli(dir, "table", "aggregate", "metrics",
      "--by", "month")
    assert(rc11 == 0, byMonth)
    assert(byMonth.contains("2024-05-01 00:00:00"), byMonth)
    assert(byMonth.contains("rows=3"), byMonth)
    assert(byMonth.contains("served from metadata (no data scan)"),
      byMonth)
    // --topk K: the most frequent values of the string stats column,
    // served by merging the per-file frequent-items sketches (exact
    // regime) with no scan
    val (rcTk, tk) = cli(dir, "table", "aggregate", "metrics",
      "--topk", "2", "--columns", "svc")
    assert(rcTk == 0, tk)
    assert(tk.contains("topk svc: api=2 web=1 (sketch merge, no scan)"),
      tk)
    // --active-days: the distinct-day count, manifest-served whole
    // and for a day-aligned band; a band edge cutting into the file
    // falls back to one distinct scan with the same answer
    val (rc14, ad) = cli(dir, "table", "aggregate", "metrics",
      "--active-days")
    assert(rc14 == 0, ad)
    assert(ad.contains("active days: 1 (manifest, no scan)"), ad)
    val (rc15, adb) = cli(dir, "table", "aggregate", "metrics",
      "--active-days", "--from", "2024-05-01", "--to", "2024-05-02")
    assert(rc15 == 0, adb)
    assert(adb.contains("active days: 1 (manifest, no scan)"), adb)
    val (rc16, adc) = cli(dir, "table", "aggregate", "metrics",
      "--active-days", "--from", "2024-05-01 10:31:00")
    assert(rc16 == 0, adc)
    assert(adc.contains("active days: 1 (scanned)"), adc)
    // --by dow / hour-of-day: PROFILE buckets (extract keys merge many
    // time buckets onto one output key) — 2024-05-01 is a Wednesday
    // (Spark dayofweek 4) and all rows sit in hour 10; the single
    // day-contained (and hour-contained) file serves both scan-free
    val (rc12, byDow) = cli(dir, "table", "aggregate", "metrics",
      "--by", "dow")
    assert(rc12 == 0, byDow)
    assert(byDow.contains(
      "4: rows=3 status_code[count=3 min=200 max=404]"), byDow)
    assert(byDow.contains("served from metadata (no data scan)"), byDow)
    val (rc13, byHod) = cli(dir, "table", "aggregate", "metrics",
      "--by", "hour-of-day")
    assert(rc13 == 0, byHod)
    assert(byHod.contains("10: rows=3"), byHod)
    assert(byHod.contains("served from metadata (no data scan)"), byHod)
    // unknown grain errors loudly
    val (rc10, bad) = cli(dir, "table", "aggregate", "metrics",
      "--by", "fortnight")
    assert(rc10 == 1 &&
      bad.contains("minute|hour|day|week|month|quarter|year"), bad)
  }

  /** A config dir whose `metrics` table collects `rows` (timestamp,
    * status_code, svc, latency) with `stats` as its stats columns.
    */
  private def metricsDir(rows: Seq[String], stats: Seq[String]): File = {
    val dir = Files.createTempDirectory("graft_cli_agg").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "logs").mkdirs()
    write(new File(dir, "logs/m.csv"),
      rows.mkString("timestamp,status_code,svc,latency\n", "\n", "\n"))
    write(new File(dir, "config/m.tpc"),
      s"""format "delimited" "m" { delimiter = "," }
         |table "metrics" {
         |  format = format.delimited.m
         |  stats_columns = [${stats.map("\"" + _ + "\"").mkString(", ")}]
         |  column "tp_timestamp" { source = "timestamp" }
         |  column "status_code" { type = "integer" }
         |  column "svc" { type = "varchar" }
         |  column "latency" { type = "double" }
         |}
         |partition "metrics" "local" {
         |  source "file" {
         |    format = format.delimited.m
         |    paths = ["${dir.getPath}/logs/"]
         |    file_layout = "m.csv"
         |  }
         |}
         |""".stripMargin)
    val (rc, out) = cli(dir, "collect", "metrics.local")
    assert(rc == 0 && out.contains(s"Collected metrics.local: ${rows.size}"),
      out)
    dir
  }

  test("table aggregate --topk and --quantiles answer for the " +
      "--from/--to window") {
    val dir = metricsDir(Seq(
      "2024-05-01T10:30:00Z,200,api,1.5",
      "2024-05-01T10:30:30Z,200,api,2.5",
      "2024-05-01T10:31:00Z,404,web,3.5",
      "2024-05-01T10:32:00Z,404,web,4.5",
      "2024-05-01T10:33:00Z,500,web,5.5"),
      Seq("status_code", "svc", "tp_timestamp"))
    // the whole table: api=2 web=3, lowest status 200
    val (rc, whole) = cli(dir, "table", "aggregate", "metrics",
      "--columns", "status_code,svc", "--topk", "2", "--quantiles", "0")
    assert(rc == 0, whole)
    assert(whole.contains("topk svc: web=3 api=2"), whole)
    assert(whole.contains("quantiles status_code: p0=200.0000"), whole)
    // the window drops both api rows (and the 200s): the file
    // straddles its edge, so both sections scan the window's rows
    val (rc2, win) = cli(dir, "table", "aggregate", "metrics",
      "--columns", "status_code,svc", "--topk", "2", "--quantiles", "0",
      "--from", "2024-05-01 10:31:00")
    assert(rc2 == 0, win)
    assert(win.contains("rows: 3"), win)
    assert(win.contains("topk svc: web=3 (scanned)"), win)
    assert(win.contains("quantiles status_code: p0=404.0000 (scanned)"), win)
  }

  test("table aggregate --ndv agrees with SELECT ndv(c) on a DOUBLE " +
      "stats column") {
    // enough distinct doubles that a sketch hashing them otherwise
    // than the scan's ndv would estimate a different count
    val dir = metricsDir((0 until 20000).map(i =>
      f"2024-05-01T${10 + i / 3600}%02d:${i / 60 % 60}%02d:" +
        f"${i % 60}%02dZ,200,api,${i * 0.37 + 0.001}"),
      Seq("latency", "tp_timestamp"))
    val (rc, sql) = cli(dir, "query",
      "select ndv(latency) as n from metrics", "--output", "csv")
    assert(rc == 0, sql)
    val want = sql.split("\n").last.trim
    val (rc2, agg) = cli(dir, "table", "aggregate", "metrics", "--ndv")
    assert(rc2 == 0, agg)
    assert(agg.contains(s"ndv latency: ~$want ("), s"want ~$want: $agg")
  }

  test("grok end-to-end: config-driven collect of a dated log file") {
    val dir = Files.createTempDirectory("graft_cli4").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "logs").mkdirs()
    write(new File(dir, "logs/plugin-2025-05-01.log"),
      """2025-04-28 15:16:35.733 UTC [DEBUG] my-plugin: starting scan
        |garbage line
        |2025-04-28 15:16:36.033 UTC [INFO] my-plugin: scan done
        |""".stripMargin)
    write(new File(dir, "config/grok.tpc"),
      s"""format "grok" "plugin_log" {
         |  layout = `%{TIMESTAMP_ISO8601:timestamp} %{WORD:tz} \\[%{LOGLEVEL:severity}\\] %{NOTSPACE:plugin}: %{GREEDYDATA:message}`
         |}
         |table "plugin_log" {
         |  format = format.grok.plugin_log
         |  column "tp_timestamp" { source = "timestamp" }
         |  column "severity" { type = "varchar" }
         |  column "message" { type = "varchar" }
         |}
         |partition "plugin_log" "local" {
         |  source "file" {
         |    format = format.grok.plugin_log
         |    paths = ["${dir.getPath}/logs/"]
         |    file_layout = `plugin-%{YEAR:y}-%{MONTHNUM:m}-%{MONTHDAY:d}\\.log`
         |  }
         |}
         |""".stripMargin)
    val (rc, out) = cli(dir, "collect", "plugin_log.local")
    assert(rc == 0, out)
    assert(out.contains("Collected plugin_log.local: 2 rows"))
    val (_, csv) = cli(dir, "query",
      "select severity, message, tp_timestamp from plugin_log order by tp_timestamp",
      "--output", "csv")
    assert(csv ==
      """severity,message,tp_timestamp
        |DEBUG,starting scan,2025-04-28 15:16:35.733
        |INFO,scan done,2025-04-28 15:16:36.033""".stripMargin)
  }

  test("multi-statement batch query splits on unquoted semicolons") {
    val (rc, csv) = cli(root, "query",
      "select 1 as a; select 'x;y' as b", "--output", "csv")
    assert(rc == 0, csv)
    assert(csv == "a\n1\nb\nx;y")
    assert(Main.splitStatements("select ';' as x;;select 2") ==
      Seq("select ';' as x", "select 2"))
  }

  test("boolean flags do not swallow a following positional argument") {
    val o1 = Main.parseArgs(Seq("--overwrite", "tbl.p0"))
    assert(o1.positional == Seq("tbl.p0") && o1.flag("overwrite").contains("true"))
    val o2 = Main.parseArgs(Seq("--header", "select 1"))
    assert(o2.positional == Seq("select 1") && o2.flag("header").contains("true"))
    // boolean words and =-forms are still consumed as values
    val o3 = Main.parseArgs(Seq("--header", "false", "--compact=false"))
    assert(o3.positional.isEmpty && o3.flag("header").contains("false") &&
      o3.flag("compact").contains("false"))
    // value flags keep taking the next token
    val o4 = Main.parseArgs(Seq("--output", "csv", "q"))
    assert(o4.positional == Seq("q") && o4.flag("output").contains("csv"))
  }

  test("import adopts a foreign parquet dir into a lake table") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_import").toFile
    spark.range(5).select(
        col("id").as("req_id"),
        expr("timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id*3600)").as("seen_at"),
        concat(lit("host"), col("id") % 2).as("host"))
      .write.parquet(s"${dir.getPath}/legacy")
    // missing timestamp column fails loudly
    val (rcBad, bad) = cli(root, "import", s"${dir.getPath}/legacy", "reqs.old")
    assert(rcBad == 1 && bad.contains("tp_timestamp"), bad)
    val (rc, msg) = cli(root, "import", s"${dir.getPath}/legacy", "reqs.old",
      "--timestamp-column", "seen_at", "--index-column", "host")
    assert(rc == 0, msg)
    assert(msg == s"Imported reqs.old: 5 rows from ${dir.getPath}/legacy")
    val (_, csv) = cli(root, "query",
      "select tp_index, count(*) as n from reqs group by 1 order by 1",
      "--output", "csv")
    assert(csv == "tp_index,n\nhost0,3\nhost1,2")
    // second import into the same table with a different schema fails
    spark.range(2).select(col("id"),
        expr("timestamp'2024-03-02 00:00:00'").as("seen_at"))
      .write.parquet(s"${dir.getPath}/other")
    val (rc2, msg2) = cli(root, "import", s"${dir.getPath}/other", "reqs.old2",
      "--timestamp-column", "seen_at")
    assert(rc2 == 1 && msg2.contains("schema mismatch"), msg2)
    // same column NAMES but a retyped column also fails: appending
    // bigint host into a string host would poison later reads
    spark.range(2).select(
        col("id").as("req_id"),
        expr("timestamp'2024-03-03 00:00:00'").as("seen_at"),
        col("id").as("host"))
      .write.parquet(s"${dir.getPath}/retyped")
    val (rc3, msg3) = cli(root, "import", s"${dir.getPath}/retyped", "reqs.old3",
      "--timestamp-column", "seen_at")
    assert(rc3 == 1 && msg3.contains("type mismatch") &&
      msg3.contains("host"), msg3)
  }

  test("import --legacy migrates a pre-DuckLake workspace") {
    import org.apache.spark.sql.functions._
    val ws = Files.createTempDirectory("graft_legacy_ws").toFile
    // legacy layout: tp_table= hive dirs + a views.sql catalog; only
    // audit_log has a view — orphan_log is parquet with no view and
    // must be archived, not guessed at (migration.go:160-167)
    def legacyRows(n: Int) = spark.range(n).select(
      expr("timestamp'2024-04-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60)")
        .as("tp_timestamp"),
      concat(lit("r"), col("id")).as("request"),
      (col("id") % 2 === 0).as("ok"))
    legacyRows(6).write.parquet(s"${ws.getPath}/tp_table=audit_log")
    legacyRows(3).write.parquet(s"${ws.getPath}/tp_table=orphan_log")
    write(new File(ws, "views.sql"),
      """CREATE VIEW audit_log AS SELECT * FROM read_parquet('...');
        |CREATE VIEW unrelated AS SELECT 1;
        |""".stripMargin)
    // no views.sql → refuse loudly (checked against a sibling dir)
    val empty = Files.createTempDirectory("graft_legacy_empty").toFile
    val (rcNo, no) = cli(root, "import", "--legacy", empty.getPath)
    assert(rcNo == 1 && no.contains("views.sql"), no)

    val (rc, msg) = cli(root, "import", "--legacy", ws.getPath)
    assert(rc == 0, msg)
    assert(msg.contains("Migrated audit_log.legacy: 6 rows"), msg)
    assert(msg.contains("Archived tp_table=orphan_log"), msg)
    assert(msg.contains("Legacy migration complete: 1 tables, 6 rows, " +
      "1 archived"), msg)
    // the migrated table is queryable through the normal lake path
    val (rcQ, csv) = cli(root, "query",
      "select count(*) as n, sum(case when ok then 1 else 0 end) as n_ok " +
        "from audit_log", "--output", "csv")
    assert(rcQ == 0, csv)
    assert(csv == "n,n_ok\n6,3", csv)
    // workspace rearranged: matched dir under migrated/, orphan under
    // unmigrated/, status summary written
    assert(new File(ws, "migrated/tp_table=audit_log").isDirectory)
    assert(new File(ws, "unmigrated/tp_table=orphan_log").isDirectory)
    assert(!new File(ws, "tp_table=audit_log").exists)
    val status = new String(Files.readAllBytes(
      new File(ws, "migration_status.json").toPath), "UTF-8")
    assert(status.contains("\"migrated_tables\":1") &&
      status.contains("\"migrated_rows\":6") &&
      status.contains("\"archived_dirs\":1") &&
      status.contains("\"outcome\":\"COMPLETED\""), status)
    // resume semantics: a second run finds nothing left to migrate
    // and does NOT double-append
    val (rc2, msg2) = cli(root, "import", "--legacy", ws.getPath)
    assert(rc2 == 0, msg2)
    assert(msg2.contains("0 tables, 0 rows, 0 archived"), msg2)
    val (_, csv2) = cli(root, "query",
      "select count(*) as n from audit_log", "--output", "csv")
    assert(csv2 == "n\n6", csv2)
  }

  test("import --legacy: qualified view names match; completion marker " +
    "closes the append-then-move crash window") {
    import org.apache.spark.sql.functions._
    val ws = Files.createTempDirectory("graft_legacy_ws2").toFile
    def legacyRows(n: Int) = spark.range(n).select(
      expr("timestamp'2024-05-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60)")
        .as("tp_timestamp"),
      concat(lit("r"), col("id")).as("request"),
      (col("id") % 2 === 0).as("ok"))
    // schema-qualified CREATE VIEW must register 'audit2', not 'main'
    legacyRows(5).write.parquet(s"${ws.getPath}/tp_table=audit2")
    // crash simulation: a prior run appended crash_log and wrote its
    // completion marker, then died before moving the dir — the rerun
    // must finish the move WITHOUT re-importing (no double-append;
    // here the table was never created, so re-importing would create
    // it — its absence proves the skip)
    legacyRows(4).write.parquet(s"${ws.getPath}/tp_table=crash_log")
    write(new File(ws, ".migrate_done_crash_log"), "4")
    write(new File(ws, "views.sql"),
      """CREATE VIEW main.audit2 AS SELECT * FROM read_parquet('...');
        |CREATE OR REPLACE VIEW "main"."crash_log" AS SELECT 1;
        |""".stripMargin)
    val (rc, msg) = cli(root, "import", "--legacy", ws.getPath)
    assert(rc == 0, msg)
    assert(msg.contains("Migrated audit2.legacy: 5 rows"), msg)
    assert(msg.contains("Migrated crash_log.legacy: 4 rows"), msg)
    assert(!msg.contains("Archived"), msg)
    assert(new File(ws, "migrated/tp_table=audit2").isDirectory)
    assert(new File(ws, "migrated/tp_table=crash_log").isDirectory)
    // markers consumed after the move
    assert(!new File(ws, ".migrate_done_audit2").exists)
    assert(!new File(ws, ".migrate_done_crash_log").exists)
    val (rcQ, csv) = cli(root, "query",
      "select count(*) as n from audit2", "--output", "csv")
    assert(rcQ == 0 && csv == "n\n5", csv)
    // crash_log was NOT re-imported: the lake never saw its rows
    val (rcC, msgC) = cli(root, "query",
      "select count(*) as n from crash_log", "--output", "csv")
    assert(rcC == 1, s"crash_log should not exist in the lake: $msgC")
  }

  test("import --legacy: intent marker makes a crash AFTER the commit " +
    "but BEFORE the done marker idempotent (no double-append)") {
    import org.apache.spark.sql.functions._
    val ws = Files.createTempDirectory("graft_legacy_ws3").toFile
    def legacyRows(n: Int) = spark.range(n).select(
      expr("timestamp'2024-06-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60)")
        .as("tp_timestamp"),
      concat(lit("r"), col("id")).as("request"))
    legacyRows(4).write.parquet(s"${ws.getPath}/tp_table=crash2")
    write(new File(ws, "views.sql"),
      "CREATE VIEW crash2 AS SELECT 1;\n")
    // first run imports normally…
    val (rc1, msg1) = cli(root, "import", "--legacy", ws.getPath)
    assert(rc1 == 0 && msg1.contains("Migrated crash2.legacy: 4 rows"), msg1)
    // …now reconstruct the r13 residual crash window: append COMMITTED
    // (4 rows live) but the done marker was never written and the dir
    // never moved — only the intent marker (pre-import count 0) is on
    // disk. A rerun must detect the committed rows and NOT re-import.
    java.nio.file.Files.move(
      new File(ws, "migrated/tp_table=crash2").toPath,
      new File(ws, "tp_table=crash2").toPath)
    write(new File(ws, ".migrate_intent_crash2"), "0")
    // …and make the crash land BETWEEN the data commit and its
    // manifest append (r14 advice): wipe the manifest, so a recovery
    // that merely skips re-import would leave listing-free planning
    // under-reading the table forever
    val lake = graft.lake.Lake(s"${root.getPath}/lake")
    val mdir = new File(s"${lake.tableDir("crash2")}/_graft_manifest")
    assert(mdir.isDirectory, mdir)
    def rmAll(f: File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmAll)
      f.delete(); ()
    }
    rmAll(mdir)
    val (rc2, msg2) = cli(root, "import", "--legacy", ws.getPath)
    assert(rc2 == 0 && msg2.contains("Migrated crash2.legacy: 4 rows"), msg2)
    val (rcQ, csv) = cli(root, "query",
      "select count(*) as n from crash2", "--output", "csv")
    assert(rcQ == 0 && csv == "n\n4", s"double-append detected: $csv")
    assert(!new File(ws, ".migrate_intent_crash2").exists)
    // recovery re-synced the manifest (vacuum reconciliation), so
    // listing-free planning sees the committed rows again
    import org.apache.spark.sql.functions.sum
    val manifestRows = lake.fileStats(spark, "crash2",
        reconcileWithListing = false)
      .agg(sum("rows")).head().getLong(0)
    assert(manifestRows == 4L,
      s"manifest under-reads after recovery: $manifestRows")
  }

  test("collect --stream drains a JSONL inbox with auto-derived sizing " +
    "in the report; --auto-size=false opts out") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_stream_cli").toFile
    new File(dir, "config").mkdirs()
    val inbox = new File(dir, "inbox"); inbox.mkdirs()
    // 3 arrival files of 40 rows each
    val src = spark.range(120).select(
      col("id").as("event_id"),
      expr("timestamp'2024-07-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60)")
        .cast("string").as("ts"),
      concat(lit("k"), col("id") % 5).as("kind"))
    for (i <- 0 until 3)
      src.where(col("event_id") % 3 === i)
        .coalesce(1).write.mode("append").json(inbox.getPath)
    write(new File(dir, "config/stream.tpc"),
      s"""table "clicks" {
         |  column "tp_timestamp" {
         |    source = "ts"
         |  }
         |  column "event_id" { type = "bigint" }
         |  column "kind" { type = "varchar" }
         |}
         |
         |partition "clicks" "live" {
         |  source "file" {
         |    paths = ["${inbox.getPath}"]
         |  }
         |}
         |""".stripMargin)
    val (rc, msg) = cli(dir, "collect", "clicks.live", "--stream")
    assert(rc == 0, msg)
    // the auto-derived sizes are part of the collect report: the tiny
    // inbox fits one trigger's byte budget, so all files batch together
    assert(msg.contains("Stream sizing (auto): 3 files"), msg)
    assert(msg.contains("files/trigger"), msg)
    assert(msg.contains("Collected clicks.live (stream): 120 rows"), msg)
    // replay is exactly-once: a second drain adds nothing
    val (rc2, msg2) = cli(dir, "collect", "clicks.live", "--stream")
    assert(rc2 == 0 && msg2.contains(
      "Collected clicks.live (stream): 0 rows"), msg2)
    // opt-out: no sizing line, fixed files-per-trigger
    val inbox2 = new File(dir, "inbox2"); inbox2.mkdirs()
    src.coalesce(1).write.mode("append").json(inbox2.getPath)
    write(new File(dir, "config/stream2.tpc"),
      s"""table "clicks2" {
         |  column "tp_timestamp" {
         |    source = "ts"
         |  }
         |}
         |partition "clicks2" "live" {
         |  source "file" {
         |    paths = ["${inbox2.getPath}"]
         |  }
         |}
         |""".stripMargin)
    val (rc3, msg3) = cli(dir, "collect", "clicks2.live", "--stream",
      "--auto-size", "false")
    assert(rc3 == 0, msg3)
    assert(!msg3.contains("Stream sizing"), msg3)
    assert(msg3.contains("Collected clicks2.live (stream): 120 rows"), msg3)
  }

  test("collect --stream schema sample spans the inbox: a column " +
    "present only in LATE files reaches the lake (and a declared " +
    "column missing from the sample fails loudly)") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_stream_het").toFile
    new File(dir, "config").mkdirs()
    val inbox = new File(dir, "inbox"); inbox.mkdirs()
    // 5 arrival files; only the LAST carries `region` — the old
    // 2-files-by-mtime inference dropped it silently for every row
    for (i <- 0 until 5) {
      val extra = i == 4
      val f = new File(inbox, s"chunk$i.json")
      val w = new PrintWriter(f)
      try (0 until 10).foreach { j =>
        val id = i * 10 + j
        w.println(s"""{"event_id": $id, "ts": "2024-07-0${i + 1} 10:00:00"""" +
          (if (extra) s""", "region": "r${id % 3}"}""" else "}"))
      } finally w.close()
      f.setLastModified(1720000000000L + i * 60000L); ()
    }
    write(new File(dir, "config/het.tpc"),
      s"""table "het" {
         |  column "tp_timestamp" {
         |    source = "ts"
         |  }
         |}
         |partition "het" "live" {
         |  source "file" {
         |    paths = ["${inbox.getPath}"]
         |  }
         |}
         |""".stripMargin)
    val (rc, msg) = cli(dir, "collect", "het.live", "--stream")
    assert(rc == 0, msg)
    assert(msg.contains("Collected het.live (stream): 50 rows"), msg)
    val t = graft.lake.Lake(s"${dir.getPath}/lake").read(spark, "het")
    assert(t.columns.contains("region"),
      s"late-file column dropped: ${t.columns.mkString(",")}")
    assert(t.where(col("region").isNotNull).count() == 10)
    // declared-but-absent source column: loud failure, not null lake
    write(new File(dir, "config/het2.tpc"),
      s"""table "het2" {
         |  column "tp_timestamp" {
         |    source = "ts"
         |  }
         |  column "missing_col" { type = "varchar" }
         |}
         |partition "het2" "live" {
         |  source "file" {
         |    paths = ["${inbox.getPath}"]
         |  }
         |}
         |""".stripMargin)
    val (rc2, msg2) = cli(dir, "collect", "het2.live", "--stream")
    assert(rc2 == 1 && msg2.contains("missing_col"), s"$rc2: $msg2")
  }

  test("table analyze registers + syncs catalog stats from the " +
    "manifest without a scan") {
    val (rc, msg) = cli(root, "table", "analyze", "access_log")
    assert(rc == 0, msg)
    // first line is the table-level sync; the collect-time
    // stats_columns default (r16) means per-column lines follow
    assert(msg.linesIterator.next().matches(
      """Analyzed access_log: 3 rows, ~\d+ bytes \(from manifest, no scan\)"""),
      msg)
    assert(msg.contains("column tp_index: ~1 distinct"), msg)
    // idempotent: a second analyze re-syncs (no ALREADY_EXISTS from
    // the registration step)
    val (rc2, msg2) = cli(root, "table", "analyze", "access_log")
    assert(rc2 == 0 && msg2.contains("3 rows"), msg2)
    val (rcBad, bad) = cli(root, "table", "analyze", "no_such")
    assert(rcBad == 1, bad)
    // --columns: enables the incremental HLL sidecar and reports the
    // merged per-column stats; a later plain analyze keeps reporting
    // them (merge is scan-free, enablement persists)
    val (rc3, msg3) = cli(root, "table", "analyze", "access_log",
      "--columns", "ip_address,status_code")
    assert(rc3 == 0, msg3)
    assert(msg3.contains(
      "column ip_address: ~3 distinct, 0 null"), msg3)
    assert(msg3.contains(
      "column status_code: ~2 distinct, 0 null"), msg3)
    val (rc4, msg4) = cli(root, "table", "analyze", "access_log")
    assert(rc4 == 0 && msg4.contains("column ip_address: ~3"), msg4)
    val (rcNc, badCol) = cli(root, "table", "analyze", "access_log",
      "--columns", "nope")
    assert(rcNc == 1 && badCol.contains("nope"), badCol)
  }

  test("export writes balanced shuffled shards with a manifest") {
    val dir = Files.createTempDirectory("graft_export_cli").toFile
    val out = s"${dir.getPath}/shards"
    val (rc, msg) = cli(root, "export", "access_log", out,
      "--shards", "2", "--id-column", "tp_timestamp", "--seed", "7")
    assert(rc == 0, msg)
    assert(msg.contains(s"Exported access_log to $out (2 shards)"), msg)
    assert(msg.contains("n_docs"), msg)
    val written = spark.read.parquet(out)
    assert(written.count() == 3)
    assert(written.select("shard").distinct().count() == 2)
    // missing id column fails loudly, rc=1
    val (rcBad, bad) = cli(root, "export", "access_log",
      s"${dir.getPath}/bad", "--shards", "2", "--id-column", "nope")
    assert(rcBad == 1 && bad.contains("nope"), bad)
  }

  test("dedup reports exact groups and near-dup clusters") {
    val dir = Files.createTempDirectory("graft_dedup_cli").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "notes").mkdirs()
    write(new File(dir, "notes/notes.csv"),
      """timestamp,note_id,note
        |2024-05-01T10:00:00Z,1,the quick brown fox jumps over the lazy dog in the warm sun today
        |2024-05-01T10:01:00Z,2,the quick brown fox jumps over the lazy dog in the warm sun today
        |2024-05-01T10:02:00Z,3,the quick brown fox jumps over the lazy dog in the warm sun yesterday evening
        |2024-05-01T10:03:00Z,4,completely unrelated content about spark streaming state management
        |""".stripMargin)
    write(new File(dir, "config/notes.tpc"),
      s"""format "delimited" "notes" {
         |  delimiter = ","
         |  header = true
         |}
         |
         |table "notes" {
         |  format = format.delimited.notes
         |  column "tp_timestamp" { source = "timestamp" }
         |  column "note_id" { type = "bigint" }
         |  column "note" { type = "varchar" }
         |}
         |
         |partition "notes" "local" {
         |  source "file" {
         |    format = format.delimited.notes
         |    paths = ["${dir.getPath}/notes/"]
         |    file_layout = "notes.csv"
         |  }
         |}
         |""".stripMargin)
    val (rcC, outC) = cli(dir, "collect", "notes.local")
    assert(rcC == 0, outC)
    val (rc1, exact) = cli(dir, "dedup", "notes",
      "--id-column", "note_id", "--text-column", "note")
    assert(rc1 == 0, exact)
    assert(exact.contains("4 rows, 1 duplicate groups, 1 redundant rows"),
      exact)
    val (rc2, near) = cli(dir, "dedup", "notes",
      "--id-column", "note_id", "--text-column", "note",
      "--mode", "near", "--threshold", "0.6")
    assert(rc2 == 0, near)
    // notes 1,2,3 cluster (1,2 identical; 3 a near-copy); 4 alone
    assert(near.contains("1 near-dup clusters"), near)
    assert(near.contains("2 droppable rows"), near)
    // keep=best: quality-canonical keeper policy. All three cluster
    // members score the capped quality 1.0 here, so the id tiebreak
    // keeps note 1 — the policy itself (higher quality beats smaller
    // id) is pinned by ComponentsSpec.canonicalBy
    val (rcB, best) = cli(dir, "dedup", "notes",
      "--id-column", "note_id", "--text-column", "note",
      "--mode", "near", "--threshold", "0.6", "--keep", "best")
    assert(rcB == 0, best)
    assert(best.contains("1 near-dup clusters"), best)
    assert(best.contains("keep=best"), best)
    assert(best.contains("keep_quality"), best)
    assert("\\|\\s*1\\s*\\|\\s*1(\\.0)?\\s*\\|\\s*$".r
      .findFirstIn(best.linesIterator
        .find(_.contains("| 3")).getOrElse("")).isDefined, best)
    // --pairs-out persists the verified pair list; --pairs-in reuses it
    // (identical cluster report without re-running the sketch chain)
    val pairsDir = s"${dir.getPath}/pairs"
    val (rcPO, po) = cli(dir, "dedup", "notes",
      "--id-column", "note_id", "--text-column", "note",
      "--mode", "near", "--threshold", "0.6", "--pairs-out", pairsDir)
    assert(rcPO == 0, po)
    assert(po.contains(s"Verified pairs written to $pairsDir"), po)
    assert(po.contains("1 near-dup clusters"), po)
    val (rcPI, pi) = cli(dir, "dedup", "notes",
      "--id-column", "note_id", "--text-column", "note",
      "--mode", "near", "--threshold", "0.6", "--pairs-in", pairsDir)
    assert(rcPI == 0, pi)
    assert(pi.contains("1 near-dup clusters") &&
      pi.contains("2 droppable rows"), pi)
    // --pairs-out wrote a manifest; --pairs-in validates it (ADVICE
    // r10): a LOWER threshold cannot be served from stored pairs...
    assert(new File(pairsDir, "_pairs_manifest.json").isFile)
    val (rcLo, lo) = cli(dir, "dedup", "notes",
      "--id-column", "note_id", "--text-column", "note",
      "--mode", "near", "--threshold", "0.4", "--pairs-in", pairsDir)
    assert(rcLo == 1 && lo.contains("cannot serve"), lo)
    // ...a HIGHER one filters the stored jaccard (the identical
    // cluster here survives 0.7; the direction is what's pinned)
    val (rcHi, hi) = cli(dir, "dedup", "notes",
      "--id-column", "note_id", "--text-column", "note",
      "--mode", "near", "--threshold", "0.7", "--pairs-in", pairsDir)
    assert(rcHi == 0, hi)
    // ...a manifest-less dir is refused, not silently trusted...
    new File(pairsDir, "_pairs_manifest.json").delete()
    val (rcNoMf, noMf) = cli(dir, "dedup", "notes",
      "--id-column", "note_id", "--text-column", "note",
      "--mode", "near", "--threshold", "0.6", "--pairs-in", pairsDir)
    assert(rcNoMf == 1 && noMf.contains("_pairs_manifest.json"), noMf)
    // ...and a table that changed since --pairs-out fails the
    // source-fingerprint check instead of reporting stale clusters
    val (rcPO2, _) = cli(dir, "dedup", "notes",
      "--id-column", "note_id", "--text-column", "note",
      "--mode", "near", "--threshold", "0.6", "--pairs-out", pairsDir)
    assert(rcPO2 == 0)
    val (rcC2, outC2) = cli(dir, "collect", "notes.local", "--overwrite")
    assert(rcC2 == 0, outC2)
    val (rcStale, stale) = cli(dir, "dedup", "notes",
      "--id-column", "note_id", "--text-column", "note",
      "--mode", "near", "--threshold", "0.6", "--pairs-in", pairsDir)
    assert(rcStale == 1 && stale.contains("fingerprint"), stale)
    // bad column fails loudly
    val (rc3, bad) = cli(dir, "dedup", "notes",
      "--id-column", "nope", "--text-column", "note")
    assert(rc3 == 1 && bad.contains("nope"), bad)
    // --tune: the LSH banding planner needs no table and recommends
    // the shipped 32x4 split for the default 128-hash/0.8 target
    val (rcT, tuneOut) = cli(dir, "dedup", "--tune")
    assert(rcT == 0, tuneOut)
    assert(tuneOut.contains("Recommended: 32 bands x 4 rows"), tuneOut)
    // profile over the same table: summary + language mix + top terms
    val (rc4, prof) = cli(dir, "profile", "notes",
      "--text-column", "note", "--top", "3")
    assert(rc4 == 0, prof)
    assert(prof.contains("Table notes: 4 docs"), prof)
    assert(prof.contains("lang"), prof)
    assert(prof.contains("the"), prof) // top term of the fox corpus
    // --readability: the Flesch/FK distribution table renders
    val (rcR, profR) = cli(dir, "profile", "notes",
      "--text-column", "note", "--readability")
    assert(rcR == 0, profR)
    assert(profR.contains("flesch_median") && profR.contains("fk_median"),
      profR)
    // substring mode: notes 2 and 3 are covered by note 1's 8-gram
    // spans (14/14 and 13/15 tokens respectively)
    val (rcS, sub) = cli(dir, "dedup", "notes",
      "--id-column", "note_id", "--text-column", "note",
      "--mode", "substring", "--k", "8")
    assert(rcS == 0, sub)
    assert(sub.contains(
      "2 docs carry duplicated >=8-token spans, 27 of their 29 tokens " +
        "removable (substring)"), sub)
    // profile --rules: per-gate pass rates of the C4/Gopher pack
    val (rc7, rules) = cli(dir, "profile", "notes",
      "--text-column", "note", "--rules")
    assert(rc7 == 0, rules)
    assert(rules.contains("keep_gopher"), rules)
    assert(rules.contains("sentences_3plus"), rules)
    // profile --ppl + --bpe: perplexity spread and learned merges
    val (rc8, deep) = cli(dir, "profile", "notes",
      "--text-column", "note", "--ppl", "--bpe", "2")
    assert(rc8 == 0, deep)
    assert(deep.contains("ppl_median"), deep)
    assert(deep.contains("merge_rank"), deep)
    // e-final words dominate ('the' x9): round 1 merges (e, </w>)
    assert(deep.linesIterator.exists(l =>
      l.contains("| 1 ") && l.contains("| e ") && l.contains("| </w> ")),
      deep)
    // profile --buckets: per-language CCNet terciles — 4 en docs split
    // head/middle/tail with 2/1/1 (ntile remainder to the head)
    val (rc9, buck) = cli(dir, "profile", "notes",
      "--text-column", "note", "--buckets")
    assert(rc9 == 0, buck)
    assert(buck.contains("bucket") && buck.contains("head"), buck)
    assert(buck.contains("middle") && buck.contains("tail"), buck)
    // profile --vocab + --batching: lexical diversity and padding waste
    val (rc10, vb) = cli(dir, "profile", "notes",
      "--text-column", "note", "--vocab", "--batching", "8")
    assert(rc10 == 0, vb)
    assert(vb.contains("n_types") && vb.contains("hapax_ratio"), vb)
    assert(vb.contains("bucket_lo") && vb.contains("pad_waste_pct"), vb)
    // profile --novelty: corpus-redundancy dashboard — notes 2 and 3
    // repeat note 1's fox phrasing, so mean novelty sits well below 1
    val (rcN, nov) = cli(dir, "profile", "notes",
      "--text-column", "note", "--novelty")
    assert(rcN == 0, nov)
    assert(nov.contains("novelty_mean") &&
      nov.contains("share_below_0_1"), nov)
    // dedup --mode incremental: first run builds the index, second run
    // reports everything as already seen and keeps the index current
    val idxDir = s"${dir.getPath}/digest_idx"
    val (rc11, inc1) = cli(dir, "dedup", "notes",
      "--id-column", "note_id", "--text-column", "note",
      "--mode", "incremental", "--index", idxDir)
    assert(rc11 == 0, inc1)
    assert(inc1.contains("index created") && inc1.contains("all rows new"),
      inc1)
    val (rc12, inc2) = cli(dir, "dedup", "notes",
      "--id-column", "note_id", "--text-column", "note",
      "--mode", "incremental", "--index", idxDir)
    assert(rc12 == 0, inc2)
    assert(inc2.contains("0 new vs index"), inc2)
    // retention: age out the first two notes (before 10:02), keep two
    val (rc5, ret) = cli(dir, "retention", "notes",
      "--older-than", "2024-05-01T10:02:00")
    assert(rc5 == 0, ret)
    assert(ret.contains("Retention notes: removed 2 rows"), ret)
    val (_, count) = cli(dir, "query",
      "select count(*) as n from notes", "--output", "csv")
    assert(count == "n\n2", count)
    // missing cutoff fails loudly
    val (rc6, bad2) = cli(dir, "retention", "notes")
    assert(rc6 == 1 && bad2.contains("older-than"), bad2)
  }

  test("curate runs the funnel and writes survivors") {
    val dir = Files.createTempDirectory("graft_curate_cli").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "notes").mkdirs()
    write(new File(dir, "notes/notes.csv"),
      """timestamp,note_id,note
        |2024-05-01T10:00:00Z,1,the quick brown fox jumps over the lazy dog in the warm sun today
        |2024-05-01T10:01:00Z,2,the quick brown fox jumps over the lazy dog in the warm sun today
        |2024-05-01T10:02:00Z,3,the quick brown fox jumps over the lazy dog in the warm sun yesterday evening
        |2024-05-01T10:03:00Z,4,completely unrelated content about spark streaming state management
        |""".stripMargin)
    write(new File(dir, "config/notes.tpc"),
      s"""format "delimited" "notes" {
         |  delimiter = ","
         |  header = true
         |}
         |
         |table "notes" {
         |  format = format.delimited.notes
         |  column "tp_timestamp" { source = "timestamp" }
         |  column "note_id" { type = "bigint" }
         |  column "note" { type = "varchar" }
         |}
         |
         |partition "notes" "local" {
         |  source "file" {
         |    format = format.delimited.notes
         |    paths = ["${dir.getPath}/notes/"]
         |    file_layout = "notes.csv"
         |  }
         |}
         |""".stripMargin)
    val (rcC, outC) = cli(dir, "collect", "notes.local")
    assert(rcC == 0, outC)
    // near dedup folds {1,2,3} to note 1; note 4 untouched
    val out1 = new File(dir, "curated1").getPath
    val (rc1, rep1) = cli(dir, "curate", "notes", out1,
      "--id-column", "note_id", "--text-column", "note",
      "--gates", "none", "--dedup", "near", "--threshold", "0.6")
    assert(rc1 == 0, rep1)
    assert(rep1.contains("Curate notes: 4 docs"), rep1)
    assert(rep1.contains("dedup (near): 4 -> 2"), rep1)
    assert(rep1.contains("Wrote 2 docs"), rep1)
    val ids = spark.read.parquet(out1)
      .select("note_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 4L))
    // the Gopher gate honestly rejects the fox corpus (one stopword of
    // the required eight, far under 50 words)
    val (rc2, rep2) = cli(dir, "curate", "notes",
      new File(dir, "curated2").getPath,
      "--id-column", "note_id", "--text-column", "note",
      "--gates", "gopher", "--dedup", "none")
    assert(rc2 == 0, rep2)
    assert(rep2.contains("rules (gopher): 4 -> 0"), rep2)
    assert(rep2.contains("Wrote 0 docs"), rep2)
    // perplexity tercile selection: head of each language survives
    val (rc3, rep3) = cli(dir, "curate", "notes",
      new File(dir, "curated3").getPath,
      "--id-column", "note_id", "--text-column", "note",
      "--gates", "none", "--dedup", "none", "--buckets", "head")
    assert(rc3 == 0, rep3)
    assert(rep3.contains("buckets (head):"), rep3)
    // bad selector fails loudly
    val (rc4, rep4) = cli(dir, "curate", "notes",
      new File(dir, "curated4").getPath,
      "--id-column", "note_id", "--text-column", "note",
      "--buckets", "heads")
    assert(rc4 == 1 && rep4.contains("head,middle,tail"), rep4)
    // decontamination stage: redacting against ITSELF covers every
    // 3-gram, so all docs collapse to empty and are dropped — the
    // loudest possible proof the span redaction ran
    val (rcD, repD) = cli(dir, "curate", "notes",
      new File(dir, "curatedD").getPath,
      "--id-column", "note_id", "--text-column", "note",
      "--gates", "none", "--dedup", "none", "--decontaminate", "notes")
    assert(rcD == 0, repD)
    assert(repD.contains("decontaminate (vs notes): 4 -> 0"), repD)
    // NB classifier gate: seed-label exactly note 1 (by its text
    // value); notes 2-3 share its fox vocabulary and score positive,
    // note 4's disjoint vocabulary scores negative and is filtered
    val (rc5, rep5) = cli(dir, "curate", "notes",
      new File(dir, "curated5").getPath,
      "--id-column", "note_id", "--text-column", "note",
      "--gates", "none", "--dedup", "none",
      "--classify-column", "note", "--classify-seeds",
      "the quick brown fox jumps over the lazy dog in the warm sun today")
    assert(rc5 == 0, rep5)
    // notes 1-3 share the fox vocabulary -> positive log-odds; note 4's
    // vocabulary lives in the negative class -> filtered out
    assert(rep5.contains("classify (note in"), rep5)
    assert(rep5.contains(": 4 -> 3"), rep5)
    val ids5 = spark.read.parquet(new File(dir, "curated5").getPath)
      .select("note_id").collect().map(_.getLong(0)).toSet
    assert(ids5 === Set(1L, 2L, 3L))
    // --classify-seeds without --classify-column fails loudly
    val (rc6, rep6) = cli(dir, "curate", "notes",
      new File(dir, "curated6").getPath,
      "--id-column", "note_id", "--text-column", "note",
      "--classify-seeds", "x")
    assert(rc6 == 1 && rep6.contains("--classify-column"), rep6)

    // domain cap: every note shares tp_partition="local" — cap 2 keeps
    // the 2 longest texts (note 3's longer tail at 78 chars, then
    // note 4 at 67; the 66-char fox twins lose)
    val out7 = new File(dir, "curated7").getPath
    val (rc7, rep7) = cli(dir, "curate", "notes", out7,
      "--id-column", "note_id", "--text-column", "note",
      "--gates", "none", "--dedup", "none",
      "--domain-column", "tp_partition", "--domain-cap", "2")
    assert(rc7 == 0, rep7)
    assert(rep7.contains("domain-cap (tp_partition <= 2): 4 -> 2"), rep7)
    val ids7 = spark.read.parquet(out7)
      .select("note_id").collect().map(_.getLong(0)).toSet
    assert(ids7 === Set(3L, 4L))
    // epoch mixing: 1.5 epochs of the one domain -> floor 1 copy per
    // doc plus an md5 coin for the half — deterministic, so the count
    // is stable; every emitted row carries epoch_copy
    val out8 = new File(dir, "curated8").getPath
    val (rc8, rep8) = cli(dir, "curate", "notes", out8,
      "--id-column", "note_id", "--text-column", "note",
      "--gates", "none", "--dedup", "none",
      "--domain-column", "tp_partition", "--epochs", "local=1.5")
    assert(rc8 == 0, rep8)
    assert(rep8.contains("epochs (local=1.5): 4 -> "), rep8)
    val mixed = spark.read.parquet(out8)
    assert(mixed.columns.contains("epoch_copy"))
    val n8 = mixed.count()
    assert(n8 >= 4 && n8 <= 8, s"realized $n8 of 4 docs at 1.5 epochs")
    // every original doc is represented at least once
    assert(mixed.select("note_id").distinct().count() == 4)
    // --domain-cap without --domain-column fails loudly
    val (rc9, rep9) = cli(dir, "curate", "notes",
      new File(dir, "curated9").getPath,
      "--id-column", "note_id", "--text-column", "note",
      "--domain-cap", "2")
    assert(rc9 == 1 && rep9.contains("--domain-column"), rep9)
  }

  test("sessions reports gap-based visits over a collected table") {
    val dir = Files.createTempDirectory("graft_sessions_cli").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "visits").mkdirs()
    // user u1: 2 events 5 min apart, then one 40 min later -> 2 sessions
    // user u2: 1 event -> 1 session
    write(new File(dir, "visits/visits.csv"),
      """timestamp,who,amount
        |2024-05-01T10:00:00Z,u1,1.5
        |2024-05-01T10:05:00Z,u1,2.5
        |2024-05-01T10:45:00Z,u1,4.0
        |2024-05-01T09:00:00Z,u2,7.0
        |""".stripMargin)
    write(new File(dir, "config/visits.tpc"),
      s"""format "delimited" "visits" {
         |  delimiter = ","
         |  header = true
         |}
         |
         |table "visits" {
         |  format = format.delimited.visits
         |  column "tp_timestamp" { source = "timestamp" }
         |  column "who" { type = "varchar" }
         |  column "amount" { type = "double" }
         |}
         |
         |partition "visits" "local" {
         |  source "file" {
         |    format = format.delimited.visits
         |    paths = ["${dir.getPath}/visits/"]
         |    file_layout = "visits.csv"
         |  }
         |}
         |""".stripMargin)
    val (rcC, outC) = cli(dir, "collect", "visits.local")
    assert(rcC == 0, outC)
    val (rc, rep) = cli(dir, "sessions", "visits",
      "--user-column", "who", "--value-column", "amount")
    assert(rc == 0, rep)
    assert(rep.contains("4 events, 3 sessions across 2 users (gap 1800s)"),
      rep)
    // the 2-event session: 2 events over 300 s, amounts summed to 4
    assert(rep.contains("| 2        | 300        | 4         |"), rep)
    // without --value-column the sum column is absent
    val (rc2, rep2) = cli(dir, "sessions", "visits", "--user-column", "who")
    assert(rc2 == 0 && !rep2.contains("sum_value"), rep2)
    // unknown column fails loudly
    val (rc3, rep3) = cli(dir, "sessions", "visits",
      "--user-column", "nope")
    assert(rc3 == 1 && rep3.contains("not found"), rep3)
  }

  test("profile survives a table whose text values are all NULL") {
    val dir = Files.createTempDirectory("graft_profile_null").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "blank").mkdirs()
    // empty CSV fields parse as NULL: every note is NULL, so the token
    // sum and the avg aggregates all come back NULL (not zero)
    write(new File(dir, "blank/blank.csv"),
      """timestamp,note_id,note
        |2024-05-01T10:00:00Z,1,
        |2024-05-01T10:01:00Z,2,
        |""".stripMargin)
    write(new File(dir, "config/blank.tpc"),
      s"""format "delimited" "blank" {
         |  delimiter = ","
         |  header = true
         |}
         |
         |table "blank" {
         |  format = format.delimited.blank
         |  column "tp_timestamp" { source = "timestamp" }
         |  column "note_id" { type = "bigint" }
         |  column "note" { type = "varchar" }
         |}
         |
         |partition "blank" "local" {
         |  source "file" {
         |    format = format.delimited.blank
         |    paths = ["${dir.getPath}/blank/"]
         |    file_layout = "blank.csv"
         |  }
         |}
         |""".stripMargin)
    val (rcC, outC) = cli(dir, "collect", "blank.local")
    assert(rcC == 0, outC)
    val (rc, prof) = cli(dir, "profile", "blank", "--text-column", "note")
    assert(rc == 0, prof)
    assert(prof.contains("Table blank: 2 docs, 0 tokens"), prof)
  }

  // ---- process source: out-of-process plugin boundary ----------------

  /** Fresh fixture root with a `source "process"` partition whose
    * command is the given shell script body.
    */
  private def processRoot(script: String, chunkRows: Int = 2): File = {
    val dir = Files.createTempDirectory("graft_proc").toFile
    new File(dir, "config").mkdirs()
    val sh = new File(dir, "emit.sh")
    write(sh, script)
    write(new File(dir, "config/events.tpc"),
      s"""table "proc_events" {
         |  column "tp_timestamp" {
         |    source = "timestamp"
         |  }
         |  column "n" { type = "integer" }
         |}
         |
         |partition "proc_events" "child" {
         |  source "process" {
         |    command = "sh ${sh.getPath}"
         |    chunk_rows = $chunkRows
         |  }
         |}
         |""".stripMargin)
    dir
  }

  test("process source: collect streams child stdout JSONL in chunks") {
    val dir = processRoot(
      """i=1
        |while [ $i -le 5 ]; do
        |  echo "{\"timestamp\": \"2024-05-01T10:3$i:00Z\", \"n\": $i}"
        |  i=$((i+1))
        |done
        |""".stripMargin)
    val (rc, out) = cli(dir, "collect", "proc_events.child")
    assert(rc == 0, out)
    // live progress: Started, per-chunk staging events, Complete
    assert(out.contains("Collection started: proc_events.child (source process)"), out)
    assert(out.contains("chunk 0: 2 rows staged"), out)
    assert(out.contains("chunk 1: 2 rows staged"), out)
    assert(out.contains("chunk 2: 1 rows staged"), out)
    assert(out.contains("Collected proc_events.child: 5 rows"), out)
    val (rcQ, csv) = cli(dir, "query",
      "select n from proc_events order by tp_timestamp", "--output", "csv")
    assert(rcQ == 0, csv)
    assert(csv == "n\n1\n2\n3\n4\n5", csv)
  }

  test("collect --progress=false silences the event stream, keeps the result line") {
    val dir = processRoot(
      """echo "{\"timestamp\": \"2024-05-01T10:31:00Z\", \"n\": 1}"
        |echo "{\"timestamp\": \"2024-05-01T10:32:00Z\", \"n\": 2}"
        |""".stripMargin)
    val (rc, out) = cli(dir, "collect", "proc_events.child", "--progress", "false")
    assert(rc == 0, out)
    assert(!out.contains("Collection started"), out)
    assert(!out.contains("rows staged"), out)
    assert(out.contains("Collected proc_events.child: 2 rows"), out)
  }

  test("process source: child crash keeps CLI alive, ingests complete chunks") {
    val dir = processRoot(
      """echo "{\"timestamp\": \"2024-05-01T10:31:00Z\", \"n\": 1}"
        |echo "{\"timestamp\": \"2024-05-01T10:32:00Z\", \"n\": 2}"
        |echo "{\"timestamp\": \"2024-05-01T10:33:00Z\", \"n\": 3}"
        |echo "boom: upstream API 500" >&2
        |exit 3
        |""".stripMargin)
    val (rc, out) = cli(dir, "collect", "proc_events.child")
    // clean error path: rc=1, no stack trace, cause + stderr tail shown
    assert(rc == 1, out)
    assert(out.contains("exited with code 3"), out)
    assert(out.contains("boom: upstream API 500"), out)
    // chunk_rows=2: one COMPLETE chunk (rows 1,2) staged before the
    // crash — ingested; the in-flight partial (row 3) discarded
    assert(out.contains("Collected proc_events.child: 2 rows (partial, from 1 complete chunks)"), out)
    val (rcQ, csv) = cli(dir, "query",
      "select n from proc_events order by n", "--output", "csv")
    assert(rcQ == 0, csv)
    assert(csv == "n\n1\n2", csv)
    // resume state advanced only to the max INGESTED timestamp: a
    // re-collect (with a fixed child) re-reads from after row 2, so
    // row 3 is NOT skipped forever
    val st = graft.ingest.CollectionState.read(spark,
      graft.lake.Lake(s"${dir.getPath}/lake"), "proc_events", "child")
    assert(st.isDefined)
    assert(st.get.resumeFrom.before(
      java.sql.Timestamp.valueOf("2024-05-01 10:33:00")), st)
  }

  test("process source: total child failure reports error, ingests nothing") {
    val dir = processRoot("exit 7\n")
    val (rc, out) = cli(dir, "collect", "proc_events.child")
    assert(rc == 1, out)
    assert(out.contains("exited with code 7"), out)
    assert(!out.contains("partial"), out)
  }

  test("process config validation: chunk_rows and command checked at load") {
    val dir = processRoot("true\n", chunkRows = 0)
    val (rc, out) = cli(dir, "collect", "proc_events.child")
    assert(rc == 1, out)
    assert(out.contains("chunk_rows must be positive"), out)

    val dir2 = Files.createTempDirectory("graft_proc").toFile
    new File(dir2, "config").mkdirs()
    write(new File(dir2, "config/bad.tpc"),
      """table "t" { column "tp_timestamp" { source = "ts" } }
        |partition "t" "p" {
        |  source "process" {
        |  }
        |}
        |""".stripMargin)
    val (rc2, out2) = cli(dir2, "collect", "t.p")
    assert(rc2 == 1, out2)
    assert(out2.contains("requires command"), out2)
  }

  test("connection block plumbs Hadoop conf: collect from a faked remote scheme") {
    // a fake:// URI is unreadable without the connection installing
    // fs.fake.impl into the session Hadoop conf — the same dependency
    // chain an s3a:// source has on its credentials
    val dir = Files.createTempDirectory("graft_conn").toFile
    new File(dir, "config").mkdirs()
    write(new File(dir, "remote.jsonl"),
      """{"timestamp": "2024-05-01T10:31:00Z", "n": 1}
        |{"timestamp": "2024-05-01T10:32:00Z", "n": 2}
        |""".stripMargin)
    write(new File(dir, "config/remote.tpc"),
      s"""connection "remote" "fake" {
         |  hadoop.fs.fake.impl = "graft.cli.FakeRemoteFileSystem"
         |}
         |
         |table "remote_events" {
         |  column "tp_timestamp" { source = "timestamp" }
         |  column "n" { type = "integer" }
         |}
         |
         |partition "remote_events" "r" {
         |  source "file" {
         |    connection = connection.remote.fake
         |    paths = ["fake://${dir.getPath}/remote.jsonl"]
         |  }
         |}
         |""".stripMargin)
    val (rc, out) = cli(dir, "collect", "remote_events.r")
    assert(rc == 0, out)
    assert(out.contains("Using connection remote.fake"), out)
    assert(out.contains("Collected remote_events.r: 2 rows"), out)
    val (rcQ, csv) = cli(dir, "query",
      "select n from remote_events order by n", "--output", "csv")
    assert(rcQ == 0, csv)
    assert(csv == "n\n1\n2", csv)
  }

  test("unknown connection ref fails with the defined set listed") {
    val dir = Files.createTempDirectory("graft_conn").toFile
    new File(dir, "config").mkdirs()
    write(new File(dir, "config/c.tpc"),
      """connection "s3" "prod" { access_key = "AK" }
        |table "t" { column "tp_timestamp" { source = "ts" } }
        |partition "t" "p" {
        |  source "file" {
        |    connection = connection.s3.staging
        |    paths = ["/nope"]
        |  }
        |}
        |""".stripMargin)
    val (rc, out) = cli(dir, "collect", "t.p")
    assert(rc == 1, out)
    assert(out.contains("unknown connection 's3.staging'"), out)
    assert(out.contains("s3.prod"), out)
  }

  test("vacuum command: --backup snapshots, --restore replays") {
    val (rc, out) = cli(root, "vacuum", "access_log", "--backup")
    assert(rc == 0, out)
    assert(out.contains("Backed up manifest for access_log to "), out)
    assert(out.contains("Vacuumed access_log"), out)
    val (rc2, out2) = cli(root, "vacuum", "access_log", "--restore")
    assert(rc2 == 0, out2)
    assert(out2.contains("Restored manifest for access_log from "), out2)
    val (rc3, csv) = cli(root, "query",
      "select count(*) as n from access_log", "--output", "csv")
    assert(rc3 == 0, csv)
    assert(csv == "n\n3", csv)
  }

  test("columnar drop formats: collect from ORC and parquet files") {
    val dir = Files.createTempDirectory("graft_cli_orc").toFile
    new File(dir, "config").mkdirs()
    import org.apache.spark.sql.functions._
    val rows = spark.range(4).select(
      expr("timestamp '2024-06-01 08:00:00' + make_interval(0,0,0,0,id,0,0)")
        .as("ts"),
      concat(lit("msg"), col("id")).as("msg"))
    rows.coalesce(1).write.orc(s"${dir.getPath}/drops_orc")
    rows.coalesce(1).write.parquet(s"${dir.getPath}/drops_pq")
    write(new File(dir, "config/drops.tpc"),
      s"""format "orc" "drops" { }
         |format "parquet" "drops" { }
         |table "audit" {
         |  column "tp_timestamp" { source = "ts" }
         |  column "msg" { type = "varchar" }
         |}
         |partition "audit" "orc" {
         |  source "file" {
         |    format = format.orc.drops
         |    paths = ["${dir.getPath}/drops_orc/"]
         |    file_layout = "part-%{DATA:x}.orc"
         |  }
         |}
         |partition "audit" "pq" {
         |  source "file" {
         |    format = format.parquet.drops
         |    paths = ["${dir.getPath}/drops_pq/"]
         |    file_layout = "part-%{DATA:x}.parquet"
         |  }
         |}
         |""".stripMargin)
    val (rc1, out1) = cli(dir, "collect", "audit.orc")
    assert(rc1 == 0, out1)
    assert(out1.contains("Collected audit.orc: 4 rows"), out1)
    val (rc2, out2) = cli(dir, "collect", "audit.pq")
    assert(rc2 == 0, out2)
    assert(out2.contains("Collected audit.pq: 4 rows"), out2)
    val (rc3, csv) = cli(dir, "query",
      "select tp_partition, count(*) as n from audit group by 1 order by 1",
      "--output", "csv")
    assert(rc3 == 0, csv)
    assert(csv == "tp_partition,n\norc,4\npq,4", csv)
  }

  test("vacuum --restore with no backup is a clean rc=1 error") {
    val (rc, out) = cli(root, "vacuum", "never_backed_up", "--restore")
    assert(rc == 1, out)
    assert(out.contains("Error:") && out.contains("no manifest backup"), out)
  }

  test("compact --reindex migrates tp_index after a config change") {
    // own fixture: reindex mutates the lake, the shared root is
    // read-only for query tests
    val dir = Files.createTempDirectory("graft_cli_reindex").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "logs").mkdirs()
    write(new File(dir, "logs/access_log.csv"),
      """timestamp,ip_address,status_code
        |2024-05-01T10:30:45Z,192.168.1.1,200
        |2024-05-01T10:31:00Z,192.168.1.2,404
        |2024-05-01T10:32:15Z,10.0.0.7,200
        |""".stripMargin)
    def config(tpIndexLine: String): String =
      s"""format "delimited" "access_log" {
         |  delimiter = ","
         |  header = true
         |}
         |table "access_log" {
         |  format = format.delimited.access_log
         |  column "tp_timestamp" { source = "timestamp" }
         |  column "ip_address" { type = "varchar" }
         |  column "status_code" { type = "integer" }
         |}
         |partition "access_log" "local" {
         |  $tpIndexLine
         |  source "file" {
         |    format = format.delimited.access_log
         |    paths = ["${dir.getPath}/logs/"]
         |    file_layout = "access_log.csv"
         |  }
         |}
         |""".stripMargin
    write(new File(dir, "config/access.tpc"), config(""))
    val (rc0, out0) = cli(dir, "collect", "access_log.local")
    assert(rc0 == 0, out0)
    val (_, before) = cli(dir, "query",
      "select distinct tp_index from access_log", "--output", "csv")
    assert(before == "tp_index\ndefault", before)

    // the partition config now declares tp_index = ip_address
    write(new File(dir, "config/access.tpc"), config("tp_index = \"ip_address\""))
    val (rc1, out1) = cli(dir, "compact", "access_log", "--reindex")
    assert(rc1 == 0, out1)
    assert(out1.contains("Reindexed access_log: 3 rows migrated"), out1)
    assert(out1.contains("Compacted access_log"), out1)
    val (rc2, after) = cli(dir, "query",
      "select tp_index, count(*) as n from access_log group by 1 order by 1",
      "--output", "csv")
    assert(rc2 == 0, after)
    assert(after == "tp_index,n\n10.0.0.7,1\n192.168.1.1,1\n192.168.1.2,1", after)

    // second run: nothing to migrate
    val (rc3, out3) = cli(dir, "compact", "access_log", "--reindex")
    assert(rc3 == 0, out3)
    assert(out3.contains("Reindexed access_log: 0 rows migrated"), out3)
  }

  test("compact --align day splits a day-straddling file at midnight; " +
    "second run is a no-op; a bad grain errors loudly") {
    val dir = Files.createTempDirectory("graft_cli_align").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "logs").mkdirs()
    // one collect whose batch spans TWO days → its single file
    // straddles midnight (exactly what time-ordered compact leaves)
    write(new File(dir, "logs/span.csv"),
      """timestamp,status_code
        |2024-05-01T23:58:45Z,200
        |2024-05-01T23:59:00Z,404
        |2024-05-02T00:01:15Z,200
        |2024-05-02T08:00:00Z,500
        |""".stripMargin)
    write(new File(dir, "config/span.tpc"),
      s"""format "delimited" "span" { delimiter = "," header = true }
         |table "span" {
         |  format = format.delimited.span
         |  column "tp_timestamp" { source = "timestamp" }
         |  column "status_code" { type = "integer" }
         |}
         |partition "span" "local" {
         |  source "file" {
         |    format = format.delimited.span
         |    paths = ["${dir.getPath}/logs/"]
         |    file_layout = "span.csv"
         |  }
         |}
         |""".stripMargin)
    val (rc0, out0) = cli(dir, "collect", "span.local")
    assert(rc0 == 0, out0)
    val (rc1, out1) = cli(dir, "compact", "span", "--align", "day")
    assert(rc1 == 0, out1)
    assert(out1.contains("Compacted span: 1 files -> 2 files"), out1)
    // fixed point: nothing straddles, one file per (dir, day)
    val (rc2, out2) = cli(dir, "compact", "span", "--align", "day")
    assert(rc2 == 0, out2)
    assert(out2.contains("Compacted span: 2 files -> 2 files"), out2)
    // rows intact after the rewrite
    val (rc3, q) = cli(dir, "query",
      "select count(*) as n from span", "--output", "csv")
    assert(rc3 == 0 && q == "n\n4", q)
    val (rc4, bad) = cli(dir, "compact", "span", "--align", "fortnight")
    assert(rc4 == 1 && bad.contains("day|hour|minute|week"), bad)
  }

  test("index build/append/query: persisted IVF over a lake vector table") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_index").toFile
    // 40 base vectors on distinct rays + a planted near-copy of id 0:
    // dim-2 rays (cos i, sin i) so every pair is well separated
    def rays(n: Int, offset: Long) = spark.range(n).select(
      (col("id") + offset).as("vec_id"),
      expr("timestamp'2024-03-01 00:00:00'").as("seen_at"),
      array(cos(col("id") * 0.15), sin(col("id") * 0.15)).as("emb"))
    rays(40, 0).write.parquet(s"${dir.getPath}/base")
    val (rcI, _) = cli(root, "import", s"${dir.getPath}/base", "vecs.base",
      "--timestamp-column", "seen_at")
    assert(rcI == 0)
    val idx = s"${dir.getPath}/ivf"
    val (rcB, built) = cli(root, "index", "build", "vecs", idx,
      "--id-column", "vec_id", "--vector-column", "emb", "--nlist", "8")
    assert(rcB == 0, built)
    assert(built.contains("Index built") && built.contains("40 vectors"),
      built)
    // append two near-copies of vectors 0 and 1 without a rebuild
    rays(2, 1000).write.parquet(s"${dir.getPath}/more")
    val (rcI2, _) = cli(root, "import", s"${dir.getPath}/more", "vecs2.more",
      "--timestamp-column", "seen_at")
    assert(rcI2 == 0)
    val (rcA, app) = cli(root, "index", "append", "vecs2", idx,
      "--id-column", "vec_id", "--vector-column", "emb")
    assert(rcA == 0, app)
    assert(app.contains("+2 vectors") && app.contains("42 total"), app)
    // probing with the appended table finds each copy's original at
    // rank 1 with sim 1.0 (identical rays)
    val (rcQ, q) = cli(root, "index", "query", idx, "--table", "vecs2",
      "--id-column", "vec_id", "--vector-column", "emb",
      "--k", "1", "--nprobe", "4")
    assert(rcQ == 0, q)
    // each appended copy finds its original ray at rank 1, sim 1
    assert(q.linesIterator.exists(l =>
      l.contains("| 1000 ") && l.contains("| 0 ")), q)
    assert(q.linesIterator.exists(l =>
      l.contains("| 1001 ") && l.contains("| 1 ")), q)
    // missing column fails loudly
    val (rcBad, bad) = cli(root, "index", "build", "vecs", idx,
      "--id-column", "nope", "--vector-column", "emb")
    assert(rcBad == 1 && bad.contains("nope"), bad)
    // stats: cell-balance health report over the persisted index
    val (rcS, st) = cli(root, "index", "stats", idx)
    assert(rcS == 0, st)
    assert(st.contains("42 vectors") && st.contains("cells (min "), st)
    // --nlist auto: the √N operating rule picks the cell count from
    // the table size (√40 ≈ 6 → clamped to the floor of 16)
    val idxAuto = s"${dir.getPath}/ivf_auto"
    val (rcAu, au) = cli(root, "index", "build", "vecs", idxAuto,
      "--id-column", "vec_id", "--vector-column", "emb",
      "--nlist", "auto")
    assert(rcAu == 0, au)
    assert(au.contains("40 vectors, 16 cells"), au)
  }

  test("tokenizer and lm artifacts: train once, encode/score from the store") {
    val dir = Files.createTempDirectory("graft_tok_cli").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "notes").mkdirs()
    write(new File(dir, "notes/notes.csv"),
      """timestamp,note_id,note
        |2024-05-01T10:00:00Z,1,the quick brown fox jumps over the lazy dog
        |2024-05-01T10:01:00Z,2,the slow red fox walks under the eager dog
        |2024-05-01T10:02:00Z,3,a completely different note about spark
        |""".stripMargin)
    write(new File(dir, "config/notes.tpc"),
      s"""format "delimited" "notes" {
         |  delimiter = ","
         |  header = true
         |}
         |
         |table "notes" {
         |  format = format.delimited.notes
         |  column "tp_timestamp" { source = "timestamp" }
         |  column "note_id" { type = "bigint" }
         |  column "note" { type = "varchar" }
         |}
         |
         |partition "notes" "local" {
         |  source "file" {
         |    format = format.delimited.notes
         |    paths = ["${dir.getPath}/notes/"]
         |    file_layout = "notes.csv"
         |  }
         |}
         |""".stripMargin)
    val (rcC, outC) = cli(dir, "collect", "notes.local")
    assert(rcC == 0, outC)
    // train a 2-round tokenizer into a persisted artifact
    val tok = s"${dir.getPath}/tok"
    val (rcT, trained) = cli(dir, "tokenizer", "train", "notes", tok,
      "--text-column", "note", "--rounds", "2")
    assert(rcT == 0, trained)
    assert(trained.contains("Tokenizer trained") &&
      trained.contains("2 merges"), trained)
    // show renders the stored merge table ('the' dominates → (e,</w>))
    val (rcS, shown) = cli(dir, "tokenizer", "show", tok)
    assert(rcS == 0, shown)
    assert(shown.contains("merge_rank"), shown)
    assert(shown.linesIterator.exists(l =>
      l.contains("| 1 ") && l.contains("| e ") && l.contains("| </w> ")),
      shown)
    // encode against the stored artifact — no retraining
    val (rcE, enc) = cli(dir, "tokenizer", "encode", "notes", tok,
      "--id-column", "note_id", "--text-column", "note")
    assert(rcE == 0, enc)
    assert(enc.contains("fertility"), enc)
    assert(enc.linesIterator.exists(_.startsWith("| 3 ")), enc) // 3 docs
    // --sample K trains on a deterministic hash-sample (still a valid
    // artifact even if the tiny fixture samples down to few/no docs)
    val (rcSm, sm) = cli(dir, "tokenizer", "train", "notes",
      s"${dir.getPath}/tok_s", "--text-column", "note",
      "--rounds", "2", "--sample", "2")
    assert(rcSm == 0, sm)
    assert(sm.contains("Tokenizer trained"), sm)
    // LM artifact: one training, scored under all three models
    val lm = s"${dir.getPath}/lm"
    val (rcL, lmOut) = cli(dir, "lm", "train", "notes", lm,
      "--text-column", "note")
    assert(rcL == 0, lmOut)
    assert(lmOut.contains("LM trained") && lmOut.contains("vocabulary"),
      lmOut)
    val (rcU, uni) = cli(dir, "lm", "score", "notes", lm,
      "--text-column", "note")
    assert(rcU == 0, uni)
    assert(uni.contains("ppl_median"), uni)
    val (rcJ, jm) = cli(dir, "lm", "score", "notes", lm,
      "--text-column", "note", "--model", "jm")
    assert(rcJ == 0, jm)
    assert(jm.contains("ppl_median"), jm)
    // bad model name fails loudly
    val (rcBad, bad) = cli(dir, "lm", "score", "notes", lm,
      "--text-column", "note", "--model", "nope")
    assert(rcBad == 1 && bad.contains("nope"), bad)
    // append folds the same table's counts back in (vocabulary stays,
    // counts double) — the O(|new|) maintenance path
    val (rcApp, app) = cli(dir, "lm", "append", "notes", lm,
      "--text-column", "note")
    assert(rcApp == 0, app)
    assert(app.contains("LM appended"), app)
    val (rcU2, uni2) = cli(dir, "lm", "score", "notes", lm,
      "--text-column", "note")
    assert(rcU2 == 0, uni2)
    assert(uni2.contains("ppl_median"), uni2)
  }

  test("wildcard collect: multiple matching partitions in one run, " +
    "non-matching pattern is a clean error") {
    // partition_tests.bats:188-260 — collect table.prefix_* hits every
    // matching partition; a pattern matching nothing errors without
    // mutating anything
    val dir = Files.createTempDirectory("graft_wildcard").toFile
    new File(dir, "config").mkdirs()
    new File(dir, "logs").mkdirs()
    write(new File(dir, "logs/a.csv"),
      """timestamp,v
        |2024-05-01T10:30:45Z,1
        |""".stripMargin)
    write(new File(dir, "logs/b.csv"),
      """timestamp,v
        |2024-05-02T10:30:45Z,2
        |""".stripMargin)
    write(new File(dir, "config/wc.tpc"),
      s"""format "delimited" "wc" {
         |  delimiter = ","
         |  header = true
         |}
         |
         |table "wc_log" {
         |  format = format.delimited.wc
         |  column "tp_timestamp" { source = "timestamp" }
         |  column "v" { type = "integer" }
         |}
         |
         |partition "wc_log" "wild_a" {
         |  source "file" {
         |    format = format.delimited.wc
         |    paths = ["${dir.getPath}/logs/"]
         |    file_layout = "a.csv"
         |  }
         |}
         |
         |partition "wc_log" "wild_b" {
         |  source "file" {
         |    format = format.delimited.wc
         |    paths = ["${dir.getPath}/logs/"]
         |    file_layout = "b.csv"
         |  }
         |}
         |""".stripMargin)
    // --dry-run first: reports the plan (window, matched files) and
    // touches nothing — no lake directory appears
    val (rcD, outD) = cli(dir, "collect", "wc_log.wild_a", "--dry-run")
    assert(rcD == 0, outD)
    assert(outD.contains("[dry-run] would collect wc_log.wild_a"), outD)
    assert(outD.contains("a.csv") && outD.contains("1 file(s)"), outD)
    assert(!new File(dir, "lake/wc_log").exists(), outD)

    val (rc, outW) = cli(dir, "collect", "wc_log.wild_*")
    assert(rc == 0, outW)
    assert(outW.contains("wc_log.wild_a") && outW.contains("wc_log.wild_b"),
      outW)
    val rows = spark.read.parquet(s"${dir.getPath}/lake/wc_log")
    assert(rows.count() == 2)
    assert(rows.select("tp_partition").distinct().count() == 2)
    // non-matching pattern: clean error, nothing collected
    val (rcN, outN) = cli(dir, "collect", "wc_log.nomatch_*")
    assert(rcN == 1 && outN.contains("no partitions match"), outN)
  }

  test("relative time parsing") {
    val now = java.time.LocalDateTime.of(2026, 8, 12, 12, 0, 0)
    assert(Main.parseTime("T-7d", now) ==
      java.sql.Timestamp.valueOf("2026-08-05 12:00:00"))
    assert(Main.parseTime("T-2Y", now) ==
      java.sql.Timestamp.valueOf("2024-08-12 12:00:00"))
    assert(Main.parseTime("T-10M", now) ==
      java.sql.Timestamp.valueOf("2026-08-12 11:50:00"))
    assert(Main.parseTime("T-10m", now) ==
      java.sql.Timestamp.valueOf("2025-10-12 12:00:00"))
    assert(Main.parseTime("2024-01-01") ==
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(Main.parseTime("2024-01-01T10:30:45.5") ==
      java.sql.Timestamp.valueOf("2024-01-01 10:30:45.5"))
    // RFC 3339 with explicit offset → UTC (the reference's skipped
    // from_and_to case, implemented here)
    assert(Main.parseTime("2024-01-01T10:30:45+05:30") ==
      java.sql.Timestamp.valueOf("2024-01-01 05:00:45"))
    assert(Main.parseTime("2024-01-01T10:30:45-02:00") ==
      java.sql.Timestamp.valueOf("2024-01-01 12:30:45"))
    assert(Main.parseTime("2024-01-01T10:30:45Z") ==
      java.sql.Timestamp.valueOf("2024-01-01 10:30:45"))
  }
}
