package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.config.PartitionSpec
import graft.query.{ScanAudit, Views}

/** [[Lake.metaSnapshot]] memoization (r17 verdict task 3): the
  * optimize-time metadata probe used to re-read the manifest + sidecar
  * per candidate query — N consecutive metadata-served queries paid
  * the manifest read N times, and once files aren't scanned the probe
  * latency IS the query latency. Now the collected snapshot caches per
  * (root, table) keyed by a metadata-dir change token, so repeats cost
  * one cheap dir listing; any mutation (new manifest/sidecar part
  * files, dir swaps) moves the token and rebuilds exactly once.
  */
class MetaCacheSpec extends AnyFunSuite with SparkTest {

  private def build(): (Lake, String) = {
    val lake = Lake(Files.createTempDirectory("graft_metacache").toString)
    val spec = PartitionSpec("mc", "p0", tpIndexColumn = Some("idx"))
    def batch(lo: Int) = {
      val raw = spark.range(lo, lo + 100).select(
        col("id").as("event_id"),
        expr("timestamp '2024-03-05 00:00:00' + " +
          "make_interval(0,0,0,0,0,0, id*1000)").as("tp_timestamp"),
        lit("0").as("idx"),
        col("id").cast("double").as("v"))
      TpSchema.enrich(raw, spec)
    }
    for (lo <- Seq(0, 100, 200)) lake.append(spark, "mc", batch(lo))
    lake.enableColumnStats(spark, "mc", Seq("v", "tp_timestamp"))
    Views.register(spark, lake, Views.Filters())
    (lake, "mc")
  }

  test("N consecutive metadata-served queries build the snapshot once") {
    val (lake, t) = build()
    val (_, m0) = Lake.metaCacheStats(lake.root, t)
    val sqls = Seq(
      s"SELECT count(*) AS n FROM $t",
      s"SELECT min(v) AS mn, max(v) AS mx FROM $t",
      s"SELECT count(v) AS nv, max(v) AS mx FROM $t",
      s"SELECT count(*) AS n, min(v) AS mn FROM $t")
    sqls.foreach { q =>
      val df = spark.sql(q)
      assert(ScanAudit.filesReadAfterRun(df) === 0, s"not scan-free: $q")
    }
    val (h1, m1) = Lake.metaCacheStats(lake.root, t)
    assert(m1 - m0 <= 1,
      s"expected at most ONE snapshot build across ${sqls.size} " +
        s"metadata-served queries, got ${m1 - m0} misses")
    assert(h1 >= sqls.size - 1, "later probes must be cache hits")
  }

  test("a mutation moves the token and rebuilds exactly once") {
    val (lake, t) = build()
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0)
      === 300L)
    val (_, m0) = Lake.metaCacheStats(lake.root, t)
    val more = spark.range(1000, 1010).select(
      col("id").as("event_id"),
      expr("timestamp '2024-06-01 00:00:00'").as("tp_timestamp"),
      lit("0").as("idx"), col("id").cast("double").as("v"))
    lake.append(spark, t, TpSchema.enrich(more,
      PartitionSpec(t, "p0", tpIndexColumn = Some("idx"))))
    // fresh answer through the rewrite, exactly one rebuild
    val q = spark.sql(s"SELECT count(*) AS n, max(v) AS mx FROM $t")
    assert(ScanAudit.filesReadAfterRun(q) === 0)
    val r = q.head()
    assert(r.getLong(0) === 310L)
    assert(r.getDouble(1) === 1009.0)
    spark.sql(s"SELECT min(v) AS mn FROM $t").collect()
    val (_, m1) = Lake.metaCacheStats(lake.root, t)
    assert(m1 - m0 === 1,
      s"append must invalidate once and only once, got ${m1 - m0}")
  }

  test("the snapshot cache is bounded: LRU eviction past the cap, " +
    "evicted tables rebuild on re-access") {
    // a real table first, so eviction-then-rebuild is pinned end to end
    val (lake, t) = build()
    val q0 = spark.sql(s"SELECT count(*) AS n FROM $t")
    assert(graft.query.ScanAudit.filesReadAfterRun(q0) === 0)
    assert(q0.head().getLong(0) === 300L)
    val realKey = s"${lake.root}#$t"
    assert(Lake.cachedSnapshotKeys.contains(realKey))
    // flood the JVM-wide cache well past the cap (the fake entries
    // stand in for months of ephemeral tables; building 70 real lakes
    // would pin the same thing in minutes instead of milliseconds)
    val fakes = (0 until Lake.MetaSnapshotCacheMax + 8)
      .map(i => s"/graft_fake_root_$i#t")
    fakes.foreach(k => Lake.storeSnapshot(k,
      Lake.MetaSnapshot(s"tok_$k", Map.empty, Map.empty)))
    assert(Lake.cachedSnapshotKeys.size <= Lake.MetaSnapshotCacheMax,
      s"cache must stay bounded at ${Lake.MetaSnapshotCacheMax}, " +
        s"got ${Lake.cachedSnapshotKeys.size}")
    assert(Lake.cachedSnapshot(fakes.head).isEmpty,
      "the eldest entry past the cap must be evicted")
    assert(Lake.cachedSnapshot(fakes.last).isDefined,
      "the newest entry must survive")
    assert(Lake.cachedSnapshot(realKey).isEmpty,
      "the real table (oldest of all) must have been evicted")
    // re-access: the evicted table rebuilds exactly once and serves
    // the same scan-free answer
    val (_, m0) = Lake.metaCacheStats(lake.root, t)
    val q1 = spark.sql(s"SELECT count(*) AS n, max(v) AS mx FROM $t")
    assert(graft.query.ScanAudit.filesReadAfterRun(q1) === 0)
    assert(q1.head().getLong(0) === 300L)
    spark.sql(s"SELECT min(v) AS mn FROM $t").collect()
    val (_, m1) = Lake.metaCacheStats(lake.root, t)
    assert(m1 - m0 === 1,
      s"evicted snapshot must rebuild exactly once, got ${m1 - m0}")
  }

  // ---- prefetch: the cold CLI's metadata read ahead of the session ----

  /** Snapshot contents compared by value (sketch blobs are arrays). */
  private def byValue(s: Lake.MetaSnapshot) =
    (s.token, s.manifest, s.sidecar.map { case (k, v) =>
      k -> (v.copy(sketch = None, kll = None, mg = None),
        Seq(v.sketch, v.kll, v.mg).map(_.map(_.toSeq)))
    })

  private def hadoopFs(lake: Lake) =
    new org.apache.hadoop.fs.Path(lake.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True when the session's next probe would hit a cached snapshot. */
  private def servable(lake: Lake, t: String): Boolean =
    Lake.cachedSnapshot(s"${lake.root}#$t")
      .exists(_.token == lake.metaToken(spark, t))

  /** (rc, stdout) of an in-process `graft query`. */
  private def cli(lake: Lake, sql: String): (Int, String) = {
    val config = Files.createTempDirectory("graft_metacache_cfg").toString
    val bos = new java.io.ByteArrayOutputStream()
    val rc = graft.cli.Main.run(spark, Seq("query", sql, "--output", "csv",
      "--lake-dir", lake.root, "--config-dir", config),
      new java.io.PrintStream(bos, true, "UTF-8"))
    (rc, new String(bos.toByteArray, "UTF-8").trim)
  }

  test("after a prefetch the first metaSnapshot is a hit equal to a " +
      "fresh load") {
    val (lake, t) = build()
    assert(!servable(lake, t))
    // only the tables the SQL names get a snapshot
    lake.prefetch("SELECT 42")
    assert(!servable(lake, t))
    lake.prefetch(s"SELECT count(*) FROM $t")
    val (h0, m0) = Lake.metaCacheStats(lake.root, t)
    val snap = lake.metaSnapshot(spark, t)
    assert(Lake.metaCacheStats(lake.root, t) === ((h0 + 1, m0)))
    val fresh = lake.loadSnapshot(hadoopFs(lake),
      spark.sessionState.newHadoopConf(), t)
    assert(snap.manifest.size === 3 && snap.sidecar.nonEmpty)
    assert(byValue(snap) === byValue(fresh))
  }

  test("a prefetch skips a table with a pending swap-aside; the session " +
      "heals it and answers") {
    val (lake, t) = build()
    val manifest = new org.apache.hadoop.fs.Path(lake.tableDir(t),
      "_graft_manifest")
    // a crash between the swap's two renames: the live dir is aside
    assert(hadoopFs(lake).rename(manifest,
      new org.apache.hadoop.fs.Path(manifest.toString + "_old")))
    val sql = s"SELECT count(*) AS n, max(v) AS mx FROM $t"
    lake.prefetch(sql)
    // a snapshot of the missing manifest would serve an empty table
    assert(!servable(lake, t))
    assert(cli(lake, sql) === ((0, "n,mx\n300,299")))
    assert(hadoopFs(lake).exists(manifest))
  }

  test("a prefetch whose token moves mid-read caches nothing") {
    val (lake, t) = build()
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.file.impl", classOf[TokenMovingFileSystem].getName)
    TokenMovingFileSystem.armed.set(true)
    lake.prefetch(s"SELECT count(*) FROM $t", conf)
    assert(!TokenMovingFileSystem.armed.get, "the manifest was never read")
    assert(!servable(lake, t))
    val sql = s"SELECT count(*) AS n FROM $t"
    assert(cli(lake, sql) === ((0, "n\n300")))
  }

  test("a corrupt manifest part leaves nothing cached and the query's " +
      "output unchanged") {
    val (lake, t) = build()
    val part = new java.io.File(s"${lake.tableDir(t)}/_graft_manifest",
      "part-corrupt.parquet")
    java.nio.file.Files.write(part.toPath, "not parquet".getBytes("UTF-8"))
    val sqls = Seq(s"SELECT count(*) AS n FROM $t",
      s"SELECT event_id FROM $t WHERE tp_timestamp < " +
        "timestamp '2024-03-05 00:00:05'")
    val before = sqls.map(cli(lake, _))
    lake.prefetch(sqls.mkString("\n"))
    assert(!servable(lake, t))
    assert(sqls.map(cli(lake, _)) === before)
  }

  test("a prefetch leaves Hadoop's FileSystem cache to the session") {
    val (lake, t) = build()
    val sessionConf = spark.sparkContext.hadoopConfiguration
    val sessionFs = org.apache.hadoop.fs.FileSystem.get(sessionConf)
    // under a fresh user the cache starts empty, so whichever instance
    // the first FileSystem.get finds would be the prefetch's
    val ugi = org.apache.hadoop.security.UserGroupInformation
      .createRemoteUser("graft-prefetch-probe")
    try ugi.doAs(new java.security.PrivilegedExceptionAction[Unit] {
      def run(): Unit = {
        lake.prefetch(s"SELECT count(*) FROM $t")
        val conf = new org.apache.hadoop.conf.Configuration(sessionConf)
        conf.set("graft.probe", "session")
        val got = org.apache.hadoop.fs.FileSystem.get(
          java.net.URI.create("file:///"), conf)
        assert(got.getConf.get("graft.probe") === "session",
          "the prefetch left its own FileSystem in the shared cache")
      }
    })
    finally org.apache.hadoop.fs.FileSystem.closeAllForUGI(ugi)
    assert(org.apache.hadoop.fs.FileSystem.get(sessionConf) eq sessionFs)
  }
}

/** A local filesystem that, the first time a manifest part is opened
  * while [[TokenMovingFileSystem.armed]], drops a hidden file into the
  * manifest dir: a writer landing while a reader loads. The part set is
  * unchanged; the dir's change token moves.
  */
class TokenMovingFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getParent.getName == "_graft_manifest" &&
        TokenMovingFileSystem.armed.getAndSet(false))
      new java.io.File(f.getParent.toUri.getPath, "_moved").createNewFile()
    super.open(f, bufferSize)
  }
}

object TokenMovingFileSystem {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
