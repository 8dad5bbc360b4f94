package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import org.apache.commons.io.FileUtils

import graft.lake.Artifacts

/** Scale rehearsal for the heavy operator families — converts the
  * "scales" design claims (plan shape, no cartesians, bounded state)
  * into MEASUREMENTS by running each family at 1×/10×/… its bench-SF
  * input size on statistically self-similar synthetic data, and
  * reporting the empirical scaling exponent
  * `log(t_hi / t_lo) / log(mult_hi / mult_lo)` per family (≈1.0 =
  * linear; anything clearly super-linear is a plan bug to chase).
  *
  * Inputs are DETERMINISTIC hash-generated datasets whose workload
  * characteristics stay constant as N grows:
  *  - documents: 50–149-token word-soup docs over a fixed ~10k-word
  *    skewed vocabulary, with a 2% planted near-duplicate rate (each
  *    copy appends a distinct tail, the qt18 fixture convention) — so
  *    the LSH candidate and component workload grows proportionally,
  *    not pathologically
  *  - embeddings: 32-dim hash-uniform vectors
  *  - events: 30-day timestamp spread over 5 event types (the qi07
  *    compaction shape), appended in 3 interleaved batches so every
  *    partition dir starts fragmented
  *
  * Every input is WRITTEN TO PARQUET first (untimed) and read back for
  * the timed run — the operator cost measured is scan→operator, the
  * same path production takes, not expression-generation.
  *
  * Usage: runMain graft.ScaleRehearsal [multipliers] [families]
  *   multipliers: comma ints, default "1,10"
  *   families: comma subset of
  *     lsh,chain,substring,kcenter,ivf,ivf_scaled,starpath,upsert,
  *     rollup,compact,partition_stress,stream,wide_schema,skewjoin,
  *     stream_skew,stream_state,zorder,bloomjoin,colprune,timeprune,
  *     metaagg,joinprune,bandagg,bucketagg (default all); an unknown
  *     name fails the run before anything starts
  * One JSON line per (family, multiplier) + per-family exponent lines.
  */
object ScaleRehearsal {

  /** Every family, in the order of the usage line; the default set. */
  private val Families = Seq("lsh", "chain", "substring", "kcenter",
    "ivf", "ivf_scaled", "starpath", "upsert", "rollup", "compact",
    "partition_stress", "stream", "wide_schema", "skewjoin",
    "stream_skew", "stream_state", "zorder", "bloomjoin", "colprune",
    "timeprune", "metaagg", "joinprune", "bandagg", "bucketagg")

  // sf0.1 base sizes (documents/embeddings/events row counts)
  private val DocsBase = 5000L
  private val VecsBase = 2000L
  private val EventsBase = 100000L

  // Generator parameters, shared between the generator bodies and the
  // fixture fingerprints below — so editing a generator parameter
  // cannot leave a matching-but-stale fingerprint behind (ADVICE
  // r11). Changing generator LOGIC without touching a parameter still
  // requires bumping the version constant next to it.
  private val CorpusVersion = "v1"
  private val CorpusVocab = 9973L   // word-id modulus
  private val CorpusLenMin = 50L    // doc length lower bound
  private val CorpusLenSpread = 100L // doc length range width
  private val CorpusCopyEvery = 50L // 1-in-N planted near-dup rate
  private val VecVersion = "v1"
  private val VecDim = 32
  private val VecHalfRange = 1000L  // values in [-1, 1) at 1/1000 grain
  private val PathVersion = "v1"

  private[graft] def corpusFp(n: Long): String =
    s"corpus;$CorpusVersion;n=$n;vocab=$CorpusVocab;" +
      s"len=$CorpusLenMin..${CorpusLenMin + CorpusLenSpread - 1};" +
      s"dup=1/$CorpusCopyEvery"
  private[graft] def vectorsFp(n: Long): String =
    s"vectors;$VecVersion;n=$n;dim=$VecDim;range=[-1,1)"

  /** Word-soup corpus: deterministic, self-similar, 2% near-dups. */
  def corpus(spark: SparkSession, n: Long): DataFrame = {
    val isCopy = col("id") % CorpusCopyEvery === 1 && col("id") > 0
    val src = when(isCopy, col("id") - 1).otherwise(col("id"))
    val len = pmod(xxhash64(src, lit("len")), lit(CorpusLenSpread)) +
      lit(CorpusLenMin)
    // product of two ~uniform[0,100) terms: low word-ids dominate — a
    // cheap Zipf-ish skew so shingle document frequencies look like
    // text, not like uniform noise
    def word(j: org.apache.spark.sql.Column) = concat(lit("w"),
      pmod(pmod(xxhash64(src, j, lit("a")), lit(100)) *
        pmod(xxhash64(src, j, lit("b")), lit(100)), lit(CorpusVocab)))
    val body = array_join(
      transform(sequence(lit(1), len), j => word(j)), " ")
    spark.range(n).select(
      col("id").as("doc_id"),
      when(isCopy, concat(body, lit(" neardup tail marker "),
        col("id"))).otherwise(body).as("text"))
  }

  /** 32-dim hash-uniform vectors in [-1, 1). */
  def vectors(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("cid"),
      transform(sequence(lit(1), lit(VecDim)),
        j => (pmod(xxhash64(col("id"), j, lit("v")),
            lit(2 * VecHalfRange)) - lit(VecHalfRange))
          .cast("double") / VecHalfRange.toDouble).as("cvec"))

  /** Directory-wide events: `idxN` index values × 12 months of 2024,
    * ~`n/(idxN·12)` rows per leaf dir (the partition_stress fixture —
    * wide in directories, thin in rows).
    */
  def wideEvents(spark: SparkSession, idxN: Int, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("event_id"),
      // deterministic spread over exactly 12 months of 2024
      timestamp_seconds(lit(1704067200L) +
        pmod(xxhash64(col("id"), lit("t")), lit(31622400L))).as("ts"),
      concat(lit("i"), pmod(col("id"), lit(idxN))).as("idx"),
      (pmod(xxhash64(col("id"), lit("v")), lit(1000)).cast("double")
        / 10.0).as("value"))

  /** Events spread over 30 days / 5 types (the compaction fixture). */
  def events(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1704067200L) +
        pmod(xxhash64(col("id"), lit("t")), lit(2592000L))).as("ts"),
      pmod(xxhash64(col("id"), lit("u")), lit(1000)).as("user_id"),
      element_at(
        array(lit("click"), lit("view"), lit("purchase"), lit("signup"),
          lit("error")),
        (pmod(xxhash64(col("id"), lit("e")), lit(5)) + 1).cast("int"))
        .as("event_type"),
      (pmod(xxhash64(col("id"), lit("v")), lit(10000)).cast("double") / 100.0)
        .as("value"))

  /** Format of the `ts` strings in every stream inbox. */
  private val InboxTsFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** The `stream`/`stream_state` inbox at `root`: `events(spark, n)`
    * split into `slices` TIME-ORDERED slices of the 30-day range (slice
    * i = the i-th 1/slices of it, written sequentially so file
    * mod-times, which the file source orders batches by, advance with
    * event time). Each slice appends one file to each of
    * `purchases` (p_id, ts, p_user), `errors` (e_id, ts, e_user) and
    * `all` (key, ts). Built once per (n, slices) fingerprint.
    */
  private[graft] def streamInbox(
      spark: SparkSession, root: String, n: Long, slices: Int): Unit = {
    Artifacts.ensure(root, s"stream;v1;n=$n;slices=$slices") {
      val src = events(spark, n)
        .withColumn("slice",
          least(floor((unix_timestamp(col("ts")) - lit(1704067200L))
            / lit(2592000L / slices)), lit(slices - 1L)))
      for (i <- 0 until slices) {
        val s = src.where(col("slice") === i)
        s.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"),
            date_format(col("ts"), InboxTsFormat).as("ts"),
            col("user_id").as("p_user"))
          .coalesce(1).write.mode("append").json(s"$root/purchases")
        s.where(col("event_type") === "error")
          .select(col("event_id").as("e_id"),
            date_format(col("ts"), InboxTsFormat).as("ts"),
            col("user_id").as("e_user"))
          .coalesce(1).write.mode("append").json(s"$root/errors")
        s.select(concat(lit("u"), col("user_id")).as("key"),
            date_format(col("ts"), InboxTsFormat).as("ts"))
          .coalesce(1).write.mode("append").json(s"$root/all")
      }
    }
    ()
  }

  /** JSON schema of one join-side inbox: (`idCol`, `ts`, `keyCol`). */
  private[graft] def inboxSchema(idCol: String, keyCol: String): StructType =
    StructType(Seq(StructField(idCol, LongType),
      StructField("ts", StringType), StructField(keyCol, LongType)))

  /** One join-side inbox as a stream of (`idCol`, `tsOut` timestamp,
    * `keyCol`), `mfpt` files per trigger.
    */
  private[graft] def inboxStream(spark: SparkSession, dir: String,
      idCol: String, tsOut: String, keyCol: String, mfpt: Int): DataFrame =
    spark.readStream.schema(inboxSchema(idCol, keyCol))
      .option("maxFilesPerTrigger", mfpt).json(dir)
      .select(col(idCol), to_timestamp(col("ts"), InboxTsFormat).as(tsOut),
        col(keyCol))

  private def time(block: => Unit): Double = {
    val t0 = System.nanoTime()
    block
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-family shuffle audit (r11 verdict task 2): aggregate shuffle
    * read/write bytes and stage count from completed-stage events, so
    * a super-linear TIME exponent can be attributed — is the family
    * moving super-linear BYTES (a plan defect) or paying linear bytes
    * plus per-round fixed costs (scheduling)? Events arrive on the
    * async listener bus; `settle` waits for the bus to drain between
    * the timed block and the snapshot (bounded wait — measurement
    * harness, not production path).
    */
  private class ShuffleAudit
      extends org.apache.spark.scheduler.SparkListener {
    private val read = new java.util.concurrent.atomic.AtomicLong
    private val write = new java.util.concurrent.atomic.AtomicLong
    private val spill = new java.util.concurrent.atomic.AtomicLong
    private val input = new java.util.concurrent.atomic.AtomicLong
    private val stages = new java.util.concurrent.atomic.AtomicInteger
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
        : Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
      stages.incrementAndGet()
      ()
    }
    def snapshot(): (Long, Long, Long, Long, Int) =
      (read.get(), write.get(), spill.get(), input.get(), stages.get())
    /** Wait until the counters stop moving (listener bus drained). */
    def settle(): Unit = {
      var prev = snapshot()
      var same = 0
      var waited = 0
      while (same < 2 && waited < 5000) {
        Thread.sleep(100); waited += 100
        val cur = snapshot()
        if (cur == prev) same += 1 else { same = 0; prev = cur }
      }
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val mults = args.lift(0).getOrElse("1,10")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val families = args.lift(1)
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Families.toSet)
    val unknown = families -- Families
    require(unknown.isEmpty, s"unknown families: ${unknown.mkString(",")}" +
      s" (known: ${Families.mkString(",")})")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the streaming drains read totals off q.recentProgress, which
      // retains only this many entries (default 100) — a >100-trigger
      // run would silently under-count max_state_rows/output_rows and
      // the cross-variant identity valves would compare truncated
      // sums (r14 advice). Headroom far above any drain here.
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = sys.props("java.io.tmpdir") + "/graft_scale"
    // untimed warmup: the first job in a JVM pays codegen and class init
    spark.range(1000000).selectExpr("id % 97 as k", "id * 1.5 as v")
      .groupBy("k").sum("v").write.format("noop").mode("overwrite").save()

    val audit = new ShuffleAudit
    spark.sparkContext.addSparkListener(audit)

    val results =
      scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long, Double)]
    // `sec` is BY-NAME: every call site passes `time { ... }`, and
    // evaluating it here brackets the timed block with shuffle-audit
    // snapshots without touching the call sites
    def record(family: String, mult: Int, rows: Long, sec: => Double): Unit = {
      audit.settle()
      val (r0, w0, sp0, i0, s0) = audit.snapshot()
      val t = sec
      audit.settle()
      val (r1, w1, sp1, i1, s1) = audit.snapshot()
      results += ((family, mult, rows, t))
      println(f"""{"family":"$family","mult":$mult,"rows":$rows,"sec":$t%.2f,"shuffle_read_mb":${(r1 - r0) / 1048576L},"shuffle_write_mb":${(w1 - w0) / 1048576L},"spill_mb":${(sp1 - sp0) / 1048576L},"input_mb":${(i1 - i0) / 1048576L},"stages":${s1 - s0}}""")
    }

    for (m <- mults) {
      // ---- text families over the same persisted corpus ----
      if (Seq("lsh", "chain", "substring").exists(families)) {
        val n = DocsBase * m
        val cPath = s"$root/docs_x$m"
        Artifacts.ensure(cPath, corpusFp(n)) {
          corpus(spark, n).write.mode("overwrite").parquet(cPath)
        }
        val docs = spark.read.parquet(cPath)
        if (families("lsh"))
          record("lsh", m, n, time {
            noop(operators.Dedup.minhashLshCandidates(docs, "doc_id",
              "text", numHashes = 128, bands = 32, shingle = 3))
          })
        if (families("chain"))
          record("chain", m, n, time {
            val cands = operators.Dedup.minhashLshCandidates(docs,
              "doc_id", "text", numHashes = 128, bands = 32, shingle = 3)
            val verified = operators.Dedup.exactJaccardFor(cands, docs,
                "doc_id", "text", n = 3, minJaccard = 0.8)
              .where(col("jaccard") >= 0.8)
              .select("id_a", "id_b")
            val labeled = operators.Components.connectedComponents(verified)
            noop(operators.Components.componentStats(labeled))
          })
        if (families("substring"))
          record("substring", m, n, time {
            noop(operators.Dedup.substringDedup(docs, "doc_id", "text",
              k = 8))
          })
      }
      // ---- vector families ----
      if (Seq("kcenter", "ivf", "ivf_scaled").exists(families)) {
        val n = VecsBase * m
        val vPath = s"$root/vecs_x$m"
        Artifacts.ensure(vPath, vectorsFp(n)) {
          vectors(spark, n).write.mode("overwrite").parquet(vPath)
        }
        val vecs = spark.read.parquet(vPath)
        if (families("kcenter"))
          record("kcenter", m, n, time {
            noop(operators.Similarity.kCenterSample(
              vecs.select(col("cid").as("vec_id"),
                col("cvec").as("embedding")),
              "vec_id", "embedding", k = 50))
          })
        if (families("ivf")) {
          val idx = s"$root/ivf_x$m"
          FileUtils.deleteDirectory(new File(idx))
          record("ivf_build", m, n, time {
            operators.Similarity.buildIvfIndex(spark, vecs, nlist = 64,
              path = idx)
          })
          val queries = vecs.where(col("cid") < 100)
            .select(col("cid").as("qid"), col("cvec").as("qvec"))
          record("ivf_probe", m, n, time {
            noop(operators.Similarity.probeIvfIndex(spark, idx, queries,
              k = 5, nprobe = 8))
          })
        }
        // ivf_scaled: the same build+probe but under the √N nlist
        // operating rule (`index build --nlist auto`). At FIXED
        // nlist=64 the probed cells' population — the exact-scoring
        // work — is nprobe·N/64, i.e. linear in N (the 0.72 exponent
        // the ivf_probe family measured); under nlist=√N it is
        // nprobe·√N. This family turns that prose rule into a
        // measured probe exponent (expect ≈0.5, clearly below the
        // fixed-nlist curve).
        if (families("ivf_scaled")) {
          val idx = s"$root/ivfs_x$m"
          FileUtils.deleteDirectory(new File(idx))
          val nlist = operators.Similarity.autoNlist(n)
          record("ivf_scaled_build", m, n, time {
            operators.Similarity.buildIvfIndex(spark, vecs, nlist, idx)
          })
          val queries = vecs.where(col("cid") < 100)
            .select(col("cid").as("qid"), col("cvec").as("qvec"))
          record("ivf_scaled_probe", m, n, time {
            noop(operators.Similarity.probeIvfIndex(spark, idx, queries,
              k = 5, nprobe = 8))
          })
        }
      }
      // ---- star-contraction fallback on an adversarial path graph ----
      if (families("starpath")) {
        // nodes 0..N-1 in a single path: diameter N-1 defeats label
        // propagation instantly (maxIter=1), so this times the
        // large-star/small-star fallback pure — the O(log n) claim
        // under measurement. Expect sec ~ log(N) * per-round cost.
        // Broadcasts are off for the call: a pair list that fits in
        // one is labeled on the driver and never reaches the fallback.
        val n = 10000L * m
        val pPath = s"$root/path_x$m"
        Artifacts.ensure(pPath, s"path;$PathVersion;n=$n") {
          spark.range(n - 1).select(col("id").as("id_a"),
            (col("id") + 1).as("id_b"))
            .write.mode("overwrite").parquet(pPath)
        }
        val pairs = spark.read.parquet(pPath)
        val bcast = "spark.sql.autoBroadcastJoinThreshold"
        val prevBcast = spark.conf.getOption(bcast)
        spark.conf.set(bcast, "-1")
        try record("starpath", m, n, time {
          noop(operators.Components.connectedComponents(pairs, maxIter = 1))
        })
        finally prevBcast.fold(spark.conf.unset(bcast))(spark.conf.set(bcast, _))
      }
      // ---- skewed-key join: AQE split vs salted (SkewJoin claims) --
      if (families("skewjoin")) {
        // 50% of the fact side lands on ONE key; the dim side is one
        // row per key and broadcast is DISABLED (at real scale the dim
        // side outgrows the threshold — that is when skew matters at
        // all). Three variants over identical inputs:
        //  - skewjoin_aqe:    vanilla join, AQE skew split ON (default)
        //  - skewjoin_noaqe:  AQE skew split OFF — the one-monster-task
        //    regime (and the regime STREAMING joins always run in,
        //    since AQE is disabled in stateful workloads)
        //  - skewjoin_aqe_tuned: AQE skew thresholds lowered so the
        //    split actually FIRES at rehearsal scale (the default
        //    256 MB/5x thresholds are sized for cluster-scale
        //    partitions; a 10M-row local hot partition is ~11 MB and
        //    never trips them)
        //  - skewjoin_salted: SkewJoin.salted, factor 32
        // Row counts are asserted identical across variants.
        val n = EventsBase * m
        val fPath = s"$root/skewfact_x$m"
        Artifacts.ensure(fPath, s"skewfact;v1;n=$n;hot=0.5;keys=10000") {
          spark.range(n).select(
            col("id").as("fid"),
            when(pmod(xxhash64(col("id"), lit("h")), lit(2)) === 0,
              lit(0L)).otherwise(
              pmod(xxhash64(col("id"), lit("k")), lit(10000L)))
              .as("key"),
            (pmod(xxhash64(col("id"), lit("v")), lit(1000)).cast("double")
              / 10.0).as("fval"))
            .write.mode("overwrite").parquet(fPath)
        }
        val dPath = s"$root/skewdim"
        Artifacts.ensure(dPath, "skewdim;v1;keys=10000") {
          spark.range(10000).select(col("id").as("dkey"),
            (col("id") % 97).as("dval"))
            .write.mode("overwrite").parquet(dPath)
        }
        val fact = spark.read.parquet(fPath)
        val dim = spark.read.parquet(dPath)
        def withConf(kvs: (String, String)*)(body: => Long): Long = {
          val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
          try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
          finally prev.foreach { case (k, o) =>
            o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
        }
        val noBcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
        // untimed warmup ONCE, at the first multiplier: the first
        // join in the JVM pays codegen + scan class-init that
        // contaminated the 1× aqe point (1.97 s vs 0.68 s for the
        // IDENTICAL noaqe plan run second).
        if (m == mults.min) {
          withConf(noBcast) {
            fact.join(dim, col("key") === col("dkey")).count()
          }
          ()
        }
        var c1 = 0L; var c2 = 0L; var c3 = 0L; var c4 = 0L
        record("skewjoin_aqe", m, n, time {
          c1 = withConf(noBcast) {
            fact.join(dim, col("key") === col("dkey")).count()
          }
        })
        record("skewjoin_noaqe", m, n, time {
          c2 = withConf(noBcast,
            "spark.sql.adaptive.skewJoin.enabled" -> "false") {
            fact.join(dim, col("key") === col("dkey")).count()
          }
        })
        record("skewjoin_aqe_tuned", m, n, time {
          c3 = withConf(noBcast,
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
              -> "1m",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
            // splitting a skewed SHUFFLED-HASH partition needs the
            // sort-merge path; force it so the split is eligible
            "spark.sql.join.preferSortMergeJoin" -> "true") {
            fact.join(dim, col("key") === col("dkey")).count()
          }
        })
        record("skewjoin_salted", m, n, time {
          c4 = withConf(noBcast) {
            operators.SkewJoin.salted(fact, dim, "key", "dkey",
              Seq("dval"), factor = 32).count()
          }
        })
        require(c1 == n && c2 == n && c3 == n && c4 == n,
          s"skew join variants disagree: $c1 / $c2 / $c3 / $c4 vs $n")
      }
      // ---- runtime BLOOM-FILTER join pruning: does the engine let
      // Spark's InjectRuntimeFilter fire, and what does it buy? ------
      // The 100 TB join shape DPP can't help: fact ⋈ selectively-
      // filtered dim on a NON-partition column, both sides above the
      // broadcast threshold → shuffle join, and without a runtime
      // filter the fact side shuffles EVERY row only for the join to
      // discard ~98% of them. Spark's runtime bloom filter builds a
      // sketch of the dim's join keys and injects a might_contain
      // row filter into the fact scan, cutting the fact's shuffle
      // write by the dim's selectivity. Local caveat, stated: the
      // application-side threshold defaults to 10 GB (below that the
      // planner assumes the shuffle isn't worth a sketch); the ON
      // variant lowers it to fixture scale — at 100 TB the fact
      // trivially clears the real threshold.
      if (families("bloomjoin")) {
        val n = EventsBase * m
        val fPath = s"$root/bloomfact_x$m"
        Artifacts.ensure(fPath, s"bloomfact;v1;n=$n;keys=100000") {
          spark.range(n).select(
            col("id").as("fid"),
            pmod(xxhash64(col("id"), lit("bk")), lit(100000L)).as("key"),
            (pmod(xxhash64(col("id"), lit("bv")), lit(1000))
              .cast("double") / 10.0).as("fval"))
            .write.mode("overwrite").parquet(fPath)
        }
        val dPath = s"$root/bloomdim"
        Artifacts.ensure(dPath, "bloomdim;v1;keys=100000;sel=0.02") {
          spark.range(100000).select(col("id").as("key"),
            (col("id") % 50).as("grp"))
            .write.mode("overwrite").parquet(dPath)
        }
        val fact = spark.read.parquet(fPath)
        def dim = spark.read.parquet(dPath).where(col("grp") === 0)
        def withConf(kvs: (String, String)*)(body: => Long): Long = {
          val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
          try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
          finally prev.foreach { case (k, o) =>
            o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
        }
        val shuffleOnly = Seq(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
        val bloomOff = shuffleOnly :+
          ("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false")
        val bloomOn = shuffleOnly ++ Seq(
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
          "spark.sql.optimizer.runtime.bloomFilter." +
            "applicationSideScanSizeThreshold" -> "1MB")
        def joined = fact.join(dim, Seq("key"))
        // plan pin: the ON variant must actually inject might_contain
        // into the fact side — a silent non-fire would "measure" two
        // identical plans
        withConf(bloomOn: _*) {
          val p = joined.queryExecution.executedPlan.toString
          require(p.contains("might_contain"),
            s"runtime bloom filter did not inject:\n${p.take(2000)}")
          0L
        }
        withConf(bloomOff: _*) {
          val p = joined.queryExecution.executedPlan.toString
          require(!p.contains("might_contain"),
            "bloom injected with the feature disabled")
          0L
        }
        if (m == mults.min) { // untimed codegen/scan warmup
          withConf(bloomOff: _*)(joined.count()); ()
        }
        var cOff = 0L; var cOn = 0L
        record("bloomjoin_off", m, n, time {
          cOff = withConf(bloomOff: _*)(joined.count())
        })
        record("bloomjoin_on", m, n, time {
          cOn = withConf(bloomOn: _*)(joined.count())
        })
        require(cOff == cOn && cOff > 0,
          s"bloom changed the join result: $cOff vs $cOn")
      }
      // ---- colstats ZONE-MAP pruning (r15): per-file min/max from
      // the _graft_colstats sidecar skip whole files on a
      // NON-partition numeric predicate — the file-skipping move
      // partition pruning can't make (value isn't a partition column)
      // and tp_timestamp zone pruning can't either (wrong column). The
      // claims: pruned input bytes track the SELECTED BAND's share of
      // the table, not the table size, and results are identical to
      // the full scan. Fixture: 8 value-banded appends (disjoint
      // per-file ranges, the layout CDC/value-ordered ingest
      // produces), colstats on `value`.
      if (families("colprune")) {
        val n = EventsBase * m
        val zroot = s"$root/zonelake_x$m"
        FileUtils.deleteDirectory(new File(zroot))
        val zlake = graft.lake.Lake(zroot)
        val zspec = graft.config.PartitionSpec("events_zone", "p0",
          tpIndexColumn = Some("event_type"))
        val src = events(spark, n)
        var buildOk = 0L
        record("colprune_build", m, n, time {
          for (i <- 0 until 8)
            graft.ingest.Ingest.collectBatch(spark, zlake, zspec,
              src.where(col("value") >= i * 12.5 &&
                col("value") < (i + 1) * 12.5),
              timestampColumn = "ts")
          zlake.enableColumnStats(spark, "events_zone", Seq("value"))
          buildOk = 1L
        })
        def agg(df: DataFrame): (Long, Double) = {
          val r = df.where(col("value") >= 50.0 && col("value") < 62.5)
            .agg(count(lit(1)), sum("value")).head()
          (r.getLong(0), r.getDouble(1))
        }
        // baseline = the STOCK reader: as of r16 Lake.read itself is
        // zone-mapped (any pushed band prunes), so an honest unpruned
        // arm must bypass the lake read path entirely
        def stockRead() = spark.read
          .option("basePath", zlake.tableDir("events_zone"))
          .parquet(zlake.tableDir("events_zone"))
        if (m == mults.min) { agg(stockRead()); () }
        var fullR: (Long, Double) = null
        record("colprune_full", m, n, time {
          fullR = agg(stockRead())
        })
        var prunedR: (Long, Double) = null
        record("colprune_pruned", m, n, time {
          prunedR = agg(zlake.readPrunedByColumn(
            spark, "events_zone", "value", 50.0, 62.5))
        })
        // counts exact; the double sum is order-sensitive across scan
        // orders (fewer files = different reduce order), so ULP-band it
        require(fullR._1 == prunedR._1 && fullR._1 > 0 &&
          math.abs(fullR._2 - prunedR._2) <= 1e-6 * math.abs(fullR._2),
          s"zone-map pruning changed the result: $fullR vs $prunedR")
        // the r16 QUERY path: a plain SQL band through the registered
        // view must land the same file cut with no programmatic call
        // (qi29's oracle owns correctness; this is the scale axis)
        var viewR: (Long, Double) = null
        var viewFiles = -1L
        record("colprune_view_query", m, n, time {
          graft.query.Views.register(spark, zlake, graft.query.Views.Filters())
          val q = spark.sql("SELECT count(*) AS c, sum(value) AS s " +
            "FROM events_zone WHERE value >= 50.0 AND value < 62.5")
          // collect(), not head(): head() plans a SEPARATE limited
          // query, leaving this df's scan metrics at zero
          val row = q.collect()(0)
          viewR = (row.getLong(0), row.getDouble(1))
          viewFiles = graft.query.ScanAudit.filesRead(q)
        })
        require(viewR._1 == fullR._1 &&
          math.abs(viewR._2 - fullR._2) <= 1e-6 * math.abs(fullR._2),
          s"view-path zone pruning changed the result: $fullR vs $viewR")
        val fullFiles = stockRead().inputFiles.length
        val prunedFiles = zlake.readPrunedByColumn(
          spark, "events_zone", "value", 50.0, 62.5).inputFiles.length
        println(s"""{"family":"colprune_files","mult":$m,""" +
          s""""full_files":$fullFiles,"pruned_files":$prunedFiles,""" +
          s""""view_query_files":$viewFiles}""")
        require(prunedFiles * 4 <= fullFiles,
          s"1/8 band should prune ~7/8 of files: $prunedFiles/$fullFiles")
        require(viewFiles * 4 <= fullFiles,
          s"view path should prune like the programmatic one: " +
            s"$viewFiles/$fullFiles")
      }
      // ---- manifest-derived TIME zone maps through the SQL path ----
      // The r16 follow-on to colprune: a plain SQL time band (the
      // reference's dominant query shape) must skip files via the
      // manifest's per-file min_ts/max_ts with NO colstats sidecar.
      // qi30's oracle owns correctness; this is the scale axis — the
      // file cut must hold at 10× and planning stays metadata-sized.
      if (families("timeprune")) {
        val n = EventsBase * m
        val troot = s"$root/timelake_x$m"
        FileUtils.deleteDirectory(new File(troot))
        val tlake = graft.lake.Lake(troot)
        val tspec = graft.config.PartitionSpec("events_time", "p0",
          tpIndexColumn = Some("event_type"))
        val src = events(spark, n)
        val t0 = 1704067200L // events() epoch start; span = 30 days
        val slice = 2592000L / 8 // 3.75-day ingest slices
        record("timeprune_build", m, n, time {
          for (i <- 0 until 8)
            graft.ingest.Ingest.collectBatch(spark, tlake, tspec,
              src.where(col("ts") >= timestamp_seconds(lit(t0 + i * slice)) &&
                col("ts") < timestamp_seconds(lit(t0 + (i + 1) * slice))),
              timestampColumn = "ts")
          // deliberately NO enableColumnStats: manifest zones only
        })
        def stockRead() = spark.read
          .option("basePath", tlake.tableDir("events_time"))
          .parquet(tlake.tableDir("events_time"))
        val band = ("2024-01-16 12:00:00", "2024-01-19 00:00:00") // inside slice 4
        def agg(df: DataFrame): (Long, Double) = {
          val r = df.where(
            col("tp_timestamp") >= lit(band._1).cast("timestamp") &&
              col("tp_timestamp") < lit(band._2).cast("timestamp"))
            .agg(count(lit(1)), sum("value")).head()
          (r.getLong(0), r.getDouble(1))
        }
        if (m == mults.min) { agg(stockRead()); () }
        var fullR: (Long, Double) = null
        record("timeprune_full", m, n, time { fullR = agg(stockRead()) })
        var viewR: (Long, Double) = null
        var viewFiles = -1L
        record("timeprune_view_query", m, n, time {
          graft.query.Views.register(spark, tlake,
            graft.query.Views.Filters())
          val q = spark.sql("SELECT count(*) AS c, sum(value) AS s " +
            s"FROM events_time WHERE tp_timestamp >= " +
            s"timestamp'${band._1}' AND tp_timestamp < " +
            s"timestamp'${band._2}'")
          // collect(), not head(): head() plans a SEPARATE limited
          // query, leaving this df's scan metrics at zero
          val row = q.collect()(0)
          viewR = (row.getLong(0), row.getDouble(1))
          viewFiles = graft.query.ScanAudit.filesRead(q)
        })
        require(viewR._1 == fullR._1 && fullR._1 > 0 &&
          math.abs(viewR._2 - fullR._2) <= 1e-6 * math.abs(fullR._2),
          s"time-zone pruning changed the result: $fullR vs $viewR")
        val fullFiles = stockRead().inputFiles.length
        println(s"""{"family":"timeprune_files","mult":$m,""" +
          s""""full_files":$fullFiles,"view_query_files":$viewFiles}""")
        require(viewFiles * 4 <= fullFiles,
          s"a 2.5-day band over 30 days should prune >3/4 of files: " +
            s"$viewFiles/$fullFiles")
      }

      // ---- metadata-only aggregates: scan grows 10×, answer doesn't --
      // The scale claim behind qi31/qi33: a whole-table
      // count/count(c)/min/max through plain SQL is answered from the
      // manifest + colstats sidecar (MetadataAggregateRule), so its
      // cost is METADATA-sized while the honest scanning baseline grows
      // with the data. Identity valve: both arms must agree exactly;
      // the files-read pin must hold at every multiplier.
      if (families("metaagg")) {
        val n = EventsBase * m
        val aroot = s"$root/metaagg_x$m"
        FileUtils.deleteDirectory(new File(aroot))
        val alake = graft.lake.Lake(aroot)
        val aspec = graft.config.PartitionSpec("events_meta", "p0",
          tpIndexColumn = Some("event_type"))
        val src = events(spark, n)
        record("metaagg_build", m, n, time {
          for (i <- 0 until 8)
            graft.ingest.Ingest.collectBatch(spark, alake, aspec,
              src.where(col("value") >= i * 12.5 &&
                col("value") < (i + 1) * 12.5),
              timestampColumn = "ts")
          alake.enableColumnStats(spark, "events_meta",
            Seq("value", "user_id"))
        })
        def stockRead() = spark.read
          .option("basePath", alake.tableDir("events_meta"))
          .parquet(alake.tableDir("events_meta"))
        def aggOf(r: org.apache.spark.sql.Row) =
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getLong(4), r.getLong(5), r.getDouble(6))
        if (m == mults.min) { stockRead().count(); () }
        var fullR: (Long, Long, Double, Double, Long, Long, Double) = null
        record("metaagg_scan", m, n, time {
          fullR = aggOf(stockRead().agg(count(lit(1)), count(col("value")),
            min("value"), max("value"),
            min("user_id"), max("user_id"), avg("user_id")).head())
        })
        var metaR: (Long, Long, Double, Double, Long, Long, Double) = null
        var metaFiles = -1L
        record("metaagg_metadata", m, n, time {
          graft.query.Views.register(spark, alake,
            graft.query.Views.Filters())
          val q = spark.sql("SELECT count(*), count(value), min(value), " +
            "max(value), min(user_id), max(user_id), avg(user_id) " +
            "FROM events_meta")
          val row = q.collect()(0)
          metaR = aggOf(row)
          metaFiles = graft.query.ScanAudit.filesRead(q)
        })
        // avg identity holds EXACTLY: same-signed longs with a total
        // far under 2^53 make the scan's double accumulation lossless
        require(fullR == metaR && fullR._1 > 0,
          s"metadata aggregate diverged from the scan: $fullR vs $metaR")
        val fullFiles = stockRead().inputFiles.length
        println(s"""{"family":"metaagg_files","mult":$m,""" +
          s""""full_files":$fullFiles,"metadata_files":$metaFiles}""")
        require(metaFiles == 0L,
          s"metadata aggregate scanned $metaFiles files at x$m")
        // ndv: sketch-union answer scan-free, within the published
        // error bound of the exact distinct count (lgK=12: ±1.6% 2σ;
        // gate at 5%)
        var ndvEst = -1L
        record("metaagg_ndv", m, n, time {
          val q = spark.sql("SELECT ndv(user_id) FROM events_meta")
          ndvEst = q.collect()(0).getLong(0)
          require(graft.query.ScanAudit.filesRead(q) == 0L,
            "ndv must be served from sidecar sketches")
        })
        val ndvExact = stockRead()
          .agg(countDistinct(col("user_id"))).head().getLong(0)
        require(math.abs(ndvEst - ndvExact) <= ndvExact / 20 + 2,
          s"ndv $ndvEst vs exact $ndvExact out of bound at x$m")
        // quantile: per-file KLL blobs merge scan-free, value within
        // the k=200 rank bound of the exact percentile (gate: the
        // exact percentiles at p ± 0.03 bracket the estimate)
        var qEst = Double.NaN
        record("metaagg_quantile", m, n, time {
          val q = spark.sql(
            "SELECT graft_quantile(value, 0.5d) FROM events_meta")
          qEst = q.collect()(0).getDouble(0)
          require(graft.query.ScanAudit.filesRead(q) == 0L,
            "quantile must be served from sidecar KLL blobs")
        })
        val qb = stockRead().agg(
          expr("percentile(value, 0.47d)"),
          expr("percentile(value, 0.53d)")).head()
        require(qEst >= qb.getDouble(0) && qEst <= qb.getDouble(1),
          s"median $qEst outside [${qb.getDouble(0)}, " +
            s"${qb.getDouble(1)}] at x$m")
      }

      // ---- SQL time-band hybrid at volume ----------------------------
      // The scale claim behind qi38: a wide tp_timestamp band through
      // plain SQL scans ONLY the edge-straddling files; the contained
      // middle is served from the manifest+sidecar. The honest
      // baseline (zone-pruned stock behavior) reads every overlapping
      // file — at 100 TB that is the difference between a month of
      // I/O and two boundary days.
      if (families("bandagg")) {
        val n = EventsBase * m
        val broot = s"$root/bandagg_x$m"
        FileUtils.deleteDirectory(new File(broot))
        val blake = graft.lake.Lake(broot)
        val bspec = graft.config.PartitionSpec("events_band", "p0",
          tpIndexColumn = Some("event_type"))
        val src = events(spark, n)
        val t0 = 1704067200L // events() epoch start; span = 30 days
        val slice = 2592000L / 8
        record("bandagg_build", m, n, time {
          for (i <- 0 until 8)
            graft.ingest.Ingest.collectBatch(spark, blake, bspec,
              src.where(col("ts") >= timestamp_seconds(lit(t0 + i * slice)) &&
                col("ts") < timestamp_seconds(lit(t0 + (i + 1) * slice))),
              timestampColumn = "ts")
          blake.enableColumnStats(spark, "events_band",
            Seq("value", "user_id", "tp_timestamp"))
        })
        // band = mid-slice-1 .. mid-slice-6: slices 2..5 contained,
        // 1 and 6 straddle, 0 and 7 outside
        val bandLo = "2024-01-05 12:00:00"
        val bandHi = "2024-01-24 12:00:00"
        def stockRead() = spark.read
          .option("basePath", blake.tableDir("events_band"))
          .parquet(blake.tableDir("events_band"))
        def agg(df: DataFrame): (Long, Long, Double, Double, Double) = {
          val r = df.where(
            col("tp_timestamp") >= lit(bandLo).cast("timestamp") &&
              col("tp_timestamp") <= lit(bandHi).cast("timestamp"))
            .agg(count(lit(1)), count(col("value")),
              min("value"), max("value"), avg("user_id")).head()
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4))
        }
        if (m == mults.min) { agg(stockRead()); () }
        var fullR: (Long, Long, Double, Double, Double) = null
        record("bandagg_scan", m, n, time { fullR = agg(stockRead()) })
        var hybR: (Long, Long, Double, Double, Double) = null
        var hybFiles = -1L
        record("bandagg_hybrid", m, n, time {
          graft.query.Views.register(spark, blake,
            graft.query.Views.Filters())
          // avg rides the hybrid as two slots (exact decimal sum +
          // count); identity vs the scan is exact (same-signed longs,
          // totals far under 2^53)
          val q = spark.sql("SELECT count(*), count(value), " +
            "min(value), max(value), avg(user_id) FROM events_band " +
            s"WHERE tp_timestamp >= timestamp'$bandLo' AND " +
            s"tp_timestamp <= timestamp'$bandHi'")
          val row = q.collect()(0)
          hybR = (row.getLong(0), row.getLong(1),
            row.getDouble(2), row.getDouble(3), row.getDouble(4))
          hybFiles = graft.query.ScanAudit.filesRead(q)
        })
        require(fullR == hybR && fullR._1 > 0,
          s"band hybrid diverged from the scan: $fullR vs $hybR")
        val fullFiles = stockRead().inputFiles.length
        println(s"""{"family":"bandagg_files","mult":$m,""" +
          s""""full_files":$fullFiles,"hybrid_files":$hybFiles}""")
        require(hybFiles > 0 && hybFiles * 3 <= fullFiles,
          s"band hybrid should scan only straddlers: " +
            s"$hybFiles of $fullFiles")
      }

      // ---- GROUP BY tp_date bucket hybrid at volume -------------------
      // The scale claim behind qi42: the domain's reporting query
      // (daily counts/sums) over day-contained files is served from
      // per-day metadata partials; only the multi-day straddler files
      // scan and group in-plan. At 100 TB a year-long daily report is
      // kilobytes of metadata plus boundary files — the stock plan
      // reads the year.
      if (families("bucketagg")) {
        val n = EventsBase * m
        val kroot = s"$root/bucketagg_x$m"
        FileUtils.deleteDirectory(new File(kroot))
        val klake = graft.lake.Lake(kroot)
        val kspec = graft.config.PartitionSpec("events_bk", "p0",
          tpIndexColumn = Some("event_type"))
        val src = events(spark, n)
        val t0 = 1704067200L // events() epoch start (2024-01-01 UTC)
        record("bucketagg_build", m, n, time {
          // eight day-contained slices + one TWO-day straddler (the
          // shape time-ordered compaction leaves behind)
          for (i <- 0 until 8)
            graft.ingest.Ingest.collectBatch(spark, klake, kspec,
              src.where(col("ts") >=
                timestamp_seconds(lit(t0 + i * 86400L)) &&
                col("ts") < timestamp_seconds(lit(t0 + (i + 1) * 86400L))),
              timestampColumn = "ts")
          graft.ingest.Ingest.collectBatch(spark, klake, kspec,
            src.where(col("ts") >=
              timestamp_seconds(lit(t0 + 8 * 86400L)) &&
              col("ts") < timestamp_seconds(lit(t0 + 10 * 86400L))),
            timestampColumn = "ts")
          klake.enableColumnStats(spark, "events_bk",
            Seq("value", "user_id", "tp_timestamp"))
        })
        def stockRead() = spark.read
          .option("basePath", klake.tableDir("events_bk"))
          .parquet(klake.tableDir("events_bk"))
        def daily(df: DataFrame): Seq[String] = df
          .groupBy("tp_date")
          .agg(count(lit(1)).as("n"), count(col("value")).as("nv"),
            min("value"), max("value"), sum("user_id"), avg("user_id"))
          .orderBy("tp_date").collect().map(_.toString).toSeq
        if (m == mults.min) { daily(stockRead()); () }
        var fullD: Seq[String] = null
        record("bucketagg_scan", m, n, time { fullD = daily(stockRead()) })
        var hybD: Seq[String] = null
        var hybFiles = -1L
        record("bucketagg_hybrid", m, n, time {
          graft.query.Views.register(spark, klake,
            graft.query.Views.Filters())
          val q = spark.sql("SELECT tp_date, count(*) AS n, " +
            "count(value) AS nv, min(value), max(value), " +
            "sum(user_id), avg(user_id) FROM events_bk " +
            "GROUP BY tp_date ORDER BY tp_date")
          hybD = q.collect().map(_.toString).toSeq
          hybFiles = graft.query.ScanAudit.filesRead(q)
        })
        require(fullD == hybD && fullD.nonEmpty,
          s"bucket hybrid diverged from the scan at x$m")
        val fullFiles = stockRead().inputFiles.length
        println(s"""{"family":"bucketagg_files","mult":$m,""" +
          s""""full_files":$fullFiles,"hybrid_files":$hybFiles}""")
        require(hybFiles > 0 && hybFiles * 3 <= fullFiles,
          s"bucket hybrid should scan only the multi-day straddlers: " +
            s"$hybFiles of $fullFiles")
        // ---- grain-aligned compaction (r18 verdict task 2): cut the
        // two-day straddler at midnight; the SAME daily report then
        // serves 100% from metadata — zero files read — at every
        // multiplier, and the answer stays bit-identical
        record("bucketagg_align", m, n, time {
          graft.lake.Maintenance.compactAligned(spark, klake, "events_bk")
        })
        var alD: Seq[String] = null
        var alFiles = -1L
        record("bucketagg_hybrid_aligned", m, n, time {
          graft.query.Views.register(spark, klake,
            graft.query.Views.Filters())
          val q = spark.sql("SELECT tp_date, count(*) AS n, " +
            "count(value) AS nv, min(value), max(value), " +
            "sum(user_id), avg(user_id) FROM events_bk " +
            "GROUP BY tp_date ORDER BY tp_date")
          alD = q.collect().map(_.toString).toSeq
          alFiles = graft.query.ScanAudit.filesRead(q)
        })
        require(alD == fullD,
          s"aligned hybrid diverged from the pre-alignment scan at x$m")
        println(s"""{"family":"bucketagg_files_aligned","mult":$m,""" +
          s""""hybrid_files":$alFiles}""")
        require(alFiles == 0,
          s"aligned table must serve the daily report scan-free, " +
            s"read $alFiles")
        // ---- extract keys + IN fold on the aligned lake (r19): the
        // day-of-week profile merges many day buckets onto 7 keys and
        // the two-day IN folds to OR-of-bands — both scan-free once
        // every file is day-contained, at every multiplier
        var dowD: Seq[String] = null
        var dowFiles = -1L
        record("bucketagg_dow_profile", m, n, time {
          val q = spark.sql("SELECT dayofweek(tp_timestamp) AS dow, " +
            "count(*) AS n, sum(user_id) AS s FROM events_bk " +
            "GROUP BY 1 ORDER BY dow")
          dowD = q.collect().map(_.toString).toSeq
          dowFiles = graft.query.ScanAudit.filesRead(q)
        })
        val dowTruth = stockRead()
          .groupBy(dayofweek(col("tp_timestamp")).as("dow"))
          .agg(count(lit(1)).as("n"), sum("user_id").as("s"))
          .orderBy("dow").collect().map(_.toString).toSeq
        require(dowD == dowTruth, s"dow profile diverged at x$m")
        require(dowFiles == 0,
          s"dow profile must be scan-free post-align, read $dowFiles")
        var inRow: String = null
        var inFiles = -1L
        record("bucketagg_in_fold", m, n, time {
          val q = spark.sql("SELECT count(*) AS n, sum(user_id) AS s " +
            "FROM events_bk WHERE tp_date IN " +
            "(DATE'2024-01-02', DATE'2024-01-05')")
          inRow = q.head().toString
          inFiles = graft.query.ScanAudit.filesRead(q)
        })
        val inTruth = stockRead()
          .where(col("tp_date").isin(
            java.sql.Date.valueOf("2024-01-02"),
            java.sql.Date.valueOf("2024-01-05")))
          .agg(count(lit(1)).as("n"), sum("user_id").as("s"))
          .head().toString
        require(inRow == inTruth, s"IN fold diverged at x$m")
        require(inFiles == 0,
          s"two-day IN must serve scan-free post-align, read $inFiles")
      }

      // ---- join-key file skipping at volume -------------------------
      // The scale claim behind qi32: dim-side keys confined to one
      // user_id band prune the fact scan to that band's files; the cut
      // and the join identity must hold at 10×.
      if (families("joinprune")) {
        val n = EventsBase * m
        val jroot = s"$root/joinprune_x$m"
        FileUtils.deleteDirectory(new File(jroot))
        val jlake = graft.lake.Lake(jroot)
        val jspec = graft.config.PartitionSpec("events_jp", "p0",
          tpIndexColumn = Some("event_type"))
        val src = events(spark, n)
        record("joinprune_build", m, n, time {
          for (i <- 0 until 8) // user_id-banded: 8 slices of 125 ids
            graft.ingest.Ingest.collectBatch(spark, jlake, jspec,
              src.where(col("user_id") >= i * 125 &&
                col("user_id") < (i + 1) * 125),
              timestampColumn = "ts")
          jlake.enableColumnStats(spark, "events_jp", Seq("user_id"))
        })
        // dim side: 40 keys inside band 4 (user_id 500..624)
        val keys = spark.range(510, 590, 2).select(col("id").as("user_id"))
        def joined(df: DataFrame): (Long, Double) = {
          val r = df.join(broadcast(keys), "user_id")
            .agg(count(lit(1)), sum("value")).head()
          (r.getLong(0), r.getDouble(1))
        }
        def stockRead() = spark.read
          .option("basePath", jlake.tableDir("events_jp"))
          .parquet(jlake.tableDir("events_jp"))
        if (m == mults.min) { joined(stockRead()); () }
        var fullR: (Long, Double) = null
        record("joinprune_full", m, n, time { fullR = joined(stockRead()) })
        var prunedR: (Long, Double) = null
        var prunedFiles = -1
        record("joinprune_pruned", m, n, time {
          val pr = jlake.readJoinPruned(spark, "events_jp", "user_id", keys)
          prunedFiles = pr.inputFiles.length
          prunedR = joined(pr)
        })
        require(fullR._1 == prunedR._1 && fullR._1 > 0 &&
          math.abs(fullR._2 - prunedR._2) <= 1e-6 * math.abs(fullR._2),
          s"join-key pruning changed the result: $fullR vs $prunedR")
        val fullFiles = stockRead().inputFiles.length
        println(s"""{"family":"joinprune_files","mult":$m,""" +
          s""""full_files":$fullFiles,"pruned_files":$prunedFiles}""")
        require(prunedFiles * 4 <= fullFiles,
          s"keys in 1 of 8 bands should prune >3/4 of files: " +
            s"$prunedFiles/$fullFiles")
      }

      // ---- hot-key STREAMING interval join: plain vs salted --------
      // The one skew regime AQE can never rescue (stateful plans pin
      // their hash partitioning into the state layout): a key holding
      // 25% of both streams serializes its whole symmetric-hash probe
      // — quadratic in per-key batch span — into ONE state
      // partition's task. Variants over identical inboxes:
      //  - stream_skew_plain: intervalJoin at the qi22-style hand
      //    layout (8 partitions, 1 file/trigger)
      //  - stream_skew_salted: saltedIntervalJoin sized END-TO-END by
      //    autoState's skew mode (sampled hottest-share → saltFactor,
      //    second-moment c2 → trigger count) — the sizing pass runs
      //    INSIDE the timed region, it is what the mode costs.
      // Claim: salted ≈ plain at 1× (commit-floor-bound, salt pays a
      // small partition tax) and clearly ahead at 10× (probe-bound,
      // the hot task divides by the fan-out). Correctness of the salt
      // machinery is owned by qi24 + StreamIngestSpec, not here.
      if (families("stream_skew")) {
        val n = EventsBase * m
        val fmt = InboxTsFormat
        val slices = 16
        val skroot = s"$root/stream_skew_x$m"
        Artifacts.ensure(skroot,
          s"stream_skew;v1;n=$n;hot=0.25;keys=1000;slices=$slices") {
          // 25% of rows on user -1, the rest uniform over 1000 users;
          // event times uniform over 30 days, sliced into arrival
          // files by time (inbox mtime order = event-time order, the
          // live-feed shape inboxSample assumes)
          val src = spark.range(n).select(
            col("id").as("event_id"),
            when(pmod(xxhash64(col("id"), lit("h")), lit(4)) === 0,
              lit(-1L)).otherwise(
              pmod(xxhash64(col("id"), lit("k")), lit(1000L)))
              .as("user_id"),
            timestamp_seconds(lit(1704067200L) +
              pmod(xxhash64(col("id"), lit("t")), lit(2592000L)))
              .as("ts"),
            (pmod(xxhash64(col("id"), lit("e")), lit(2)) === 0)
              .as("is_purchase"))
            .withColumn("slice",
              least(floor((unix_timestamp(col("ts")) - lit(1704067200L))
                / lit(2592000L / slices)), lit(slices - 1L)))
          for (i <- 0 until slices) {
            val sl = src.where(col("slice") === i)
            sl.where(col("is_purchase"))
              .select(col("event_id").as("p_id"),
                date_format(col("ts"), fmt).as("ts"),
                col("user_id").as("p_user"))
              .coalesce(1).write.mode("append").json(s"$skroot/purchases")
            sl.where(!col("is_purchase"))
              .select(col("event_id").as("e_id"),
                date_format(col("ts"), fmt).as("ts"),
                col("user_id").as("e_user"))
              .coalesce(1).write.mode("append").json(s"$skroot/errors")
          }
        }
        // variant subset for single-variant iteration (the plain drain
        // alone is ~21 min at 10×); default all
        val variants = sys.env.get("SPARK_GRAFT_SKEW_VARIANTS")
          .map(_.split(",").map(_.trim).toSet)
          .getOrElse(Set("plain", "salted", "wm15", "bucketed", "default",
            "autoback"))
        // returns (max state rows, total sink output rows) — output
        // identity across variants is the cheap in-family correctness
        // valve (full row-level correctness is qi24's/qi27's oracle).
        // mode: "salt" = saltedIntervalJoin (factor 1 degrades to the
        // plain quadratic plan — the salt-only measurement variant);
        // "bucketed" = bucketedIntervalJoin (salt×bucket composed);
        // "default" = the PUBLIC intervalJoin entry point, which as
        // of r15 routes to the bucketed plan — this variant proves
        // the default path lands the bucketed number, not just the
        // explicit opt-in.
        def drain(parts: Int, mfpt: Int, factor: Int,
            ckpt: String, delay: String = "1 hour",
            mode: String = "salt", rocks: Boolean = false,
            width: Option[String] = None): (Long, Long) = {
          val l = inboxStream(spark, s"$skroot/purchases",
            "p_id", "p_ts", "p_user", mfpt)
          val r = inboxStream(spark, s"$skroot/errors",
            "e_id", "e_ts", "e_user", mfpt)
          val joined = mode match {
            case "bucketed" =>
              graft.streaming.StreamIngest.bucketedIntervalJoin(
                l, r, "p_user", "e_user", "p_ts", "e_ts",
                before = "5 minutes", after = "5 minutes",
                leftDelay = delay, rightDelay = delay, factor = factor,
                bucketWidth = width)
            case "default" =>
              graft.streaming.StreamIngest.intervalJoin(
                l, r, "p_user", "e_user", "p_ts", "e_ts",
                before = "5 minutes", after = "5 minutes",
                leftDelay = delay, rightDelay = delay,
                bucketWidth = width)
            case _ =>
              graft.streaming.StreamIngest.saltedIntervalJoin(
                l, r, "p_user", "e_user", "p_ts", "e_ts",
                before = "5 minutes", after = "5 minutes",
                leftDelay = delay, rightDelay = delay,
                factor = factor)
          }
          val prev = spark.conf.get("spark.sql.shuffle.partitions")
          val q = try {
            spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
            def start() = joined.writeStream.format("noop")
              .option("checkpointLocation", s"$skroot/$ckpt")
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger
                .AvailableNow())
              .start()
            if (rocks)
              graft.streaming.StreamIngest.withRocksDBState(spark)(start())
            else start()
          } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
          q.awaitTermination()
          (q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
            .foldLeft(0L)(math.max),
            q.recentProgress.map(_.sink.numOutputRows)
              .filter(_ > 0).sum)
        }
        if (m == mults.min) {   // JVM streaming warmup, untimed
          FileUtils.deleteDirectory(new File(s"$skroot/ckpt_warm"))
          drain(parts = 8, mfpt = slices, factor = 1, ckpt = "ckpt_warm")
          ()
        }
        if (variants("plain")) {
          FileUtils.deleteDirectory(new File(s"$skroot/ckpt_plain"))
          var plain = (0L, 0L)
          record("stream_skew_plain", m, n, time {
            plain = drain(parts = 8, mfpt = 1, factor = 1,
              ckpt = "ckpt_plain")
          })
          println(s"""{"family":"stream_skew_plain","mult":$m,""" +
            s""""max_state_rows":${plain._1}}""")
        }
        def sizing(horizonSecs: Long, bucketed: Boolean = false,
            heapRows: Long = graft.streaming.StreamIngest
              .BucketedStateRowsPerPartition,
            windowSecs: Long = 0L)
            : graft.streaming.StreamIngest.StreamSizing = {
          val (ps, psB, ptB) = graft.streaming.StreamIngest.inboxSample(
            spark, s"$skroot/purchases", inboxSchema("p_id", "p_user"))
          val (es, esB, etB) = graft.streaming.StreamIngest.inboxSample(
            spark, s"$skroot/errors", inboxSchema("e_id", "e_user"))
          val sample = ps.select(col("p_user").as("k"),
              to_timestamp(col("ts"), fmt).as("t"))
            .unionByName(es.select(col("e_user").as("k"),
              to_timestamp(col("ts"), fmt).as("t")))
          graft.streaming.StreamIngest.autoState(
            sample, "k", "t", horizonSecs = horizonSecs,
            rowScale = (ptB + etB).toDouble / (psB + esB),
            bucketed = bucketed, heapRowsPerPartition = heapRows,
            windowSecs = windowSecs)
        }
        var salted = (0L, 0L)
        if (variants("salted")) {
          FileUtils.deleteDirectory(new File(s"$skroot/ckpt_salted"))
          var sz: graft.streaming.StreamIngest.StreamSizing = null
          record("stream_skew_salted", m, n, time {
            sz = sizing(3600L + 600L)
            salted = drain(sz.shufflePartitions,
              sz.maxFilesPerTrigger(slices), sz.saltFactor,
              ckpt = "ckpt_salted")
          })
          println(s"""{"family":"stream_skew_salted","mult":$m,""" +
            s""""max_state_rows":${salted._1},"salt":${sz.saltFactor},""" +
            s""""parts":${sz.shufflePartitions},""" +
            s""""triggers":${sz.triggers},""" +
            s""""mfpt":${sz.maxFilesPerTrigger(slices)}}""")
        }
        // WATERMARK LEVER (verdict r13 task 4): the salted join's
        // residual >1 exponent is per-salt probe work — the symmetric
        // hash rescans same-(key,salt) state per arriving row, and
        // state occupancy is ∝ (join window + watermark slack). Same
        // ±5 min join window, slack 1 h → 15 min: occupancy shrinks
        // ~3.4×, probe work with it. Output rows must MATCH the 1 h
        // run — slack ≥ the join window preserves every match on this
        // in-order inbox, so the slack is pure state-retention cost
        // and the lever is free correctness-wise until arrival
        // disorder exceeds it.
        if (variants("wm15")) {
          FileUtils.deleteDirectory(new File(s"$skroot/ckpt_salted_wm"))
          var wm = (0L, 0L)
          var szw: graft.streaming.StreamIngest.StreamSizing = null
          record("stream_skew_salted_wm15", m, n, time {
            szw = sizing(900L + 600L)
            wm = drain(szw.shufflePartitions,
              szw.maxFilesPerTrigger(slices), szw.saltFactor,
              ckpt = "ckpt_salted_wm", delay = "15 minutes")
          })
          println(s"""{"family":"stream_skew_salted_wm15","mult":$m,""" +
            s""""max_state_rows":${wm._1},"salt":${szw.saltFactor},""" +
            s""""parts":${szw.shufflePartitions},""" +
            s""""triggers":${szw.triggers},""" +
            s""""mfpt":${szw.maxFilesPerTrigger(slices)},""" +
            s""""output_rows":${wm._2}}""")
          if (variants("salted"))
            require(salted._2 == wm._2,
              s"tighter watermark changed the join output: " +
                s"${salted._2} vs ${wm._2}")
        }
        // TIME-BUCKETED variant (r14): the (key, salt, bucket) state
        // layout bounds the symmetric-hash probe to one window-width
        // of state per arriving row — the occupancy-floor fix the
        // wm15 measurement showed watermarks cannot deliver on coarse
        // triggers. Same autoState sizing as the salted run; output
        // rows must match it exactly (row-identity is qi27's oracle).
        if (variants("bucketed")) {
          FileUtils.deleteDirectory(new File(s"$skroot/ckpt_bucketed"))
          var bk = (0L, 0L)
          var szb: graft.streaming.StreamIngest.StreamSizing = null
          record("stream_skew_bucketed", m, n, time {
            szb = sizing(3600L + 600L, bucketed = true)
            bk = drain(szb.shufflePartitions,
              szb.maxFilesPerTrigger(slices), szb.saltFactor,
              ckpt = "ckpt_bucketed", mode = "bucketed")
          })
          println(s"""{"family":"stream_skew_bucketed","mult":$m,""" +
            s""""max_state_rows":${bk._1},"salt":${szb.saltFactor},""" +
            s""""parts":${szb.shufflePartitions},""" +
            s""""triggers":${szb.triggers},""" +
            s""""mfpt":${szb.maxFilesPerTrigger(slices)},""" +
            s""""output_rows":${bk._2}}""")
          if (variants("salted"))
            require(salted._2 == bk._2,
              s"bucketing changed the join output: " +
                s"${salted._2} vs ${bk._2}")
          // COARSE check: autoState's T* models the QUADRATIC probe
          // the bucket just removed — with probe work linear per row,
          // commit cost should dominate and ONE trigger should win.
          // If this beats the sized run, autoState needs a bucketed
          // mode (fewer, larger triggers).
          FileUtils.deleteDirectory(new File(s"$skroot/ckpt_bucketed_c"))
          var bkc = (0L, 0L)
          record("stream_skew_bucketed_coarse", m, n, time {
            bkc = drain(szb.shufflePartitions, mfpt = slices,
              factor = szb.saltFactor,
              ckpt = "ckpt_bucketed_c", mode = "bucketed")
          })
          println(
            s"""{"family":"stream_skew_bucketed_coarse","mult":$m,""" +
            s""""max_state_rows":${bkc._1},""" +
            s""""output_rows":${bkc._2}}""")
          require(bk._2 == bkc._2,
            s"trigger granularity changed the join output: " +
              s"${bk._2} vs ${bkc._2}")
        }
        // DEFAULT-PATH variant (r15): the public intervalJoin entry
        // point, which now routes to the bucketed plan — same
        // autoState bucketed sizing, NO salt (the per-bucket hot-key
        // mass on this fixture is already spread across partitions by
        // the bucket component of the state key). Proves users get
        // the measured bucketed number without opting in.
        if (variants("default")) {
          FileUtils.deleteDirectory(new File(s"$skroot/ckpt_default"))
          var df = (0L, 0L)
          var szd: graft.streaming.StreamIngest.StreamSizing = null
          record("stream_skew_default", m, n, time {
            szd = sizing(3600L + 600L, bucketed = true)
            df = drain(szd.shufflePartitions,
              szd.maxFilesPerTrigger(slices), factor = 1,
              ckpt = "ckpt_default", mode = "default")
          })
          println(s"""{"family":"stream_skew_default","mult":$m,""" +
            s""""max_state_rows":${df._1},""" +
            s""""parts":${szd.shufflePartitions},""" +
            s""""triggers":${szd.triggers},""" +
            s""""mfpt":${szd.maxFilesPerTrigger(slices)},""" +
            s""""output_rows":${df._2}}""")
          if (variants("salted"))
            require(salted._2 == df._2,
              s"default-path routing changed the join output: " +
                s"${salted._2} vs ${df._2}")
        }
        // AUTO-WIDTH variant (r16 task 3): the public intervalJoin
        // path with the bucket width DERIVED by autoState's occupancy
        // rule instead of the default W. This sparse fixture (1000
        // keys × salt, occupancy ≪ 1 row per (key, salt, bucket))
        // must derive 2W — the width the widths family measured 27%
        // faster at 10× — and land it end-to-end through the default
        // routing with output identity. The require on the derived
        // value pins the derivation; the timing row shows whether the
        // sparse-fixture win survives the operating path.
        if (variants("autowidth")) {
          FileUtils.deleteDirectory(new File(s"$skroot/ckpt_autowidth"))
          var aw = (0L, 0L)
          var szaw: graft.streaming.StreamIngest.StreamSizing = null
          record("stream_skew_autowidth", m, n, time {
            szaw = sizing(3600L + 600L, bucketed = true,
              windowSecs = 300L)
            require(szaw.bucketWidth == Some("600 seconds"),
              s"sparse fixture must derive 2W=600s, got " +
                s"${szaw.bucketWidth}")
            aw = drain(szaw.shufflePartitions,
              szaw.maxFilesPerTrigger(slices), factor = 1,
              ckpt = "ckpt_autowidth", mode = "default",
              width = szaw.bucketWidth)
          })
          println(s"""{"family":"stream_skew_autowidth","mult":$m,""" +
            s""""max_state_rows":${aw._1},""" +
            s""""width":"${szaw.bucketWidth.getOrElse("default")}",""" +
            s""""parts":${szaw.shufflePartitions},""" +
            s""""triggers":${szaw.triggers},""" +
            s""""output_rows":${aw._2}}""")
          if (variants("salted"))
            require(salted._2 == aw._2,
              s"auto-width routing changed the join output: " +
                s"${salted._2} vs ${aw._2}")
        }
        // AUTO-BACKEND variant (r15 task 2): a full-span watermark —
        // the "retain everything for late data" shape whose horizon
        // state floor NO trigger granularity can shrink — sized on a
        // small-heap executor profile (20k state rows/partition ×16
        // partitions = 320k row budget, under the fixture's 550k-row
        // 1× horizon floor). autoState must DERIVE the RocksDB flip +
        // the single-trigger drain, and the flipped configuration
        // must run end-to-end with output identical to every other
        // variant. The 720 h delay exceeds the fixture's 30-day span,
        // so no row is ever dropped as late and nothing evicts —
        // exactly the state≫heap regime the flip exists for.
        if (variants("autoback")) {
          FileUtils.deleteDirectory(new File(s"$skroot/ckpt_autoback"))
          var ab = (0L, 0L)
          var sza: graft.streaming.StreamIngest.StreamSizing = null
          record("stream_skew_autoback", m, n, time {
            sza = sizing(2592000L + 3600L, bucketed = true,
              heapRows = 20000L)
            require(sza.backend == "rocksdb",
              s"full-span horizon on a 100k-row budget must flip: $sza")
            ab = drain(sza.shufflePartitions,
              sza.maxFilesPerTrigger(slices), sza.saltFactor,
              ckpt = "ckpt_autoback", delay = "720 hours",
              mode = "default", rocks = sza.backend == "rocksdb")
          })
          println(s"""{"family":"stream_skew_autoback","mult":$m,""" +
            s""""max_state_rows":${ab._1},"backend":"${sza.backend}",""" +
            s""""state_rows_derived":${sza.stateRows},""" +
            s""""parts":${sza.shufflePartitions},""" +
            s""""triggers":${sza.triggers},""" +
            s""""output_rows":${ab._2}}""")
          if (variants("salted"))
            require(salted._2 == ab._2,
              s"auto-backend flip changed the join output: " +
                s"${salted._2} vs ${ab._2}")
        }
        // BUCKET-WIDTH sensitivity (r15 task 7): W/2 (5 replicas,
        // half the probe slice), W (the 3-replica default), 2W (3
        // replicas, double the probe slice) over identical inboxes,
        // same bucketed autoState sizing. Which price is steeper —
        // replica state+shuffle or probe span — decides whether W
        // should ever be auto-derived from the inbox sample. Output
        // rows must be identical at every width (the replica-count
        // generalization is row-invisible by the same argument as the
        // ±1 case, pinned in StreamIngestSpec).
        if (variants("widths")) {
          var szw2: graft.streaming.StreamIngest.StreamSizing = null
          val outs = Seq(
            ("w_half", Some("150 seconds")),
            ("w_def", None),
            ("w_double", Some("600 seconds")),
            ("w_oct", Some("2400 seconds"))).map { case (tag, wd) =>
            FileUtils.deleteDirectory(new File(s"$skroot/ckpt_$tag"))
            var res = (0L, 0L)
            record(s"stream_skew_width_$tag", m, n, time {
              if (szw2 == null) szw2 = sizing(3600L + 600L, bucketed = true)
              res = drain(szw2.shufflePartitions,
                szw2.maxFilesPerTrigger(slices), szw2.saltFactor,
                ckpt = s"ckpt_$tag", mode = "bucketed", width = wd)
            })
            println(s"""{"family":"stream_skew_width_$tag","mult":$m,""" +
              s""""max_state_rows":${res._1},"output_rows":${res._2}}""")
            res._2
          }
          require(outs.distinct.size == 1,
            s"bucket width changed the join output: $outs")
        }
        // DENSE-occupancy width probe (the widths family's open
        // question): the sparse fixture (1000 keys × salt ≈ 0.04
        // rows per state key) showed per-key bookkeeping dominating
        // — 2W won. Here 10 uniform keys put ~12 rows in every
        // (key, bucket) at 10×, so the probe's linear-in-span term
        // has real rows to iterate: where 2W/4W stop winning is the
        // occupancy crossover that would justify auto-deriving W.
        if (variants("widths_dense")) {
          val droot = s"$root/stream_dense_x$m"
          Artifacts.ensure(droot,
            s"stream_dense;v1;n=$n;keys=10;slices=$slices") {
            val src = spark.range(n).select(
              col("id").as("event_id"),
              pmod(xxhash64(col("id"), lit("k")), lit(10L))
                .as("user_id"),
              timestamp_seconds(lit(1704067200L) +
                pmod(xxhash64(col("id"), lit("t")), lit(2592000L)))
                .as("ts"),
              (pmod(xxhash64(col("id"), lit("e")), lit(2)) === 0)
                .as("is_purchase"))
              .withColumn("slice",
                least(floor((unix_timestamp(col("ts")) -
                  lit(1704067200L)) / lit(2592000L / slices)),
                  lit(slices - 1L)))
            for (i <- 0 until slices) {
              val sl = src.where(col("slice") === i)
              sl.where(col("is_purchase"))
                .select(col("event_id").as("p_id"),
                  date_format(col("ts"), fmt).as("ts"),
                  col("user_id").as("p_user"))
                .coalesce(1).write.mode("append")
                .json(s"$droot/purchases")
              sl.where(!col("is_purchase"))
                .select(col("event_id").as("e_id"),
                  date_format(col("ts"), fmt).as("ts"),
                  col("user_id").as("e_user"))
                .coalesce(1).write.mode("append").json(s"$droot/errors")
            }
          }
          def drainDense(ckpt: String, width: Option[String])
              : (Long, Long) = {
            val l = inboxStream(spark, s"$droot/purchases", "p_id", "p_ts",
              "p_user", slices)
            val r = inboxStream(spark, s"$droot/errors", "e_id", "e_ts",
              "e_user", slices)
            val joined = graft.streaming.StreamIngest
              .bucketedIntervalJoin(
                l, r, "p_user", "e_user", "p_ts", "e_ts",
                before = "5 minutes", after = "5 minutes",
                leftDelay = "1 hour", rightDelay = "1 hour",
                factor = 1, bucketWidth = width)
            val prev = spark.conf.get("spark.sql.shuffle.partitions")
            val q = try {
              spark.conf.set("spark.sql.shuffle.partitions", "8")
              joined.writeStream.format("noop")
                .option("checkpointLocation", s"$droot/$ckpt")
                .outputMode("append")
                .trigger(org.apache.spark.sql.streaming.Trigger
                  .AvailableNow())
                .start()
            } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
            q.awaitTermination()
            (q.recentProgress
              .flatMap(_.stateOperators.map(_.numRowsTotal))
              .foldLeft(0L)(math.max),
              q.recentProgress.map(_.sink.numOutputRows)
                .filter(_ > 0).sum)
          }
          val dOuts = Seq(
            ("w_def", None),
            ("w_double", Some("600 seconds")),
            ("w_quad", Some("1200 seconds"))).map { case (tag, wd) =>
            FileUtils.deleteDirectory(new File(s"$droot/ckpt_$tag"))
            var res = (0L, 0L)
            record(s"stream_dense_width_$tag", m, n, time {
              res = drainDense(s"ckpt_$tag", wd)
            })
            println(
              s"""{"family":"stream_dense_width_$tag","mult":$m,""" +
              s""""max_state_rows":${res._1},"output_rows":${res._2}}""")
            res._2
          }
          require(dOuts.distinct.size == 1,
            s"bucket width changed the dense-join output: $dOuts")
        }
      }
      // ---- CDC upsert against a populated lake table ----
      if (families("upsert")) {
        // fixture: N-row table (untimed); timed: a changelog of N/100
        // corrections + N/200 inserts through the dynamic-overwrite
        // merge — the qi16 shape. Cost should track the TOUCHED dirs,
        // not the table size.
        val n = EventsBase * m
        val lakeRoot = s"$root/uplake_x$m"
        FileUtils.deleteDirectory(new File(lakeRoot))
        val lake = graft.lake.Lake(lakeRoot)
        val spec = graft.config.PartitionSpec("events_up", "p0",
          tpIndexColumn = Some("event_type"))
        val src = events(spark, n)
        graft.ingest.Ingest.collectBatch(spark, lake, spec, src,
          timestampColumn = "ts")
        val updates = src.where(col("event_id") % 100 === 0)
          .withColumn("value", col("value") + 1000.0)
        val inserts = src.where(col("event_id") % 200 === 0)
          .withColumn("event_id", col("event_id") + 1000000000L)
        val batch = updates.unionByName(inserts)
        record("upsert", m, n, time {
          graft.lake.Upsert.upsert(spark, lake, "events_up", batch,
            spec, keyCols = Seq("event_id"), timestampColumn = "ts")
          ()
        })
      }
      // ---- incremental rollup refresh after a second collect ----
      if (families("rollup")) {
        val n = EventsBase * m
        val lakeRoot = s"$root/rolllake_x$m"
        FileUtils.deleteDirectory(new File(lakeRoot))
        val lake = graft.lake.Lake(lakeRoot)
        val spec = graft.config.PartitionSpec("events_r", "p0",
          tpIndexColumn = Some("event_type"))
        val rspec = graft.config.RollupSpec("events_r", "daily",
          groupBy = Seq("tp_date", "event_type"),
          aggs = Seq(
            graft.config.RollupAggSpec("n", "count", None),
            graft.config.RollupAggSpec("sum_value", "sum", Some("value"))))
        val src = events(spark, n)
        val r1 = graft.ingest.Ingest.collectBatch(spark, lake, spec,
          src.where(col("event_id") % 2 === 0), timestampColumn = "ts")
        graft.lake.Rollup.refreshTouched(spark, lake, rspec, r1.touchedDirs)
        val r2 = graft.ingest.Ingest.collectBatch(spark, lake, spec,
          src.where(col("event_id") % 2 === 1), timestampColumn = "ts")
        record("rollup", m, n, time {
          graft.lake.Rollup.refreshTouched(spark, lake, rspec,
            r2.touchedDirs)
          ()
        })
      }
      // ---- compaction over a fragmented lake table ----
      if (families("compact")) {
        val n = EventsBase * m
        val lakeRoot = s"$root/lake_x$m"
        FileUtils.deleteDirectory(new File(lakeRoot))
        val lake = graft.lake.Lake(lakeRoot)
        val spec = graft.config.PartitionSpec("events_scale", "p0",
          tpIndexColumn = Some("event_type"))
        val src = events(spark, n)
        // 3 interleaved appends → overlapping time ranges per dir
        (0 until 3).foreach { i =>
          graft.ingest.Ingest.collectBatch(spark, lake, spec,
            src.where(pmod(col("event_id"), lit(3)) === i),
            timestampColumn = "ts")
        }
        record("compact", m, n, time {
          graft.lake.Maintenance.compact(spark, lake, "events_scale")
        })
      }
      // ---- wide-schema stress: the multiplier scales COLUMN COUNT
      // (100·m columns, rows fixed at 20k) through the full ingest
      // path — JSONL parse under a declared 100·m-column TableSpec,
      // Conversion's per-column cast projection, Validation's
      // single-aggregate over the required columns, the partitioned
      // append, then a 1-column pruned aggregate and a compact pass.
      // This is the CloudTrail-shaped table (hundreds of sparse
      // columns) the row-scaled families never exercise; the failure
      // modes hunted are width-quadratic analysis, codegen falling
      // over the 64KB method limit on the validation aggregate, and a
      // pruned read that fails to prune (wall would track width, not
      // the 1 column read).
      if (families("wide_schema")) {
        val w = 100 * m
        val rows = 20000L
        val wroot = s"$root/wide_x$m"
        val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        Artifacts.ensure(wroot, s"wide;v1;w=$w;rows=$rows;files=4") {
          val cols = (0 until w).map { j =>
            val v = (pmod(xxhash64(col("event_id"), lit(j)), lit(10000))
              .cast("double") / 100.0)
            // ~1% planted nulls on one required and one optional
            // column so validation's violated-column path runs
            if (j == 5 || j == 50)
              when(pmod(col("event_id"), lit(100)) === 7 + j % 100,
                  lit(null))
                .otherwise(v).as(s"c$j")
            else v.as(s"c$j")
          }
          events(spark, rows)
            .select(Seq(col("event_id"),
              date_format(col("ts"), fmt).as("ts"),
              col("event_type")) ++ cols.map(c => c): _*)
            .repartition(4).write.mode("overwrite").json(s"$wroot/jsonl")
        }
        val chunkFiles = new java.io.File(s"$wroot/jsonl").listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".json"))
          .map(_.getPath).toSeq.sorted
        val tspec = graft.config.TableSpec(s"events_w$w",
          Seq(graft.config.ColumnSpec("event_id", Some("bigint"),
            required = true),
            graft.config.ColumnSpec("ts", Some("timestamp")),
            graft.config.ColumnSpec("event_type", Some("varchar"))) ++
            (0 until w).map(j => graft.config.ColumnSpec(s"c$j",
              Some("double"), required = j < 10)))
        val lakeRoot = s"$wroot/lake"
        FileUtils.deleteDirectory(new File(lakeRoot))
        val lake = graft.lake.Lake(lakeRoot)
        val spec = graft.config.PartitionSpec(s"events_w$w", "p0",
          tpIndexColumn = Some("event_type"))
        record("ws_collect", m, w, time {
          // two interleaved collects → 2 overlapping files per dir, so
          // ws_compact below has real work at every width
          chunkFiles.grouped((chunkFiles.size + 1) / 2).foreach { files =>
            graft.ingest.Ingest.collectJsonl(spark, lake, spec, files,
              tspec, timestampColumn = "ts")
          }
        })
        record("ws_pruned", m, w, time {
          // 2 of 100·m+8 columns: wall must track the columns READ
          lake.read(spark, s"events_w$w")
            .agg(sum(col("c0")), max(col("tp_timestamp"))).head()
          ()
        })
        record("ws_compact", m, w, time {
          graft.lake.Maintenance.compact(spark, lake, s"events_w$w")
        })
      }
      // ---- streaming bounded-state rehearsal (interval join +
      // sessionize). The streaming claim in StreamIngest's scaladoc —
      // "bounded state is what survives an unbounded stream at
      // 100 TB/day" — has exponents nowhere; this family measures it.
      // Fixture: the events corpus split into TIME-ORDERED inbox
      // files (slice i = the i-th 1/8 of the 30-day range, written
      // sequentially so file mod-times, which the file source orders
      // batches by, advance with event time). That is the production
      // inbox shape: the watermark then moves monotonically, state
      // evicts as it goes, and nothing is dropped as late. Timed:
      // drain all 8 micro-batches (maxFilesPerTrigger=1) through
      //  - stream_ijoin: the qi22 interval join (±30 min, 1 h
      //    watermark, shuffle partitions sized to key cardinality
      //    BEFORE the first checkpoint — the qi22 rule), and
      //  - stream_sess: flatMapGroupsWithState sessionize (30 min
      //    gap, 1 h watermark),
      // both into a checkpointed noop sink. The claims under test:
      // wall ≈ linear in rows at constant batch count (per-batch
      // state-store commit overhead amortizes), and peak state rows
      // track ACTIVE KEYS (flat 1k users), not input size — the
      // max-over-progress numRowsTotal is printed alongside.
      if (families("stream")) {
        val n = EventsBase * m
        val fmt = InboxTsFormat
        val sroot = s"$root/stream_x$m"
        streamInbox(spark, sroot, n, slices = 8)
        def drainStateRows(q: org.apache.spark.sql.streaming
            .StreamingQuery): Long = {
          q.awaitTermination()
          q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
            .foldLeft(0L)(math.max)
        }
        // PLAIN plan, explicitly: this family documents the quadratic
        // symmetric-hash probe's cost model (the coarse/fine trigger
        // crossover and the T* optimum). The public intervalJoin now
        // routes to the bucketed plan — the default path's numbers
        // live in the stream_skew family's "default" variant.
        def drainIjoin(root0: String, parts: Int, mfpt: Int,
            ckpt: String = "ckpt_ij"): Long = {
          val joined = graft.streaming.StreamIngest.plainIntervalJoin(
            inboxStream(spark, s"$root0/purchases",
              "p_id", "p_ts", "p_user", mfpt),
            inboxStream(spark, s"$root0/errors",
              "e_id", "e_ts", "e_user", mfpt),
            "p_user", "e_user", "p_ts", "e_ts",
            before = "30 minutes", after = "30 minutes",
            leftDelay = "1 hour", rightDelay = "1 hour")
          val prev = spark.conf.get("spark.sql.shuffle.partitions")
          val q = try {
            spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
            joined.writeStream.format("noop")
              .option("checkpointLocation", s"$root0/$ckpt")
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger
                .AvailableNow())
              .start()
          } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
          drainStateRows(q)
        }
        // untimed warmup ONCE, at the first multiplier: the first
        // streaming query in a JVM pays state-store provider and
        // FileStreamSource class-init/JIT that contaminated the 1×
        // point (first measured run: 13.5 s at 1× vs 10.4 s at 10× —
        // a negative exponent from pure warmup). Drain the join once
        // on the smallest inbox, throw the time away.
        if (m == mults.min) {
          FileUtils.deleteDirectory(new File(s"$sroot/ckpt_ij"))
          drainIjoin(sroot, parts = 8, mfpt = 1)
          ()
        }
        FileUtils.deleteDirectory(new File(s"$sroot/ckpt_ij"))
        var ijState = 0L
        record("stream_ijoin", m, n, time {
          ijState = drainIjoin(sroot, parts = 8, mfpt = 1)
        })
        println(s"""{"family":"stream_ijoin","mult":$m,"max_state_rows":$ijState}""")
        // AUTO mode (verdict r12 task 1): the same join on a 32-slice
        // inbox with autoState choosing BOTH knobs — shuffle
        // partitions from key cardinality and files-per-trigger from
        // the commit/probe cost balance. The claim under test: auto
        // matches or beats the best hand-tuned variant at EVERY
        // multiplier (coarse-8 wins at 1M, fine-32 wins at 10M — auto
        // must track whichever is right with no crossover cliff).
        val aroot = s"$root/streamfine_x$m"
        streamInbox(spark, aroot, n, slices = 32)
        FileUtils.deleteDirectory(new File(s"$aroot/ckpt_ij_auto"))
        var aState = 0L
        var sz: graft.streaming.StreamIngest.StreamSizing = null
        record("stream_ijoin_auto", m, n, time {
          // the sizing pass is INSIDE the timed run — it is part of
          // what the operating mode costs. inboxSample parses only 4
          // files per side and extrapolates rows by byte ratio (the
          // full-inbox aggregate measured as 15% of the whole 100×
          // drain — a day's scan at a 100 TB/day inbox)
          val (ps, psB, ptB) = graft.streaming.StreamIngest.inboxSample(
            spark, s"$aroot/purchases", inboxSchema("p_id", "p_user"))
          val (es, esB, etB) = graft.streaming.StreamIngest.inboxSample(
            spark, s"$aroot/errors", inboxSchema("e_id", "e_user"))
          val sample = ps.select(col("p_user").as("k"),
              to_timestamp(col("ts"), fmt).as("t"))
            .unionByName(es.select(col("e_user").as("k"),
              to_timestamp(col("ts"), fmt).as("t")))
          sz = graft.streaming.StreamIngest.autoState(
            sample, "k", "t", horizonSecs = 3600L + 3600L,
            rowScale = (ptB + etB).toDouble / (psB + esB))
          aState = drainIjoin(aroot, sz.shufflePartitions,
            sz.maxFilesPerTrigger(32), ckpt = "ckpt_ij_auto")
        })
        println(s"""{"family":"stream_ijoin_auto","mult":$m,""" +
          s""""max_state_rows":$aState,"parts":${sz.shufflePartitions},""" +
          s""""triggers":${sz.triggers},""" +
          s""""mfpt":${sz.maxFilesPerTrigger(32)}}""")
        // trigger-granularity variant at the top multiplier: same
        // corpus split into 4× more files (32 micro-batches). Interval-
        // join state holds (current batch span + watermark) of BOTH
        // sides, so max state rows drop ≈4×; wall trades per-batch
        // commit overhead against the join probe, which is QUADRATIC
        // in per-key batch span (state is keyed, not time-indexed —
        // each row scans all same-key state). Measured crossover: at
        // 1M events coarse wins (9.6 vs 30.9 s, commit-bound); at 10M
        // fine wins (53.4 vs 138.8 s, probe-bound). See the
        // intervalJoin scaladoc operating rule + PERF.md.
        if (m == mults.max) {
          val froot = s"$root/streamfine_x$m"
          streamInbox(spark, froot, n, slices = 32)
          FileUtils.deleteDirectory(new File(s"$froot/ckpt_ij"))
          var fState = 0L
          record("stream_ijoin32", m, n, time {
            fState = drainIjoin(froot, parts = 8, mfpt = 1)
          })
          println(s"""{"family":"stream_ijoin32","mult":$m,"max_state_rows":$fState}""")
        }
        // ---- streaming quality router (verdict r12 task 6): the qi21
        // dead-letter pattern under scale and reject-rate skew. The
        // router is STATELESS (foreachBatch fan-out, no state store),
        // so the scale claims are linear wall/bytes and sane file
        // layout on BOTH sinks: the accepted side's REBALANCE append
        // writes ≤1 file per touched dir per micro-batch, and the
        // quarantine stays one batch_id dir per trigger — including
        // the 99%-quarantine worst case, where the dead-letter side IS
        // the volume.
        def drainRouter(tag: String, rules: Seq[(String,
            org.apache.spark.sql.Column)]): (Long, Long, Int) = {
          val rschema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("key",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.StringType)))
          FileUtils.deleteDirectory(new File(s"$sroot/lake_$tag"))
          FileUtils.deleteDirectory(new File(s"$sroot/ckpt_$tag"))
          val rlake = graft.lake.Lake(s"$sroot/lake_$tag")
          val q = graft.streaming.StreamIngest.routedCollectStream(
            spark, rlake,
            graft.config.PartitionSpec("routed", "p0"),
            s"$sroot/all", rschema, s"$sroot/ckpt_$tag", rules,
            timestampColumn = "ts", maxFilesPerTrigger = 1)
          q.awaitTermination()
          val acc = rlake.read(spark, "routed").count()
          val quar = graft.streaming.StreamIngest
            .readQuarantine(spark, rlake, "routed").count()
          require(acc + quar == n, s"router lost rows: $acc + $quar != $n")
          val files = rlake.dataFiles(spark, "routed")
          val maxPerDir = files
            .groupBy(f => f.substring(0, f.lastIndexOf('/')))
            .values.map(_.size).max
          (acc, quar, maxPerDir)
        }
        var rt: (Long, Long, Int) = null
        record("stream_router", m, n, time {
          rt = drainRouter("bal",
            Seq("not_nine" -> !col("key").endsWith("9")))
        })
        println(s"""{"family":"stream_router","mult":$m,""" +
          s""""accepted":${rt._1},"quarantined":${rt._2},""" +
          s""""max_files_per_dir":${rt._3}}""")
        if (m == mults.max) {
          var sk: (Long, Long, Int) = null
          record("stream_router_skew99", m, n, time {
            sk = drainRouter("skew",
              Seq("vip_only" -> col("key").endsWith("99")))
          })
          println(s"""{"family":"stream_router_skew99","mult":$m,""" +
            s""""accepted":${sk._1},"quarantined":${sk._2},""" +
            s""""max_files_per_dir":${sk._3}}""")
        }
        FileUtils.deleteDirectory(new File(s"$sroot/ckpt_sess"))
        var sessState = 0L
        record("stream_sess", m, n, time {
          import spark.implicits._
          val evs = spark.readStream.schema(
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("key",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("ts",
                  org.apache.spark.sql.types.StringType))))
            .option("maxFilesPerTrigger", 1).json(s"$sroot/all")
            .select(col("key"), to_timestamp(col("ts"), fmt).as("ts"))
            .as[graft.streaming.StreamIngest.Event]
          val sess = graft.streaming.StreamIngest.sessionize(evs,
            gapSecs = 1800, watermarkDelay = "1 hour")
          val prev = spark.conf.get("spark.sql.shuffle.partitions")
          val q = try {
            spark.conf.set("spark.sql.shuffle.partitions", "8")
            sess.writeStream.format("noop")
              .option("checkpointLocation", s"$sroot/ckpt_sess")
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger
                .AvailableNow())
              .start()
          } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
          sessState = drainStateRows(q)
        })
        println(s"""{"family":"stream_sess","mult":$m,"max_state_rows":$sessState}""")
      }
      // ---- state-store backend: heap (default) vs RocksDB ----------
      // Same inbox, same 8-partition layout, same AvailableNow drain —
      // the only variable is the state store provider. The claim under
      // test: RocksDB (the backend that bounds executor heap at its
      // block cache and, with changelog checkpointing, ships per-batch
      // deltas instead of SST re-uploads) costs a bounded wall premium
      // at local scale — the price of the only provider that survives
      // state > heap at a 100 TB streaming fan-in. max_state_rows must
      // MATCH across providers (identical batching ⇒ identical state
      // semantics); the require below pins that.
      if (families("stream_state")) {
        val n = EventsBase * m
        val sroot = s"$root/stream_x$m"
        // the stream family's 8-slice inbox: whichever runs first builds
        streamInbox(spark, sroot, n, slices = 8)
        // returns (max state rows, max rocksdb sst bytes on local disk,
        // max rocksdb pinned-block heap bytes)
        // plain plan on purpose: the provider comparison holds the
        // state SHAPE fixed across r13/r14 measurements (the bucketed
        // default's ×3 left replicas would shift every byte number);
        // the auto-flipped default-plan configuration is its own
        // variant below.
        def drainBackend(ckpt: String, rocks: Boolean,
            extraConf: Map[String, String] = Map.empty,
            delay: String = "1 hour",
            partitions: Int = 8): (Long, Long, Long) = {
          val joined = graft.streaming.StreamIngest.plainIntervalJoin(
            inboxStream(spark, s"$sroot/purchases",
              "p_id", "p_ts", "p_user", 1),
            inboxStream(spark, s"$sroot/errors",
              "e_id", "e_ts", "e_user", 1),
            "p_user", "e_user", "p_ts", "e_ts",
            before = "30 minutes", after = "30 minutes",
            leftDelay = delay, rightDelay = delay)
          def start() = joined.writeStream.format("noop")
            .option("checkpointLocation", s"$sroot/$ckpt")
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger
              .AvailableNow())
            .start()
          val prev = spark.conf.get("spark.sql.shuffle.partitions")
          val q = try {
            spark.conf.set("spark.sql.shuffle.partitions",
              partitions.toString)
            if (rocks)
              graft.streaming.StreamIngest.withRocksDBState(
                spark, extraConf)(start())
            else start()
          } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
          q.awaitTermination()
          val ops = q.recentProgress.toSeq.flatMap(_.stateOperators)
          val st = ops.map(_.numRowsTotal).foldLeft(0L)(math.max)
          def metricMax(k: String) = ops.flatMap(o =>
              Option(o.customMetrics.get(k)).map(_.longValue()))
            .foldLeft(0L)(math.max)
          (st, metricMax("rocksdbSstFileSize"),
            metricMax("rocksdbPinnedBlocksMemoryUsage"))
        }
        if (m == mults.min) {     // per-provider warmup, untimed
          FileUtils.deleteDirectory(new File(s"$sroot/ckpt_ssw_h"))
          FileUtils.deleteDirectory(new File(s"$sroot/ckpt_ssw_r"))
          drainBackend("ckpt_ssw_h", rocks = false)
          drainBackend("ckpt_ssw_r", rocks = true)
          ()
        }
        FileUtils.deleteDirectory(new File(s"$sroot/ckpt_ss_heap"))
        var hs: (Long, Long, Long) = (0L, 0L, 0L)
        record("stream_state_heap", m, n, time {
          hs = drainBackend("ckpt_ss_heap", rocks = false)
        })
        println(s"""{"family":"stream_state_heap","mult":$m,""" +
          s""""max_state_rows":${hs._1}}""")
        FileUtils.deleteDirectory(new File(s"$sroot/ckpt_ss_rocksdb"))
        var rs: (Long, Long, Long) = (0L, 0L, 0L)
        record("stream_state_rocksdb", m, n, time {
          rs = drainBackend("ckpt_ss_rocksdb", rocks = true)
        })
        println(s"""{"family":"stream_state_rocksdb","mult":$m,""" +
          s""""max_state_rows":${rs._1},""" +
          s""""rocksdb_sst_bytes":${rs._2},""" +
          s""""rocksdb_pinned_bytes":${rs._3}}""")
        require(hs._1 == rs._1,
          s"state rows diverge across providers: ${hs._1} vs ${rs._1}")
        // FORCED-FLUSH variant (verdict r13 task 2): both prior runs
        // reported sst_bytes = 0 at every scale — with a 1 h watermark
        // the live state (≈5k rows, ~60 KB/store) never crosses even
        // a floor-sized memtable, so the disk path the provider exists
        // for had never executed. Three levers together get there
        // honestly: a 720 h watermark retains EVERY arrived row in
        // state (state rows = inbox join rows — the 100 TB fan-in
        // shape, where state outgrows memory), a 2-partition layout
        // concentrates it (~3.5 MB/store at 1×), and a 1 MB write
        // buffer (the conf's floor) lowers the spill threshold to what
        // local volumes can cross. A heap drain at the SAME
        // delay/layout pins state-row identity, and its checkpoint
        // size is the changelog-vs-heap footprint comparison.
        FileUtils.deleteDirectory(new File(s"$sroot/ckpt_ss_hwide"))
        FileUtils.deleteDirectory(new File(s"$sroot/ckpt_ss_rflush"))
        var hw: (Long, Long, Long) = (0L, 0L, 0L)
        record("stream_state_heap_wide", m, n, time {
          hw = drainBackend("ckpt_ss_hwide", rocks = false,
            delay = "720 hours", partitions = 2)
        })
        println(s"""{"family":"stream_state_heap_wide","mult":$m,""" +
          s""""max_state_rows":${hw._1}}""")
        var rf: (Long, Long, Long) = (0L, 0L, 0L)
        record("stream_state_rocksdb_flush", m, n, time {
          rf = drainBackend("ckpt_ss_rflush", rocks = true,
            delay = "720 hours", partitions = 2, extraConf =
              Map("spark.sql.streaming.stateStore.rocksdb." +
                "writeBufferSizeMB" -> "1"))
        })
        def ckptBytes(ckpt: String): Long = {
          def walk(f: java.io.File): Long =
            if (f.isFile) f.length
            else Option(f.listFiles).getOrElse(Array.empty).map(walk).sum
          walk(new java.io.File(s"$sroot/$ckpt"))
        }
        println(s"""{"family":"stream_state_rocksdb_flush","mult":$m,""" +
          s""""max_state_rows":${rf._1},""" +
          s""""rocksdb_sst_bytes":${rf._2},""" +
          s""""rocksdb_pinned_bytes":${rf._3},""" +
          s""""ckpt_bytes_heap_wide":${ckptBytes("ckpt_ss_hwide")},""" +
          s""""ckpt_bytes_rocksdb":${ckptBytes("ckpt_ss_rocksdb")},""" +
          s""""ckpt_bytes_rocksdb_flush":${ckptBytes("ckpt_ss_rflush")}}""")
        require(hw._1 == rf._1,
          s"state rows diverge under forced flush: ${hw._1} vs ${rf._1}")
        require(rf._2 > 0L,
          "forced-flush run still never wrote an SST — the variant " +
            "exists to exercise exactly that path")
      }
      // ---- z-order clustering payoff: 2-D selective scan ------------
      // Two copies of a one-day corpus (a single partition dir, so
      // CLUSTERING is the only variable, not dir layout), both rewritten
      // by compactZorder into the same ~64-file budget: one clustered on
      // tp_timestamp (the time-ordered layout plain compaction produces),
      // one on (user_id, value). The probe is a conjunctive 2-D range
      // predicate on the z-columns (~0.24% of rows). Time-clustered
      // files each span the full user×value space — every row group
      // matches the parquet min/max check and the scan reads the whole
      // table; z-clustered files confine the query rectangle to a few
      // z-ranges and the reader skips the rest on footer stats alone.
      // input_bytes (exact, from the stage-metrics audit) is the claim:
      // wall follows bytes once files are large enough to amortize
      // footer reads. Builds are timed too — the z-rewrite pays two
      // quantile passes + the same one-job rewrite as plain compaction.
      if (families("zorder")) {
        val n = EventsBase * m
        val zroot = s"$root/zorder_x$m"
        FileUtils.deleteDirectory(new File(zroot))
        val zlake = graft.lake.Lake(zroot)
        val src = events(spark, n).withColumn("ts",
          timestamp_seconds(lit(1704067200L) +
            pmod(unix_timestamp(col("ts")), lit(86400L))))
        for (t <- Seq("by_time", "by_z")) {
          graft.ingest.Ingest.collectBatch(spark, zlake,
            graft.config.PartitionSpec(t, "p0"), src,
            timestampColumn = "ts")
        }
        val fileRows = math.max(1L, n / 64)
        record("zorder_build_time", m, n, time {
          graft.lake.Maintenance.compactZorder(spark, zlake, "by_time",
            Seq(graft.lake.TpSchema.Timestamp),
            targetFileRows = fileRows)
          ()
        })
        record("zorder_build_z", m, n, time {
          graft.lake.Maintenance.compactZorder(spark, zlake, "by_z",
            Seq("user_id", "value"), targetFileRows = fileRows)
          ()
        })
        def probe(table: String): (Long, Double) = {
          val r = zlake.read(spark, table)
            .where(col("user_id").between(100, 115) &&
              col("value").between(10.0, 25.0))
            .agg(count(lit(1)), sum("value")).head()
          (r.getLong(0), r.getDouble(1))
        }
        def scanBytes(table: String, fam: String): (Long, Double) = {
          audit.settle()
          val (_, _, _, ib0, _) = audit.snapshot()
          var res: (Long, Double) = (0L, 0.0)
          record(fam, m, n, time { res = probe(table) })
          audit.settle()
          val (_, _, _, ib1, _) = audit.snapshot()
          println(s"""{"family":"$fam","mult":$m,""" +
            s""""input_bytes":${ib1 - ib0},"hit_rows":${res._1}}""")
          res
        }
        probe("by_time")              // page-cache + footer warm, untimed
        probe("by_z")
        val a = scanBytes("by_time", "zorder_scan_time")
        val b = scanBytes("by_z", "zorder_scan_z")
        // counts exact; the double sum only to addition-order tolerance
        require(a._1 == b._1 &&
          math.abs(a._2 - b._2) <= 1e-6 * math.max(1.0, math.abs(a._2)),
          s"layouts disagree on the probe: $a vs $b")
      }
      // ---- high-cardinality partition PLANNING stress (r11 task 5) --
      // The upsert predicate path is pinned to 2000 dirs (UpsertSpec);
      // this measures the other planning surfaces — Spark's file-index
      // listing behind a pruned read, the lake's own recursive
      // enumeration (manifest/compaction input), and a steady-state
      // compact pass — on a table that is WIDE in directories, not
      // rows: (100·m indexes) × 12 months × 1 file, ~8 rows per dir.
      // mult 1 → 1 200 leaf dirs, mult 10 → 12 000 (the 1k–10k range a
      // 1000-index × 36-month production table occupies). Times are
      // planning-dominated by construction; the exponent vs dirs is
      // the number to watch.
      if (families("partition_stress")) {
        val idxN = 100 * m
        val dirs = idxN * 12L
        val n = dirs * 8
        val lakeRoot = s"$root/pstress_x$m"
        val lake = graft.lake.Lake(lakeRoot)
        // batch split is a HASH parity, not event_id%2 — id%2 aliases
        // with idx=id%idxN (even ids → even indexes), which hands each
        // dir to exactly one batch and the table is born compact
        // v4: v3 fixtures were mutated IN PLACE by r12's timed compact
        // (the probes now run on a scratch copy, but the cached v3
        // trees are already compact — rebuild once)
        Artifacts.ensure(lakeRoot, s"pstress;v4;idx=$idxN;months=12;rpd=8;b=2") {
          val spec = graft.config.PartitionSpec("events_wide", "p0",
            tpIndexColumn = Some("idx"))
          val src = wideEvents(spark, idxN, n)
          // two interleaved appends so every dir holds 2 overlapping
          // files — the rebalanced append writes one file per dir per
          // batch, and a single-batch table would be born compact,
          // leaving pstress_compact nothing to rewrite
          (0 until 2).foreach { i =>
            graft.ingest.Ingest.collectBatch(spark, lake, spec,
              src.where(pmod(xxhash64(col("event_id"), lit("b")),
                lit(2)) === i),
              timestampColumn = "ts")
          }
          ()
        }
        // the timed compacts MUTATE the table, which would leave the
        // cached fixture compact and silently turn every later run's
        // pstress_compact into a no-op measurement — probe a scratch
        // COPY instead (copy untimed; the fixture stays pristine)
        val runRoot = s"$root/pstress_run_x$m"
        FileUtils.deleteDirectory(new File(runRoot))
        FileUtils.copyDirectory(new File(lakeRoot), new File(runRoot))
        // the manifest stores ABSOLUTE file paths (they must compare
        // equal to input_file_name()), so a copied lake's manifest
        // still points at the fixture tree — fileStats would reconcile
        // to empty and every compact below would silently no-op (this
        // exact bug shipped one bogus rehearsal run). Retarget it with
        // the production repair (vacuum --relocate) rather than a
        // hand-rolled path rewrite — same lock/atomic-swap discipline,
        // and the rehearsal exercises the operator users run.
        val lakeRun = graft.lake.Lake(runRoot)
        graft.lake.Maintenance.relocate(spark, lakeRun, "events_wide")
        // guard: the copy must see every file through the manifest, or
        // the probes below measure no-ops
        require(lakeRun.fileStats(spark, "events_wide").count() ==
          lakeRun.dataFiles(spark, "events_wide").size,
          "pstress run-copy manifest retarget failed")
        record("pstress_read", m, dirs, time {
          // pruned count: one index, one month — planning lists the
          // directory tree; the scan itself is one file
          lakeRun.read(spark, "events_wide")
            .where(col("tp_index") === "i7" && col("tp_month") === 3)
            .count()
          ()
        })
        record("pstress_list", m, dirs, time {
          val files = lakeRun.dataFiles(spark, "events_wide")
          require(files.nonEmpty)
        })
        // the OBJECT-STORE listing branch (Hadoop listFiles(recursive))
        // over the same tree — the branch the r12 NIO fix bypassed on
        // local FS and a 100 TB deployment actually runs. On
        // RawLocalFileSystem it pays per-file checksum probes, so this
        // is an upper bound, not an object-store estimate; measured so
        // the branch has a number at all (verdict r12 task 4).
        record("pstress_list_hadoop", m, dirs, time {
          val base = new org.apache.hadoop.fs.Path(
            lakeRun.tableDir("events_wide"))
          val hfs = base.getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          val it = hfs.listFiles(base, true)
          var n0 = 0L
          while (it.hasNext) { if (it.next().isFile) n0 += 1 }
          require(n0 > 0)
        })
        // manifest-served planning: the exact fileStats call compact
        // plans from, WITHOUT the live-listing reconciliation — what
        // an object store runs every compact (tombstone mode)
        record("pstress_stats_manifest", m, dirs, time {
          val n1 = lakeRun.fileStats(spark, "events_wide",
            reconcileWithListing = false).count()
          require(n1 > 0)
        })
        record("pstress_compact", m, dirs, time {
          graft.lake.Maintenance.compact(spark, lakeRun, "events_wide")
        })
        // r16 task 7: first compact legitimately collects every row
        // (every dir holds 2 overlapping files — all candidates)
        println(s"""{"family":"pstress_compact_plan","mult":$m,""" +
          s""""manifest_rows":${graft.lake.Maintenance
            .lastCompactPlan.manifestRows},""" +
          s""""collected_rows":${graft.lake.Maintenance
            .lastCompactPlan.collectedRows}}""")
        // steady state: a second compact of the now-compact table must
        // cost O(manifest scan), not O(all dirs) — the daily-compaction
        // shape (verdict r12 task 3)
        record("pstress_recompact", m, dirs, time {
          val (b, a) = graft.lake.Maintenance.compact(
            spark, lakeRun, "events_wide")
          require(b == a, s"recompact rewrote files: $b -> $a")
        })
        // r16 task 7: at the fixed point the planner must collect ZERO
        // rows no matter how many live files the manifest holds — the
        // driver-memory bound that holds at 10⁵–10⁶ files
        require(graft.lake.Maintenance.lastCompactPlan.collectedRows == 0L,
          s"fixed-point recompact collected rows: " +
            s"${graft.lake.Maintenance.lastCompactPlan}")
        println(s"""{"family":"pstress_recompact_plan","mult":$m,""" +
          s""""manifest_rows":${graft.lake.Maintenance
            .lastCompactPlan.manifestRows},""" +
          s""""collected_rows":${graft.lake.Maintenance
            .lastCompactPlan.collectedRows}}""")
        // incremental: one more batch into a single index (12 of the
        // 1200·m dirs), then compact — cost should track the TOUCHED
        // dirs, not the table width
        graft.ingest.Ingest.collectBatch(spark, lakeRun,
          graft.config.PartitionSpec("events_wide", "p0",
            tpIndexColumn = Some("idx")),
          wideEvents(spark, idxN, n).where(col("idx") === "i7"),
          timestampColumn = "ts")
        record("pstress_incr_compact", m, dirs, time {
          graft.lake.Maintenance.compact(spark, lakeRun, "events_wide")
        })
        // catalog registration at width: recoverPartitions is the
        // known many-partition pain point (driver-side discovery +
        // per-partition catalog inserts) — measure it, and measure the
        // catalog-PLANNED pruned read it buys (vs pstress_read's
        // file-index path)
        record("pstress_catalog_register", m, dirs, time {
          lakeRun.registerCatalogTable(spark, "events_wide")
        })
        record("pstress_catalog_read", m, dirs, time {
          spark.table("events_wide")
            .where(col("tp_index") === "i7" && col("tp_month") === 3)
            .count()
          ()
        })
        spark.sql("DROP TABLE IF EXISTS events_wide")
      }
    }

    // per-family empirical exponent between the lowest and highest mult
    for ((fam, rs) <- results.groupBy(_._1).toSeq.sortBy(_._1)
         if rs.size >= 2) {
      val lo = rs.minBy(_._2)
      val hi = rs.maxBy(_._2)
      if (hi._2 > lo._2 && lo._4 > 0) {
        val exp = math.log(hi._4 / lo._4) /
          math.log(hi._2.toDouble / lo._2)
        println(f"""{"family":"$fam","exponent":$exp%.2f,"lo_mult":${lo._2},"lo_sec":${lo._4}%.2f,"hi_mult":${hi._2},"hi_sec":${hi._4}%.2f}""")
      }
    }
    spark.stop()
  }
}
