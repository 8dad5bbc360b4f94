package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** Corpus-LM perplexity scoring — the CCNet-style quality filter
  * (Wenzek et al. 2020 score with a Wikipedia LM; here the LM is an
  * add-1-smoothed unigram model trained on the corpus itself, so the
  * whole operator is closed over its input and exactly reproducible).
  * Low perplexity = text that looks like the corpus; the far tail on
  * either side is boilerplate or noise. Beyond-reference.
  *
  * Scale shape:
  *  - ONE pass builds the LM: token counts (map-side combined), plus
  *    two scalars (total tokens N, vocab size V) — the model is
  *    vocabulary-sized, never corpus-sized.
  *  - Scoring joins exploded (id, token) postings to the count table
  *    on the token hash — a shuffle join both sides of which are
  *    already partitioned by token; AQE broadcasts the count table
  *    when it is small (then postings never shuffle and token skew is
  *    moot), and when vocabulary outgrows broadcast the sort-merge
  *    fallback's hot keys ("the") are split by AQE's skew-join
  *    handling. Per-doc reduce is an ordinary aggregate.
  *
  * p(t) = (c(t)+1) / (N+V); perplexity(doc) = exp(-mean ln p(t_i)).
  * Every count is exact integer math; only the final mean/exp are
  * floating point, so a 4dp round is engine-stable.
  *
  * @return (idCol, n_tokens, ppl) one row per doc with >=1 token
  */
object Perplexity {

  def apply(df: DataFrame, idCol: String, textCol: String): DataFrame =
    scoreUnigram(df, idCol, textCol, unigramCounts(df, textCol))

  /** Score against a PERSISTED unigram LM ([[saveLm]]) instead of
    * retraining — counts read from parquet, the rest of the operand
    * tree identical to [[apply]], so scoring the training corpus
    * itself reproduces [[apply]] exactly (every token seen → every
    * `n_oov` 0 → identical scores). Against a FROZEN reference model
    * (the CCNet workflow: Wikipedia LM, web corpus) unseen tokens are
    * NOT dropped: each scores the add-1 UNK mass 1/(N+V) — the
    * probability the smoothing already assigns zero-count events —
    * and the per-doc `n_oov` column reports how many, so all-junk
    * text scores HIGH perplexity instead of vanishing from the
    * output (ADVICE r10).
    */
  def applyWith(
      df: DataFrame, idCol: String, textCol: String,
      lmPath: String): DataFrame =
    scoreUnigram(df, idCol, textCol,
      df.sparkSession.read.parquet(s"$lmPath/unigrams"), emitOov = true)

  /** The unigram LM's count table (tok, c) — one map-side-combined
    * corpus pass; vocabulary-sized.
    */
  def unigramCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TF.tokens(col(textCol))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("c"))

  private def scoreUnigram(
      df: DataFrame, idCol: String, textCol: String,
      counts: DataFrame, emitOov: Boolean = false): DataFrame = {
    val toks = df.select(col(idCol).as("__id"),
      explode(TF.tokens(col(textCol))).as("tok"))
      .where(col("tok") =!= "")
    // two scalars: total token count and vocabulary size (driver-side,
    // metadata-sized — the LM normalizer)
    val Array(n, v) = counts.agg(sum("c"), count(lit(1))).head() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    val denom = (n + v).toDouble
    // LEFT join: a token absent from the model (possible only against
    // a frozen LM) keeps its posting with c=0 and scores the add-1
    // UNK mass 1/(N+V) — an inner join would silently drop it and
    // make junk text look corpus-like (ADVICE r10)
    val scored = toks.join(counts, Seq("tok"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("c").isNull, 1)).as("n_oov"),
        avg(log((coalesce(col("c"), lit(0L)) + 1).cast("double") / denom))
          .as("__mlp"))
      .select(col("__id").as(idCol),
        col("n_tokens"),
        round(exp(-col("__mlp")), 4).as("ppl"),
        col("n_oov"))
    if (emitOov) scored else scored.drop("n_oov")
  }

  /** Add-1 bigram LM scoring — the second-order refinement of the
    * unigram score above: p(t_i | t_{i-1}) = (c2(t_{i-1},t_i) + 1) /
    * (c1(t_{i-1}) + V), perplexity over a document's transitions.
    * Bigram perplexity separates shuffled-word soup from fluent text
    * that unigram frequency alone scores identically — the standard
    * step up the n-gram ladder before a neural LM.
    *
    * Scale shape:
    *  - Bigrams are built MAP-SIDE from each document's token array
    *    (`zip_with(init, tail)`) — no window, no per-doc shuffle
    *    state, unlike a lag() formulation.
    *  - The model is bigram-vocabulary-sized: c2 = one aggregate over
    *    transitions; c1 (context totals) is a re-aggregate OF c2, not
    *    a second corpus pass; V is one scalar.
    *  - Scoring is the same postings-join-model shape as the unigram
    *    scorer: AQE broadcasts the model when small, skew-splits the
    *    "the *" hot contexts when not.
    *
    * @return (idCol, n_bigrams, ppl2) one row per doc with >=2 tokens
    */
  def bigram(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (c2, uni2) = bigramTables(df, textCol)
    scoreBigram(df, idCol, textCol, c2, uni2)
  }

  /** [[bigram]] against a persisted LM ([[saveLm]]). Frozen-model
    * semantics: an unseen transition backs off to the add-1 floor
    * (c2=0 → (0+1)/(c1+V); unseen context additionally has c1=0 →
    * 1/V) instead of being dropped, and `n_oov` counts them per doc —
    * see [[applyWith]].
    */
  def bigramWith(
      df: DataFrame, idCol: String, textCol: String,
      lmPath: String): DataFrame = {
    val spark = df.sparkSession
    scoreBigram(df, idCol, textCol,
      spark.read.parquet(s"$lmPath/bigrams"),
      spark.read.parquet(s"$lmPath/uni2"), emitOov = true)
  }

  /** The bigram LM's tables, both model-sized: transition counts
    * (p, c, c2) and the unigram counts (c, cu) over the same >=2-token
    * documents (the bigram/JM normalizer side). c1 context totals are
    * NOT stored — they re-aggregate from c2 (model-sized) on load.
    */
  def bigramTables(df: DataFrame, textCol: String): (DataFrame, DataFrame) = {
    val toks = df.select(
      filter(TF.tokens(col(textCol)), x => x =!= "").as("__t"))
      .where(size(col("__t")) >= 2)
    val bg = toks.select(
        explode(zip_with(
          slice(col("__t"), lit(1), size(col("__t")) - 1),
          slice(col("__t"), lit(2), size(col("__t")) - 1),
          (a, b) => struct(a.as("p"), b.as("c")))).as("b"))
      .select(col("b.p").as("p"), col("b.c").as("c"))
    val c2 = bg.groupBy("p", "c").agg(count(lit(1)).as("c2"))
    val uni2 = toks.select(explode(col("__t")).as("c"))
      .groupBy("c").agg(count(lit(1)).as("cu"))
    (c2, uni2)
  }

  private def scoreBigram(
      df: DataFrame, idCol: String, textCol: String,
      c2: DataFrame, uni2: DataFrame, emitOov: Boolean = false): DataFrame = {
    val toks = df.select(col(idCol).as("__id"),
      filter(TF.tokens(col(textCol)), x => x =!= "").as("__t"))
      .where(size(col("__t")) >= 2)
    val bg = toks.select(col("__id"),
        explode(zip_with(
          slice(col("__t"), lit(1), size(col("__t")) - 1),
          slice(col("__t"), lit(2), size(col("__t")) - 1),
          (a, b) => struct(a.as("p"), b.as("c")))).as("b"))
      .select(col("__id"), col("b.p").as("p"), col("b.c").as("c"))
    // V = unigram vocabulary over the scored (>=2-token) docs — one
    // driver-side scalar, same normalizer family as the unigram LM
    val vocab = uni2.count()
    // TWO left joins, not one inner join against a pre-joined model:
    // a transition unseen in a frozen LM must still pick up its
    // CONTEXT total c1 (seen context, unseen pair → (0+1)/(c1+V));
    // only a fully unseen context falls to the 1/V floor. The inner
    // join dropped both cases (ADVICE r10).
    val c1t = c2.groupBy("p").agg(sum("c2").cast("long").as("c1"))
    val scored = bg
      .join(c2, Seq("p", "c"), "left")
      .join(c1t, Seq("p"), "left")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("c2").isNull, 1)).as("n_oov"),
        avg(log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + vocab).cast("double")))
          .as("__mlp"))
      .select(col("__id").as(idCol),
        col("n_bigrams"),
        round(exp(-col("__mlp")), 4).as("ppl2"),
        col("n_oov"))
    if (emitOov) scored else scored.drop("n_oov")
  }

  /** Jelinek–Mercer interpolated bigram LM (Chen & Goodman 1999's
    * baseline smoother): P(c|p) = λ·c2/c1 + (1−λ)·(cu+1)/(T+V) — the
    * MLE bigram backed off into the add-1 unigram, the step between
    * [[bigram]]'s pure add-1 and a production-smoothed LM. The unigram
    * term is always positive, so unseen bigrams cannot zero a
    * document's probability (OOV-safe by construction).
    *
    * Model sizes and plan shape are [[bigram]]'s (bigram-table and
    * vocabulary-sized joins against one corpus pass) plus one unigram
    * count join; T and V are one driver-side scalar aggregate, the
    * same normalizer family as [[apply]]. The score's operand tree
    * (λ·c2/c1 then the unigram term, left-to-right) is what the
    * oracle writes, so the 4dp round is engine-stable.
    *
    * @return (idCol, n_bigrams, ppl_jm) for docs with >= 2 tokens
    */
  def interpolatedBigram(
      df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75): DataFrame = {
    val (c2, uni2) = bigramTables(df, textCol)
    scoreInterpolated(df, idCol, textCol, c2, uni2, lambda)
  }

  /** [[interpolatedBigram]] against a persisted LM ([[saveLm]]).
    * Frozen-model semantics: an unseen transition keeps its unigram
    * backoff term (that is the whole point of JM smoothing) instead
    * of being dropped, an OOV word contributes the (0+1)/(T+V) add-1
    * unigram floor, and `n_oov` counts unseen transitions per doc —
    * see [[applyWith]].
    */
  def interpolatedBigramWith(
      df: DataFrame, idCol: String, textCol: String, lmPath: String,
      lambda: Double = 0.75): DataFrame = {
    val spark = df.sparkSession
    scoreInterpolated(df, idCol, textCol,
      spark.read.parquet(s"$lmPath/bigrams"),
      spark.read.parquet(s"$lmPath/uni2"), lambda, emitOov = true)
  }

  private def scoreInterpolated(
      df: DataFrame, idCol: String, textCol: String,
      c2: DataFrame, uni2: DataFrame, lambda: Double,
      emitOov: Boolean = false): DataFrame = {
    require(lambda > 0 && lambda < 1,
      s"interpolatedBigram: lambda must be in (0,1), got $lambda")
    val toks = df.select(col(idCol).as("__id"),
      filter(TF.tokens(col(textCol)), x => x =!= "").as("__t"))
      .where(size(col("__t")) >= 2)
    val bg = toks.select(col("__id"),
        explode(zip_with(
          slice(col("__t"), lit(1), size(col("__t")) - 1),
          slice(col("__t"), lit(2), size(col("__t")) - 1),
          (a, b) => struct(a.as("p"), b.as("c")))).as("b"))
      .select(col("__id"), col("b.p").as("p"), col("b.c").as("c"))
    val tv = uni2.agg(sum("cu").cast("long"), count(lit(1))).head()
    val (t, v) = (tv.getLong(0), tv.getLong(1))
    // left joins so frozen-model scoring keeps unseen transitions:
    // the bigram term is 0 when c2 is absent (guarded — 0/0 when the
    // context is also unseen), the unigram term is the add-1 floor
    // when the word is OOV (cu→0); on the training corpus every join
    // matches and the operand tree evaluates exactly as before
    val c1t = c2.groupBy("p").agg(sum("c2").cast("long").as("c1"))
    val bigramTerm = when(coalesce(col("c1"), lit(0L)) > 0,
      lit(lambda) * coalesce(col("c2"), lit(0L)) / col("c1"))
      .otherwise(lit(0.0))
    val scored = bg
      .join(c2, Seq("p", "c"), "left")
      .join(c1t, Seq("p"), "left")
      .join(uni2, Seq("c"), "left")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("c2").isNull, 1)).as("n_oov"),
        avg(log(bigramTerm
          + lit(1.0 - lambda) * (coalesce(col("cu"), lit(0L)) + 1)
            / lit(t + v))).as("__mlp"))
      .select(col("__id").as(idCol), col("n_bigrams"),
        round(exp(-col("__mlp")), 4).as("ppl_jm"),
        col("n_oov"))
    if (emitOov) scored else scored.drop("n_oov")
  }

  /** Persist the corpus LM as a lake artifact: add-1 unigram counts
    * (all documents), bigram transition counts and the >=2-token
    * unigram side — everything [[applyWith]]/[[bigramWith]]/
    * [[interpolatedBigramWith]] need to score WITHOUT a training pass.
    * All three tables are model-sized. [[ensureLm]] is the
    * build-if-stale gate (same pattern as the persisted IVF index and
    * BPE tokenizer).
    */
  def saveLm(df: DataFrame, textCol: String, path: String): Unit = {
    // ONE tokenization pass feeds all three tables (r20, guide §1.2):
    // the r1–r19 shape evaluated TF.tokens over the full corpus THREE
    // times — unigram counts, bigram-pair counts, and the >=2-token
    // unigram side each triggered their own scan+tokenize. Tag-union
    // the three posting kinds in one explode and aggregate once (map-
    // side combined; the shuffle carries (tag, token[, token]) count
    // rows — vocabulary-sized, never corpus-sized), pin the MODEL-
    // SIZED aggregate, and serve the three writes from the pin. Counts
    // are construction-identical: same non-empty-token filter, same
    // >=2-token gate, same zip_with pair enumeration (PerplexitySpec's
    // merge==full rows and the qt34/36/39/48/53 oracles gate values).
    val t = filter(TF.tokens(col(textCol)), x => x =!= "")
    val nullS = lit(null).cast("string")
    def post(tag: String, k1: Column, k2: Column): Column =
      struct(lit(tag).as("tag"), k1.as("k1"), k2.as("k2"))
    val uniPosts = transform(t, x => post("u", x, nullS))
    val bigPosts = zip_with(
      slice(t, lit(1), size(t) - 1),
      slice(t, lit(2), size(t) - 1),
      (a, b) => post("b", a, b))
    // slice(uni, 1, 0) = a typed EMPTY array — when() alone would
    // yield null for 1-token docs and concat(null) would swallow
    // their unigram postings too
    val posts = concat(uniPosts,
      when(size(t) >= 2,
        concat(transform(t, x => post("s", x, nullS)), bigPosts))
        .otherwise(slice(uniPosts, lit(1), lit(0))))
    val counts = df.select(explode(posts).as("e"))
      .groupBy(col("e.tag").as("tag"), col("e.k1").as("k1"),
        col("e.k2").as("k2"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    // the checkpointed blocks stay in executor storage until released:
    // unpersist the checkpoint's RDD once the three writes are done, or
    // when one fails (Dataset.unpersist only drops CacheManager entries)
    try {
      counts.where(col("tag") === "u")
        .select(col("k1").as("tok"), col("n").as("c"))
        .write.mode("overwrite").parquet(s"$path/unigrams")
      counts.where(col("tag") === "b")
        .select(col("k1").as("p"), col("k2").as("c"), col("n").as("c2"))
        .write.mode("overwrite").parquet(s"$path/bigrams")
      counts.where(col("tag") === "s")
        .select(col("k1").as("c"), col("n").as("cu"))
        .write.mode("overwrite").parquet(s"$path/uni2")
    } finally counts.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
  }

  /** Train-and-save under `path` unless a fresh artifact (same text
    * column + corpus row count) exists; returns `path` for chaining.
    *
    * CONTRACT (r19 ADVICE-low): a non-empty `sourceFp` must pin the
    * EXACT DataFrame contents — i.e. `df` is the untransformed full
    * corpus read of the fingerprinted source file(s). When sourceFp
    * is set the row count is NOT part of the staleness key, so a
    * caller passing a filtered/transformed frame with the same
    * sourceFp would silently reuse a mismatched artifact. Pass
    * sourceFp = "" (count-keyed) for any derived corpus.
    */
  def ensureLm(
      df: DataFrame, textCol: String, path: String,
      sourceFp: String = ""): String = {
    // r19: with a caller-supplied source fingerprint the corpus
    // identity is already pinned (file path+size+mtime) — the extra
    // count() was a full corpus pass per ensure call, paid even on
    // fresh-artifact hits by every scoring query that shares the LM
    val fp =
      if (sourceFp.nonEmpty) s"lm;col=$textCol;src=$sourceFp"
      else s"lm;col=$textCol;n=${df.count()};src="
    graft.lake.Artifacts.ensure(path, fp)(saveLm(df, textCol, path))
    path
  }

  /** Fold a NEW corpus into a persisted LM without retraining on the
    * old one — count tables are mergeable (union → sum per key), so
    * maintenance costs O(|new|), the `index append` property applied
    * to language models. Merging is EXACT: counts over A∪B equal the
    * per-key sums of counts over A and counts over B (document-wise
    * tokenization, no cross-document state), so an appended model is
    * indistinguishable from one trained on the concatenation
    * (spec-pinned). Each merged table lands via the aside→in→drop
    * swap (vacuum's crash discipline); any ensure-manifest is removed
    * because the artifact no longer corresponds to a single-corpus
    * training.
    */
  def appendLm(df: DataFrame, textCol: String, path: String): Unit = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    def merge(name: String, fresh: DataFrame, keys: Seq[String],
        cnt: String): Unit = {
      val stored = spark.read.parquet(s"$path/$name")
      val merged = stored.unionByName(fresh)
        .groupBy(keys.map(col): _*)
        .agg(sum(cnt).cast("long").as(cnt))
      val p = new org.apache.hadoop.fs.Path(s"$path/$name")
      val tmp = new org.apache.hadoop.fs.Path(s"$path/${name}_new")
      val old = new org.apache.hadoop.fs.Path(s"$path/${name}_old")
      val fs = p.getFileSystem(conf)
      merged.write.mode("overwrite").parquet(tmp.toString)
      fs.delete(old, true)
      if (fs.exists(p)) fs.rename(p, old)
      fs.rename(tmp, p)
      fs.delete(old, true)
    }
    merge("unigrams", unigramCounts(df, textCol), Seq("tok"), "c")
    val (c2, uni2) = bigramTables(df, textCol)
    merge("bigrams", c2, Seq("p", "c"), "c2")
    merge("uni2", uni2, Seq("c"), "cu")
    val mf = new org.apache.hadoop.fs.Path(s"$path/_manifest.json")
    val fs = mf.getFileSystem(conf)
    fs.delete(mf, false)
    ()
  }

  /** CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3): within
    * each language, rank documents by LM perplexity and cut into exact
    * terciles — "head" is the most corpus-like third, "tail" the
    * noisiest, and pre-training recipes sample the buckets at different
    * rates. The tercile is per-language because perplexity scales are
    * not comparable across languages.
    *
    * The grouped ntile is [[DistributedRank.ntileBy]] — one global
    * range-partitioned rank, no per-language task (a window
    * `partitionBy(lang)` would put an entire language's corpus, i.e.
    * most of 100 TB for English, into one task). Ties rank by id so
    * the split is deterministic.
    *
    * @return (idCol, langCol, ppl, bucket) — bucket in
    *         {head, middle, tail}
    */
  def buckets(
      df: DataFrame, idCol: String, textCol: String,
      langCol: String, lmPath: Option[String] = None): DataFrame = {
    val scored = lmPath match {
      case Some(p) => applyWith(df, idCol, textCol, p)
      case None    => apply(df, idCol, textCol)
    }
    val ppl = scored.select(col(idCol), col("ppl"))
    val withLang = ppl.join(df.select(col(idCol), col(langCol)), Seq(idCol))
    DistributedRank.ntileBy(withLang, 3, Seq(langCol),
        Seq(col("ppl"), col(idCol)))
      .withColumn("bucket",
        when(col("tile") === 1, "head")
          .when(col("tile") === 2, "middle").otherwise("tail"))
      .select(col(idCol), col(langCol), col("ppl"), col("bucket"))
  }
}
