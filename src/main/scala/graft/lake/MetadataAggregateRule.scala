package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Answer aggregate SQL from lake metadata — the query-path face of
  * [[Lake.statsAggregate]], so a user typing `SELECT count(*),
  * max(value) FROM t` against a registered view gets the
  * manifest+sidecar answer with ZERO data-file reads. Spark's own
  * `OptimizeMetadataOnlyQuery` serves only partition-column aggregates
  * from listings; Delta rewrites count/min/max from its transaction
  * log the same way this rule does from the `_graft_colstats` sidecar.
  * At 100 TB the difference is a full-corpus scan vs a metadata read.
  *
  * Served aggregate family (each declining to the normal scan when
  * its metadata precondition fails):
  *
  *  - `count(*)` / `count(c)` — manifest row counts + sidecar nulls
  *  - `min(c)` / `max(c)` — sidecar zones (integral under 2^53,
  *    float/double in total order, strings in UTF8-byte order);
  *    `tp_timestamp` and `tp_date` ride the manifest ts range on
  *    EVERY table (dates are monotone in ts, UTC convention)
  *  - `sum(c)` over integral columns — per-file DECIMAL sums merge in
  *    BigInt, exact; declines past Long.MaxValue
  *  - `avg(c)` over integral columns — exact sum / count with one
  *    double division; declines past 2^53 and for float/double
  *  - `ndv(c)` ([[graft.functions.NdvFns]]) — per-file HLL sketch
  *    UNION for int/long/string columns
  *  - `graft_quantile(c, p)` ([[graft.functions.QuantileFns]]) —
  *    per-file KLL sketch MERGE for numeric columns
  *
  * Shapes: ungrouped, GROUP BY physical partition columns (per-group
  * answers keyed by file directories), partition-only WHERE clauses
  * (Catalyst-evaluated per directory), and tp_timestamp/tp_date BAND
  * hybrids (contained files from metadata, straddlers scanned in-plan
  * and merged — avg via exact sum+count slots, ndv/quantile via
  * sketch-byte slots).
  *
  * Fires ONLY when every piece is provably exact or estimator-defined:
  *
  *  - the plan is an [[Aggregate]] whose child reaches a
  *    [[ZoneMapFileIndex]]-backed lake relation through at most
  *    column-pruning projections — any join or expression in between
  *    keeps the plan untouched
  *  - the relation covers the WHOLE table ([[ZoneMapFileIndex.owner]]
  *    is set only for full-table reads, never pre-pruned subsets)
  *  - [[Lake.statsAggregateIfCovered]] confirms EVERY live file is
  *    metadata-answerable (sidecar rows present and trusted where a
  *    count, sum, sketch or value range needs them, no unrecorded
  *    files, long bounds under 2^53, supported types) —
  *    otherwise the rule DECLINES rather than scan at optimize time,
  *    and the query runs its normal plan
  *
  * The metadata probe reads the table's cached metadata snapshot —
  * manifest and sidecar parts read in-process, no Spark job — and
  * runs only after the full structural match, so non-candidate
  * queries pay a pattern match and nothing else. A `tp_timestamp` (or
  * `tp_date`) that is only min/max'd needs no sidecar row at all: the
  * manifest's per-file ranges answer it on every table. The rewrite
  * replaces the aggregate with a one-row [[LocalRelation]] carrying
  * the same attribute ids, types and nullability, so downstream
  * operators and reuse are unaffected.
  * The qi33 oracle gates exactness (DuckDB recomputes from raw rows)
  * and pins files-read == 0 through the SQL path.
  */
final case class MetadataAggregateRule(session: SparkSession)
  extends Rule[LogicalPlan] {

  import MetadataAggregateRule._

  private val DayUs = 86400000000L

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg: Aggregate if agg.groupingExpressions.isEmpty =>
      safely(agg)(rewrite(agg))
    case agg: Aggregate
        if agg.groupingExpressions.forall(g =>
          g.isInstanceOf[AttributeReference] &&
            graft.lake.TpSchema.partitionCols.contains(
              g.asInstanceOf[AttributeReference].name)) =>
      // GROUP BY physical partition columns: per-group counts/ranges
      // come from the manifest+sidecar keyed by each file's directory
      safely(agg)(rewriteGrouped(agg))
    case agg: Aggregate
        if agg.groupingExpressions.nonEmpty &&
          agg.groupingExpressions.forall(g =>
            g.isInstanceOf[AttributeReference] ||
              bucketValue(g).isDefined) =>
      // GROUP BY a time bucket (`tp_date`, `date_trunc('day'/'hour'/
      // 'minute', tp_timestamp)`), optionally with partition columns:
      // THE reporting shape of the reference's domain — day-contained
      // files contribute per-bucket metadata partials, straddlers
      // scan and group in-plan, the final GROUP BY merges. The guard
      // is structural only (the optimizer's PullOutGroupingExpressions
      // hides `date_trunc` behind a `_groupingexpression` attribute
      // computed in a Project below, so real classification needs the
      // child); the rewrite resolves attrs through those aliases and
      // declines cheaply when no bucket key emerges.
      safely(agg)(rewriteBucketGrouped(agg))
  }

  /** Bucket grain of a time-bucket grouping expression, or None when
    * `e` isn't one this rule can serve. Forms:
    *
    *  - the `tp_date` column itself (DateType) — day grain; the engine
    *    derives `tp_date = date_trunc(day, tp_timestamp)` under its
    *    always-UTC writer convention, so a file whose manifest ts
    *    range is day-contained puts ALL its rows on one tp_date
    *  - `date_trunc(grain, tp_timestamp)` for DAY/DD/HOUR/MINUTE/
    *    SECOND (fixed micros widths), WEEK (fixed width, Monday
    *    anchor), and the CALENDAR grains MONTH/QUARTER/YEAR (r18
    *    verdict task 1 — THE monthly report; the reference's own
    *    layout partitions by year/month, ducklake_table.go:36-44, so
    *    month-contained files dominate there). Containment never
    *    needed a fixed width — only a bucket ID function MONOTONE in
    *    micros, so `idOf(min_ts) == idOf(max_ts)` proves every row of
    *    the file shares the bucket ([[MetadataAggregateRule.BucketGrain]]).
    *  - `cast(tp_timestamp AS date)` — the third spelling of day
    *
    * All are gated on the reader session being UTC (same reasoning as
    * the splitBand date fold): a non-UTC session truncates in local
    * time and signals a deployment where the UTC-writer convention may
    * not hold. Exactly-UTC spellings (`Etc/UTC`, `Z`, `+00:00`) are
    * accepted via [[TpSchema.isUtcZone]] normalization. The zone
    * RESOLVED INTO the expression at analysis must be UTC too: a plan
    * analyzed under a non-UTC session and collected after `SET time
    * zone UTC` keeps the captured zone in its `date_trunc`/cast, so
    * the straddler scan would truncate in that zone while the metadata
    * side floors in UTC (r18 ADVICE-low) — such expressions decline.
    */
  private def bucketGrain(e: Expression): Option[BucketGrain] =
    MetadataAggregateRule.bucketGrainOf(session, e).map(_._1)

  /** Bucket-FUNCTIONAL classification for grouping keys: grain + a
    * bucket-instant → key-value function
    * ([[MetadataAggregateRule.bucketValueOf]]). Superset of
    * [[bucketGrain]] adding the extract family (`year`/`quarter`/
    * `month`/`dayofmonth`/`dayofweek`/`weekday`/`hour`/`minute`), so
    * `GROUP BY year(tp_timestamp), month(tp_timestamp)` — the
    * reference's own physical partition layout — rides the hybrid.
    */
  private def bucketValue(e: Expression): Option[(BucketGrain, Long => Any)] =
    MetadataAggregateRule.bucketValueOf(session, e).map(t => (t._1, t._3))

  /** An OPTIONAL rewrite must never fail a query that would run fine
    * unrewritten: any probe failure (an unevaluable shape the
    * structural gates missed, a transient metadata I/O error) falls
    * open to the original plan with a warning, never up to the user
    * (r16 ADVICE-high: a subquery in the WHERE previously threw
    * UnsupportedOperationException out of the optimizer).
    */
  private def safely(orig: Aggregate)
      (attempt: => Option[LogicalPlan]): LogicalPlan =
    try attempt.getOrElse(orig)
    catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(
          s"metadata-aggregate rewrite declined on error: ${e.getMessage}")
        orig
    }

  /** Descend through alias/view wrappers, PURE column-pruning
    * projections, and Filter nodes (their AND-folded condition is
    * returned for the partition-only check) to the relation; anything
    * else disqualifies.
    */
  private def unwrap(p: LogicalPlan)
      : Option[(LogicalRelation, Option[Expression])] = p match {
    case s: SubqueryAlias => unwrap(s.child)
    case v: View => unwrap(v.child)
    case f: Filter => unwrap(f.child).map { case (lr, c) =>
      (lr, Some(c.map(And(f.condition, _)).getOrElse(f.condition)))
    }
    case pr: Project
        if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(pr.child)
    case lr: LogicalRelation => Some((lr, None))
    case _ => None
  }

  /** A WHERE clause is metadata-compatible iff it is deterministic and
    * references ONLY physical partition columns of convertible types —
    * then its truth is CONSTANT per file directory, and evaluating it
    * against each file's directory values is EXACTLY the partition
    * pruning a scan would do. Returns the per-file predicate, or None
    * when the condition cannot be served (the rewrite then declines).
    */
  private def partitionFilePredicate(
      lake: Lake, table: String,
      cond: Expression): Option[String => Boolean] = {
    if (!cond.deterministic) return None
    // a subquery (ScalarSubquery/InSubquery/Exists) can reference only
    // partition columns and still be Unevaluable at optimize time —
    // per-file eval would throw inside the optimizer (r16 ADVICE-high)
    if (cond.find(_.isInstanceOf[PlanExpression[_]]).isDefined)
      return None
    val refs = cond.references.toSeq
    val attrs = refs.map {
      case a: AttributeReference => a
      case _ => return None
    }
    if (!attrs.forall(a =>
      graft.lake.TpSchema.partitionCols.contains(a.name))) return None
    if (!attrs.forall(_.dataType match {
      case IntegerType | LongType | StringType => true
      case _ => false
    })) return None
    val bound = BindReferences.bindReference(cond,
      org.apache.spark.sql.catalyst.expressions.AttributeSeq(attrs))
    Some { file =>
      val pv = lake.partitionValues(lake.relOf(table, file))
      val row = InternalRow.fromSeq(attrs.map(a =>
        dirValueToInternal(pv.getOrElse(a.name, null), a.dataType)))
      val r = bound.eval(row)
      r != null && r.asInstanceOf[Boolean] // null = filtered out (SQL)
    }
  }

  private def dirValueToInternal(
      s: String, dt: org.apache.spark.sql.types.DataType): Any =
    if (s == null ||
      s == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME) null
    else dt match {
      case IntegerType => s.toInt
      case LongType => s.toLong
      case _ => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    }

  /** Explain-lint probe: Some(aggregated column names) when the
    * OPTIMIZED plan still contains an Aggregate this rule was
    * structurally able to serve — i.e. the rewrite was possible but
    * DECLINED (missing sidecar coverage, unrecorded files, a bound
    * past 2^53) — so `.explain` can tell the user what to enable.
    * None when nothing was missed (not a candidate, or the rewrite
    * fired and no Aggregate remains).
    */
  private[graft] def missedCandidate(
      plan: LogicalPlan): Option[Seq[String]] =
    plan.collectFirst(Function.unlift {
      case agg: Aggregate => structuralCandidate(agg)
      case _ => None
    })

  private def structuralCandidate(agg: Aggregate): Option[Seq[String]] = {
    // time-bucket groupings (tp_date / date_trunc / cast-to-date,
    // possibly pulled out as a _groupingexpression alias) lint too:
    // their containment proof rides tp_timestamp stats, so the hint
    // names that column
    val bucketShaped: Boolean = {
      val aliasMap =
        unwrapBucket(agg.child).map(_._3).getOrElse(Map.empty)
      val resolved = agg.groupingExpressions.map {
        case a: AttributeReference => aliasMap.getOrElse(a.exprId, a)
        case e => e
      }
      val grains = resolved.flatMap(bucketValue(_)).map(_._1)
      grains.nonEmpty &&
        // only lint shapes a containment grain could actually serve
        grains.exists(a =>
          grains.forall(b => MetadataAggregateRule.refines(a, b))) &&
        resolved.forall(g => bucketValue(g).isDefined ||
          (g.isInstanceOf[AttributeReference] &&
            graft.lake.TpSchema.partitionCols.contains(
              g.asInstanceOf[AttributeReference].name)))
    }
    if (!bucketShaped && !agg.groupingExpressions.forall(g =>
      g.isInstanceOf[AttributeReference] &&
        graft.lake.TpSchema.partitionCols.contains(
          g.asInstanceOf[AttributeReference].name))) return None
    val (lr, cond) = unwrap(agg.child)
      .orElse(unwrapBucket(agg.child).map(t => (t._1, t._2)))
      .getOrElse(return None)
    val (lake, table) = (lr.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case z: ZoneMapFileIndex => z.owner
        case _ => None
      }
      case _ => None
    }).getOrElse(return None)
    // a filter must itself be metadata-compatible, or "could be
    // served" would be a false promise: partition-only, or a
    // tp_timestamp band (whose hybrid needs tp_timestamp stats — the
    // lint then names that column in the enablement command)
    val bandShaped = cond match {
      case None => false
      case Some(c) =>
        if (partitionFilePredicate(lake, table, c).isDefined) false
        else splitBand(c) match {
          case Some((lo, hi, n, rest)) if n > 0 && lo <= hi &&
              rest.forall(rc =>
                partitionFilePredicate(lake, table, rc).isDefined) =>
            true
          case _ => return None
        }
    }
    val groupRefs = AttributeSet(agg.groupingExpressions
      .flatMap(_.references))
    val specs = agg.aggregateExpressions.map {
      // bare attrs are grouping-column pass-throughs in the grouped
      // shape; the lint needn't re-validate their exprIds. Aliases
      // over group keys (incl. derived casts in the bucket shape) are
      // pass-throughs too.
      case _: AttributeReference => Some(CountStar)
      case al: Alias if al.references.nonEmpty &&
          al.references.subsetOf(groupRefs) => Some(CountStar)
      case e => classify(e)
    }
    if (specs.exists(_.isEmpty)) None
    else Some((specs.flatten.collect {
      case CountCol(a) => a.name
      case MinCol(a) => a.name
      case MaxCol(a) => a.name
      case SumCol(a) => a.name
      case AvgCol(a) => a.name
      case NdvCol(a) => a.name
      case QuantileCol(a, _) => a.name
      case TopKCol(a, _) => a.name
      // distinct-day proof rides the manifest's tp_timestamp ranges
      case DistinctDates(_) => graft.lake.TpSchema.Timestamp
    } ++ (if (bandShaped || bucketShaped)
            Seq(graft.lake.TpSchema.Timestamp)
          else Nil)).distinct)
  }

  private def classify(e: NamedExpression): Option[Spec] = e match {
    case Alias(ae: AggregateExpression, _) => classifyAgg(ae)
    case Alias(l: Literal, _) => Some(Passthrough(l.value))
    case _ => None
  }

  private def classifyAgg(ae: AggregateExpression): Option[Spec] =
    if (ae.filter.isDefined) None
    // count(DISTINCT tp_date) — "how many active days" (r18 verdict
    // task 6): when every file is day-contained the distinct non-null
    // date set IS the manifest's per-file day set (a day-contained
    // file with a manifest range has at least its min row on that
    // day; null dates don't count in SQL DISTINCT). Proven or
    // declined per file in Lake.distinctDayCounts; any straddler
    // declines. UTC-gated like every tp_date derivation.
    else if (ae.isDistinct) ae.aggregateFunction match {
      case Count(Seq(a: AttributeReference))
          if a.name == graft.lake.TpSchema.Date &&
            a.dataType == org.apache.spark.sql.types.DateType &&
            graft.lake.TpSchema.isUtcZone(
              session.sessionState.conf.sessionLocalTimeZone) =>
        Some(DistinctDates(a))
      case _ => None
    }
    else ae.aggregateFunction match {
      case Count(Seq(l: Literal)) if l.value != null => Some(CountStar)
      case Count(Seq(a: AttributeReference)) => Some(CountCol(a))
      case Min(a: AttributeReference) => Some(MinCol(a))
      case Max(a: AttributeReference) => Some(MaxCol(a))
      // sum over an INTEGRAL column only: integer addition is
      // order-independent, so per-file sums merge exactly; float sums
      // are order-sensitive and never metadata-served. The result-type
      // guard keeps decimal/interval inputs out.
      case s: Sum if s.dataType == LongType => s.child match {
        case a: AttributeReference => a.dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               IntegerType | LongType => Some(SumCol(a))
          case _ => None
        }
        case _ => None
      }
      // avg over an INTEGRAL column: the sidecar's exact per-file sums
      // and null counts give sum/count with one double division —
      // declined for float/double (order-sensitive double sums) and
      // decimal (different result type/rounding). Result type of
      // integral avg is DoubleType for every evalMode.
      case avg: Average => avg.child match {
        case a: AttributeReference
            if avg.dataType == org.apache.spark.sql.types.DoubleType =>
          a.dataType match {
            case org.apache.spark.sql.types.ByteType |
                 org.apache.spark.sql.types.ShortType |
                 IntegerType | LongType => Some(AvgCol(a))
            case _ => None
          }
        case _ => None
      }
      // ndv(c) — OUR registered HLL aggregate (never Spark's
      // approx_count_distinct / hll_sketch_agg, whose estimator values
      // must stay scan-derived): per-file sidecar sketches union into
      // the same defined quantity. Served for the natively-hashed
      // types (the sidecar and scan paths hash identically there).
      case graft.functions.NdvFns.NdvAgg(a: AttributeReference, _, _) =>
        a.dataType match {
          case IntegerType | LongType | StringType => Some(NdvCol(a))
          case _ => None
        }
      // graft_quantile(c, p) — OUR KLL aggregate, the distribution
      // twin of ndv: the sidecar maintains the identical sketch per
      // (file, numeric column), so merging blobs answers it scan-free
      case q: graft.functions.QuantileFns.QuantileAgg =>
        (q.left, q.right) match {
          case (a: AttributeReference, _: Literal)
              if a.dataType.isInstanceOf[
                org.apache.spark.sql.types.NumericType] =>
            scala.util.Try(q.prob).toOption.map(QuantileCol(a, _))
          case _ => None
        }
      // graft_topk(c, k) — OUR frequent-items aggregate: the sidecar
      // maintains the identical per-file sketch for STRING columns;
      // merged-exact results equal the scan's (order-independent in
      // the exact regime)
      case tk: graft.functions.TopKFns.TopKAgg => tk.left match {
        case a: AttributeReference if a.dataType == StringType =>
          scala.util.Try(tk.k).toOption.map(TopKCol(a, _))
        case _ => None
      }
      case _ => None
    }

  /** Columns whose non-null count the answer reads: a column that is
    * only min/max'd needs none, which lets the manifest alone answer a
    * `tp_timestamp` range.
    */
  private def countColumnsOf(specs: Seq[Spec]): Set[String] =
    specs.collect {
      case CountCol(a) => a.name
      case AvgCol(a) => a.name
    }.toSet

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (lr, cond) = unwrap(agg.child).getOrElse(return None)
    val (lake, table) = (lr.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case z: ZoneMapFileIndex => z.owner
        case _ => None
      }
      case _ => None
    }).getOrElse(return None)
    val fileFilter: String => Boolean = cond match {
      case None => _ => true
      case Some(c) =>
        partitionFilePredicate(lake, table, c) match {
          case Some(p) => p
          // not partition-only: a tp_timestamp band (plus optional
          // partition conjuncts) gets the HYBRID rewrite — contained
          // files from metadata, straddlers scanned in-plan
          case None => return rewriteBand(agg, lr, lake, table, c)
        }
    }
    // a WHERE that filters rows away can leave zero surviving rows in
    // a group of aggregates whose types we can't synthesize a correct
    // empty result for without the parts — handled below (nRows == 0
    // still yields the correct count-0 / null-min row)
    val specs = agg.aggregateExpressions.map(classify)
    if (specs.exists(_.isEmpty)) return None
    val flat = specs.flatten
    val cols = flat.collect {
      case CountCol(a) => a.name
      case MinCol(a) => a.name
      case MaxCol(a) => a.name
      case SumCol(a) => a.name
      case AvgCol(a) => a.name
      case NdvCol(a) => a.name
      case QuantileCol(a, _) => a.name
      case TopKCol(a, _) => a.name
    }.distinct
    // count-only columns need just the sidecar's null/row counts; only
    // min/max targets must also have exact zone ranges, only sum/avg
    // targets the per-file value sums, and only ndv/quantile targets
    // their blobs
    val rangeCols = flat.collect {
      case MinCol(a) => a.name
      case MaxCol(a) => a.name
    }.toSet
    val sumCols = flat.collect {
      case SumCol(a) => a.name
      case AvgCol(a) => a.name
    }.toSet
    val ndvCols = flat.collect { case NdvCol(a) => a.name }.toSet
    val kllCols = flat.collect { case QuantileCol(a, _) => a.name }.toSet
    val mgCols = flat.collect { case TopKCol(a, _) => a.name }.toSet
    val parts = lake.statsAggregateIfCovered(session, table, cols,
      rangeCols, sumCols, ndvCols, fileFilter, kllCols, mgCols,
      countColumnsOf(flat)).getOrElse(return None)
    // a sum past Long.MaxValue has no exact BIGINT value — decline
    if (!flat.collect { case SumCol(a) => a.name }.forall(c =>
      parts.sums.get(c).forall(_.isValidLong))) return None
    // an avg whose exact sum passes 2^53 loses double losslessness
    if (!flat.collect { case AvgCol(a) => a.name }.forall(c =>
      parts.sums.get(c).forall(_.abs <= MaxExactAvgSum))) return None
    // top-k: the MERGED sketch must be provably exact (no eviction
    // anywhere) — an approximate regime declines to the scan
    if (!mgCols.forall(c => parts.mgBlobs.get(c).exists(b =>
      graft.functions.TopKFns.isExact(
        graft.functions.TopKFns.fromBlob(b))))) return None
    // count(DISTINCT tp_date): provable only when every (filtered)
    // file is day-contained — any straddler declines the whole rewrite
    val distinctDays: Option[Long] =
      if (!flat.exists(_.isInstanceOf[DistinctDates])) None
      else lake.distinctDayCounts(session, table, _ => Nil, fileFilter)
        match {
          case None => return None
          case Some(m) => Some(m.values.headOption.getOrElse(0L))
        }
    val values: Seq[Any] = flat.map {
      case CountStar => parts.nRows
      case CountCol(a) => parts.counts.getOrElse(a.name, 0L)
      case MinCol(a) =>
        CatalystTypeConverters.convertToCatalyst(
          parts.mins.get(a.name).orNull)
      case MaxCol(a) =>
        CatalystTypeConverters.convertToCatalyst(
          parts.maxs.get(a.name).orNull)
      case SumCol(a) =>
        parts.sums.get(a.name).map(s => Long.box(s.toLong)).orNull
      case AvgCol(a) =>
        val n = parts.counts.getOrElse(a.name, 0L)
        if (n == 0L) null // SQL avg of no rows
        else parts.sums.get(a.name)
          .map(s => Double.box(s.toDouble / n)).orNull
      case NdvCol(a) => Long.box(parts.ndvs.getOrElse(a.name, 0L))
      case QuantileCol(a, prob) =>
        parts.kllBlobs.get(a.name)
          .flatMap(b =>
            graft.functions.QuantileFns.blobQuantile(b, prob))
          .map(Double.box).orNull
      case TopKCol(a, k) => graft.functions.TopKFns.topKInternal(
        graft.functions.TopKFns.fromBlob(parts.mgBlobs(a.name)), k)
      case DistinctDates(_) => Long.box(distinctDays.get)
      case Passthrough(v) => v // Literal.value is already internal
    }
    logInfo(s"metadata-aggregate rewrite fired for lake table '$table': " +
      s"${flat.size} aggregates answered from the manifest+sidecar")
    Some(LocalRelation(agg.aggregateExpressions.map(_.toAttribute),
      Seq(InternalRow.fromSeq(values))))
  }

  /** TIME-BAND hybrid rewrite — the reference's dominant query shape
    * (`WHERE tp_timestamp BETWEEN a AND b`, optionally with partition
    * conjuncts) as plain SQL: files the manifest proves fully inside
    * the band (and the sidecar proves null-ts-free) contribute their
    * counts/sums/ranges as a one-row [[LocalRelation]]; only the
    * edge-straddling files stay IN the plan, as a partial aggregate
    * over a relation restricted to exactly those files (the original
    * filter still applied row-level), merged by a final aggregate
    * carrying the original output attribute ids. For a month-wide band
    * over a year of files, the scan is two boundary days — through
    * SQL, with no API call. The classification runs metadata-sized
    * jobs at optimize time; the straddler scan executes distributed in
    * the plan, never at optimize time. Declines (whole plan untouched)
    * when no file is provably contained — then the zone-map FileIndex
    * already prunes the scan to the overlapping files and a hybrid
    * buys nothing.
    */
  /** Split a WHERE into a `tp_timestamp` band in micros and the
    * residual non-band conjuncts. Strict bounds convert exactly
    * (`> X` ≡ `>= X+1µs`); equality is the one-point band. `tp_date`
    * comparisons fold into the SAME micros band (epoch-day × 86.4e9 —
    * exact in a long for every representable date) because the engine
    * derives `tp_date = date_trunc(day, tp_timestamp)` under its
    * always-UTC sessions, so `tp_date >= D` ≡ `tp_timestamp >= D
    * 00:00:00 UTC` row-for-row; pre-0.7 reference users filter on
    * tp_date and previously paid a scan of every overlapping file
    * (r16 verdict task 5). Date folding is gated on the READER
    * session being UTC too — a non-UTC session parses date literals
    * the same (days are TZ-free) but signals a deployment where the
    * UTC-writer convention may not hold, so date conjuncts then land
    * in the residual and the rewrite declines to the zoned scan.
    * None when a band conjunct has a null/odd literal;
    * `(lo, hi, 0, Some(cond))` when no band conjunct exists.
    * Shared by [[rewriteBand]] and the explain-lint probe.
    */
  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case x => Seq(x)
  }

  private def splitBand(cond: Expression)
      : Option[(Long, Long, Int, Option[Expression])] =
    splitBandExprs(conjunctsOf(cond)).map { case (lo, hi, n, rest) =>
      (lo, hi, n, rest.reduceOption(And))
    }

  /** [[splitBand]]'s core over an explicit conjunct list — reused by
    * [[splitBands]] to fold each disjunct of an OR-of-bands.
    */
  private def splitBandExprs(cs: Seq[Expression])
      : Option[(Long, Long, Int, Seq[Expression])] = {
    val utc = graft.lake.TpSchema.isUtcZone(
      session.sessionState.conf.sessionLocalTimeZone)
    def isTs(a: AttributeReference): Boolean =
      a.name == graft.lake.TpSchema.Timestamp &&
        a.dataType == org.apache.spark.sql.types.TimestampType
    def isDate(a: AttributeReference): Boolean =
      utc && a.name == graft.lake.TpSchema.Date &&
        a.dataType == org.apache.spark.sql.types.DateType
    // a comparison leaf as half-band bounds in micros:
    // (loBound, hiBound) with None = unbounded on that side; returns
    // None (decline) for a null literal on a matched column
    sealed trait Half
    case object NotBand extends Half
    case object Bad extends Half
    final case class Band(lo: Option[Long], hi: Option[Long]) extends Half
    def us(l: Literal): Option[Long] = l.dataType match {
      case org.apache.spark.sql.types.TimestampType
          if l.value != null => Some(l.value.asInstanceOf[Long])
      case _ => None
    }
    def day(l: Literal): Option[Int] = l.dataType match {
      case org.apache.spark.sql.types.DateType
          if l.value != null => Some(l.value.asInstanceOf[Int])
      case _ => None
    }
    // op ∈ {ge, gt, le, lt, eq} against (attr, literal) in attr-first
    // orientation
    def half(op: String, a: AttributeReference, l: Literal): Half =
      if (isTs(a)) us(l) match {
        case None => Bad
        case Some(v) => op match {
          case "ge" => Band(Some(v), None)
          case "gt" => if (v < Long.MaxValue) Band(Some(v + 1), None)
            else Bad
          case "le" => Band(None, Some(v))
          case "lt" => if (v > Long.MinValue) Band(None, Some(v - 1))
            else Bad
          case "eq" => Band(Some(v), Some(v))
        }
      } else if (isDate(a)) day(l) match {
        case None => Bad
        case Some(d) => op match {
          // tp_date >= D ⇔ ts >= D·day; tp_date <= D ⇔ ts < (D+1)·day
          case "ge" => Band(Some(d.toLong * DayUs), None)
          case "gt" => Band(Some((d.toLong + 1) * DayUs), None)
          case "le" => Band(None, Some((d.toLong + 1) * DayUs - 1))
          case "lt" => Band(None, Some(d.toLong * DayUs - 1))
          case "eq" => Band(Some(d.toLong * DayUs),
            Some((d.toLong + 1) * DayUs - 1))
        }
      } else NotBand
    // bucket-expression comparisons — the "report for month X" filter
    // shape: `date_trunc('MONTH', tp_timestamp) = TIMESTAMP 'v'` /
    // `trunc(tp_date, 'MM') >= DATE 'v'` / `cast(tp_timestamp AS date)
    // <= DATE 'v'` fold EXACTLY into micros bands because a bucket
    // expression takes only bucket-START values: trunc(ts) >= v ⇔ ts
    // lies in a bucket whose start >= v ⇔ ts >= first start >= v, and
    // equality to a non-start is unsatisfiable (the empty band). Bare
    // tp_timestamp/tp_date attrs keep the direct folds above.
    def isBucketExpr(e: Expression): Boolean =
      !e.isInstanceOf[AttributeReference] &&
        (bucketGrain(e).isDefined ||
          MetadataAggregateRule.yearExtractSrcOf(session, e).isDefined)
    def bucketLitUs(e: Expression, l: Literal): Option[Long] =
      (e.dataType, l.dataType) match {
        case (org.apache.spark.sql.types.TimestampType,
            org.apache.spark.sql.types.TimestampType)
            if l.value != null =>
          Some(l.value.asInstanceOf[Long])
        case (org.apache.spark.sql.types.DateType,
            org.apache.spark.sql.types.DateType) if l.value != null =>
          Some(l.value.asInstanceOf[Int].toLong * DayUs)
        case _ => None
      }
    // (grain, bucket id, aligned-on-a-start) of a bucket-expression
    // or year-extract comparison; a year literal IS an always-aligned
    // YEAR bucket id (0..9999 only — overflow guard)
    def bucketIdOf(e: Expression, l: Literal)
        : Option[(MetadataAggregateRule.BucketGrain, Long, Boolean)] =
      bucketGrain(e) match {
        case Some(g) => bucketLitUs(e, l).map { v =>
          val id = g.idOf(v); (g, id, g.startUs(id) == v)
        }
        case None => l.dataType match {
          case IntegerType if l.value != null =>
            val y = l.value.asInstanceOf[Int]
            if (y < 0 || y > 9999) None
            else Some((MetadataAggregateRule.MonthsGrain(12),
              y.toLong, true))
          case _ => None
        }
      }
    def bucketHalf(op: String, e: Expression, l: Literal): Half =
      bucketIdOf(e, l) match {
        case None => Bad
        case Some((g, id, aligned)) =>
          val ceilId = if (aligned) id else id + 1
          op match {
            case "ge" => Band(Some(g.startUs(ceilId)), None)
            case "gt" => Band(Some(g.startUs(id + 1)), None)
            case "le" => Band(None, Some(g.startUs(id + 1) - 1))
            case "lt" => Band(None, Some(g.startUs(ceilId) - 1))
            case "eq" =>
              if (aligned)
                Band(Some(g.startUs(id)), Some(g.startUs(id + 1) - 1))
              else Band(Some(0L), Some(-1L)) // unsatisfiable: empty
          }
      }
    def classifyLeaf(e: Expression): (Half, Expression) = e match {
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        (half("ge", a, l), e)
      case GreaterThan(a: AttributeReference, l: Literal) =>
        (half("gt", a, l), e)
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        (half("le", a, l), e)
      case LessThan(a: AttributeReference, l: Literal) =>
        (half("lt", a, l), e)
      case EqualTo(a: AttributeReference, l: Literal) =>
        (half("eq", a, l), e)
      // reversed operand orders: lit OP attr ≡ attr FLIP(OP) lit
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        (half("le", a, l), e)
      case GreaterThan(l: Literal, a: AttributeReference) =>
        (half("lt", a, l), e)
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        (half("ge", a, l), e)
      case LessThan(l: Literal, a: AttributeReference) =>
        (half("gt", a, l), e)
      case EqualTo(l: Literal, a: AttributeReference) =>
        (half("eq", a, l), e)
      // bucket-expression comparisons, both orientations
      case GreaterThanOrEqual(b, l: Literal) if isBucketExpr(b) =>
        (bucketHalf("ge", b, l), e)
      case GreaterThan(b, l: Literal) if isBucketExpr(b) =>
        (bucketHalf("gt", b, l), e)
      case LessThanOrEqual(b, l: Literal) if isBucketExpr(b) =>
        (bucketHalf("le", b, l), e)
      case LessThan(b, l: Literal) if isBucketExpr(b) =>
        (bucketHalf("lt", b, l), e)
      case EqualTo(b, l: Literal) if isBucketExpr(b) =>
        (bucketHalf("eq", b, l), e)
      case GreaterThanOrEqual(l: Literal, b) if isBucketExpr(b) =>
        (bucketHalf("le", b, l), e)
      case GreaterThan(l: Literal, b) if isBucketExpr(b) =>
        (bucketHalf("lt", b, l), e)
      case LessThanOrEqual(l: Literal, b) if isBucketExpr(b) =>
        (bucketHalf("ge", b, l), e)
      case LessThan(l: Literal, b) if isBucketExpr(b) =>
        (bucketHalf("gt", b, l), e)
      case EqualTo(l: Literal, b) if isBucketExpr(b) =>
        (bucketHalf("eq", b, l), e)
      case _ => (NotBand, e)
    }
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var nBand = 0
    val rest = Seq.newBuilder[Expression]
    cs.foreach { c =>
      c match {
        // band-neutral: rows failing them fail the band anyway, and
        // tp_date is null exactly when tp_timestamp is (derived);
        // bucket expressions are null iff their source column is
        case IsNotNull(a: AttributeReference)
            if isTs(a) || isDate(a) => ()
        case IsNotNull(e) if isBucketExpr(e) => ()
        case other => classifyLeaf(other) match {
          case (Band(l, h), _) =>
            l.foreach(v => lo = math.max(lo, v))
            h.foreach(v => hi = math.min(hi, v))
            nBand += 1
          case (Bad, _) => return None
          case (NotBand, e) => rest += e
        }
      }
    }
    Some((lo, hi, nBand, rest.result()))
  }

  /** Generalize [[splitBand]] to an OR of bands (r17 verdict task 6 —
    * the multi-window dashboard shape, `WHERE ts BETWEEN a AND b OR ts
    * BETWEEN c AND d`): at most ONE conjunct may be a disjunction
    * whose EVERY branch folds to a pure band (band leaves only, no
    * residual inside a branch — a non-band residual can't be factored
    * out of an OR); plain band conjuncts intersect every branch, and
    * overlapping/adjacent branches MERGE into a canonical disjoint
    * sorted set (sound: the predicate is exactly the union of the
    * intervals, and a file spanning two merged-apart bands has gap
    * rows that fail the filter — so containment stays per-band).
    * Returns (disjoint sorted bands, band-conjunct count, residual).
    */
  private def splitBands(cond: Expression)
      : Option[(Seq[(Long, Long)], Int, Option[Expression])] = {
    def disjuncts(e: Expression): Seq[Expression] = e match {
      case Or(l, r) => disjuncts(l) ++ disjuncts(r)
      case x => Seq(x)
    }
    var orBands: Option[Seq[(Long, Long)]] = None
    val single = Seq.newBuilder[Expression]
    // a band set from a list of equality-shaped members (the IN-list
    // is semantically OR-of-equalities: `tp_date IN (d1, d2)`,
    // `date_trunc('MONTH', ts) IN (m1, m2)`, `year(ts) IN (y1, y2)`)
    def eqBands(mk: Seq[Expression]): Option[Seq[(Long, Long)]] = {
      val folded = mk.map(e => splitBandExprs(Seq(e)))
      if (folded.forall(_.exists { case (l, h, n, r) =>
        n > 0 && r.isEmpty && l <= h
      }))
        Some(folded.map(_.get).map { case (l, h, _, _) => (l, h) })
      else None
    }
    conjunctsOf(cond).foreach { c =>
      val asOr: Option[Seq[(Long, Long)]] = c match {
        case o: Or if orBands.isEmpty =>
          val folded = disjuncts(o).map(d => splitBandExprs(conjunctsOf(d)))
          if (folded.forall(_.exists { case (l, h, n, r) =>
            n > 0 && r.isEmpty && l <= h
          }))
            Some(folded.map(_.get).map { case (l, h, _, _) => (l, h) })
          else None
        case In(e, lits) if orBands.isEmpty &&
            lits.forall(_.isInstanceOf[Literal]) =>
          eqBands(lits.map(l => EqualTo(e, l)))
        case InSet(e, hset) if orBands.isEmpty =>
          eqBands(hset.toSeq.map(v =>
            EqualTo(e, Literal(v, e.dataType))))
        case _ => None
      }
      asOr match {
        case Some(bs) => orBands = Some(bs)
        case None => single += c
      }
    }
    val (glo, ghi, gn, grest) =
      splitBandExprs(single.result()).getOrElse(return None)
    val bands0: Seq[(Long, Long)] = orBands match {
      case None =>
        if (gn > 0) Seq((glo, ghi)).filter { case (l, h) => l <= h }
        else Seq.empty
      case Some(bs) => bs
        .map { case (l, h) => (math.max(l, glo), math.min(h, ghi)) }
        .filter { case (l, h) => l <= h }
    }
    val merged = bands0.sortBy(_._1)
      .foldLeft(Vector.empty[(Long, Long)]) { case (acc, (l, h)) =>
        acc.lastOption match {
          // overlap or micros-adjacency: [a,x] ∪ [x+1,b] = [a,b]
          case Some((pl, ph))
              if ph == Long.MaxValue || l <= ph + 1 =>
            acc.init :+ ((pl, math.max(ph, h)))
          case _ => acc :+ ((l, h))
        }
      }
    Some((merged, gn + (if (orBands.isDefined) 1 else 0),
      grest.reduceOption(And)))
  }

  // ---- band-hybrid slot machinery (shared by both band rewrites) ----
  //
  // Most aggregates occupy ONE union slot (their mergeable partial is
  // themselves: counts/sums add, ranges re-extremize). `avg` needs TWO
  // — an exact DECIMAL(38,0) sum and a count — merged by one double
  // division at the very top, so the hybrid answer equals the pure-
  // metadata formula (exact total / count) regardless of how rows
  // split between contained files and straddlers.

  private def slotTypesOf(s: Spec): Seq[org.apache.spark.sql.types.DataType] =
    s match {
      case CountStar | CountCol(_) | SumCol(_) => Seq(LongType)
      case MinCol(a) => Seq(a.dataType)
      case MaxCol(a) => Seq(a.dataType)
      case AvgCol(_) =>
        Seq(org.apache.spark.sql.types.DecimalType(38, 0), LongType)
      // ndv/quantile union through the hybrid as sketch BYTES:
      // estimates don't add, sketches do
      case NdvCol(_) => Seq(org.apache.spark.sql.types.BinaryType)
      case QuantileCol(_, _) => Seq(org.apache.spark.sql.types.BinaryType)
      case _ => Seq(LongType)
    }

  /** Metadata-partial values for one spec, one per slot. */
  private def metaSlotValues(
      parts: Lake.StatsAggParts, s: Spec): Seq[Any] = s match {
    case CountStar => Seq(parts.nRows)
    case CountCol(a) => Seq(parts.counts.getOrElse(a.name, 0L))
    case MinCol(a) => Seq(CatalystTypeConverters.convertToCatalyst(
      parts.mins.get(a.name).orNull))
    case MaxCol(a) => Seq(CatalystTypeConverters.convertToCatalyst(
      parts.maxs.get(a.name).orNull))
    case SumCol(a) =>
      Seq(parts.sums.get(a.name).map(s0 => Long.box(s0.toLong)).orNull)
    case AvgCol(a) => Seq(
      parts.sums.get(a.name).map(v =>
        org.apache.spark.sql.types.Decimal(BigDecimal(v), 38, 0)).orNull,
      parts.counts.getOrElse(a.name, 0L))
    case NdvCol(a) => Seq(parts.ndvBlobs.get(a.name).orNull)
    case QuantileCol(a, _) => Seq(parts.kllBlobs.get(a.name).orNull)
    case _ => Seq(null)
  }

  /** FINAL value for one spec when the band is fully contained (no
    * straddler scan): the same arithmetic the ungrouped/grouped
    * metadata paths use.
    */
  private def metaFinalValue(parts: Lake.StatsAggParts, s: Spec): Any =
    s match {
      case AvgCol(a) =>
        val n = parts.counts.getOrElse(a.name, 0L)
        if (n == 0L) null
        else parts.sums.get(a.name)
          .map(v => Double.box(v.toDouble / n)).orNull
      case NdvCol(a) => Long.box(parts.ndvs.getOrElse(a.name, 0L))
      case QuantileCol(a, prob) =>
        parts.kllBlobs.get(a.name)
          .flatMap(b =>
            graft.functions.QuantileFns.blobQuantile(b, prob))
          .map(Double.box).orNull
      case TopKCol(a, k) => graft.functions.TopKFns.topKInternal(
        graft.functions.TopKFns.fromBlob(parts.mgBlobs(a.name)), k)
      case other => metaSlotValues(parts, other).head
    }

  /** Straddler-scan partial aggregates for one spec, aliased onto its
    * slots.
    */
  private def partialSlotExprs(
      s: Spec, slots: Seq[AttributeReference]): Option[Seq[NamedExpression]] = {
    def alias(fn: AggregateFunction, slot: AttributeReference) =
      Alias(fn.toAggregateExpression(), slot.name)(exprId = slot.exprId)
    s match {
      case CountStar => Some(Seq(alias(Count(Literal(1)), slots.head)))
      case CountCol(a) => Some(Seq(alias(Count(a), slots.head)))
      case MinCol(a) => Some(Seq(alias(Min(a), slots.head)))
      case MaxCol(a) => Some(Seq(alias(Max(a), slots.head)))
      case SumCol(a) => Some(Seq(alias(Sum(a), slots.head)))
      case AvgCol(a) => Some(Seq(
        // exact decimal accumulation: a long-typed straddler sum must
        // not wrap, and decimal(38,0) merges exactly with the metadata
        // partial's BigInt total
        alias(Sum(Cast(a,
          org.apache.spark.sql.types.DecimalType(38, 0))), slots.head),
        alias(Count(a), slots(1))))
      case NdvCol(a) => Some(Seq(
        alias(graft.functions.NdvFns.NdvSketchAgg(a), slots.head)))
      case QuantileCol(a, _) => Some(Seq(
        alias(graft.functions.KllFns.KllSketchAgg(a), slots.head)))
      case _ => None
    }
  }

  /** Final merge expression over the union for one spec at its slot
    * offset, carrying the ORIGINAL output name/exprId.
    */
  private def mergeExprFor(
      s: Spec, orig: NamedExpression,
      unionOut: Seq[Attribute], off: Int): Option[NamedExpression] =
    s match {
      case CountStar | CountCol(_) | SumCol(_) => Some(Alias(
        Sum(unionOut(off)).toAggregateExpression(), orig.name)(
        exprId = orig.exprId))
      case MinCol(_) => Some(Alias(
        Min(unionOut(off)).toAggregateExpression(), orig.name)(
        exprId = orig.exprId))
      case MaxCol(_) => Some(Alias(
        Max(unionOut(off)).toAggregateExpression(), orig.name)(
        exprId = orig.exprId))
      case AvgCol(_) =>
        val total = Sum(unionOut(off)).toAggregateExpression()
        val n = Sum(unionOut(off + 1)).toAggregateExpression()
        Some(Alias(
          If(EqualTo(n, Literal(0L)),
            Literal(null, org.apache.spark.sql.types.DoubleType),
            Divide(Cast(total, org.apache.spark.sql.types.DoubleType),
              Cast(n, org.apache.spark.sql.types.DoubleType))),
          orig.name)(exprId = orig.exprId))
      case NdvCol(_) => Some(Alias(
        graft.functions.NdvFns.NdvUnionAgg(unionOut(off))
          .toAggregateExpression(), orig.name)(exprId = orig.exprId))
      case QuantileCol(_, prob) => Some(Alias(
        graft.functions.QuantileFns.QuantileUnionAgg(unionOut(off),
          Literal(prob)).toAggregateExpression(), orig.name)(
        exprId = orig.exprId))
      case _ => None
    }

  private def rewriteBand(
      agg: Aggregate, lr: LogicalRelation,
      lake: Lake, table: String,
      cond: Expression): Option[LogicalPlan] = {
    val (bands, nBand, partCond) = splitBands(cond).getOrElse(return None)
    if (nBand == 0 || bands.isEmpty) return None
    val fileFilter: String => Boolean = partCond match {
      case None => _ => true
      case Some(pc) =>
        partitionFilePredicate(lake, table, pc).getOrElse(return None)
    }
    val specs = agg.aggregateExpressions.map(classify)
    if (specs.exists(s => s.isEmpty ||
      s.get.isInstanceOf[Passthrough] ||
      // top-k sketches don't ride the band slot machinery (yet) —
      // decline to the scan
      s.get.isInstanceOf[TopKCol])) return None
    val flat = specs.flatten
    // count(DISTINCT tp_date) under a band — "active days in range":
    // day sets don't slot-merge across a metadata/scan split, so this
    // serves only FULLY CONTAINED (every ranged file day-contained and
    // provably inside/outside the bands; straddlers decline below)
    val bandedDistinct: Option[Long] =
      if (!flat.exists(_.isInstanceOf[DistinctDates])) None
      else lake.distinctDayCountsBanded(session, table, bands,
        fileFilter) match {
        case None => return None
        case Some(n) => Some(n)
      }
    val cols = flat.collect {
      case CountCol(a) => a.name
      case MinCol(a) => a.name
      case MaxCol(a) => a.name
      case SumCol(a) => a.name
      case AvgCol(a) => a.name
      case NdvCol(a) => a.name
      case QuantileCol(a, _) => a.name
    }.distinct
    val ndvColsB = flat.collect { case NdvCol(a) => a.name }.toSet
    val kllColsB = flat.collect { case QuantileCol(a, _) => a.name }.toSet
    val rangeCols = flat.collect {
      case MinCol(a) => a.name
      case MaxCol(a) => a.name
    }.toSet
    val sumColsS = flat.collect {
      case SumCol(a) => a.name
      case AvgCol(a) => a.name
    }.toSet
    if (!lake.hasData(session, table)) return None
    val schema = lake.schemaOf(session, table)
    if (!cols.forall(schema.fieldNames.contains)) return None
    val (parts, straddlers, containedCount) = lake.timeMultiBandParts(
      session, table, bands, cols, schema, rangeCols, sumColsS,
      fileFilter, ndvColsB, kllColsB)
    if (containedCount <= 0) return None // hybrid buys nothing
    if (!flat.collect { case SumCol(a) => a.name }.toSet[String].forall(c =>
      parts.sums.get(c).forall(_.isValidLong)))
      return None

    if (straddlers.isEmpty) {
      // nothing to scan: emit the final row directly
      logInfo(s"time-band rewrite fired for '$table': fully contained, " +
        s"no straddlers")
      return Some(LocalRelation(
        agg.aggregateExpressions.map(_.toAttribute),
        Seq(InternalRow.fromSeq(flat.map {
          case DistinctDates(_) => Long.box(bandedDistinct.get)
          case s => metaFinalValue(parts, s)
        }))))
    }
    // a straddler's rows would need the distinct-day slot merge the
    // classifier can't express — decline to the scan (slot machinery
    // below has no DistinctDates shape)
    if (bandedDistinct.isDefined) return None

    val slotGroups: Seq[Seq[AttributeReference]] =
      flat.zipWithIndex.map { case (sp, i) =>
        slotTypesOf(sp).zipWithIndex.map { case (dt, j) =>
          AttributeReference(s"_band_${i}_$j", dt)()
        }
      }
    val localAttrs: Seq[AttributeReference] = slotGroups.flatten
    val localValues: Seq[Any] = flat.flatMap(metaSlotValues(parts, _))
    val local = LocalRelation(localAttrs,
      Seq(InternalRow.fromSeq(localValues)))

    // straddler-restricted relation with the ORIGINAL output attrs —
    // the filter/projections above keep their bindings untouched
    val fsRel = lr.relation.asInstanceOf[HadoopFsRelation]
    val straddlerIndex =
      new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
        session, straddlers.map(new org.apache.hadoop.fs.Path(_)),
        Map("basePath" -> lake.tableDir(table)), None)
    val straddlerRel = HadoopFsRelation(straddlerIndex,
      fsRel.partitionSchema, fsRel.dataSchema, fsRel.bucketSpec,
      fsRel.fileFormat, fsRel.options)(session)
    val swappedChild = agg.child.transform {
      case l: LogicalRelation if l eq lr => lr.copy(relation = straddlerRel)
    }
    // prune the scan to the aggregated columns (the optimizer's
    // ColumnPruning already ran; without this Project the straddler
    // scan would read every column)
    val neededNames = flat.collect {
      case CountCol(a) => a; case MinCol(a) => a
      case MaxCol(a) => a; case SumCol(a) => a; case AvgCol(a) => a
      case NdvCol(a) => a; case QuantileCol(a, _) => a
    }.map(_.exprId).toSet
    val needed = agg.child.output.filter(a => neededNames.contains(a.exprId))
    val pruned =
      if (needed.nonEmpty) Project(needed, swappedChild)
      else swappedChild // pure count(*): the filter column is read anyway
    val partialExprs: Seq[NamedExpression] =
      flat.zip(slotGroups).flatMap { case (s, slots) =>
        partialSlotExprs(s, slots).getOrElse(return None)
      }
    val partial = Aggregate(Nil, partialExprs, pruned)
    val union = Union(Seq(local, partial))
    // merge under the ORIGINAL output names/exprIds: counts and sums
    // add, ranges re-extremize, avg divides merged sum by merged count
    val unionOut = union.output
    val offsets: Seq[Int] =
      slotGroups.scanLeft(0)(_ + _.size).init
    val mergeExprs: Seq[NamedExpression] =
      agg.aggregateExpressions.zip(flat).zip(offsets).map {
        case ((orig, s), off) =>
          mergeExprFor(s, orig, unionOut, off).getOrElse(return None)
      }
    logInfo(s"time-band rewrite fired for '$table': $containedCount " +
      s"contained files from metadata, ${straddlers.size} straddlers " +
      "scanned in-plan")
    Some(Aggregate(Nil, mergeExprs, union))
  }

  /** GROUPED band hybrid: `GROUP BY partition columns` + a
    * tp_timestamp band. Per-group metadata partials over the contained
    * files become LOCAL rows (group-key slots + value slots); the
    * straddler scan keeps the SAME grouping over the restricted
    * relation, and the final GROUP BY over the union merges metadata
    * groups with scanned groups wherever they overlap — no group
    * alignment logic at all, the grouped merge IS the alignment.
    */
  private def rewriteBandGrouped(
      agg: Aggregate, lr: LogicalRelation,
      lake: Lake, table: String,
      cond: Expression): Option[LogicalPlan] = {
    val (bands, nBand, partCond) = splitBands(cond).getOrElse(return None)
    if (nBand == 0 || bands.isEmpty) return None
    val fileFilter: String => Boolean = partCond match {
      case None => _ => true
      case Some(pc) =>
        partitionFilePredicate(lake, table, pc).getOrElse(return None)
    }
    val groupAttrs = agg.groupingExpressions
      .map(_.asInstanceOf[AttributeReference])
    if (!groupAttrs.forall(a => a.dataType match {
      case IntegerType | LongType | StringType => true
      case _ => false
    })) return None
    def keyIndex(a: AttributeReference): Option[Int] = {
      val i = groupAttrs.indexWhere(_.exprId == a.exprId)
      if (i < 0) None else Some(i)
    }
    val specs: Seq[Option[Spec]] = agg.aggregateExpressions.map {
      case a: AttributeReference => keyIndex(a).map(GroupKey)
      case Alias(a: AttributeReference, _) => keyIndex(a).map(GroupKey)
      case e => classify(e)
    }
    if (specs.exists(s => s.isEmpty || s.get.isInstanceOf[Passthrough] ||
      s.get.isInstanceOf[DistinctDates] || // day sets don't slot-merge
      s.get.isInstanceOf[TopKCol])) // no band slot machinery for top-k
      return None
    val flat = specs.flatten
    val valueSpecs = flat.filterNot(_.isInstanceOf[GroupKey])
    val cols = valueSpecs.collect {
      case CountCol(a) => a.name
      case MinCol(a) => a.name
      case MaxCol(a) => a.name
      case SumCol(a) => a.name
      case AvgCol(a) => a.name
      case NdvCol(a) => a.name
      case QuantileCol(a, _) => a.name
    }.distinct
    val rangeCols = valueSpecs.collect {
      case MinCol(a) => a.name
      case MaxCol(a) => a.name
    }.toSet
    val sumColsS = valueSpecs.collect {
      case SumCol(a) => a.name
      case AvgCol(a) => a.name
    }.toSet
    val ndvColsG = valueSpecs.collect { case NdvCol(a) => a.name }.toSet
    val kllColsG =
      valueSpecs.collect { case QuantileCol(a, _) => a.name }.toSet
    if (!lake.hasData(session, table)) return None
    val schema = lake.schemaOf(session, table)
    if (!cols.forall(schema.fieldNames.contains)) return None
    val (groups, straddlers, containedCount) =
      lake.timeBandPartsGroupedMulti(
        session, table, bands, cols, schema, rangeCols, sumColsS,
        f => {
          val pv = lake.partitionValues(lake.relOf(table, f))
          groupAttrs.map(a => pv.getOrElse(a.name, null))
        }, fileFilter, ndvColsG, kllColsG)
    if (containedCount <= 0) return None // hybrid buys nothing
    val sumOnlyS = valueSpecs.collect { case SumCol(a) => a.name }.toSet
    if (!groups.forall { case (_, p) =>
      sumOnlyS.forall(c => p.sums.get(c).forall(_.isValidLong))
    }) return None

    if (straddlers.isEmpty) {
      // fully contained: emit the final rows directly
      val rows = groups.map { case (key, parts) =>
        InternalRow.fromSeq(flat.map {
          case GroupKey(i) =>
            dirValueToInternal(key(i), groupAttrs(i).dataType)
          case s => metaFinalValue(parts, s)
        })
      }
      logInfo(s"grouped time-band rewrite fired for '$table': fully " +
        s"contained, ${groups.size} groups from metadata")
      return Some(LocalRelation(
        agg.aggregateExpressions.map(_.toAttribute), rows))
    }

    // local side: key slots then value slots, canonical order (avg
    // spans two value slots — exact decimal sum + count)
    val nKeys = groupAttrs.size
    val keySlots = groupAttrs.zipWithIndex.map { case (a, i) =>
      AttributeReference(s"_bgk_$i", a.dataType)()
    }
    val valSlotGroups: Seq[Seq[AttributeReference]] =
      valueSpecs.zipWithIndex.map { case (sp, i) =>
        slotTypesOf(sp).zipWithIndex.map { case (dt, j) =>
          AttributeReference(s"_bgv_${i}_$j", dt)()
        }
      }
    val valSlots = valSlotGroups.flatten
    val localRows = groups.map { case (key, parts) =>
      InternalRow.fromSeq(
        groupAttrs.indices.map(i =>
          dirValueToInternal(key(i), groupAttrs(i).dataType)) ++
          valueSpecs.flatMap(s => metaSlotValues(parts, s)))
    }
    val local = LocalRelation(keySlots ++ valSlots, localRows)

    // straddler side: SAME grouping over the restricted relation
    val fsRel = lr.relation.asInstanceOf[HadoopFsRelation]
    val straddlerIndex =
      new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
        session, straddlers.map(new org.apache.hadoop.fs.Path(_)),
        Map("basePath" -> lake.tableDir(table)), None)
    val straddlerRel = HadoopFsRelation(straddlerIndex,
      fsRel.partitionSchema, fsRel.dataSchema, fsRel.bucketSpec,
      fsRel.fileFormat, fsRel.options)(session)
    val swappedChild = agg.child.transform {
      case l: LogicalRelation if l eq lr => lr.copy(relation = straddlerRel)
    }
    val neededIds = (valueSpecs.collect {
      case CountCol(a) => a; case MinCol(a) => a
      case MaxCol(a) => a; case SumCol(a) => a; case AvgCol(a) => a
      case NdvCol(a) => a; case QuantileCol(a, _) => a
    } ++ groupAttrs).map(_.exprId).toSet
    val needed = agg.child.output.filter(a => neededIds.contains(a.exprId))
    val pruned =
      if (needed.nonEmpty) Project(needed, swappedChild) else swappedChild
    val partialValueExprs: Seq[NamedExpression] =
      valueSpecs.zip(valSlotGroups).flatMap { case (s, slots) =>
        partialSlotExprs(s, slots).getOrElse(return None)
      }
    val partial = Aggregate(groupAttrs,
      groupAttrs.map(a => a: NamedExpression) ++ partialValueExprs,
      pruned)
    val union = Union(Seq(local, partial))
    val unionOut = union.output
    // value-slot OFFSET per flat position (duplicate specs are fine:
    // the mapping is positional, never by equality)
    val valueOffsets: Seq[Int] =
      valSlotGroups.scanLeft(0)(_ + _.size).init
    val valueIdx: Map[Int, Int] = {
      var v = -1
      flat.zipWithIndex.flatMap {
        case (s, i) if !s.isInstanceOf[GroupKey] =>
          v += 1; Some(i -> valueOffsets(v))
        case _ => None
      }.toMap
    }
    val mergeExprs: Seq[NamedExpression] =
      agg.aggregateExpressions.zip(flat).zipWithIndex.map {
        case (((orig, GroupKey(k))), _) =>
          Alias(unionOut(k), orig.name)(exprId = orig.exprId)
        case ((orig, s), i) =>
          mergeExprFor(s, orig, unionOut, nKeys + valueIdx(i))
            .getOrElse(return None)
      }
    logInfo(s"grouped time-band rewrite fired for '$table': " +
      s"${groups.size} metadata groups + ${straddlers.size} straddler " +
      "files scanned in-plan")
    Some(Aggregate(unionOut.take(nKeys), mergeExprs, union))
  }

  /** TIME-BUCKET grouped hybrid (r17 verdict task 1): `GROUP BY
    * tp_date` or `GROUP BY date_trunc(grain, tp_timestamp)`, optionally
    * with partition-column keys and a tp_timestamp/tp_date band WHERE —
    * THE reporting query of the reference's domain (its from/to view
    * filters exist to feed it, cmd/connect.go:262-311), previously a
    * full scan while every piece it needs existed. Files that are
    * band-contained AND bucket-contained (manifest ts range inside one
    * bucket — after time-ordered compaction most files are
    * day-contained, reference compact.go:264-416 orders by
    * tp_timestamp precisely so files don't straddle) contribute
    * per-bucket metadata partials as LOCAL rows keyed by their bucket;
    * straddlers keep the ORIGINAL grouping expressions over the
    * restricted relation; the final GROUP BY over the union merges
    * them — the grouped merge IS the bucket alignment, exactly as in
    * [[rewriteBandGrouped]]. At 100 TB a daily report over a year
    * reads kilobytes of metadata plus the boundary files.
    */
  /** [[unwrap]] variant for the bucket-grouped shape: additionally
    * accepts Projects whose non-attribute entries are ONLY aliases of
    * bucket-grain expressions — the optimizer's
    * PullOutGroupingExpressions materializes `date_trunc(...)` as a
    * `_groupingexpression` column in exactly such a Project. Arbitrary
    * computed aliases still disqualify (an alias shadowing a real
    * column name would otherwise let the rule serve the WRONG column's
    * file stats). Returns the alias bindings so grouping attrs resolve
    * back to their bucket expressions.
    */
  private def unwrapBucket(p: LogicalPlan): Option[
      (LogicalRelation, Option[Expression], Map[ExprId, Expression])] =
    p match {
      case s: SubqueryAlias => unwrapBucket(s.child)
      case v: View => unwrapBucket(v.child)
      case f: Filter => unwrapBucket(f.child).map { case (lr, c, m) =>
        (lr, Some(c.map(And(f.condition, _)).getOrElse(f.condition)), m)
      }
      case pr: Project
          if pr.projectList.forall {
            case _: AttributeReference => true
            // only bucket-grain aliases pass, and only when the alias
            // NAME doesn't shadow a column of the child (r18
            // ADVICE-medium: `tp_date AS value` would otherwise let
            // downstream NAME-keyed stats lookups serve the wrong
            // column's stats; the optimizer's own pulled-out
            // `_groupingexpression…` names can never collide)
            case al: Alias => bucketValue(al.child).isDefined &&
              !pr.child.output.exists(_.name == al.name)
            case _ => false
          } =>
        unwrapBucket(pr.child).map { case (lr, c, m) =>
          (lr, c, m ++ pr.projectList.collect {
            case al: Alias => al.exprId -> al.child
          })
        }
      case lr: LogicalRelation => Some((lr, None, Map.empty))
      case _ => None
    }

  private def rewriteBucketGrouped(agg: Aggregate): Option[LogicalPlan] = {
    val (lr, cond, aliasMap) =
      unwrapBucket(agg.child).getOrElse(return None)
    val (lake, table) = (lr.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case z: ZoneMapFileIndex => z.owner
        case _ => None
      }
      case _ => None
    }).getOrElse(return None)
    // grouping layout: resolve attrs through the pulled-out aliases,
    // then require EXACTLY ONE bucket key and partition attrs otherwise
    val grouping = agg.groupingExpressions
    val resolved: Seq[Expression] = grouping.map {
      case a: AttributeReference => aliasMap.getOrElse(a.exprId, a)
      case e => e
    }
    // bucket-functional keys (1..n, all deriving from ONE containment
    // grain): `GROUP BY tp_date`, `GROUP BY date_trunc('month', ts)`,
    // and the multi-key layout report `GROUP BY year(ts), month(ts)` —
    // containment proves on the FINEST grain present (one whose
    // buckets refine every other key's), each key's value derived from
    // that bucket's start instant
    val bucketVals: Map[Int, (BucketGrain, Long => Any)] =
      resolved.indices.flatMap(i =>
        bucketValue(resolved(i)).map(i -> _)).toMap
    if (bucketVals.isEmpty) return None
    val grains = bucketVals.values.map(_._1).toSeq
    val grain = grains.find(a =>
      grains.forall(b => MetadataAggregateRule.refines(a, b)))
      .getOrElse(return None) // e.g. week × month: no common refinement
    val partAttrs: Seq[AttributeReference] = grouping.zipWithIndex
      .filter(p => !bucketVals.contains(p._2))
      .map(_._1 match {
        case a: AttributeReference => a
        case _ => return None
      })
    if (!partAttrs.forall(a =>
      graft.lake.TpSchema.partitionCols.contains(a.name))) return None
    if (!partAttrs.forall(a => a.dataType match {
      case IntegerType | LongType | StringType => true
      case _ => false
    })) return None
    // WHERE: a tp band set (folded date conjuncts and OR-of-bands
    // included) + partition residual; no WHERE at all = the full
    // range — bucket containment alone still makes most files
    // metadata-servable
    val (bands, partCond) = cond match {
      case None => (Seq((Long.MinValue, Long.MaxValue)), None)
      case Some(c) => splitBands(c) match {
        case Some((bs, n, rest)) =>
          (if (n > 0) bs
           else Seq((Long.MinValue, Long.MaxValue)), rest)
        case None => return None
      }
    }
    if (bands.isEmpty) return None
    val fileFilter: String => Boolean = partCond match {
      case None => _ => true
      case Some(pc) =>
        partitionFilePredicate(lake, table, pc).getOrElse(return None)
    }
    // grouping position -> position among partAttrs
    val partIdxOf: Map[Int, Int] = grouping.indices
      .filter(!bucketVals.contains(_)).zipWithIndex.toMap

    def keyIndex(e: Expression): Option[Int] = {
      val i = grouping.indexWhere(_.semanticEquals(e))
      if (i < 0) None else Some(i)
    }
    // an output DERIVED from group keys only — `cast(day_bucket AS
    // date)`, `year(tp_date)` — is served by substituting the key into
    // the expression (Literal on the metadata side, the union's key
    // column on the straddler side). Deterministic, aggregate-free,
    // evaluable, references ⊆ grouping attrs.
    def derivedKey(al: Alias): Option[Spec] = {
      val e = al.child
      if (!e.deterministic) return None
      // attrs are Unevaluable but get substituted (Literal / union
      // column) before any eval — only OTHER unevaluable nodes
      // (subqueries, grouping__id, ...) disqualify
      if (e.find(x => x.isInstanceOf[AggregateExpression] ||
        x.isInstanceOf[PlanExpression[_]] ||
        (x.isInstanceOf[Unevaluable] &&
          !x.isInstanceOf[AttributeReference])).isDefined) return None
      if (e.references.isEmpty) return None
      if (!e.references.toSeq.forall {
        case a: AttributeReference => keyIndex(a).isDefined
        case _ => false
      }) return None
      Some(GroupDerived(e))
    }
    val specs: Seq[Option[Spec]] = agg.aggregateExpressions.map {
      case a: AttributeReference => keyIndex(a).map(GroupKey)
      case al @ Alias(child, _) =>
        keyIndex(child).map(GroupKey)
          .orElse(classify(al)).orElse(derivedKey(al))
      case e => classify(e)
    }
    if (specs.exists(s => s.isEmpty || s.get.isInstanceOf[Passthrough] ||
      s.get.isInstanceOf[DistinctDates] || // day sets don't slot-merge
      s.get.isInstanceOf[TopKCol])) // no band slot machinery for top-k
      return None
    val flat = specs.flatten
    def isKeyish(s: Spec): Boolean =
      s.isInstanceOf[GroupKey] || s.isInstanceOf[GroupDerived]
    val valueSpecs = flat.filterNot(isKeyish)
    val cols = valueSpecs.collect {
      case CountCol(a) => a.name
      case MinCol(a) => a.name
      case MaxCol(a) => a.name
      case SumCol(a) => a.name
      case AvgCol(a) => a.name
      case NdvCol(a) => a.name
      case QuantileCol(a, _) => a.name
    }.distinct
    val rangeCols = valueSpecs.collect {
      case MinCol(a) => a.name
      case MaxCol(a) => a.name
    }.toSet
    val sumColsS = valueSpecs.collect {
      case SumCol(a) => a.name
      case AvgCol(a) => a.name
    }.toSet
    val ndvColsG = valueSpecs.collect { case NdvCol(a) => a.name }.toSet
    val kllColsG =
      valueSpecs.collect { case QuantileCol(a, _) => a.name }.toSet
    if (!lake.hasData(session, table)) return None
    val schema = lake.schemaOf(session, table)
    if (!cols.forall(schema.fieldNames.contains)) return None
    val (groups, straddlers, containedCount) = lake.timeBucketPartsGrouped(
      session, table, bands, grain.idOf, cols, schema, rangeCols, sumColsS,
      f => {
        val pv = lake.partitionValues(lake.relOf(table, f))
        partAttrs.map(a => pv.getOrElse(a.name, null))
      }, fileFilter, ndvColsG, kllColsG)
    if (containedCount <= 0) return None // hybrid buys nothing
    val sumOnlyS = valueSpecs.collect { case SumCol(a) => a.name }.toSet
    if (!groups.forall { case (_, p) =>
      sumOnlyS.forall(c => p.sums.get(c).forall(_.isValidLong))
    }) return None

    def keyInternal(i: Int, bucket: Long, partVals: Seq[String]): Any =
      bucketVals.get(i) match {
        // each bucket key's value from the containment bucket's START
        // instant — constant across the bucket by the refinement gate
        case Some((_, valueOf)) => valueOf(grain.startUs(bucket))
        case None =>
          dirValueToInternal(partVals(partIdxOf(i)), grouping(i).dataType)
      }
    // driver-side eval of a key-derived output for one metadata group:
    // keys become Literals, then one eval (resolved + deterministic +
    // non-Unevaluable by derivedKey's gates; a throwing expr falls
    // open through safely())
    def evalDerived(e: Expression, bucket: Long,
        partVals: Seq[String]): Any =
      e.transform {
        case a: AttributeReference if keyIndex(a).isDefined =>
          val i = keyIndex(a).get
          Literal(keyInternal(i, bucket, partVals), grouping(i).dataType)
      }.eval(null)

    // bucket id → key can be NON-injective for extract keys (two hour
    // buckets on different days share one hour-of-day), in which case
    // even a fully-contained answer still needs the merge aggregate —
    // the direct emit below is only sound when every realized group
    // maps to a distinct key tuple
    lazy val injectiveKeys = {
      val tuples = groups.map { case ((bucket, partVals), _) =>
        grouping.indices.map(keyInternal(_, bucket, partVals))
      }
      tuples.distinct.size == tuples.size
    }
    if (straddlers.isEmpty && injectiveKeys) {
      // fully contained: emit the final rows directly
      val rows = groups.map { case ((bucket, partVals), parts) =>
        InternalRow.fromSeq(flat.map {
          case GroupKey(i) => keyInternal(i, bucket, partVals)
          case GroupDerived(e) => evalDerived(e, bucket, partVals)
          case s => metaFinalValue(parts, s)
        })
      }
      logInfo(s"bucket-grouped time rewrite fired for '$table': fully " +
        s"contained, ${groups.size} bucket groups from metadata")
      return Some(LocalRelation(
        agg.aggregateExpressions.map(_.toAttribute), rows))
    }

    // local side: key slots in grouping order, then value slots
    val nKeys = grouping.size
    val keySlots = grouping.zipWithIndex.map { case (g, i) =>
      AttributeReference(s"_tbk_$i", g.dataType)()
    }
    val valSlotGroups: Seq[Seq[AttributeReference]] =
      valueSpecs.zipWithIndex.map { case (sp, i) =>
        slotTypesOf(sp).zipWithIndex.map { case (dt, j) =>
          AttributeReference(s"_tbv_${i}_$j", dt)()
        }
      }
    val valSlots = valSlotGroups.flatten
    val localRows = groups.map { case ((bucket, partVals), parts) =>
      InternalRow.fromSeq(
        grouping.indices.map(keyInternal(_, bucket, partVals)) ++
          valueSpecs.flatMap(s => metaSlotValues(parts, s)))
    }
    val local = LocalRelation(keySlots ++ valSlots, localRows)

    // straddler side: the ORIGINAL grouping expressions (date_trunc
    // evaluates row-level in-plan — straddler rows land in their true
    // buckets, including the null bucket for null-ts rows) over the
    // restricted relation, original Filter intact
    val fsRel = lr.relation.asInstanceOf[HadoopFsRelation]
    val straddlerIndex =
      new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
        session, straddlers.map(new org.apache.hadoop.fs.Path(_)),
        Map("basePath" -> lake.tableDir(table)), None)
    val straddlerRel = HadoopFsRelation(straddlerIndex,
      fsRel.partitionSchema, fsRel.dataSchema, fsRel.bucketSpec,
      fsRel.fileFormat, fsRel.options)(session)
    val swappedChild = agg.child.transform {
      case l: LogicalRelation if l eq lr => lr.copy(relation = straddlerRel)
    }
    val neededIds = (valueSpecs.collect {
      case CountCol(a) => a; case MinCol(a) => a
      case MaxCol(a) => a; case SumCol(a) => a; case AvgCol(a) => a
      case NdvCol(a) => a; case QuantileCol(a, _) => a
    }.map(_.exprId) ++
      grouping.flatMap(_.references.map(_.exprId))).toSet
    val needed = agg.child.output.filter(a => neededIds.contains(a.exprId))
    val pruned =
      if (needed.nonEmpty) Project(needed, swappedChild) else swappedChild
    val partialKeys: Seq[NamedExpression] = grouping.zipWithIndex.map {
      case (a: AttributeReference, _) => a
      case (g, i) => Alias(g, s"_tbk_$i")()
    }
    val partialValueExprs: Seq[NamedExpression] =
      valueSpecs.zip(valSlotGroups).flatMap { case (s, slots) =>
        partialSlotExprs(s, slots).getOrElse(return None)
      }
    val partial = Aggregate(grouping,
      partialKeys ++ partialValueExprs, pruned)
    val union = Union(Seq(local, partial))
    val unionOut = union.output
    val valueOffsets: Seq[Int] =
      valSlotGroups.scanLeft(0)(_ + _.size).init
    val valueIdx: Map[Int, Int] = {
      var v = -1
      flat.zipWithIndex.flatMap {
        case (s, i) if !isKeyish(s) =>
          v += 1; Some(i -> valueOffsets(v))
        case _ => None
      }.toMap
    }
    val mergeExprs: Seq[NamedExpression] =
      agg.aggregateExpressions.zip(flat).zipWithIndex.map {
        case (((orig, GroupKey(k))), _) =>
          Alias(unionOut(k), orig.name)(exprId = orig.exprId)
        case (((orig, GroupDerived(e))), _) =>
          // key-derived output: substitute the union's key columns
          // into the expression (functionally determined by the keys)
          Alias(e.transform {
            case a: AttributeReference if keyIndex(a).isDefined =>
              unionOut(keyIndex(a).get)
          }, orig.name)(exprId = orig.exprId)
        case ((orig, s), i) =>
          mergeExprFor(s, orig, unionOut, nKeys + valueIdx(i))
            .getOrElse(return None)
      }
    logInfo(s"bucket-grouped time rewrite fired for '$table': " +
      s"${groups.size} bucket groups from metadata + " +
      s"${straddlers.size} straddler files scanned in-plan")
    Some(Aggregate(unionOut.take(nKeys), mergeExprs, union))
  }

  /** Partition-grouped rewrite: `GROUP BY tp_partition/tp_index/
    * tp_year/tp_month` with the same aggregate family — one output row
    * per partition group present in the manifest, group-key values
    * taken from the files' directories (partitionBy strips the columns
    * from the files, so directory truth IS column truth).
    */
  private def rewriteGrouped(agg: Aggregate): Option[LogicalPlan] = {
    val (lr, cond) = unwrap(agg.child).getOrElse(return None)
    val (lake, table) = (lr.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case z: ZoneMapFileIndex => z.owner
        case _ => None
      }
      case _ => None
    }).getOrElse(return None)
    val fileFilter: String => Boolean = cond match {
      case None => _ => true
      case Some(c) =>
        partitionFilePredicate(lake, table, c) match {
          case Some(p) => p
          // not partition-only: try the GROUPED band hybrid
          case None => return rewriteBandGrouped(agg, lr, lake, table, c)
        }
    }
    val groupAttrs = agg.groupingExpressions
      .map(_.asInstanceOf[AttributeReference])
    // group-key types the directory string can be converted to exactly
    if (!groupAttrs.forall(a => a.dataType match {
      case IntegerType | LongType | StringType => true
      case _ => false
    })) return None
    def keyIndex(a: AttributeReference): Option[Int] = {
      val i = groupAttrs.indexWhere(_.exprId == a.exprId)
      if (i < 0) None else Some(i)
    }
    val specs: Seq[Option[Spec]] = agg.aggregateExpressions.map {
      case a: AttributeReference => keyIndex(a).map(GroupKey)
      case Alias(a: AttributeReference, _) => keyIndex(a).map(GroupKey)
      case e => classify(e)
    }
    if (specs.exists(_.isEmpty)) return None
    val flat = specs.flatten
    val cols = flat.collect {
      case CountCol(a) => a.name
      case MinCol(a) => a.name
      case MaxCol(a) => a.name
      case SumCol(a) => a.name
      case AvgCol(a) => a.name
      case NdvCol(a) => a.name
      case QuantileCol(a, _) => a.name
      case TopKCol(a, _) => a.name
    }.distinct
    val rangeCols = flat.collect {
      case MinCol(a) => a.name
      case MaxCol(a) => a.name
    }.toSet
    val sumCols = flat.collect {
      case SumCol(a) => a.name
      case AvgCol(a) => a.name
    }.toSet
    val ndvCols = flat.collect { case NdvCol(a) => a.name }.toSet
    val kllCols = flat.collect { case QuantileCol(a, _) => a.name }.toSet
    val mgCols = flat.collect { case TopKCol(a, _) => a.name }.toSet
    val groups = lake.statsAggregateGroupedIfCovered(session, table,
      groupAttrs.map(_.name), cols, rangeCols, sumCols, ndvCols,
      fileFilter, kllCols, mgCols, countColumnsOf(flat))
      .getOrElse(return None)
    // any group's sum past Long.MaxValue (or avg sum past 2^53):
    // decline the whole rewrite
    val sumOnly = flat.collect { case SumCol(a) => a.name }.toSet
    val avgCols = flat.collect { case AvgCol(a) => a.name }.toSet
    if (!groups.forall { case (_, parts) =>
      sumOnly.forall(c => parts.sums.get(c).forall(_.isValidLong)) &&
        avgCols.forall(c =>
          parts.sums.get(c).forall(_.abs <= MaxExactAvgSum)) &&
        // per-group top-k: every group's merged sketch must be exact
        mgCols.forall(c => parts.mgBlobs.get(c).exists(b =>
          graft.functions.TopKFns.isExact(
            graft.functions.TopKFns.fromBlob(b))))
    }) return None
    // count(DISTINCT tp_date) per group: the manifest's day set keyed
    // by the SAME partition-value projection, provable only when every
    // (filtered) file is day-contained
    val dayCounts: Option[Map[Seq[String], Long]] =
      if (!flat.exists(_.isInstanceOf[DistinctDates])) None
      else lake.distinctDayCounts(session, table,
        f => {
          val pv = lake.partitionValues(lake.relOf(table, f))
          groupAttrs.map(a => pv.getOrElse(a.name, null))
        }, fileFilter) match {
          case None => return None
          case Some(m) => Some(m)
        }
    val rows = groups.map { case (key, parts) =>
      InternalRow.fromSeq(flat.map {
        case GroupKey(i) =>
          dirValueToInternal(key(i), groupAttrs(i).dataType)
        case DistinctDates(_) =>
          Long.box(dayCounts.get.getOrElse(key, 0L))
        case CountStar => parts.nRows
        case CountCol(a) => parts.counts.getOrElse(a.name, 0L)
        case MinCol(a) =>
          CatalystTypeConverters.convertToCatalyst(
            parts.mins.get(a.name).orNull)
        case MaxCol(a) =>
          CatalystTypeConverters.convertToCatalyst(
            parts.maxs.get(a.name).orNull)
        case SumCol(a) =>
          parts.sums.get(a.name).map(s => Long.box(s.toLong)).orNull
        case AvgCol(a) =>
          val n = parts.counts.getOrElse(a.name, 0L)
          if (n == 0L) null
          else parts.sums.get(a.name)
            .map(s => Double.box(s.toDouble / n)).orNull
        case NdvCol(a) => Long.box(parts.ndvs.getOrElse(a.name, 0L))
        case QuantileCol(a, prob) =>
          parts.kllBlobs.get(a.name)
            .flatMap(b =>
              graft.functions.QuantileFns.blobQuantile(b, prob))
            .map(Double.box).orNull
        case TopKCol(a, k) => graft.functions.TopKFns.topKInternal(
          graft.functions.TopKFns.fromBlob(parts.mgBlobs(a.name)), k)
        case Passthrough(v) => v
      })
    }
    logInfo(s"metadata-aggregate GROUPED rewrite fired for lake table " +
      s"'$table': ${groups.size} groups from the manifest+sidecar")
    Some(LocalRelation(agg.aggregateExpressions.map(_.toAttribute), rows))
  }
}

object MetadataAggregateRule {

  private val DayUsC = 86400000000L

  /** Grain + UNDERLYING source attribute of a bucket expression — the
    * classification behind the class's `bucketGrain` and the rewrite
    * target [[BucketFilterBandRule]] needs. Forms: the `tp_date`
    * column itself (day), `date_trunc(grain, tp_timestamp)` for every
    * grain SECOND..YEAR, `cast(tp_timestamp AS date)`, and
    * `trunc(tp_date, fmt)`. Gated on the reader session being exactly
    * UTC ([[TpSchema.isUtcZone]]) and on any zone RESOLVED INTO the
    * expression at analysis being UTC too (r18 ADVICE-low).
    */
  private[lake] def bucketGrainOf(
      session: SparkSession, e: Expression)
      : Option[(BucketGrain, AttributeReference)] = {
    if (!graft.lake.TpSchema.isUtcZone(
      session.sessionState.conf.sessionLocalTimeZone)) return None
    def embeddedUtc(tz: Option[String]): Boolean =
      tz.forall(graft.lake.TpSchema.isUtcZone)
    def months(fmt: org.apache.spark.unsafe.types.UTF8String)
        : Option[BucketGrain] =
      fmt.toString.toUpperCase(java.util.Locale.ROOT) match {
        case "WEEK" => Some(WeekGrain)
        case "MONTH" | "MON" | "MM" => Some(MonthsGrain(1))
        case "QUARTER" => Some(MonthsGrain(3))
        case "YEAR" | "YYYY" | "YY" => Some(MonthsGrain(12))
        case _ => None
      }
    e match {
      case a: AttributeReference
          if a.name == graft.lake.TpSchema.Date &&
            a.dataType == org.apache.spark.sql.types.DateType =>
        Some((FixedGrain(DayUsC), a))
      case TruncTimestamp(
          Literal(fmt: org.apache.spark.unsafe.types.UTF8String,
            StringType),
          ts: AttributeReference, tz)
          if ts.name == graft.lake.TpSchema.Timestamp &&
            ts.dataType == org.apache.spark.sql.types.TimestampType &&
            embeddedUtc(tz) =>
        (fmt.toString.toUpperCase(java.util.Locale.ROOT) match {
          case "DAY" | "DD" => Some(FixedGrain(DayUsC))
          case "HOUR" => Some(FixedGrain(3600000000L))
          case "MINUTE" => Some(FixedGrain(60000000L))
          case "SECOND" => Some(FixedGrain(1000000L))
          case "MILLISECOND" => Some(FixedGrain(1000L))
          case _ => months(fmt)
        }).map(g => (g, ts))
      // `cast(tp_timestamp AS date)` / `to_date(tp_timestamp)` — the
      // third spelling of the day bucket: under UTC the cast is
      // exactly floorDiv(micros, day), the same epoch-day key
      case Cast(ts: AttributeReference,
          org.apache.spark.sql.types.DateType, tz, _)
          if ts.name == graft.lake.TpSchema.Timestamp &&
            ts.dataType == org.apache.spark.sql.types.TimestampType &&
            embeddedUtc(tz) =>
        Some((FixedGrain(DayUsC), ts))
      // `trunc(tp_date, 'MM'/'WEEK'/...)` — the monthly report over
      // the DATE column (DateType key; dates are tz-free, but the
      // file's date derivation still rides the UTC-writer convention,
      // gated at the top)
      case TruncDate(d: AttributeReference,
          Literal(fmt: org.apache.spark.unsafe.types.UTF8String,
            StringType))
          if d.name == graft.lake.TpSchema.Date &&
            d.dataType == org.apache.spark.sql.types.DateType =>
        months(fmt).map(g => (g, d))
      case _ => None
    }
  }

  /** Bucket-FUNCTIONAL grouping expression: grain + underlying source
    * attribute + a function from any instant (micros) WITHIN a bucket
    * of that grain to the expression's Catalyst-internal value — the
    * value is constant across the bucket, so a file whose manifest ts
    * range is bucket-contained puts ALL its rows on one key. Superset
    * of [[bucketGrainOf]] (whose shapes map an instant to the
    * bucket-start key) adding the EXTRACT family:
    *
    *  - `year`/`quarter`/`month` over `tp_timestamp`/`tp_date` —
    *    calendar fields, grains MONTHS(12/3/1). `GROUP BY year(ts),
    *    month(ts)` is the reference's own physical partition layout
    *    (`/root/reference/internal/database/ducklake_table.go:36-44`)
    *    — THE layout-native report.
    *  - `dayofmonth`/`dayofweek`/`weekday` — day-grain profiles (the
    *    day-of-week activity report is scan-free on a day-aligned
    *    lake, i.e. after `compact --align day`)
    *  - `hour`/`minute` — fixed-width time-of-day profiles (serve
    *    only when files are hour/minute-contained; decline to the
    *    scan otherwise, which is the correct answer for typical file
    *    layouts)
    *
    * Same UTC gates as [[bucketGrainOf]]: the session must be exactly
    * UTC and any zone resolved into a cast/extract at analysis must
    * normalize to UTC.
    */
  private def embeddedUtcZone(tz: Option[String]): Boolean =
    tz.forall(graft.lake.TpSchema.isUtcZone)

  /** tp_date attr, or cast(tp_timestamp AS date) under UTC — the two
    * date-typed spellings the extract functions get analyzed onto.
    */
  private def dateSrcOf(c: Expression): Option[AttributeReference] =
    c match {
      case a: AttributeReference
          if a.name == graft.lake.TpSchema.Date &&
            a.dataType == org.apache.spark.sql.types.DateType =>
        Some(a)
      case Cast(ts: AttributeReference,
          org.apache.spark.sql.types.DateType, tz, _)
          if ts.name == graft.lake.TpSchema.Timestamp &&
            ts.dataType == org.apache.spark.sql.types.TimestampType &&
            embeddedUtcZone(tz) =>
        Some(ts)
      case _ => None
    }

  /** `year(tp_timestamp/tp_date)` — the ONE extract monotone in
    * micros, so its comparisons fold into exact time bands (the
    * archive filter `WHERE year(ts) = 2024`). Only calendar years
    * 0..9999 fold — anything else declines rather than risking micros
    * overflow in the bucket-start arithmetic.
    */
  private[lake] def yearExtractSrcOf(
      session: SparkSession, e: Expression)
      : Option[AttributeReference] = {
    if (!graft.lake.TpSchema.isUtcZone(
      session.sessionState.conf.sessionLocalTimeZone)) return None
    e match {
      case Year(c) => dateSrcOf(c)
      case _ => None
    }
  }

  private[lake] def bucketValueOf(
      session: SparkSession, e: Expression)
      : Option[(BucketGrain, AttributeReference, Long => Any)] = {
    if (!graft.lake.TpSchema.isUtcZone(
      session.sessionState.conf.sessionLocalTimeZone)) return None
    def embeddedUtc(tz: Option[String]): Boolean = embeddedUtcZone(tz)
    def dateSrc(c: Expression): Option[AttributeReference] = dateSrcOf(c)
    def tsSrc(c: Expression): Option[AttributeReference] = c match {
      case ts: AttributeReference
          if ts.name == graft.lake.TpSchema.Timestamp &&
            ts.dataType == org.apache.spark.sql.types.TimestampType =>
        Some(ts)
      case _ => None
    }
    def utcDate(us: Long): java.time.LocalDate =
      java.time.LocalDate.ofEpochDay(Math.floorDiv(us, DayUsC))
    val DayGrain = FixedGrain(DayUsC)
    e match {
      case Year(c) => dateSrc(c).map(src =>
        (MonthsGrain(12), src, (us: Long) => utcDate(us).getYear))
      case Quarter(c) => dateSrc(c).map(src =>
        (MonthsGrain(3), src,
          (us: Long) => (utcDate(us).getMonthValue - 1) / 3 + 1))
      case Month(c) => dateSrc(c).map(src =>
        (MonthsGrain(1), src, (us: Long) => utcDate(us).getMonthValue))
      case DayOfMonth(c) => dateSrc(c).map(src =>
        (DayGrain, src, (us: Long) => utcDate(us).getDayOfMonth))
      // Spark dayofweek: 1=Sunday..7=Saturday; epoch day 0 = Thursday
      case DayOfWeek(c) => dateSrc(c).map(src =>
        (DayGrain, src, (us: Long) =>
          (Math.floorMod(Math.floorDiv(us, DayUsC) + 4, 7) + 1).toInt))
      // Spark weekday: 0=Monday..6=Sunday
      case WeekDay(c) => dateSrc(c).map(src =>
        (DayGrain, src, (us: Long) =>
          Math.floorMod(Math.floorDiv(us, DayUsC) + 3, 7).toInt))
      case Hour(c, tz) if embeddedUtc(tz) => tsSrc(c).map(src =>
        (FixedGrain(3600000000L), src, (us: Long) =>
          Math.floorMod(Math.floorDiv(us, 3600000000L), 24).toInt))
      case Minute(c, tz) if embeddedUtc(tz) => tsSrc(c).map(src =>
        (FixedGrain(60000000L), src, (us: Long) =>
          Math.floorMod(Math.floorDiv(us, 60000000L), 60).toInt))
      case _ => bucketGrainOf(session, e).map { case (g, src) =>
        (g, src, (us: Long) => g.internalKey(e.dataType, g.idOf(us)))
      }
    }
  }

  /** Does every `a`-bucket lie entirely inside a single `b`-bucket?
    * When true, a key functional over `b`-buckets is derivable from an
    * `a`-bucket id via any instant of the `a`-bucket — the refinement
    * that lets one containment grain serve several grouping keys
    * (`GROUP BY year(ts), month(ts)` contains on MONTH and derives the
    * year from the month start). Fixed widths are all anchored at
    * epoch 0; weeks at Monday (day multiples); months at midnight UTC
    * — so a sub-day fixed width refines weeks and months, but weeks
    * and months never refine each other.
    */
  private[lake] def refines(a: BucketGrain, b: BucketGrain): Boolean =
    (a, b) match {
      case (x, y) if x == y => true
      case (FixedGrain(w1), FixedGrain(w2)) => w2 % w1 == 0
      case (FixedGrain(w), WeekGrain) => DayUsC % w == 0
      case (FixedGrain(w), MonthsGrain(_)) => DayUsC % w == 0
      case (MonthsGrain(m1), MonthsGrain(m2)) => m2 % m1 == 0
      case _ => false
    }

  /** A time-bucket grain as a pair of functions over Catalyst micros.
    * `idOf` MUST be monotone non-decreasing in micros — that is the
    * whole containment proof: `idOf(min_ts) == idOf(max_ts)` then
    * proves every row of a file shares the file's bucket, for calendar
    * grains exactly as for fixed widths (the r18 implementation
    * modeled only fixed `floorDiv` widths; months/years aren't fixed
    * width but their bucket IDs are still monotone). `startUs` inverts
    * an ID to its bucket-start instant — the value `date_trunc`
    * produces row-level for every member row under UTC, so metadata
    * keys and straddler-scan keys meet in the final GROUP BY.
    */
  private[lake] sealed trait BucketGrain {
    /** micros → bucket id (monotone non-decreasing). */
    def idOf(us: Long): Long
    /** bucket id → bucket-start micros (UTC). */
    def startUs(id: Long): Long
    /** Catalyst-internal group-key value: epoch days for a DateType
      * key (day-grain `tp_date` / `cast AS date` — start is always a
      * day multiple there), bucket-start micros for TimestampType.
      */
    final def internalKey(
        dt: org.apache.spark.sql.types.DataType, id: Long): Any =
      dt match {
        case org.apache.spark.sql.types.DateType =>
          Math.floorDiv(startUs(id), DayUsC).toInt
        case _ => startUs(id)
      }
  }

  /** DAY/HOUR/MINUTE/SECOND/MILLISECOND: pure `floorDiv` widths. */
  private[lake] final case class FixedGrain(widthUs: Long)
      extends BucketGrain {
    override def idOf(us: Long): Long = Math.floorDiv(us, widthUs)
    override def startUs(id: Long): Long = id * widthUs
  }

  /** WEEK: fixed 7-day width anchored to Monday (epoch day 0 =
    * Thursday 1970-01-01; `date_trunc('week', …)` truncates to Monday
    * in both Spark and ANSI engines, so week 0 starts Monday
    * 1969-12-29 = epoch day −3).
    */
  private[lake] case object WeekGrain extends BucketGrain {
    override def idOf(us: Long): Long =
      Math.floorDiv(Math.floorDiv(us, DayUsC) + 3, 7)
    override def startUs(id: Long): Long = (7 * id - 3) * DayUsC
  }

  /** MONTH/QUARTER/YEAR as `monthsPer` ∈ {1, 3, 12}: bucket id =
    * `floorDiv(year·12 + month−1, monthsPer)` of the instant's UTC
    * calendar date — monotone because the month index is, and exact
    * through `java.time`'s proleptic-Gregorian calendar (the same one
    * Spark 3+/Parquet use).
    */
  private[lake] final case class MonthsGrain(monthsPer: Int)
      extends BucketGrain {
    override def idOf(us: Long): Long = {
      val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(us, DayUsC))
      Math.floorDiv(d.getYear.toLong * 12 + (d.getMonthValue - 1),
        monthsPer.toLong)
    }
    override def startUs(id: Long): Long = {
      val months = id * monthsPer
      val y = Math.floorDiv(months, 12L).toInt
      val m = Math.floorMod(months, 12L).toInt + 1
      java.time.LocalDate.of(y, m, 1).toEpochDay * DayUsC
    }
  }

  private sealed trait Spec
  private case object CountStar extends Spec
  private final case class CountCol(a: AttributeReference) extends Spec
  private final case class MinCol(a: AttributeReference) extends Spec
  private final case class MaxCol(a: AttributeReference) extends Spec
  private final case class SumCol(a: AttributeReference) extends Spec
  private final case class AvgCol(a: AttributeReference) extends Spec
  private final case class NdvCol(a: AttributeReference) extends Spec
  private final case class QuantileCol(
      a: AttributeReference, p: Double) extends Spec

  /** Exactness bound for serving `avg`: with |exact sum| <= 2^53 the
    * BigInt→double conversion is lossless and any per-row double
    * accumulation of the same-signed values is too, so the metadata
    * quotient bit-matches a scan's. Past it the rule declines.
    */
  private val MaxExactAvgSum: BigInt = BigInt(1) << 53
  private final case class Passthrough(value: Any) extends Spec
  private final case class GroupKey(i: Int) extends Spec
  /** `count(DISTINCT tp_date)` answered from the manifest's per-file
    * day set when every file is day-contained (r18 verdict task 6).
    */
  private final case class DistinctDates(a: AttributeReference)
      extends Spec
  /** An output functionally derived from group keys only (cast of the
    * bucket, `year(tp_date)`, ...): served by key substitution.
    */
  private final case class GroupDerived(e: Expression) extends Spec
  /** `graft_topk(c, k)` — the frequent-items "top talkers" report,
    * served by merging the sidecar's per-file sketches when the merge
    * stays provably EXACT (no eviction anywhere — TopKFns.isExact).
    */
  private final case class TopKCol(a: AttributeReference, k: Int)
      extends Spec

  /** Idempotent per-session install into
    * `spark.experimental.extraOptimizations` — the embedded/library
    * twin of the `spark.sql.extensions` deployment in GraftExtensions.
    * Called from `Views.register`, so every session that registers
    * lake views gets the rewrite.
    */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[BucketFilterBandRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          BucketFilterBandRule(spark)
    if (!spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[MetadataAggregateRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          MetadataAggregateRule(spark)
  }
}

/** Rewrite bucket-expression comparisons in WHERE clauses into
  * equivalent bands on the UNDERLYING time column, so the plain SCAN
  * path — not just the aggregate rewrite — gets parquet row-group
  * skipping and [[ZoneMapFileIndex]] file pruning for the
  * report-for-month-X filter shape: `SELECT * FROM t WHERE
  * date_trunc('MONTH', tp_timestamp) = TIMESTAMP 'v'` becomes
  * `tp_timestamp BETWEEN start AND next-start − 1µs`, which pushes
  * down like any band. Catalyst's own UnwrapCastInBinaryComparison
  * does the analogous move for casts; nothing built-in unwraps
  * truncation.
  *
  * Every replacement is NULL-SEMANTICS-EXACT as a scalar expression
  * (null source → null comparison on both sides; equality to a
  * non-bucket-start becomes the unsatisfiable band `src >= 1 AND src
  * <= 0`, false for non-null and null for null), so rewriting inside
  * arbitrary boolean structure — NOT, OR, CASE — is sound, and the
  * rule transforms whole Filter conditions, not just top-level
  * conjuncts. Gated like every bucket fold on the session (and any
  * analysis-resolved zone) being exactly UTC, via
  * [[MetadataAggregateRule.bucketGrainOf]].
  */
final case class BucketFilterBandRule(session: SparkSession)
  extends Rule[LogicalPlan] {

  import MetadataAggregateRule._

  private val DayUs = 86400000000L

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f: Filter =>
      val nc = f.condition.transformUp {
        case cmp: BinaryComparison => foldCmp(cmp).getOrElse(cmp)
        // IN-lists are OR-of-equalities; folding each member keeps
        // null-exactness (null source → every member null → OR null)
        case in @ In(e, lits) if lits.forall(_.isInstanceOf[Literal]) =>
          foldIn(in, e, lits.map(_.asInstanceOf[Literal]))
        case in @ InSet(e, hset) =>
          foldIn(in, e,
            hset.toSeq.map(v => Literal(v, e.dataType)))
      }
      if (nc fastEquals f.condition) f else f.copy(condition = nc)
  }

  private def foldIn(orig: Expression, e: Expression,
      lits: Seq[Literal]): Expression = {
    if (lits.isEmpty) return orig
    val folded = lits.map(l => foldCmp(EqualTo(e, l)))
    if (folded.exists(_.isEmpty)) orig
    else folded.flatten.reduce(Or)
  }

  private def foldCmp(cmp: BinaryComparison): Option[Expression] = {
    val (e, l, flip) = (cmp.left, cmp.right) match {
      case (b, lit: Literal) => (b, lit, false)
      case (lit: Literal, b) => (b, lit, true)
      case _ => return None
    }
    // bare attrs are already optimal (and pushable) as-is
    if (e.isInstanceOf[AttributeReference]) return None
    // two foldable families: bucket expressions (literal in the
    // expression's own type, any alignment) and the YEAR extract
    // (integer literal = an always-aligned YEAR bucket id — the
    // archive filter `WHERE year(ts) = 2024`)
    val (g, src, id, aligned): (BucketGrain, AttributeReference, Long,
        Boolean) = bucketGrainOf(session, e) match {
      case Some((g0, src0)) =>
        val vUs: Long = (e.dataType, l.dataType) match {
          case (org.apache.spark.sql.types.TimestampType,
              org.apache.spark.sql.types.TimestampType)
              if l.value != null =>
            l.value.asInstanceOf[Long]
          case (org.apache.spark.sql.types.DateType,
              org.apache.spark.sql.types.DateType) if l.value != null =>
            l.value.asInstanceOf[Int].toLong * DayUs
          case _ => return None
        }
        val id0 = g0.idOf(vUs)
        (g0, src0, id0, g0.startUs(id0) == vUs)
      case None =>
        val src0 = yearExtractSrcOf(session, e).getOrElse(return None)
        val y = l.dataType match {
          case IntegerType if l.value != null =>
            l.value.asInstanceOf[Int]
          case _ => return None
        }
        if (y < 0 || y > 9999) return None
        (MonthsGrain(12), src0, y.toLong, true)
    }
    val op = cmp match {
      case _: GreaterThanOrEqual => if (flip) "le" else "ge"
      case _: GreaterThan => if (flip) "lt" else "gt"
      case _: LessThanOrEqual => if (flip) "ge" else "le"
      case _: LessThan => if (flip) "gt" else "lt"
      case _: EqualTo => "eq"
      // EqualNullSafe: `trunc(ts) <=> lit` is FALSE (not null) for a
      // null ts — a band comparison can't express that; decline
      case _ => return None
    }
    val ceil = if (aligned) id else id + 1
    // bounds restated in the SOURCE attribute's units; bucket starts
    // are day multiples for DateType sources, and an exclusive micros
    // bound maps to day floorDiv (date values are whole days)
    def litOf(us: Long): Expression = src.dataType match {
      case org.apache.spark.sql.types.DateType =>
        Literal(Math.floorDiv(us, DayUs).toInt,
          org.apache.spark.sql.types.DateType)
      case _ =>
        Literal(us, org.apache.spark.sql.types.TimestampType)
    }
    def ge(us: Long) = GreaterThanOrEqual(src, litOf(us))
    def le(us: Long) = LessThanOrEqual(src, litOf(us))
    val folded = op match {
      // trunc(src) >= v  ⇔  src >= first bucket start >= v
      case "ge" => ge(g.startUs(ceil))
      case "gt" => ge(g.startUs(id + 1))
      case "le" => le(g.startUs(id + 1) - 1)
      case "lt" => le(g.startUs(ceil) - 1)
      case "eq" =>
        if (aligned) And(ge(g.startUs(id)), le(g.startUs(id + 1) - 1))
        // no instant truncates to a non-start: unsatisfiable, but the
        // null case must stay null — an always-false BAND does both
        else And(GreaterThanOrEqual(src, litOf(DayUs)),
          LessThanOrEqual(src, litOf(0L)))
    }
    logInfo(s"bucket-filter band fold: ${cmp.sql} -> ${folded.sql}")
    Some(folded)
  }
}

