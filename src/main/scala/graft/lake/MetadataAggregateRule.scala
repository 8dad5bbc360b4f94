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

/** Answer aggregate SQL from lake metadata, so a user typing
  * `SELECT count(*), max(value) FROM t` against a registered view, or
  * `graft table aggregate t` (the same aggregates as DataFrames over
  * the table's relation), gets the manifest+sidecar answer with ZERO
  * data-file reads. Spark's own
  * `OptimizeMetadataOnlyQuery` serves only partition-column aggregates
  * from listings; Delta rewrites count/min/max from its transaction
  * log the same way this rule does from the `_graft_colstats` sidecar.
  *
  * Every served query shape — whole table, partition-only WHERE,
  * GROUP BY partition columns, tp_timestamp/tp_date bands (OR-of-bands
  * and IN-lists too), time-bucket keys (`tp_date`, `date_trunc`,
  * `cast(ts AS date)`, the `year`/`month`/... extracts), and each
  * combined — is one instance of a small algebra, rewritten by ONE
  * path in three steps:
  *
  *  1. '''Shape''' ([[shapeOf]]): one pass over the Aggregate's child
  *     down to a whole-table [[ZoneMapFileIndex]] relation through
  *     column-pruning projections, filters and the optimizer's pulled-
  *     out `_groupingexpression` bucket aliases. It yields the lake
  *     table; the grouping keys (partition columns plus at most one
  *     bucket grain that refines every bucket key); the output specs;
  *     the time predicate as a disjoint band set (None = none); and
  *     the partition-only file filter. Anything else keeps the plan.
  *  2. '''Parts''' ([[Lake.metaParts]]): per (bucket, partition-key)
  *     metadata partials over the files the manifest and sidecar
  *     answer exactly — inside one band and one bucket, null-ts-free,
  *     every needed statistic present — plus the files left to scan.
  *     A file's null-ts-free proof is a recorded manifest fact (its
  *     `ts_nulls`, from the parquet footer at write time), so band and
  *     bucket shapes need no `tp_timestamp` colstats; manifest rows
  *     written before that field fall back to the sidecar's count.
  *  3. '''Plan''': one set of value gates over every partial, then
  *     either the final [[LocalRelation]] (nothing left to scan,
  *     injective keys), or a hybrid — a [[Union]] of metadata slot rows
  *     and the rows of a relation holding only the straddling files
  *     (the original filter still applied row-level) in slot form,
  *     under ONE merge Aggregate carrying the original output attribute
  *     ids (sketch outputs aggregate the straddlers first) — or a
  *     decline to the normal plan.
  *  4. '''Driver-side finish''' ([[foldOnDriver]]): a global ORDER BY
  *     over a served relation sorts its rows on the driver, and the
  *     Project/Filter/LIMIT above fold into it, so a served dashboard
  *     query with ORDER BY ... LIMIT plans a bare local scan and runs
  *     no Spark job.
  *
  * Served aggregates: `count(*)`/`count(c)`; `min`/`max` (integral
  * under 2^53, float/double in total order, strings in UTF8-byte
  * order, `tp_timestamp`/`tp_date` from the manifest ts range on every
  * table); `sum` of integral columns (exact BigInt merge, declines past
  * Long.MaxValue); `avg` of integral columns (exact sum / count, one
  * double division, declines past 2^53); `ndv` and `graft_quantile`
  * (per-file HLL/KLL sketch unions, merged as sketch bytes in a
  * hybrid); and, only when metadata answers everything,
  * `graft_topk` (exact-regime merge), `count(DISTINCT tp_date)` and
  * literal outputs. Outputs derived from bucket keys alone are served
  * by key substitution. A hybrid avg is gated on its MERGED total: the
  * metadata sum plus, over the straddlers, rows × max(|min|, |max|)
  * from their zone maps must stay within 2^53.
  *
  * A hybrid is allowed only under a time band or a bucket key; a
  * whole-table or partition-grouped shape with any uncovered file
  * declines, since the zone-map scan is then already the plain plan.
  * A `--from/--to` view is the same whole-table relation under the
  * window predicate, so its aggregates are bands like any other.
  * The probe reads the table's cached metadata snapshot in-process (no
  * Spark job) and runs only after the full structural match, so
  * non-candidate queries pay a pattern match and nothing else. Every
  * candidate logs one line: `served`, `hybrid: N contained, M
  * straddlers`, or `declined: <reason>`. The qi28–qi55 oracles gate
  * exactness against DuckDB recomputing from raw rows.
  */
final case class MetadataAggregateRule(session: SparkSession)
  extends Rule[LogicalPlan] {

  import MetadataAggregateRule._

  private val DayUs = 86400000000L

  override def apply(plan: LogicalPlan): LogicalPlan =
    foldOnDriver(plan.transformDown { case agg: Aggregate => decide(agg) })

  /** Evaluate the operators right above a served [[LocalRelation]] on
    * the driver, so the answer is planned as a bare local scan: a
    * global Sort with a deterministic order becomes a sorted relation,
    * and Spark's own `ConvertToLocalRelation` folds the Project,
    * Filter and Limit over it. Without this an ORDER BY over a few
    * served rows plans a range shuffle and runs Spark jobs. The
    * optimizer ran those folds before this rule, so it would not fold
    * these itself. Rows are few (one per group), so the ordering is
    * interpreted: no code generation for a handful of rows.
    */
  private def foldOnDriver(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case Sort(order, true, l: LocalRelation, _)
          if isServed(l) && order.forall(o => evaluable(o.child)) =>
        val ord = new InterpretedOrdering(order, l.output)
        served(l.copy(data = l.data.sorted(ord)))
      case p @ Project(_, l: LocalRelation) if isServed(l) =>
        servedIfLocal(org.apache.spark.sql.catalyst.optimizer
          .ConvertToLocalRelation(p))
      case f @ Filter(_, l: LocalRelation) if isServed(l) =>
        servedIfLocal(org.apache.spark.sql.catalyst.optimizer
          .ConvertToLocalRelation(f))
      case g @ GlobalLimit(_, LocalLimit(_, l: LocalRelation))
          if isServed(l) =>
        servedIfLocal(org.apache.spark.sql.catalyst.optimizer
          .ConvertToLocalRelation(g))
    }

  private def isServed(l: LocalRelation): Boolean =
    l.getTagValue(ServedTag).isDefined

  private def served(l: LocalRelation): LocalRelation = {
    l.setTagValue(ServedTag, ())
    l
  }

  private def servedIfLocal(p: LogicalPlan): LogicalPlan = p match {
    case l: LocalRelation => served(l)
    case other => other
  }

  /** An expression the driver can evaluate over the served rows. */
  private def evaluable(e: Expression): Boolean =
    e.deterministic && !e.exists {
      case _: AttributeReference => false
      case x => x.isInstanceOf[Unevaluable] || x.isInstanceOf[PlanExpression[_]]
    }

  /** The single entry point: shape, then rewrite, with one decision
    * log line per candidate. An OPTIONAL rewrite must never fail a
    * query that would run fine unrewritten, so any failure (an
    * unevaluable shape, a transient metadata I/O error) falls open to
    * the original plan (r16 ADVICE-high).
    */
  private def decide(agg: Aggregate): LogicalPlan =
    try shapeOf(agg) match {
      case None => agg
      case Some(shape) =>
        val (out, decision) =
          rewrite(agg, shape).fold(r => (agg, s"declined: $r"), identity)
        logInfo(s"metadata aggregate on '${shape.table}': $decision")
        out
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"metadata aggregate declined on error: ${e.getMessage}")
        agg
    }

  /** Bucket grain of a time-bucket expression, or None when `e` isn't
    * one this rule can serve ([[MetadataAggregateRule.bucketGrainOf]]):
    * `tp_date`, `date_trunc(grain, tp_timestamp)` for every grain
    * MILLISECOND..YEAR, `cast(tp_timestamp AS date)`, `trunc(tp_date,
    * fmt)`. Containment never needs a fixed width — only a bucket id
    * function MONOTONE in micros, so `idOf(min_ts) == idOf(max_ts)`
    * proves every row of a file shares the bucket. All forms are gated
    * on the reader session being UTC and on any zone resolved into
    * the expression at analysis being UTC too (r18 ADVICE-low): the
    * straddler scan would otherwise truncate in another zone than the
    * metadata side.
    */
  private def bucketGrain(e: Expression): Option[BucketGrain] =
    MetadataAggregateRule.bucketGrainOf(session, e).map(_._1)

  /** Bucket-FUNCTIONAL grouping key: grain + a bucket-instant → key
    * value function ([[MetadataAggregateRule.bucketValueOf]]), adding
    * the extract family (`year`/`quarter`/`month`/`dayofmonth`/
    * `dayofweek`/`weekday`/`hour`/`minute`) to [[bucketGrain]].
    */
  private def bucketValue(e: Expression): Option[(BucketGrain, Long => Any)] =
    MetadataAggregateRule.bucketValueOf(session, e).map(t => (t._1, t._3))

  /** Descend through alias/view wrappers, Filters (their AND-folded
    * condition is returned), PURE column-pruning projections and
    * projections whose other entries are bucket-grain aliases — the
    * optimizer's PullOutGroupingExpressions materializes
    * `date_trunc(...)` as a `_groupingexpression` column in exactly
    * such a Project — to the relation; anything else disqualifies.
    * An alias whose NAME shadows a column of its child disqualifies
    * too (r18 ADVICE-medium). Returns the alias bindings so grouping
    * attributes resolve back to their bucket expressions.
    */
  private def unwrap(p: LogicalPlan): Option[
      (LogicalRelation, Option[Expression], Map[ExprId, Expression])] =
    p match {
      case s: SubqueryAlias => unwrap(s.child)
      case v: View => unwrap(v.child)
      case f: Filter => unwrap(f.child).map { case (lr, c, m) =>
        (lr, Some(c.map(And(f.condition, _)).getOrElse(f.condition)), m)
      }
      case pr: Project
          if pr.projectList.forall {
            case _: AttributeReference => true
            case al: Alias => bucketValue(al.child).isDefined &&
              !pr.child.output.exists(_.name == al.name)
            case _ => false
          } =>
        unwrap(pr.child).map { case (lr, c, m) =>
          (lr, c, m ++ pr.projectList.collect {
            case al: Alias => al.exprId -> al.child
          })
        }
      case lr: LogicalRelation => Some((lr, None, Map.empty))
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
    if (!attrs.forall(isPartitionKey)) return None
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

  /** A physical partition column whose directory string converts to
    * its value exactly.
    */
  private def isPartitionKey(a: AttributeReference): Boolean =
    graft.lake.TpSchema.partitionCols.contains(a.name) &&
      (a.dataType match {
        case IntegerType | LongType | StringType => true
        case _ => false
      })

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

  /** Explain-lint probe: the columns to enable stats on when the
    * OPTIMIZED plan still holds an Aggregate whose shape the rule
    * accepts — i.e. the rule declined it (missing sidecar coverage,
    * unrecorded files, a bound past 2^53) — so `.explain` can tell the
    * user what to enable. A served aggregate is gone from the plan, and
    * a hybrid's merge and partial Aggregates have no lake relation
    * under them, so neither lints.
    */
  private[graft] def missedCandidate(
      plan: LogicalPlan): Option[Seq[String]] =
    plan.collectFirst(Function.unlift {
      case agg: Aggregate => shapeOf(agg).map { s =>
        (s.specs.collect {
          // the distinct-day proof rides the manifest's ts ranges
          case DistinctDates(_) => graft.lake.TpSchema.Timestamp
          case c: ColSpec => c.a.name
        } ++ (if (s.hybridOk) Seq(graft.lake.TpSchema.Timestamp) else Nil))
          .distinct
      }
      case _ => None
    })

  /** Step 1: the aggregate as a [[Shape]], or None when it is not one
    * the rule can answer. Pure: reads no metadata.
    */
  private def shapeOf(agg: Aggregate): Option[Shape] = {
    val (lr, cond, aliases) = unwrap(agg.child).getOrElse(return None)
    val (lake, table) = (lr.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case z: ZoneMapFileIndex => Some(z.owner)
        case _ => None
      }
      case _ => None
    }).getOrElse(return None)
    val grouping = agg.groupingExpressions
    val keys: Seq[Key] = grouping.map { g =>
      val e = g match {
        case a: AttributeReference => aliases.getOrElse(a.exprId, a)
        case x => x
      }
      bucketValue(e) match {
        case Some((gr, valueOf)) => BucketKey(gr, valueOf)
        case None => g match {
          case a: AttributeReference if isPartitionKey(a) => PartKey(a)
          case _ => return None
        }
      }
    }
    // bucket keys contain on the FINEST grain present — one whose
    // buckets refine every other key's (`year(ts), month(ts)` contains
    // on MONTH); none (week × month) means no containment proof
    val grains = keys.collect { case BucketKey(gr, _) => gr }
    val grain =
      if (grains.isEmpty) None
      else Some(grains.find(a => grains.forall(refines(a, _)))
        .getOrElse(return None))
    val (bands, partCond) = cond match {
      case None => (None, None)
      case Some(c) =>
        val (bs, nBand, rest) = splitBands(c).getOrElse(return None)
        if (nBand > 0) {
          if (bs.isEmpty) return None // contradictory band
          (Some(bs), rest)
        }
        // splitBands drops band-neutral IS NOT NULL conjuncts from
        // `rest`; only a bucket key's null-ts-free containment implies
        // them, so elsewhere the whole condition must be partition-only
        else (None, if (grain.isDefined) rest else Some(c))
    }
    val fileFilter: String => Boolean = partCond match {
      case None => _ => true
      case Some(pc) =>
        partitionFilePredicate(lake, table, pc).getOrElse(return None)
    }
    def keyIndex(e: Expression): Option[Int] = {
      val i = grouping.indexWhere(_.semanticEquals(e))
      if (i < 0) None else Some(i)
    }
    // an output DERIVED from bucket-shaped group keys only —
    // `cast(day_bucket AS date)`, `year(tp_date)` — is served by
    // substituting the key into the expression. Deterministic,
    // aggregate-free, evaluable once keys are substituted, references
    // ⊆ grouping attrs.
    def derivedKey(al: Alias): Option[Spec] = {
      val e = al.child
      if (grain.isEmpty || !e.deterministic || e.references.isEmpty)
        return None
      if (e.find(x => x.isInstanceOf[AggregateExpression] ||
        x.isInstanceOf[PlanExpression[_]] ||
        (x.isInstanceOf[Unevaluable] &&
          !x.isInstanceOf[AttributeReference])).isDefined) return None
      if (!e.references.toSeq.forall {
        case a: AttributeReference => keyIndex(a).isDefined
        case _ => false
      }) return None
      Some(GroupDerived(e))
    }
    val specs: Seq[Spec] = agg.aggregateExpressions.map {
      case a: AttributeReference => keyIndex(a).map(GroupKey)
      case al @ Alias(child, _) =>
        keyIndex(child).map(GroupKey)
          .orElse(classify(al)).orElse(derivedKey(al))
      case _ => None
    }.map(_.getOrElse(return None))
    // value specs read the RELATION's own columns, never an alias
    // that merely carries a column's name
    val relIds = lr.output.map(_.exprId).toSet
    if (!specs.forall {
      case c: ColSpec => relIds(c.a.exprId)
      case _ => true
    }) return None
    val shape =
      Shape(lr, lake, table, keys, grain, specs, bands, fileFilter)
    // specs with no union slot answer only when the metadata answers
    // everything: literal and top-k outputs never under a band or a
    // bucket key, and a distinct-day count only ungrouped under a band
    if (specs.exists {
      case _: Passthrough | _: TopKCol => shape.hybridOk
      case _: DistinctDates =>
        grain.isDefined || (bands.isDefined && keys.nonEmpty)
      case _ => false
    }) return None
    Some(shape)
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
    // declined per file in Lake.distinctDayCounts. UTC-gated like
    // every tp_date derivation.
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

  /** Steps 2 and 3: the metadata parts, the value gates, and the plan
    * — Right(plan, decision) or Left(why the rule declines).
    */
  private def rewrite(agg: Aggregate, s: Shape)
      : Either[String, (LogicalPlan, String)] = {
    import scala.util.{Left, Right} // not Catalyst's string functions
    val lake = s.lake
    val partNames = s.keys.collect { case PartKey(a) => a.name }
    val groupOf: String => Seq[String] = f => {
      val pv = lake.partitionValues(lake.relOf(s.table, f))
      partNames.map(pv.getOrElse(_, null))
    }
    val parts = lake.metaParts(session, s.table, needsOf(s.specs),
      s.bands, s.grain.map(g => g.idOf _), groupOf, s.fileFilter,
      Some(s.lr.schema))
      .getOrElse(return Left("no data, or a column the table lacks"))
    if (!s.hybridOk && parts.toScan.nonEmpty)
      return Left(s"${parts.toScan.size} files not covered by metadata")
    if (s.hybridOk && parts.contained == 0)
      return Left("no file answers from metadata")
    // an ungrouped answer is one row even when no file answered
    val groups: Seq[(Lake.PartsKey, Lake.StatsAggParts)] =
      if (s.keys.isEmpty) Seq(((None, Nil), parts.whole))
      else parts.groups.toSeq
    val gateFailure = s.specs.collectFirst {
      case SumCol(a) if groups.exists(
          _._2.sums.get(a.name).exists(!_.isValidLong)) =>
        s"sum(${a.name}) has no exact BIGINT value"
      // past 2^53 the exact sum's double loses losslessness; a
      // hybrid's merged total adds at most the straddlers' zone bound
      // to each group's metadata sum
      case AvgCol(a) if parts.scanBounds.get(a.name).exists(_.isEmpty) =>
        s"avg(${a.name}) has a straddler without a zone"
      case AvgCol(a) if groups.exists(_._2.sums.getOrElse(a.name, BigInt(0))
          .abs + parts.scanBounds.get(a.name).flatten.getOrElse(BigInt(0)) >
          MaxExactAvgSum) =>
        s"avg(${a.name}) sums past 2^53"
      // top-k: the MERGED sketch must be provably exact (no eviction)
      case TopKCol(a, _) if groups.exists(g => !g._2.mgBlobs.get(a.name)
          .exists(b => graft.functions.TopKFns.isExact(
            graft.functions.TopKFns.fromBlob(b)))) =>
        s"graft_topk(${a.name}) is not exact"
    }
    gateFailure.foreach(r => return Left(r))
    val days: Map[Seq[String], Long] =
      if (!s.specs.exists(_.isInstanceOf[DistinctDates])) Map.empty
      else lake.distinctDayCounts(session, s.table, s.bands, groupOf,
        s.fileFilter).getOrElse(return Left("active days not provable"))

    val grouping = agg.groupingExpressions
    def keyIndex(a: AttributeReference): Option[Int] = {
      val i = grouping.indexWhere(_.semanticEquals(a))
      if (i < 0) None else Some(i)
    }
    // each bucket key's value from the containment bucket's START
    // instant — constant across the bucket by the refinement gate
    def keyValues(key: Lake.PartsKey): Seq[Any] = {
      val dirs = key._2.iterator
      s.keys.map {
        case BucketKey(_, valueOf) => valueOf(s.grain.get.startUs(key._1.get))
        case PartKey(a) => dirValueToInternal(dirs.next(), a.dataType)
      }
    }
    val keyed = groups.map { case (key, p) => (keyValues(key), key._2, p) }
    // bucket id → key can be NON-injective for extract keys (two hour
    // buckets on different days share one hour-of-day): then even a
    // fully-contained answer needs the merge aggregate
    val injective = keyed.map(_._1).distinct.size == keyed.size

    if (parts.toScan.isEmpty && injective) {
      val rows = keyed.map { case (kv, partVals, p) =>
        InternalRow.fromSeq(s.specs.map {
          case GroupKey(i) => kv(i)
          // keys become Literals, then one driver-side eval
          case GroupDerived(e) => e.transform {
            case a: AttributeReference if keyIndex(a).isDefined =>
              val i = keyIndex(a).get
              Literal(kv(i), grouping(i).dataType)
          }.eval(null)
          case DistinctDates(_) => Long.box(days.getOrElse(partVals, 0L))
          case sp => metaFinalValue(p, sp)
        })
      }
      return Right((served(LocalRelation(agg.output, rows)), "served"))
    }
    val valueSpecs = s.specs.filterNot(sp =>
      sp.isInstanceOf[GroupKey] || sp.isInstanceOf[GroupDerived])
    if (!s.hybridOk || valueSpecs.exists(slotTypesOf(_).isEmpty))
      return Left("the answer needs a merge this shape cannot build")

    // local side: key slots in grouping order, then value slots (avg
    // spans two — an exact decimal sum and a count)
    val nKeys = grouping.size
    val keySlots = grouping.zipWithIndex.map { case (g, i) =>
      AttributeReference(s"_mk_$i", g.dataType)()
    }
    val valSlotGroups: Seq[Seq[AttributeReference]] =
      valueSpecs.zipWithIndex.map { case (sp, i) =>
        slotTypesOf(sp).zipWithIndex.map { case (dt, j) =>
          AttributeReference(s"_mv_${i}_$j", dt)()
        }
      }
    val local = LocalRelation(keySlots ++ valSlotGroups.flatten,
      keyed.map { case (kv, _, p) =>
        InternalRow.fromSeq(kv ++ valueSpecs.flatMap(metaSlotValues(p, _)))
      })

    // straddler side: the ORIGINAL grouping expressions over a relation
    // holding only the files left to scan, the original Filter intact
    // (bucket expressions evaluate row-level, so straddler rows land in
    // their true buckets, the null bucket included). Its index takes
    // the statuses of the walk metaParts made: no re-stat, and no
    // parallel-listing job past 32 straddlers.
    val fsRel = s.lr.relation.asInstanceOf[HadoopFsRelation]
    val straddlers = lake.locatedStatuses(session, parts.toScan)
    val straddlerIndex =
      new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
        session, straddlers.map(_.getPath),
        Map("basePath" -> lake.tableDir(s.table)), None,
        ListedStatusCache.perFile(straddlers))
    val straddlerRel = HadoopFsRelation(straddlerIndex,
      fsRel.partitionSchema, fsRel.dataSchema, fsRel.bucketSpec,
      fsRel.fileFormat, fsRel.options)(session)
    val swappedChild = agg.child.transform {
      case l: LogicalRelation if l eq s.lr =>
        s.lr.copy(relation = straddlerRel)
    }
    // prune the scan to the aggregated and grouped columns (the
    // optimizer's ColumnPruning already ran); a pure count(*) reads
    // the filter's columns anyway
    val neededIds = (valueSpecs.collect { case c: ColSpec => c.a } ++
      grouping.flatMap(_.references)).map(_.exprId).toSet
    val needed = agg.child.output.filter(a => neededIds(a.exprId))
    val pruned =
      if (needed.nonEmpty) Project(needed, swappedChild) else swappedChild
    val partialKeys: Seq[NamedExpression] = grouping.zipWithIndex.map {
      case (a: AttributeReference, _) => a
      case (g, i) => Alias(g, s"_mk_$i")()
    }
    // each straddler ROW enters the union as slot values the merge
    // folds like a metadata partial — one aggregation, one exchange;
    // sketch specs have no row form, so their straddlers aggregate
    // first
    val rowSlots = valueSpecs.zip(valSlotGroups).map {
      case (sp, slots) => rowSlotExprs(sp, slots)
    }
    val straddlerSide =
      if (rowSlots.forall(_.isDefined))
        Project(partialKeys ++ rowSlots.flatMap(_.get), pruned)
      else Aggregate(grouping,
        partialKeys ++ valueSpecs.zip(valSlotGroups).flatMap {
          case (sp, slots) => partialSlotExprs(sp, slots)
        }, pruned)
    val union = Union(Seq(local, straddlerSide))
    val unionOut = union.output

    // merge under the ORIGINAL output names/exprIds: keys pass through,
    // key-derived outputs read the union's key columns, counts and
    // sums add, ranges re-extremize, avg divides the merged sum by the
    // merged count, sketches union
    val offsets = valSlotGroups.scanLeft(nKeys)(_ + _.size).iterator
    val mergeExprs: Seq[NamedExpression] =
      agg.aggregateExpressions.zip(s.specs).map {
        case (orig, GroupKey(k)) =>
          Alias(unionOut(k), orig.name)(exprId = orig.exprId)
        case (orig, GroupDerived(e)) =>
          Alias(e.transform {
            case a: AttributeReference if keyIndex(a).isDefined =>
              unionOut(keyIndex(a).get)
          }, orig.name)(exprId = orig.exprId)
        case (orig, sp) => mergeExprFor(sp, orig, unionOut, offsets.next())
      }
    Right((Aggregate(unionOut.take(nKeys), mergeExprs, union),
      s"hybrid: ${parts.contained} contained, " +
        s"${parts.toScan.size} straddlers"))
  }

  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case x => Seq(x)
  }

  /** Split a conjunct list into a `tp_timestamp` band in micros and
    * the residual non-band conjuncts. Strict bounds convert exactly
    * (`> X` ≡ `>= X+1µs`); equality is the one-point band. `tp_date`
    * comparisons fold into the SAME micros band (epoch-day × 86.4e9 —
    * exact in a long for every representable date) because the engine
    * derives `tp_date = date_trunc(day, tp_timestamp)` under its
    * always-UTC sessions, so `tp_date >= D` ≡ `tp_timestamp >= D
    * 00:00:00 UTC` row-for-row (r16 verdict task 5). Date folding is
    * gated on the READER session being UTC too — a non-UTC session
    * parses date literals the same (days are TZ-free) but signals a
    * deployment where the UTC-writer convention may not hold, so date
    * conjuncts then land in the residual and the rewrite declines to
    * the zoned scan. None when a band conjunct has a null/odd literal;
    * `(lo, hi, 0, cs)` when no band conjunct exists.
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

  /** Fold a WHERE into an OR of bands (r17 verdict task 6 —
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

  // ---- hybrid slot machinery ----
  //
  // Most aggregates occupy ONE union slot (their mergeable partial is
  // themselves: counts/sums add, ranges re-extremize). `avg` needs TWO
  // — an exact DECIMAL(38,0) sum and a count — merged by one double
  // division at the very top, so the hybrid answer equals the pure-
  // metadata formula (exact total / count) regardless of how rows
  // split between contained files and straddlers. Literal, top-k and
  // distinct-day outputs have no slot: they answer only from a final
  // metadata row.

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
      case _ => Nil
    }

  /** Metadata-partial values for one slotted spec, one per slot. */
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
    case other => throw new IllegalArgumentException(s"no slot for $other")
  }

  /** FINAL value for one value spec when nothing is left to scan. */
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
      case Passthrough(v) => v // Literal.value is already internal
      case other => metaSlotValues(parts, other).head
    }

  /** Straddler-scan partial aggregates for one spec, aliased onto its
    * slots.
    */
  private def partialSlotExprs(
      s: Spec, slots: Seq[AttributeReference]): Seq[NamedExpression] = {
    def alias(fn: AggregateFunction, slot: AttributeReference) =
      Alias(fn.toAggregateExpression(), slot.name)(exprId = slot.exprId)
    s match {
      case CountStar => Seq(alias(Count(Literal(1)), slots.head))
      case CountCol(a) => Seq(alias(Count(a), slots.head))
      case MinCol(a) => Seq(alias(Min(a), slots.head))
      case MaxCol(a) => Seq(alias(Max(a), slots.head))
      case SumCol(a) => Seq(alias(Sum(a), slots.head))
      case AvgCol(a) => Seq(
        // exact decimal accumulation: a long-typed straddler sum must
        // not wrap, and decimal(38,0) merges exactly with the metadata
        // partial's BigInt total
        alias(Sum(Cast(a,
          org.apache.spark.sql.types.DecimalType(38, 0))), slots.head),
        alias(Count(a), slots(1)))
      case NdvCol(a) =>
        Seq(alias(graft.functions.NdvFns.NdvSketchAgg(a), slots.head))
      case QuantileCol(a, _) =>
        Seq(alias(graft.functions.KllFns.KllSketchAgg(a), slots.head))
      case other => throw new IllegalArgumentException(s"no slot for $other")
    }
  }

  /** One straddler row's values for a spec's slots, merged by the same
    * expression as the metadata partials: a count slot holds 1 per
    * (non-null) row, a sum slot the value, a range slot the value. None
    * for the sketch specs, which only merge as sketches.
    */
  private def rowSlotExprs(
      s: Spec, slots: Seq[AttributeReference]): Option[Seq[NamedExpression]] = {
    def alias(e: Expression, slot: AttributeReference) =
      Alias(e, slot.name)(exprId = slot.exprId)
    def nonNull(a: Expression) = If(IsNull(a), Literal(0L), Literal(1L))
    s match {
      case CountStar => Some(Seq(alias(Literal(1L), slots.head)))
      case CountCol(a) => Some(Seq(alias(nonNull(a), slots.head)))
      case MinCol(a) => Some(Seq(alias(a, slots.head)))
      case MaxCol(a) => Some(Seq(alias(a, slots.head)))
      case SumCol(a) => Some(Seq(alias(Cast(a, LongType), slots.head)))
      case AvgCol(a) => Some(Seq(
        alias(Cast(a, org.apache.spark.sql.types.DecimalType(38, 0)),
          slots.head),
        alias(nonNull(a), slots(1))))
      case _ => None
    }
  }

  /** Final merge expression over the union for one spec at its slot
    * offset, carrying the ORIGINAL output name/exprId.
    */
  private def mergeExprFor(
      s: Spec, orig: NamedExpression,
      unionOut: Seq[Attribute], off: Int): NamedExpression = {
    val merged: Expression = s match {
      case CountStar | CountCol(_) | SumCol(_) =>
        Sum(unionOut(off)).toAggregateExpression()
      case MinCol(_) => Min(unionOut(off)).toAggregateExpression()
      case MaxCol(_) => Max(unionOut(off)).toAggregateExpression()
      case AvgCol(_) =>
        val total = Sum(unionOut(off)).toAggregateExpression()
        val n = Sum(unionOut(off + 1)).toAggregateExpression()
        If(EqualTo(n, Literal(0L)),
          Literal(null, org.apache.spark.sql.types.DoubleType),
          Divide(Cast(total, org.apache.spark.sql.types.DoubleType),
            Cast(n, org.apache.spark.sql.types.DoubleType)))
      case NdvCol(_) => graft.functions.NdvFns.NdvUnionAgg(unionOut(off))
        .toAggregateExpression()
      case QuantileCol(_, prob) =>
        graft.functions.QuantileFns.QuantileUnionAgg(unionOut(off),
          Literal(prob)).toAggregateExpression()
      case other => throw new IllegalArgumentException(s"no slot for $other")
    }
    Alias(merged, orig.name)(exprId = orig.exprId)
  }
}

object MetadataAggregateRule {

  private val DayUsC = 86400000000L

  /** Marks a [[LocalRelation]] holding a served answer. */
  private val ServedTag =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit]("graft.metaServed")

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

  /** One output of the aggregate, as the rewrite answers it. */
  private sealed trait Spec
  /** An aggregate over one lake column. */
  private sealed trait ColSpec extends Spec { def a: AttributeReference }
  private case object CountStar extends Spec
  private final case class CountCol(a: AttributeReference) extends ColSpec
  private final case class MinCol(a: AttributeReference) extends ColSpec
  private final case class MaxCol(a: AttributeReference) extends ColSpec
  private final case class SumCol(a: AttributeReference) extends ColSpec
  private final case class AvgCol(a: AttributeReference) extends ColSpec
  private final case class NdvCol(a: AttributeReference) extends ColSpec
  private final case class QuantileCol(
      a: AttributeReference, p: Double) extends ColSpec

  /** Exactness bound for serving `avg`: with |exact sum| <= 2^53 the
    * BigInt→double conversion is lossless and any per-row double
    * accumulation of the same-signed values is too, so the metadata
    * quotient bit-matches a scan's. Past it the rule declines.
    */
  private val MaxExactAvgSum: BigInt = BigInt(1) << 53
  /** A literal output. */
  private final case class Passthrough(value: Any) extends Spec
  /** The grouping key at position `i`, passed through. */
  private final case class GroupKey(i: Int) extends Spec
  /** `count(DISTINCT tp_date)` answered from the manifest's per-file
    * day set when every file is day-contained (r18 verdict task 6).
    */
  private final case class DistinctDates(a: AttributeReference)
      extends ColSpec
  /** An output functionally derived from group keys only (cast of the
    * bucket, `year(tp_date)`, ...): served by key substitution.
    */
  private final case class GroupDerived(e: Expression) extends Spec
  /** `graft_topk(c, k)` — the frequent-items "top talkers" report,
    * served by merging the sidecar's per-file sketches when the merge
    * stays provably EXACT (no eviction anywhere — TopKFns.isExact).
    */
  private final case class TopKCol(a: AttributeReference, k: Int)
      extends ColSpec

  /** The metadata an answer reads, derived once from its specs. A
    * column only min/max'd needs no count, which lets the manifest
    * alone answer a `tp_timestamp` range.
    */
  private def needsOf(specs: Seq[Spec]): Lake.Needs = Lake.Needs(
    ranges = specs.collect { case MinCol(a) => a.name
                             case MaxCol(a) => a.name }.toSet,
    counts = specs.collect { case CountCol(a) => a.name
                             case AvgCol(a) => a.name }.toSet,
    sums = specs.collect { case SumCol(a) => a.name
                           case AvgCol(a) => a.name }.toSet,
    ndv = specs.collect { case NdvCol(a) => a.name }.toSet,
    kll = specs.collect { case QuantileCol(a, _) => a.name }.toSet,
    mg = specs.collect { case TopKCol(a, _) => a.name }.toSet)

  /** A grouping key: a physical partition column (directory truth), or
    * a time-bucket expression valued from its bucket's start instant.
    */
  private sealed trait Key
  private final case class PartKey(a: AttributeReference) extends Key
  private final case class BucketKey(
      grain: BucketGrain, valueOf: Long => Any) extends Key

  /** A candidate aggregate: the lake table under it, its keys (with
    * the containment grain when any key is a bucket), one spec per
    * output, the time predicate's disjoint micros bands (None = no
    * time predicate) and the partition-only file filter.
    */
  private final case class Shape(
      lr: LogicalRelation, lake: Lake, table: String,
      keys: Seq[Key], grain: Option[BucketGrain], specs: Seq[Spec],
      bands: Option[Seq[(Long, Long)]],
      fileFilter: String => Boolean) {
    /** Straddler scans are allowed only under a time band or a bucket
      * key; elsewhere the zone-map scan already is the plain plan.
      */
    def hybridOk: Boolean = bands.isDefined || grain.isDefined
  }

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

