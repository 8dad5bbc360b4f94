package graft.query

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{Lake, TpSchema}

/** Filtered-view query layer (SURVEY §2A rows 14-15; reference
  * views.go:14-34 + cmd/connect.go:262-412): `--from/--to/--partition/
  * --index` become per-table view predicates, and every user query runs
  * against the views.
  *
  * The predicates target the physical partition columns
  * (`tp_partition`, `tp_index`) plus `tp_year`/`tp_month` bounds
  * derived from the time range, so Catalyst prunes partition
  * directories BEFORE listing files — at 100 TB the difference between
  * touching one month and touching the lake. The residual
  * `tp_timestamp` bounds then skip whole files via the manifest's
  * per-file ranges and row groups via parquet min/max.
  */
object Views {

  /** Query-scoped filters, all optional (reference getFilters,
    * cmd/connect.go:262-311). `partitions`/`indexes` accept `*`
    * wildcards and are OR-combined within each list, AND-combined
    * across lists — the reference's exact semantics
    * (connect.go:314-399).
    */
  final case class Filters(
      from: Option[Timestamp] = None,
      to: Option[Timestamp] = None,
      partitions: Seq[String] = Seq.empty,
      indexes: Seq[String] = Seq.empty) {
    def isEmpty: Boolean =
      from.isEmpty && to.isEmpty && partitions.isEmpty && indexes.isEmpty
  }

  /** `*` → `%`-style wildcard to a Column LIKE predicate; a pattern
    * without wildcards becomes equality (connect.go:341-366 builds
    * `like` vs `=` the same way).
    */
  private def matchPattern(c: Column, pattern: String): Column =
    if (pattern.contains("*")) c.like(pattern.replace("*", "%"))
    else c === lit(pattern)

  /** The combined predicate for one table, or None when unfiltered. */
  def predicate(f: Filters): Option[Column] = {
    val parts = Seq(
      f.from.map { t =>
        val ymBound =
          (col(TpSchema.Year) > year(lit(t))) ||
            (col(TpSchema.Year) === year(lit(t)) &&
              col(TpSchema.Month) >= month(lit(t)))
        ymBound && col(TpSchema.Timestamp) >= lit(t)
      },
      f.to.map { t =>
        val ymBound =
          (col(TpSchema.Year) < year(lit(t))) ||
            (col(TpSchema.Year) === year(lit(t)) &&
              col(TpSchema.Month) <= month(lit(t)))
        ymBound && col(TpSchema.Timestamp) <= lit(t)
      },
      if (f.partitions.isEmpty) None
      else Some(f.partitions.map(p =>
        matchPattern(col(TpSchema.Partition), p)).reduce(_ || _)),
      if (f.indexes.isEmpty) None
      else Some(f.indexes.map(p =>
        matchPattern(col(TpSchema.Index).cast("string"), p)).reduce(_ || _))
    ).flatten
    parts.reduceOption(_ && _)
  }

  /** Register one temp view per lake table, filtered when filters are
    * present (views.go:30: `create or replace view t as select * from
    * cat.t where ...`). Returns the registered table names.
    */
  def register(spark: SparkSession, lake: Lake, f: Filters,
      rollups: Seq[graft.config.RollupSpec] = Seq.empty): Seq[String] = {
    // whole-table count/min/max SQL answers from the manifest+sidecar
    // (scan-free) once views exist — idempotent per session
    graft.lake.MetadataAggregateRule.install(spark)
    // `ndv(col)` resolves in every view session; the rule serves it
    // from the sidecar's per-file HLL sketches when covered
    graft.functions.NdvFns.register(spark)
    // `graft_quantile(col, p)` — the KLL distribution twin of ndv
    graft.functions.QuantileFns.register(spark)
    // `graft_topk(col, k)` — the frequent-items "top talkers" face
    graft.functions.TopKFns.register(spark)
    // a table whose every row was deleted still has a directory (and
    // manifest) but no data files — spark.read would fail schema
    // inference and one emptied table would break the whole session.
    // Skip it: querying it then gets the "no data collected" shaping.
    // The same walk feeds the view's file index.
    val tables = lake.listTables(spark)
      .map(t => t -> lake.listDataFiles(spark, t))
      .filter(_._2.nonEmpty)
    tables.foreach { case (t, listed) =>
      withPredicate(lake.read(spark, t, listed), f)
        .createOrReplaceTempView(t)
    }
    // materialized rollups surface as <table>_rollup_<name> views —
    // refreshed-at-collect aggregates, so the dashboard query reads
    // rollup rows, never the raw table (RollupSpec scaladoc). Views
    // appear only once the rollup has been materialized.
    val live = rollups.filter(r =>
      graft.lake.Rollup.exists(spark, lake, r))
    live.foreach(r => graft.lake.Rollup.read(spark, lake, r)
      .createOrReplaceTempView(r.viewName))
    tables.map(_._1) ++ live.map(_.viewName)
  }

  /** The filtered DataFrame for one table (the view body): the
    * whole-table relation with the filters' predicate over it. Its
    * `tp_timestamp` bounds skip whole files through the manifest time
    * zones, its partition bounds skip directories, and an aggregate
    * over it stays visible to the metadata-aggregate rule.
    */
  def filtered(spark: SparkSession, lake: Lake, table: String,
      f: Filters): DataFrame =
    withPredicate(lake.read(spark, table), f)

  private def withPredicate(base: DataFrame, f: Filters): DataFrame =
    predicate(f).map(base.where).getOrElse(base)
}
