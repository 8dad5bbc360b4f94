package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
import org.apache.spark.sql.catalyst.plans.logical.Histogram
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A reference for the catalog column stats `Lake.catalogColumnStats`
  * folds on the driver: the same live sidecar rows merged by a Spark
  * aggregate (`hll_union_agg`, `graft_kll_merge`, sums, min and max)
  * and turned into `CatalogColumnStat`s by the same rules. NDV, min,
  * max, null count and lengths must be equal. Histograms must be equal
  * where the merged KLL sketch is exact; once the union exceeds the
  * sketch's capacity, KLL compaction draws from an unseeded random
  * source, so two merges of the same sketches (two runs of either
  * merge included) agree only on the histogram's height and bin count.
  */
object CatalogStatsReference {

  def mismatches(
      spark: SparkSession, lake: Lake, table: String,
      histograms: Boolean = true): Seq[String] = {
    val got = lake.catalogColumnStats(spark, table, histograms)
      .getOrElse(return Seq("no column stats"))
    val want = reference(spark, lake, table, histograms)
    if (got.keySet != want.keySet)
      return Seq(s"columns ${got.keySet} != ${want.keySet}")
    want.toSeq.flatMap { case (c, (w, mergedExact)) =>
      val g = got(c)
      val fields = Seq(
        "distinctCount" -> (g.distinctCount, w.distinctCount),
        "min" -> (g.min, w.min), "max" -> (g.max, w.max),
        "nullCount" -> (g.nullCount, w.nullCount),
        "avgLen" -> (g.avgLen, w.avgLen), "maxLen" -> (g.maxLen, w.maxLen),
        "histogram" -> (shape(g.histogram, mergedExact),
          shape(w.histogram, mergedExact)))
      fields.collect { case (f, (a, b)) if a != b => s"$c.$f: $a != $b" }
    }
  }

  private def shape(h: Option[Histogram], exact: Boolean): Option[Any] =
    h.map(h => if (exact) (h.height, h.bins.toSeq) else (h.height, h.bins.length))

  /** column → (stat, whether the merged KLL sketch is exact). */
  private def reference(
      spark: SparkSession, lake: Lake, table: String, histograms: Boolean)
      : Map[String, (CatalogColumnStat, Boolean)] = {
    val rows = lake.liveSidecarRows(spark, table).map { case ((file, column), s) =>
      Row(file, column, s.sketch.orNull, s.nulls, s.n,
        s.sumLen.map(Long.box).orNull, s.maxLen.map(Long.box).orNull,
        s.minD.map(Double.box).orNull, s.maxD.map(Double.box).orNull,
        s.minS.orNull, s.maxS.orNull, s.kll.orNull, s.mg.orNull,
        s.sumV.map(v => new java.math.BigDecimal(v.bigInteger)).orNull,
        s.seq)
    }
    val merged = spark.createDataFrame(rows.asJava, Lake.SidecarSchema)
      .groupBy("column").agg(
        hll_sketch_estimate(hll_union_agg(col("sketch"))).as("ndv"),
        sum("nulls").as("nulls"), sum("n").as("n"),
        sum("sum_len").as("sum_len"), max("max_len").as("max_len"),
        min("min_d").as("min_d"), max("max_d").as("max_d"),
        graft.functions.KllFns.kllMerge(spark, col("kll")).as("kllm"),
        sum(when(col("kll").isNull, 1L).otherwise(0L)).as("kll_missing"))
      .collect()
    val schema = lake.read(spark, table).schema
    def extString(dt: DataType, d: Double): Option[String] = dt match {
      case IntegerType | LongType | ShortType | ByteType =>
        Some(math.round(d).toString)
      case DoubleType => Some(d.toString)
      case FloatType => Some(d.toFloat.toString)
      case _ => None
    }
    merged.map { r =>
      val c = r.getString(0)
      val dt = schema(c).dataType
      val ndv = if (r.isNullAt(1)) 0L else r.getLong(1)
      val nulls = r.getLong(2)
      val nonNull = math.max(0L, r.getLong(3) - nulls)
      val avgLen = if (!r.isNullAt(4) && nonNull > 0)
        Some(math.max(1L, math.round(r.getLong(4).toDouble / nonNull)))
        else None
      val maxLen = if (r.isNullAt(5)) None else Some(r.getLong(5))
      val minS = if (r.isNullAt(6)) None else extString(dt, r.getDouble(6))
      val maxS = if (r.isNullAt(7)) None else extString(dt, r.getDouble(7))
      val kllm = r.getAs[Array[Byte]](8)
      val histogram =
        if (histograms && dt.isInstanceOf[NumericType] && r.getLong(9) == 0L)
          graft.functions.KllFns.equiHeightHistogram(
            kllm, Lake.HistogramBins, ndv)
        else None
      val exact = !KllDoublesSketch.heapify(Memory.wrap(kllm)).isEstimationMode
      c -> ((CatalogColumnStat(
        distinctCount = Some(BigInt(ndv)), min = minS, max = maxS,
        nullCount = Some(BigInt(nulls)), avgLen = avgLen, maxLen = maxLen,
        histogram = histogram), exact))
    }.toMap
  }
}
