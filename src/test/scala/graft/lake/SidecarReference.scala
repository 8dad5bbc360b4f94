package graft.lake

import org.apache.datasketches.frequencies.ErrorType
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A reference for a table's colstats sidecar: the per-(file, column)
  * aggregates recomputed from the live data files with plain Spark
  * aggregates, one query per column, compared with the rows the
  * table's metadata snapshot serves. Counters, lengths, ranges and
  * sums must be equal; sketches must answer equally (NDV estimate,
  * KLL quantiles, frequent items), not be byte-identical.
  */
object SidecarReference {

  private val Quantiles = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)

  /** Mismatch descriptions; empty when the sidecar matches. */
  def mismatches(spark: SparkSession, lake: Lake, table: String): Seq[String] = {
    val cols = lake.colStatsColumns(spark, table)
    val live = lake.liveManifest(spark, table, reconcileWithListing = true)
      .map(_.file)
    val served = lake.metaSnapshot(spark, table).sidecar
    if (cols.isEmpty || live.isEmpty) return Seq("no stats columns or files")
    val data = spark.read.option("basePath", lake.tableDir(table))
      .parquet(live: _*)
    val schema = data.schema
    cols.flatMap { c =>
      val dt = schema(c).dataType
      val isStr = dt == StringType
      val isNum = dt.isInstanceOf[NumericType]
      val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
      val v = col(c)
      val typedNull = (t: String) => lit(null).cast(t)
      val ref = data.withColumn("__f", input_file_name()).groupBy("__f").agg(
        count(lit(1)).as("n"),
        count(when(v.isNull, 1)).as("nulls"),
        (if (isStr) sum(length(v).cast("long")) else typedNull("long")).as("sum_len"),
        (if (isStr) max(length(v).cast("long")) else typedNull("long")).as("max_len"),
        (if (isNum) min(v.cast("double")) else typedNull("double")).as("min_d"),
        (if (isNum) max(v.cast("double")) else typedNull("double")).as("max_d"),
        (if (isStr) min(v) else typedNull("string")).as("min_s"),
        (if (isStr) max(v) else typedNull("string")).as("max_s"),
        (if (integral(dt)) sum(v.cast("decimal(38,0)"))
         else typedNull("decimal(38,0)")).as("sum_v"),
        hll_sketch_agg(if (dt == IntegerType || dt == LongType || isStr) v
          else v.cast("string")).as("sketch"),
        (if (isNum) graft.functions.KllFns.kllAgg(spark, v)
         else typedNull("binary")).as("kll"),
        (if (isStr) graft.functions.TopKFns.topkSketchAgg(spark, v)
         else typedNull("binary")).as("mg"))
        .collect()
      ref.toSeq.flatMap { r =>
        val file = new java.net.URI(r.getString(0)).getPath
        served.get((file, c)) match {
          case None => Seq(s"($file, $c): no sidecar row")
          case Some(s) =>
            def opt[T](i: Int): Option[T] =
              if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[T])
            val exact = Seq(
              "n" -> (s.n, r.getLong(1)),
              "nulls" -> (s.nulls, r.getLong(2)),
              "sum_len" -> (s.sumLen, opt[Long](3)),
              "max_len" -> (s.maxLen, opt[Long](4)),
              "min_d" -> (s.minD, opt[Double](5)),
              "max_d" -> (s.maxD, opt[Double](6)),
              "min_s" -> (s.minS, opt[String](7)),
              "max_s" -> (s.maxS, opt[String](8)),
              "sum_v" -> (s.sumV, opt[java.math.BigDecimal](9)
                .map(d => BigInt(d.toBigIntegerExact))))
            val sketches = Seq(
              "ndv" -> (s.sketch.map(graft.functions.NdvFns.blobEstimate),
                opt[Array[Byte]](10).map(graft.functions.NdvFns.blobEstimate)),
              "kll" -> (s.kll.map(quantiles), opt[Array[Byte]](11).map(quantiles)),
              "mg" -> (s.mg.map(frequent), opt[Array[Byte]](12).map(frequent)))
            (exact ++ sketches).collect {
              case (name, (got, want)) if got != want =>
                s"($file, $c).$name: sidecar $got, reference $want"
            }
        }
      }
    }
  }

  private def quantiles(blob: Array[Byte]): Seq[Double] = {
    val sk = KllDoublesSketch.heapify(Memory.wrap(blob))
    if (sk.isEmpty) Seq.empty else Quantiles.map(sk.getQuantile)
  }

  private def frequent(blob: Array[Byte]): Seq[(String, Long)] =
    graft.functions.TopKFns.fromBlob(blob)
      .getFrequentItems(ErrorType.NO_FALSE_NEGATIVES).toSeq
      .map(i => i.getItem -> i.getEstimate).sorted
}
