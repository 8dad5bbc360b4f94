package perfbench

import java.io.{File, OutputStream, PrintStream}
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.cli.Main
import graft.lake.Lake
import graft.query.{Render, ScanAudit, Views}

/** The in-process side of the benchmark: one warm SparkSession that
  * runs a plan written by `run.py` and records what every step took.
  *
  * A plan is a set-up (steps that build the lake) and a list of
  * operations replayed in a closed loop until the time is up. A step is
  * one call into the program's public surface:
  *
  *   - `main`: `graft.cli.Main.run` with CLI arguments
  *   - `views`: `graft.query.Views.register` with a `--from/--to` window
  *   - `sql`: `spark.sql` rendered through `graft.query.Render.csvTo`
  *   - `stage`: copy an inbox into place (not timed)
  *
  * Outputs are returned to `run.py`, which checks them. In a traced run
  * every second block of `trace_block` operations runs with Spark
  * listeners attached and spans recorded; the others run bare, so the
  * two halves give the tracing overhead.
  *
  * Usage: `Harness <plan.json> <result.json>`
  */
object Harness {

  private val mapper = new ObjectMapper()
  private val OutCap = 1 << 20

  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble

  /** Seconds since harness start. */
  private def now(): Double = (System.nanoTime() - baseNano) / 1e9
  private def epochMs(t: Double): Double = baseEpochMs + t * 1e3

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val work = plan.get("work").asText
    val cpus = plan.get("cpus").asInt
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val result = mapper.createObjectNode().put("base_epoch_ms", baseEpochMs)
    try run(spark, plan, result)
    finally spark.stop()
    mapper.writeValue(new File(args(1)), result)
  }

  private def run(spark: SparkSession, plan: JsonNode, result: ObjectNode): Unit = {
    val lake = plan.get("work").asText + "/lake"
    result.put("lake", lake)
    val rec = new Recorder
    val setupSteps = result.putArray("setup_steps")
    val setupStart = now()
    plan.get("setup").elements().asScala.foreach { st =>
      setupSteps.add(step(spark, st, lake, rec, traced = false))
    }
    result.put("setup_s", now() - setupStart)

    val ops = plan.get("ops").elements().asScala.toIndexedSeq
    val seconds = plan.get("seconds").asDouble
    val trace = plan.get("trace").asBoolean
    val minOps = plan.get("min_ops").asInt
    val block = plan.get("trace_block").asInt
    val out = result.putArray("ops")
    val sparkL = new SparkEvents(rec)
    val queryL = new PhaseEvents(rec)
    val t0 = now()
    var k = 0
    while (ops.nonEmpty && (k < minOps || now() - t0 < seconds)) {
      val op = ops(k % ops.size)
      val traced = trace && (k / block) % 2 == 1
      val (cg0, cgMs0) = org.apache.spark.BenchAccess.codegen()
      if (traced) {
        rec.op = k
        spark.sparkContext.addSparkListener(sparkL)
        spark.listenerManager.register(queryL)
      }
      val o = out.addObject()
      o.put("k", k).put("id", op.get("id").asText).put("traced", traced)
      val steps = o.putArray("steps")
      val opSpan = if (traced) rec.add(op.get("id").asText, "bench", 0, 0, -1L) else -1L
      op.get("steps").elements().asScala.foreach { st =>
        steps.add(step(spark, st, lake, rec, traced, opSpan))
      }
      val timed = steps.elements().asScala.filter(_.has("start")).toSeq
      val start = timed.headOption.map(_.get("start").asDouble).getOrElse(now())
      val end = timed.lastOption.map(_.get("end").asDouble).getOrElse(start)
      o.put("start", start).put("end", end)
      if (traced) {
        org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(sparkL)
        spark.listenerManager.unregister(queryL)
        val span = rec.spans.get(opSpan.toInt - 1).asInstanceOf[ObjectNode]
        span.put("start", epochMs(start)).put("end", epochMs(end))
        val (cg1, cgMs1) = org.apache.spark.BenchAccess.codegen()
        rec.count("spark.codegen_classes", (cg1 - cg0).toDouble)
        rec.count("spark.codegen_compile_s", (cgMs1 - cgMs0) / 1e3)
        rec.op = -1L
      }
      k += 1
    }
    result.put("measure_s", now() - t0)
    result.set("spans", rec.spans)
    result.set("counters", rec.counterNode())
  }

  /** Run one step; returns its record. `stage` steps carry no times. */
  private def step(spark: SparkSession, st: JsonNode, lakeDir: String,
      rec: Recorder, traced: Boolean, parent: Long = -1L): ObjectNode = {
    val kind = st.get("kind").asText
    val name = Option(st.get("name")).map(_.asText).getOrElse(kind)
    val r = mapper.createObjectNode().put("name", name).put("kind", kind)
    def sub(s: String) = s.replace("{lake}", lakeDir)
    kind match {
      case "stage" =>
        val from = new File(sub(st.get("from").asText))
        val to = new File(sub(st.get("to").asText))
        Option(to.listFiles()).foreach(_.foreach(_.delete()))
        to.mkdirs()
        from.listFiles().sortBy(_.getName).foreach { f =>
          Files.copy(f.toPath, new File(to, f.getName).toPath,
            StandardCopyOption.REPLACE_EXISTING)
        }
        return r
      case _ =>
    }
    val layer = Option(st.get("layer")).map(_.asText).getOrElse("query")
    val sink = new TimedSink
    var df: Option[DataFrame] = None
    val t0 = now()
    val rc = try kind match {
      case "main" =>
        val args = st.get("args").elements().asScala.map(a => sub(a.asText)).toSeq
        Main.run(spark, args, new PrintStream(sink, true, "UTF-8"))
      case "views" =>
        def ts(k: String) = Option(st.get(k)).filterNot(_.isNull)
          .map(v => Timestamp.valueOf(v.asText))
        val names = Views.register(spark, Lake(lakeDir),
          Views.Filters(from = ts("from"), to = ts("to")))
        sink.appendable.append(names.mkString(","))
        0
      case "sql" =>
        df = Some(spark.sql(st.get("sql").asText))
        Render.csvTo(sink.appendable, df.get)
        0
    } catch {
      case e: Exception =>
        r.put("error", s"${e.getClass.getName}: ${e.getMessage}")
        -1
    }
    val t1 = now()
    r.put("rc", rc).put("out", sink.text)
    r.put("start", t0).put("first", if (sink.first.isNaN) t1 else sink.first).put("end", t1)
    if (traced)
      rec.add(s"$layer.$name", layer, epochMs(t0), epochMs(t1), parent)
    // scan and plan bookkeeping happens after the step's timed window
    df.foreach { d =>
      r.put("files_read", ScanAudit.filesRead(d))
      val nodes = r.putArray("plan")
      planNodes(d).foreach(nodes.add)
      if (traced) {
        val lake = Lake(lakeDir)
        r.put("files_listed", st.get("tables").elements().asScala
          .map(t => lake.dataFiles(spark, t.asText).size).sum)
      }
    }
    r
  }

  /** Physical operator class names of the executed plan, through AQE. */
  private def planNodes(df: DataFrame): Seq[String] = {
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        other.getClass.getSimpleName +:
          (other.children.flatMap(walk) ++ other.subqueries.flatMap(walk))
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Captures a step's output and the time its first line ended — for a
    * CSV result, the moment the first row was ready to print.
    */
  private final class TimedSink extends OutputStream {
    private val buf = new java.io.ByteArrayOutputStream()
    var first: Double = Double.NaN

    override def write(b: Int): Unit = {
      if (b == '\n' && first.isNaN) first = now()
      if (buf.size < OutCap) buf.write(b)
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      if (first.isNaN && (off until off + len).exists(i => b(i) == '\n'))
        first = now()
      if (buf.size < OutCap) buf.write(b, off, math.min(len, OutCap - buf.size))
    }

    def text: String = buf.toString("UTF-8")

    val appendable: Appendable = new PrintStream(this, true, "UTF-8")
  }
}
