package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters recorded in memory and written out once, at the
  * end. Times are epoch milliseconds (Spark's own event clock), kept as
  * doubles so benchmark spans can carry sub-millisecond precision.
  */
final class Recorder {
  private val mapper = new ObjectMapper()
  val spans = mapper.createArrayNode()
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  @volatile var op: Long = -1L

  /** Record a span; returns its id (1-based position in `spans`). */
  def add(name: String, layer: String, start: Double, end: Double,
      parent: Long): Long = synchronized {
    spans.addObject().put("id", spans.size().toLong).put("name", name)
      .put("layer", layer).put("start", start).put("end", end)
      .put("parent", parent).put("op", op)
    spans.size().toLong
  }

  def count(k: String, v: Double): Unit = synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }

  def counterNode(): ObjectNode = synchronized {
    val n = mapper.createObjectNode()
    counters.foreach { case (k, v) => n.put(k, v) }
    n
  }

  // ---- Spark listener side -------------------------------------------

  def onJobStart(id: Int, t: Long): Unit = synchronized { jobStart(id) = t }

  def onJobEnd(id: Int, t: Long): Unit = {
    val st = synchronized(jobStart.remove(id))
    st.foreach { s =>
      add(s"job $id", "spark", s.toDouble, t.toDouble, -1L)
      count("spark.jobs", 1)
    }
  }

  def onStageSubmitted(id: Int, attempt: Int, t: Long): Unit =
    synchronized { stageSubmit((id, attempt)) = t }

  def onTaskEnd(stage: Int, attempt: Int, info: TaskInfo,
      m: org.apache.spark.executor.TaskMetrics): Unit = {
    count("spark.tasks", 1)
    synchronized(stageSubmit.get((stage, attempt))).foreach { s =>
      count("spark.task_wait_s", math.max(0L, info.launchTime - s) / 1e3)
    }
    if (m != null) {
      count("spark.task_time_s", m.executorRunTime / 1e3)
      count("spark.task_cpu_s", m.executorCpuTime / 1e9)
      count("spark.gc_s", m.jvmGCTime / 1e3)
      count("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      count("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      count("spark.shuffle_write_bytes",
        m.shuffleWriteMetrics.bytesWritten.toDouble)
      count("spark.spill_bytes",
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  /** One executed query's planning phases, as spans. */
  def onQuery(qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis" -> "query.analyze", "optimization" -> "query.optimize",
      "planning" -> "query.plan").foreach { case (phase, name) =>
      phases.get(phase).foreach { p =>
        add(name, "query", p.startTimeMs.toDouble, p.endTimeMs.toDouble, -1L)
      }
    }
    count("query.executions", 1)
    if (!ok) count("query.failed", 1)
  }
}

class SparkEvents(rec: Recorder) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    rec.onJobStart(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    rec.onJobEnd(e.jobId, e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    rec.onStageSubmitted(e.stageInfo.stageId, e.stageInfo.attemptNumber(),
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    rec.count("spark.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    rec.onTaskEnd(e.stageId, e.stageAttemptId, e.taskInfo, e.taskMetrics)
}

class PhaseEvents(rec: Recorder) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = rec.onQuery(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = rec.onQuery(qe, ok = false)
}

/** Tracing for a child `graft` CLI process. The benchmark adds
  * `-Dspark.extraListeners=perfbench.ChildSparkListener`,
  * `-Dspark.sql.queryExecutionListeners=perfbench.ChildQueryListener`
  * and `-Dperfbench.trace.out=<file>`; the child writes its record to
  * that file from a shutdown hook, after Spark has stopped.
  */
object ChildTrace {
  val rec = new Recorder
  @volatile var listenerInitMs: Long = 0L
  @volatile var appStartMs: Long = 0L

  private val out = Option(System.getProperty("perfbench.trace.out"))

  out.foreach { path =>
    Runtime.getRuntime.addShutdownHook(new Thread(() => write(path)))
  }

  private def write(path: String): Unit = {
    val mapper = new ObjectMapper()
    val n = mapper.createObjectNode()
    val (compiles, compileMs) = org.apache.spark.BenchAccess.codegen()
    n.put("jvm_start_ms", ManagementFactory.getRuntimeMXBean.getStartTime)
    n.put("app_start_ms", appStartMs)
    n.put("listener_init_ms", listenerInitMs)
    n.put("exit_hook_ms", System.currentTimeMillis())
    n.put("classes_loaded",
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)
    n.put("codegen_classes", compiles)
    n.put("codegen_compile_s", compileMs / 1e3)
    n.set[ObjectNode]("counters", rec.counterNode())
    n.set("spans", rec.spans)
    mapper.writeValue(new File(path), n)
  }
}

class ChildSparkListener extends SparkEvents(ChildTrace.rec) {
  ChildTrace.listenerInitMs = System.currentTimeMillis()
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    ChildTrace.appStartMs = e.time
}

class ChildQueryListener extends PhaseEvents(ChildTrace.rec)
