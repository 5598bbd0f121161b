package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are milliseconds since
  * JVM start; `parent` 0 marks a root. The layer is the name's first
  * dot-separated part. */
final case class Span(id: Long, parent: Long, name: String,
                      startMs: Double, endMs: Double)

/** Keeps spans in memory while `on`; `write` dumps them once at the end. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis() - Main.jvmStartMs.toDouble

  def nowMs: Double = msBase + (System.nanoTime() - nanoBase) / 1e6
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (on) spans.add(s)

  /** Runs `f` inside a span; `f` gets the span's id for its children. */
  def span[A](name: String, parent: Long)(f: Long => A): A =
    if (!on) f(0L)
    else {
      val id = nextId()
      val t0 = nowMs
      try f(id) finally add(Span(id, parent, name, t0, nowMs))
    }

  def write(path: java.nio.file.Path): Unit = if (on) {
    import scala.jdk.CollectionConverters._
    val rows = spans.asScala.toSeq.sortBy(_.id).map { s =>
      f"""[${s.id},${s.parent},${graft.command.Json.escapeQ(s.name)},""" +
        f"""${s.startMs}%.3f,${s.endMs}%.3f]"""
    }
    java.nio.file.Files.write(path,
      rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** Execution counters of the Spark jobs one tagged op ran. */
final class SparkCounts {
  var jobs, stages, tasks = 0L
  var taskCpuNs, taskRunMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  var peakExecMem = 0L
  var skewMax = 0.0

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "task_cpu_s" -> taskCpuNs / 1e9,
    "task_run_s" -> taskRunMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWrite / 1048576.0,
    "shuffle_read_mb" -> shuffleRead / 1048576.0,
    "spill_mb" -> spill / 1048576.0,
    "peak_exec_mem_mb" -> peakExecMem / 1048576.0, "skew_max" -> skewMax)
}

/** Spark's public listener hooks, attached from outside the program.
  *
  * Jobs are attributed to the op whose name and span id the benchmark put
  * in the `perfbench.op` / `perfbench.span` local properties before
  * running it; untagged jobs (the OLTP engine's) count under "". Planning
  * phases come from each finished query's `QueryPlanningTracker`. */
final class SparkProbe(spark: SparkSession, tracer: Tracer)
    extends SparkListener with QueryExecutionListener {
  import SparkProbe.{OpKey, SpanKey}

  private val byOp = mutable.HashMap[String, SparkCounts]()
  private val stageOp = mutable.HashMap[Int, String]()
  private val stageJobSpan = mutable.HashMap[Int, Long]()
  private val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val jobInfo = mutable.HashMap[Int, (String, Long, Long, Double)]()
  private val phases = new ConcurrentLinkedQueue[Map[String, Double]]()

  /** Events count only while active. */
  @volatile var active = false

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def counts(op: String) = byOp.getOrElseUpdate(op, new SparkCounts)
  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (!active) return
    val op = prop(e.properties, OpKey)
    val parent = prop(e.properties, SpanKey).toLongOption.getOrElse(0L)
    val span = if (tracer.on) tracer.nextId() else 0L
    jobInfo(e.jobId) = (op, parent, span, e.time - Main.jvmStartMs.toDouble)
    e.stageIds.foreach { s => stageOp(s) = op; stageJobSpan(s) = span }
    counts(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (_, parent, span, t0) =>
      tracer.add(Span(span, parent, "spark.job", t0,
        e.time - Main.jvmStartMs.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!active) return
    val c = counts(stageOp.getOrElse(e.stageId, ""))
    c.tasks += 1
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.taskCpuNs += m.executorCpuTime
      c.taskRunMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (!active) return
      val info = e.stageInfo
      val c = counts(stageOp.getOrElse(info.stageId, ""))
      c.stages += 1
      stageTaskMs.remove(info.stageId).filter(_.nonEmpty).foreach { ds =>
        val s = ds.sorted
        val med = math.max(1L, s(s.length / 2))
        c.skewMax = math.max(c.skewMax, s.last.toDouble / med)
      }
      for (t0 <- info.submissionTime; t1 <- info.completionTime)
        tracer.add(Span(tracer.nextId(),
          stageJobSpan.getOrElse(info.stageId, 0L), "spark.stage",
          t0 - Main.jvmStartMs.toDouble, t1 - Main.jvmStartMs.toDouble))
      stageOp.remove(info.stageId)
      stageJobSpan.remove(info.stageId)
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    if (active) phases.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble })

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit =
    if (active) phases.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble })

  /** Waits until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Planning-phase milliseconds of every query finished since the last
    * call, summed by phase. */
  def takePhases(): Map[String, Double] = {
    val acc = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    var p = phases.poll()
    while (p != null) {
      p.foreach { case (k, v) => acc(k) += v }
      p = phases.poll()
    }
    acc.toMap
  }

  def snapshot(): Map[String, SparkCounts] = synchronized(byOp.toMap)
}

object SparkProbe {
  /** Local properties that tag a job with its op's name and span id. */
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
}

/** Janino compilations so far: count and nanoseconds. */
object Codegen {
  def classes: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long = CodeGenerator.compileTime
}
