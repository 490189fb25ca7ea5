package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.TaskFailedReason
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `layer` names the module the interval is spent in;
  * `parent` is the span that caused it (0 for a root). */
final class Span(val id: Long, val parent: Long, val name: String,
    val layer: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and per-layer counters of one run, recorded from the benchmark's
  * side of each call into the engine and from Spark's listener interfaces.
  * A disabled tracer registers nothing and records nothing, so an untraced
  * run pays no listener cost. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Counters summed over the current measurement window. */
  private val counters = mutable.Map.empty[String, Double]
  /** Per-job peak execution memory is a max, not a sum. */
  @volatile private var peakExecMem = 0L
  private val jobSpans = mutable.Map.empty[Int, Span]
  // wall-clock ms → nanoTime, for Catalyst's millisecond phase stamps
  private val msToNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** The write whose query executions the listener is attributing. */
  @volatile var currentWrite: Option[Span] = None

  private def add(key: String, v: Double): Unit = counters.synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }

  def begin(name: String, layer: String, parent: Long = 0L,
      startNs: Long = System.nanoTime()): Span = {
    val s = new Span(ids.incrementAndGet(), parent, name, layer, startNs)
    if (enabled) spans.synchronized { spans += s }
    s
  }

  def end(s: Span, endNs: Long = System.nanoTime()): Span = { s.endNs = endNs; s }

  /** Runs `body` inside span `s` and ends it; Spark jobs that `body`
    * starts become children of `s`. */
  def within[T](spark: SparkSession, s: Span)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body
    finally { end(s); sc.setLocalProperty(Tracer.SpanProp, prev) }
  }

  /** Codegen compile count and nanoseconds, JVM-wide since start. */
  def codegenNow: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.SpanProp))).map(_.toLong).getOrElse(0L)
      jobSpans.synchronized {
        jobSpans(e.jobId) = begin(s"job ${e.jobId}", "exec", parent)
      }
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpans.synchronized(jobSpans.remove(e.jobId)).foreach(end(_))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      e.reason match {
        case _: TaskFailedReason => add("exec.failed_tasks", 1)
        case _ =>
      }
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        if (m.peakExecutionMemory > peakExecMem) peakExecMem = m.peakExecutionMemory
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val parent = currentWrite.map(_.id).getOrElse(0L)
      for (p <- Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
           QueryPlanningTracker.PLANNING); ph <- phases.get(p)) {
        add(s"catalyst.${p}_s", ph.durationMs / 1e3)
        end(begin(s"catalyst $p", "catalyst", parent, ph.startTimeMs * 1000000L + msToNs),
          ph.endTimeMs * 1000000L + msToNs)
      }
      add("catalyst.plan_nodes", qe.optimizedPlan.collectWithSubqueries { case n => n }.size)
      add("catalyst.executions", 1)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until every listener event queued so far has been handled. */
  def drain(spark: SparkSession): Unit =
    if (enabled) PerfbenchBridge.drainListenerBus(spark.sparkContext)

  private var codegenAtReset = (0L, 0L)
  private var resetNs = 0L

  /** Starts the measurement window: zeroes the counters (spans are kept
    * for the trace file). */
  def resetCounters(): Unit = counters.synchronized {
    counters.clear(); peakExecMem = 0L
    codegenAtReset = codegenNow
    resetNs = System.nanoTime()
  }

  /** Per-layer metrics of the window since [[resetCounters]], sums divided
    * by `per` (the number of passes of a closed loop; 1 for a stream). */
  def layerMetrics(per: Int): Map[String, Double] = {
    val wall = (System.nanoTime() - resetNs) / 1e9
    val cg = codegenNow
    val c = counters.synchronized(counters.toMap) ++ Map(
      "codegen.compiles" -> (cg._1 - codegenAtReset._1).toDouble,
      "codegen.compile_s" -> (cg._2 - codegenAtReset._2) / 1e9)
    val spans = allSpans.filter(s => s.endNs >= 0 && s.startNs >= resetNs)
    val self = Tracer.selfSeconds(spans)
    val queries = spans.filter(_.layer == "queries")
    val queryIds = queries.map(_.id).toSet
    c.map { case (k, v) => k -> v / per } ++ Map(
      "exec.peak_exec_mem_bytes" -> peakExecMem.toDouble,
      "queries.build_s" -> queries.map(_.seconds).sum / per,
      "queries.build_jobs" ->
        spans.count(s => s.layer == "exec" && queryIds(s.parent)).toDouble / per,
      "queries.self_s" -> self.getOrElse("queries", 0.0) / per,
      "write.self_s" -> self.getOrElse("write", 0.0) / per,
      "exec.job_wall_s" -> Tracer.union(spans.filter(_.layer == "exec")
        .map(s => (s.startNs, s.endNs))) / 1e9 / per,
      "exec.core_util" -> c.getOrElse("exec.task_run_s", 0.0) / (wall * Main.cores),
      "trace.wall_s" -> wall / per)
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover. Spans of one layer do not nest inside each other,
    * so the sums do not double count. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val done = spans.filter(_.endNs >= 0)
    val kids = done.groupBy(_.parent)
    done.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
