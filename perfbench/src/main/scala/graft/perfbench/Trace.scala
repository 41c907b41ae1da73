package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the harness: a pass, a query, a trigger, a
  * notify batch. `req` groups the spans of one request (a pass and query,
  * or a trigger and alert); `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    req: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, it only runs the body: untraced
  * runs pay no recording cost. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def span[T](name: String, layer: String, parent: Long, req: String)(
      body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = nextId()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, parent, name, layer, req, t0, System.nanoTime()))
    }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  private val wall0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** A wall-clock millisecond on the span clock. */
  def nsOf(wallMs: Long): Long = nano0 + (wallMs - wall0Ms) * 1000000L

  /** Spark jobs as `exec` spans, each under the innermost span that was
    * open when it started (a query's build or sink, a notify batch). */
  def attachJobs(jobs: Seq[(Long, Long)]): Unit = if (enabled) {
    val open = all.filter(_.name != "measure")
    jobs.foreach { case (startMs, endMs) =>
      val (a, b) = (nsOf(startMs), nsOf(endMs))
      open.filter(s => s.startNs <= a && a < s.endNs).minByOption(_.durNs).foreach { p =>
        add(Span(nextId(), p.id, "job", "exec", p.req, a, math.min(b, p.endNs)))
      }
    }
  }
}

object Tracer {
  /** Spark's own micro-batch id property (set on every trigger's jobs). */
  val BatchKey = "streaming.sql.batchId"
}

/** Scheduler, executor, shuffle, spill and I/O counters from Spark's
  * public listener feed; tasks are also counted per micro-batch, and every
  * job's start and end is kept for the trace. */
final class ExecListener extends SparkListener {
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val tasksByTag = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  var jobs, stages, tasks = 0L
  var schedulerDelayMs, taskRunMs, taskCpuNs, gcMs = 0L
  var peakMemoryBytes = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords, fetchWaitMs = 0L
  var spillBytes, inputBytes, outputBytes = 0L
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (start, end) wall ms of every finished job. */
  val jobTimes = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart.put(e.jobId, e.time)
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.BatchKey)))
      .foreach(b => e.stageIds.foreach(stageTag.put(_, s"batch:$b")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t => jobTimes.add((t, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(stageTag.get(e.stageId)).foreach { t =>
      tasksByTag.computeIfAbsent(t, _ => new AtomicLong()).incrementAndGet()
    }
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      peakMemoryBytes = math.max(peakMemoryBytes, m.peakExecutionMemory)
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
      if (i != null && i.finishTime > 0)
        schedulerDelayMs += math.max(0L, (i.finishTime - i.launchTime) -
          m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
    }
  }

  def reset(): Unit = synchronized {
    stageTag.clear(); tasksByTag.clear(); jobStart.clear(); jobTimes.clear()
    jobs = 0; stages = 0; tasks = 0
    schedulerDelayMs = 0; taskRunMs = 0; taskCpuNs = 0; gcMs = 0
    peakMemoryBytes = 0
    shuffleWriteBytes = 0; shuffleReadBytes = 0; shuffleRecords = 0; fetchWaitMs = 0
    spillBytes = 0; inputBytes = 0; outputBytes = 0
  }

  def tasksFor(tag: String): Long =
    Option(tasksByTag.get(tag)).map(_.get).getOrElse(0L)

  def metrics: Map[String, Double] = synchronized(Map(
    "exec.jobs" -> jobs.toDouble, "exec.stages" -> stages.toDouble,
    "exec.tasks" -> tasks.toDouble,
    "exec.scheduler_delay_ms" -> schedulerDelayMs.toDouble,
    "exec.task_run_ms" -> taskRunMs.toDouble,
    "exec.task_cpu_ms" -> taskCpuNs / 1e6, "exec.gc_ms" -> gcMs.toDouble,
    "exec.peak_memory_mb" -> peakMemoryBytes / 1048576.0,
    "shuffle.write_bytes" -> shuffleWriteBytes.toDouble,
    "shuffle.read_bytes" -> shuffleReadBytes.toDouble,
    "shuffle.records" -> shuffleRecords.toDouble,
    "shuffle.fetch_wait_ms" -> fetchWaitMs.toDouble,
    "spill.bytes" -> spillBytes.toDouble,
    "io.input_bytes" -> inputBytes.toDouble,
    "io.output_bytes" -> outputBytes.toDouble))
}

/** Catalyst phase times (analysis, optimization, physical planning) of
  * every action, from each QueryExecution's planning tracker. */
final class PlanListener extends QueryExecutionListener {
  private val totals = mutable.Map("analysis" -> 0.0, "optimization" -> 0.0,
    "planning" -> 0.0)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      if (totals.contains(phase)) totals(phase) += s.durationMs.toDouble
    }
  }

  def reset(): Unit = synchronized(totals.keys.foreach(totals(_) = 0.0))

  def metrics: Map[String, Double] = synchronized(Map(
    "plan.analysis_ms" -> totals("analysis"),
    "plan.optimization_ms" -> totals("optimization"),
    "plan.planning_ms" -> totals("planning")))
}

/** The Spark-side probes of a traced run. Both calls drain the listener
  * bus first, so the counts cover exactly the timed region. */
final class Probes(val exec: ExecListener, val plan: PlanListener) {
  def reset(sc: org.apache.spark.SparkContext): Unit = {
    org.apache.spark.sql.GraftShims.drainListenerBus(sc)
    exec.reset(); plan.reset()
  }

  /** Counters so far, per unit of work (a pass); peak memory stays a peak. */
  def snapshot(sc: org.apache.spark.SparkContext, units: Double = 1.0): Map[String, Double] = {
    org.apache.spark.sql.GraftShims.drainListenerBus(sc)
    (exec.metrics ++ plan.metrics).map {
      case (k, v) if k == "exec.peak_memory_mb" => k -> v
      case (k, v) => k -> v / units
    }
  }
}

/** Every micro-batch progress report, with the wall time it arrived. */
final class ProgressListener extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add((System.currentTimeMillis(), e.progress))
  def all: Seq[(Long, StreamingQueryProgress)] = events.asScala.toSeq
}
