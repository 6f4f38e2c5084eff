package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval around a call the benchmark makes into a layer. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def contains(ms: Long): Boolean = startMs <= ms && ms <= endMs
}

/** Spans kept in memory for the whole run. Spans are opened only while
  * `on` is set, so an untraced operation pays one branch per call.
  */
final class Tracer {
  @volatile var on = false
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var op = -1

  def beginOp(index: Int): Unit = op = index

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  /** Innermost span open at wall-clock time `ms`. Exact with one client:
    * every job and query execution starts inside the call that caused it.
    */
  def at(ms: Long): Option[Span] =
    spans.filter(_.contains(ms)).maxByOption(s => (s.startNs, s.id))
}

/** A job and the call site that caused it. Jobs of a SQL execution take
  * the call site of the action that started the execution, captured on
  * the calling thread; a job's own stage call site may name a pool thread.
  */
final case class JobRec(id: Int, submitMs: Long, callSite: String, longCallSite: String,
    stages: Seq[Int], var endMs: Long = -1L) {
  /** A sink job writes table files: its call site is a `DataFrameWriter` action. */
  def isSink: Boolean = longCallSite.contains("DataFrameWriter")
}

final case class TaskRec(stage: Int, wallMs: Long, shuffleReadB: Long,
    shuffleWriteB: Long, spillB: Long, outputB: Long)

final case class PlanRec(startMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)

/** Listener the traced run registers: job, task and query-planning
  * records with their wall-clock times, attributed to spans afterwards.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  // SQL execution id -> (short, long) call site of the action behind it.
  private val executions = new ConcurrentHashMap[Long, (String, String)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, (s.description, s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val last = e.stageInfos.maxByOption(_.stageId)
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executions.get(id.toLong)))
      .getOrElse((last.fold("")(_.name), last.fold("")(_.details)))
    jobs.put(e.jobId, JobRec(e.jobId, e.time, site._1, site._2, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.stageId, e.taskInfo.duration,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.outputMetrics.bytesWritten))
  }

  private def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      def ms(p: String) = ph.get(p).fold(0L)(_.durationMs)
      plans.add(PlanRec(ph.values.map(_.startTimeMs).min,
        ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** Samples used heap every 20 ms while running; reports the peak. */
final class HeapSampler extends Thread("perfbench-heap-sampler") {
  setDaemon(true)
  @volatile private var running = true
  @volatile var peakBytes = 0L
  private val mem = ManagementFactory.getMemoryMXBean

  override def run(): Unit =
    while (running) {
      peakBytes = math.max(peakBytes, mem.getHeapMemoryUsage.getUsed)
      Thread.sleep(20)
    }

  def finish(): Long = { running = false; join(); peakBytes }
}

object Jvm {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Peak resident set of this process (VmHWM), in MiB; 0 off Linux. */
  def rssPeakMb(): Double =
    try {
      val line = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
      line.fold(0.0)(_.split("\\s+")(1).toDouble / 1024.0)
    } catch { case _: Exception => 0.0 }
}
