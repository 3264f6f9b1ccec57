package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. Times are epoch microseconds; `key` ties the spans
  * of one statement (its handle) or one operator call together. */
final case class Span(id: Long, parent: Long, name: String, key: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store, written out when the run ends. Nothing is
  * recorded while `on` is false, so the listeners stay installed but idle
  * through the untraced rounds of a traced run. Registered counters sum
  * their growth over the stretches with tracing on. */
object Tracer {
  @volatile private var tracing = false
  private val counters = scala.collection.mutable.LinkedHashMap.empty[String, () => Long]
  private val atOn = scala.collection.mutable.Map.empty[String, Long]
  private val sums = scala.collection.mutable.Map.empty[String, Long]
  val spans = new ConcurrentLinkedQueue[Span]()

  def on: Boolean = tracing

  /** Runs before every switch. */
  @volatile var beforeSwitch: () => Unit = () => ()

  /** Switches tracing; the counters are read at each switch. */
  def set(on: Boolean): Unit = synchronized {
    if (on != tracing) beforeSwitch()
    if (on && !tracing) counters.foreach { case (k, read) => atOn(k) = read() }
    if (!on && tracing) counters.foreach { case (k, read) =>
      sums(k) = sums.getOrElse(k, 0L) + read() - atOn(k)
    }
    tracing = on
  }

  /** Counts `read`'s growth while tracing is on, from now. */
  def count(name: String)(read: => Long): Unit = synchronized {
    counters(name) = () => read
    sums(name) = 0L
  }

  /** Growth of counter `name` over the traced stretches. */
  def counted(name: String): Long = synchronized(sums.getOrElse(name, 0L))
  private val ids = new AtomicLong(0)
  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()

  def usOf(nanoTime: Long): Long = epochUs0 + (nanoTime - nano0) / 1000

  def record(name: String, startNs: Long, endNs: Long, key: String, parent: Long): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, name, key, usOf(startNs), usOf(endNs)))
    id
  }

  def snapshot: Seq[Span] = spans.asScala.toSeq

  /** Length of the part of [start, end) covered by `intervals`. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = 0L; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Per-stage totals summed from task-end events. */
final class StageRec(val stageId: Int, val jobId: Int, val submitMs: Long) {
  @volatile var completeMs = 0L
  var tasks = 0
  var failedTasks = 0
  var taskRunMs = 0L
  var schedWaitMs = 0L // task launch minus stage submission, summed
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteNs = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var inputRecords = 0L
}

final case class JobRec(jobId: Int, group: String, executionId: Long, startMs: Long) {
  @volatile var endMs = 0L
}

/** Job, stage and task events, kept while [[Tracer.on]]. The job group
  * (`graft-stmt-<handle>-<attempt>` for engine statements) links each job
  * back to the client's statement span. */
final class SparkTraceListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  /** SQL execution id → id of its QueryExecution. */
  val execToQe = new ConcurrentHashMap[Long, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd if Tracer.on =>
      org.apache.spark.sql.perfbench.SqlEvents.queryExecutionId(end)
        .foreach(execToQe.put(end.executionId, _))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Tracer.on) {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, JobRec(e.jobId, group, exec, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (Tracer.on) {
    val i = e.stageInfo
    val job = Option(stageJob.get(i.stageId)).map(_.intValue).getOrElse(-1)
    stages.put(i.stageId, new StageRec(i.stageId, job,
      i.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach(_.completeMs =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { s =>
      s.synchronized {
        s.tasks += 1
        if (!e.taskInfo.successful) s.failedTasks += 1
        s.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
        Option(e.taskMetrics).foreach { m =>
          s.taskRunMs += m.executorRunTime
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.gcMs += m.jvmGCTime
          s.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
}

/** Planning-phase times from `qe.tracker`, keyed by `qe.id`; the
  * [[SparkTraceListener]] maps SQL execution ids (which jobs carry as
  * `spark.sql.execution.id`) to these. Installed through
  * `spark.sql.queryExecutionListeners`. */
final class PlanTraceListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Tracer.on) PlanTraceListener.plans.put(qe.id,
      qe.tracker.phases.map { case (k, v) => k -> ((v.startTimeMs, v.endTimeMs)) })
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanTraceListener {
  /** QueryExecution id → phase → (start ms, end ms). */
  val plans = new ConcurrentHashMap[Long, Map[String, (Long, Long)]]()
}
