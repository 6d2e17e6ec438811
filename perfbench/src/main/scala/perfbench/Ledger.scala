package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark's public scheduler and query-execution events while a
  * traced pass runs: jobs, stages, per-stage task-metric sums, SQL
  * execution intervals and Catalyst planning phases. Attribution to the
  * benchmark's ops is by time window (one client thread submits one op
  * at a time), so nothing inside the engine is instrumented.
  */
final class Ledger extends SparkListener with QueryExecutionListener {
  import Ledger._

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  val sqls = new ConcurrentHashMap[Long, Sql]()
  val plans = new ConcurrentHashMap[Long, Plan]()
  private val jobStarts = new AtomicLong
  private val jobEnds = new AtomicLong
  @volatile private var lastEvent = System.nanoTime

  private def touch(): Unit = lastEvent = System.nanoTime

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs.put(e.jobId, Job(e.jobId, e.time, exec, e.stageIds))
    jobStarts.incrementAndGet(); touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    jobEnds.incrementAndGet(); touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stages.computeIfAbsent((i.stageId, i.attemptNumber()),
      _ => new Stage(i.stageId, i.attemptNumber()))
    s.synchronized {
      s.submitted = i.submissionTime.getOrElse(0L)
      s.completed = i.completionTime.getOrElse(0L)
    }
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.computeIfAbsent((e.stageId, e.stageAttemptId),
      _ => new Stage(e.stageId, e.stageAttemptId))
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      s.durations += e.taskInfo.duration
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.deserMs += m.executorDeserializeTime
        s.gcMs += m.jvmGCTime
        s.resultBytes += m.resultSize
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    touch()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqls.computeIfAbsent(s.executionId, id => Sql(id)).start = s.time
      touch()
    case s: SparkListenerSQLExecutionEnd =>
      sqls.computeIfAbsent(s.executionId, id => Sql(id)).end = s.time
      touch()
    case _ =>
  }

  // QueryExecution ids are not SQL execution ids, so plans are matched to
  // ops by the start time of their first phase
  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    if (p.nonEmpty) plans.put(qe.id, Plan(qe.id,
      p.values.map(_.startTimeMs).min, p.values.map(_.endTimeMs).max,
      ms("analysis"), ms("optimization"), ms("planning")))
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)

  /** Blocks until every started job has ended and no event arrived for
    * quietMs (the listener bus delivers asynchronously).
    */
  def drain(quietMs: Long = 300, maxMs: Long = 20000): Unit = {
    val t0 = System.nanoTime
    def quiet = (System.nanoTime - lastEvent) / 1000000 >= quietMs
    while ((jobEnds.get < jobStarts.get || !quiet) &&
        (System.nanoTime - t0) / 1000000 < maxMs)
      Thread.sleep(50)
  }
}

object Ledger {
  final case class Job(id: Int, start: Long, exec: Option[Long],
      stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }

  final class Stage(val id: Int, val attempt: Int) {
    var submitted, completed = 0L
    var tasks = 0
    val durations = mutable.ArrayBuffer.empty[Long]
    var runMs, cpuNs, deserMs, gcMs, resultBytes = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var inputBytes, inputRows, outputBytes = 0L
  }

  final case class Sql(id: Long) {
    @volatile var start, end = -1L
  }

  /** Catalyst phases of one executed QueryExecution. */
  final case class Plan(id: Long, start: Long, end: Long, analysisMs: Long,
      optimizeMs: Long, physicalMs: Long)

  /** Total length of the union of [start, end) intervals, clipped to
    * [lo, hi).
    */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0L
    var open = false
    for ((a, b) <- clipped) {
      if (open && a <= curB) curB = math.max(curB, b)
      else {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      }
    }
    if (open) total += curB - curA
    total
  }
}
