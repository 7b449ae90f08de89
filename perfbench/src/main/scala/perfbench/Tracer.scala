package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed interval at a boundary the benchmark calls into.
  * `trace` is shared by every span of one query execution. Times are
  * microseconds on the epoch clock, so they line up with Spark's job and
  * task timestamps. */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
    startUs: Long, var endUs: Long = -1L) {
  def durUs: Long = endUs - startUs
}

/** What the final (post-AQE) plan of one timed collect looked like. */
final case class PlanFacts(exchanges: Int, broadcastJoins: Int,
    sortMergeJoins: Int, joinRows: Long)

final case class JobRec(id: Int, span: Int, startMs: Long, var endMs: Long,
    stages: Seq[Int])

final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
    shuffleReadRecords: Long, spillBytes: Long, inputRecords: Long,
    inputBytes: Long, failed: Boolean)

/** Spans recorded around the harness's calls, plus what Spark reports
  * beneath them. Everything is held in memory and written out at exit. */
final class Tracer {
  val SpanProperty = "perfbench.span"
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)

  /** Opens a span; `trace` < 0 starts a new trace named by the span's id. */
  def open(name: String, parent: Int, trace: Int): Span = {
    val id = ids.incrementAndGet()
    val s = Span(id, name, parent, if (trace < 0) id else trace, nowUs)
    spans += s
    s
  }
  def close(s: Span): Span = { s.endUs = nowUs; s }

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val completedStages = new ConcurrentLinkedQueue[Int]()

  val sparkListener: SparkListener = new SparkListener {
    private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(-1)
      val j = JobRec(e.jobId, span, e.time, -1L, e.stageIds)
      open.put(e.jobId, j)
      jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(open.remove(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      completedStages.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      tasks.add(if (m == null)
        TaskRec(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0,
          e.reason != Success)
      else TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.recordsRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead, e.reason != Success))
    }
  }

  private val plans = new java.util.concurrent.ConcurrentHashMap[QueryExecution, PlanFacts]()

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.put(qe, Tracer.facts(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** The final plan's facts for `qe`. Query-execution callbacks arrive on
    * Spark's listener thread, so wait (outside any timed span) until this
    * execution has been reported. */
  def awaitPlan(qe: QueryExecution, timeoutMs: Long = 5000): Option[PlanFacts] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!plans.containsKey(qe) && System.currentTimeMillis() < deadline) Thread.sleep(2)
    val facts = Option(plans.get(qe))
    plans.clear()
    facts
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  def facts(plan: SparkPlan): PlanFacts = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val joins = nodes.collect { case j: BaseJoinExec => j }
    PlanFacts(
      exchanges = nodes.count(_.isInstanceOf[Exchange]),
      broadcastJoins = joins.count(j =>
        j.isInstanceOf[BroadcastHashJoinExec] || j.isInstanceOf[BroadcastNestedLoopJoinExec]),
      sortMergeJoins = joins.count(_.isInstanceOf[SortMergeJoinExec]),
      joinRows = joins.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
  }

  /** Length of [lo, hi) covered by the union of `intervals`. */
  def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}
