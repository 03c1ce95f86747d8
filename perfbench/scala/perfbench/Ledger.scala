package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it (times in epoch ms). */
final case class JobRec(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** One completed stage attempt with its tasks' durations (ms). */
final case class StageRec(id: Int, attempt: Int, startMs: Long, endMs: Long,
    taskMs: Seq[Long])

/** Node counts of one query's final (post-AQE) physical plan. */
final case class PlanCounts(exchanges: Int, broadcasts: Int, smj: Int, shj: Int, bhj: Int) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(exchanges + o.exchanges,
    broadcasts + o.broadcasts, smj + o.smj, shj + o.shj, bhj + o.bhj)
}
object PlanCounts {
  val zero: PlanCounts = PlanCounts(0, 0, 0, 0, 0)

  /** Counts over the executed plan, descending through AQE wrappers,
    * query stages and subqueries. A reused exchange runs no work and is
    * not counted again. */
  def of(plan: SparkPlan): PlanCounts = plan match {
    case a: AdaptiveSparkPlanExec => of(a.executedPlan)
    case q: QueryStageExec => of(q.plan)
    case _: ReusedExchangeExec => zero
    case p =>
      val self = p match {
        case _: ShuffleExchangeExec => PlanCounts(1, 0, 0, 0, 0)
        case _: BroadcastExchangeExec => PlanCounts(0, 1, 0, 0, 0)
        case _: SortMergeJoinExec => PlanCounts(0, 0, 1, 0, 0)
        case _: ShuffledHashJoinExec => PlanCounts(0, 0, 0, 1, 0)
        case _: BroadcastHashJoinExec => PlanCounts(0, 0, 0, 0, 1)
        case _ => zero
      }
      (p.children ++ p.subqueries).map(of).foldLeft(self)(_ + _)
  }
}

/** Everything the listeners recorded for one operation. */
final case class OpLedger(jobs: Seq[JobRec], stages: Seq[StageRec],
    tasks: Int, runMs: Long, shuffleWriteB: Long, shuffleReadB: Long,
    spillB: Long, resultB: Long, inputB: Long, outputB: Long, plans: PlanCounts)

/** The benchmark's own SparkListener and QueryExecutionListener. Events
  * arrive on Spark's listener thread and are buffered; [[take]] drains
  * the bus and hands back what one operation produced. Nothing here runs
  * inside a timed region: the bus is asynchronous and drained only
  * between operations. */
final class Ledger(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobStarts = new ConcurrentLinkedQueue[(Int, Long, Seq[Int])]
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]
  private val stages = new ConcurrentLinkedQueue[StageInfo]
  private val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]
  private val plans = new ConcurrentLinkedQueue[PlanCounts]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.add((e.jobId, e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add((e.jobId, e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.add(e)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add(PlanCounts.of(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    take()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val out = mutable.ArrayBuffer.empty[T]
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.toSeq
  }

  /** Drains the listener bus and returns the events since the last call. */
  def take(): OpLedger = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    val ends = drain(jobEnds).toMap
    val js = drain(jobStarts).map { case (id, t0, sids) =>
      JobRec(id, t0, ends.getOrElse(id, t0), sids) }
    val tk = drain(tasks)
    val byStage = tk.groupBy(t => (t.stageId, t.stageAttemptId))
    val st = drain(stages).map { s =>
      StageRec(s.stageId, s.attemptNumber(),
        s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
        byStage.getOrElse((s.stageId, s.attemptNumber()), Nil).map(_.taskInfo.duration))
    }
    val ms = tk.flatMap(t => Option(t.taskMetrics))
    OpLedger(js, st, tk.size,
      ms.map(_.executorRunTime).sum,
      ms.map(_.shuffleWriteMetrics.bytesWritten).sum,
      ms.map(m => m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).sum,
      ms.map(m => m.memoryBytesSpilled + m.diskBytesSpilled).sum,
      ms.map(_.resultSize).sum,
      ms.map(_.inputMetrics.bytesRead).sum,
      ms.map(_.outputMetrics.bytesWritten).sum,
      drain(plans).foldLeft(PlanCounts.zero)(_ + _))
  }
}

object Ledger {
  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Max over median task duration in the stage with the most tasks
    * (ties: the longest stage). 1.0 when there is no multi-task stage. */
  def taskSkew(stages: Seq[StageRec]): Double = {
    val multi = stages.filter(_.taskMs.size > 1)
    if (multi.isEmpty) 1.0
    else {
      val w = multi.maxBy(s => (s.taskMs.size, s.endMs - s.startMs))
      val med = Stats.median(w.taskMs.map(_.toDouble))
      if (med <= 0) 1.0 else w.taskMs.max / med
    }
  }
}
