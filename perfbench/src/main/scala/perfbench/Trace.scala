package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the scheduler reported it. `group` is the job group the
  * harness set on the submitting thread (empty for engine threads); `site`
  * is Spark's short call site of the action. */
final case class JobEv(id: Int, start: Long, var end: Long, group: String,
    site: String, stages: Seq[Int])

final case class StageEv(id: Int, end: Long, tasks: Int, failed: Boolean)

final case class TaskEv(end: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shReadB: Long, shWriteB: Long, spillB: Long, inB: Long, outB: Long,
    failed: Boolean)

/** One finished query execution: its planning phases (wall-clock bounds
  * from `qe.tracker`) and node counts of its executed plan. */
final case class QeEv(end: Long, analysisMs: Long, optimizerMs: Long,
    planningMs: Long, planStart: Long, planEnd: Long, nodes: Map[String, Int])

/** Spans recorded from outside the engine: a SparkListener for jobs,
  * stages and tasks, a QueryExecutionListener for planning phases and
  * plan shape. Events are kept in memory and aggregated per time window
  * once the window's events have been delivered. */
final class Trace(spark: SparkSession) {
  val jobs = new ConcurrentLinkedQueue[JobEv]()
  val stages = new ConcurrentLinkedQueue[StageEv]()
  val tasks = new ConcurrentLinkedQueue[TaskEv]()
  val qes = new ConcurrentLinkedQueue[QeEv]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobEv]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val j = JobEv(e.jobId, e.time, -1L, prop("spark.jobGroup.id"), prop("callSite.short"),
        e.stageIds)
      open.put(e.jobId, j)
      jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(open.remove(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageEv(i.stageId, i.completionTime.getOrElse(System.currentTimeMillis()),
        i.numTasks, i.failureReason.isDefined))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val failed = e.taskInfo.failed || e.taskInfo.killed
      if (m == null) tasks.add(TaskEv(e.taskInfo.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, failed))
      else tasks.add(TaskEv(e.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, failed))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val starts = ph.values.map(_.startTimeMs)
    val ends = ph.values.map(_.endTimeMs)
    val nodes = try Trace.nodeCounts(qe.executedPlan) catch { case _: Exception => Map.empty[String, Int] }
    qes.add(QeEv(System.currentTimeMillis(), ms("analysis"), ms("optimization"),
      ms("planning"), if (starts.isEmpty) 0L else starts.min,
      if (ends.isEmpty) 0L else ends.max, nodes))
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def jobsIn(t0: Long, t1: Long): Seq[JobEv] =
    jobs.asScala.filter(j => j.start >= t0 && j.start <= t1).toSeq
  def qesIn(t0: Long, t1: Long): Seq[QeEv] =
    qes.asScala.filter(q => q.planEnd >= t0 && q.planEnd <= t1).toSeq
}

object Trace extends AdaptiveSparkPlanHelper {
  val NodeKinds: Seq[String] =
    Seq("exchange", "parquet_scan", "existing_rdd", "reused_exchange", "in_memory_scan")

  /** Counts of the plan nodes the per-layer metrics name, walking through
    * adaptive query stages and subqueries. */
  def nodeCounts(plan: SparkPlan): Map[String, Int] = {
    val kinds = collectWithSubqueries(plan) { case p => kindOf(p) }.flatten
    NodeKinds.map(k => k -> kinds.count(_ == k)).toMap
  }

  private def kindOf(p: SparkPlan): Option[String] = {
    val n = p.getClass.getSimpleName
    if (n == "ReusedExchangeExec") Some("reused_exchange")
    else if (n.endsWith("ExchangeExec")) Some("exchange")
    else if (n == "FileSourceScanExec" && p.nodeName.toLowerCase.contains("parquet"))
      Some("parquet_scan")
    else if (n == "RDDScanExec") Some("existing_rdd")
    else if (n == "InMemoryTableScanExec") Some("in_memory_scan")
    else None
  }

  /** Length of the union of [start, end] intervals, each clipped to
    * [t0, t1]. */
  def unionMs(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (a, b) =>
      if (curE < 0 || a > curE) {
        if (curE >= 0) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE >= 0) total += curE - curS
    total
  }
}
