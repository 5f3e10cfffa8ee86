package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, Session, SparkEntry}
import graft.transit.{QueryService, TransitTables}

/** Per-face execution profile in the board's own engine (local iteration;
  * not part of the driver contract). Each named face runs cold, then twice
  * warm, exactly as `graft.Bench` times it (its session profile, quiesce,
  * noop sink and min-of-2 warm), and prints one line:
  *  - cold seconds, warm seconds (the min of the two warm runs) and both
  *    warm runs' seconds;
  *  - the last run's jobs, their summed wall time and the driver gap (its
  *    seconds minus summed job time: planning, eager driver-side work, the
  *    sink) — "few big jobs" means optimize the plan, "many tiny jobs" the
  *    round structure;
  *  - analysis ms from the face frame's `QueryExecution.tracker` (a
  *    Dataset is analyzed as it is built), optimizer and planning ms from
  *    the sink's (it is optimized and planned as it runs);
  *  - Exchange, Scan parquet, ExistingRDD, ReusedExchange and
  *    InMemoryTableScan counts from the AQE-final executed plan, whose
  *    formatted text goes to `target/explain/<face>.txt` (`:` becomes `_`).
  *
  * Besides registered faces, `snapshot_build:<q>` names the tagged frame
  * one analytics snapshot build writes (`QueryService.snapshotFrame`, `q`
  * one of `QueryService.SnapshotTables`), so the build itself can be
  * profiled.
  *
  * Usage: `runMain graft.tools.Explain <face...>` */
object Explain extends AdaptiveSparkPlanHelper {

  private val Kinds =
    Seq("exchange", "scan_parquet", "existing_rdd", "reused_exchange", "in_memory_scan")

  private def kindOf(p: SparkPlan): Option[String] = p.getClass.getSimpleName match {
    case "ReusedExchangeExec" => Some("reused_exchange")
    case n if n.endsWith("ExchangeExec") => Some("exchange")
    case "FileSourceScanExec" if p.nodeName.toLowerCase.contains("parquet") =>
      Some("scan_parquet")
    case "RDDScanExec" => Some("existing_rdd")
    case "InMemoryTableScanExec" => Some("in_memory_scan")
    case _ => None
  }

  private def frameFor(name: String): Option[(SparkSession, String) => DataFrame] =
    name.split(":", 2) match {
      case Array("snapshot_build", q) if QueryService.SnapshotTables.contains(q) =>
        Some((spark, sfDir) => QueryService.snapshotFrame(TransitTables.fromTpch(spark, sfDir), q))
      case _ => SparkEntry.queries.get(name)
    }

  def main(args: Array[String]): Unit = {
    val unknown = args.filter(frameFor(_).isEmpty)
    require(args.nonEmpty && unknown.isEmpty,
      s"usage: Explain <face|snapshot_build:q...> (unknown: ${unknown.mkString(", ")})")
    val sfDir = Session.sfDir
    val spark = Session.batch(sfDir)
    val sc = spark.sparkContext
    val jobStarts = new ConcurrentHashMap[Int, Long]()
    val jobSecs = new ConcurrentLinkedQueue[Double]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStarts.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(e.jobId)).foreach(t0 => jobSecs.add((e.time - t0) / 1e3))
    })
    // the sink is each run's last action, so its execution is the last seen
    val sinkQe = new AtomicReference[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        sinkQe.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val outDir = Files.createDirectories(Paths.get("target/explain"))

    def ms(qe: QueryExecution, phase: String) =
      qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L)
    for (face <- args) {
      val fn = frameFor(face).get
      // (seconds, the face frame's analysis ms)
      def run(): (Double, Long) = {
        Bench.quiesce()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val analysisMs = ms(df.queryExecution, "analysis")
        df.write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        GraftBus.drain(sc)
        (secs, analysisMs)
      }
      val (cold, _) = run()
      val (warm1, _) = run()
      jobSecs.clear()
      sinkQe.set(null)
      val (warm2, analysisMs) = run()
      val qe = sinkQe.get
      val sumJob = jobSecs.asScala.sum
      val kinds = collectWithSubqueries(qe.executedPlan) { case p => kindOf(p) }.flatten
      println(f"[explain] $face cold=$cold%.3f warm=${math.min(warm1, warm2)}%.3f " +
        f"warm_runs=$warm1%.3f,$warm2%.3f jobs=${jobSecs.size} " +
        f"sum_job=$sumJob%.3f gap=${warm2 - sumJob}%.3f " +
        s"analysis_ms=$analysisMs optimizer_ms=${ms(qe, "optimization")} " +
        s"planning_ms=${ms(qe, "planning")} " +
        Kinds.map(k => s"$k=${kinds.count(_ == k)}").mkString(" "))
      Files.write(outDir.resolve(s"${face.replace(':', '_')}.txt"),
        (s"== $face (warm, sf=$sfDir) ==\n" + qe.explainString(FormattedMode))
          .getBytes(UTF_8))
    }
    spark.stop()
  }
}
