package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Scale
import graft.tools.HttpServe
import graft.transit.{QueryService, Timetable, TransitTables}

/** What the timed phase of a serve workload runs against. */
final case class Serving(svc: QueryService, docs: DataFrame,
    handle: HttpServe.ServingHandle)

/** The setup: a session sized like the engine's own entry points, the
  * Scale grid, and on serve workloads the serving state HttpServe.main
  * builds. `spans` are the per-step milliseconds. */
final case class SetupRound(spark: SparkSession, serving: Option[Serving],
    spans: Map[String, Double], trace: Option[Trace], jobs: Int)

object Setup {

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Batch sessions mirror `graft.Bench`; serve sessions mirror
    * `HttpServe.main` (4 reducers, FAIR pool). Both run `local[cpus]`. */
  def session(serve: Boolean, cpus: Int, data: String, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
    val s =
      if (serve) b.config("spark.sql.shuffle.partitions", "4")
        .config("spark.scheduler.mode", "FAIR").getOrCreate()
      else b.config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
          Scale.initialShufflePartitions(data, cpus).toString)
        .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run the setup. `withCache` is passed to `HttpServe.start` on serve
    * workloads. */
  def round(serve: Boolean, withCache: Option[Boolean], cpus: Int,
      data: String, work: String, traced: Boolean): SetupRound = {
    val spans = scala.collection.mutable.LinkedHashMap[String, Double]()
    def span[A](name: String)(f: => A): A = {
      val s = System.nanoTime()
      val r = f
      spans(name) = ms(s)
      r
    }
    val wall0 = System.currentTimeMillis()
    val spark = span("session_ms")(session(serve, cpus, data, work))
    val trace = if (traced) { val t = new Trace(spark); t.start(); Some(t) } else None
    span("scale_tune_ms")(Scale.tuneSessionGrid(spark, data))
    val serving = if (!serve) None else {
      val t = span("transit_tables_ms")(TransitTables.fromTpch(spark, data))
      val snapDir = s"$work/snapshots"
      span("snapshots_ms")(QueryService.buildAnalyticsSnapshots(t, snapDir))
      val svc = new QueryService(t, Some(snapDir), cacheSnapshots = true)
      // the serving copy HttpServe.main builds: 4 partitions, cached
      val docs = span("store_ms")(Timetable.buildStopTimetables(t).coalesce(4).cache())
      val handle = span("listener_ms")(HttpServe.start(svc, docs, 0, withCache))
      Some(Serving(svc, docs, handle))
    }
    val jobs = trace.map { t => t.drain(); t.jobsIn(wall0, System.currentTimeMillis()).size }
      .getOrElse(0)
    SetupRound(spark, serving, spans.toMap, trace, jobs)
  }

  def teardown(r: SetupRound): Unit = {
    r.serving.foreach(_.handle.stop(0))
    r.trace.foreach(_.stop())
    r.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Heap in use after a full collection, in MiB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
