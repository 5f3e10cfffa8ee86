package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Harness entry point, launched by `perfbench/run.py`.
  *
  *   --mode registry --out F    write the face names and oracle SQL as JSON
  *   --mode run --workload W --seconds S --trace 0|1 --data DIR
  *       --inputs FILE --out DIR --cpus N --clients C
  *
  * A run writes `ops.tsv` (one line per attempted operation) and
  * `run.json` (setup time, heap, window length and, when traced, the
  * per-layer figures). Judging outputs and computing the end-to-end
  * metrics is left to run.py. */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a("mode") match {
      case "registry" => registry(a("out"))
      case "run"      => run(a)
      case m          => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  private def registry(out: String): Unit =
    Json.write(out, Map(
      "faces" -> graft.SparkEntry.queries.keys.toSeq.sorted,
      "oracle" -> graft.SparkEntry.oracleSql))

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val serve = workload != "batch_faces"
    val traced = a("trace") == "1"
    val data = a("data")
    val out = a("out")
    val cpus = a("cpus").toInt
    val clients = a("clients").toInt
    val seconds = a("seconds").toDouble
    val lines = scala.io.Source.fromFile(a("inputs"), "UTF-8").getLines().toVector
    def field(k: String) = lines.filter(_.startsWith(k + " ")).map(_.drop(k.length + 1))
    val faces = field("face")
    val pool = field("request")
    val sequence = field("sequence").flatMap(_.split(",")).map(_.toInt)
    val work = s"$out/work"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))

    // setup_s runs from process start to the first timed operation: the
    // setup proper, then the untimed phase that warms the JVM. The heap is
    // read between the two, after full collections whose time is left out.
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val withCache = if (workload == "serve_live") Some(false) else None
    val setup = Setup.round(serve, withCache, cpus, data, work, traced)
    val spark = setup.spark
    Out.log(setup.spans.map { case (k, v) => f"$k ${v / 1e3}%.1f s" }.mkString("setup: ", ", ", ""))
    val heap0 = System.currentTimeMillis()
    val residentMb = Setup.heapAfterGcMb()
    val heapMs = System.currentTimeMillis() - heap0
    val refreshing = workload == "serve_cached_refresh"
    val warm = if (serve) Right(Serve.warm(spark, setup.serving.get, pool, sequence, clients,
      refreshing))
    else Left(Batch.untimed(spark, data, faces, graft.SparkEntry.queries, out))
    val setupMs = (System.currentTimeMillis() - processStart - heapMs).toDouble
    Out.log(f"setup $setupMs%.0f ms")
    val (gc0, gcn0) = gcTotals()

    val (recs, windowMs, refreshMs, layers, requestPathJobs) = warm match {
      case Left(untimed) =>
        val r = Batch.timed(spark, data, faces, graft.SparkEntry.queries, seconds, setup.trace)
        (untimed ++ r.recs, r.windowMs, Nil, r.layers, Nil)
      case Right(w) =>
        val r = Serve.timed(spark, setup.serving.get, pool, sequence, w, clients, seconds,
          refreshing, setup.trace)
        (w.recs ++ r.recs, r.windowMs, r.refreshMs, r.layers, r.requestPathJobs)
    }
    val (gc1, gcn1) = gcTotals()

    val setupLayers: Map[String, Double] = if (!traced) Map.empty else {
      val serving = setup.serving.map { s =>
        val client = Serve.newClient()
        val (_, body) = Serve.fetch(client, s.handle.port, "/servez")
        val entries = "\"store_entries\":(\\d+)".r
          .findFirstMatchIn(new String(body, "UTF-8")).map(_.group(1).toDouble).getOrElse(0.0)
        Map("setup.store_entries" -> entries,
          "setup.snapshot_bytes" -> Setup.dirBytes(s"$work/snapshots").toDouble)
      }.getOrElse(Map.empty)
      setup.spans.map { case (k, v) => s"setup.$k" -> v } ++ serving ++
        Map("setup.jobs" -> setup.jobs.toDouble)
    }
    val jvm = if (!traced) Map.empty[String, Double] else Map(
      "jvm.gc_ms" -> (gc1 - gc0).toDouble,
      "jvm.gc_count" -> (gcn1 - gcn0).toDouble,
      "jvm.heap_after_gc_mb" -> Setup.heapAfterGcMb())

    OpRec.write(s"$out/ops.tsv", recs)
    Json.write(s"$out/run.json", Map(
      "workload" -> workload,
      "cpus" -> cpus,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "setup_ms" -> setupMs,
      "resident_heap_mb" -> residentMb,
      "window_ms" -> windowMs,
      "refresh_ms" -> refreshMs,
      "layers" -> (layers ++ setupLayers ++ jvm)) ++
      (if (traced && serve) Map("request_path_jobs" -> requestPathJobs) else Map.empty))
    Out.log("results written")
    Setup.teardown(setup)
    Out.log("stopped")
  }
}
