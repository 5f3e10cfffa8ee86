package graft.tools

import org.apache.spark.sql.DataFrame
import graft.transit._

/** Resident serving probe (SURVEY §3.1 — the reference's Flask story,
  * `SQL/app.py:81-126`, measured honestly): one long-lived process holds a
  * warm [[QueryService]] over the built snapshots and answers a mixed
  * stream of q1–q4 requests from CONCURRENT clients, reporting latency
  * percentiles.
  *
  * What "resident" buys and this measures:
  *  - snapshots are pinned in memory ([[QueryService]] `cacheSnapshots`):
  *    a request is filter+sort+limit over an `InMemoryTableScan`, never a
  *    per-request parquet footer read;
  *  - plans for the 16 (query × service) shapes are warmed once, so
  *    request latency is execution, not analysis/codegen;
  *  - requests run from a client thread pool against the shared session —
  *    Spark schedules concurrent collect()s as concurrent jobs, which is
  *    exactly how a JDBC/REST front end drives a shared SparkSession.
  *
  * Output: markdown percentile table (README), one JSON line, and
  * `reports/serve_daemon.json` as the durable artifact.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... runMain graft.tools.ServeDaemon [nReqs] [clients]`
  */
object ServeDaemon {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Session.sfDir
    val nReqs = if (args.length > 0) args(0).toInt else 1000
    val clients = if (args.length > 1) args(1).toInt else 8
    // short independent jobs from many clients: the serving profile's
    // FAIR pool keeps one slow request from convoying the queue behind it
    val spark = graft.Session.serving()

    val t = TransitTables.fromTpch(spark, sfDir)
    val snapDir = "target/tmp/serve_snapshots"
    val tBuild0 = System.nanoTime()
    QueryService.buildAnalyticsSnapshots(t, snapDir)
    val buildSec = (System.nanoTime() - tBuild0) / 1e9
    val svc = new QueryService(t, Some(snapDir), cacheSnapshots = true)

    val services = Seq(ServiceFilter.Weekday, ServiceFilter.Saturday,
      ServiceFilter.Sunday, ServiceFilter.WholeWeek)
    val shapes: IndexedSeq[(String, () => DataFrame)] = for {
      (qname, f) <- IndexedSeq[(String, ServiceFilter => DataFrame)](
        "q1" -> (svc.q1(_)), "q2" -> (svc.q2(_)),
        "q3" -> (svc.q3(_)), "q4" -> (svc.q4(_)))
      s <- services
    } yield (qname, () => f(s))

    // warm every shape once: caches materialize, plans analyze, codegen
    // compiles — the daemon's steady state, not its first minute
    shapes.foreach { case (_, req) => req().collect() }

    // mixed request stream: deterministic round-robin over the 16 shapes
    // (every query × every service filter), fired from `clients` threads
    val latenciesMs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    val t0 = System.nanoTime()
    val tasks = (0 until nReqs).map { i =>
      val (qname, req) = shapes(i % shapes.size)
      pool.submit(new Runnable {
        def run(): Unit = {
          val s = System.nanoTime()
          req().collect()
          latenciesMs.add((qname, (System.nanoTime() - s) / 1e6))
        }
      })
    }
    tasks.foreach(_.get())
    val wallSec = (System.nanoTime() - t0) / 1e9
    pool.shutdown()

    import scala.jdk.CollectionConverters._
    val all = latenciesMs.asScala.toVector
    def pct(xs: Vector[Double], p: Double): Double = {
      val s = xs.sorted
      s(math.min(s.size - 1, (p * s.size).toInt))
    }
    def line(name: String, xs: Vector[Double]): String =
      f"| $name | ${xs.size} | ${pct(xs, 0.50)}%.0f ms | ${pct(xs, 0.95)}%.0f ms | ${pct(xs, 0.99)}%.0f ms |"

    println(f"[serve-daemon] snapshot build (one-off ETL): $buildSec%.2f s")
    println(f"[serve-daemon] $nReqs requests, $clients concurrent clients, " +
      f"${nReqs / wallSec}%.0f req/s sustained")
    println("| request | n | p50 | p95 | p99 |")
    println("|---|---|---|---|---|")
    val qnames = Seq("q1", "q2", "q3", "q4")
    qnames.foreach(q => println(line(q, all.collect { case (`q`, v) => v })))
    println(line("all", all.map(_._2)))

    val perQ = qnames.map { q =>
      val xs = all.collect { case (`q`, v) => v }
      f""""$q":{"p50_ms":${pct(xs, 0.50)}%.1f,"p95_ms":${pct(xs, 0.95)}%.1f,"p99_ms":${pct(xs, 0.99)}%.1f}"""
    }.mkString(",")
    val xs = all.map(_._2)
    val json =
      f"""{"metric":"serve_daemon","sf":"$sfDir","n":$nReqs,"clients":$clients,"build_sec":$buildSec%.2f,"req_per_sec":${nReqs / wallSec}%.1f,"p50_ms":${pct(xs, 0.50)}%.1f,"p95_ms":${pct(xs, 0.95)}%.1f,"p99_ms":${pct(xs, 0.99)}%.1f,$perQ}"""
    println(json)
    // one artifact per corpus scale (the X133 claim is that request
    // latency is corpus-size-INDEPENDENT — the sf1 row must not clobber
    // the sf0.1 row it is compared against)
    val base = java.nio.file.Paths.get(sfDir).getFileName.toString
      .replaceAll("[^A-Za-z0-9.]", "_")
    val outName = if (base == "sf0.1") "reports/serve_daemon.json"
                  else s"reports/serve_daemon_$base.json"
    val out = java.nio.file.Paths.get(outName)
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
