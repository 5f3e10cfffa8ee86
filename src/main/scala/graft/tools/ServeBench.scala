package graft.tools

import org.apache.spark.sql.DataFrame
import graft.transit._

/** Serving-latency probe (SURVEY §4 R4): per analytics query, the
  * per-request latency of the snapshot fast path vs the live plan at the
  * same SF — the measured argument for why a served API must read the
  * partition-pruned result snapshot rather than re-running the fact-table
  * plan per request. Prints a markdown table (README) + one JSON line.
  *
  * Method: build all four snapshots once (reported separately — that is
  * the batch ETL a feed refresh pays), warm each path once, then report
  * the median of 7 `collect()` requests per (query, path). `collect` is
  * the serving shape: a request returns the default page of rows.
  */
object ServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Session.sfDir
    // batch profile: the live side is the board's fact-table plan
    val spark = graft.Session.batch(sfDir)

    val t = TransitTables.fromTpch(spark, sfDir)
    val snapDir = "target/tmp/serve_snapshots"
    val tBuild0 = System.nanoTime()
    QueryService.buildAnalyticsSnapshots(t, snapDir)
    val buildSec = (System.nanoTime() - tBuild0) / 1e9

    val snap = new QueryService(t, Some(snapDir))
    val live = new QueryService(t, None)
    val reqs: Seq[(String, QueryService => DataFrame)] = Seq(
      "q1_busiest_stops" -> (_.q1(ServiceFilter.Weekday)),
      "q2_route_stats" -> (_.q2(ServiceFilter.Weekday)),
      "q3_transfer_points" -> (_.q3(ServiceFilter.Weekday)),
      "q4_service_frequency" -> (_.q4(ServiceFilter.Weekday)))

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def measure(f: () => Unit): Double = {
      f() // warm: plan analysis, snapshot footer reads, codegen
      median((1 to 7).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      })
    }

    val rows = reqs.map { case (name, req) =>
      val sSnap = measure(() => req(snap).collect())
      val sLive = measure(() => req(live).collect())
      (name, sSnap, sLive)
    }

    println(f"[serve] snapshot build (all four, one-off ETL): $buildSec%.2f s")
    println("| query | snapshot-served | live plan | speedup |")
    println("|---|---|---|---|")
    rows.foreach { case (n, s, l) =>
      println(f"| $n | ${s * 1000}%.0f ms | ${l * 1000}%.0f ms | ${l / s}%.1f x |")
    }
    val qs = rows.map { case (n, s, l) =>
      f""""$n":{"snapshot_sec":$s%.3f,"live_sec":$l%.3f}"""
    }.mkString("{", ",", "}")
    println(
      f"""{"metric":"serving_latency","sf":"$sfDir","build_sec":$buildSec%.2f,"queries":$qs}""")
    spark.stop()
  }
}
