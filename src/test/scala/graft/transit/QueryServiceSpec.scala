package graft.transit

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Serving layer (SURVEY §4 R3/R4): the cached hourly view must actually be
  * reused by the Q4 plans, and the snapshot fast path must serve the same
  * rows as the live plans — partition-pruned, with live fallback. */
class QueryServiceSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val t = TransitTables.fromTpch(spark, sf)

  private def collectSorted(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))

  test("R3: both q4Nested sub-aggregations read the cached hourly view") {
    val svc = new QueryService(t)
    val plan = Queries.q4NestedFrom(svc.hourlyFrequencyView, t.routes)
      .queryExecution.executedPlan.toString
    val scans = "InMemoryTableScan".r.findAllIn(plan).size
    assert(scans >= 2, s"expected both sub-aggregations on the cache, got $scans:\n${plan.take(1200)}")
  }

  test("R3: the flat q4 face reads the cached view too") {
    val svc = new QueryService(t)
    val plan = svc.q4(ServiceFilter.Weekday).queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"), plan.take(800))
  }

  test("R4: snapshot-served q1 equals the live plan (weekday and whole-week)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_svc_spec").toString
    QueryService.buildAnalyticsSnapshots(t, dir)
    val svc = new QueryService(t, Some(dir))
    for (s <- Seq[ServiceFilter](ServiceFilter.Weekday, ServiceFilter.WholeWeek)) {
      val served = svc.q1(s)
      // dispatch really took the snapshot path
      assert(served.queryExecution.executedPlan.toString.contains("Scan parquet"),
        "q1 did not serve from the snapshot")
      assert(collectSorted(served) === collectSorted(Queries.q1BusiestStops(t, s)))
    }
  }

  test("R4: snapshot-served q2/q3/q4 equal their live plans (weekday)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_svc_spec2").toString
    QueryService.buildAnalyticsSnapshots(t, dir)
    val svc = new QueryService(t, Some(dir))
    assert(collectSorted(svc.q2(ServiceFilter.Weekday)) ===
      collectSorted(Queries.q2RouteStats(t, ServiceFilter.Weekday)))
    assert(collectSorted(svc.q3(ServiceFilter.Weekday)) ===
      collectSorted(Queries.q3TransferPoints(t, ServiceFilter.Weekday)))
    assert(collectSorted(svc.q4(ServiceFilter.Weekday)) ===
      collectSorted(Queries.q4ServiceFrequency(t, ServiceFilter.Weekday)))
  }

  test("R4: the snapshot read prunes to one service partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_svc_spec3").toString
    QueryService.buildSnapshot(t, dir, QueryService.Q1)
    val plan = new QueryService(t, Some(dir)).q1(ServiceFilter.Weekday)
      .queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("service_id_tag"),
      s"service filter not pushed to partition pruning:\n$plan")
  }

  test("F6: 2-dp display rounding matches the reference's float(f'{v:.2f}')") {
    import spark.implicits._
    // truth values computed with CPython: [float(f"{v:.2f}") for v in vals]
    val vals = Seq(0.125, 2.675, 1.005, 3.14159, -0.125, 72.0, 5.555,
      0.004999, 1.23499999, 33.3333333)
    val expected = Seq(0.12, 2.67, 1.0, 3.14, -0.12, 72.0, 5.55, 0.0, 1.23, 33.33)
    val got = QueryService.round2(vals.toDF("v"), Seq("v"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got === expected)
    // nulls pass through (duration_stddev_min is NULL on whole-week rows)
    val nulled = QueryService.q2Display(
      Queries.q2RouteStats(t, ServiceFilter.WholeWeek))
    assert(nulled.select("duration_stddev_min").collect().forall(_.isNullAt(0)))
  }

  test("R4: snapshot-served q1 skips a blank route_id, as the live plan does") {
    // a feed whose trips.txt leaves one trip's route_id blank: the CSV
    // source reads it as NULL, which live Q1's countDistinct skips
    val feed = java.nio.file.Paths.get(GtfsFixture.feedDir())
    def append(name: String, lines: String): Unit =
      java.nio.file.Files.writeString(feed.resolve(name), lines,
        java.nio.file.StandardOpenOption.APPEND)
    append("trips.txt", "T9,,1,Downtown,0,,,\n")
    append("stop_times.txt",
      "T9,15:00:00,15:00:00,HUB,1,,,,0.0\nT9,15:10:00,15:10:00,A,2,,,,1.0\n")
    val blank = graft.sources.GtfsReader.readFeed(spark, feed.toString)
    assert(blank.trips.filter(org.apache.spark.sql.functions.col("route_id").isNull)
      .count() == 1, "the blank route_id must read as NULL for this case to bite")
    val dir = java.nio.file.Files.createTempDirectory("graft_svc_spec_blank").toString
    QueryService.buildSnapshot(blank, dir, QueryService.Q1)
    val svc = new QueryService(blank, Some(dir))
    for (s <- Seq[ServiceFilter](ServiceFilter.Weekday, ServiceFilter.WholeWeek)) {
      assert(collectSorted(svc.q1(s)) === collectSorted(Queries.q1BusiestStops(blank, s)), s)
      assert(svc.taggedJson(QueryService.Q1)(QueryService.tagOf(s)).sorted ===
        Queries.q1BusiestStops(blank, s).toJSON.collect().toSeq.sorted, s)
    }
  }

  test("R4: without a snapshot, dispatch falls back to the live plan") {
    val svc = new QueryService(t, Some("/nonexistent/snapshots"))
    val plan = svc.q1(ServiceFilter.Weekday).queryExecution.executedPlan.toString
    // live q1 aggregates the fact table — a snapshot read never has a
    // HashAggregate over stop_times
    assert(plan.contains("HashAggregate"), plan.take(600))
    assert(collectSorted(svc.q1(ServiceFilter.Weekday)) ===
      collectSorted(Queries.q1BusiestStops(t, ServiceFilter.Weekday)))
  }
}
