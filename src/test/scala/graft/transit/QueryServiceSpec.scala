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
    val dir = graft.Scratch.fresh("graft_svc_spec").toString
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
    val dir = graft.Scratch.fresh("graft_svc_spec2").toString
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
    val dir = graft.Scratch.fresh("graft_svc_spec3").toString
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

  private val services = Seq[ServiceFilter](ServiceFilter.Weekday,
    ServiceFilter.Saturday, ServiceFilter.Sunday, ServiceFilter.WholeWeek)

  /** The micro-feed plus one weekday trip whose trips.txt route_id is
    * blank: the CSV source reads it as NULL, which live Q1's
    * countDistinct skips. */
  private def blankRouteFeed(): TransitTables = {
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
    blank
  }

  test("R4: snapshot-served q1 skips a blank route_id, as the live plan does") {
    val blank = blankRouteFeed()
    val dir = graft.Scratch.fresh("graft_svc_spec_blank").toString
    QueryService.buildSnapshot(blank, dir, QueryService.Q1)
    val svc = new QueryService(blank, Some(dir))
    for (s <- Seq[ServiceFilter](ServiceFilter.Weekday, ServiceFilter.WholeWeek)) {
      assert(collectSorted(svc.q1(s)) === collectSorted(Queries.q1BusiestStops(blank, s)), s)
      assert(svc.taggedJson(QueryService.Q1)(QueryService.tagOf(s)).sorted ===
        Queries.q1BusiestStops(blank, s).toJSON.collect().toSeq.sorted, s)
    }
  }

  /** Builds the analytics snapshots of `tables` and checks that q3,
    * served from Q1's table, equals live q3 for every service, both per
    * slice and in the cached listener's tagged superset. */
  private def q3ServedEqualsLive(tables: TransitTables): QueryService = {
    val dir = graft.Scratch.fresh("graft_svc_spec_q3").toString
    QueryService.buildAnalyticsSnapshots(tables, dir)
    val svc = new QueryService(tables, Some(dir))
    val tagged = svc.taggedJson(QueryService.Q3)
    for (s <- services) {
      val live = Queries.q3TransferPoints(tables, s, Limit.All)
      assert(collectSorted(svc.q3(s, Limit.All)) === collectSorted(live), s)
      assert(tagged.getOrElse(QueryService.tagOf(s), Vector.empty).sorted ===
        live.toJSON.collect().toSeq.sorted, s)
    }
    svc
  }

  test("R4: q3 served from the Q1 table equals live q3 for every service (sf0.001)") {
    q3ServedEqualsLive(t)
  }

  test("R4: q3 served from the Q1 table equals live q3 for every service (micro-feed)") {
    val svc = q3ServedEqualsLive(blankRouteFeed())
    // the filter really drops rows here: A (R1 and the blank route), B
    // and D have one route each, so only HUB and C are transfer points
    assert(svc.q3(ServiceFilter.Weekday).collect().map(_.getString(0)).toSet ===
      Set("C", "HUB"))
  }

  test("R4: the analytics build writes the Q1, Q2 and Q4 tables and no other") {
    val dir = graft.Scratch.fresh("graft_svc_spec_tables")
    QueryService.buildAnalyticsSnapshots(t, dir.toString)
    val written = dir.toFile.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(written === Set(QueryService.Q1, QueryService.Q2, QueryService.Q4))
    // a stale Q3 table from an older build is never read: q3 still comes
    // from Q1's table (this one is not even parquet)
    val stale = java.nio.file.Files.createDirectory(dir.resolve(QueryService.Q3))
    java.nio.file.Files.writeString(stale.resolve("part-0.parquet"), "stale")
    val svc = new QueryService(t, Some(dir.toString))
    assert(collectSorted(svc.q3(ServiceFilter.Weekday)) ===
      collectSorted(Queries.q3TransferPoints(t, ServiceFilter.Weekday)))
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
