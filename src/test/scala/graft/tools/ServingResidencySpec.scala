package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import graft.SparkSpec
import graft.tools.ServeWire.{allRoutes, get}
import graft.transit._

/** Serving data is pinned in Spark only where a request is a Spark job
  * over it. A cached listener answers from its driver maps, so once they
  * are built neither the store nor a snapshot stays registered with the
  * session's cache manager; a live listener keeps the store pinned and
  * pins each snapshot on its first slice. */
class ServingResidencySpec extends SparkSpec {

  private lazy val t = GtfsFixture.tables(spark)
  private lazy val snapDir = {
    val dir = graft.Scratch.fresh("graft_residency_snap").toString
    QueryService.buildAnalyticsSnapshots(t, dir)
    dir
  }

  private def registered(df: DataFrame): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isDefined

  /** The frames the service reads its snapshots as: same path, same
    * schema, so the cache manager matches them to the service's pins. */
  private def snapshotReads: Seq[DataFrame] =
    QueryService.SnapshotTables.map { n =>
      spark.read.schema(QueryService.snapshotFrame(t, n).schema).parquet(s"$snapDir/$n")
    }

  test("a cached start leaves neither the store nor any snapshot pinned") {
    val svc = new QueryService(t, Some(snapDir), cacheSnapshots = true)
    val docs = Timetable.buildStopTimetables(t)
    val h = HttpServe.start(svc, docs, 0)
    try {
      assert(h.cached, "fixture store must auto-gate to cached")
      assert(!registered(docs), "the cached listener kept the store pinned")
      QueryService.SnapshotTables.zip(snapshotReads).foreach { case (n, r) =>
        assert(!registered(r), s"the cached listener pinned snapshot $n")
      }
      assert(get(h, "/api/q1?service_id=1")._1 == 200 && get(h, "/get_stops")._1 == 200)
    } finally h.stop()
  }

  test("a live start keeps the store pinned and pins a snapshot on its first slice") {
    val svc = new QueryService(t, Some(snapDir), cacheSnapshots = true)
    val docs = Timetable.buildStopTimetables(t)
    val q1 = snapshotReads.head
    val h = HttpServe.start(svc, docs, 0, withCache = Some(false))
    try {
      assert(registered(docs), "the live listener must keep its store pinned")
      assert(!registered(q1), "no slice has been served yet")
      assert(get(h, "/api/q1?service_id=1")._1 == 200)
      assert(registered(q1), "the first q1 slice must pin its snapshot")
    } finally { h.stop(); docs.unpersist(); q1.unpersist() }
  }

  test("a live refresh releases the old store's pin, not a pin the new store shares") {
    val svc = new QueryService(t, Some(snapDir), cacheSnapshots = true)
    val docs = Timetable.buildStopTimetables(t)
    val docs2 = Timetable.buildStopTimetables(
      t.copy(stopTimes = t.stopTimes.filter(col("trip_id") =!= "T2")))
    val h = HttpServe.start(svc, docs, 0, withCache = Some(false))
    try {
      h.refresh(docs2)
      assert(!h.cached, "refresh must re-decide under the started mode")
      assert(!registered(docs), "the live refresh kept the old store pinned")
      assert(registered(docs2), "the live refresh must pin the new store")
      // an equal store built again is the same plan, hence the same pin
      h.refresh(Timetable.buildStopTimetables(
        t.copy(stopTimes = t.stopTimes.filter(col("trip_id") =!= "T2"))))
      assert(registered(docs2), "a refresh with the same store dropped its pin")
      assert(get(h, "/get_stops")._1 == 200)
    } finally { h.stop(); docs.unpersist(); docs2.unpersist() }
  }

  test("a cached refresh releases the new store and serves it byte-identically") {
    val svc = new QueryService(t, Some(snapDir), cacheSnapshots = true)
    val h = HttpServe.start(svc, Timetable.buildStopTimetables(t), 0, withCache = Some(true))
    try {
      val docs2 = Timetable.buildStopTimetables(
        t.copy(stopTimes = t.stopTimes.filter(col("trip_id") =!= "T2")))
      h.refresh(docs2)
      assert(h.cached, "refresh must re-decide under the started mode")
      assert(!registered(docs2), "the cached refresh kept the new store pinned")
      val live = HttpServe.start(svc, docs2, 0, withCache = Some(false))
      try allRoutes.foreach { p =>
        assert(get(h, p) == get(live, p), s"post-refresh divergence on $p")
      } finally { live.stop(); docs2.unpersist(); snapshotReads.foreach(_.unpersist()) }
    } finally h.stop()
  }

  test("a cached start or refresh computes an unpinned store once, not once per build job") {
    // every computation of the store scans each stop_times row once
    // through the marker, so scanned rows / stop_times rows counts the
    // runs of the store's groupBy(stop_id) aggregation
    val tt = TransitTables.fromTpch(spark, "/root/testdata/sf0.001")
    val scanned = spark.sparkContext.longAccumulator("residency-store-rows")
    val mark = udf(() => { scanned.add(1); true }).asNondeterministic()
    val docs = Timetable.buildStopTimetables(tt.copy(stopTimes = tt.stopTimes.filter(mark())))
    val rows = tt.stopTimes.count()
    def runs[A](f: => A): (A, Double) = {
      val before = scanned.value
      val a = f
      (a, (scanned.value - before).toDouble / rows)
    }
    val svc = new QueryService(tt)
    // positive control, the unpinned probe and build: one run per job
    // (the probe, the stops list and the one grouped pass)
    val (_, unpinned) = runs { ServingCache.storeEntries(docs); ServingCache.build(svc, docs) }
    assert(unpinned == 3.0, s"the unpinned probe and build ran the store $unpinned times")
    val (h, started) = runs(HttpServe.start(svc, docs, 0, withCache = Some(true)))
    try {
      assert(started == 1.0, s"the cached start ran the store $started times")
      val (_, refreshed) = runs(h.refresh(docs))
      assert(refreshed == 1.0, s"the cached refresh ran the store $refreshed times")
      assert(!registered(docs))
    } finally h.stop()
  }
}
