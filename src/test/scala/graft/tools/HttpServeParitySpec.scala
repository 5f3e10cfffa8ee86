package graft.tools

import graft.SparkSpec
import graft.tools.ServeWire.{allRoutes, get, stops}
import graft.transit._

/** The serving cache must be invisible on the wire: every route the cached
  * listener answers from its driver-side maps must be BYTE-IDENTICAL
  * (status + body) to the live DataFrame path answering the same request —
  * including the fixture's traps (null route_short_name, NOT IN SERVICE
  * headsigns, >24h display times, unknown stops, param sanitization). This
  * is the guard that lets the r12 latency numbers stand for the same
  * responses the engine faces produce.
  *
  * The cached and live fixtures share one `docs` frame, and a cached start
  * releases the store pin a live start placed (Spark keys pins by plan).
  * Residency is a hint, not part of parity: an unpinned live listener
  * recomputes the store per request and must answer the same bytes
  * (`ServingResidencySpec` checks the pins themselves). */
class HttpServeParitySpec extends SparkSpec {

  private lazy val t = GtfsFixture.tables(spark)
  private lazy val docs = Timetable.buildStopTimetables(t).cache()
  private lazy val cached = {
    val svc = new QueryService(t)
    HttpServe.start(svc, docs, 0, withCache = Some(true))
  }
  private lazy val live = {
    val svc = new QueryService(t)
    HttpServe.start(svc, docs, 0, withCache = Some(false))
  }

  /** The snapshot-backed service the production listeners run:
    * analytics snapshots on disk, each read once and pinned. */
  private lazy val snapDir = {
    val dir = graft.Scratch.fresh("graft_parity_snap").toString
    QueryService.buildAnalyticsSnapshots(t, dir)
    dir
  }
  private lazy val snapSvc = new QueryService(t, Some(snapDir), cacheSnapshots = true)
  private lazy val snapCached = HttpServe.start(snapSvc, docs, 0, withCache = Some(true))
  private lazy val snapLive = HttpServe.start(snapSvc, docs, 0, withCache = Some(false))

  private def assertParity(paths: Seq[String],
      c: HttpServe.ServingHandle = cached,
      l: HttpServe.ServingHandle = live): Unit =
    paths.foreach { p =>
      val a = get(c, p)
      val b = get(l, p)
      assert(a == b, s"cache/live divergence on $p:\ncached: $a\nlive:   $b")
    }

  private val apiRoutes: Seq[String] = (for {
      q <- Seq("q1", "q2", "q3", "q4")
      s <- Seq("1", "2", "3", "4", "zzz", "")
      l <- Seq("3", "20", "all", "-7")
    } yield s"/api/$q?service_id=$s&limit=$l") ++
    Seq("/api/q1", "/api/q2", "/api/q3", "/api/q4")

  test("/api/q1..q4: every service/limit face matches the live path") {
    assertParity(apiRoutes)
  }

  test("/api/q1..q4 over snapshots: the cached maps match the live snapshot slices") {
    // the cache collects each snapshot once and splits it by tag on the
    // driver; the live listener slices the same snapshot per request
    assertParity(apiRoutes, snapCached, snapLive)
  }

  test("the analytic maps cost one Spark job per query, not one per slice") {
    // snapCached's startup already built these maps from the snapshots on
    // disk; a rebuild is again exactly the four collects, not one per
    // (query, service)
    snapCached
    val (api, jobs) = graft.JobCount.of(spark)(ServingCache.buildApi(snapSvc))
    assert(jobs == 4, s"the analytic maps ran $jobs Spark jobs")
    assert(api.size == 16)
  }

  test("a fresh snapshot-backed service builds the analytic maps in one job per query") {
    // nothing read yet: each snapshot is read with the build's own schema
    // (no footer-inference job) and collected unpinned in one job
    val fresh = new QueryService(t, Some(snapDir), cacheSnapshots = true)
    val (api, jobs) = graft.JobCount.of(spark)(ServingCache.buildApi(fresh))
    assert(jobs == 4, s"the analytic maps ran $jobs Spark jobs")
    assert(api == ServingCache.buildApi(snapSvc))
  }

  test("/get_stops matches") {
    assertParity(Seq("/get_stops"))
  }

  test("/get_timetable: all stops (incl. unknown -> 404, missing param -> 400)") {
    assertParity("/get_timetable" +: stops.map(s => s"/get_timetable?stop_id=$s"))
  }

  test("/get_routes_for_stop: all stops match") {
    assertParity("/get_routes_for_stop" +:
      stops.map(s => s"/get_routes_for_stop?stop_id=$s"))
  }

  test("/get_arrivals grouped: all stop x service faces match") {
    assertParity(for {
      s <- stops
      svc <- Seq("", "1", "2", "3", "4")
    } yield s"/get_arrivals?stop_id=$s&service_id=$svc")
  }

  test("auto gate: under the ceiling the listener caches; /servez reports the probe") {
    // the fixture store is a few hundred entries — far under the 64 M
    // default ceiling, so the measured decision must pick the cache path
    val svc = new QueryService(t)
    val auto = HttpServe.start(svc, docs, 0)
    try {
      assert(auto.cached, "fixture store must auto-gate to cached")
      val (code, body) = get(auto, "/servez")
      assert(code == 200 && body.startsWith("""{"cache":true,"store_entries":"""))
      val entries = ServingCache.storeEntries(docs)
      assert(body.contains(s""""store_entries":$entries"""))
      assert(body.contains(""""max_cache_entries":64000000"""))
    } finally auto.stop()
  }

  test("auto gate: over the ceiling the fallback engages and stays byte-identical") {
    // the r12 gap: withCache=true was a caller FLAG — a default-config
    // caller at 100x the certified sf1 store would collect an oversized
    // store onto the driver. The gate is now a measured decision against
    // a 64 M-entry constant no fixture reaches, so this face proves (a)
    // the decision picks the live path one entry over the ceiling (a
    // forced mode still wins), (b) the live path reports itself and the
    // ceiling on /servez, (c) the wire bytes don't move.
    val ceiling = ServingCache.MaxCacheEntries
    assert(HttpServe.useCache(None, ceiling))
    assert(!HttpServe.useCache(None, ceiling + 1),
      "an over-ceiling store must fall back to the live path")
    assert(HttpServe.useCache(Some(true), ceiling + 1))
    assert(!HttpServe.useCache(Some(false), 0L))
    assert(!live.cached)
    val (code, body) = get(live, "/servez")
    assert(code == 200 && body.startsWith("""{"cache":false,"""))
    assert(body.contains(""""max_cache_entries":64000000"""))
    allRoutes.foreach { p =>
      assert(get(live, p) == get(cached, p), s"fallback divergence on $p")
    }
  }

  test("staleness: refresh() after a store mutation serves the new store byte-identically") {
    // the serving maps are built AS OF startup; the engine's feed-upsert
    // faces can change the store under a running listener. refresh() is
    // the documented invalidation hook: after it returns, every route
    // must byte-match a live listener over the POST-mutation store.
    val svc = new QueryService(t)
    val handle = HttpServe.start(svc, docs, 0, withCache = Some(true))
    try {
      // the mutation: one trip leaves the feed (the upsert-delete case) —
      // rebuild the document store the way the upsert pipeline would
      val t2 = t.copy(stopTimes =
        t.stopTimes.filter(org.apache.spark.sql.functions.col("trip_id") =!= "T1"))
      val docs2 = Timetable.buildStopTimetables(t2).cache()
      assert(ServingCache.storeEntries(docs2) < ServingCache.storeEntries(docs),
        "the mutation must actually shrink the store for this test to bite")
      // pre-refresh: stale-but-consistent (still the startup snapshot)
      assert(get(handle, "/get_stops") == get(cached, "/get_stops"))
      handle.refresh(docs2)
      assert(handle.cached, "refresh must re-decide under the started mode")
      val liveNew = HttpServe.start(svc, docs2, 0, withCache = Some(false))
      try allRoutes.foreach { p =>
        assert(get(handle, p) == get(liveNew, p), s"post-refresh divergence on $p")
      } finally liveNew.stop()
    } finally handle.stop()
  }

  test("/get_arrivals flat: every (stop, route, headsign) pair incl. traps") {
    // every real pair at every stop, from the engine's own grouped face,
    // plus the NOT IN SERVICE headsign (flat serves it by design) and a
    // nonexistent pair (empty times)
    val pairs = stops.flatMap { sid =>
      Timetable.getArrivalsGrouped(docs, sid).collect().toSeq.map { r =>
        (sid, Option(r.getAs[String]("route_short_name")).getOrElse(""),
          r.getAs[String]("trip_headsign"))
      }
    } ++ Seq(("HUB", "", "NOT IN SERVICE"), ("HUB", "504", "Nowhere"))
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    assertParity(pairs.map { case (sid, short, head) =>
      s"/get_arrivals?stop_id=$sid&route_short_name=${enc(short)}&trip_headsign=${enc(head)}"
    })
  }

  test("a trip on a non-public service shows in the timetable only, in both modes") {
    // the fixture's calendar lists service 9, but no fixture trip runs on
    // it: add one that stops at HUB under a headsign of its own
    val dir = java.nio.file.Paths.get(GtfsFixture.feedDir())
    def append(name: String, line: String): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), line + "\n",
        java.nio.file.StandardOpenOption.APPEND)
    append("trips.txt", "T9,R1,9,Depot,0,,,")
    append("stop_times.txt", "T9,07:30:00,07:30:00,HUB,1,,,,0.0")
    append("stop_times.txt", "T9,07:40:00,07:40:00,A,2,,,,1.0")
    val t9 = graft.sources.GtfsReader.readFeed(spark, dir.toString)
    val docs9 = Timetable.buildStopTimetables(t9).cache()
    val svc = new QueryService(t9)
    val c = HttpServe.start(svc, docs9, 0, withCache = Some(true))
    val l = HttpServe.start(svc, docs9, 0, withCache = Some(false))
    try {
      val grouped = Seq("", "1", "2", "3", "4", "9")
        .map(v => s"/get_arrivals?stop_id=HUB&service_id=$v")
      val flat = Seq("", "4", "9").map(v =>
        s"/get_arrivals?stop_id=HUB&route_short_name=504&trip_headsign=Depot&service_id=$v")
      assertParity(allRoutes ++ grouped ++ flat, c, l)
      assert(get(c, "/get_timetable?stop_id=HUB")._2.contains("07:30:00"),
        "the timetable renders the whole document, every service")
      val routes = get(c, "/get_routes_for_stop?stop_id=HUB")._2
      assert(!routes.contains("Depot"), s"a non-public trip listed as a route: $routes")
      (grouped ++ flat).foreach { p =>
        val (code, body) = get(c, p)
        assert(code == 200 && !body.contains("07:30:00") && !body.contains("Depot"),
          s"a non-public trip served on $p: $body")
      }
    } finally { c.stop(); l.stop(); docs9.unpersist() }
  }

  test("an empty store answers every route identically in both modes, without a 500") {
    val empty = docs.limit(0)
    val svc = new QueryService(t)
    val c = HttpServe.start(svc, empty, 0, withCache = Some(true))
    val l = HttpServe.start(svc, empty, 0, withCache = Some(false))
    try {
      assert(c.cached && !l.cached)
      val paths = allRoutes ++ Seq("/get_arrivals?stop_id=HUB",
        "/get_arrivals?stop_id=HUB&route_short_name=504&trip_headsign=Downtown")
      assertParity(paths, c, l)
      paths.foreach(p => assert(get(c, p)._1 != 500, s"$p failed on an empty store"))
      Seq(c, l).foreach { h =>
        val (code, body) = get(h, "/servez")
        assert(code == 200 && body.contains(""""store_entries":0,"""), body)
      }
    } finally { c.stop(); l.stop(); empty.unpersist() }
  }

  /** The production key type: the numeric-keyed store the transit
    * tables build (stop_id BIGINT, route_short_name null on every 17th
    * route). */
  private lazy val tt = TransitTables.fromTpch(spark, "/root/testdata/sf0.001")
  private lazy val ndocs = Timetable.buildStopTimetables(tt).cache()

  test("numeric-keyed store: every store-derived route matches at sampled stops") {
    import org.apache.spark.sql.functions.{col, explode}
    val ids = ndocs.select("stop_id").orderBy("stop_id").collect().map(_.getLong(0)).toSeq
    val nullShort = ndocs.select(col("stop_id"), explode(col("upcoming_services")).as("s"))
      .filter(col("s.route_short_name").isNull)
      .select("stop_id").orderBy("stop_id").first().getLong(0)
    val sample = (ids.indices by math.max(1, ids.size / 11)).map(ids(_)).take(11) :+ nullShort
    val svc = new QueryService(tt)
    val nc = HttpServe.start(svc, ndocs, 0, withCache = Some(true))
    val nl = HttpServe.start(svc, ndocs, 0, withCache = Some(false))
    try {
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      val pairs = sample.flatMap { sid =>
        Timetable.getArrivalsGrouped(ndocs, sid.toString).collect().toSeq.map { r =>
          (sid, Option(r.getAs[String]("route_short_name")).getOrElse(""),
            r.getAs[String]("trip_headsign"))
        }
      }
      assert(pairs.exists { case (sid, short, _) => sid == nullShort && short.isEmpty },
        s"stop $nullShort must serve a null short name")
      val paths = sample.flatMap { sid =>
        Seq(s"/get_timetable?stop_id=$sid", s"/get_routes_for_stop?stop_id=$sid") ++
          Seq("", "1", "2", "3", "4").map(v => s"/get_arrivals?stop_id=$sid&service_id=$v")
      } ++ pairs.map { case (sid, short, head) =>
        s"/get_arrivals?stop_id=$sid&route_short_name=${enc(short)}&trip_headsign=${enc(head)}"
      }
      assertParity(paths, nc, nl)
    } finally { nc.stop(); nl.stop() }
  }

  test("numeric-keyed store: non-canonical stop ids answer identically in both modes") {
    // the production store keys stop_id as BIGINT: the live path's ANSI
    // comparison matches "042"/" 42" numerically (and THROWS on "42.0"),
    // while the driver maps key on the exact long rendering — the
    // boundary parse must make every spelling answer identically, and the
    // zero-padded spelling must actually FIND the document
    val svc = new QueryService(tt)
    val nc = HttpServe.start(svc, ndocs, 0, withCache = Some(true))
    val nl = HttpServe.start(svc, ndocs, 0, withCache = Some(false))
    try {
      val sid = ndocs.select("stop_id").orderBy("stop_id").first().getLong(0)
      val paths = Seq(
        s"/get_timetable?stop_id=0$sid", s"/get_timetable?stop_id=%20$sid",
        s"/get_timetable?stop_id=$sid.0", "/get_timetable?stop_id=xyz",
        s"/get_routes_for_stop?stop_id=0$sid", "/get_routes_for_stop?stop_id=q",
        s"/get_arrivals?stop_id=0$sid", "/get_arrivals?stop_id=nope")
      paths.foreach { p =>
        val a = get(nc, p)
        val b = get(nl, p)
        assert(a == b, s"cache/live divergence on $p:\ncached: $a\nlive:   $b")
      }
      assert(get(nc, s"/get_timetable?stop_id=0$sid")._1 == 200,
        "the zero-padded id must resolve to the real document")
      assert(get(nc, s"/get_timetable?stop_id=$sid.0")._1 == 404)
    } finally { nc.stop(); nl.stop() }
  }
}
