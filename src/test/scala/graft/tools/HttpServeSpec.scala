package graft.tools

import graft.SparkSpec
import graft.transit._

/** The HTTP layer is tested over REAL sockets: an ephemeral-port listener,
  * `java.net.HttpURLConnection` GETs, and assertions on status codes and
  * JSON bodies — the reference's Flask contract (`SQL/app.py:76-126`,
  * `Mongo/app.py:47-244`) driven the way a browser would. */
class HttpServeSpec extends SparkSpec {

  private lazy val t = GtfsFixture.tables(spark)
  private lazy val docs = Timetable.buildStopTimetables(t).cache()
  private lazy val server = {
    val svc = new QueryService(t)
    HttpServe.start(svc, docs, 0) // port 0 → ephemeral; cache auto-gated
  }
  private def get(path: String): (Int, String) = ServeWire.get(server, path)

  test("healthz answers over a real socket") {
    assert(get("/healthz") == (200, """{"ok":true}"""))
  }

  test("/api/q1 serves items with service/limit sanitization") {
    val (code, body) = get("/api/q1?service_id=1&limit=3")
    assert(code == 200 && body.startsWith("""{"items":["""))
    val items = body.sliding(10).count(_ == """"stop_id":""")
    assert(items == math.min(3, Queries.q1BusiestStops(
      t, ServiceFilter.Weekday, Limit.All).count()))
    // garbage service_id/limit → whole-week top-20, the reference's
    // sanitization (SQL/sql_utils.py:23-43) — must not 500
    val (c2, b2) = get("/api/q1?service_id=zzz&limit=-7")
    assert(c2 == 200 && b2.startsWith("""{"items":["""))
  }

  test("/api/q2..q4 all answer 200 with items") {
    Seq("q2", "q3", "q4").foreach { q =>
      val (code, body) = get(s"/api/$q?service_id=2")
      assert(code == 200 && body.startsWith("""{"items":["""), s"$q: $body")
    }
  }

  test("/get_stops returns the name-sorted stop list") {
    val (code, body) = get("/get_stops")
    assert(code == 200)
    val names = """"stop_name":"([^"]+)"""".r
      .findAllMatchIn(body).map(_.group(1)).toSeq
    assert(names == names.sorted && names.contains("Hub Central"))
  }

  test("/get_timetable: 400 missing param, 404 unknown stop, nested doc") {
    assert(get("/get_timetable")._1 == 400)
    assert(get("/get_timetable?stop_id=NOPE")._1 == 404)
    val (code, body) = get("/get_timetable?stop_id=HUB")
    assert(code == 200)
    // nested {route_long_name: {headsign: [sorted times]}}
    val expected = Timetable.getTimetable(docs, "HUB").collect()
    expected.foreach { r =>
      val route = Option(r.getAs[String]("route_long_name"))
        .getOrElse("Unknown Route")
      assert(body.contains(s""""$route":{"""), s"missing $route in $body")
      r.getAs[String]("departure_times").split(",").foreach(t =>
        assert(body.contains(s""""$t""""), s"missing time $t"))
    }
  }

  test("/get_arrivals flat vs grouped shapes match the engine faces") {
    val grouped = get("/get_arrivals?stop_id=HUB")
    assert(grouped._1 == 200 && grouped._2.contains(""""groups":["""))
    val rows = Timetable.getArrivalsGrouped(docs, "HUB").collect()
    val total = rows.map(_.getAs[Long]("n_arrivals")).sum
    assert(grouped._2.endsWith(s""""total_count":$total}"""))
    val first = rows.head
    val flat = get("/get_arrivals?stop_id=HUB" +
      s"&route_short_name=${first.getAs[String]("route_short_name")}" +
      s"&trip_headsign=${java.net.URLEncoder.encode(first.getAs[String]("trip_headsign"), "UTF-8")}")
    assert(flat._1 == 200 && flat._2.contains(""""times":["""))
    assert(flat._2.matches(""".*"count":\d+\}"""))
  }

  test("/get_routes_for_stop lists sorted pairs; 400 without stop_id") {
    assert(get("/get_routes_for_stop")._1 == 400)
    val (code, body) = get("/get_routes_for_stop?stop_id=HUB")
    assert(code == 200 && body.contains(""""route_short_name":"""))
  }

  test("concurrent requests over sockets all succeed (shared session)") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val paths = IndexedSeq("/api/q1?service_id=1", "/api/q3?service_id=3",
      "/get_stops", "/get_arrivals?stop_id=HUB", "/get_timetable?stop_id=A")
    val codes = (0 until 40).map(i => pool.submit(
      new java.util.concurrent.Callable[Int] {
        def call(): Int = get(paths(i % paths.size))._1
      })).map(_.get())
    pool.shutdown()
    assert(codes.forall(_ == 200), codes.toString)
  }

  test("a stopped listener leaves no handler threads behind") {
    import scala.jdk.CollectionConverters._
    def handlerThreads(): Int = Thread.getAllStackTraces.keySet.asScala
      .count(th => th.isAlive && th.getName.startsWith("http-serve-"))
    server // the shared listener's pool is part of the baseline
    val before = handlerThreads()
    val h = HttpServe.start(new QueryService(t), docs, 0, withCache = Some(true))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val codes = (0 until 16).map(_ => pool.submit(
        new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            val c = new java.net.URI(s"http://127.0.0.1:${h.port}/get_stops").toURL
              .openConnection().asInstanceOf[java.net.HttpURLConnection]
            try { c.getInputStream.readAllBytes(); c.getResponseCode }
            finally c.disconnect()
          }
        })).map(_.get())
      assert(codes.forall(_ == 200), codes.toString)
      assert(handlerThreads() > before, "the listener must have run its own handlers")
    } finally { pool.shutdown(); h.stop() }
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (handlerThreads() > before && System.nanoTime() < deadline) Thread.sleep(50)
    assert(handlerThreads() <= before,
      s"${handlerThreads() - before} http-serve threads outlived their listener")
  }
}
