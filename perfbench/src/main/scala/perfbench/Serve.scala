package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tools.{HttpServe, ServingCache}
import graft.transit.{Limit, QueryService, ServiceFilter, Timetable}

/** The serve workloads: `clients` closed-loop threads, each on its own
  * keep-alive connection, send the seeded request sequence to the
  * listener. Every response is checked against the body the other serving
  * path (cached vs live) gives for the same request. */
object Serve {

  /** Route name of a request path: `/api/q1?x=1` → `api_q1`. */
  def routeOf(path: String): String =
    path.drop(1).takeWhile(_ != '?').replace('/', '_')

  private val WarmLoadNs = 1000000000L

  val Routes: Seq[String] = Seq("api_q1", "api_q2", "api_q3", "api_q4", "get_stops",
    "get_timetable", "get_routes_for_stop", "get_arrivals")

  def newClient(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def fetch(client: HttpClient, port: Int, path: String): (Int, Array[Byte]) = {
    val r = client.send(
      HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    (r.statusCode(), r.body())
  }

  /** Send one request and judge it: a throw, a 5xx, or a status or body
    * different from `expected` is a failure. */
  def attempt(client: HttpClient, port: Int, path: String, phase: String,
      expected: Option[(Int, Array[Byte])]): OpRec = {
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try {
      val (status, body) = fetch(client, port, path)
      val dur = (System.nanoTime() - t0) / 1e6
      val err =
        if (status >= 500) s"status $status"
        else expected match {
          case None => "no expected body"
          case Some((s, b)) if s != status => s"status $status, expected $s"
          case Some((_, b)) if !java.util.Arrays.equals(b, body) => "body mismatch"
          case _ => ""
        }
      OpRec(phase, "request", routeOf(path), startMs, dur, err.isEmpty,
        status = status, bytes = body.length.toLong, err = err)
    } catch {
      case NonFatal(e) =>
        OpRec(phase, "request", routeOf(path), startMs, (System.nanoTime() - t0) / 1e6,
          ok = false, err = s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** Checks the first pool request of each route against a second
    * listener on the same store that takes the other serving path (cached
    * vs live), on its own thread; every outcome, a throw included, lands in
    * `out` as an untimed record. */
  private def crossCheck(s: Serving, pool: IndexedSeq[String],
      own: IndexedSeq[(Int, Array[Byte])], out: ConcurrentLinkedQueue[OpRec]): Thread = {
    val firsts = pool.indices.groupBy(i => routeOf(pool(i))).values.map(_.min).toSeq.sorted
    val th = new Thread(() => {
      try {
        val ref = HttpServe.start(s.svc, s.docs, 0, withCache = Some(!s.handle.cached))
        val c = newClient()
        try firsts.foreach(i => out.add(attempt(c, ref.port, pool(i), "untimed", Some(own(i)))))
        finally ref.stop(0)
      } catch {
        case NonFatal(e) => out.add(OpRec("untimed", "request", "cross_check", 0.0, 0.0,
          ok = false, err = s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }, "perfbench-cross-check")
    th.start(); th
  }

  /** The job group of the harness's refresh calls; every other job the
    * window sees ran on the request path. */
  private val RefreshGroup = "perfbench-refresh"

  /** `clients` closed-loop threads, each on its own connection, sending
    * the sequence while `running()` holds. */
  private def load(s: Serving, pool: IndexedSeq[String], sequence: IndexedSeq[Int],
      expected: Map[String, (Int, Array[Byte])], clients: Int, phase: String,
      running: () => Boolean, out: ConcurrentLinkedQueue[(OpRec, String)]): Seq[Thread] = {
    val next = new AtomicInteger()
    (0 until clients).map { k =>
      val th = new Thread(() => {
        val c = newClient()
        while (running()) {
          val path = pool(sequence(next.getAndIncrement() % sequence.size))
          out.add((attempt(c, s.handle.port, path, phase, expected.get(path)), path))
        }
      }, s"perfbench-client-$k")
      th.start(); th
    }
  }

  /** One `ServingHandle.refresh` on the calling thread, as a record of
    * kind `refresh`: a throw is a failure. */
  private def refreshOnce(spark: SparkSession, s: Serving, phase: String): OpRec = {
    spark.sparkContext.setJobGroup(RefreshGroup, "ServingHandle.refresh")
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try {
      s.handle.refresh(s.docs)
      OpRec(phase, "refresh", "refresh", startMs, (System.nanoTime() - t0) / 1e6, ok = true)
    } catch {
      case NonFatal(e) =>
        OpRec(phase, "refresh", "refresh", startMs, (System.nanoTime() - t0) / 1e6,
          ok = false, err = s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally spark.sparkContext.clearJobGroup()
  }

  /** What the untimed phase leaves for the timed one: the expected
    * response per pool request, and the untimed records. */
  final case class Warm(expected: Map[String, (Int, Array[Byte])], recs: Seq[OpRec])

  /** The untimed phase. The listener's own answer to each pool request is
    * the expected response, checked once more, and per route against the
    * other serving path (`crossCheck`). Untimed load follows; with
    * `refresh`, one refresh runs beside it and the load lasts as long, so
    * the timed window starts with both the request path and the refresh
    * path compiled; without, the load lasts a second. */
  def warm(spark: SparkSession, s: Serving, pool: IndexedSeq[String],
      sequence: IndexedSeq[Int], clients: Int, refresh: Boolean): Warm = {
    val c = newClient()
    val own = pool.map(fetch(c, s.handle.port, _))
    val expected = pool.indices.map(i => pool(i) -> own(i)).toMap
    val pass = pool.map(p => attempt(c, s.handle.port, p, "untimed", expected.get(p)))
    val checks = new ConcurrentLinkedQueue[OpRec]()
    val checker = crossCheck(s, pool, own, checks)
    val until = new AtomicLong(if (refresh) Long.MaxValue else System.nanoTime() + WarmLoadNs)
    val out = new ConcurrentLinkedQueue[(OpRec, String)]()
    val workers = load(s, pool, sequence, expected, clients, "untimed",
      () => System.nanoTime() < until.get, out)
    val refreshed = if (!refresh) Nil else {
      val r = refreshOnce(spark, s, "untimed")
      until.set(0L)
      Seq(r)
    }
    workers.foreach(_.join())
    checker.join()
    Out.log(s"untimed: ${pool.size} pool requests, ${checks.size} cross-checks, " +
      s"${out.size} requests of load" + refreshed.map(r => f", a refresh of ${r.durMs}%.0f ms").mkString)
    Warm(expected, checks.asScala.toSeq ++ pass ++ refreshed ++ out.asScala.map(_._1))
  }

  /** `requestPathJobs` are the Spark jobs the traced window saw outside
    * the refresher, by call site. */
  final case class Result(recs: Seq[OpRec], windowMs: Double, refreshMs: Seq[Double],
      layers: Map[String, Double], requestPathJobs: Seq[String])

  /** The timed window: `clients` closed-loop clients for `seconds`. With
    * `refreshing`, refreshes run back to back beside them from the start
    * of the window, and the window ends with the refresh that brings it to
    * `seconds`: it holds whole refreshes only, so every run weighs a
    * refresh's phases alike. */
  def timed(spark: SparkSession, s: Serving, pool: IndexedSeq[String],
      sequence: IndexedSeq[Int], warm: Warm, clients: Int, seconds: Double,
      refreshing: Boolean, trace: Option[Trace]): Result = {
    val recs = new ConcurrentLinkedQueue[(OpRec, String)]()
    val refreshes = Vector.newBuilder[OpRec]
    val done = new AtomicBoolean(false)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val workers = load(s, pool, sequence, warm.expected, clients, "timed",
      () => !done.get, recs)
    if (refreshing) {
      do refreshes += refreshOnce(spark, s, "refresh")
      while (System.nanoTime() < deadline)
    } else Thread.sleep(math.max(0L, (deadline - System.nanoTime()) / 1000000L))
    done.set(true)
    val windowMs = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    workers.foreach(_.join())
    val timed = recs.asScala.toVector.sortBy(_._1.startMs)
    val refreshRecs = refreshes.result()
    val refreshMs = refreshRecs.filter(_.ok).map(_.durMs)
    Out.log(f"serve: ${timed.size} requests in $windowMs%.0f ms, refreshes " +
      refreshRecs.map(r => f"${r.durMs}%.0f").mkString("[", " ", "] ms"))
    val (layers, stray) = trace.map(t => serveLayers(spark, t, s, pool, timed, refreshMs, w0, w1))
      .getOrElse((Map.empty[String, Double], Nil))
    Result(timed.map(_._1) ++ refreshRecs, windowMs, refreshMs, layers, stray)
  }

  private def params(path: String): Map[String, String] =
    path.dropWhile(_ != '?').drop(1).split("&").iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
      java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toSeq.reverse.toMap

  private def stopId(raw: String): Option[String] =
    try Some(java.lang.Long.parseLong(raw.trim).toString)
    catch { case _: NumberFormatException => None }

  /** The engine work of one request without the HTTP layer: the same
    * QueryService/Timetable call the live listener makes, or the same
    * ServingCache lookup the cached one makes. */
  def engineCall(path: String, svc: QueryService, docs: DataFrame,
      cache: Option[ServingCache]): Any = {
    val p = params(path)
    val service = ServiceFilter.fromParam(p.get("service_id"))
    val sid = p.get("stop_id").flatMap(stopId)
    path.takeWhile(_ != '?') match {
      case r if r.startsWith("/api/q") =>
        val q = r.stripPrefix("/api/")
        val limit = Limit.fromParam(p.get("limit"))
        cache match {
          case Some(c) =>
            val rows = c.api((q, ServingCache.tagOf(service)))
            limit match { case Limit.TopN(n) => rows.take(n); case Limit.All => rows }
          case None =>
            val f: (ServiceFilter, Limit) => DataFrame = q match {
              case "q1" => svc.q1(_, _)
              case "q2" => svc.q2(_, _)
              case "q3" => svc.q3(_, _)
              case _    => svc.q4(_, _)
            }
            f(service, limit).toJSON.collect()
        }
      case "/get_stops" =>
        cache.fold[Any](Timetable.getStops(docs).toJSON.collect())(_.stopsBody)
      case "/get_timetable" => sid.map { id =>
        cache.fold[Any](Timetable.getTimetable(docs, id).collect())(_.timetableRows(id))
      }
      case "/get_routes_for_stop" => sid.map { id =>
        cache.fold[Any](Timetable.getRoutesForStop(docs, id).toJSON.collect())(_.routesForStop(id))
      }
      case _ => sid.map { id =>
        (p.get("route_short_name"), p.get("trip_headsign")) match {
          case (Some(route), Some(head)) => cache.fold[Any](
            Timetable.getArrivalsFlat(docs, id, route, head, service).collect())(
            _.arrivalsFlat(id, route, head, service))
          case _ => cache.fold[Any](
            Timetable.getArrivalsGrouped(docs, id, service).collect())(
            _.arrivalsGrouped(id, service))
        }
      }
    }
  }

  private def serveLayers(spark: SparkSession, t: Trace, s: Serving,
      pool: IndexedSeq[String], timedWithPath: Seq[(OpRec, String)],
      refreshMs: Seq[Double], w0: Long, w1: Long): (Map[String, Double], Seq[String]) = {
    t.drain()
    val timed = timedWithPath.map(_._1)
    val ok = timed.filter(_.ok)
    val n = math.max(timed.size, 1).toDouble
    val windowJobs = t.jobsIn(w0, w1)
    val allRefreshJobs = windowJobs.count(_.group == RefreshGroup)
    val stray = windowJobs.filter(_.group != RefreshGroup).map(j => s"job ${j.id} at ${j.site}")
    // engine probe: every pool request called directly, one at a time
    val cache = if (s.handle.cached) Some(ServingCache.build(s.svc, s.docs)) else None
    spark.sparkContext.setJobGroup("perfbench-probe", "engine probe")
    // a live call is a Spark job of a few hundred ms: one pass keeps a
    // traced serve_live run well inside its time limit
    val reps = if (cache.isDefined) 3 else 1
    val probe = (1 to reps).flatMap { _ =>
      pool.map { path =>
        val startMs = System.currentTimeMillis().toDouble
        val p0 = System.nanoTime()
        engineCall(path, s.svc, s.docs, cache)
        (path, startMs, (System.nanoTime() - p0) / 1e6)
      }
    }
    spark.sparkContext.clearJobGroup()
    t.drain()
    val engineOf = probe.groupBy(_._1).map { case (k, v) => k -> Layers.median(v.map(_._3)) }
    val engineMs = timedWithPath.map { case (_, path) => engineOf(path) }.sum / n
    val perRoute = Routes.map { r =>
      s"route.$r.p50_ms" -> Layers.median(ok.filter(_.name == r).map(_.durMs))
    }
    val seq = Layers.sequential(t, probe.map(x => (x._2, x._3)))
    val lastNodes = Layers.sequential(t, probe.takeRight(pool.size).map(x => (x._2, x._3)))
      .filter(_._1.endsWith("_nodes"))
    (Layers.exec(t, w0, w1, timed.size) ++ seq ++ lastNodes ++ perRoute ++ Map(
      "serve.engine_ms" -> engineMs,
      "serve.http_ms" -> (if (ok.isEmpty) 0.0 else ok.map(_.durMs).sum / ok.size - engineMs),
      "serve.jobs_per_req" -> stray.size / n,
      "serve.resp_bytes" -> (if (ok.isEmpty) 0.0 else ok.map(_.bytes.toDouble).sum / ok.size),
      "refresh.ms" -> Layers.median(refreshMs),
      "refresh.jobs" -> (if (refreshMs.isEmpty) 0.0 else allRefreshJobs.toDouble / refreshMs.size)),
      stray)
  }
}
