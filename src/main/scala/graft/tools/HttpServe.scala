package graft.tools

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.DataFrame
import graft.Bench.jstr
import graft.transit._

/** A REAL HTTP listener over the serving layer — the reference exposes its
  * engines through two Flask apps (`SQL/app.py:76-126` — /api/q1..q4 with
  * `service_id`/`limit` params; `Mongo/app.py:47-244` — /get_stops,
  * /get_timetable, /get_routes_for_stop, /get_arrivals). This closes the
  * gap between "engine analog" and "a user could point curl at it": the same
  * [[QueryService]]/[[Timetable]] plans behind real sockets, query-string
  * parsing, status codes and JSON bodies, on the JDK's built-in
  * `com.sun.net.httpserver` (zero added dependencies — the HTTP layer is
  * presentation, so it must not drag a framework into the engine jar).
  *
  * Route → engine-face mapping (response shapes mirror the reference):
  *  - `GET /api/q{1..4}?service_id=&limit=` → `{"items":[...]}`; params
  *    sanitized by the shared [[ServiceFilter.fromParam]]/[[Limit.fromParam]]
  *    rules ('4'/garbage → whole week; "all"/garbage → 20), exactly the
  *    sanitization `SQL/sql_utils.py:23-43` applies before dispatch.
  *  - `GET /get_stops` → JSON array of {stop_id, stop_name, stop_code},
  *    name-sorted (`Mongo/app.py:56-59`).
  *  - `GET /get_timetable?stop_id=` → nested {route: {headsign: [times]}}
  *    (400 missing param / 404 unknown stop, `Mongo/app.py:66-112`).
  *  - `GET /get_routes_for_stop?stop_id=` → sorted pair list
  *    (`Mongo/app.py:116-149`).
  *  - `GET /get_arrivals?stop_id=&route_short_name=&trip_headsign=&service_id=`
  *    → flat `{"times":[...],"count":n}` when route+headsign are both given,
  *    else grouped `{"groups":[...],"total_count":n}` (`Mongo/app.py:153-244`).
  *
  * Scale note: the HTTP layer adds O(response) work only. In cached mode
  * (the default under [[ServingCache.MaxCacheEntries]]) every handler is
  * a lookup in the driver-side [[ServingCache]] maps, and nothing of the
  * store or the snapshots stays pinned in Spark. In live mode every
  * handler is a Spark job: analytic routes slice the pre-aggregated,
  * partition-pruned snapshots (each pinned on its first slice), and
  * timetable lookups are point filters on the pinned document store. At
  * cluster scale this process is a thin stateless front end replicated
  * behind a load balancer, each replica holding the same serving copy,
  * so request fan-out scales with replica count, not data size.
  */
object HttpServe {

  // TCP_NODELAY on every accepted socket: the JDK server writes headers
  // and body as separate segments, and with Nagle on, the body segment
  // waits ~40 ms for the client's delayed ACK of the header segment —
  // measured r12/r13 as a flat 44 ms p50 across EVERY route regardless of
  // response size (a keep-alive generator alone did not move it; the few
  // large responses that filled full segments answered in 3-5 ms).
  // Set at HttpServe CLASS LOAD, not inside start(): the JDK reads the
  // property ONCE, in sun.net.httpserver.ServerConfig's static
  // initializer (first HttpServer use anywhere in the JVM), so a
  // start()-time set is load-order dependent — any embedding JVM that
  // created its own HttpServer first would silently get the Nagle stall
  // back. Every listener in this repo reaches HttpServer.create via this
  // object, so object-init always precedes ServerConfig load here; an
  // embedder with its own earlier listener should pass
  // -Dsun.net.httpserver.nodelay=true on the JVM line instead.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Boundary validation + canonicalization for stop_id request values,
    * keyed to the STORE's id type. Numeric-keyed store (the production
    * transit tables): the live path ANSI-casts the request string for its
    * filter (THROWING on a non-integral value) while the cached maps key
    * on the exact long rendering — so "042"/" 42" canonicalize to
    * Some("42") and "42.0"/"x" become None (handled as "no such stop" per
    * route, identically in both modes). String-keyed store (the GTFS
    * fixture): ids pass through verbatim — string equality is exact in
    * both modes already. */
  private def parseStopId(st: ServingState, raw: String): Option[String] =
    if (!st.numericKey) Some(raw)
    else
      try Some(java.lang.Long.parseLong(raw.trim).toString)
      catch { case _: NumberFormatException => None }

  /** One query-string parse shared by every route (the JDK gives raw
    * query text only). Later duplicates win, matching Flask's
    * `request.args.get` taking the first — order reversed so first wins. */
  private def params(ex: HttpExchange): Map[String, String] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split("&").iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
      java.net.URLDecoder.decode(k, "UTF-8") ->
        java.net.URLDecoder.decode(v, "UTF-8")
    }.toSeq.reverse.toMap
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def handler(f: HttpExchange => (Int, String)): HttpHandler =
    new HttpHandler {
      def handle(ex: HttpExchange): Unit =
        try {
          val (status, body) = f(ex)
          respond(ex, status, body)
        } catch {
          case e: Throwable =>
            respond(ex, 500, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
        }
    }

  /** Rows → JSON array via Spark's own row serializer (the engine's types
    * decide the JSON types — no reflection layer like the reference's
    * `_to_json_safe` numpy walk, `SQL/app.py:35-57`). */
  private def itemsJson(df: DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  /** The nested {route: {headsign: [times]}} document, re-assembled at the
    * presentation edge like the reference's defaultdict walk
    * (`Mongo/app.py:87-110`). Rows arrive group-sorted, so adjacent
    * grouping preserves key order; null keys render as the reference's
    * Unknown fallbacks. Shared by the live and cached paths. */
  private[tools] def renderTimetable(
      rows: Seq[(Option[String], Option[String], String)]): String = {
    val nested = rows
      .map { case (route, head, times) =>
        (route.getOrElse("Unknown Route"),
          head.getOrElse("Unknown Direction"), times)
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (route, hs) =>
        val dirs = hs.map { case (_, head, times) =>
          s"${jstr(head)}:${times.split(",").map(jstr)
            .mkString("[", ",", "]")}"
        }.mkString(",")
        s"${jstr(route)}:{$dirs}"
      }.mkString(",")
    s"{$nested}"
  }

  /** Grouped-arrivals body: null short names render as "" like the
    * reference's str-or-empty walk (`Mongo/app.py:219-224`). Shared by the
    * live and cached paths. */
  private[tools] def renderGroups(
      rows: Seq[(Option[String], String, Long, String)]): String = {
    val groups = rows.map { case (short, head, n, times) =>
      val arr = if (times.isEmpty) "[]"
                else times.split(",").map(jstr).mkString("[", ",", "]")
      s"""{"route_short_name":${jstr(short.getOrElse(""))},"trip_headsign":${jstr(head)},"times":$arr,"count":$n}"""
    }
    val total = rows.map(_._3).sum
    s"""{"groups":${groups.mkString("[", ",", "]")},"total_count":$total}"""
  }

  private[tools] def renderFlat(times: Seq[String]): String =
    s"""{"times":${times.map(jstr).mkString("[", ",", "]")},"count":${times.length}}"""

  /** What one listener serves from, swappable as ONE unit: the document
    * store, the driver-side maps built from it (None = live path), and
    * the store's measured entry count (the gating probe's evidence,
    * surfaced on `/servez`). Handlers read the CURRENT value per request,
    * so a [[ServingHandle.refresh]] is atomic from the wire's view —
    * in-flight requests finish against the state they started with. */
  private final case class ServingState(
      docs: DataFrame, cache: Option[ServingCache], entries: Long,
      /** Whether the store's stop_id is a numeric column — decides the
        * request-id canonicalization rule (see [[parseStopId]]). */
      numericKey: Boolean)

  /** A running listener plus its staleness contract. The serving maps are
    * built from the store AS OF startup; the engine also ships the feed
    * mutation faces (`transit_feed_upsert`, `transit_snapshot_ivm`) that
    * can change the store under a running listener — [[refresh]] is the
    * documented invalidation hook: hand it the post-upsert store and it
    * re-probes, re-decides cache-vs-live under the SAME mode the listener
    * was started with, rebuilds the maps (the same jobs as startup: the
    * entry probe, the stops list, one whole-store grouped job and one
    * collect per analytic query — see [[ServingCache]]), and swaps
    * atomically. Until refresh returns, the
    * listener keeps serving the pre-upsert snapshot — stale-but-consistent,
    * never mixed. Residency follows [[start]]'s rule: a cached refresh
    * pins the new store for its build (the ETL under it then runs once,
    * not once per build job) and releases it once the maps exist, before
    * they are swapped in; a live refresh pins the new store and releases
    * the old one's pin unless it is the same plan (one pin, no count). */
  final class ServingHandle private[tools] (
      val server: HttpServer,
      workers: java.util.concurrent.ExecutorService,
      svc: QueryService,
      mode: Option[Boolean],
      state: java.util.concurrent.atomic.AtomicReference[ServingState]) {
    def port: Int = server.getAddress.getPort
    /** Whether the CURRENT state serves from driver maps (true) or the
      * live DataFrame path (false). */
    def cached: Boolean = state.get.cache.isDefined
    def refresh(newDocs: DataFrame): Unit = {
      val old = state.getAndSet(HttpServe.resolveState(svc, newDocs, mode))
      if (old.cache.isEmpty && !old.docs.sameSemantics(newDocs))
        old.docs.unpersist(blocking = false)
    }
    /** Stop accepting, then release the handler pool: `server.stop`
      * leaves the executor it was given running. */
    def stop(delaySeconds: Int = 0): Unit =
      try server.stop(delaySeconds) finally workers.shutdown()
  }

  /** The cache decision for a store of `entries` schedule entries: a
    * forced mode wins, else the maps are built only when the store fits
    * under [[ServingCache.MaxCacheEntries]]. */
  private[tools] def useCache(mode: Option[Boolean], entries: Long): Boolean =
    mode.getOrElse(entries <= ServingCache.MaxCacheEntries)

  /** The measured cache decision + build for one store: pin it, probe the
    * entry count, decide ([[useCache]]), build the maps only when they
    * fit. The pin follows the decision: live mode keeps the store pinned,
    * since each request is a Spark job over it; cached mode releases it
    * once the maps are built, since no request reads it again. Spark keys
    * a pin by plan and keeps no count, so the release also drops a pin
    * another holder (a live listener on an equal store) placed; that
    * holder then recomputes the store per request, with the same bytes. */
  private def resolveState(svc: QueryService, docs: DataFrame,
      mode: Option[Boolean]): ServingState = {
    docs.persist()
    val entries = ServingCache.storeEntries(docs)
    val cache =
      if (!useCache(mode, entries)) None
      else try Some(ServingCache.build(svc, docs)) finally docs.unpersist(blocking = true)
    ServingState(docs, cache, entries,
      numericKey = docs.schema("stop_id").dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType])
  }

  /** Start the listener; `port = 0` binds an ephemeral port (tests).
    *
    * `withCache = None` (the default) makes a MEASURED decision: probe
    * the store's schedule-entry count (one sum-of-array-sizes aggregate
    * over the store, which the probe pins) and precompute the
    * [[ServingCache]] maps only when it fits under
    * [[ServingCache.MaxCacheEntries]] — the r12
    * listener collected unconditionally, which at 100× the certified sf1
    * store would collect an oversized store onto the driver by default.
    * Cached mode serves every request from driver memory (no Spark job on
    * the request path — the reference's own precompute-then-slice
    * architecture) and releases the store's pin once the maps are built;
    * over the ceiling the listener falls back to the live
    * DataFrame path (each request a Spark job over the store, which stays
    * pinned). The listener owns the store's residency, so callers need
    * not pin it ([[resolveState]] says what a release does to other pins).
    * `Some(true)`/`Some(false)` force either path — the parity baseline
    * (`HttpServeParitySpec` byte-compares them) and the A/B lever.
    * `/servez` reports the decision and the probe's evidence. Handlers
    * run on a small pool — concurrent requests become concurrent lookups
    * (cached) or Spark jobs on the shared session (live). */
  def start(svc: QueryService, timetables: DataFrame, port: Int,
      withCache: Option[Boolean] = None): ServingHandle = {
    val state = new java.util.concurrent.atomic.AtomicReference(
      resolveState(svc, timetables, withCache))
    val server = HttpServer.create(new java.net.InetSocketAddress(port), 64)
    // daemon workers: the listener must never pin the JVM open after
    // server.stop() (the session's lifecycle owns process exit)
    val workers = java.util.concurrent.Executors.newFixedThreadPool(16,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"http-serve-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
    server.setExecutor(workers)

    val analytic: Map[String, (ServiceFilter, Limit) => DataFrame] = Map(
      "q1" -> (svc.q1(_, _)), "q2" -> (svc.q2(_, _)),
      "q3" -> (svc.q3(_, _)), "q4" -> (svc.q4(_, _)))
    analytic.foreach { case (name, f) =>
      server.createContext(s"/api/$name", handler { ex =>
        val st = state.get
        val p = params(ex)
        val service = ServiceFilter.fromParam(p.get("service_id"))
        val limit = Limit.fromParam(p.get("limit"))
        val items = st.cache match {
          case Some(c) =>
            // the unlimited slice is pre-rendered in canonical order;
            // the limit is a prefix take (the sort is total, so the
            // first n of the full ordering IS limit n)
            val rows = c.api((name, ServingCache.tagOf(service)))
            (limit match {
              case Limit.TopN(n) => rows.take(n)
              case Limit.All     => rows
            }).mkString("[", ",", "]")
          case None => itemsJson(f(service, limit))
        }
        (200, s"""{"items":$items}""")
      })
    }

    server.createContext("/get_stops", handler { _ =>
      val st = state.get
      (200, st.cache.fold(itemsJson(Timetable.getStops(st.docs)))(_.stopsBody))
    })

    server.createContext("/get_timetable", handler { ex =>
      val st = state.get
      params(ex).get("stop_id") match {
        case None =>
          (400, """{"error":"Missing 'stop_id' parameter"}""")
        case Some(raw) => parseStopId(st, raw) match {
          case None =>
            // boundary validation: the store key is BIGINT, so the live
            // path's ANSI comparison would THROW on a non-integral string
            // while the cached maps would 404 — reject it here so both
            // modes answer identically (same wording as unknown id)
            (404, s"""{"error":${jstr(s"Stop ID not found: $raw")}}""")
          case Some(sid) =>
            // engine face returns (route_long_name, trip_headsign, n_times,
            // comma-joined sorted times); [[renderTimetable]] re-assembles
            // the nested document at the presentation edge
            val rows: Seq[(Option[String], Option[String], String)] =
              st.cache match {
                case Some(c) => c.timetableRows(sid).getOrElse(Seq.empty)
                case None =>
                  Timetable.getTimetable(st.docs, sid).collect().toSeq
                    .map(r => (Option(r.getAs[String]("route_long_name")),
                      Option(r.getAs[String]("trip_headsign")),
                      r.getAs[String]("departure_times")))
              }
            if (rows.isEmpty)
              (404, s"""{"error":${jstr(s"Stop ID not found: $raw")}}""")
            else (200, renderTimetable(rows))
        }
      }
    })

    server.createContext("/get_routes_for_stop", handler { ex =>
      val st = state.get
      params(ex).get("stop_id") match {
        case None => (400, """{"error":"Missing 'stop_id' parameter"}""")
        case Some(raw) =>
          // unknown stop answers 200 [] on this route; a non-integral id
          // is the same "no such stop" case (see /get_timetable)
          val body = parseStopId(st, raw) match {
            case None => "[]"
            case Some(sid) => st.cache match {
              case Some(c) =>
                c.routesForStop(sid).map { case (short, head) =>
                  s"""{"route_short_name":${jstr(short)},"trip_headsign":${jstr(head)}}"""
                }.mkString("[", ",", "]")
              case None => itemsJson(Timetable.getRoutesForStop(st.docs, sid))
            }
          }
          (200, body)
      }
    })

    server.createContext("/get_arrivals", handler { ex =>
      val st = state.get
      val p = params(ex)
      p.get("stop_id") match {
        case None => (400, """{"error":"Missing 'stop_id' parameter"}""")
        case Some(raw) =>
          // a non-integral id behaves exactly like an unknown numeric one
          // on this route: empty flat/grouped renders (see /get_timetable)
          val sidOpt = parseStopId(st, raw)
          val service = ServiceFilter.fromParam(p.get("service_id"))
          (p.get("route_short_name"), p.get("trip_headsign")) match {
            case (Some(route), Some(head)) =>
              val times: Seq[String] = sidOpt.fold(Seq.empty[String]) { sid =>
                st.cache match {
                  case Some(c) => c.arrivalsFlat(sid, route, head, service)
                  case None => Timetable.getArrivalsFlat(st.docs, sid, route,
                    head, service).collect().toSeq
                    .map(_.getAs[String]("departure_time"))
                }
              }
              (200, renderFlat(times))
            case _ =>
              val rows: Seq[(Option[String], String, Long, String)] =
                sidOpt.fold(Seq.empty[(Option[String], String, Long, String)]) { sid =>
                  st.cache match {
                    case Some(c) => c.arrivalsGrouped(sid, service)
                    case None =>
                      Timetable.getArrivalsGrouped(st.docs, sid, service)
                        .collect().toSeq
                        .map(r => (Option(r.getAs[String]("route_short_name")),
                          r.getAs[String]("trip_headsign"),
                          r.getAs[Long]("n_arrivals"),
                          r.getAs[String]("departure_times")))
                  }
                }
              (200, renderGroups(rows))
          }
      }
    })

    server.createContext("/healthz", handler { _ => (200, """{"ok":true}""") })

    // the gating decision and its evidence, inspectable on the wire (and
    // asserted by the over-threshold parity face): which path this
    // listener serves from, the probed entry count, and the ceiling it
    // was compared against
    server.createContext("/servez", handler { _ =>
      val st = state.get
      (200, s"""{"cache":${st.cache.isDefined},"store_entries":${st.entries},"max_cache_entries":${ServingCache.MaxCacheEntries}}""")
    })

    server.start()
    new ServingHandle(server, workers, svc, withCache, state)
  }

  /** Standalone entry: build the snapshots and the document store, then
    * serve on `args(0)` (default 8181) until the process is killed. */
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Session.sfDir
    val port = if (args.length > 0) args(0).toInt else 8181
    // serving profile: 4 reducers, FAIR pool. Builds that need width (the
    // one-off snapshot/store ETL) size their own barriers via graft.Scale,
    // so the session dial only shapes request plans.
    val spark = graft.Session.serving()

    val t = TransitTables.fromTpch(spark, sfDir)
    val snapDir = graft.Scratch.dir("http_serve_snapshots", sfDir)
    QueryService.buildAnalyticsSnapshots(t, snapDir)
    val svc = new QueryService(t, Some(snapDir), cacheSnapshots = true)
    // serving copy of the document store: the build runs wide (its own
    // data-sized barrier), but the store is a few thousand nested rows —
    // collapse to 4 partitions so a live point-lookup request schedules 4
    // scan tasks, not the build's grid. `start` pins it as its mode needs.
    val timetables = Timetable.buildStopTimetables(t).coalesce(4)
    val handle = start(svc, timetables, port)
    println(s"[http-serve] listening on :${handle.port} (cache=${handle.cached})")
    Thread.currentThread.join() // serve until killed
  }
}
