package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.transit._

/** Driver-side serving maps for the HTTP listener — the S8 pattern the
  * SURVEY prescribes for low-latency serving ("a driver-side map of the
  * collected small table"), applied to every bounded endpoint.
  *
  * The r11 certification showed the listener's cost is NOT the engine
  * (ServeDaemon answers the same faces at p50 37 ms): ~170 ms per request
  * went to running a Spark job + `toJSON.collect()` against the cached
  * store. But every endpoint's response is a deterministic slice of a
  * BOUNDED precomputable superset — exactly the reference's own serving
  * architecture (it slices pre-generated CSV snapshots per request,
  * `SQL/csv_backend.py:42-58`, and reads pre-denormalized Mongo documents,
  * `Mongo/app.py:64-244`). So the listener collects that superset ONCE at
  * startup — the stops list, two whole-store grouped jobs, and one
  * collect per analytic query whose rows split into its four service
  * tags on the driver — and a request becomes an in-memory lookup +
  * O(response bytes) of string assembly. No Spark job runs on the
  * request path.
  *
  * Memory: the collected state is ~the rendered schedule text (every
  * departure-time string once for the timetable frame, once more for the
  * public frame) — bounded by stop/route/schedule cardinality, NOT by
  * corpus history, because the store itself is (SURVEY §3.3). At sf1 this
  * is ~100 MB; a serving replica holds it the way the reference's Flask
  * process holds its CSV frames.
  *
  * Parity: the per-request assembly reuses the LISTENER's own render
  * helpers, and `HttpServeParitySpec` byte-compares every route against a
  * cache-less listener running the live DataFrame path. Sort parity
  * between the engine (UTF8 binary order) and driver-side sorts (UTF-16
  * order) holds for all BMP strings — codepoint order in both — which the
  * GTFS text domain satisfies.
  */
final class ServingCache(
    /** (q1..q4, service tag '1'..'4') → unlimited pre-rendered JSON rows
      * in the query's canonical order; a request takes the first `limit`. */
    val api: Map[(String, String), Vector[String]],
    /** The full `/get_stops` response body (static). */
    val stopsBody: String,
    /** stop → (route_long_name, trip_headsign) → sorted departure CSV:
      * the whole document, no service filters (the /get_timetable frame). */
    val timetable: Map[String, Vector[(Option[String], Option[String], String)]],
    /** stop → per-(service_id, short_name, headsign) groups over the
      * PUBLIC services only: (sid, short, head, n, sorted times CSV) —
      * the /get_arrivals and /get_routes_for_stop base frame. */
    val public: Map[String, Vector[(String, Option[String], Option[String], Long, String)]]) {

  private def mergeTimes(csvs: Seq[String]): String = {
    val all = csvs.filter(_.nonEmpty).flatMap(_.split(",", -1))
    if (all.isEmpty) "" else all.sorted.mkString(",")
  }

  /** Option[String] ordering matching Spark's asc_nulls_first. */
  private val nullsFirst: Ordering[Option[String]] =
    Ordering.Option(Ordering.String)

  def timetableRows(stopId: String): Option[Seq[(Option[String], Option[String], String)]] =
    timetable.get(stopId).map(_.sortBy { case (route, head, _) => (route, head) }(
      Ordering.Tuple2(nullsFirst, nullsFirst)))

  def routesForStop(stopId: String): Seq[(String, String)] =
    public.getOrElse(stopId, Vector.empty)
      .collect { case (_, Some(short), Some(head), _, _) if head != "NOT IN SERVICE" =>
        (short, head) }
      .distinct.sorted

  def arrivalsGrouped(stopId: String, service: ServiceFilter): Seq[(Option[String], String, Long, String)] =
    public.getOrElse(stopId, Vector.empty)
      .collect { case (sid, short, Some(head), n, times)
        if head != "NOT IN SERVICE" && service.sid.forall(_ == sid) =>
          (short, head, n, times) }
      .groupBy { case (short, head, _, _) => (short, head) }
      .toSeq
      .map { case ((short, head), gs) =>
        (short, head, gs.map(_._3).sum, mergeTimes(gs.map(_._4))) }
      .sortBy { case (short, head, _, _) => (short, head) }(
        Ordering.Tuple2(nullsFirst, Ordering.String))

  def arrivalsFlat(stopId: String, short: String, head: String,
      service: ServiceFilter): Seq[String] = {
    val merged = mergeTimes(
      public.getOrElse(stopId, Vector.empty)
        .collect { case (sid, s, h, _, times)
          if s.contains(short) && h.contains(head) && service.sid.forall(_ == sid) =>
            times })
    if (merged.isEmpty) Seq.empty else merged.split(",", -1).toSeq
  }
}

object ServingCache {

  /** Resident ceiling for the driver-side maps, in SCHEDULE ENTRIES (one
    * element of one stop's `upcoming_services` array — the store row that
    * dominates every collected frame; see the memory note above). Entries
    * are the right unit for the same reason `graft.Scale` sizes by rows:
    * byte stats of the resident store are encoding-blind, but every
    * cached map is O(entries) strings of ~bounded length. Calibration:
    * the certified sf1 store is ~6.0 M entries ≈ ~100 MB of driver maps
    * (~17 B/entry rendered, measured r12) — the default ceiling of 64 M
    * entries caps the cache at ~1 GiB resident, an order of magnitude of
    * headroom over the certified point while still refusing the 100×
    * store a default-config caller would otherwise collect. Override via
    * `-Dgraft.serve.maxCacheEntries=` (a system property, not an env var,
    * so tests can flip it in-process). */
  val MaxCacheEntriesKey = "graft.serve.maxCacheEntries"
  val DefaultMaxCacheEntries: Long = 64L * 1000 * 1000

  def maxCacheEntries: Long =
    sys.props.get(MaxCacheEntriesKey).map(_.toLong)
      .getOrElse(DefaultMaxCacheEntries)

  /** The gating probe: total schedule entries across the store — one
    * sum-of-array-sizes aggregate over the (resident) document frame, no
    * explode and no payload movement. */
  def storeEntries(timetables: DataFrame): Long = {
    val r = timetables
      .select(coalesce(sum(size(col("upcoming_services"))), lit(0L)).as("n"))
      .first()
    r.getAs[Number]("n").longValue()
  }

  private val allServices: Seq[ServiceFilter] = Seq(
    ServiceFilter.Weekday, ServiceFilter.Saturday, ServiceFilter.Sunday,
    ServiceFilter.WholeWeek)

  /** The snapshot partition tag ('1'/'2'/'3' per-service, '4' whole week —
    * the reference's sentinel, `SQL/csv_backend.py:44`). */
  def tagOf(s: ServiceFilter): String = s.sid.getOrElse("4")

  /** The `/api/q1..q4` maps: one collect per query over its tagged
    * superset ([[QueryService.taggedJson]]), split by service tag on the
    * driver. A tag the superset has no rows for (a service with no trips)
    * serves an empty list, exactly as its live slice would. */
  private[tools] def buildApi(svc: QueryService): Map[(String, String), Vector[String]] =
    Seq("q1" -> QueryService.Q1, "q2" -> QueryService.Q2,
        "q3" -> QueryService.Q3, "q4" -> QueryService.Q4).flatMap { case (q, name) =>
      val byTag = svc.taggedJson(name)
      allServices.map { s =>
        val tag = tagOf(s)
        (q, tag) -> byTag.getOrElse(tag, Vector.empty)
      }
    }.toMap

  def build(svc: QueryService, timetables: DataFrame): ServingCache = {
    val api = buildApi(svc)

    val stopsBody = Timetable.getStops(timetables)
      .toJSON.collect().mkString("[", ",", "]")

    val ex = timetables.select(col("stop_id"),
      explode(col("upcoming_services")).as("svc"))

    // one grouped pass over the whole store per frame (NOT a job per stop):
    // the same group-by the per-request engine faces run, plus the stop key
    val ttRows = ex.groupBy(col("stop_id"),
        col("svc.route_long_name").as("route"),
        col("svc.trip_headsign").as("head"))
      .agg(concat_ws(",", array_sort(collect_list(col("svc.departure_time"))))
        .as("times"))
      .collect()
    val timetable = ttRows.toVector
      .map(r => (String.valueOf(r.get(0)),
        (Option(r.getAs[String]("route")), Option(r.getAs[String]("head")),
          r.getAs[String]("times"))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }

    val pubRows = ex
      .filter(col("svc.service_id").isin(ServiceFilter.publicServices: _*))
      .groupBy(col("stop_id"), col("svc.service_id").as("sid"),
        col("svc.route_short_name").as("short"),
        col("svc.trip_headsign").as("head"))
      .agg(count(lit(1)).as("n"),
        concat_ws(",", array_sort(collect_list(col("svc.departure_time"))))
          .as("times"))
      .collect()
    val public = pubRows.toVector
      .map(r => (String.valueOf(r.get(0)),
        (r.getAs[String]("sid"), Option(r.getAs[String]("short")),
          Option(r.getAs[String]("head")), r.getAs[Long]("n"),
          r.getAs[String]("times"))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }

    new ServingCache(api, stopsBody, timetable, public)
  }
}
