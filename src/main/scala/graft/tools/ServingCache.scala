package graft.tools

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.transit._

/** Driver-side serving maps for the HTTP listener — the S8 pattern the
  * SURVEY prescribes for low-latency serving ("a driver-side map of the
  * collected small table"), applied to every bounded endpoint.
  *
  * The r11 certification showed the listener's cost is NOT the engine
  * (the engine alone answered the same faces at p50 37 ms): ~170 ms per request
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
  * corpus history, because the store itself is (SURVEY §3.3). The layout
  * keeps it close to that text: per stop, the groups are parallel
  * columns (no tuple per group), their times are ONE packed string, and
  * the route names, headsigns and service ids (a few hundred distinct
  * values against ~10^5 groups) are one shared `String`/`Some` each per
  * build — one JVM object per row would cost several times its payload
  * (Shark, SIGMOD'13, stores columns as arrays for the same reason).
  * Retained heap of one build, measured on a 4-core box as the after-GC
  * heap delta around `build`: 4.7 MB at sf0.01 (60 k entries) and 23 MB
  * at sf0.1 (600 k entries). A serving replica holds it the way the
  * reference's Flask process holds its CSV frames.
  *
  * Parity: the per-request assembly reuses the LISTENER's own render
  * helpers, and `HttpServeParitySpec` byte-compares every route against a
  * cache-less listener running the live DataFrame path. Sort parity
  * between the engine (UTF8 binary order) and driver-side sorts (UTF-16
  * order) holds for all BMP strings — codepoint order in both — which the
  * GTFS text domain satisfies.
  */
final class ServingCache private (
    /** (q1..q4, service tag '1'..'4') → unlimited pre-rendered JSON rows
      * in the query's canonical order; a request takes the first `limit`. */
    val api: Map[(String, String), Vector[String]],
    /** The full `/get_stops` response body (static). */
    val stopsBody: String,
    /** stop → its (route_long_name, trip_headsign) groups with their
      * sorted departure CSVs: the whole document, no service filters (the
      * /get_timetable frame), already in the response's group order. */
    timetable: Map[String, ServingCache.TimetableGroups],
    /** stop → its (service_id, short_name, headsign) groups over the
      * PUBLIC services only, with arrival counts and sorted times CSVs —
      * the /get_arrivals and /get_routes_for_stop base frame. */
    public: Map[String, ServingCache.PublicGroups]) {
  import ServingCache._

  private def mergeTimes(csvs: Seq[String]): String = {
    val all = csvs.filter(_.nonEmpty).flatMap(_.split(",", -1))
    if (all.isEmpty) "" else all.sorted.mkString(",")
  }

  def timetableRows(stopId: String): Option[Seq[(Option[String], Option[String], String)]] =
    timetable.get(stopId).map(g => g.route.indices.map(i => (g.route(i), g.head(i), g.times(i))))

  private def publicOf(stopId: String): PublicGroups =
    public.getOrElse(stopId, NoPublicGroups)

  def routesForStop(stopId: String): Seq[(String, String)] = {
    val g = publicOf(stopId)
    g.indices.collect { case i if g.served(i) && g.short(i).isDefined =>
      (g.short(i).get, g.head(i).get) }
      .distinct.sorted
  }

  def arrivalsGrouped(stopId: String, service: ServiceFilter): Seq[(Option[String], String, Long, String)] = {
    val g = publicOf(stopId)
    g.indices.filter(i => g.served(i) && g.runs(i, service))
      .groupBy(i => (g.short(i), g.head(i).get))
      .toSeq
      .map { case ((short, head), is) =>
        (short, head, is.map(g.n(_)).sum, mergeTimes(is.map(g.times(_)))) }
      .sortBy { case (short, head, _, _) => (short, head) }(
        Ordering.Tuple2(nullsFirst, Ordering.String))
  }

  def arrivalsFlat(stopId: String, short: String, head: String,
      service: ServiceFilter): Seq[String] = {
    val g = publicOf(stopId)
    val merged = mergeTimes(g.indices
      .filter(i => g.short(i).contains(short) && g.head(i).contains(head) &&
        g.runs(i, service))
      .map(g.times(_)))
    if (merged.isEmpty) Seq.empty else merged.split(",", -1).toSeq
  }
}

object ServingCache {

  /** Resident ceiling for the driver-side maps, in SCHEDULE ENTRIES (one
    * element of one stop's `upcoming_services` array — the store row that
    * dominates every collected frame; see the memory note above). Entries
    * are the right unit for the same reason `graft.Scale` sizes by rows:
    * byte stats of the resident store are encoding-blind, but every
    * cached map is O(entries) strings of ~bounded length. Calibration
    * (retained heap per entry, see the memory note above): 82 B at sf0.01
    * and 40 B at sf0.1, falling with scale towards the ~18 B of rendered
    * text (each time twice, 8 chars + comma) as fixed per-stop and
    * per-group costs amortize. The sf1 store (~6.0 M entries) thus
    * extrapolates to at most ~230 MB (not measured), and the
    * ceiling of 64 M entries caps the cache at ~1.2–2.4 GiB resident —
    * an order of magnitude of headroom over sf1 while still refusing the
    * 100× store a default-config caller would otherwise collect. */
  val MaxCacheEntries: Long = 64L * 1000 * 1000

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

  /** The snapshot partition tag of a service ([[QueryService.tagOf]]). */
  def tagOf(s: ServiceFilter): String = QueryService.tagOf(s)

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

  /** One stop's group times, packed: group `i`'s comma-joined departure
    * times are `text[offsets(i), offsets(i + 1))`, exactly as Spark
    * rendered them. One string per stop instead of one per group. */
  private[tools] final class Packed(text: String, offsets: Array[Int]) {
    def apply(i: Int): String = text.substring(offsets(i), offsets(i + 1))
  }

  private def pack(times: Seq[String]): Packed = {
    val offsets = new Array[Int](times.size + 1)
    val b = new java.lang.StringBuilder(times.map(_.length).sum)
    times.zipWithIndex.foreach { case (s, i) => b.append(s); offsets(i + 1) = b.length }
    new Packed(b.toString, offsets)
  }

  /** One stop's /get_timetable groups as parallel columns, sorted by
    * (route, head) nulls first — the order the live face returns. */
  private[tools] final class TimetableGroups(val route: Array[Option[String]],
      val head: Array[Option[String]], val times: Packed)

  /** One stop's public (service_id, short, head) groups as parallel
    * columns, in collect order (every accessor re-groups or re-sorts). */
  private[tools] final class PublicGroups(val sid: Array[String],
      val short: Array[Option[String]], val head: Array[Option[String]],
      val n: Array[Long], val times: Packed) {
    def indices: Range = sid.indices
    /** Group `i` names a real headsign (the grouped/route-list filter). */
    def served(i: Int): Boolean = head(i).exists(_ != "NOT IN SERVICE")
    def runs(i: Int, service: ServiceFilter): Boolean = service.sid.forall(_ == sid(i))
  }

  private val NoPublicGroups =
    new PublicGroups(Array.empty, Array.empty, Array.empty, Array.empty, pack(Nil))

  /** Option[String] ordering matching Spark's asc_nulls_first. */
  private val nullsFirst: Ordering[Option[String]] =
    Ordering.Option(Ordering.String)

  def build(svc: QueryService, timetables: DataFrame): ServingCache = {
    val api = buildApi(svc)

    val stopsBody = Timetable.getStops(timetables)
      .toJSON.collect().mkString("[", ",", "]")

    val ex = timetables.select(col("stop_id"),
      explode(col("upcoming_services")).as("svc"))
    // the dimension values (route names, headsigns, service ids) of THIS
    // build: each distinct value becomes one String and one Some, shared by
    // every group that names it. The table dies with the build, so a
    // refresh's values die with the cache they belong to (no
    // String.intern, no global table).
    val dims = new java.util.HashMap[String, Some[String]]()
    def dim(s: String): Option[String] =
      if (s == null) None else dims.computeIfAbsent(s, Some(_))
    def byStop(rows: Array[Row]): Map[String, Array[Row]] =
      rows.groupBy(r => String.valueOf(r.get(0)))

    // one grouped pass over the whole store per frame (NOT a job per stop):
    // the same group-by the per-request engine faces run, plus the stop key
    val ttRows = ex.groupBy(col("stop_id"),
        col("svc.route_long_name").as("route"),
        col("svc.trip_headsign").as("head"))
      .agg(concat_ws(",", array_sort(collect_list(col("svc.departure_time"))))
        .as("times"))
      .collect()
    val timetable = byStop(ttRows).map { case (stop, rs) =>
      val groups = rs.toSeq
        .map(r => (dim(r.getString(1)), dim(r.getString(2)), r.getString(3)))
        .sortBy { case (route, head, _) => (route, head) }(
          Ordering.Tuple2(nullsFirst, nullsFirst))
      stop -> new TimetableGroups(groups.map(_._1).toArray, groups.map(_._2).toArray,
        pack(groups.map(_._3)))
    }

    val pubRows = ex
      .filter(col("svc.service_id").isin(ServiceFilter.publicServices: _*))
      .groupBy(col("stop_id"), col("svc.service_id").as("sid"),
        col("svc.route_short_name").as("short"),
        col("svc.trip_headsign").as("head"))
      .agg(count(lit(1)).as("n"),
        concat_ws(",", array_sort(collect_list(col("svc.departure_time"))))
          .as("times"))
      .collect()
    val public = byStop(pubRows).map { case (stop, rs) =>
      stop -> new PublicGroups(rs.map(r => dim(r.getString(1)).get),
        rs.map(r => dim(r.getString(2))), rs.map(r => dim(r.getString(3))),
        rs.map(_.getLong(4)), pack(rs.toSeq.map(_.getString(5))))
    }

    new ServingCache(api, stopsBody, timetable, public)
  }
}
