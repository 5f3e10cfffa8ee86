package graft.tools

import org.apache.spark.sql.DataFrame
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
  * startup — the stops list, one whole-store grouped job at the finest
  * grain any route reads, and one collect per analytic query whose rows
  * split into its four service tags on the driver — and a request
  * becomes an in-memory lookup + O(response bytes) of string assembly,
  * folding or filtering that one per-stop table the way the reference
  * groups its per-stop document per request (`Mongo/app.py:67-113`).
  * No Spark job runs on the request path.
  *
  * Memory: the collected state is ~the rendered schedule text (every
  * departure-time string once) — bounded by stop/route/schedule
  * cardinality, NOT by corpus history, because the store itself is
  * (SURVEY §3.3). The layout keeps it close to that text: per stop, the
  * groups are parallel columns (no tuple per group), their times are ONE
  * packed string, and the route names, headsigns and service ids (a few
  * hundred distinct values against ~10^5 groups) are one shared
  * `String`/`Some` each per build — one JVM object per row would cost
  * several times its payload (Shark, SIGMOD'13, stores columns as arrays
  * for the same reason). Retained heap of one build, measured on a
  * 4-core box as the after-GC heap delta around `build`: ~3.1 MB at
  * sf0.01 (60 k entries) and 17.7 MB at sf0.1 (600 k entries). A serving
  * replica holds it the way the reference's Flask process holds its CSV
  * frames.
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
    /** stop → its (service_id, route_long_name, route_short_name,
      * trip_headsign) groups over the whole document, every service, with
      * arrival counts and sorted times CSVs: the one table every store
      * route folds or filters. */
    groups: Map[String, ServingCache.StopGroups]) {
  import ServingCache._

  /** Merges sorted times CSVs into one sorted CSV. The Java `String`
    * sort agrees with Spark's `array_sort` (UTF-8 binary order) on the
    * store's ASCII `HH:MM:SS` times, so a merged list equals the one the
    * live face sorts (`ServingCacheSpec` checks both stores' times). */
  private def mergeTimes(csvs: Seq[String]): String = {
    val all = csvs.filter(_.nonEmpty).flatMap(_.split(",", -1))
    if (all.isEmpty) "" else all.sorted.mkString(",")
  }

  private def groupsOf(stopId: String): StopGroups =
    groups.getOrElse(stopId, NoGroups)

  /** The whole document, every service, grouped by (route, head) and
    * sorted nulls first — the order the live face returns. */
  def timetableRows(stopId: String): Option[Seq[(Option[String], Option[String], String)]] =
    groups.get(stopId).map { g =>
      g.indices.groupBy(i => (g.route(i), g.head(i))).toSeq
        .map { case ((route, head), is) => (route, head, mergeTimes(is.map(g.times(_)))) }
        .sortBy { case (route, head, _) => (route, head) }(
          Ordering.Tuple2(nullsFirst, nullsFirst))
    }

  def routesForStop(stopId: String): Seq[(String, String)] = {
    val g = groupsOf(stopId)
    g.indices.collect { case i if g.isPublic(i) && g.served(i) && g.short(i).isDefined =>
      (g.short(i).get, g.head(i).get) }
      .distinct.sorted
  }

  def arrivalsGrouped(stopId: String, service: ServiceFilter): Seq[(Option[String], String, Long, String)] = {
    val g = groupsOf(stopId)
    g.indices.filter(i => g.isPublic(i) && g.served(i) && g.runs(i, service))
      .groupBy(i => (g.short(i), g.head(i).get))
      .toSeq
      .map { case ((short, head), is) =>
        (short, head, is.map(g.n(_)).sum, mergeTimes(is.map(g.times(_)))) }
      .sortBy { case (short, head, _, _) => (short, head) }(
        Ordering.Tuple2(nullsFirst, Ordering.String))
  }

  def arrivalsFlat(stopId: String, short: String, head: String,
      service: ServiceFilter): Seq[String] = {
    val g = groupsOf(stopId)
    val merged = mergeTimes(g.indices
      .filter(i => g.isPublic(i) && g.short(i).contains(short) &&
        g.head(i).contains(head) && g.runs(i, service))
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
    * (retained heap per entry, see the memory note above): 52 B at sf0.01
    * and 30 B at sf0.1, falling with scale towards the ~9 B of rendered
    * text (each time once, 8 chars + comma) as fixed per-stop and
    * per-group costs amortize. The sf1 store (~6.0 M entries) thus
    * extrapolates to at most ~180 MB (not measured), and the
    * ceiling of 64 M entries caps the cache at ~0.6–1.8 GiB resident —
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

  /** One stop's (service_id, route, short, head) groups as parallel
    * columns, in collect order (every accessor re-groups or re-sorts). */
  private[tools] final class StopGroups(val sid: Array[Option[String]],
      val route: Array[Option[String]], val short: Array[Option[String]],
      val head: Array[Option[String]], val n: Array[Long], val times: Packed) {
    def indices: Range = sid.indices
    /** Group `i` runs on a public service (a NULL service is not one) —
      * the allow-list of every arrivals-style route. */
    def isPublic(i: Int): Boolean = sid(i).exists(ServiceFilter.publicServices.contains)
    /** Group `i` names a real headsign (the grouped/route-list filter). */
    def served(i: Int): Boolean = head(i).exists(_ != "NOT IN SERVICE")
    def runs(i: Int, service: ServiceFilter): Boolean = service.sid.forall(sid(i).contains)
  }

  private val NoGroups = new StopGroups(Array.empty, Array.empty, Array.empty,
    Array.empty, Array.empty, pack(Nil))

  /** Option[String] ordering matching Spark's asc_nulls_first. */
  private val nullsFirst: Ordering[Option[String]] =
    Ordering.Option(Ordering.String)

  def build(svc: QueryService, timetables: DataFrame): ServingCache = {
    val api = buildApi(svc)

    val stopsBody = Timetable.getStops(timetables)
      .toJSON.collect().mkString("[", ",", "]")

    // the dimension values (route names, headsigns, service ids) of THIS
    // build: each distinct value becomes one String and one Some, shared by
    // every group that names it. The table dies with the build, so a
    // refresh's values die with the cache they belong to (no
    // String.intern, no global table).
    val dims = new java.util.HashMap[String, Some[String]]()
    def dim(s: String): Option[String] =
      if (s == null) None else dims.computeIfAbsent(s, Some(_))

    // one grouped pass over the whole store (NOT a job per stop): the
    // group-by the per-request engine faces run, at the finest grain any
    // of them reads, plus the stop key
    val rows = timetables
      .select(col("stop_id"), explode(col("upcoming_services")).as("svc"))
      .groupBy(col("stop_id"), col("svc.service_id"), col("svc.route_long_name"),
        col("svc.route_short_name"), col("svc.trip_headsign"))
      .agg(count(lit(1)),
        concat_ws(",", array_sort(collect_list(col("svc.departure_time")))))
      .collect()
    val groups = rows.groupBy(r => String.valueOf(r.get(0))).map { case (stop, rs) =>
      stop -> new StopGroups(rs.map(r => dim(r.getString(1))),
        rs.map(r => dim(r.getString(2))), rs.map(r => dim(r.getString(3))),
        rs.map(r => dim(r.getString(4))), rs.map(_.getLong(5)),
        pack(rs.toSeq.map(_.getString(6))))
    }

    new ServingCache(api, stopsBody, groups)
  }
}
