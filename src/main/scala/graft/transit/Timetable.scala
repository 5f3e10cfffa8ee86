package graft.transit

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GtfsTime

/** Denormalized per-stop timetable store + endpoint queries.
  *
  * Replaces the reference's chunked LIMIT/OFFSET ETL into MongoDB
  * (reference `Mongo/denormalization.py:48-138`) with ONE declarative job:
  * the `$setOnInsert` + `$push`-across-chunks upsert trick exists only
  * because a stop's rows span chunk boundaries; under a single
  * `groupBy(stop_id).agg(collect_list(struct(...)))` that hazard is gone and
  * the whole build is one shuffle (SURVEY §3.3).
  *
  * Scale: one row per stop with an array of services. Hub stops make the
  * arrays skewed; the shuffle is by `stop_id` so AQE's skew-split handles
  * the reduce side, and the array payload per stop is bounded by schedule
  * size (thousands), not data volume. At 100 TB the build stays one
  * wide-shuffle job; the endpoints below read the materialized table.
  */
object Timetable {

  /** One document per stop, services sorted by (dep_secs, trip_id) — the
    * reference's `ORDER BY stop_id, departure_time` extraction order
    * (reference `Mongo/denormalization.sql:18`), made total for determinism.
    * `location` is the GeoJSON Point struct (reference
    * `Mongo/denormalization.py:118-121`). */
  def buildStopTimetables(t: TransitTables): DataFrame = {
    buildRaw(t)
      .select(col("stop_id"), transform(col("raw"), s => struct(
        s("dep_secs").as("dep_secs"),
        s("trip_id").as("trip_id"),
        s("stop_sequence").as("stop_sequence"),
        s("route_id").as("route_id"),
        s("route_short_name").as("route_short_name"),
        s("route_long_name").as("route_long_name"),
        s("trip_headsign").as("trip_headsign"),
        s("service_id").as("service_id"),
        s("direction_id").as("direction_id"),
        GtfsTime.displayString(s("arr_secs")).as("arrival_time"),
        GtfsTime.displayString(s("dep_secs")).as("departure_time")
      )).as("upcoming_services"))
      .join(broadcast(t.stops), Seq("stop_id"))
      .select(
        col("stop_id"), col("stop_name"), col("stop_code"),
        struct(
          lit("Point").as("type"),
          array(col("stop_lon"), col("stop_lat")).as("coordinates")).as("location"),
        col("upcoming_services"))
  }

  /** The store's aggregation phase: one row per stop with the sorted array
    * of RAW service structs (ints + dimension strings, no display strings).
    * Two-phase build: the shuffle and collect_list buffers move int seconds
    * where they would otherwise move formatted strings — measured ~2× faster
    * at sf0.1 — and rendering happens per FACE: the nested document face
    * runs the `transform` above, the full-flatten face renders post-explode
    * under whole-stage codegen ([[flattenedFromTables]]). At 100 TB the
    * groupBy(stop_id) exchange is the whole job, so shuffle bytes are the
    * build's cost model. */
  private def buildRaw(t: TransitTables): DataFrame = {
    // Data-sized grouping barrier (graft.Scale): stop cardinality is FIXED
    // (a transit network's stops don't grow with years of history) while
    // per-stop groups grow linearly, and a collect_list buffer holds its
    // group as boxed rows at ~15× the shuffled bytes — AQE's 64 MB
    // shuffle-byte coalesce target under-sizes that by an order of
    // magnitude. The round-10 sf10 rehearsal showed the failure: at the
    // coalesced grid each reduce task held ~16 stops' full buffers, the
    // task set outgrew the execution-memory pool, and the stage collapsed
    // to one runnable task (95 GB resident, killed after 30 min). An
    // EXPLICIT hash repartition on the group key puts ~one stop's group
    // per task, bounding per-task state by group size instead of corpus
    // share; AQE never coalesces a user repartition, so the barrier
    // survives planning. Sized from ROW COUNT (footer-served count, the
    // eager staging pattern) because parquet encoding makes byte stats
    // under-state this data ~10× — see [[graft.Scale.partitionsForRows]].
    // ~400 B of boxed collect_list state per row → 160 k rows/task.
    // Hash partitioning by the group key cannot change results, and the
    // collected array is array_sort-normalized (total struct order), so
    // oracle hashes are untouched by construction.
    val parts = graft.Scale.partitionsForRows(
      t.stopTimes.sparkSession, t.stopTimes.count(), 160000L)
    t.stopTimes
      .join(t.trips, "trip_id")
      .join(broadcast(t.routes), Seq("route_id"))
      .repartition(parts, col("stop_id"))
      .groupBy(col("stop_id"))
      .agg(
        array_sort(collect_list(struct(
          col("dep_secs"), // first field = array_sort key
          col("trip_id"),
          col("stop_sequence"),
          col("route_id"), col("route_short_name"), col("route_long_name"),
          col("trip_headsign"), col("service_id"), col("direction_id"),
          col("arr_secs")
        ))).as("raw"))
  }

  /** `GET /get_stops`: projection + name sort (reference `Mongo/app.py:56-59`). */
  def getStops(timetables: DataFrame): DataFrame =
    timetables.select("stop_id", "stop_name", "stop_code")
      .orderBy(col("stop_name"), col("stop_id"))

  private def exploded(timetables: DataFrame): DataFrame =
    timetables.select(col("stop_id"), col("stop_name"),
      explode(col("upcoming_services")).as("svc"))

  /** Public-service allow-list + NOT IN SERVICE / null exclusions applied by
    * every arrivals-style endpoint (reference `Mongo/app.py:131-145,183-227`). */
  private def publicOnly(df: DataFrame): DataFrame =
    df.filter(
      col("svc.service_id").isin(ServiceFilter.publicServices: _*) &&
        col("svc.trip_headsign").isNotNull &&
        col("svc.trip_headsign") =!= "NOT IN SERVICE")

  /** `GET /get_routes_for_stop`: distinct (route_short_name, headsign) pairs,
    * null short names dropped, sorted (reference `Mongo/app.py:116-149`). */
  def getRoutesForStop(timetables: DataFrame, stopId: Any): DataFrame =
    publicOnly(exploded(timetables.filter(col("stop_id") === lit(stopId))))
      .filter(col("svc.route_short_name").isNotNull)
      .select(
        col("svc.route_short_name").as("route_short_name"),
        col("svc.trip_headsign").as("trip_headsign"))
      .distinct()
      .orderBy(col("route_short_name"), col("trip_headsign"))

  /** `GET /get_arrivals`, grouped mode: per (route, headsign) group the
    * sorted display times + count, groups sorted by (short_name, headsign)
    * (reference `Mongo/app.py:206-244`). Display times sort as strings —
    * the reference's accepted day-wrap quirk, reproduced. */
  def getArrivalsGrouped(timetables: DataFrame, stopId: Any,
      service: ServiceFilter = ServiceFilter.WholeWeek): DataFrame = {
    val base = publicOnly(exploded(timetables.filter(col("stop_id") === lit(stopId))))
    val filtered = service.sid.fold(base)(sid => base.filter(col("svc.service_id") === sid))
    filtered
      .groupBy(
        col("svc.route_short_name").as("route_short_name"),
        col("svc.trip_headsign").as("trip_headsign"))
      .agg(
        count(lit(1)).as("n_arrivals"),
        // comma-joined rather than an array column so the oracle (and any
        // JSON layer) compares it as one string; string-sorted per O9
        concat_ws(",", array_sort(collect_list(col("svc.departure_time")))).as("departure_times"))
      .orderBy(col("route_short_name"), col("trip_headsign"))
  }

  /** `GET /get_arrivals`, flat mode (route + headsign given): the sorted
    * times list (reference `Mongo/app.py:186-204`). The reference's flat
    * path applies only the public-service allow-list plus the exact
    * route/headsign equality — no NOT-IN-SERVICE exclusion (that filter
    * belongs to the grouped/routes paths, `Mongo/app.py:131-145,206-244`);
    * querying headsign='NOT IN SERVICE' legitimately returns rows. */
  def getArrivalsFlat(timetables: DataFrame, stopId: Any,
      routeShortName: String, headsign: String,
      service: ServiceFilter = ServiceFilter.WholeWeek): DataFrame = {
    val base = exploded(timetables.filter(col("stop_id") === lit(stopId)))
      .filter(col("svc.service_id").isin(ServiceFilter.publicServices: _*))
      .filter(col("svc.route_short_name") === routeShortName &&
        col("svc.trip_headsign") === headsign)
    val filtered = service.sid.fold(base)(sid => base.filter(col("svc.service_id") === sid))
    filtered
      .select(col("svc.departure_time").as("departure_time"),
        col("svc.trip_id").as("trip_id"))
      .orderBy(col("departure_time"), col("trip_id"))
  }

  /** X29 promoted to an oracle row: the NESTED timetable document (GeoJSON
    * location struct + upcoming_services array-of-structs) through the
    * line-JSON result sink ([[graft.sources.Writers.resultJson]] — the
    * API-layer serialization the reference serves,
    * `Mongo/app.py:156-183`) and back through the schema-explicit JSON
    * source, then the grouped serving query over the READBACK. The oracle
    * is [[TransitOracles.timetableGrouped]] computed from the base tables
    * with no JSON hop in its derivation — any nested field the hop drops,
    * re-orders, or re-types (array element order, >24h display strings,
    * int/long widths) breaks the downstream hash. One stop's document:
    * the hop's semantics, not its volume, is what's under test. */
  def timetableJsonRoundtrip(spark: org.apache.spark.sql.SparkSession,
      dir: String, stopId: Long): DataFrame = {
    val doc = buildStopTimetables(TransitTables.fromTpch(spark, dir))
      .filter(col("stop_id") === lit(stopId))
    // keyed by (dir, stopId): a dir-only path collides when two
    // invocations for different stops run concurrently (parallel suites /
    // registered runs) — one writer clobbers the other mid-read
    val path = graft.Scratch.dir(s"timetable_json_$stopId", dir)
    graft.sources.Writers.resultJson(doc, path)
    getTimetable(graft.sources.Writers.readJson(spark, path, doc.schema), stopId)
  }

  /** `GET /get_timetable`: the full document grouped by
    * (route_long_name, trip_headsign) with string-sorted time lists
    * (reference `Mongo/app.py:64-112`). Unlike the arrivals endpoints this
    * path applies NO service allow-list and NO NOT-IN-SERVICE exclusion —
    * it renders the whole document; null group keys pass through as the
    * reference's None keys do. */
  def getTimetable(timetables: DataFrame, stopId: Any): DataFrame =
    exploded(timetables.filter(col("stop_id") === lit(stopId)))
      .groupBy(
        col("svc.route_long_name").as("route_long_name"),
        col("svc.trip_headsign").as("trip_headsign"))
      .agg(
        count(lit(1)).as("n_times"),
        concat_ws(",", array_sort(collect_list(col("svc.departure_time"))))
          .as("departure_times"))
      .orderBy(col("route_long_name"), col("trip_headsign"))

  /** Stop autocomplete (SURVEY §2.8 F11, the client-side case-insensitive
    * substring search, served engine-side). The reference searches the
    * denormalized store's stop list (`Mongo/index.html:167-181`), i.e.
    * stops that appear in the schedule, matching on stop_name OR stop_code;
    * its 20-suggestion cap is a UI truncation we intentionally skip (the
    * engine face returns the full ordered match set). The search needs none
    * of the store's arrays, so building the store for it is pure waste (the
    * round-4 2.26× regression). Plan: filter the stops dim by name/code,
    * broadcast the (tiny) match set into a hash join against the pruned
    * `stop_id` column of `stop_times`, then distinct. The fact table never
    * shuffles — the broadcast filter runs map-side and the distinct's
    * partial agg means the exchange carries at most
    * (matching stops × partitions) rows. */
  def stopSearch(t: TransitTables, q: String): DataFrame =
    t.stopTimes.select("stop_id")
      .join(broadcast(t.stops
        .filter(lower(col("stop_name")).contains(q.toLowerCase) ||
          lower(col("stop_code")).contains(q.toLowerCase))
        .select("stop_id", "stop_name", "stop_code")), Seq("stop_id"))
      .distinct()
      .orderBy("stop_name", "stop_id")

  /** Nearest stops to a point (SURVEY §2.1 S9: the reference creates a
    * 2dsphere index on the stop location "for location queries" —
    * `Mongo/denormalization.py:40-42` — but ships no endpoint over it;
    * this is that capability served engine-side). Haversine great-circle
    * distance over the stops dim, true top-k. The trig stays in identical
    * operation order on both engines and the sort key is the ROUNDED
    * distance (+ stop_id tie-break) so last-ulp libm differences cannot
    * reorder neighbors. At scale: pre-filter with a bounding-box predicate
    * (pushable to the scan) before the trig, then TakeOrderedAndProject. */
  def stopsNear(stops: DataFrame, lat: Double, lon: Double, k: Int): DataFrame = {
    val R2 = 2 * 6371.0088 // mean earth diameter, km
    val h = pow(sin(radians(col("stop_lat") - lit(lat)) / 2), 2) +
      cos(radians(lit(lat))) * cos(radians(col("stop_lat"))) *
        pow(sin(radians(col("stop_lon") - lit(lon)) / 2), 2)
    stops.select(col("stop_id"), col("stop_name"),
        round(lit(R2) * asin(sqrt(h)), 4).as("dist_km"))
      .orderBy(col("dist_km"), col("stop_id"))
      .limit(k)
  }

  /** Next departure at a stop (SURVEY §2.8 F12): first service with
    * dep_secs >= now, else the first of the day — one ORDER BY with the
    * >=now flag leading, so no two-pass union. */
  def nextDeparture(timetables: DataFrame, stopId: Any, nowSecs: Long): DataFrame =
    publicOnly(exploded(timetables.filter(col("stop_id") === lit(stopId))))
      .select(col("stop_id"), col("svc.trip_id").as("trip_id"),
        col("svc.dep_secs").as("dep_secs"),
        col("svc.departure_time").as("departure_time"))
      .orderBy((col("dep_secs") >= nowSecs).desc, col("dep_secs"), col("trip_id"))
      .limit(1)

  /** Full flatten of the store built from `t` — the oracle-checkable face
    * of the build (collect_list ∘ array_sort ∘ explode round trip over
    * every stop). Rendering of the display-time strings happens AFTER the
    * explode: `transform` is a higher-order function and evaluates
    * interpreted (one struct copy per element outside codegen — the
    * measured hot spot of the old path), while the identical
    * [[GtfsTime.displayString]] expression over the exploded seconds
    * columns stays inside whole-stage codegen. [[TimetableSpec]] asserts
    * this face ≡ `flattened(buildStopTimetables(t))` row for row. */
  def flattenedFromTables(t: TransitTables): DataFrame =
    // The flat face is row-identity on the document build (group by stop →
    // explode ≡ no-op on rows), so it must NOT pay it: materializing 500
    // corpus-sized arrays to immediately explode them is the round-10 sf10
    // OOM (collect_list buffers for the whole fact table live boxed on the
    // heap mid-stage even behind a data-sized barrier). The direct plan is
    // the fact join + codegen render + range-partitioned sort — every stage
    // streams and spills; nothing holds a group in memory. Document-store
    // semantics stay covered by the faces whose OUTPUT is genuinely nested
    // ([[buildStopTimetables]] → grouped/mongo export/json roundtrip).
    // Sort FIRST, render display strings AFTER: a global sort's range
    // sampling re-executes its child once more, and with broadcast joins
    // all the way down there is no materialized exchange to reuse — so
    // everything below the sort runs twice. Keeping the child narrow
    // (ints + dimension strings, no rendered display strings) halves the
    // sf0.1 warm time (2.9 s → 1.5 s measured, r11) and at
    // sf10 shrinks the sort-shuffle bytes; the post-sort projection is
    // order-preserving and stays inside whole-stage codegen.
    t.stopTimes
      .join(t.trips, "trip_id")
      .join(broadcast(t.routes), Seq("route_id"))
      .join(broadcast(t.stops.select(col("stop_id"), col("stop_name"))), Seq("stop_id"))
      .orderBy(col("stop_id"), col("trip_id"), col("stop_sequence"))
      .select(
        col("stop_id"), col("stop_name"),
        col("trip_id"),
        col("stop_sequence"),
        col("route_id"),
        col("route_long_name"),
        col("route_short_name"),
        col("trip_headsign"),
        col("service_id"),
        col("direction_id"),
        col("dep_secs"),
        GtfsTime.displayString(col("arr_secs")).as("arrival_time"),
        GtfsTime.displayString(col("dep_secs")).as("departure_time"))

  /** Flatten an already-rendered nested store back to rows (the generic
    * document-consumer path; [[flattenedFromTables]] is the bulk face). */
  def flattened(timetables: DataFrame): DataFrame =
    exploded(timetables)
      .select(
        col("stop_id"), col("stop_name"),
        col("svc.trip_id").as("trip_id"),
        col("svc.stop_sequence").as("stop_sequence"),
        col("svc.route_id").as("route_id"),
        col("svc.route_long_name").as("route_long_name"),
        col("svc.route_short_name").as("route_short_name"),
        col("svc.trip_headsign").as("trip_headsign"),
        col("svc.service_id").as("service_id"),
        col("svc.direction_id").as("direction_id"),
        col("svc.dep_secs").as("dep_secs"),
        col("svc.arrival_time").as("arrival_time"),
        col("svc.departure_time").as("departure_time"))
      .orderBy(col("stop_id"), col("trip_id"), col("stop_sequence"))
}
