package graft.transit

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Writers

/** Serving layer (SURVEY §4 R3/R4) — the engine analog of the reference's
  * two result-reuse mechanisms:
  *
  *  - **R3, materialized view reuse**: the reference auto-creates
  *    `vw_hourly_frequency` once and serves every Q4 variant from it
  *    (`SQL/sql_utils.py:46-70`, `SQL/Q4 Create View.sql:3-14`). Here
  *    [[hourlyFrequencyView]] is the cached hourly aggregate; the live Q4
  *    fallback of [[q4]] reads the cache (`InMemoryTableScan`) instead of
  *    re-scanning the fact table.
  *  - **R4, result-snapshot fast path**: the reference pre-computes one
  *    CSV per query holding the UNLIMITED per-service rows ('1','2','3')
  *    plus the whole-week '4' rows, and the API serves by slicing that
  *    file when it exists, falling back to live SQL otherwise
  *    (`SQL/generate_csv.py:17-125`, `SQL/app.py:61-89`,
  *    `SQL/csv_backend.py:42-58`). Here [[QueryService.buildAnalyticsSnapshots]]
  *    writes the same superset as parquet PARTITIONED BY the service tag —
  *    so a served request reads exactly one partition (partition pruning,
  *    not a file-wide scan) — and [[q1]]/[[q2]]/[[q3]]/[[q4]] dispatch
  *    snapshot-first with the live plan as fallback. Q3 is served from
  *    Q1's table, filtered on its route count: three tables, four queries.
  *
  * At 100 TB the snapshot is the only sane serving path: the live plans
  * scan the fact table, the snapshots are a few thousand pre-aggregated
  * rows keyed by the request's service filter.
  */
final class QueryService(val t: TransitTables, snapshotDir: Option[String] = None,
    cacheSnapshots: Boolean = false) {
  import QueryService._

  private val spark = t.stopTimes.sparkSession

  /** Live-listener mode ([[graft.tools.HttpServe]] serving each request
    * as a Spark job): a snapshot table is pinned in executor memory on
    * its first [[q1]]..[[q4]] slice, so every later request is a
    * filter+sort+limit over an `InMemoryTableScan`, with no per-request
    * parquet footer reads. [[taggedJson]], the cached listener's one
    * snapshot reader, never pins: its maps hold the rows, so a pin would
    * be a second resident copy no request reads. Off by default: one-shot
    * callers (Verify's snapshot round trips) measure the real read-back
    * path. */
  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** R3: the cached `vw_hourly_frequency` analog. Spark caching is lazy —
    * the first live Q4 call materializes it; every later one hits the
    * cache. Any view reader can take it too: [[Queries.q4NestedFrom]]
    * over it reads the cache from both of its sub-aggregations. */
  lazy val hourlyFrequencyView: DataFrame = Queries.hourlyFrequency(t).cache()

  /** The snapshot table `name`, if one is on disk, pinned once in
    * [[snapCache]] when `pin`. An unpinned read of a table a slice already
    * pinned still scans the pin: Spark's cache lookup matches the plan,
    * not the frame. */
  private def snapshot(name: String, pin: Boolean): Option[DataFrame] =
    snapshotDir
      .map(d => s"$d/$name")
      // local-FS existence probe mirrors the reference's `_has_csv`; on a
      // cluster this becomes a Hadoop FileSystem.exists against the store
      .filter(p => new java.io.File(p).exists)
      .map { p =>
        // the schema is the build's own (the service tag reads back as a
        // string, which [[slice]] casts to anyway): no footer-inference job
        def read() = spark.read.schema(snapshotFrame(t, name).schema).parquet(p)
        if (pin) snapCache.computeIfAbsent(name, _ => read().cache())
        else read()
      }

  /** Query `name` from its source table when on disk, else `live`: prune
    * to the service partition and the query's rows, restore the query's
    * canonical presentation (column order, sort, limit). */
  private def slice(name: String, service: ServiceFilter, limit: Limit)(
      live: => DataFrame): DataFrame = {
    val p = presentations(name)
    snapshot(p.source, cacheSnapshots).map(
      _.filter(col(TAG).cast("string") === tagOf(service) && p.rows)
        .select(p.cols.map(col): _*)
        .orderBy(p.sort: _*)
        .transform(limit.apply))
      .getOrElse(live)
  }

  def q1(service: ServiceFilter, limit: Limit = Limit.default): DataFrame =
    slice(Q1, service, limit)(Queries.q1BusiestStops(t, service, limit))

  def q2(service: ServiceFilter, limit: Limit = Limit.default): DataFrame =
    slice(Q2, service, limit)(Queries.q2RouteStats(t, service, limit))

  def q3(service: ServiceFilter, limit: Limit = Limit.default): DataFrame =
    slice(Q3, service, limit)(Queries.q3TransferPoints(t, service, limit))

  def q4(service: ServiceFilter, limit: Limit = Limit.default): DataFrame =
    slice(Q4, service, limit)(
      Queries.q4ServiceFrequencyFrom(hourlyFrequencyView, t.routes, service, limit))

  /** Every service tag's UNLIMITED response rows for one query, each row
    * rendered as JSON with the same generator `Dataset.toJSON` uses, in
    * the query's canonical order: tag → rows. What [[slice]] serves per
    * tag, but from ONE collect over the tagged superset (the snapshot,
    * read unpinned in one Spark job, or [[QueryService.snapshotFrame]]
    * when none is on disk) instead of a range-partitioned sort per tag
    * (a sampling job plus the sort per slice): the superset is a few thousand
    * aggregated rows, so it is sorted in one partition by (tag, canonical
    * sort) and split by tag on the driver. The canonical sort is total
    * per tag, so each tag's rows come out in exactly the slice's order. */
  def taggedJson(name: String): Map[String, Vector[String]] = {
    val p = presentations(name)
    val tag = col(TAG).cast("string")
    snapshot(p.source, pin = false).getOrElse(snapshotFrame(t, p.source))
      .filter(p.rows)
      .coalesce(1)
      .sortWithinPartitions(tag +: p.sort: _*)
      .select(tag, to_json(struct(p.cols.map(col): _*)))
      .collect()
      .toVector
      .groupBy(_.getString(0))
      .map { case (k, rows) => k -> rows.map(_.getString(1)) }
  }
}

object QueryService {

  /** F6, the 2-dp DISPLAY rounding: the reference serializes Q2's metric
    * columns through `float(f"{v:.2f}")` (`SQL/sql_utils.py:172-175`,
    * `SQL/csv_backend.py:96-100`) — round-half-even on the EXACT binary
    * double. Neither Spark built-in matches: `round` is HALF_UP, and both
    * `round`/`bround` operate on the shortest-decimal rendering
    * (bround(2.675, 2) = 2.68 where CPython gives 2.67), so this is the
    * native [[graft.functions.PyRoundExpr]]. Applied at the serialization
    * edge only; engine/oracle forms stay 4-dp (re-rounding a 4-dp value
    * can differ from rounding the raw value only within 5e-5 of a .005
    * boundary — inherent double-rounding, the reference's CSV path carries
    * the same caveat). */
  def round2(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c, graft.functions.GraftFunctions.pyRound(col(c), 2)))

  /** Q2's serialization face: the four metric columns the reference runs
    * through `_round2`. */
  def q2Display(df: DataFrame): DataFrame =
    round2(df, Seq("avg_trip_distance_km", "avg_duration_min",
      "duration_stddev_min", "avg_speed_kmh"))

  /** Snapshot partition key: '1'/'2'/'3' per-service, '4' whole-week —
    * the reference's service_id sentinel encoding (`SQL/csv_backend.py:44`). */
  private val TAG = "service_id_tag"
  val Q1 = "q1_busiest_stops"
  val Q2 = "q2_avg_duration_speed"
  val Q3 = "q3_transfer_points"
  val Q4 = "q4_service_frequency"

  /** A service's snapshot partition tag: its service id, or '4' for the
    * whole week (the reference's sentinel, `SQL/csv_backend.py:44`). */
  def tagOf(s: ServiceFilter): String = s.sid.getOrElse("4")

  /** One query's response shape: its source table and the rows it keeps
    * there, its columns in order and its canonical sort, total within a
    * service tag (the key column breaks every tie). */
  private final case class Presentation(source: String, cols: Seq[String],
      sort: Seq[Column], rows: Column = lit(true))

  /** The one definition of each query's presentation, shared by the
    * per-request [[QueryService.slice]] and the whole-superset
    * [[QueryService.taggedJson]]. */
  private val presentations: Map[String, Presentation] = Map(
    Q1 -> Presentation(Q1,
      Seq("stop_id", "stop_code", "stop_name", "stop_lat", "stop_lon",
        "total_trip_events", "num_unique_routes"),
      Seq(col("total_trip_events").desc, col("stop_id"))),
    Q2 -> Presentation(Q2,
      Seq("route_id", "route_long_name", "route_short_name", "num_trips",
        "avg_trip_distance_km", "avg_duration_min", "duration_stddev_min",
        "avg_speed_kmh"),
      Seq(col("avg_duration_min").desc, col("route_id"))),
    Q3 -> Presentation(Q1,
      Seq("stop_id", "stop_name", "stop_lat", "stop_lon", "num_unique_routes"),
      Seq(col("num_unique_routes").desc, col("stop_id")),
      Queries.isTransferPoint),
    Q4 -> Presentation(Q4,
      Seq("route_id", "route_long_name", "route_short_name",
        "total_daily_trips", "hourly_profile"),
      Seq(col("total_daily_trips").desc, col("route_id"))))

  /** One tagged superset frame per table: per-service rows ('1'/'2'/'3')
    * plus the whole-week '4' rows, UNLIMITED — serving slices later,
    * exactly like `SQL/generate_csv.py` concatenating the four frames.
    * Whole-week is its own DERIVATION because its semantics are not a
    * rollup of the per-service ROWS (trichotomy per SURVEY §1.5) — but
    * all four tags ARE exact re-aggregations of one per-service base
    * frame, so the build is ONE linear pipeline (r16, guide §1.2/§2.4):
    * each base row explodes into (its own service tag, '4') and a single
    * grouped pass per level computes every tag's aggregate. The shapes
    * this replaces, both measured worse:
    *  - the r15 per-tag union re-planned AND re-scanned the fact table
    *    once per tag (24 parquet scans / 24–29 exchanges in the before
    *    plans) because each tag's filter sits below its own aggregation;
    *  - filtering a shared base per tag does NOT fix that — the tag
    *    filter is on the base's GROUP KEY, so Catalyst pushes it through
    *    the aggregate back into four separate fact scans (verified in the
    *    executed AQE plan: only the dim broadcast was reused);
    *  - an eager `localCheckpoint` on the base does force one scan, but
    *    the materialization barrier serializes the build and cost ~+0.5 s
    *    per face at sf0.1 vs the union it replaced.
    * Exploding the TAG as data instead of encoding it as plan structure
    * gives the one fact scan without a barrier, and the explode sits
    * above the base aggregation so it multiplies ~50 k aggregated rows,
    * not the fact table. Values are identical to the per-tag plans':
    * per-service tags aggregate single-row groups (integer sums are
    * exact; doubles pass through `max` over one row bit-identically),
    * whole-week tags use the live WholeWeek paths' own expressions (over
    * another aggregation tree: see [[Queries.q2WeekMeans]]). The
    * exploded tag domain is exactly {'1','2','3','4'} because
    * `TransitTables.fromTpch` pins service_id = o_orderkey%3+1. Per-tag
    * ORDER is dropped: the write is partitioned parquet (order never
    * survives) and every serve re-sorts its slice ([[slice]]). */
  private def taggedQ1(t: TransitTables): DataFrame = {
    val counts = Queries.q1ServiceStopRouteCounts(t)
      .select(explode(array(col("service_id"), lit("4"))).as(TAG),
        col("stop_id"), col("route_id"), col("c"))
      .groupBy(col(TAG), col("stop_id"), col("route_id"))
      .agg(sum(col("c")).as("c2"))
      .groupBy(col(TAG), col("stop_id"))
      .agg(sum(col("c2")).as("total_trip_events"),
        // count of non-NULL route keys = live Q1's countDistinct(route_id)
        count(col("route_id")).as("num_unique_routes"))
    Queries.q1FromCounts(counts, t.stops, Seq(TAG))
  }

  private def taggedQ2(t: TransitTables): DataFrame = {
    val isWeek = col(TAG) === "4"
    val stats = Queries.q2PerServiceStats(t)
      .select(explode(array(col("service_id"), lit("4"))).as(TAG),
        col("route_id"), col("num_trips"), col("dur_sum"), col("cents_sum"),
        col("cents_cnt"), col("avg_trip_distance_km"),
        col("avg_duration_min"), col("duration_stddev_min"), col("avg_speed_kmh"))
      .groupBy(col(TAG), col("route_id"))
      .agg(
        sum(col("num_trips")).as("num_trips"),
        // whole-week legs: q2WeekWeighted's own expressions
        Queries.q2WeekMeans ++ Seq(
          // per-service legs: the group holds exactly ONE base row (key was
          // (route_id, service_id)), so max() is a bit-exact pass-through
          max(col("avg_trip_distance_km")).as("p_km"),
          max(col("avg_duration_min")).as("p_dur"),
          max(col("duration_stddev_min")).as("p_sd"),
          max(col("avg_speed_kmh")).as("p_speed")): _*)
      .select(col(TAG), col("route_id"), col("num_trips"),
        when(isWeek, col("avg_trip_distance_km")).otherwise(col("p_km"))
          .as("avg_trip_distance_km"),
        when(isWeek, col("avg_duration_min")).otherwise(col("p_dur")).as("avg_duration_min"),
        // whole-week stddev is NULL by spec (reference generate_csv.py)
        when(isWeek, lit(null).cast("double")).otherwise(col("p_sd")).as("duration_stddev_min"),
        when(isWeek, col("avg_speed_kmh")).otherwise(col("p_speed")).as("avg_speed_kmh"))
    Queries.q2FromStats(stats, t.routes, Seq(TAG))
  }

  private def taggedQ4(t: TransitTables): DataFrame = {
    val perHour = Queries.hourlyFrequency(t)
      .select(explode(array(col("service_id"), lit("4"))).as(TAG),
        col("route_id"), col("hour_of_day"), col("trips_per_hour"))
      .groupBy(col(TAG), col("route_id"), col("hour_of_day"))
      .agg(sum(col("trips_per_hour")).as("trips_per_hour"))
    Queries.q4Rollup(perHour, t.routes, Seq(TAG))
  }

  /** The tables [[buildAnalyticsSnapshots]] writes (Q3 reads Q1's). */
  val SnapshotTables: Seq[String] = Seq(Q1, Q2, Q4)

  /** The R4 batch job (`SQL/generate_csv.py:main`): materialize the
    * [[SnapshotTables]], partitioned by the service tag so serving prunes
    * to one partition. Overwrite-mode — rerunnable on feed refresh. */
  def buildAnalyticsSnapshots(t: TransitTables, dir: String): Unit =
    SnapshotTables.foreach(buildSnapshot(t, dir, _))

  /** The tagged frame of the table query `name` is served from — exposed
    * (package-private) so plan-evidence tooling (`tools.Explain`) can
    * explain the build itself, not just the read-back face. */
  private[graft] def snapshotFrame(t: TransitTables, name: String): DataFrame =
    presentations.get(name).map(_.source) match {
      case Some(Q1) => taggedQ1(t)
      case Some(Q2) => taggedQ2(t)
      case Some(Q4) => taggedQ4(t)
      case _ => throw new IllegalArgumentException(s"no snapshot named $name")
    }

  /** Snapshot build for ONE query's source table — each registered
    * read-back face uses this so its measured cost is one table's ETL. */
  def buildSnapshot(t: TransitTables, dir: String, name: String): Unit = {
    val table = presentations(name).source
    Writers.snapshotParquet(snapshotFrame(t, table), s"$dir/$table", Seq(TAG))
  }
}
