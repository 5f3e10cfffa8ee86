package graft.transit

/** DuckDB oracle SQL mirroring each transit query, built on
  * [[TransitTables.sqlPrelude]]. Kept adjacent to the Spark plans so the two
  * stay in lock-step; every aggregate alias matches the Spark column name
  * (the driver's compare sorts columns by name before hashing).
  *
  * Numeric parity rules used throughout:
  *  - counts / integer sums stay integral; DuckDB `SUM(int)` returns HUGEINT
  *    so oracles cast back to BIGINT to match Spark's LongType;
  *  - averages over integer seconds are written as exact-long-sum / count in
  *    BOTH engines; order-dependent double stats are rounded to 4 dp in both.
  */
object TransitOracles {
  private val P = TransitTables.sqlPrelude

  private def q1(where: String): String =
    s"""$P, counts AS (
       |  SELECT st.stop_id,
       |         COUNT(*) AS total_trip_events,
       |         COUNT(DISTINCT t.route_id) AS num_unique_routes
       |  FROM stop_times st JOIN trips t ON t.trip_id = st.trip_id
       |  $where
       |  GROUP BY st.stop_id)
       |SELECT c.stop_id, s.stop_code, s.stop_name,
       |       ROUND(s.stop_lat, 6) AS stop_lat,
       |       ROUND(s.stop_lon, 6) AS stop_lon,
       |       c.total_trip_events, c.num_unique_routes
       |FROM counts c JOIN stops s ON s.stop_id = c.stop_id
       |ORDER BY total_trip_events DESC, c.stop_id
       |LIMIT 20""".stripMargin

  val q1Weekday: String = q1("WHERE t.service_id = '1'")
  val q1WholeWeek: String = q1("")

  /** Q1 over the JDBC-landed bundle: the database holds the deterministic
    * 1-in-20 trip slice ([[graft.sources.JdbcStore.SliceMod]]), so the
    * oracle pins the same slice on the Parquet derivation — everything the
    * JDBC write/read path touches (BIGINT/INTEGER/DOUBLE/VARCHAR round
    * trips, predicate pushdown into the scan) must land bit-exact. */
  val q1JdbcSlice: String =
    q1("WHERE t.service_id = '1' AND st.trip_id % 20 = 0")

  private def q2TripStats(where: String): String =
    s"""trip_stats AS (
       |  SELECT st.trip_id, t.route_id, t.service_id,
       |         MAX(st.arr_secs) - MIN(st.dep_secs) AS trip_duration_seconds,
       |         MAX(st.shape_dist) - MIN(st.shape_dist) AS trip_distance,
       |         CAST(ROUND(MAX(st.shape_dist) * 100.0, 0)
       |              - ROUND(MIN(st.shape_dist) * 100.0, 0) AS BIGINT) AS dist_cents
       |  FROM stop_times st JOIN trips t ON t.trip_id = st.trip_id
       |  $where
       |  GROUP BY st.trip_id, t.route_id, t.service_id
       |  HAVING MAX(st.arr_secs) - MIN(st.dep_secs) > 60)""".stripMargin

  private val q2Tail: String =
    s"""SELECT s.route_id, r.route_long_name, r.route_short_name, s.num_trips,
       |       ROUND(s.avg_trip_distance_km, 4) AS avg_trip_distance_km,
       |       ROUND(s.avg_duration_min, 4) AS avg_duration_min,
       |       ROUND(s.duration_stddev_min, 4) AS duration_stddev_min,
       |       ROUND(s.avg_speed_kmh, 4) AS avg_speed_kmh
       |FROM stats s JOIN routes r ON r.route_id = s.route_id
       |ORDER BY avg_duration_min DESC, s.route_id
       |LIMIT 20""".stripMargin

  val q2Weekday: String =
    s"""$P, ${q2TripStats("WHERE t.service_id = '1'")},
       |stats AS (
       |  SELECT route_id,
       |         COUNT(*) AS num_trips,
       |         CAST(SUM(dist_cents) AS DOUBLE) / COUNT(dist_cents) / 100.0 AS avg_trip_distance_km,
       |         CAST(SUM(trip_duration_seconds) AS DOUBLE) / COUNT(*) / 60.0 AS avg_duration_min,
       |         STDDEV_POP(CAST(trip_duration_seconds AS DOUBLE)) / 60.0 AS duration_stddev_min,
       |         AVG(trip_distance / NULLIF(CAST(trip_duration_seconds AS DOUBLE), 0.0) * 3600.0) AS avg_speed_kmh
       |  FROM trip_stats GROUP BY route_id)
       |$q2Tail""".stripMargin

  val q2WholeWeek: String =
    s"""$P, ${q2TripStats("")},
       |per_service AS (
       |  SELECT route_id, service_id,
       |         COUNT(*) AS num_trips,
       |         SUM(trip_duration_seconds) AS dur_sum,
       |         SUM(dist_cents) AS cents_sum,
       |         AVG(trip_distance / NULLIF(CAST(trip_duration_seconds AS DOUBLE), 0.0) * 3600.0) AS avg_speed_kmh
       |  FROM trip_stats GROUP BY route_id, service_id),
       |stats AS (
       |  SELECT route_id,
       |         CAST(SUM(num_trips) AS BIGINT) AS num_trips,
       |         CAST(SUM(cents_sum) AS DOUBLE) / CAST(SUM(num_trips) AS DOUBLE) / 100.0 AS avg_trip_distance_km,
       |         CAST(SUM(dur_sum) AS DOUBLE) / CAST(SUM(num_trips) AS DOUBLE) / 60.0 AS avg_duration_min,
       |         CAST(NULL AS DOUBLE) AS duration_stddev_min,
       |         SUM(avg_speed_kmh * num_trips) / CAST(SUM(num_trips) AS DOUBLE) AS avg_speed_kmh
       |  FROM per_service GROUP BY route_id)
       |$q2Tail""".stripMargin

  /** Whole-week per-service detail rows, semi-joined against the global
    * top-20 ranking (see Queries.q2ServiceDetail). */
  val q2Detail: String =
    s"""$P, ${q2TripStats("")},
       |per_service AS (
       |  SELECT route_id, service_id,
       |         COUNT(*) AS num_trips,
       |         SUM(trip_duration_seconds) AS dur_sum,
       |         CAST(SUM(dist_cents) AS DOUBLE) / COUNT(dist_cents) / 100.0 AS avg_trip_distance_km,
       |         CAST(SUM(trip_duration_seconds) AS DOUBLE) / COUNT(*) / 60.0 AS avg_duration_min,
       |         STDDEV_POP(CAST(trip_duration_seconds AS DOUBLE)) / 60.0 AS duration_stddev_min,
       |         AVG(trip_distance / NULLIF(CAST(trip_duration_seconds AS DOUBLE), 0.0) * 3600.0) AS avg_speed_kmh
       |  FROM trip_stats GROUP BY route_id, service_id),
       |stats AS (
       |  SELECT route_id,
       |         CAST(SUM(num_trips) AS BIGINT) AS num_trips,
       |         CAST(SUM(dur_sum) AS DOUBLE) / CAST(SUM(num_trips) AS DOUBLE) / 60.0 AS avg_duration_min
       |  FROM per_service GROUP BY route_id),
       |ranked AS (
       |  SELECT route_id FROM stats
       |  ORDER BY ROUND(avg_duration_min, 4) DESC, route_id
       |  LIMIT 20)
       |SELECT ps.route_id, r.route_long_name, r.route_short_name,
       |       ps.service_id,
       |       CAST(ps.num_trips AS BIGINT) AS num_trips,
       |       ROUND(ps.avg_trip_distance_km, 4) AS avg_trip_distance_km,
       |       ROUND(ps.avg_duration_min, 4) AS avg_duration_min,
       |       ROUND(ps.duration_stddev_min, 4) AS duration_stddev_min,
       |       ROUND(ps.avg_speed_kmh, 4) AS avg_speed_kmh
       |FROM per_service ps
       |JOIN routes r ON r.route_id = ps.route_id
       |WHERE ps.route_id IN (SELECT route_id FROM ranked)
       |ORDER BY ps.route_id, ps.service_id""".stripMargin

  private def q3(where: String): String =
    s"""$P, usr AS (
       |  SELECT DISTINCT st.stop_id, t.route_id
       |  FROM stop_times st JOIN trips t ON t.trip_id = st.trip_id
       |  $where),
       |counts AS (
       |  SELECT stop_id, COUNT(route_id) AS num_unique_routes
       |  FROM usr GROUP BY stop_id
       |  HAVING COUNT(route_id) >= 2)
       |SELECT c.stop_id, s.stop_name,
       |       ROUND(s.stop_lat, 6) AS stop_lat,
       |       ROUND(s.stop_lon, 6) AS stop_lon,
       |       c.num_unique_routes
       |FROM counts c JOIN stops s ON s.stop_id = c.stop_id
       |ORDER BY num_unique_routes DESC, c.stop_id
       |LIMIT 20""".stripMargin

  val q3Weekday: String = q3("WHERE t.service_id = '1'")
  val q3WholeWeek: String = q3("")

  private val q4Hf: String =
    s"""hf AS (
       |  SELECT t.route_id, t.service_id,
       |         CAST(FLOOR(st.dep_secs / 3600.0) AS BIGINT) AS hour_of_day,
       |         COUNT(DISTINCT st.trip_id) AS trips_per_hour
       |  FROM stop_times st JOIN trips t ON t.trip_id = st.trip_id
       |  GROUP BY t.route_id, t.service_id, CAST(FLOOR(st.dep_secs / 3600.0) AS BIGINT))""".stripMargin

  private def q4(perHour: String): String =
    s"""$P, $q4Hf,
       |per_hour AS ($perHour),
       |agg AS (
       |  SELECT route_id,
       |         CAST(SUM(trips_per_hour) AS BIGINT) AS total_daily_trips,
       |         STRING_AGG(CAST(hour_of_day AS VARCHAR) || ':' || CAST(trips_per_hour AS VARCHAR),
       |                    ' | ' ORDER BY hour_of_day) AS hourly_profile
       |  FROM per_hour GROUP BY route_id)
       |SELECT a.route_id, r.route_long_name, r.route_short_name,
       |       a.total_daily_trips, a.hourly_profile
       |FROM agg a JOIN routes r ON r.route_id = a.route_id
       |ORDER BY total_daily_trips DESC, a.route_id
       |LIMIT 20""".stripMargin

  val q4Weekday: String =
    q4("SELECT route_id, hour_of_day, trips_per_hour FROM hf WHERE service_id = '1'")

  val q4WholeWeek: String = q4(
    """SELECT route_id, hour_of_day, CAST(SUM(trips_per_hour) AS BIGINT) AS trips_per_hour
      |   FROM hf GROUP BY route_id, hour_of_day""".stripMargin)

  /** Definitional mirror of [[Queries.transferWaits]]: arrivals deduped
    * to (stop, arr_secs) with multiplicity, per-arrival MIN(dep ≥ arr),
    * multiplicity-weighted per-stop rollup — duplicate arrivals get the
    * same next departure, so the weighted form equals the as-of output. */
  val transferWaits: String =
    s"""$P, a AS (SELECT stop_id, arr_secs, CAST(COUNT(*) AS BIGINT) AS m
       |          FROM stop_times GROUP BY 1, 2),
       |nxt AS (SELECT a.stop_id, a.arr_secs, a.m, MIN(d.dep_secs) AS nd
       |        FROM a LEFT JOIN stop_times d
       |          ON d.stop_id = a.stop_id AND d.dep_secs >= a.arr_secs
       |        GROUP BY 1, 2, 3)
       |SELECT stop_id,
       |       CAST(SUM(m) AS BIGINT) AS n_arrivals,
       |       CAST(SUM(CASE WHEN nd IS NOT NULL THEN m ELSE 0 END) AS BIGINT)
       |         AS n_connected,
       |       CAST(SUM(CASE WHEN nd IS NULL THEN m ELSE 0 END) AS BIGINT)
       |         AS n_dead_ends,
       |       MIN(nd - arr_secs) AS min_wait,
       |       round(CAST(SUM(CASE WHEN nd IS NOT NULL
       |                          THEN m * (nd - arr_secs) END) AS DOUBLE)
       |             / NULLIF(SUM(CASE WHEN nd IS NOT NULL THEN m ELSE 0 END),
       |                      0), 4)
       |         AS avg_wait
       |FROM nxt GROUP BY stop_id
       |ORDER BY n_arrivals DESC, stop_id
       |LIMIT 20""".stripMargin

  /** Mirrors [[Queries.serviceDates]]: generate_series spine, integer
    * day-of-week from the spine start, per-service trip census. */
  def serviceDates(start: String = "2024-01-01", days: Int = 14): String =
    s"""$P, spine AS (
       |  SELECT CAST(gs AS DATE) AS svc_date,
       |         CAST((CAST(gs AS DATE) - DATE '$start') % 7 AS INT) AS day_index
       |  FROM generate_series(DATE '$start',
       |                       DATE '$start' + INTERVAL ${days - 1} DAY,
       |                       INTERVAL 1 DAY) t(gs)),
       |cal AS (SELECT svc_date, day_index,
       |          CASE WHEN day_index < 5 THEN '1'
       |               WHEN day_index = 5 THEN '2' ELSE '3' END AS service_id
       |        FROM spine),
       |per_svc AS (SELECT service_id, CAST(COUNT(*) AS BIGINT) AS n_trips
       |            FROM trips GROUP BY 1)
       |SELECT CAST(c.svc_date AS VARCHAR) AS svc_date, c.service_id,
       |       c.day_index, p.n_trips
       |FROM cal c JOIN per_svc p ON p.service_id = c.service_id
       |ORDER BY svc_date""".stripMargin

  /** Mirrors [[Queries.stopRules]]: same basket counts, same pinned
    * division order for support/confidence/lift. */
  def stopRules(minSupport: Long = 5): String =
    s"""$P, inc AS (SELECT DISTINCT trip_id, stop_id FROM stop_times),
       |nt AS (SELECT CAST(COUNT(DISTINCT trip_id) AS BIGINT) AS n_trips
       |       FROM inc),
       |singles AS (SELECT stop_id, CAST(COUNT(*) AS BIGINT) AS n
       |            FROM inc GROUP BY 1),
       |pairs AS (SELECT a.stop_id AS sa, b.stop_id AS sb,
       |            CAST(COUNT(*) AS BIGINT) AS n_ab
       |          FROM inc a JOIN inc b ON a.trip_id = b.trip_id
       |            AND a.stop_id < b.stop_id
       |          GROUP BY 1, 2
       |          HAVING COUNT(*) >= $minSupport)
       |SELECT p.sa, p.sb, p.n_ab, s1.n AS n_a, s2.n AS n_b,
       |       round(CAST(p.n_ab AS DOUBLE) / nt.n_trips, 6) AS support,
       |       round(CAST(p.n_ab AS DOUBLE) / s1.n, 6) AS conf_ab,
       |       round(CAST(p.n_ab AS DOUBLE) / s2.n, 6) AS conf_ba,
       |       round(CAST(p.n_ab AS DOUBLE) * nt.n_trips / (CAST(s1.n AS DOUBLE) * s2.n), 6)
       |         AS lift
       |FROM pairs p JOIN singles s1 ON s1.stop_id = p.sa
       |JOIN singles s2 ON s2.stop_id = p.sb, nt
       |ORDER BY lift DESC, p.sa, p.sb
       |LIMIT 20""".stripMargin

  /** Mirrors [[Queries.feedDiff]]: identical synthetic v2, one full
    * outer join, same four-way classification. */
  val feedDiff: String =
    s"""$P, v1 AS (SELECT trip_id, stop_id, stop_sequence AS seq, dep_secs
       |           FROM stop_times),
       |v2 AS (SELECT trip_id, stop_id, seq,
       |         CASE WHEN trip_id % 7 = 0 THEN dep_secs + 300
       |              ELSE dep_secs END AS dep_secs
       |       FROM v1 WHERE trip_id % 13 <> 0
       |       UNION ALL
       |       SELECT -trip_id, stop_id, seq, dep_secs
       |       FROM v1 WHERE trip_id % 11 = 0),
       |j AS (SELECT COALESCE(a.trip_id, b.trip_id) AS trip_id,
       |        CASE WHEN a.dep_secs IS NULL THEN 'added'
       |             WHEN b.dep_secs IS NULL THEN 'removed'
       |             WHEN a.dep_secs <> b.dep_secs THEN 'retimed'
       |             ELSE 'unchanged' END AS status
       |      FROM (SELECT trip_id, stop_id, seq, dep_secs FROM v1) a
       |      FULL OUTER JOIN v2 b
       |        ON b.trip_id = a.trip_id AND b.stop_id = a.stop_id
       |       AND b.seq = a.seq)
       |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |       CAST(COUNT(DISTINCT trip_id) AS BIGINT) AS n_trips
       |FROM j GROUP BY status
       |ORDER BY status""".stripMargin

  /** Oracle for [[Queries.feedUpsert]] — deliberately NOT a mirror of the
    * merge: a DIRECT fresh v2 derivation. The hash-match proves
    * diff-apply-to-landed-v1 ≡ clean v2 reload. */
  val feedUpsert: String =
    s"""$P, v1 AS (SELECT trip_id, stop_id, stop_sequence AS seq,
       |                  MIN(dep_secs) AS dep_secs
       |           FROM stop_times GROUP BY 1, 2, 3)
       |SELECT trip_id, stop_id, seq,
       |       CASE WHEN trip_id % 7 = 0 THEN dep_secs + 300
       |            ELSE dep_secs END AS dep_secs
       |FROM v1 WHERE trip_id % 13 <> 0
       |UNION ALL
       |SELECT -trip_id, stop_id, seq, dep_secs
       |FROM v1 WHERE trip_id % 11 = 0""".stripMargin

  /** Oracle for [[Queries.snapshotIvm]] — a flat per-stop aggregate over
    * the fresh v2 derivation (NOT the retract/apply merge): the
    * hash-match proves incremental maintenance ≡ full recompute. */
  val snapshotIvm: String =
    s"""$P, v1 AS (SELECT trip_id, stop_id, stop_sequence AS seq,
       |                  MIN(dep_secs) AS dep_secs
       |           FROM stop_times GROUP BY 1, 2, 3),
       |v2 AS (
       |  SELECT trip_id, stop_id, seq,
       |         CASE WHEN trip_id % 7 = 0 THEN dep_secs + 300
       |              ELSE dep_secs END AS dep_secs
       |  FROM v1 WHERE trip_id % 13 <> 0
       |  UNION ALL
       |  SELECT -trip_id, stop_id, seq, dep_secs
       |  FROM v1 WHERE trip_id % 11 = 0)
       |SELECT stop_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       |       CAST(SUM(dep_secs) AS BIGINT) AS dep_sum
       |FROM v2 GROUP BY stop_id ORDER BY stop_id""".stripMargin

  /** Planted-corruption mirror of `GtfsWriter.corruptCensus`: the same
    * exclusive trip_id-moduli classes computed on the CLEAN derivation —
    * the engine's PERMISSIVE read must recover exactly these counts, and
    * the good rows' identity aggregates, from the mangled feed. The %113
    * class is the `gtfsString` NULL-guard's hard signal (r14 ask #3): the
    * oracle predicts 'corrupt' from the clean derivation, which only
    * holds if the engine's guard propagates a NULL seconds input to a
    * NULL time string on write (an unguarded "null:..:.." render would
    * land those rows 'good' and break the hash). */
  val gtfsCorrupt: String =
    s"""$P, cls AS (
       |  SELECT trip_id, dep_secs,
       |    CASE WHEN trip_id % 101 = 0 THEN 'bad_time'
       |         WHEN trip_id % 103 = 0 OR trip_id % 107 = 0
       |              OR trip_id % 109 = 0 OR trip_id % 113 = 0
       |              THEN 'corrupt'
       |         ELSE 'good' END AS status
       |  FROM stop_times)
       |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(DISTINCT CASE WHEN status = 'good' THEN trip_id END)
       |    AS BIGINT) AS n_trips,
       |  CAST(SUM(CASE WHEN status = 'good' THEN dep_secs END) AS BIGINT)
       |    AS dep_sum
       |FROM cls GROUP BY status
       |ORDER BY status""".stripMargin

  /** Mirrors [[Queries.routeOverlap]]. */
  val routeOverlap: String =
    s"""$P, inc AS (SELECT DISTINCT t.route_id, st.stop_id
       |            FROM stop_times st JOIN trips t ON t.trip_id = st.trip_id),
       |sizes AS (SELECT route_id, CAST(COUNT(*) AS BIGINT) AS n_stops
       |          FROM inc GROUP BY 1),
       |pairs AS (SELECT a.route_id AS r1, b.route_id AS r2,
       |            CAST(COUNT(*) AS BIGINT) AS shared_stops
       |          FROM inc a JOIN inc b ON a.stop_id = b.stop_id
       |            AND a.route_id < b.route_id
       |          GROUP BY 1, 2)
       |SELECT p.r1, p.r2, p.shared_stops,
       |       s1.n_stops AS n1, s2.n_stops AS n2,
       |       round(CAST(p.shared_stops AS DOUBLE)
       |             / (s1.n_stops + s2.n_stops - p.shared_stops), 6)
       |         AS overlap_jaccard
       |FROM pairs p JOIN sizes s1 ON s1.route_id = p.r1
       |JOIN sizes s2 ON s2.route_id = p.r2
       |ORDER BY overlap_jaccard DESC, p.r1, p.r2
       |LIMIT 20""".stripMargin

  /** Degree-capped backbone edge CTEs shared by [[stressCentrality]] and
    * [[linkPrediction]] — mirrors [[Queries.backboneEdges]]. */
  private val backboneCtes: String =
    s"""st AS (SELECT trip_id, stop_id, stop_sequence AS seq FROM stop_times),
       |w AS (SELECT least(a.stop_id, b.stop_id) AS s,
       |             greatest(a.stop_id, b.stop_id) AS d,
       |             CAST(COUNT(*) AS BIGINT) AS w
       |      FROM st a JOIN st b ON a.trip_id = b.trip_id
       |        AND b.seq = a.seq + 1 AND a.stop_id <> b.stop_id
       |      GROUP BY 1, 2),
       |sym AS (SELECT s AS src, d AS dst, w FROM w
       |        UNION ALL SELECT d, s, w FROM w),
       |und AS (SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d
       |        FROM (SELECT src, dst,
       |                row_number() OVER (PARTITION BY src
       |                  ORDER BY w DESC, dst) AS rk
       |              FROM sym)
       |        WHERE rk <= ${Queries.StressTopK}),
       |e AS (SELECT s AS src, d AS dst FROM und
       |      UNION ALL SELECT d, s FROM und)""".stripMargin

  /** Mirrors [[Queries.linkPrediction]]: wedge-join common neighbors on
    * the backbone, anti-join to non-edges, one final double division. */
  val linkPrediction: String =
    s"""$P, $backboneCtes,
       |deg AS (SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS deg
       |        FROM e GROUP BY 1),
       |cn AS (SELECT x.src AS u, y.dst AS v, CAST(COUNT(*) AS BIGINT) AS cn
       |       FROM e x JOIN e y ON x.dst = y.src AND x.src < y.dst
       |       GROUP BY 1, 2),
       |ne AS (SELECT * FROM cn WHERE NOT EXISTS (
       |         SELECT 1 FROM e WHERE e.src = cn.u AND e.dst = cn.v))
       |SELECT ne.u, ne.v, ne.cn,
       |       du.deg + dv.deg - ne.cn AS union_size,
       |       round(CAST(ne.cn AS DOUBLE) / (du.deg + dv.deg - ne.cn), 6)
       |         AS jaccard
       |FROM ne JOIN deg du ON du.n = ne.u JOIN deg dv ON dv.n = ne.v
       |ORDER BY jaccard DESC, ne.cn DESC, ne.u, ne.v
       |LIMIT 20""".stripMargin

  /** (dist, σ) CTE chain over the backbone — mirrors
    * [[Queries.shortestPaths3]]; shared by stress and the k-hop census. */
  private val spath3Ctes: String =
    s"""$backboneCtes,
       |a1 AS (SELECT src, dst, 1 AS k, CAST(1 AS BIGINT) AS n FROM e),
       |a2 AS (SELECT x.src, y.dst, 2 AS k, CAST(COUNT(*) AS BIGINT) AS n
       |       FROM e x JOIN e y ON x.dst = y.src
       |       WHERE x.src <> y.dst GROUP BY 1, 2),
       |a3 AS (SELECT x.src, y.dst, 3 AS k, CAST(SUM(x.n) AS BIGINT) AS n
       |       FROM a2 x JOIN e y ON x.dst = y.src
       |       WHERE x.src <> y.dst GROUP BY 1, 2),
       |dd AS (SELECT src, dst, k AS dist, n AS sigma FROM (
       |         SELECT src, dst, k, n,
       |                row_number() OVER (PARTITION BY src, dst ORDER BY k) AS rk
       |         FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2
       |               UNION ALL SELECT * FROM a3))
       |       WHERE rk = 1)""".stripMargin

  /** Mirrors [[Queries.kHopCensus]]. */
  val kHopCensus: String =
    s"""$P, $spath3Ctes
       |SELECT src AS stop_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_reachable_3hop,
       |       CAST(SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1hop,
       |       CAST(SUM(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_2hop,
       |       CAST(SUM(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_3hop
       |FROM dd GROUP BY src
       |ORDER BY n_reachable_3hop DESC, stop_id
       |LIMIT 20""".stripMargin

  /** Mirrors [[Queries.stressCentrality]]: adjacency powers as chained
    * CTEs, argmin-(dist, σ) per pair, integer through-count join. */
  val stressCentrality: String =
    s"""$P, $spath3Ctes,
       |p1 AS (SELECT src AS s, dst AS v, dist AS d1, sigma AS sig1
       |       FROM dd WHERE src % 12 = 0),
       |p2 AS (SELECT src AS v, dst AS t, dist AS d2, sigma AS sig2 FROM dd),
       |tot AS (SELECT src AS s, dst AS t, dist AS dt
       |        FROM dd WHERE src % 12 = 0)
       |SELECT p1.v AS stop_id, CAST(SUM(sig1 * sig2) AS BIGINT) AS stress
       |FROM p1 JOIN p2 ON p1.v = p2.v AND p1.s <> p2.t
       |JOIN tot ON tot.s = p1.s AND tot.t = p2.t AND p1.d1 + p2.d2 = tot.dt
       |GROUP BY p1.v
       |ORDER BY stress DESC, stop_id
       |LIMIT 20""".stripMargin

  /** Brute-force all-pairs nearest-within-R — the definitional mirror of
    * the grid-blocked join (exactness of the blocking is the theorem the
    * hash-compare certifies). Coordinates are 6-dp-rounded then cast to
    * DOUBLE so both engines run identical float arithmetic. */
  def stopNearestNeighbor(r: Double = 0.05): String =
    s"""$P, pts AS (
       |  SELECT stop_id,
       |         CAST(ROUND(stop_lat, 6) AS DOUBLE) AS lat,
       |         CAST(ROUND(stop_lon, 6) AS DOUBLE) AS lon
       |  FROM stops),
       |pairs AS (
       |  SELECT a.stop_id, b.stop_id AS b_id,
       |         (a.lat - b.lat) * (a.lat - b.lat) +
       |         (a.lon - b.lon) * (a.lon - b.lon) AS d2
       |  FROM pts a JOIN pts b ON b.stop_id <> a.stop_id),
       |ranked AS (
       |  SELECT stop_id, b_id, d2,
       |         row_number() OVER (PARTITION BY stop_id ORDER BY d2, b_id) AS rk
       |  FROM pairs
       |  WHERE d2 <= CAST($r AS DOUBLE) * CAST($r AS DOUBLE))
       |SELECT stop_id, b_id AS nn_stop_id, ROUND(d2, 10) AS nn_d2
       |FROM ranked WHERE rk = 1
       |ORDER BY stop_id""".stripMargin

  /** Raw GTFS-time SQL mirroring GtfsTime.gtfsString (>24 h hours kept).
    * Hour via printf('%02d', …), matching the Scala side's format_string:
    * LPAD truncates 3-digit hours (">= 100 h" would corrupt to 2 digits
    * in BOTH engines — agreeing on the wrong answer is still wrong). */
  private def gtfsTime(secs: String): String =
    s"""printf('%02d', CAST(FLOOR($secs / 3600.0) AS BIGINT))
       | || ':' || LPAD(CAST(CAST(FLOOR($secs % 3600 / 60.0) AS BIGINT) AS VARCHAR), 2, '0')
       | || ':' || LPAD(CAST($secs % 60 AS VARCHAR), 2, '0')""".stripMargin.replace("\n", "")

  val serviceSpan: String =
    s"""$P, spans AS (
       |  SELECT t.route_id,
       |         MIN(st.dep_secs) AS first_secs,
       |         MAX(st.dep_secs) AS last_secs,
       |         CAST(COUNT(DISTINCT st.trip_id) AS BIGINT) AS n_trips
       |  FROM stop_times st JOIN trips t ON t.trip_id = st.trip_id
       |  GROUP BY t.route_id)
       |SELECT s.route_id, r.route_long_name,
       |       ${gtfsTime("s.first_secs")} AS first_departure,
       |       ${gtfsTime("s.last_secs")} AS last_departure,
       |       s.n_trips,
       |       ROUND((s.last_secs - s.first_secs) / 3600.0, 4) AS span_hours
       |FROM spans s JOIN routes r ON r.route_id = s.route_id
       |ORDER BY s.route_id""".stripMargin

  /** Display-time SQL mirroring GtfsTime.displayString (hour wrapped to 0-23). */
  private def displayTime(secs: String): String =
    s"""LPAD(CAST(CAST(FLOOR($secs / 3600.0) AS BIGINT) % 24 AS VARCHAR), 2, '0')
       | || ':' || LPAD(CAST(CAST(FLOOR($secs % 3600 / 60.0) AS BIGINT) AS VARCHAR), 2, '0')
       | || ':' || LPAD(CAST($secs % 60 AS VARCHAR), 2, '0')""".stripMargin.replace("\n", "")

  /** Flat face of the Mongo-wire-format round trip
    * ([[graft.sources.MongoExport.roundtripFlat]]): the JSONL export read
    * back and exploded is lossless, so the oracle is the direct 4-table
    * join — including the fields only the document carries relationally
    * implicitly (nullable stop_code, GeoJSON [lon, lat] to 6 dp). */
  val mongoExport: String =
    s"""$P
       |SELECT st.stop_id, s.stop_name, s.stop_code,
       |       ROUND(s.stop_lon, 6) AS stop_lon,
       |       ROUND(s.stop_lat, 6) AS stop_lat,
       |       st.trip_id, st.stop_sequence,
       |       t.route_id, r.route_long_name, r.route_short_name,
       |       t.trip_headsign, t.service_id, t.direction_id,
       |       st.dep_secs,
       |       ${displayTime("st.arr_secs")} AS arrival_time,
       |       ${displayTime("st.dep_secs")} AS departure_time
       |FROM stop_times st
       |JOIN trips t ON t.trip_id = st.trip_id
       |JOIN stops s ON s.stop_id = st.stop_id
       |JOIN routes r ON r.route_id = t.route_id""".stripMargin

  /** Flat face of the nested timetable build (collect_list ∘ explode ≡ the
    * plain 4-table join). */
  val timetableFlat: String =
    s"""$P
       |SELECT st.stop_id, s.stop_name, st.trip_id, st.stop_sequence,
       |       t.route_id, r.route_long_name, r.route_short_name,
       |       t.trip_headsign, t.service_id, t.direction_id,
       |       st.dep_secs,
       |       ${displayTime("st.arr_secs")} AS arrival_time,
       |       ${displayTime("st.dep_secs")} AS departure_time
       |FROM stop_times st
       |JOIN trips t ON t.trip_id = st.trip_id
       |JOIN stops s ON s.stop_id = st.stop_id
       |JOIN routes r ON r.route_id = t.route_id
       |ORDER BY st.stop_id, st.trip_id, st.stop_sequence""".stripMargin

  /** Flat arrivals (route+headsign given): string-sorted display times —
    * the reference's accepted day-wrap sort quirk (SURVEY §2.5 O9). The
    * reference's flat path applies only the service allow-list plus the
    * exact route/headsign match — no NOT-IN-SERVICE exclusion (reference
    * `Mongo/app.py:186-204`), unlike the grouped path. */
  def arrivalsFlat(stopId: Long, shortName: String, headsign: String): String =
    s"""$P
       |SELECT ${displayTime("st.dep_secs")} AS departure_time, st.trip_id
       |FROM stop_times st
       |JOIN trips t ON t.trip_id = st.trip_id
       |JOIN routes r ON r.route_id = t.route_id
       |WHERE st.stop_id = $stopId
       |  AND t.service_id IN ('1','2','3')
       |  AND r.route_short_name = '$shortName' AND t.trip_headsign = '$headsign'
       |ORDER BY departure_time, st.trip_id""".stripMargin

  /** Haversine in the same operation order as Timetable.stopsNear; sort
    * on the rounded distance so libm ulp differences cannot reorder. */
  def stopsNear(lat: Double, lon: Double, k: Int): String =
    s"""$P
       |SELECT stop_id, stop_name,
       |       round(2 * 6371.0088 * asin(sqrt(
       |         pow(sin(radians(stop_lat - $lat) / 2), 2) +
       |         cos(radians($lat)) * cos(radians(stop_lat)) *
       |           pow(sin(radians(stop_lon - ($lon)) / 2), 2))), 4) AS dist_km
       |FROM stops
       |ORDER BY dist_km, stop_id
       |LIMIT $k""".stripMargin

  /** Literal substring match via contains() — LIKE would treat '_'/'%' in
    * the query as wildcards, diverging from the Spark side's contains().
    * The DISTINCT+join pins the store's semantics: the reference searches
    * the denormalized store's stop list, i.e. stops present in the
    * schedule, matching on name OR code (`Mongo/index.html:167-181`).
    * Sort keys are qualified — both joined tables carry `stop_id`. */
  def stopSearch(q: String): String = {
    val lit = q.toLowerCase.replace("'", "''")
    s"""$P
       |SELECT DISTINCT s.stop_id, s.stop_name, s.stop_code
       |FROM stops s JOIN stop_times st ON st.stop_id = s.stop_id
       |WHERE contains(lower(s.stop_name), '$lit')
       |   OR contains(lower(s.stop_code), '$lit')
       |ORDER BY s.stop_name, s.stop_id""".stripMargin
  }

  val triangleCount: String =
    s"""$P, pr AS (
       |  SELECT least(a.stop_id, b.stop_id) AS src,
       |         greatest(a.stop_id, b.stop_id) AS dst
       |  FROM stop_times a JOIN stop_times b
       |    ON a.trip_id = b.trip_id
       |   AND b.stop_sequence = a.stop_sequence + 1
       |   AND a.stop_id <> b.stop_id),
       |w AS (SELECT src, dst, COUNT(*) AS w FROM pr GROUP BY src, dst),
       |sym AS (SELECT src, dst, w FROM w
       |        UNION ALL SELECT dst, src, w FROM w),
       |topk AS (
       |  SELECT src, dst,
       |         row_number() OVER (PARTITION BY src
       |                            ORDER BY w DESC, dst) AS rk
       |  FROM sym),
       |e AS (
       |  SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
       |  FROM topk WHERE rk <= ${Queries.TriangleTopK}),
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM e e1
       |  JOIN e e2 ON e1.dst = e2.src
       |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst)
       |SELECT stop_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
       |FROM (SELECT unnest([a, b, c]) AS stop_id FROM tri)
       |GROUP BY stop_id
       |ORDER BY n_triangles DESC, stop_id
       |LIMIT 20""".stripMargin

  val gtfsValidation: String =
    s"""$P
       |SELECT '1_missing_stop_ref' AS check_name,
       |       CAST(COUNT(*) AS BIGINT) AS n_violations
       |FROM stop_times st LEFT JOIN stops s ON s.stop_id = st.stop_id
       |WHERE s.stop_id IS NULL
       |UNION ALL
       |SELECT '2_missing_trip_ref', CAST(COUNT(*) AS BIGINT)
       |FROM stop_times st LEFT JOIN trips t ON t.trip_id = st.trip_id
       |WHERE t.trip_id IS NULL
       |UNION ALL
       |SELECT '3_arrival_before_departure', CAST(COUNT(*) AS BIGINT)
       |FROM stop_times WHERE arr_secs < dep_secs
       |UNION ALL
       |SELECT '4_duplicate_stop_sequence', CAST(COUNT(*) AS BIGINT)
       |FROM (SELECT trip_id, stop_sequence FROM stop_times
       |      GROUP BY trip_id, stop_sequence HAVING COUNT(*) > 1)
       |UNION ALL
       |SELECT '5_nonmonotone_departures', CAST(COUNT(*) AS BIGINT)
       |FROM (SELECT dep_secs, lag(dep_secs) OVER (
       |        PARTITION BY trip_id
       |        ORDER BY stop_sequence, dep_secs, stop_id) AS prev
       |      FROM stop_times)
       |WHERE dep_secs < prev
       |UNION ALL
       |SELECT '6_missing_stop_name', CAST(COUNT(*) AS BIGINT)
       |FROM stops WHERE stop_name IS NULL
       |ORDER BY check_name""".stripMargin

  def nextDeparture(stopId: Long, nowSecs: Long): String =
    s"""$P
       |SELECT st.stop_id, st.trip_id, st.dep_secs,
       |       ${displayTime("st.dep_secs")} AS departure_time
       |FROM stop_times st JOIN trips t ON t.trip_id = st.trip_id
       |WHERE st.stop_id = $stopId
       |  AND t.service_id IN ('1','2','3')
       |  AND t.trip_headsign IS NOT NULL AND t.trip_headsign <> 'NOT IN SERVICE'
       |ORDER BY (st.dep_secs >= $nowSecs) DESC, st.dep_secs, st.trip_id
       |LIMIT 1""".stripMargin

  def q2Overall(inner: String): String =
    s"""WITH ranked AS ($inner)
       |SELECT round(sum(avg_duration_min * num_trips) / greatest(sum(num_trips), 1), 4)
       |         AS overall_avg_duration_min,
       |       round(sum(avg_speed_kmh * num_trips) / greatest(sum(num_trips), 1), 4)
       |         AS overall_avg_speed_kmh,
       |       CAST(sum(num_trips) AS BIGINT) AS total_trips
       |FROM ranked""".stripMargin

  val stopsList: String =
    s"""$P
       |SELECT stop_id, stop_name, stop_code FROM stops
       |ORDER BY stop_name, stop_id""".stripMargin

  def routesForStop(stopId: Long): String =
    s"""$P
       |SELECT DISTINCT r.route_short_name, t.trip_headsign
       |FROM stop_times st
       |JOIN trips t ON t.trip_id = st.trip_id
       |JOIN routes r ON r.route_id = t.route_id
       |WHERE st.stop_id = $stopId
       |  AND t.service_id IN ('1','2','3')
       |  AND t.trip_headsign IS NOT NULL AND t.trip_headsign <> 'NOT IN SERVICE'
       |  AND r.route_short_name IS NOT NULL
       |ORDER BY route_short_name, trip_headsign""".stripMargin

  /** Q4 nested whole-week response: per-service totals, fixed /3.0
    * average, global pre-selection max_hour (see Queries.q4Nested). */
  val q4Nested: String =
    s"""$P, $q4Hf,
       |per_hour AS (
       |  SELECT route_id, hour_of_day, CAST(SUM(trips_per_hour) AS BIGINT) AS trips
       |  FROM hf GROUP BY route_id, hour_of_day),
       |profile AS (
       |  SELECT route_id,
       |         CAST(SUM(trips) AS BIGINT) AS total_daily_trips,
       |         STRING_AGG(CAST(hour_of_day AS VARCHAR) || ':' || CAST(trips AS VARCHAR),
       |                    ' | ' ORDER BY hour_of_day) AS hourly_profile
       |  FROM per_hour GROUP BY route_id),
       |by_svc AS (
       |  SELECT route_id,
       |         CAST(SUM(CASE WHEN service_id = '1' THEN trips_per_hour ELSE 0 END) AS BIGINT) AS trips_weekday,
       |         CAST(SUM(CASE WHEN service_id = '2' THEN trips_per_hour ELSE 0 END) AS BIGINT) AS trips_saturday,
       |         CAST(SUM(CASE WHEN service_id = '3' THEN trips_per_hour ELSE 0 END) AS BIGINT) AS trips_sunday
       |  FROM hf GROUP BY route_id)
       |SELECT p.route_id, r.route_long_name, r.route_short_name,
       |       p.total_daily_trips, s.trips_weekday, s.trips_saturday, s.trips_sunday,
       |       (s.trips_weekday + s.trips_saturday + s.trips_sunday) / 3.0 AS average_daily_trips,
       |       p.hourly_profile,
       |       (SELECT MAX(hour_of_day) FROM hf) AS max_hour
       |FROM profile p
       |JOIN by_svc s ON s.route_id = p.route_id
       |JOIN routes r ON r.route_id = p.route_id
       |ORDER BY total_daily_trips DESC, p.route_id
       |LIMIT 20""".stripMargin

  /** Nested-map Q4 face: DuckDB rebuilds the canonical JSON of
    * `{service → {hour → trips}}` by hand — inner maps via ORDER BY hour
    * string_agg, outer keys in the fixed '1','2','3' domain order, absent
    * services as '{}' — byte-identical to Spark's `to_json` of the sorted
    * `map_from_entries` column (see Queries.q4NestedMap). */
  val q4NestedMapJson: String =
    s"""$P, $q4Hf,
       |inner_j AS (
       |  SELECT route_id, service_id,
       |         '{' || STRING_AGG('"' || CAST(hour_of_day AS VARCHAR) || '":' || CAST(trips_per_hour AS VARCHAR),
       |                           ',' ORDER BY hour_of_day) || '}' AS hours_json,
       |         CAST(SUM(trips_per_hour) AS BIGINT) AS svc_total
       |  FROM hf GROUP BY route_id, service_id),
       |nested AS (
       |  SELECT route_id,
       |         '{"1":' || COALESCE(MAX(CASE WHEN service_id = '1' THEN hours_json END), '{}') ||
       |         ',"2":' || COALESCE(MAX(CASE WHEN service_id = '2' THEN hours_json END), '{}') ||
       |         ',"3":' || COALESCE(MAX(CASE WHEN service_id = '3' THEN hours_json END), '{}') || '}'
       |           AS by_service_json,
       |         CAST(SUM(svc_total) AS BIGINT) AS total_daily_trips
       |  FROM inner_j GROUP BY route_id)
       |SELECT n.route_id, r.route_long_name, r.route_short_name,
       |       n.total_daily_trips, n.by_service_json
       |FROM nested n JOIN routes r ON r.route_id = n.route_id
       |ORDER BY total_daily_trips DESC, n.route_id
       |LIMIT 20""".stripMargin

  /** Q2 path display: stop path of the longest (most stop_times rows)
    * trip of a route+service, trip_id tie-break (see Queries.q2TripPath
    * on the deviation from the reference CTE's trips-rows count). */
  def q2TripPath(routeLongName: String): String =
    s"""$P, longest AS (
       |  SELECT st.trip_id
       |  FROM stop_times st
       |  JOIN trips t ON t.trip_id = st.trip_id
       |  JOIN routes r ON r.route_id = t.route_id
       |  WHERE r.route_long_name = '$routeLongName' AND t.service_id = '1'
       |  GROUP BY st.trip_id
       |  ORDER BY COUNT(*) DESC, st.trip_id
       |  LIMIT 1)
       |SELECT ROUND(s.stop_lat, 6) AS stop_lat,
       |       ROUND(s.stop_lon, 6) AS stop_lon,
       |       st.stop_sequence
       |FROM stop_times st
       |JOIN stops s ON s.stop_id = st.stop_id
       |WHERE st.trip_id = (SELECT trip_id FROM longest)
       |ORDER BY st.stop_sequence""".stripMargin

  /** Whole-document timetable grouping — no service allow-list, no
    * NOT-IN-SERVICE exclusion (reference `Mongo/app.py:64-112`). */
  def timetableGrouped(stopId: Long): String =
    s"""$P
       |SELECT r.route_long_name, t.trip_headsign,
       |       COUNT(*) AS n_times,
       |       STRING_AGG(${displayTime("st.dep_secs")}, ','
       |                  ORDER BY ${displayTime("st.dep_secs")}) AS departure_times
       |FROM stop_times st
       |JOIN trips t ON t.trip_id = st.trip_id
       |JOIN routes r ON r.route_id = t.route_id
       |WHERE st.stop_id = $stopId
       |GROUP BY r.route_long_name, t.trip_headsign
       |ORDER BY route_long_name, trip_headsign""".stripMargin

  val headways: String =
    s"""$P
       |, joined AS (
       |  SELECT t.route_id, st.stop_id, st.dep_secs, st.trip_id
       |  FROM stop_times st JOIN trips t ON t.trip_id = st.trip_id
       |  WHERE t.service_id = '1'),
       |gaps AS (
       |  SELECT route_id,
       |         dep_secs - lag(dep_secs) OVER (PARTITION BY route_id, stop_id
       |           ORDER BY dep_secs, trip_id) AS gap
       |  FROM joined)
       |SELECT route_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       |       round(AVG(gap), 2) AS avg_headway_s,
       |       CAST(MIN(gap) AS BIGINT) AS min_headway_s,
       |       CAST(MAX(gap) AS BIGINT) AS max_headway_s
       |FROM gaps WHERE gap IS NOT NULL
       |GROUP BY route_id
       |ORDER BY route_id""".stripMargin

  /** Mirrors [[Queries.bunching]]: same gap frame as [[headways]], lower
    * median via the positional pick rn = (n+1)//2, CV from the exact
    * BIGINT moments through the identical sqrt/divide. */
  val bunching: String =
    s"""$P
       |, joined AS (
       |  SELECT t.route_id, st.stop_id, st.dep_secs, st.trip_id
       |  FROM stop_times st JOIN trips t ON t.trip_id = st.trip_id
       |  WHERE t.service_id = '1'),
       |g AS (
       |  SELECT route_id, gap FROM (
       |    SELECT route_id,
       |           dep_secs - lag(dep_secs) OVER (PARTITION BY route_id, stop_id
       |             ORDER BY dep_secs, trip_id) AS gap
       |    FROM joined) WHERE gap IS NOT NULL),
       |med AS (
       |  SELECT route_id, CAST(gap AS BIGINT) AS med_gap FROM (
       |    SELECT route_id, gap,
       |           row_number() OVER (PARTITION BY route_id ORDER BY gap) AS rn,
       |           count(*) OVER (PARTITION BY route_id) AS n
       |    FROM g) WHERE rn = (n + 1) // 2),
       |a AS (
       |  SELECT route_id, count(*) AS n_gaps,
       |         CAST(sum(gap) AS BIGINT) AS s,
       |         CAST(sum(gap * gap) AS BIGINT) AS s2
       |  FROM g GROUP BY route_id),
       |b AS (
       |  SELECT g.route_id, count(*) AS n_bunched
       |  FROM g JOIN med ON g.route_id = med.route_id
       |  WHERE g.gap * 2 < med.med_gap GROUP BY g.route_id)
       |SELECT a.route_id, a.n_gaps, med.med_gap,
       |       coalesce(b.n_bunched, 0) AS n_bunched,
       |       round(CAST(coalesce(b.n_bunched, 0) AS DOUBLE) / a.n_gaps, 6)
       |         AS bunch_share,
       |       CASE WHEN a.s > 0 THEN
       |         round(sqrt(CAST(a.n_gaps AS DOUBLE) * CAST(a.s2 AS DOUBLE) -
       |           CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE)) /
       |           CAST(a.s AS DOUBLE), 6)
       |       ELSE NULL END AS cv
       |FROM a JOIN med USING (route_id) LEFT JOIN b USING (route_id)
       |ORDER BY a.route_id""".stripMargin

  /** k PageRank power-iterations unrolled as chained CTEs p0 → p1 → … →
    * p_k, each round the same edge⋈deg⋈prev-rank sum the engine's
    * checkpointed loop runs — integer-quantized, so every round is
    * BIGINT-exact in both engines for any k. */
  def pagerank(iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      s"""i$r AS (SELECT e.dst,
         |         CAST(SUM(CAST(p.rank_q // d.out_deg AS BIGINT)) AS BIGINT) AS s
         |       FROM edges e JOIN deg d ON e.src = d.src
         |       JOIN p${r - 1} p ON p.stop_id = e.src GROUP BY e.dst),
         |p$r AS (SELECT n.stop_id,
         |         CAST(150000 + (850 * COALESCE(i.s, 0)) // 1000 AS BIGINT) AS rank_q
         |       FROM nodes n LEFT JOIN i$r i ON n.stop_id = i.dst)""".stripMargin
    }.mkString(",\n")
    s"""$P, st2 AS (SELECT trip_id, stop_id, stop_sequence FROM stop_times),
       |edges AS (SELECT DISTINCT a.stop_id AS src, b.stop_id AS dst
       |          FROM st2 a JOIN st2 b ON a.trip_id = b.trip_id
       |           AND b.stop_sequence = a.stop_sequence + 1),
       |nodes AS (SELECT DISTINCT stop_id FROM
       |          (SELECT src AS stop_id FROM edges
       |           UNION ALL SELECT dst FROM edges)),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg
       |        FROM edges GROUP BY src),
       |p0 AS (SELECT stop_id, CAST(1000000 AS BIGINT) AS rank_q FROM nodes),
       |$rounds
       |SELECT p.stop_id, COALESCE(d.out_deg, 0) AS out_deg, p.rank_q
       |FROM p$iters p LEFT JOIN deg d ON p.stop_id = d.src
       |ORDER BY p.rank_q DESC, p.stop_id
       |LIMIT 20""".stripMargin
  }

  val pagerankRound: String = pagerank(1)

  /** OD corridors: same hop join; the mean divides the exact BIGINT sum
    * once (DuckDB SUM(int) is HUGEINT → cast). */
  val odCorridors: String =
    s"""$P, st2 AS (SELECT trip_id, stop_id, stop_sequence, dep_secs, arr_secs
       |            FROM stop_times)
       |SELECT a.stop_id AS from_stop, b.stop_id AS to_stop,
       |       CAST(COUNT(*) AS BIGINT) AS n_obs,
       |       CAST(COUNT(DISTINCT a.trip_id) AS BIGINT) AS n_trips,
       |       round(CAST(CAST(SUM(b.arr_secs - a.dep_secs) AS BIGINT) AS DOUBLE)
       |             / COUNT(*), 4) AS mean_elapsed_secs,
       |       CAST(MIN(b.arr_secs - a.dep_secs) AS BIGINT) AS min_secs,
       |       CAST(MAX(b.arr_secs - a.dep_secs) AS BIGINT) AS max_secs
       |FROM st2 a JOIN st2 b ON a.trip_id = b.trip_id
       |  AND b.stop_sequence = a.stop_sequence + 1 AND a.stop_id <> b.stop_id
       |GROUP BY 1, 2
       |ORDER BY n_obs DESC, from_stop, to_stop
       |LIMIT 20""".stripMargin

  /** Onion-layer peeling census, unrolled to the same fixed horizon the
    * engine runs; alive-set CTEs are MATERIALIZED (each is referenced by
    * the next round's degree count twice plus the final layer CASE). */
  def coreLayers(rounds: Int = 6): String = {
    val rcte = (1 to rounds).map { r =>
      s"""d$r AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS dg
         |        FROM sym WHERE s IN (SELECT stop_id FROM a${r - 1})
         |          AND t IN (SELECT stop_id FROM a${r - 1}) GROUP BY s),
         |a$r AS MATERIALIZED (
         |        SELECT a.stop_id FROM a${r - 1} a JOIN d$r d ON a.stop_id = d.s
         |        CROSS JOIN k WHERE d.dg >= k.kv)""".stripMargin
    }.mkString(",\n")
    val layerCase = (1 to rounds).map(r =>
      s"WHEN stop_id NOT IN (SELECT stop_id FROM a$r) THEN $r").mkString(" ")
    s"""$P, st2 AS (SELECT trip_id, stop_id, stop_sequence FROM stop_times),
       |und AS (SELECT DISTINCT LEAST(a.stop_id, b.stop_id) AS u,
       |               GREATEST(a.stop_id, b.stop_id) AS v
       |        FROM st2 a JOIN st2 b ON a.trip_id = b.trip_id
       |         AND b.stop_sequence = a.stop_sequence + 1
       |         AND a.stop_id <> b.stop_id),
       |sym AS MATERIALIZED (
       |        SELECT u AS s, v AS t FROM und UNION ALL SELECT v, u FROM und),
       |k AS (SELECT (COUNT(*) * 19) // (20 * COUNT(DISTINCT s)) AS kv FROM sym),
       |a0 AS MATERIALIZED (SELECT DISTINCT s AS stop_id FROM sym),
       |$rcte
       |SELECT CAST(CASE $layerCase ELSE 0 END AS INT) AS layer,
       |       CAST(COUNT(*) AS BIGINT) AS n_stops
       |FROM a0 GROUP BY 1 ORDER BY layer""".stripMargin
  }

  /** Degree assortativity: exact HUGEINT sums (mirroring Spark's
    * DECIMAL(38,0)), the single float division written as the identical
    * expression, round 6. */
  val assortativity: String =
    s"""$P, st2 AS (SELECT trip_id, stop_id, stop_sequence FROM stop_times),
       |und AS (SELECT DISTINCT LEAST(a.stop_id, b.stop_id) AS u,
       |               GREATEST(a.stop_id, b.stop_id) AS v
       |        FROM st2 a JOIN st2 b ON a.trip_id = b.trip_id
       |         AND b.stop_sequence = a.stop_sequence + 1
       |         AND a.stop_id <> b.stop_id),
       |sym AS (SELECT u AS s, v AS t FROM und UNION ALL SELECT v, u FROM und),
       |deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
       |e AS (SELECT d1.d AS dx, d2.d AS dy
       |      FROM sym JOIN deg d1 ON sym.s = d1.s JOIN deg d2 ON sym.t = d2.s),
       |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
       |       CAST(SUM(CAST(dx AS HUGEINT) * dy) AS BIGINT) AS sum_xy,
       |       CAST(SUM(dx) AS BIGINT) AS sum_x,
       |       CAST(SUM(CAST(dx AS HUGEINT) * dx) AS BIGINT) AS sum_xx FROM e)
       |SELECT m, sum_xy, sum_x, sum_xx,
       |       round((CAST(m AS DOUBLE) * sum_xy - CAST(sum_x AS DOUBLE) * sum_x) /
       |             (CAST(m AS DOUBLE) * sum_xx - CAST(sum_x AS DOUBLE) * sum_x), 6)
       |         AS r
       |FROM a""".stripMargin

  /** Local clustering coefficient: exact wedge/triangle counts, identical
    * float division, round 6. */
  val clusteringCoef: String =
    s"""$P, st2 AS (SELECT trip_id, stop_id, stop_sequence FROM stop_times),
       |und AS (SELECT DISTINCT LEAST(a.stop_id, b.stop_id) AS u,
       |               GREATEST(a.stop_id, b.stop_id) AS v
       |        FROM st2 a JOIN st2 b ON a.trip_id = b.trip_id
       |         AND b.stop_sequence = a.stop_sequence + 1
       |         AND a.stop_id <> b.stop_id),
       |sym AS (SELECT u AS s, v AS t FROM und UNION ALL SELECT v, u FROM und),
       |deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
       |w AS (SELECT e1.s AS apex, e1.t AS a, e2.t AS b
       |      FROM sym e1 JOIN sym e2 ON e1.s = e2.s AND e1.t < e2.t),
       |tri AS (SELECT apex, CAST(COUNT(*) AS BIGINT) AS tri
       |        FROM w JOIN und ON w.a = und.u AND w.b = und.v GROUP BY 1)
       |SELECT deg.s AS stop_id, deg.d,
       |       COALESCE(tri.tri, CAST(0 AS BIGINT)) AS tri,
       |       round(CASE WHEN deg.d >= 2
       |               THEN CAST(2 AS DOUBLE) * COALESCE(tri.tri, 0)
       |                    / (CAST(deg.d AS DOUBLE) * (deg.d - 1))
       |               ELSE CAST(0 AS DOUBLE) END, 6) AS lcc
       |FROM deg LEFT JOIN tri ON deg.s = tri.apex
       |ORDER BY stop_id""".stripMargin

  /** Deterministic walk corpus: the same hash-argmin unrolled as one CTE
    * chain per step, row_number tie-broken on (h, node). */
  def walkCorpus(steps: Int = 3): String = {
    import graft.functions.TextHashSql.strHash
    def stepCte(k: Int): String = {
      val h = strHash(s"'walk:$k:' || CAST(walk_id AS VARCHAR) || ':' || CAST(nbr AS VARCHAR)")
      s"""c$k AS (SELECT w${k - 1}.walk_id, $k AS step, sym.nbr AS node, $h AS h
         |        FROM w${k - 1} JOIN sym ON w${k - 1}.node = sym.s),
         |w$k AS (SELECT walk_id, step, node FROM (
         |          SELECT *, ROW_NUMBER() OVER (PARTITION BY walk_id
         |                      ORDER BY h, node) AS rn FROM c$k)
         |        WHERE rn = 1)""".stripMargin
    }
    s"""$P, st2 AS (SELECT trip_id, stop_id, stop_sequence FROM stop_times),
       |und AS (SELECT DISTINCT LEAST(a.stop_id, b.stop_id) AS u,
       |               GREATEST(a.stop_id, b.stop_id) AS v
       |        FROM st2 a JOIN st2 b ON a.trip_id = b.trip_id
       |         AND b.stop_sequence = a.stop_sequence + 1
       |         AND a.stop_id <> b.stop_id),
       |sym AS (SELECT u AS s, v AS nbr FROM und UNION ALL SELECT v, u FROM und),
       |w0 AS (SELECT DISTINCT s AS walk_id, 0 AS step, s AS node FROM sym),
       |${(1 to steps).map(stepCte).mkString(",\n")}
       |${(0 to steps).map(k => s"SELECT walk_id, step, node FROM w$k").mkString("\nUNION ALL\n")}
       |ORDER BY walk_id, step""".stripMargin
  }

  /** Label propagation: identical k unrolled rounds, (cnt DESC, lbl)
    * row_number tie-break, BIGINT census. */
  def lpCommunities(rounds: Int = 3): String = {
    def roundCte(k: Int): String =
      s"""f$k AS (SELECT sym.s, l${k - 1}.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
         |        FROM sym JOIN l${k - 1} ON sym.nbr = l${k - 1}.s
         |        GROUP BY sym.s, l${k - 1}.lbl),
         |l$k AS (SELECT s, lbl FROM (
         |          SELECT *, ROW_NUMBER() OVER (PARTITION BY s
         |                      ORDER BY cnt DESC, lbl) AS rn FROM f$k)
         |        WHERE rn = 1)""".stripMargin
    s"""$P, st2 AS (SELECT trip_id, stop_id, stop_sequence FROM stop_times),
       |und AS (SELECT DISTINCT LEAST(a.stop_id, b.stop_id) AS u,
       |               GREATEST(a.stop_id, b.stop_id) AS v
       |        FROM st2 a JOIN st2 b ON a.trip_id = b.trip_id
       |         AND b.stop_sequence = a.stop_sequence + 1
       |         AND a.stop_id <> b.stop_id),
       |sym AS (SELECT u AS s, v AS nbr FROM und UNION ALL SELECT v, u FROM und),
       |l0 AS (SELECT DISTINCT s, s AS lbl FROM sym),
       |${(1 to rounds).map(roundCte).mkString(",\n")}
       |${(1 to rounds).map(k =>
          s"""SELECT $k AS round, CAST(COUNT(*) AS BIGINT) AS n_communities,
             |       CAST(MAX(n) AS BIGINT) AS largest
             |FROM (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n FROM l$k GROUP BY 1)"""
            .stripMargin).mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin
  }

  /** Isochrone: identical hop filter, k unrolled min-merge rounds, all
    * BIGINT seconds. */
  def isochrone(origin: Long = 42L, t0: Long = 3600L, rounds: Int = 3,
      horizon: Long = 7200L): String = {
    def roundCte(k: Int): String =
      s"""s$k AS (SELECT stop_id, MIN(best_arr) AS best_arr FROM (
         |  SELECT stop_id, best_arr FROM s${k - 1}
         |  UNION ALL
         |  SELECT h.next_stop, h.next_arr FROM s${k - 1} p
         |  JOIN hops h ON h.stop_id = p.stop_id AND h.dep_secs >= p.best_arr)
         |GROUP BY 1)""".stripMargin
    s"""$P,
       |hops AS (SELECT a.stop_id, a.dep_secs, b.stop_id AS next_stop,
       |                b.arr_secs AS next_arr
       |         FROM stop_times a JOIN stop_times b
       |           ON a.trip_id = b.trip_id
       |          AND b.stop_sequence = a.stop_sequence + 1
       |          AND b.arr_secs >= a.dep_secs AND b.stop_id <> a.stop_id),
       |s0 AS (SELECT DISTINCT stop_id, CAST($t0 AS BIGINT) AS best_arr
       |       FROM stop_times WHERE stop_id = $origin),
       |${(1 to rounds).map(roundCte).mkString(",\n")}
       |SELECT stop_id, best_arr, best_arr - $t0 AS travel_secs
       |FROM s$rounds WHERE best_arr <= ${t0 + horizon} ORDER BY stop_id"""
      .stripMargin
  }

  /** Stop trigrams: exact counts, same (count, keys) tie-break. */
  def stopTrigrams(k: Int = 20): String =
    s"""$P
       |SELECT a.stop_id AS s1, b.stop_id AS s2, c.stop_id AS s3,
       |       CAST(COUNT(*) AS BIGINT) AS n_trips
       |FROM stop_times a
       |JOIN stop_times b ON a.trip_id = b.trip_id
       | AND b.stop_sequence = a.stop_sequence + 1
       |JOIN stop_times c ON a.trip_id = c.trip_id
       | AND c.stop_sequence = a.stop_sequence + 2
       |GROUP BY 1, 2, 3
       |ORDER BY n_trips DESC, s1, s2, s3
       |LIMIT $k""".stripMargin

  /** PMI over distinct-trip co-occurrence; exact BIGINT counts, one ln
    * on an identically-ordered double expression, round 6. */
  val stopPmi: String =
    s"""$P, st AS (SELECT DISTINCT trip_id, stop_id FROM stop_times),
       |tot AS (SELECT CAST(COUNT(DISTINCT trip_id) AS BIGINT) AS n_trips FROM st),
       |per AS (SELECT stop_id, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY stop_id),
       |p AS (SELECT a.stop_id AS s1, b.stop_id AS s2, CAST(COUNT(*) AS BIGINT) AS n_ab
       |      FROM st a JOIN st b
       |        ON a.trip_id = b.trip_id AND a.stop_id < b.stop_id
       |      GROUP BY 1, 2)
       |SELECT s1, s2, n_ab, p1.n AS n1, p2.n AS n2,
       |       round(ln(CAST(n_ab AS DOUBLE) * n_trips / (CAST(p1.n AS DOUBLE) * p2.n)), 6) AS pmi
       |FROM p JOIN per p1 ON p.s1 = p1.stop_id
       |       JOIN per p2 ON p.s2 = p2.stop_id
       |CROSS JOIN tot
       |WHERE n_ab >= 5
       |ORDER BY pmi DESC, s1, s2
       |LIMIT 20""".stripMargin

  val stopPairsDirect: String =
    s"""$P
       |SELECT a.stop_id AS from_stop, b.stop_id AS to_stop,
       |       CAST(COUNT(DISTINCT a.trip_id) AS BIGINT) AS n_direct_trips
       |FROM stop_times a JOIN stop_times b
       |  ON a.trip_id = b.trip_id AND a.stop_sequence < b.stop_sequence
       |GROUP BY a.stop_id, b.stop_id
       |ORDER BY n_direct_trips DESC, from_stop, to_stop
       |LIMIT 20""".stripMargin

  /** Depth-k BFS unrolled as CTE chain s0 → r0 → s1 → … → s_k; the label
    * is MIN(depth of first appearance) — mirrors the engine's fixpoint
    * (Queries.reachability) for any k. */
  def reachability(origin: Long, maxRides: Int = 2): String = {
    val hops = (1 to maxRides).map { d =>
      s"""r${d - 1} AS (SELECT DISTINCT route_id FROM sr JOIN s${d - 1} USING (stop_id)),
         |s$d AS (SELECT DISTINCT stop_id FROM sr JOIN r${d - 1} USING (route_id))""".stripMargin
    }.mkString(",\n")
    val levels = (0 to maxRides)
      .map(d => s"SELECT stop_id, $d AS d FROM s$d").mkString(" UNION ALL ")
    s"""$P
       |, sr AS (
       |  SELECT DISTINCT st.stop_id, t.route_id
       |  FROM stop_times st JOIN trips t ON t.trip_id = st.trip_id),
       |s0 AS (SELECT DISTINCT stop_id FROM sr WHERE stop_id = $origin),
       |$hops,
       |levels AS ($levels)
       |SELECT stop_id, CAST(MIN(d) AS INT) AS min_rides
       |FROM levels GROUP BY stop_id
       |ORDER BY stop_id""".stripMargin
  }

  def arrivalsGrouped(stopId: Long): String =
    s"""$P
       |SELECT r.route_short_name, t.trip_headsign,
       |       COUNT(*) AS n_arrivals,
       |       STRING_AGG(${displayTime("st.dep_secs")}, ','
       |                  ORDER BY ${displayTime("st.dep_secs")}) AS departure_times
       |FROM stop_times st
       |JOIN trips t ON t.trip_id = st.trip_id
       |JOIN routes r ON r.route_id = t.route_id
       |WHERE st.stop_id = $stopId
       |  AND t.service_id IN ('1','2','3')
       |  AND t.trip_headsign IS NOT NULL AND t.trip_headsign <> 'NOT IN SERVICE'
       |GROUP BY r.route_short_name, t.trip_headsign
       |ORDER BY route_short_name NULLS FIRST, trip_headsign""".stripMargin

  /** Independent reconstruction of the ordered stop sequence per trip
    * (string_agg ORDER BY vs Spark's array_sort(collect_list)) — the
    * fingerprint hash-match certifies the two orderings agree exactly. */
  val tripPatterns: String =
    s"""$P, seqs AS (
       |  SELECT trip_id,
       |         md5(string_agg(CAST(stop_id AS VARCHAR), '>'
       |               ORDER BY stop_sequence, stop_id)) AS pattern_fp,
       |         CAST(count(*) AS BIGINT) AS n_stops,
       |         list(CAST(stop_id AS VARCHAR)
       |              ORDER BY stop_sequence, stop_id)[1] AS first_stop,
       |         list(CAST(stop_id AS VARCHAR)
       |              ORDER BY stop_sequence, stop_id)[-1] AS last_stop
       |  FROM stop_times GROUP BY trip_id),
       |pat AS (
       |  SELECT t.route_id, s.pattern_fp, s.n_stops, s.first_stop,
       |         s.last_stop, CAST(count(*) AS BIGINT) AS n_trips
       |  FROM seqs s JOIN trips t ON t.trip_id = s.trip_id
       |  GROUP BY t.route_id, s.pattern_fp, s.n_stops, s.first_stop,
       |           s.last_stop)
       |SELECT route_id,
       |       row_number() OVER (PARTITION BY route_id
       |         ORDER BY n_trips DESC, pattern_fp) AS pattern_rank,
       |       pattern_fp, n_trips, n_stops, first_stop, last_stop
       |FROM pat
       |ORDER BY route_id, pattern_rank""".stripMargin
}
