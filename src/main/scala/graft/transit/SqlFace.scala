package graft.transit

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.classic.GraftPlanShim

/** The reference's raw-SQL entry point, reproduced as Spark SQL text.
  *
  * The reference is a *SQL platform*: its users submit the literal query
  * text in `SQL/Q1_busiest_stop.sql` / `SQL/Q4 service frequency.sql`
  * against MySQL. Every other transit face in this engine re-expresses
  * those semantics through the DataFrame API; this face proves the other
  * half of the API surface — the reference-shaped SQL strings, parsed by
  * the session's SQL parser and planned by the same Catalyst. SQL text and
  * DataFrame code become one plan tree in one optimizer, so all the
  * physical wins (broadcast dim joins, partial+final aggregation,
  * `TakeOrderedAndProject` top-k) apply to the SQL text unchanged — there
  * is no separate "SQL engine" to keep fast.
  *
  * How names bind: [[sql]] parses the text once and replaces each table
  * name it reads with the given frame's analyzed plan, inside that one
  * parsed query (main tree, CTE bodies, subquery expressions). Nothing is
  * registered in the session or the catalog, so two data dirs bound in
  * one session cannot see each other, and the result runs in the frames'
  * own session (its listeners included). A name the text reads that is
  * neither bound nor a CTE in scope throws, and so does a CTE that shadows
  * a bound name: no table name ever falls through to the catalog.
  *
  * Scale: identical to [[Queries.q1BusiestStops]] / q4ServiceFrequency —
  * the text compiles to the same exchanges; nothing here adds a shuffle.
  */
object SqlFace {

  /** Runs `text` with its table names bound to `tables` (matched
    * case-insensitively, as SQL identifiers are), in the frames' session.
    * The one binder every SQL-text face goes through. */
  def sql(tables: Map[String, DataFrame], text: String): DataFrame = {
    val spark = tables.values.head.sparkSession
    val bound = tables.map { case (n, df) => n.toLowerCase -> df.queryExecution.analyzed }
    def bind(plan: LogicalPlan, ctes: Set[String]): LogicalPlan = plan match {
      case w: UnresolvedWith =>
        val names = w.cteRelations.map(_._1.toLowerCase)
        names.find(bound.contains).foreach(n => throw new IllegalArgumentException(
          s"SqlFace: CTE `$n` shadows a bound table"))
        val relations = w.cteRelations.zipWithIndex.map { case ((n, q, depth), i) =>
          // a CTE sees the ones before it, and itself only when recursive
          val scope = ctes ++ names.take(i) ++ (if (w.allowRecursion) names else Nil)
          (n, q.copy(child = bind(q.child, scope)), depth)
        }
        w.copy(child = bind(w.child, ctes ++ names), cteRelations = relations)
      case r: UnresolvedRelation => r.multipartIdentifier match {
        case Seq(n) if bound.contains(n.toLowerCase) => SubqueryAlias(n, bound(n.toLowerCase))
        case Seq(n) if ctes(n.toLowerCase) => r
        case id => throw new IllegalArgumentException(
          s"SqlFace: table `${id.mkString(".")}` is not bound (bound: " +
            s"${tables.keys.toSeq.sorted.mkString(", ")})")
      }
      case p => p.mapChildren(bind(_, ctes)).transformExpressions {
        case s: SubqueryExpression => s.withNewPlan(bind(s.plan, ctes))
      }
    }
    GraftPlanShim.ofRows(spark, bind(spark.sessionState.sqlParser.parsePlan(text), Set.empty))
  }

  /** Runs one of the transit texts over the bundle's four GTFS tables. */
  private def run(t: TransitTables, text: String): DataFrame =
    sql(Map("stop_times" -> t.stopTimes, "trips" -> t.trips, "stops" -> t.stops,
      "routes" -> t.routes), text)

  /** Q1 busiest stops (reference `SQL/Q1_busiest_stop.sql`), weekday
    * service, as executable Spark SQL text. */
  val q1WeekdaySql: String =
    """WITH counts AS (
      |  SELECT st.stop_id,
      |         COUNT(*) AS total_trip_events,
      |         COUNT(DISTINCT t.route_id) AS num_unique_routes
      |  FROM stop_times st JOIN trips t ON t.trip_id = st.trip_id
      |  WHERE t.service_id = '1'
      |  GROUP BY st.stop_id)
      |SELECT c.stop_id, s.stop_code, s.stop_name,
      |       ROUND(s.stop_lat, 6) AS stop_lat,
      |       ROUND(s.stop_lon, 6) AS stop_lon,
      |       c.total_trip_events, c.num_unique_routes
      |FROM counts c JOIN stops s ON s.stop_id = c.stop_id
      |ORDER BY total_trip_events DESC, c.stop_id
      |LIMIT 20""".stripMargin

  /** Q4 service frequency (reference `SQL/Q4 service frequency.sql` +
    * `SQL/Q4 Create View.sql`), weekday service: per-hour distinct-trip
    * counts (hour = floor(dep_secs/3600), >24h GTFS hours kept), rolled up
    * per route with an hour-ordered `hour:count` profile string. */
  val q4WeekdaySql: String =
    """WITH hf AS (
      |  SELECT t.route_id, t.service_id,
      |         CAST(FLOOR(st.dep_secs / 3600.0) AS BIGINT) AS hour_of_day,
      |         COUNT(DISTINCT st.trip_id) AS trips_per_hour
      |  FROM stop_times st JOIN trips t ON t.trip_id = st.trip_id
      |  GROUP BY t.route_id, t.service_id, CAST(FLOOR(st.dep_secs / 3600.0) AS BIGINT)),
      |per_hour AS (SELECT route_id, hour_of_day, trips_per_hour FROM hf WHERE service_id = '1'),
      |agg AS (
      |  SELECT route_id,
      |         SUM(trips_per_hour) AS total_daily_trips,
      |         listagg(CAST(hour_of_day AS STRING) || ':' || CAST(trips_per_hour AS STRING), ' | ')
      |           WITHIN GROUP (ORDER BY hour_of_day) AS hourly_profile
      |  FROM per_hour GROUP BY route_id)
      |SELECT a.route_id, r.route_long_name, r.route_short_name,
      |       a.total_daily_trips, a.hourly_profile
      |FROM agg a JOIN routes r ON r.route_id = a.route_id
      |ORDER BY total_daily_trips DESC, a.route_id
      |LIMIT 20""".stripMargin

  /** Q2 route duration/speed stats (reference `SQL/Q2 average
    * duration.sql`), weekday service — the trip_stats CTE with its
    * HAVING data-quality gate, population stddev, exact-long-sum
    * averages, and 4-dp rounded doubles, as Spark SQL text. */
  val q2WeekdaySql: String =
    """WITH trip_stats AS (
      |  SELECT st.trip_id, t.route_id, t.service_id,
      |         MAX(st.arr_secs) - MIN(st.dep_secs) AS trip_duration_seconds,
      |         MAX(st.shape_dist) - MIN(st.shape_dist) AS trip_distance,
      |         CAST(ROUND(MAX(st.shape_dist) * 100.0, 0)
      |              - ROUND(MIN(st.shape_dist) * 100.0, 0) AS BIGINT) AS dist_cents
      |  FROM stop_times st JOIN trips t ON t.trip_id = st.trip_id
      |  WHERE t.service_id = '1'
      |  GROUP BY st.trip_id, t.route_id, t.service_id
      |  HAVING MAX(st.arr_secs) - MIN(st.dep_secs) > 60),
      |stats AS (
      |  SELECT route_id,
      |         COUNT(*) AS num_trips,
      |         CAST(SUM(dist_cents) AS DOUBLE) / COUNT(dist_cents) / 100.0 AS avg_trip_distance_km,
      |         CAST(SUM(trip_duration_seconds) AS DOUBLE) / COUNT(*) / 60.0 AS avg_duration_min,
      |         STDDEV_POP(CAST(trip_duration_seconds AS DOUBLE)) / 60.0 AS duration_stddev_min,
      |         AVG(trip_distance / NULLIF(CAST(trip_duration_seconds AS DOUBLE), 0.0) * 3600.0) AS avg_speed_kmh
      |  FROM trip_stats GROUP BY route_id)
      |SELECT s.route_id, r.route_long_name, r.route_short_name, s.num_trips,
      |       ROUND(s.avg_trip_distance_km, 4) AS avg_trip_distance_km,
      |       ROUND(s.avg_duration_min, 4) AS avg_duration_min,
      |       ROUND(s.duration_stddev_min, 4) AS duration_stddev_min,
      |       ROUND(s.avg_speed_kmh, 4) AS avg_speed_kmh
      |FROM stats s JOIN routes r ON r.route_id = s.route_id
      |ORDER BY avg_duration_min DESC, s.route_id
      |LIMIT 20""".stripMargin

  /** Q3 transfer points (reference `SQL/Q3 transfer points.sql`),
    * weekday service: distinct stop-route incidence, HAVING ≥ 2. */
  val q3WeekdaySql: String =
    """WITH usr AS (
      |  SELECT DISTINCT st.stop_id, t.route_id
      |  FROM stop_times st JOIN trips t ON t.trip_id = st.trip_id
      |  WHERE t.service_id = '1'),
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

  def q1Weekday(t: TransitTables): DataFrame = run(t, q1WeekdaySql)

  def q2Weekday(t: TransitTables): DataFrame = run(t, q2WeekdaySql)

  def q3Weekday(t: TransitTables): DataFrame = run(t, q3WeekdaySql)

  def q4Weekday(t: TransitTables): DataFrame = run(t, q4WeekdaySql)
}
