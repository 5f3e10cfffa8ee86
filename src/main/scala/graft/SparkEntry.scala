package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.transit._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 (and the training-pipeline
  * extensions) surfaces here as a named query over the driver's parquet
  * tables, paired with equivalent DuckDB SQL in [[oracleSql]] where the
  * semantics are ANSI-SQL-expressible.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q1BusiestStops(
      TransitTables.fromTpch(spark, "/root/testdata/sf0.001"),
      ServiceFilter.Weekday)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = transitQueries ++
    graft.relational.RelationalQueries.all ++
    graft.text.TextAnalysis.queries ++
    graft.dedup.Dedup.queries ++
    graft.similarity.Similarity.queries ++
    graft.multimodal.Multimodal.queries ++
    graft.streaming.Streams.queries

  private def transitQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2 Q1–Q4 transit parity (GTFS views derived from the TPC-H tables;
    // whole-week trichotomy per SURVEY §1.5)
    "transit_q1_weekday" -> ((s, dir) =>
      Queries.q1BusiestStops(TransitTables.fromTpch(s, dir), ServiceFilter.Weekday)),
    "transit_q1_week" -> ((s, dir) =>
      Queries.q1BusiestStops(TransitTables.fromTpch(s, dir), ServiceFilter.WholeWeek)),
    "transit_q2_weekday" -> ((s, dir) =>
      Queries.q2RouteStats(TransitTables.fromTpch(s, dir), ServiceFilter.Weekday)),
    "transit_q2_week" -> ((s, dir) =>
      Queries.q2RouteStats(TransitTables.fromTpch(s, dir), ServiceFilter.WholeWeek)),
    "transit_q3_weekday" -> ((s, dir) =>
      Queries.q3TransferPoints(TransitTables.fromTpch(s, dir), ServiceFilter.Weekday)),
    "transit_q3_week" -> ((s, dir) =>
      Queries.q3TransferPoints(TransitTables.fromTpch(s, dir), ServiceFilter.WholeWeek)),
    "transit_q4_weekday" -> ((s, dir) =>
      Queries.q4ServiceFrequency(TransitTables.fromTpch(s, dir), ServiceFilter.Weekday)),
    "transit_q4_week" -> ((s, dir) =>
      Queries.q4ServiceFrequency(TransitTables.fromTpch(s, dir), ServiceFilter.WholeWeek)),
    // §2 timetable store (A12/S6-S8) — nested build proven via its flat face
    "transit_timetable_flat" -> ((s, dir) =>
      Timetable.flattenedFromTables(TransitTables.fromTpch(s, dir))),
    "transit_stops_list" -> ((s, dir) =>
      Timetable.getStops(Timetable.buildStopTimetables(TransitTables.fromTpch(s, dir)))),
    "transit_routes_for_stop" -> ((s, dir) =>
      Timetable.getRoutesForStop(
        Timetable.buildStopTimetables(TransitTables.fromTpch(s, dir)), 42L)),
    "transit_arrivals_grouped" -> ((s, dir) =>
      Timetable.getArrivalsGrouped(
        Timetable.buildStopTimetables(TransitTables.fromTpch(s, dir)), 42L)),
    "transit_stop_search" -> ((s, dir) =>
      Timetable.stopSearch(TransitTables.fromTpch(s, dir), "stop_1")),
    "transit_stops_near" -> ((s, dir) =>
      Timetable.stopsNear(TransitTables.fromTpch(s, dir).stops, 43.6, -79.4, 10)),
    "transit_next_departure" -> ((s, dir) =>
      Timetable.nextDeparture(
        Timetable.buildStopTimetables(TransitTables.fromTpch(s, dir)), 42L, 50000L)),
    "transit_q2_overall" -> ((s, dir) =>
      Queries.q2Overall(
        Queries.q2RouteStats(TransitTables.fromTpch(s, dir), ServiceFilter.Weekday))),
    "transit_arrivals_flat" -> ((s, dir) =>
      Timetable.getArrivalsFlat(
        Timetable.buildStopTimetables(TransitTables.fromTpch(s, dir)),
        42L, "26", "3-MEDIUM")),
    "transit_timetable_grouped" -> ((s, dir) =>
      Timetable.getTimetable(
        Timetable.buildStopTimetables(TransitTables.fromTpch(s, dir)), 42L)),
    // X29: the nested document through the JSON sink/source hop, grouped
    // serving query over the readback (oracle has no JSON in its path)
    "transit_timetable_json_roundtrip" -> ((s, dir) =>
      Timetable.timetableJsonRoundtrip(s, dir, 42L)),
    "transit_q2_path" -> ((s, dir) =>
      Queries.q2TripPath(TransitTables.fromTpch(s, dir), "ROUTE_26")),
    "transit_q4_nested" -> ((s, dir) =>
      Queries.q4Nested(TransitTables.fromTpch(s, dir))),
    // A11's true nested shape — the raw map column is dropped for the
    // oracle compare (DuckDB equality over nested MAPs is representation-
    // sensitive); its canonical JSON serialization is hash-checked instead
    "transit_q4_nested_map" -> ((s, dir) =>
      Queries.q4NestedMap(TransitTables.fromTpch(s, dir)).drop("by_service")),
    "transit_q2_detail" -> ((s, dir) =>
      Queries.q2ServiceDetail(TransitTables.fromTpch(s, dir))),
    // §2.1 S1: the GTFS CSV source exercised end-to-end — land the bundle
    // as a real feed (string ids, >24h HH:MM:SS times), read it back
    // through GtfsReader's explicit-schema scan, run Q4 on the result
    "transit_gtfs_q4" -> ((s, dir) =>
      Queries.q4ServiceFrequency(
        graft.sources.GtfsWriter.roundtrip(s, dir), ServiceFilter.Weekday)),
    // the reference's other API half: the literal SQL text, its table
    // names bound to this bundle's frames inside the parsed query — same
    // Catalyst plan family as the DataFrame faces, so the same oracle
    // binds, and it runs in the caller's session like every other face
    "transit_q1_sqltext" -> ((s, dir) => SqlFace.q1Weekday(TransitTables.fromTpch(s, dir))),
    "transit_q2_sqltext" -> ((s, dir) => SqlFace.q2Weekday(TransitTables.fromTpch(s, dir))),
    "transit_q3_sqltext" -> ((s, dir) => SqlFace.q3Weekday(TransitTables.fromTpch(s, dir))),
    "transit_q4_sqltext" -> ((s, dir) => SqlFace.q4Weekday(TransitTables.fromTpch(s, dir))),
    "transit_headways" -> ((s, dir) =>
      Queries.headways(TransitTables.fromTpch(s, dir))),
    // bus-bunching / service-regularity KPI over the headway gap frame
    "transit_bunching" -> ((s, dir) =>
      Queries.bunching(TransitTables.fromTpch(s, dir))),
    // journey-pattern mining: trips grouped by exact ordered stop sequence
    "transit_trip_patterns" -> ((s, dir) =>
      Queries.tripPatterns(TransitTables.fromTpch(s, dir))),
    "transit_reachability" -> ((s, dir) =>
      Queries.reachability(TransitTables.fromTpch(s, dir), 42L)),
    // the same fixpoint at a deeper horizon — proves the loop generalizes
    // past the old hardcoded two-hop unrolling
    "transit_reachability_k3" -> ((s, dir) =>
      Queries.reachability(TransitTables.fromTpch(s, dir), 42L, maxRides = 3)),
    "transit_stop_pairs" -> ((s, dir) =>
      Queries.stopPairsDirect(TransitTables.fromTpch(s, dir))),
    // word2vec-style association over the trip-as-sentence corpus
    "transit_stop_pmi" -> ((s, dir) =>
      Queries.stopPmi(TransitTables.fromTpch(s, dir))),
    // one integer-exact PageRank power-iteration over the stop graph
    "transit_pagerank" -> ((s, dir) =>
      Queries.pagerankRound(TransitTables.fromTpch(s, dir))),
    // the same rank loop run to a k=3 horizon under the localCheckpoint
    // fixpoint harness — per-round BIGINT exactness means the oracle can
    // unroll the identical three rounds as chained CTEs
    "transit_pagerank_k3" -> ((s, dir) =>
      Queries.pagerank(TransitTables.fromTpch(s, dir), 3)),
    // onion-layer (k-core peeling) census at a data-driven k; fixed
    // horizon, idempotent past the fixpoint (spec proves convergence)
    "transit_core_layers" -> ((s, dir) =>
      Queries.coreLayers(TransitTables.fromTpch(s, dir))),
    // per-corridor travel-time profile over consecutive hops
    "transit_od_corridors" -> ((s, dir) =>
      Queries.odCorridors(TransitTables.fromTpch(s, dir))),
    // degree assortativity (Newman r) of the stop graph — exact integer
    // moments plus one identically-written float division
    "transit_assortativity" -> ((s, dir) =>
      Queries.assortativity(TransitTables.fromTpch(s, dir))),
    // per-node local clustering coefficient over the same stop graph
    "transit_clustering_coef" -> ((s, dir) =>
      Queries.clusteringCoef(TransitTables.fromTpch(s, dir))),
    // deterministic hash-draw random walks: graph → embedding-training corpus
    "transit_walk_corpus" -> ((s, dir) =>
      Queries.walkCorpus(TransitTables.fromTpch(s, dir))),
    // synchronous label-propagation community census (3 unrolled rounds)
    "transit_lp_communities" -> ((s, dir) =>
      Queries.lpCommunities(TransitTables.fromTpch(s, dir))),
    // timetable-aware isochrone: min arrival within 3 boardings of origin
    "transit_isochrone" -> ((s, dir) =>
      Queries.isochrone(TransitTables.fromTpch(s, dir))),
    // top-20 most-traveled 3-stop corridors (sequence pattern mining)
    "transit_stop_trigrams" -> ((s, dir) =>
      Queries.stopTrigrams(TransitTables.fromTpch(s, dir))),
    "transit_service_span" -> ((s, dir) =>
      Queries.serviceSpan(TransitTables.fromTpch(s, dir))),
    // §2-adjacent feed QA: the validation pass a GTFS ingest runs first
    "transit_gtfs_validation" -> ((s, dir) =>
      Queries.gtfsValidation(TransitTables.fromTpch(s, dir))),
    // the same six checks over the WRITTEN-AND-RE-READ feed: certifies the
    // full 5-table S1 write/read surface (transit_gtfs_q4 only exercises
    // Q4's slice). Lossless roundtrip → identical violation counts, so the
    // direct-path oracle binds.
    "transit_gtfs_validation_roundtrip" -> ((s, dir) =>
      Queries.gtfsValidation(graft.sources.GtfsWriter.roundtrip(s, dir))),
    // S1 hardening: PERMISSIVE + _corrupt_record census over a
    // deterministically-mangled feed — bad rows counted, good rows exact
    "transit_gtfs_corrupt" -> ((s, dir) =>
      graft.sources.GtfsWriter.corruptCensus(s, dir)),
    // S2's optional live-database path: land the bundle in embedded Derby
    // over plain JDBC, read it back with a partitioned fact scan, run Q1 —
    // the MySQL-migration story exercised end to end (X202)
    "transit_jdbc_q1" -> ((s, dir) =>
      Queries.q1BusiestStops(
        graft.sources.JdbcStore.landAndRead(s, dir), ServiceFilter.Weekday)),
    // S6's optional document-store wire format: the per-stop documents
    // written as mongoimport-ready JSONL, read back, flattened (X203)
    "transit_mongo_export" -> ((s, dir) =>
      graft.sources.MongoExport.roundtripFlat(s, dir)),
    "transit_triangles" -> ((s, dir) =>
      Queries.triangleCount(TransitTables.fromTpch(s, dir))),
    // grid-cell-blocked spatial nearest-neighbor join; the oracle is the
    // brute-force all-pairs definition, so the hash-match certifies the
    // blocking loses nothing
    "transit_stop_nn" -> ((s, dir) =>
      Queries.stopNearestNeighbor(TransitTables.fromTpch(s, dir))),
    // integer-exact betweenness family: shortest-path through-counts over
    // a 3-hop horizon from a deterministic 1-in-12 source sample
    "transit_stress" -> ((s, dir) =>
      Queries.stressCentrality(TransitTables.fromTpch(s, dir))),
    // GTFS calendar.txt expansion: weekly service patterns → concrete
    // service dates over a 14-day spine
    "transit_service_dates" -> ((s, dir) =>
      Queries.serviceDates(TransitTables.fromTpch(s, dir))),
    // forward as-of join (next departure per arrival) through the native
    // merge-scan operator, time keys negated
    "transit_transfer_waits" -> ((s, dir) =>
      Queries.transferWaits(TransitTables.fromTpch(s, dir))),
    // integer-exact Jaccard link prediction over the backbone graph
    "transit_link_prediction" -> ((s, dir) =>
      Queries.linkPrediction(TransitTables.fromTpch(s, dir))),
    // route-pair service-redundancy census (the route-level dual of Q3)
    "transit_route_overlap" -> ((s, dir) =>
      Queries.routeOverlap(TransitTables.fromTpch(s, dir))),
    // feed-version diff: one full-outer join classifying every slot
    "transit_feed_diff" -> ((s, dir) =>
      Queries.feedDiff(TransitTables.fromTpch(s, dir))),
    // X191 ∘ X72: apply the v2 diff as a MERGE to the landed v1 snapshot;
    // oracle = a fresh v2 load, so the hash-match proves merge ≡ reload
    "transit_feed_upsert" -> ((s, dir) => Queries.feedUpsert(s, dir)),
    "transit_snapshot_ivm" -> ((s, dir) => Queries.snapshotIvm(s, dir)),
    // market-basket association rules over trips-as-baskets
    "transit_stop_rules" -> ((s, dir) =>
      Queries.stopRules(TransitTables.fromTpch(s, dir))),
    // per-stop 1/2/3-hop neighborhood sizes over the backbone
    "transit_khop_census" -> ((s, dir) =>
      Queries.kHopCensus(TransitTables.fromTpch(s, dir))),
    // §4 R4: the serving layer's snapshot fast path, end to end — build
    // the partitioned Q1 result snapshot, then serve the weekday request
    // FROM the snapshot (partition-pruned read-back, not the live plan).
    // Lossless round trip, so the oracle is the direct-path weekday SQL.
    "transit_q1_snapshot" -> snapshotServed(QueryService.Q1, _.q1(ServiceFilter.Weekday)),
    // R4 parity for the other three dispatch paths (`SQL/app.py:85-125`
    // serves ALL FOUR queries from the CSV cache): same build-then-serve
    // round trip, partition-pruned to the weekday tag. Q3's build writes
    // Q1's table, which q3 is served from.
    "transit_q2_snapshot" -> snapshotServed(QueryService.Q2, _.q2(ServiceFilter.Weekday)),
    "transit_q3_snapshot" -> snapshotServed(QueryService.Q3, _.q3(ServiceFilter.Weekday)),
    "transit_q4_snapshot" -> snapshotServed(QueryService.Q4, _.q4(ServiceFilter.Weekday)),
  )

  /** Build the partitioned snapshot table ONE query is served from under
    * a per-sf tmp dir, then serve the weekday request from it
    * (QueryService dispatches snapshot-first when the table exists).
    * Lossless round trip → live-path oracle. */
  private def snapshotServed(name: String, serve: QueryService => DataFrame)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    val t = TransitTables.fromTpch(s, dir)
    val snapDir = Scratch.dir("snapshots", dir)
    QueryService.buildSnapshot(t, snapDir, name)
    serve(new QueryService(t, Some(snapDir)))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "transit_q1_weekday" -> TransitOracles.q1Weekday,
    "transit_q1_week" -> TransitOracles.q1WholeWeek,
    "transit_q2_weekday" -> TransitOracles.q2Weekday,
    "transit_q2_week" -> TransitOracles.q2WholeWeek,
    "transit_q3_weekday" -> TransitOracles.q3Weekday,
    "transit_q3_week" -> TransitOracles.q3WholeWeek,
    "transit_q4_weekday" -> TransitOracles.q4Weekday,
    "transit_q4_week" -> TransitOracles.q4WholeWeek,
    "transit_timetable_flat" -> TransitOracles.timetableFlat,
    "transit_stops_list" -> TransitOracles.stopsList,
    "transit_routes_for_stop" -> TransitOracles.routesForStop(42L),
    "transit_arrivals_grouped" -> TransitOracles.arrivalsGrouped(42L),
    "transit_stop_search" -> TransitOracles.stopSearch("stop_1"),
    "transit_stops_near" -> TransitOracles.stopsNear(43.6, -79.4, 10),
    "transit_next_departure" -> TransitOracles.nextDeparture(42L, 50000L),
    "transit_q2_overall" -> TransitOracles.q2Overall(TransitOracles.q2Weekday),
    "transit_arrivals_flat" -> TransitOracles.arrivalsFlat(42L, "26", "3-MEDIUM"),
    "transit_timetable_grouped" -> TransitOracles.timetableGrouped(42L),
    "transit_timetable_json_roundtrip" -> TransitOracles.timetableGrouped(42L),
    "transit_q2_path" -> TransitOracles.q2TripPath("ROUTE_26"),
    "transit_q4_nested" -> TransitOracles.q4Nested,
    "transit_q4_nested_map" -> TransitOracles.q4NestedMapJson,
    "transit_q2_detail" -> TransitOracles.q2Detail,
    // the round trip is lossless for everything Q4 touches, so the oracle
    // is exactly the direct-path Q4 weekday SQL
    "transit_gtfs_q4" -> TransitOracles.q4Weekday,
    "transit_q1_sqltext" -> TransitOracles.q1Weekday,
    "transit_q2_sqltext" -> TransitOracles.q2Weekday,
    "transit_q3_sqltext" -> TransitOracles.q3Weekday,
    "transit_q4_sqltext" -> TransitOracles.q4Weekday,
    "transit_headways" -> TransitOracles.headways,
    "transit_bunching" -> TransitOracles.bunching,
    "transit_trip_patterns" -> TransitOracles.tripPatterns,
    "transit_reachability" -> TransitOracles.reachability(42L),
    "transit_reachability_k3" -> TransitOracles.reachability(42L, maxRides = 3),
    "transit_stop_pairs" -> TransitOracles.stopPairsDirect,
    "transit_stop_pmi" -> TransitOracles.stopPmi,
    "transit_pagerank" -> TransitOracles.pagerankRound,
    "transit_pagerank_k3" -> TransitOracles.pagerank(3),
    "transit_core_layers" -> TransitOracles.coreLayers(),
    "transit_od_corridors" -> TransitOracles.odCorridors,
    "transit_assortativity" -> TransitOracles.assortativity,
    "transit_clustering_coef" -> TransitOracles.clusteringCoef,
    "transit_walk_corpus" -> TransitOracles.walkCorpus(),
    "transit_lp_communities" -> TransitOracles.lpCommunities(),
    "transit_isochrone" -> TransitOracles.isochrone(),
    "transit_stop_trigrams" -> TransitOracles.stopTrigrams(),
    "transit_service_span" -> TransitOracles.serviceSpan,
    "transit_gtfs_validation" -> TransitOracles.gtfsValidation,
    "transit_gtfs_validation_roundtrip" -> TransitOracles.gtfsValidation,
    "transit_gtfs_corrupt" -> TransitOracles.gtfsCorrupt,
    "transit_jdbc_q1" -> TransitOracles.q1JdbcSlice,
    "transit_mongo_export" -> TransitOracles.mongoExport,
    "transit_triangles" -> TransitOracles.triangleCount,
    "transit_stop_nn" -> TransitOracles.stopNearestNeighbor(),
    "transit_stress" -> TransitOracles.stressCentrality,
    "transit_service_dates" -> TransitOracles.serviceDates(),
    "transit_transfer_waits" -> TransitOracles.transferWaits,
    "transit_link_prediction" -> TransitOracles.linkPrediction,
    "transit_route_overlap" -> TransitOracles.routeOverlap,
    "transit_feed_diff" -> TransitOracles.feedDiff,
    "transit_feed_upsert" -> TransitOracles.feedUpsert,
    "transit_snapshot_ivm" -> TransitOracles.snapshotIvm,
    "transit_stop_rules" -> TransitOracles.stopRules(),
    "transit_khop_census" -> TransitOracles.kHopCensus,
    // snapshot round trips are value-preserving (parquet doubles bit-exact)
    "transit_q1_snapshot" -> TransitOracles.q1Weekday,
    "transit_q2_snapshot" -> TransitOracles.q2Weekday,
    "transit_q3_snapshot" -> TransitOracles.q3Weekday,
    "transit_q4_snapshot" -> TransitOracles.q4Weekday,
  ) ++ graft.relational.RelationalOracles.all ++
    graft.text.TextOracles.all ++
    graft.dedup.DedupOracles.all ++
    graft.similarity.SimilarityOracles.all ++
    graft.multimodal.MultimodalOracles.all ++
    graft.streaming.StreamOracles.all
}
