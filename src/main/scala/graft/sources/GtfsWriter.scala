package graft.sources

import org.apache.spark.sql.functions._
import graft.functions.GtfsTime
import graft.transit.TransitTables

/** GTFS feed sink + round-trip: materialize a [[TransitTables]] bundle as a
  * real GTFS feed directory (headered CSV `.txt`, string ids, canonical
  * `HH:MM:SS` times that may exceed 24h) and read it back with
  * [[GtfsReader]].
  *
  * This is the engine's S1 source surface (reference `README.md:104-105` —
  * the reference loads these files via MySQL's import wizard) exercised as a
  * first-class registered query path, not just a spec fixture: the write is
  * a distributed `df.write.csv` (one directory per table, partition-parallel
  * part files — NOT a driver-side single-file collect), and the read-back
  * goes through the explicit-schema scan + `GtfsTime.gtfsSeconds` parse.
  *
  * Scale note: at 100 TB the CSV feed is the *ingest* format only — first
  * job reads `.txt` once and lands Parquet; every query after that scans
  * Parquet. The round-trip query deliberately measures the ingest leg.
  */
object GtfsWriter {

  /** Write the bundle as a GTFS feed under `dir` (overwrites). Ids and
    * times become their GTFS string encodings. Every column of
    * [[GtfsReader.schemas]] is written, in schema order, with nulls for
    * fields the bundle does not carry — explicit-schema CSV scans resolve
    * columns by position, so the files must match the schema exactly. */
  def writeFeed(t: TransitTables, dir: String): Unit = {
    def out(name: String) = s"$dir/$name.txt"
    def csv(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.write.mode("overwrite").option("header", "true").csv(out(name))
    // Only the GENUINELY small dims (stops ≤ ~tens of k, routes ≤ ~hundreds
    // at any feed size) are single-file: without the coalesce each fans into
    // one near-empty file per shuffle partition — 2×32 write tasks and
    // 2×32 read-back tasks of fixed overhead apiece. trips is NOT a small
    // dim — it scales with the feed (~13 M rows at 100× metro scale) and a
    // coalesce(1) there made it the ingest leg's single-task tail — so it
    // stays partition-parallel like stop_times.
    def csvDim(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      csv(df.coalesce(1), name)
    // No write-task widening: the r17 clean A/B at sf0.1 AND sf1 measured
    // a repartition before the sink (shuffle + multi-file re-scan tax)
    // slower than the narrow write on every gtfs face.
    csv(t.stopTimes.select(
      col("trip_id").cast("string").as("trip_id"),
      GtfsTime.gtfsString(col("arr_secs")).as("arrival_time"),
      GtfsTime.gtfsString(col("dep_secs")).as("departure_time"),
      col("stop_id").cast("string").as("stop_id"),
      col("stop_sequence").cast("int").as("stop_sequence"),
      lit(null).cast("string").as("stop_headsign"),
      lit(null).cast("short").as("pickup_type"),
      lit(null).cast("short").as("drop_off_type"),
      col("shape_dist").cast("float").as("shape_dist_traveled")), "stop_times")

    csv(t.trips.select(
      col("trip_id").cast("string").as("trip_id"),
      col("route_id").cast("string").as("route_id"),
      col("service_id").cast("string").as("service_id"),
      col("trip_headsign"),
      col("direction_id").cast("short").as("direction_id"),
      lit(null).cast("short").as("wheelchair_accessible"),
      lit(null).cast("short").as("bikes_allowed"),
      lit(null).cast("string").as("shape_id")), "trips")

    csvDim(t.stops.select(
      col("stop_id").cast("string").as("stop_id"),
      col("stop_code"),
      col("stop_name"),
      lit(null).cast("string").as("stop_desc"),
      col("stop_lat").cast("float").as("stop_lat"),
      col("stop_lon").cast("float").as("stop_lon"),
      lit(null).cast("string").as("zone_id"),
      lit(null).cast("short").as("wheelchair_boarding")), "stops")

    csvDim(t.routes.select(
      col("route_id").cast("string").as("route_id"),
      lit(null).cast("string").as("agency_id"),
      col("route_short_name"),
      col("route_long_name"),
      lit(null).cast("string").as("route_desc"),
      lit(null).cast("short").as("route_type"),
      lit(null).cast("string").as("route_color")), "routes")
  }

  /** Cast a read-back feed's GTFS string ids to the TPC-H-derived long-id
    * schema so downstream queries and their DuckDB oracles compare exactly.
    * Lossless for ids (longs survive the string round trip); lat/lon and
    * shape_dist pass through GTFS's FloatType, so float-precision-sensitive
    * consumers must not ride this path (Q4 touches neither). */
  def toTpchTypes(t: TransitTables): TransitTables = TransitTables(
    stopTimes = t.stopTimes.select(
      col("trip_id").cast("long").as("trip_id"),
      col("stop_id").cast("long").as("stop_id"),
      col("stop_sequence"), col("dep_secs"), col("arr_secs"),
      col("shape_dist")),
    trips = t.trips.select(
      col("trip_id").cast("long").as("trip_id"),
      col("route_id").cast("long").as("route_id"),
      col("service_id"), col("trip_headsign"),
      col("direction_id").cast("int").as("direction_id")),
    stops = t.stops.select(
      col("stop_id").cast("long").as("stop_id"),
      col("stop_name"), col("stop_code"), col("stop_lat"), col("stop_lon")),
    routes = t.routes.select(
      col("route_id").cast("long").as("route_id"),
      col("route_long_name"), col("route_short_name")))

  /** Malformed-feed hardening census (S1 robustness — real GTFS is dirty;
    * the reference leans on MySQL import-wizard tolerance, reference
    * `README.md:104-105`). A deterministically-mangled stop_times feed is
    * written as RAW TEXT (the CSV writer would quote/escape the damage
    * away), with four planted corruption classes keyed on exclusive
    * trip_id moduli:
    *   - %101: unparseable departure_time ("26:99:XX") — schema-valid,
    *     caught by the time parse (`GtfsTime.gtfsSeconds` → NULL);
    *   - %103: non-numeric stop_sequence — PERMISSIVE null + corrupt row;
    *   - %107: truncated row (4 of 9 fields) — token-count mismatch;
    *   - %109: unclosed quote opening a field — parser-level damage;
    *   - %113: NULL arr_secs fed through `GtfsTime.gtfsString` on WRITE —
    *     the guard (ADVICE r13, `GtfsTime.scala`) propagates NULL
    *     whole-string, `concat_ws` then drops the element and the row
    *     lands one field short (token-count mismatch → corrupt). This is
    *     the guard's HARD cross-engine signal (VERDICT r14 ask #3): an
    *     unguarded `format_string` would render the literal "null:..:..",
    *     the row would parse schema-valid as 'good', and the census class
    *     counts would hash-diverge from the oracle.
    * The read-back is the production PERMISSIVE + `_corrupt_record` scan;
    * the census proves bad rows are COUNTED (never silently dropped or
    * crashing the scan) and good rows survive bit-exact (row count,
    * distinct trips, exact BIGINT dep_secs sum — the DuckDB oracle
    * recomputes all three from the clean derivation).
    *
    * Scale: the mangle is a map-only projection, the text write/scan is
    * partition-parallel, and the census is one tiny hash aggregate —
    * nothing here holds state beyond the class counters. */
  def corruptCensus(spark: org.apache.spark.sql.SparkSession, sfDir: String)
      : org.apache.spark.sql.DataFrame =
    censusScan(spark, writeCorruptFeed(spark, sfDir))

  /** The census's write leg alone: land the deterministically-mangled
    * feed, return its path (kept apart so the two legs can be timed
    * apart: an r16 solo A/B put the five-class fixture's whole cost delta
    * in this leg, the PERMISSIVE scan legs being equal). */
  private[graft] def writeCorruptFeed(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): String = {
    import spark.implicits._
    val feed = s"${graft.Scratch.dir("gtfs_corrupt", sfDir)}/stop_times.txt"
    val st = TransitTables.fromTpch(spark, sfDir).stopTimes
    val tid = col("trip_id")
    val c101 = tid % 101 === 0
    val c103 = !c101 && tid % 103 === 0
    val c107 = !c101 && !c103 && tid % 107 === 0
    val c109 = !c101 && !c103 && !c107 && tid % 109 === 0
    val c113 = !c101 && !c103 && !c107 && !c109 && tid % 113 === 0
    def s(c: org.apache.spark.sql.Column) = coalesce(c.cast("string"), lit(""))
    // STAGED assembly (r16 — found by the r15-flag adjudication A/B): the
    // one-projection form nested the %113 CaseWhen (which itself carries
    // all four earlier predicate chains) into every slot of gtfsString
    // that references its argument, and that tree again inside the outer
    // %107 CaseWhen — the fused whole-stage method blew past the JIT's
    // huge-method limit and the entire write projection ran as un-JIT'd
    // bytecode: write leg 7.7s vs 3.3s for the four-class fixture at
    // sf0.1 (codegen OFF measured FASTER, 2.9s — the telltale). Staging
    // the mangled input and the class predicates as attributes first
    // keeps every later expression tree small (attributes are cheap, so
    // CollapseProject leaves multiply-referenced stages alone), and
    // whole-stage fusion of the narrow projections is additive in code
    // size, not multiplicative. Post-fix write leg: 2.5s warm — the
    // fifth class now costs ~nothing, as it always should have.
    val staged = st.select(tid, col("stop_id"), col("stop_sequence"),
      col("dep_secs"), col("shape_dist"),
      // %113: the NULL goes through gtfsString ITSELF (not a post-format
      // null-out) — the class only lands 'corrupt' if the guard inside
      // gtfsString propagates NULL whole-string
      when(c113, lit(null).cast("int")).otherwise(col("arr_secs")).as("arr_in"),
      c101.as("is101"), c103.as("is103"), c107.as("is107"), c109.as("is109"))
    val parts = staged.select(col("is107"),
      s(col("trip_id")).as("tid_s"),
      GtfsTime.gtfsString(col("arr_in")).as("arr_s"),
      when(col("is101"), lit("26:99:XX"))
        .otherwise(GtfsTime.gtfsString(col("dep_secs"))).as("dep_s"),
      s(col("stop_id")).as("stop_s"),
      when(col("is103"), lit("SEQ")).otherwise(s(col("stop_sequence"))).as("seq_s"),
      when(col("is109"), lit("\"unclosed")).otherwise(lit("")).as("head_s"),
      s(col("shape_dist").cast("float")).as("shape_s"))
    val fullLine = concat_ws(",", col("tid_s"), col("arr_s"), col("dep_s"),
      col("stop_s"), col("seq_s"), col("head_s"), lit(""), lit(""),
      col("shape_s"))
    // the short line's arrival is the CLEAN one by construction: %113
    // excludes %107 rows, so arr_in == arr_secs on every row that takes
    // this branch — arr_s serves both lines (one gtfsString, not two)
    val shortLine = concat_ws(",", col("tid_s"), col("arr_s"),
      col("dep_s"), col("stop_s"))
    val header = GtfsReader.schemas("stop_times").fieldNames.mkString(",")
    parts.select(when(col("is107"), shortLine).otherwise(fullLine).as("value"))
      .as[String]
      // raw text sink: every part file gets the header line the reader
      // expects (csv header=true skips line 1 of EACH file)
      .mapPartitions(it => Iterator(header) ++ it)
      .write.mode("overwrite").text(feed)
    feed
  }

  /** The census's read leg alone: PERMISSIVE full-row re-parse of a
    * previously-landed mangled feed + the class-count aggregate. */
  private[graft] def censusScan(spark: org.apache.spark.sql.SparkSession,
      feed: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructType}
    val header = GtfsReader.schemas("stop_times").fieldNames.mkString(",")
    val sch = StructType(GtfsReader.schemas("stop_times").fields)
      .add("_corrupt_record", StringType)
    // text + from_csv, NOT spark.read.csv: the DataFrameReader's CSV
    // column pruning parses ONLY referenced columns, so damage in a
    // field the census doesn't project (stop_sequence, headsign, token
    // count) would go undetected — from_csv always parses the full row,
    // which is exactly what an ingest-boundary QA scan wants
    val raw = spark.read.text(feed)
      .filter(col("value") =!= header)
      .select(from_csv(col("value"), sch,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("r"))
    raw.select(col("r.trip_id").cast("long").as("tid"),
        GtfsTime.gtfsSecondsLenient(col("r.departure_time")).as("dep_secs"),
        col("r._corrupt_record").isNotNull.as("is_corrupt"))
      .select(col("tid"), col("dep_secs"),
        when(col("is_corrupt"), "corrupt")
          .when(col("dep_secs").isNull, "bad_time")
          .otherwise("good").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"),
        // good-only identity columns: corrupt rows' parsed-field salvage is
        // parser-specific, so cross-engine claims bind to clean rows only
        countDistinct(when(col("status") === "good", col("tid"))).as("n_trips"),
        sum(when(col("status") === "good", col("dep_secs"))).as("dep_sum"))
      .orderBy(col("status"))
  }

  /** Full round trip: derive the bundle from the TPC-H parquet, land it as
    * a GTFS feed (in the JVM's scratch dir, [[graft.Scratch]], keyed by
    * SF), read it back through the real source path, and restore the
    * long-id schema. */
  def roundtrip(spark: org.apache.spark.sql.SparkSession, sfDir: String): TransitTables = {
    val feedDir = graft.Scratch.dir("gtfs_feed", sfDir)
    writeFeed(TransitTables.fromTpch(spark, sfDir), feedDir)
    toTpchTypes(GtfsReader.readFeed(spark, feedDir))
  }
}
