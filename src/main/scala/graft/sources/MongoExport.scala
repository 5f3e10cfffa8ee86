package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.transit.{Timetable, TransitTables}

/** S6's optional document-store wire format (reference
  * `Mongo/denormalization.py:83-131` bulk-upserts per-stop documents into
  * the `stop_timetables` collection): materialize the SAME denormalized
  * per-stop documents the engine already builds
  * ([[graft.transit.Timetable.buildStopTimetables]]) as **mongoimport-ready
  * JSON Lines** — `_id` per document, GeoJSON `location` Point, the sorted
  * `upcoming_services` array — and prove the wire format whole by reading
  * the export back through an explicit-schema JSON scan and flattening it
  * bit-exact against the relational derivation.
  *
  * `mongoimport --collection stop_timetables file.jsonl` consumes this
  * directly (ints/doubles/strings/arrays/sub-documents are plain JSON;
  * nothing here needs Extended-JSON type wrappers). The official Spark
  * connector's `format("mongodb")` writer is just this document stream over
  * the wire protocol instead of files — the connector jar isn't in this
  * zero-egress build, so files ARE the boundary tested.
  *
  * Scale: the doc build is the one-shuffle timetable store build; the JSON
  * write/scan is partition-parallel (one row per stop — hub-stop array
  * skew lands on AQE like the store build); the flatten is explode +
  * project under codegen. Nothing driver-side.
  */
object MongoExport {

  /** Build the per-stop documents with the reference's `_id` key field. */
  def docs(t: TransitTables): DataFrame =
    Timetable.buildStopTimetables(t)
      .select(
        // reference keys the collection by str(stop_id)
        col("stop_id").cast("string").as("_id"),
        col("stop_id"), col("stop_name"), col("stop_code"),
        col("location"), col("upcoming_services"))

  /** Write the export (overwrite; the measured sink leg, like the GTFS
    * feed write) and return (dir, schema-for-read-back). */
  def writeDocs(spark: SparkSession, sfDir: String): (String, org.apache.spark.sql.types.StructType) = {
    val dir = graft.Scratch.dir("mongo_export", sfDir)
    val d = docs(TransitTables.fromTpch(spark, sfDir))
    // gzip the JSONL: mongoimport reads --gzip directly and the per-line
    // wire format is unchanged. JSON text of low-entropy schedule data
    // compresses ~4-5x, and the sf10 leg decomposition showed the export's
    // cost IS the disk leg (14 GB through one local disk, write-back
    // interference doubling the steady state) — on a cluster the same
    // saving applies per executor disk and on the wire to the object store
    d.write.mode("overwrite").option("compression", "gzip").json(dir)
    (dir, d.schema)
  }

  /** Round trip: write the collection, read it back with the explicit
    * document schema, flatten to relational rows. Lossless, so the DuckDB
    * oracle is the direct flat join — the hash-match certifies every field
    * that crossed the wire format (ids, names, nullable stop_code, GeoJSON
    * coordinates, the full nested services array in order). */
  def roundtripFlat(spark: SparkSession, sfDir: String): DataFrame = {
    val (dir, schema) = writeDocs(spark, sfDir)
    val back = spark.read.schema(schema).json(dir)
    back.select(
        col("stop_id"), col("stop_name"), col("stop_code"),
        // GeoJSON order is [lon, lat]; 6-dp display round as in Q1
        round(col("location.coordinates").getItem(0), 6).as("stop_lon"),
        round(col("location.coordinates").getItem(1), 6).as("stop_lat"),
        explode(col("upcoming_services")).as("svc"))
      .select(
        col("stop_id"), col("stop_name"), col("stop_code"),
        col("stop_lon"), col("stop_lat"),
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
  }
}
