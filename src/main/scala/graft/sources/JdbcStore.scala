package graft.sources

import java.io.File
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.transit.TransitTables

/** S2's optional live-database parity path (reference `SQL/sql_utils.py:17-20`
  * reads every query's tables from a running MySQL): land the GTFS bundle in
  * a relational database over plain JDBC, then read it back through
  * `spark.read.jdbc` with a PARTITIONED fact scan — the exact code path a
  * user migrating off the reference's MySQL runs on day one, exercised here
  * against the Derby engine that ships in Spark's own jars (zero extra
  * dependencies; swap the URL/driver for MySQL/Postgres and nothing else
  * changes).
  *
  * Scale notes, since JDBC is the one source here that is NOT splittable by
  * the file system:
  *  - the fact read MUST give Spark a partitioning column
  *    (`partitionColumn`/`lowerBound`/`upperBound`/`numPartitions`), else the
  *    whole table arrives through one connection on one task — the classic
  *    single-reader ingest bottleneck. Stride bounds only split ranges
  *    (rows outside land in the edge partitions), so a generous upper bound
  *    is safe, never lossy.
  *  - dimension reads stay single-connection on purpose: 8 connections for
  *    500 rows is pure overhead.
  *  - at 100 TB the database is the INGEST source only — first job lands
  *    Parquet, every later query scans Parquet (same policy as the CSV
  *    feed, `GtfsWriter`).
  *  - the landed fact is a deterministic 1-in-20 trip slice (`SliceMod`):
  *    the parity claim needs the full JDBC path, not a full OLTP copy of a
  *    warehouse fact — a 100 TB fact has no business living in MySQL, and
  *    the DuckDB oracle pins the same slice so the check stays exact.
  *
  * Embedded Derby is single-JVM, which local[32] satisfies; against a real
  * server database the same partitioned read fans out across executors.
  */
object JdbcStore {

  private val Driver = "org.apache.derby.jdbc.EmbeddedDriver"

  /** Spark's built-in Derby dialect maps StringType → CLOB, which breaks a
    * relational landing twice over: Derby CLOBs reject `=` predicates, and
    * the writer's `setNull(pos, Types.CLOB)` on a VARCHAR-overridden column
    * throws 22005 for every NULL string (stop_code is nullable). Overriding
    * the dialect through the public `JdbcDialects` extension point pins
    * strings to VARCHAR — the same one-liner a real MySQL/Postgres
    * migration reaches for when a driver's default type map fights the
    * schema. Registered dialects win over built-ins (consulted first). */
  private object VarcharDerbyDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
    override def getJDBCType(dt: org.apache.spark.sql.types.DataType)
        : Option[org.apache.spark.sql.jdbc.JdbcType] = dt match {
      case org.apache.spark.sql.types.StringType =>
        Some(org.apache.spark.sql.jdbc.JdbcType("VARCHAR(64)", java.sql.Types.VARCHAR))
      case _ => None
    }
  }
  private lazy val dialectRegistered: Unit =
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(VarcharDerbyDialect)

  /** 1-in-20 deterministic trip slice landed in the database. */
  val SliceMod = 20L

  /** Fact read-back fan-out; spec-asserted on the scan. */
  val FactPartitions = 8

  private def props(): Properties = {
    val p = new Properties()
    p.setProperty("driver", Driver)
    p
  }

  /** Land the (sliced) bundle into an embedded Derby database in the
    * JVM's scratch dir ([[graft.Scratch]]), keyed by sf dir; idempotent
    * via a marker file so a face's cold and warm runs in one JVM pay the
    * one-time INSERT leg once. The marker records the fact's trip_id
    * range so the partitioned read-back gets REAL stride bounds at any
    * scale (hardcoded bounds stay correct — edge partitions are
    * unbounded — but collapse the fan-out onto one connection when the
    * key space outgrows them). Returns (url, (min, max)). */
  def land(spark: SparkSession, sfDir: String): (String, (Long, Long)) = {
    dialectRegistered
    val base = new File(graft.Scratch.dir("derby", sfDir))
    base.mkdirs()
    // keep derby.log (and nothing else) out of the repo root
    System.setProperty("derby.system.home", base.getPath)
    val url = s"jdbc:derby:${base.getPath}/transit;create=true"
    val marker = new File(base, "_LANDED")
    if (!marker.exists()) {
      val t = TransitTables.fromTpch(spark, sfDir)
      val stSlice = t.stopTimes.filter(col("trip_id") % SliceMod === 0L)
      val trSlice = t.trips.filter(col("trip_id") % SliceMod === 0L)
      // Derby maps StringType to CLOB by default; CLOBs reject `=` in
      // predicates (service_id is an equality filter in every query), so
      // every string column is pinned to VARCHAR explicitly — the same DDL
      // hygiene a MySQL landing needs.
      write(stSlice, url, "stop_times", columnTypes = None, numPartitions = 4)
      write(trSlice, url, "trips",
        Some("service_id VARCHAR(8), trip_headsign VARCHAR(32)"), 4)
      write(t.stops, url, "stops",
        Some("stop_name VARCHAR(64), stop_code VARCHAR(32)"), 1)
      write(t.routes, url, "routes",
        Some("route_long_name VARCHAR(64), route_short_name VARCHAR(32)"), 1)
      // bounds come off the parquet side (min/max on the slice — a cheap
      // stats-only scan), not a pre-read of the database
      val b = stSlice.agg(min(col("trip_id")), max(col("trip_id"))).collect().head
      // empty slice → null min/max; (0,0) bounds give a degenerate but
      // valid one-partition stride instead of an NPE
      val (lo, hi) = if (b.isNullAt(0)) (0L, 0L) else (b.getLong(0), b.getLong(1))
      java.nio.file.Files.write(marker.toPath, s"$lo,$hi".getBytes("UTF-8"))
    }
    val Array(lo, hi) = new String(
      java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8").trim.split(",")
    (url, (lo.toLong, hi.toLong))
  }

  private def write(df: DataFrame, url: String, table: String,
      columnTypes: Option[String], numPartitions: Int): Unit = {
    val w = df.repartition(numPartitions).write.mode(SaveMode.Overwrite)
      .option("driver", Driver)
      .option("batchsize", "5000")
    columnTypes.fold(w)(t => w.option("createTableColumnTypes", t))
      .jdbc(url, table, props())
  }

  /** Read the landed bundle back: partitioned fact scan (trip_id stride),
    * single-connection dims. Types round-trip exactly (BIGINT/INTEGER/
    * DOUBLE/VARCHAR), so downstream queries and their DuckDB oracles
    * compare bit-for-bit against the sliced Parquet derivation. */
  def read(spark: SparkSession, url: String, bounds: (Long, Long)): TransitTables = {
    dialectRegistered
    // stride bounds only shape partition balance; edge partitions are
    // unbounded so no key can be lost to a stale range
    val stopTimes = spark.read
      .option("driver", Driver)
      .jdbc(url, "stop_times", "trip_id", bounds._1, bounds._2 + 1L,
        FactPartitions, props())
    def dim(table: String) =
      spark.read.option("driver", Driver).jdbc(url, table, props())
    TransitTables(
      stopTimes = stopTimes,
      trips = dim("trips"),
      stops = dim("stops"),
      routes = dim("routes"))
  }

  /** Land + read in one step — the registered query faces' entry point. */
  def landAndRead(spark: SparkSession, sfDir: String): TransitTables = {
    val (url, bounds) = land(spark, sfDir)
    read(spark, url, bounds)
  }
}
