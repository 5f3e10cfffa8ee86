package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Result sinks (SURVEY §2.1 S4/S6): materialized query snapshots.
  *
  * The reference writes four result CSVs as its serving fast path
  * (reference `SQL/generate_csv.py:37,75,108,125`) and bulk-upserts the
  * timetable store into MongoDB (`Mongo/denormalization.py:83-131`). Here
  * both become overwrite-mode writes of the already-computed DataFrames:
  *
  *  - [[resultCsv]] — small, human-readable result snapshot (coalesced to
  *    one file like the reference's single CSV; results are top-k-sized,
  *    so the coalesce is bounded and deliberate).
  *  - [[snapshotParquet]] — the production result cache (R4): partitioned
  *    parquet, readable back as a serving table.
  *  - [[bucketedTable]] — a bucketed+sorted table, shuffled once at
  *    write time so later joins and aggregations on its key need none.
  */
object Writers {

  def resultCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)

  def snapshotParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Line-delimited JSON sink — the API-layer serialization surface (the
    * reference serves every endpoint as JSON). Nested structs/arrays (the
    * timetable documents) serialize losslessly. */
  def resultJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Schema-explicit JSON source (engine rule: no runtime inference —
    * SURVEY §1.4; pass the schema the sink's frame had). */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Training-shard sink: the layout a data-loader consumes. Partitioned
    * by split (train/valid/test directories), each split divided into a
    * fixed number of deterministic shards (hash of the id column, NOT
    * round-robin — reshardable reproducibly on any cluster), rows inside
    * a shard sorted by id (sortWithinPartitions — no global sort), shard
    * file size bounded by maxRecordsPerFile so loader workers get
    * uniform work units. One shuffle, keyed by (split, shard).
    * `shardOf` defaults to xxhash64; the oracle-checked manifest query
    * passes the cross-engine TextHash instead. */
  def trainingShards(df: DataFrame, path: String, idCol: String,
      splitCol: String, shardsPerSplit: Int,
      maxRecordsPerFile: Long = 1000000L,
      shardOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => org.apache.spark.sql.functions.xxhash64(c)): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("shard", pmod(shardOf(col(idCol)), lit(shardsPerSplit)))
      .repartition(col(splitCol), col("shard"))
      .sortWithinPartitions(col(idCol))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(splitCol, "shard")
      .parquet(path)
  }

  /** Range-partitioned sorted snapshot — the file-skipping layout: rows
    * are range-partitioned on the sort key (a sampling pass picks balanced
    * boundaries) and sorted within each file, so every parquet file covers
    * a DISJOINT key range and its footer min/max statistics prune whole
    * files on range predicates (the poor-man's Z-order for a single key).
    * At 100 TB this is the difference between scanning a petabyte and
    * reading the three files that overlap the predicate. */
  def rangePartitionedSnapshot(df: DataFrame, path: String, sortCol: String,
      nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite").parquet(path)
  }

  /** Bucketed table: pre-shuffles once at write time so every later
    * equi-join/aggregation on `keys` reads co-located buckets with NO
    * exchange — the Spark analog of the reference's B-tree "index
    * selection" (SURVEY §4 R5) and the cluster-scale answer for a fact
    * table joined repeatedly on the same key. The aligned
    * `repartition(nBuckets, keys)` (same murmur3 hash as the bucket spec)
    * leaves exactly one file per bucket, which is what lets the scan
    * expose both hash-partitioning AND per-bucket sortedness to the
    * planner. Lands at `path` (overwritten) and returns the read-back
    * table. */
  def bucketedTable(df: DataFrame, table: String, keys: Seq[String],
      nBuckets: Int, path: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.repartition(nBuckets, keys.map(col): _*)
      .write.mode("overwrite")
      .bucketBy(nBuckets, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .saveAsTable(table)
    df.sparkSession.table(table)
  }
}
