package graft.relational

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.sources.Tables

/** Bloom-filter semi-join reduction (build → broadcast sketch → probe).
  *
  * The selective side (urgent orders, ~1/5 of the table) is reduced to a
  * few-KB Bloom filter by a tree aggregation; the fact side tests its join
  * key against the sketch INSIDE whole-stage codegen at the scan, so
  * non-joining lineitems never enter the join's shuffle/build. At 100 TB
  * this is the difference between shuffling the full fact table and
  * shuffling only the ~20% that can possibly join — false positives (1%
  * here) slip through the filter but are eliminated by the real join, so
  * the result stays exact and the DuckDB oracle is the plain join SQL.
  *
  * The driver holds only the fixed-size sketch (never the keys), exactly
  * like a broadcast hash join's build relation but ~100× smaller; a real
  * cluster would `broadcast` the same bytes. Spark's automatic runtime
  * bloom filters cover the single-query case; this face is the explicit
  * variant a pipeline uses to build once and probe many queries.
  */
object BloomJoin {

  /** Serialize a build-side key column to a Bloom filter's bytes. */
  def buildBloom(keys: DataFrame, keyCol: String, fpp: Double = 0.01): Array[Byte] = {
    val n = math.max(keys.count(), 1L)
    val bloom = keys.stat.bloomFilter(keyCol, n, fpp)
    val bos = new ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** Revenue by return flag over lineitems of URGENT orders, probe side
    * pre-filtered by the build side's Bloom sketch. */
  def bloomSemiReduce(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bytes = buildBloom(urgent, "o_orderkey")
    val li = Tables.lineitem(spark, dir)
      .filter(GraftFunctions.bloomContains(col("l_orderkey"), bytes))
      .select(col("l_orderkey"),
        col("l_returnflag"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    li.join(broadcast(urgent), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"), round(sum(col("rev")), 2).as("revenue"))
      .orderBy(col("l_returnflag"))
  }
}
