package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Spark's KLL double sketch functions hold what the `rel_kll_quantiles`
  * face relies on: INCLUSIVE ranks (the ceil(p·n) order statistic on exact
  * data) and, after per-shard sketches are merged, estimates whose exact
  * rank lands within the face's ±4% gate. */
class KllSketchSpec extends AnyFunSuite with SparkSpec {

  test("the median of 1..10 is 5.0: ranks are INCLUSIVE") {
    val q = spark.range(1, 11).select(col("id").cast("double").as("v"))
      .agg(kll_sketch_agg_double(col("v"), 200).as("sk"))
      .select(kll_sketch_get_quantile_double(col("sk"), lit(0.5)))
      .head.getDouble(0)
    assert(q == 5.0, s"median $q")
  }

  test("16 shard sketches, merged: p50/p90/p99 within ±4% rank of target") {
    val n = 100000L
    val qs = spark.range(1, n + 1)
      .select(col("id").cast("double").as("v"), pmod(col("id"), lit(16L)).as("shard"))
      .groupBy(col("shard"))
      .agg(kll_sketch_agg_double(col("v"), 200).as("sk"))
      .agg(kll_merge_agg_double(col("sk"), 200).as("sk"))
      .select(Seq(0.5, 0.9, 0.99).map(p =>
        kll_sketch_get_quantile_double(col("sk"), lit(p))): _*)
      .head
    for ((p, i) <- Seq(0.5, 0.9, 0.99).zipWithIndex) {
      // the values are 1..n, so the exact rank of an estimate e is floor(e)
      val rank = math.floor(qs.getDouble(i))
      assert(math.abs(rank - p * n) <= 0.04 * n, s"p=$p estimate=${qs.getDouble(i)}")
    }
  }
}
