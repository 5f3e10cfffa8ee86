package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Spark's theta sketch functions hold the properties the
  * `dedup_theta_overlap` face's `est_ok` gate relies on: exact below 2^lgK
  * distinct keys at any partitioning, within the RSE bound above it, and
  * exact intersections of exact sketches. */
class ThetaSketchSpec extends AnyFunSuite with SparkSpec {

  private def sketchOf(df: DataFrame, lgK: Int): Column =
    lit(df.agg(theta_sketch_agg(col("k"), lgK)).head.getAs[Array[Byte]](0))

  private def eval(c: Column): Double =
    spark.range(1).select(c).head.getDouble(0)

  private def estimate(df: DataFrame, lgK: Int): Double =
    eval(theta_sketch_estimate(sketchOf(df, lgK)).cast("double"))

  private def intersectEstimate(a: DataFrame, b: DataFrame, lgK: Int): Double =
    eval(theta_sketch_estimate(
      theta_intersection(sketchOf(a, lgK), sketchOf(b, lgK))).cast("double"))

  test("exact regime: estimate equals the distinct count, any partitioning") {
    import spark.implicits._
    // 3k distinct values with duplicates, well under 2^14 nominal entries
    val df = (1 to 9000).map(i => (i % 3000).toLong).toDF("k")
    for (parts <- Seq(1, 8)) {
      val est = estimate(df.repartition(parts), 14)
      assert(est == 3000.0, s"parts=$parts est=$est")
    }
  }

  test("estimation regime: lgK=6 stays within 3 RSE of the truth") {
    import spark.implicits._
    val n = 20000
    val df = (1 to n).map(_.toLong).toDF("k").repartition(8)
    val est = estimate(df, 6)
    val rse = 1.0 / math.sqrt(1 << 6)
    assert(math.abs(est - n).toDouble / n < 3 * rse,
      s"est=$est truth=$n bound=${3 * rse}")
  }

  test("intersection: exact when sketches are exact, bounded when sampling") {
    import spark.implicits._
    val a = (1 to 10000).map(_.toLong).toDF("k")
    val b = (5001 to 15000).map(_.toLong).toDF("k")
    // lgK=16 holds all 10k hashes → θ=1 → intersection is exact
    val exact = intersectEstimate(a, b, 16)
    assert(exact == 5000.0, s"exact-regime intersection $exact")
    // lgK=10 samples; intersection error grows with 1/overlap share — use
    // a generous 5x single-sketch RSE bound on the 50% overlap
    val est = intersectEstimate(a, b, 10)
    assert(math.abs(est - 5000.0) / 5000.0 < 5.0 / math.sqrt(1 << 10),
      s"sampling-regime intersection $est")
  }

  test("overlap face: gate holds and zero-overlap pairs are absent by construction") {
    val rows = graft.dedup.Dedup.thetaOverlap(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(3)), "sketch gate failed on the fixture")
    // sources share the ~31-word vocabulary, so every pair overlaps
    assert(rows.forall(_.getLong(2) > 0L))
  }
}
