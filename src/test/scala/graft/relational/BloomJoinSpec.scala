package graft.relational

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.sources.Tables

class BloomJoinSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("bloom-reduced join ≡ plain join; probe filter actually prunes") {
    val got = BloomJoin.bloomSemiReduce(spark, dir)

    // semantic oracle: same aggregate without the bloom pre-filter
    val plain = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("l_returnflag"))
    assert(got.collect().toSeq == plain.collect().toSeq)

    // the sketch is in the executed plan on the probe side, below the join
    val physical = got.queryExecution.executedPlan.toString
    assert(physical.contains("graft_bloom_contains"),
      "bloom membership test missing from the physical plan")

    // pruning: the filtered probe side is a strict subset (1% fpp over a
    // ~20% selective build side ⇒ ~4/5 of lineitem dropped pre-join)
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val bytes = BloomJoin.buildBloom(urgent, "o_orderkey")
    val total = Tables.lineitem(spark, dir).count()
    val kept = Tables.lineitem(spark, dir)
      .filter(graft.functions.GraftFunctions
        .bloomContains(col("l_orderkey"), bytes))
      .count()
    assert(kept < total / 2, s"bloom kept $kept of $total — not pruning")
  }

  test("no false negatives: every joining key passes the filter") {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val bytes = BloomJoin.buildBloom(urgent, "o_orderkey")
    val missed = Tables.lineitem(spark, dir)
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .filter(!graft.functions.GraftFunctions
        .bloomContains(col("l_orderkey"), bytes))
      .count()
    assert(missed == 0L)
  }

  test("salted-join face and hll-shards face hold on the fixture") {
    // salted ≡ unsalted plain join (SkewJoinSpec proves the general law;
    // this pins the registered face's aggregate)
    val salted = RelationalQueries.saltedJoin(spark, dir).collect()
    val plain = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
        Seq("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), round(sum(col("rev")), 2).as("revenue"))
      .orderBy(col("o_orderpriority")).collect()
    assert(salted.toSeq == plain.toSeq)

    // every sketch estimate lands inside the 5% gate
    val hll = RelationalQueries.hllShards(spark, dir).collect()
    assert(hll.nonEmpty && hll.forall(_.getBoolean(2)),
      s"hll gate failed: ${hll.mkString(", ")}")
  }
}
