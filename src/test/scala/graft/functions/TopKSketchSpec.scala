package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class TopKSketchSpec extends AnyFunSuite with SparkSpec {

  test("exact regime: distinct ≤ k ⇒ sketch equals exact counts, any partitioning") {
    import spark.implicits._
    // 20 distinct words, zipfian-ish frequencies
    val words = (1 to 20).flatMap(i => Seq.fill(i * i)(f"w$i%02d")).toDF("word")
    val exact = words.groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for (parts <- Seq(1, 7)) {
      val got = words.repartition(parts)
        .agg(GraftFunctions.topkSketch(col("word"), 64, 10).as("top"))
        .select(posexplode(col("top")))
        .select(col("col.word"), col("col.n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(got.toSeq == exact.toSeq, s"parts=$parts")
    }
  }

  test("MG guarantee: items above N/(k+1) survive eviction pressure") {
    import spark.implicits._
    // 500 distinct rare words force constant eviction at k=8; the heavy
    // hitter holds 40% of the stream — far above N/(k+1), must be rank 1
    val stream = (Seq.fill(2000)("heavy") ++ (1 to 3000).map(i => s"rare${i % 500}"))
    val df = stream.toDF("word").repartition(5)
    val top = df.agg(GraftFunctions.topkSketch(col("word"), 8, 3).as("top"))
      .select(posexplode(col("top"))).select(col("col.word"), col("col.n"))
      .collect()
    assert(top.head.getString(0) == "heavy")
    // reported count is a lower bound on the true 2000
    assert(top.head.getLong(1) <= 2000L)
  }

  test("face matches the exact vocabulary-shuffle top-10 on the fixture") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.text.TextAnalysis.heavyHitters(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val exact = graft.sources.Tables.documents(spark, dir)
      .select(explode(TextHash.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(10)
      .collect().zipWithIndex
      .map { case (r, i) => (i + 1, r.getString(0), r.getLong(1)) }
    assert(got.toSeq == exact.toSeq)
  }

  test("serialize survives a >64 KB token (writeUTF would throw)") {
    // one unbroken non-whitespace run (minified JSON, base64 blob) is one
    // token; the buffer must shuffle it, not kill the job with
    // UTFDataFormatException at 65535 modified-UTF-8 bytes
    val agg = TopKSketchAgg(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), 4, 4)
    val big = "b" * 70000
    val buf = scala.collection.mutable.HashMap(big -> 3L, "small" -> 1L)
    val back = agg.deserialize(agg.serialize(buf))
    assert(back == buf)
  }

  test("buffer format carries a version byte; a foreign version is rejected loudly") {
    // ADVICE r13: streaming state stores checkpoint TypedImperativeAggregate
    // buffers, so a future format change must fail with a named error, not
    // read garbage lengths — pinned now, while no durable state exists
    val agg = TopKSketchAgg(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), 4, 4)
    val bytes = agg.serialize(scala.collection.mutable.HashMap("w" -> 2L))
    assert(bytes(0) == 1, "format version byte must lead the buffer")
    val foreign = bytes.clone(); foreign(0) = 9
    val ex = intercept[IllegalArgumentException](agg.deserialize(foreign))
    assert(ex.getMessage.contains("format 9"))
  }
}
