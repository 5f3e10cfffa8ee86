package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 rehearsal data: deterministically inflate a driver scale dir by an
  * integer clone factor (default 10× of sf0.1 → "sf1": 6 M lineitem /
  * 50 k documents / 1 M events — TPC-H sf1's fact volume).
  *
  * The inflation is distribution-preserving, not row-duplicating, so
  * scaling curves measured on it are honest:
  *  - facts (orders/lineitem/events) clone under disjoint key offsets —
  *    per-key group sizes grow like real data growth (same dims, more
  *    activity), the exact hub-stop skew shape the transit queries feed on;
  *  - documents get a per-clone token rewrite (every token suffixed with
  *    the clone tag), so clones are UNRELATED under shingle/minhash — a
  *    verbatim clone would plant 10-deep near-dup clusters and blow the
  *    pair joins up quadratically, turning the rehearsal into a lie;
  *  - embeddings rotate components per clone (norms preserved, geometry
  *    decorrelated) under offset ids;
  *  - dims (region/nation/customer/supplier/part) copy as-is: growing
  *    facts against fixed dims is the conservative direction for skew.
  *
  * Deterministic (no RNG), pure column expressions, partition-parallel.
  * Output goes under target/ (scratch): rehearsal data, never committed.
  *
  * Usage: `runMain graft.tools.InflateSf [srcDir] [dstDir] [factor]`
  */
object InflateSf {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/testdata_sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val cpus = graft.Session.cpus
    val spark = graft.Session.batch(src)

    // Round-10 finding: a rehearsal table landed as ONE file with ONE row
    // group (the clone pipeline keeps the source's 1-file partitioning) is
    // UNSPLITTABLE — a row group is parquet's minimum read unit, so every
    // scan of it serializes onto one task no matter how
    // `files.maxPartitionBytes` is tuned, and the rehearsal then measures
    // one core against 32. Real large-scale writers land many ~128 MB row
    // groups; the rehearsal data must be splittable the same way: facts
    // repartition to `cpus` write tasks and every file bounds its row
    // groups at 8 MB (the low-entropy data dictionary-packs 10-20x, so
    // 8 MB on disk is ~1-2 M rows — a sane scan task).
    def out(df: DataFrame, name: String, parts: Int = 0): Unit =
      (if (parts > 0) df.repartition(parts) else df)
        .write.mode("overwrite")
        .option("parquet.block.size", (8L << 20).toString)
        .parquet(s"$dst/$name.parquet")

    // Round-11 finding: a FIXED offset silently collides when inflating
    // already-inflated data (sf1 keys reach ~9×OFF + max; re-cloning with
    // the same OFF landed clone c of key x on clone c' of key x' — 2.55 M
    // duplicate trip_ids at sf10, which blew every trips-join face's
    // cardinality to 402 M rows and overstated the third-decade cost of
    // those faces ~6.7×). The offset must clear the SOURCE's actual key
    // range: next power of 10 above the max key across every cloned id
    // domain, computed from the data.
    val OFF = {
      // null-safe (an empty source table yields max() = NULL) and
      // type-safe (an INT-typed key column would ClassCastException on
      // getLong) — fail with a clear message only if EVERY domain is empty
      def maxOf(df: DataFrame, c: org.apache.spark.sql.Column): Long =
        Option(df.agg(max(c)).head.get(0)).map(_.toString.toLong).getOrElse(0L)
      val maxKey = Seq(
        maxOf(spark.read.parquet(s"$src/orders.parquet"), col("o_orderkey")),
        maxOf(spark.read.parquet(s"$src/documents.parquet"), col("doc_id")),
        maxOf(spark.read.parquet(s"$src/embeddings.parquet"), col("vec_id")),
        maxOf(graft.sources.Tables.events(spark, src),
          greatest(col("event_id"), col("user_id")))
      ).max
      require(maxKey > 0L, s"no keys found in any cloned id domain under $src")
      var off = 10000000L
      while (off <= maxKey) off *= 10L
      off
    }
    println(s"[inflate] key offset $OFF")

    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      out(spark.read.parquet(s"$src/$t.parquet"), t)

    val clone = explode(sequence(lit(0L), lit(k - 1L))).as("clone")

    val orders = spark.read.parquet(s"$src/orders.parquet")
    out(orders.select(col("*"), clone)
      .withColumn("o_orderkey", col("o_orderkey") + col("clone") * OFF)
      .drop("clone"), "orders", cpus)

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    out(li.select(col("*"), clone)
      .withColumn("l_orderkey", col("l_orderkey") + col("clone") * OFF)
      .drop("clone"), "lineitem", cpus)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    out(docs.select(col("*"), clone)
      .withColumn("text",
        when(col("clone") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("x"), col("clone"))), " ")))
      .withColumn("doc_id", col("doc_id") + col("clone") * OFF)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("clone"), "documents", cpus)

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    out(emb.select(col("*"), clone)
      .withColumn("embedding",
        when(col("clone") === 0, col("embedding")).otherwise(concat(
          slice(col("embedding"), col("clone").cast("int") + 1,
            lit(dim) - col("clone").cast("int")),
          slice(col("embedding"), lit(1), col("clone").cast("int")))))
      .withColumn("vec_id", col("vec_id") + col("clone") * OFF)
      .drop("clone"), "embeddings", cpus)

    // events ride the nanos-aware loader; re-landing as micros is fine —
    // Tables.events normalizes either physical type
    val ev = graft.sources.Tables.events(spark, src)
    out(ev.select(col("*"), clone)
      .withColumn("event_id", col("event_id") + col("clone") * OFF)
      .withColumn("user_id", col("user_id") + col("clone") * OFF)
      .drop("clone"), "events", cpus)

    // fail LOUDLY on any future key collision: every clone's id domain
    // must be disjoint, so distinct keys scale exactly by k — checked in
    // EVERY cloned domain, not just o_orderkey (a collision confined to
    // doc/vec/event ids would otherwise pass silently)
    def assertConserved(name: String, srcDf: DataFrame, keyCol: String): Unit = {
      val s = srcDf.select(countDistinct(col(keyCol))).head.getLong(0)
      val d = spark.read.parquet(s"$dst/$name.parquet")
        .select(countDistinct(col(keyCol))).head.getLong(0)
      require(d == k * s,
        s"clone key collision in $name.$keyCol: $d distinct, want ${k * s}")
    }
    assertConserved("orders", orders, "o_orderkey")
    assertConserved("documents", docs, "doc_id")
    assertConserved("embeddings", emb, "vec_id")
    assertConserved("events", ev, "event_id")

    println(s"[inflate] wrote ${k}x of $src to $dst")
    spark.stop()
  }
}
