package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import Streams._

/** Proves the streaming faces compute the same answers as the batch faces
  * (which are the oracle-checked surface). */
class StreamsSpec extends AnyFunSuite with SparkSpec {

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("registered end-to-end faces: sink census, admission run, outer attribution") {
    val sf = "/root/testdata/sf0.001"
    // sink census: the foreachBatch round trip is lossless vs the source
    val direct = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(floor(col("value") * 1000).cast("long")).as("milli_value_sum"))
      .orderBy(col("event_type"))
    assert(Streams.sinkCensusBatch(spark, sf).collect().toSeq ==
      direct.collect().toSeq)
    // admission run: the file-stream + append-sink execution emits exactly
    // the bucketed batch probe's distinct pair set
    val got = Streams.admissionStreamingBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.dedup.Dedup.standingProbe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // outer face: restricted to matched clicks it IS the inner face, and
    // its unmatched clicks carry (0, null)
    val outer = Streams.clickAttributionOuterBatch(spark, sf)
    val inner = Streams.clickAttributionBatch(spark, sf)
    assert(outer.filter(col("n_views") > 0).collect().toSeq ==
      inner.collect().toSeq)
    assert(outer.filter(col("n_views") === 0)
      .filter(col("min_gap_us").isNotNull).count() == 0)
  }

  test("streaming windowed counts equal batch windowed counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (ts(5), "click", 1.0), (ts(20), "click", 2.0), (ts(61), "click", 4.0),
      (ts(62), "view", 8.0), (ts(125), "view", 16.0))
    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(rows: _*)
    val sdf = stream.toDF.toDF("ts", "event_type", "value")
    val q = hourlyByType(sdf).writeStream
      .format("memory").queryName("hourly_test").outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("hourly_test")
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = hourlyByType(rows.toDF("ts", "event_type", "value"))
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(streamed.size == 4) // (h0:click), (h1:click), (h1:view), (h2:view)
  }

  test("built-in session_window face equals the window-function sessionization") {
    val sf = "/root/testdata/sf0.01"
    val native = Streams.sessionWindowBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val custom = Streams.sessionsBatch(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us")) ->
        (r.getAs[Long]("duration_us"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sum_value"))).toMap
    assert(native.size == custom.size)
    assert(native == custom,
      "session_window must find the same (user, start) -> (dur, n, sum) sessions")
  }

  test("streaming distinct-users (dedup+count) equals batch count_distinct") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 7 appears twice in hour 1 (dedup must collapse), and again in
    // hour 2 (a NEW distinct key there); user 8 only in hour 1
    val rows = Seq(
      (ts(65), "click", 7L), (ts(80), "click", 7L), (ts(70), "click", 8L),
      (ts(125), "click", 7L), (ts(130), "view", 8L))
    val stream = MemoryStream[(Timestamp, String, Long)]
    stream.addData(rows: _*)
    val sdf = stream.toDF.toDF("ts", "event_type", "user_id")
    val q = hourlyUsers(sdf).writeStream
      .format("memory").queryName("husers_test").outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("husers_test")
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = hourlyUsers(rows.toDF("ts", "event_type", "user_id"))
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed == batch)
    val counts = streamed.map(r => r.getString(1) -> r.getLong(2))
    assert(counts == Seq("click" -> 2L, "click" -> 1L, "view" -> 1L))
  }

  test("flatMapGroupsWithState sessionization equals batch sessionization") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val min = 60L * 1000000L
    val base = 1000 * min // off epoch 0: ts <= the initial watermark is late
    // user 1: two sessions (gap 40 min between minute 50 and 90); user 2: one
    val evs = Seq(
      Ev(1, base + 0 * min, 1.0), Ev(1, base + 10 * min, 2.0),
      Ev(1, base + 50 * min, 4.0), Ev(1, base + 90 * min, 8.0),
      // user 2's sum (1.00005) sits on a half-tie whose binary neighbor
      // breaks rounding lookalikes: Spark's round() and any emit-side
      // reimplementation must agree HERE, not just on exact sums (the
      // math.round(x*1e4)/1e4 form diverged on exactly this value)
      Ev(2, base + 5 * min, 0.50002), Ev(2, base + 20 * min, 0.50003))

    val stream = MemoryStream[Ev]
    val q = sessionizeStreaming(stream.toDS()).writeStream
      .format("memory").queryName("sessions_test").outputMode("append").start()
    try {
      stream.addData(evs: _*)
      q.processAllAvailable()
      // trailing sessions flush via EVENT-TIME TIMEOUT, not future events
      // for those users: a different user's event advances the watermark
      stream.addData(Ev(3, base + 1000 * min, 0.0)) // wm +60min → flushes user 2
      q.processAllAvailable()
      stream.addData(Ev(3, base + 2000 * min, 0.0)) // wm +970min → flushes user 1
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("sessions_test")
      .filter($"user_id" <= 2) // user 3 is only the watermark driver
      .select("user_id", "start_us", "duration_us", "n_events", "sum_value")
      .orderBy("user_id", "start_us").collect().toSeq

    val batchDf = sessionizeBatch(
      evs.zipWithIndex
        .map { case (e, i) => (i.toLong, timestampFromUs(e.us), e.user_id, e.value) }
        .toDF("event_id", "ts", "user_id", "value"))
      .select("user_id", "start_us", "duration_us", "n_events", "sum_value")
      .orderBy("user_id", "start_us").collect().toSeq

    assert(streamed == batchDf)
    assert(streamed.map(_.getLong(3)).sum == evs.size)
  }

  private def timestampFromUs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  test("streaming windowed p95 sketch equals the batch sketch values") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (ts(5), "click", 1.0), (ts(10), "click", 9.0), (ts(20), "click", 100.0),
      (ts(61), "view", 4.0), (ts(70), "view", 8.0), (ts(125), "view", 16.0))
    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(rows: _*)
    val q = Streams.hourlyP95(stream.toDF.toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("p95_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("p95_test")
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = Streams.hourlyP95(rows.toDF("ts", "event_type", "value"))
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed == batch, "t-digest state must merge to the batch sketch")
    assert(streamed.size == 3)
  }

  test("streaming funnel state machine emits the batch face's stage advances") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val min = 60L * 1000000L
    val base = 1000 * min
    // user 1 completes the funnel; user 2 clicks before viewing (click
    // must NOT count) then views; user 3 only purchases (counts nothing)
    val rows = Seq(
      (1L, "view", base + 0 * min), (1L, "click", base + 10 * min),
      (1L, "purchase", base + 20 * min),
      (2L, "click", base + 1 * min), (2L, "view", base + 5 * min),
      (2L, "click", base + 9 * min),
      (3L, "purchase", base + 2 * min))
    val stream = MemoryStream[(Long, String, Timestamp)]
    stream.addData(rows.map { case (u, t, us) => (u, t, timestampFromUs(us)) }: _*)
    val q = Streams.funnelStreaming(
      stream.toDF.toDF("user_id", "event_type", "ts")).writeStream
      .format("memory").queryName("funnel_test").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("funnel_test")
      .orderBy("user_id", "stage").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(streamed == Seq(
      (1L, 1, base + 0 * min), (1L, 2, base + 10 * min), (1L, 3, base + 20 * min),
      (2L, 1, base + 5 * min), (2L, 2, base + 9 * min)))
    // and the full-table batch face agrees with the streaming machine when
    // the whole events table flows through one micro-batch
    val sf = "/root/testdata/sf0.001"
    val batch = Streams.funnelStagesBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val stream2 = MemoryStream[(Long, String, Timestamp)]
    val evs = graft.sources.Tables.events(spark, sf)
      .select($"user_id", $"event_type", $"ts").as[(Long, String, Timestamp)]
      .collect()
    stream2.addData(evs: _*)
    val q2 = Streams.funnelStreaming(
      stream2.toDF.toDF("user_id", "event_type", "ts")).writeStream
      .format("memory").queryName("funnel_test2").outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val streamed2 = spark.table("funnel_test2").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed2 == batch)
  }

  test("streaming funnel cross-batch disorder: late stage-1 does not replay a seen stage-2") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val min = 60L * 1000000L
    val base = 1000 * min
    val stream = MemoryStream[(Long, String, Timestamp)]
    // micro-batch 1 delivers the click (event time 20min) BEFORE the view
    // (event time 10min) arrives in micro-batch 2 — event-time order is
    // view→click, arrival order is click→view
    stream.addData((7L, "click", timestampFromUs(base + 20 * min)))
    val q = Streams.funnelStreaming(
      stream.toDF.toDF("user_id", "event_type", "ts")).writeStream
      .format("memory").queryName("funnel_disorder").outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData((7L, "view", timestampFromUs(base + 10 * min)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("funnel_disorder").orderBy("stage").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // the batch chained-MIN, with hindsight, would emit stages 1 AND 2
    // (view@10 then click@20). The streaming machine's documented
    // arrival-order semantics: the click seen before any view is
    // consumed, not buffered, so only stage 1 is emitted.
    assert(streamed == Seq((7L, 1, base + 10 * min)))
  }

  test("restart from checkpoint resumes exactly-once (no duplicates, no loss)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the recovery contract a production stream lives on: offsets in the
    // checkpoint + the file sink's transaction log give exactly-once
    // across a stop/restart — batch 1 is not re-emitted, batch 2 (which
    // arrived while the query was DOWN) is not lost
    val dir = graft.Scratch.fresh("graft_ckpt_").toFile
    val out = new java.io.File(dir, "out").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val stream = MemoryStream[(Long, String)]
    def start() = stream.toDF.toDF("id", "v")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    stream.addData((1L, "a"), (2L, "b"))
    val q1 = start(); try q1.processAllAvailable() finally q1.stop()
    stream.addData((3L, "c"))
    val q2 = start(); try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.size == 3, s"exactly-once violated: $rows")
    assert(rows.toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("streaming admission probe matches the batch candidate set across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.01"
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val standing = graft.dedup.Dedup.bandsOf(docs.filter(col("doc_id") % 5 =!= 0))
      .localCheckpoint(true)
    // batch truth: the registered bucketed probe's distinct pair set
    val want = graft.dedup.Dedup.standingProbe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "fixture must produce candidate pairs")
    val newDocs = docs.filter(col("doc_id") % 5 === 0)
      .as[(Long, String)].collect()
    val stream = MemoryStream[(Long, String)]
    val q = Streams.admissionStreaming(
      stream.toDF.toDF("doc_id", "text"), standing).writeStream
      .format("memory").queryName("admission_test").outputMode("append").start()
    try {
      // two micro-batches: admission is stateless, so the union of the
      // per-batch probes must equal the one-shot batch result
      val (b1, b2) = newDocs.splitAt(newDocs.length / 2)
      stream.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      stream.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("admission_test").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("streaming dropDuplicates keeps one row per key, matching batch dedup keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (event_id, minute, user, type): duplicates for (1,click) and (2,view)
    val rows = Seq(
      (1L, 5L, 1L, "click"), (2L, 9L, 1L, "click"), (3L, 7L, 1L, "view"),
      (4L, 10L, 2L, "view"), (5L, 30L, 2L, "view"), (6L, 40L, 2L, "purchase"))
    def toDf(s: Seq[(Long, Long, Long, String)]) =
      s.map { case (id, m, u, t) => (id, ts(m), u, t) }
        .toDF("event_id", "ts", "user_id", "event_type")

    val stream = MemoryStream[(Long, Long, Long, String)]
    stream.addData(rows: _*)
    val sdf = stream.toDF.toDF("event_id", "min", "user_id", "event_type")
      .select(col("event_id"), expr("timestamp_millis(min * 60000)").as("ts"),
        col("user_id"), col("event_type"))
    val q = Streams.dedupStreaming(sdf).writeStream
      .format("memory").queryName("dedup_test").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamedKeys = spark.table("dedup_test")
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = Streams.dedupFirst(toDf(rows)).collect()
    val batchKeys = batch.map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamedKeys == batchKeys)
    assert(spark.table("dedup_test").count() == batchKeys.size)
    // batch face is exact: first event by (us, event_id) per key
    val first = batch.map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    assert(first((1L, "click")) == 1L && first((2L, "view")) == 4L)
  }

  test("dedup re-emits a duplicate arriving past the 1h dedup horizon (pinned trade)") {
    // ADVICE r13: dropDuplicatesWithinWatermark bounds state by EVICTING a
    // fingerprint once the watermark passes it — the documented trade is
    // that a duplicate arriving MORE than the delay after its first
    // occurrence is re-emitted (batch dedup would drop it). Pin the
    // re-emit so the divergence is a spec'd contract, not an implication.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long, Long, String)]
    def sdf = stream.toDF.toDF("event_id", "min", "user_id", "event_type")
      .select(col("event_id"), expr("timestamp_millis(min * 60000)").as("ts"),
        col("user_id"), col("event_type"))
    val q = Streams.dedupStreaming(sdf).writeStream
      .format("memory").queryName("dedup_late_test").outputMode("append").start()
    try {
      // t=10, not t=0: a row AT the initial epoch watermark is filtered
      // as late before dedup ever sees it
      stream.addData((1L, 10L, 7L, "click"))           // first occurrence
      q.processAllAvailable()
      stream.addData((2L, 210L, 8L, "view"))           // watermark -> 150 min,
      q.processAllAvailable()                           // evicts (7,click) @ 10+60
      // (7,click) again at t=160: past the horizon -> RE-EMITTED;
      // (8,view) again at t=155: still in state -> dropped
      stream.addData((3L, 160L, 7L, "click"), (4L, 155L, 8L, "view"))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_late_test").select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L),
      "long-horizon duplicate must re-emit (3) and in-horizon duplicate must drop (4)")
  }

  test("stream-static broadcast enrichment equals batch enrichment") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "AUTO"), (2L, "MACH")).toDF("c_custkey", "c_mktsegment")
    // user 3 has no dim row → dropped by the inner join in both modes
    val rows = Seq(
      (1L, 5L, 1.0), (1L, 20L, 2.0), (2L, 61L, 4.0), (3L, 62L, 8.0),
      (2L, 125L, 16.0))
    val stream = MemoryStream[(Long, Long, Double)]
    stream.addData(rows: _*)
    val sdf = stream.toDF.toDF("user_id", "min", "value")
      .select(col("user_id"), expr("timestamp_millis(min * 60000)").as("ts"),
        col("value"))
    val q = Streams.enriched(sdf, dim).writeStream
      .format("memory").queryName("enrich_test").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("enrich_test")
      .orderBy("window_start", "c_mktsegment").collect().toSeq
    val batch = Streams.enriched(
      rows.map { case (u, m, v) => (u, ts(m), v) }.toDF("user_id", "ts", "value"),
      dim).orderBy("window_start", "c_mktsegment").collect().toSeq
    assert(streamed == batch)
    assert(streamed.size == 3) // (h0 AUTO), (h1 MACH), (h2 MACH); user 3 dropped
  }

  test("foreachBatch sink lands streaming dedup output in parquet with batch ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, 5L, 1L, "click"), (2L, 9L, 1L, "click"), (3L, 7L, 1L, "view"),
      (4L, 10L, 2L, "view"))
    val stream = MemoryStream[(Long, Long, Long, String)]
    stream.addData(rows: _*)
    val sdf = stream.toDF.toDF("event_id", "min", "user_id", "event_type")
      .select(col("event_id"), expr("timestamp_millis(min * 60000)").as("ts"),
        col("user_id"), col("event_type"))
    val dir = graft.Scratch.fresh("graft-feb").toString
    val q = Streams.parquetSink(Streams.dedupStreaming(sdf), dir)
    try q.processAllAvailable() finally q.stop()
    val back = spark.read.parquet(s"$dir/data")
    val keys = back.select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(keys == Set((1L, "click"), (1L, "view"), (2L, "view")))
    assert(back.columns.contains("batch_id"))
  }

  test("outer interval join emits unmatched clicks only after the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: click at 10 with views in window; user 2: click at 30, no view
    val batch1 = Seq(
      (1L, 2L, 1L, "view"), (2L, 8L, 1L, "view"), (4L, 10L, 1L, "click"),
      (8L, 30L, 2L, "click"))
    val stream = MemoryStream[(Long, Long, Long, String)]
    stream.addData(batch1: _*)
    val sdf = stream.toDF.toDF("event_id", "min", "user_id", "event_type")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("timestamp_millis(min * 60000)").as("ts"))
    val q = Streams.clickAttributionStreaming(sdf, "leftOuter").writeStream
      .format("memory").queryName("attrib_outer_test").outputMode("append").start()
    try {
      q.processAllAvailable()
      val early = spark.table("attrib_outer_test")
        .filter(col("click_id") === 8L).count()
      assert(early == 0,
        "unmatched click must NOT emit while a matching view could still arrive")
      // push the watermark far past click 8's window. The global watermark
      // is the MIN across both join inputs, and each side's watermark
      // advances only on events that survive its own filter — so the
      // late batch needs both a view and a click (different users, so the
      // late pair itself cannot match)
      stream.addData((98L, 300L, 4L, "click"), (99L, 300L, 3L, "view"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("attrib_outer_test").collect()
    val matched = rows.filter(r => !r.isNullAt(r.fieldIndex("view_id")))
      .map(r => (r.getLong(r.fieldIndex("click_id")), r.getLong(r.fieldIndex("view_id")))).toSet
    assert(matched == Set((4L, 1L), (4L, 2L)), s"matched=$matched")
    val unmatched = rows.filter(r => r.isNullAt(r.fieldIndex("view_id")))
      .map(_.getLong(1)).toSet
    assert(unmatched == Set(8L), "click without views emits once, with null view")
  }

  test("watermarked stream-stream interval join equals batch click attribution") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // clicks at minute 10, 25; views at 2, 8, 9, 24 (10-min window)
    val rows = Seq(
      (1L, 2L, 1L, "view"), (2L, 8L, 1L, "view"), (3L, 9L, 1L, "view"),
      (4L, 10L, 1L, "click"), (5L, 24L, 1L, "view"), (6L, 25L, 1L, "click"),
      (7L, 3L, 2L, "view"), (8L, 30L, 2L, "click")) // view outside window
    def toDf(s: Seq[(Long, Long, Long, String)]) =
      s.map { case (id, m, u, t) => (u, id, t, ts(m)) }
        .toDF("user_id", "event_id", "event_type", "ts")

    val stream = MemoryStream[(Long, Long, Long, String)]
    stream.addData(rows: _*)
    val sdf = stream.toDF.toDF("event_id", "min", "user_id", "event_type")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("timestamp_millis(min * 60000)").as("ts"))
    val q = Streams.clickAttributionStreaming(sdf).writeStream
      .format("memory").queryName("attrib_test").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("attrib_test")
      .groupBy(col("click_id"))
      .agg(count(lit(1)).as("n_views"),
        min(expr("unix_micros(click_ts) - unix_micros(view_ts)")).as("min_gap_us"))
      .orderBy("click_id").collect().toSeq
    val batch = Streams.clickAttribution(toDf(rows))
      .orderBy("click_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(_.getLong(0)) == Seq(4L, 6L)) // click 8 has no view in window
  }

  test("streaming CDC compaction: tombstones outrank late arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[CdcOp]
    val q = cdcCompactStreaming(stream.toDS()).writeStream
      .format("memory").queryName("cdc_edge").outputMode("update").start()
    try {
      // batch 1: key 1 inserted then deleted; key 2 inserted
      stream.addData(CdcOp(1L, 1L, "I", "O", 10.0), CdcOp(1L, 3L, "D", "O", 10.0),
        CdcOp(2L, 1L, "I", "F", 20.0))
      q.processAllAvailable()
      // batch 2: a LATE lower-seq update for key 1 — must NOT resurrect it;
      // key 2 re-priced
      stream.addData(CdcOp(1L, 2L, "U", "O", 99.0), CdcOp(2L, 2L, "U", "F", 25.0))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("cdc_edge").as[CdcRow].collect()
      .groupBy(_.k).map { case (k, rs) => k -> rs.maxBy(_.seq) }
    assert(last(1L).op == "D", s"tombstone lost: ${last(1L)}")
    assert(last(2L) == CdcRow(2L, 2L, "U", "F", 25.0))
  }

  test("streaming CDC view equals the batch compaction on the full changelog") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val log = graft.relational.RelationalQueries.cdcLog(spark, sf)
      .as[CdcOp].collect()
    // replay in two micro-batches split mid-stream (keys straddle the split)
    val (b1, b2) = log.sortBy(o => (o.seq, o.k)).splitAt(log.length / 2)
    val stream = MemoryStream[CdcOp]
    val q = cdcCompactStreaming(stream.toDS()).writeStream
      .format("memory").queryName("cdc_full").outputMode("update").start()
    try {
      stream.addData(b1: _*); q.processAllAvailable()
      stream.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // the view's final row per key, aggregated like the batch face
    val streamed = spark.table("cdc_full").as[CdcRow]
      .groupByKey(_.k).reduceGroups((a, b) => if (a.seq >= b.seq) a else b)
      .map(_._2).filter(_.op != "D")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("price")), 2).as("sum_price"),
        sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_updated"))
      .orderBy("status").collect().toSeq
    val batch = graft.relational.RelationalQueries.cdcCompact(spark, sf)
      .collect().toSeq
    assert(streamed == batch)
  }

  test("streaming top-k users: MG sketch state across micro-batches equals the batch face") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val evs = graft.sources.Tables.events(spark, sf)
      .select($"user_id", $"event_type").as[(Long, String)].collect()
    // three micro-batches force real state-store merges of the MG partials
    val (b1, rest) = evs.splitAt(evs.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val stream = MemoryStream[(Long, String)]
    val q = Streams.topkUsersStreaming(stream.toDF.toDF("user_id", "event_type"))
      .writeStream.format("memory").queryName("topk_users_test")
      .outputMode("complete").start()
    try {
      for (b <- Seq(b1, b2, b3)) { stream.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("topk_users_test")
      .orderBy("event_type", "rn").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSeq
    val batch = Streams.topkUsersBatch(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSeq
    assert(streamed == batch)
  }

  test("streaming retract aggregate: deletes arriving late cancel exactly (≡ batch face)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // the incrementalAggRetract changelog: base +1, inserts +1, deletes −1
    val e = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
      .as[(Long, String, Double)].collect()
      // mirror Cast(double AS DECIMAL(18,2)): exact binary value, HALF_UP
      .map { case (id, t, v) =>
        (id, t, BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)) }
    val base = e.filter(_._1 % 10 != 0).map { case (_, t, v) => (t, 1L, v) }
    val ins = e.filter(_._1 % 10 == 0).map { case (_, t, v) => (t, 1L, v) }
    val del = e.filter(x => x._1 % 10 != 0 && x._1 % 20 == 3)
      .map { case (_, t, v) => (t, -1L, v) }
    val stream = MemoryStream[(String, Long, BigDecimal)]
    val q = Streams.retractAggStreaming(
        stream.toDF.toDF("event_type", "w", "v")
          .withColumn("v", col("v").cast("decimal(18,2)")))
      .writeStream.format("memory").queryName("retract_agg_test")
      .outputMode("complete").start()
    try {
      // deletes land two batches after the rows they retract
      for (b <- Seq(base, ins, del)) { stream.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("retract_agg_test").orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val batch = graft.relational.RelationalQueries.incrementalAggRetract(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(streamed == batch)
  }
}
