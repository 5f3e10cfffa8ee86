package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.sources.Tables

/** Structured Streaming surface over the `events` table.
  *
  * Both operators are written once and run in BOTH modes:
  *  - [[hourlyByType]] is mode-agnostic: the same plan aggregates a static
  *    DataFrame (oracle-checked below) or a stream (watermark + tumbling
  *    event-time window; late data beyond 2 h dropped, state bounded).
  *  - sessionization has a batch face (window functions — the oracle) and
  *    a streaming face (flatMapGroupsWithState) asserted equivalent in the
  *    spec. State per user is O(1) (start/last/n/sum), keyed shuffle on
  *    user_id — the layout that scales to 1000 executors.
  */
object Streams {

  /** Tumbling 1-hour event-time windows per event type. On a stream, a
    * 2-hour watermark bounds state; on a batch frame the same expression
    * is a plain hash aggregate. */
  def hourlyByType(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "2 hours") else events
    src
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  def hourlyBatch(spark: SparkSession, dir: String): DataFrame =
    hourlyByType(Tables.events(spark, dir))
      .orderBy("window_start", "event_type")

  /** Streaming tail-latency monitor: p95 of `value` per (hour, type) via
    * the MERGEABLE t-digest sketch — the only percentile that can
    * partial-aggregate under a watermarked window (exact percentile
    * buffers raw values; a sketch's state is bounded). One plan, both
    * modes, like [[hourlyByType]]. */
  def hourlyP95(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "2 hours") else events
    src
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("approx_percentile(value, 0.95, 1000)").as("approx_p95_raw"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("approx_p95_raw"))
  }

  /** Oracle-hashable face (the X30 pattern): exact p95 columns + an
    * in-plan boolean pinning the sketch — DuckDB computes the exact side
    * and literal TRUE, so sketch drift turns the row red. The gate is
    * NOT a relative-error test (on sparse windows the sketch returns an
    * observed value while exact p95 interpolates between spaced points,
    * so relative error is unbounded); it is the sketch's actual
    * contract: the estimate must land within the order statistics
    * bracketing the p95 rank (±1 rank headroom). Exact and sketch run
    * as SEPARATE aggregates re-joined on the window key: two
    * TypedImperativeAggregates in one Aggregate is the measured 10×
    * cliff (see [[graft.relational.RelationalQueries.approxAgg]]). */
  def hourlyP95Batch(spark: SparkSession, dir: String): DataFrame = {
    val sorted = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(array_sort(collect_list(col("value"))).as("vs"))
      .select(col("w.start").as("window_start"), col("event_type"),
        // long like every other count in the suite (and the oracle's
        // BIGINT); bare size() is 32-bit — wrong type and wrong ceiling
        size(col("vs")).cast("long").as("n"), col("vs"))
    val idx0 = floor(lit(0.95) * (col("n") - 1)).cast("int") // 0-based lower
    val frac = lit(0.95) * (col("n") - 1) - idx0
    val nI = col("n").cast("int") // element_at indices must be INT
    val lo = element_at(col("vs"), idx0 + 1)
    val hi = element_at(col("vs"), least(nI, idx0 + 2))
    hourlyP95(Tables.events(spark, dir))
      .select(col("window_start"), col("event_type"), col("approx_p95_raw"))
      .join(sorted, Seq("window_start", "event_type"))
      .select(col("window_start"), col("event_type"), col("n"),
        round(lo + (hi - lo) * frac, 4).as("exact_p95"),
        (col("approx_p95_raw") >=
            element_at(col("vs"), greatest(lit(1), idx0)) &&
          col("approx_p95_raw") <=
            element_at(col("vs"), least(nI, idx0 + 3)))
          .as("approx_in_rank_band"))
      .orderBy("window_start", "event_type")
  }

  val SessionGapUs: Long = 30L * 60 * 1000000 // 30 min in microseconds
  /** The SAME gap as an interval string, derived (not re-stated) so the
    * session_window gap and the session watermarks cannot drift from the
    * arithmetic that uses [[SessionGapUs]] — the two encodings were
    * previously independent literals. */
  val SessionGapInterval: String = s"${SessionGapUs / 60000000L} minutes"

  /** Batch sessionization: lag → new-session flag → running session number
    * → per-session aggregate. This is the oracle semantics for the
    * streaming path. */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    events
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull || col("us") - col("prev") > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("session_no", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"),
        count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"), col("session_no"),
        col("start_us"), (col("end_us") - col("start_us")).as("duration_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_no")
  }

  def sessionsBatch(spark: SparkSession, dir: String): DataFrame =
    sessionizeBatch(Tables.events(spark, dir))

  // ---- streaming sessionization (custom state machine) ----

  final case class Ev(user_id: Long, us: Long, value: Double)
  final case class EvT(user_id: Long, us: Long, value: Double,
      event_ts: java.sql.Timestamp)
  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  final case class Session(user_id: Long, start_us: Long, duration_us: Long,
      n_events: Long, sum_value: Double)

  private def emit(user: Long, s: SessionState): Session =
    Session(user, s.start, s.last - s.start, s.n,
      // EXACTLY Spark's round(col, 4) on a double (BigDecimal.valueOf =
      // shortest-decimal, HALF_UP): math.round(sum*1e4)/1e4 diverges on
      // values like 1.00005 (binary ≈ …4999…, floor-ties to 1.0 where the
      // batch face emits 1.0001) and on negatives (half-to-+inf vs
      // half-away-from-zero) — the streaming ≡ batch contract demands the
      // same rounding function, not a lookalike
      java.math.BigDecimal.valueOf(s.sum)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())

  /** Streaming face: one O(1) state per user; emits a session whenever a
    * gap > 30 min is observed (within a micro-batch or across them), and
    * flushes the final open session via an event-time timeout once the
    * watermark passes session end + gap — no future event required.
    *
    * Out-of-order handling: within a micro-batch rows are sorted by event
    * time; across batches the watermark (delay = the session gap) bounds
    * lateness, and an event at-or-before the state's `last` is folded into
    * the open session without moving `last` backwards — so a late-but-
    * within-watermark event can extend a session's count/sum but never
    * reorders its boundaries (the batch face, which sees all rows sorted,
    * is the oracle for in-order input). */
  def sessionizeStreaming(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.toDF()
      .withColumn("event_ts", timestamp_micros(col("us")))
      .withWatermark("event_ts", SessionGapInterval)
      .as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[EvT], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val done = emit(user, state.get)
            state.remove()
            Iterator.single(done)
          } else {
            val sorted = rows.toSeq.sortBy(_.us)
            var cur = state.getOption.orNull
            val out = Seq.newBuilder[Session]
            for (e <- sorted) {
              if (cur == null) cur = SessionState(e.us, e.us, 1L, e.value)
              else if (e.us - cur.last > SessionGapUs) {
                out += emit(user, cur)
                cur = SessionState(e.us, e.us, 1L, e.value)
              } else cur = SessionState(cur.start, math.max(cur.last, e.us),
                cur.n + 1, cur.sum + e.value)
            }
            if (cur != null) {
              state.update(cur)
              // flush when the watermark passes last + gap (clamped above
              // the current watermark — required by the timeout contract)
              state.setTimeoutTimestamp(math.max(
                cur.last / 1000L + SessionGapUs / 1000L,
                state.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          }
      }
  }

  /** Batch face of streaming dedup-keep-first: the earliest event per
    * (user, type) in (event-time, event_id) order, with the key's total
    * event count. The streaming face is `dropDuplicates` on the key with
    * a watermark (state = one fingerprint per key, bounded by the
    * watermark) — asserted against this face in the spec. */
  def dedupFirst(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    events
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_events",
        count(lit(1)).over(Window.partitionBy(col("user_id"), col("event_type"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("first_event_id"), col("us").as("first_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("event_type"))
  }

  def dedupFirstBatch(spark: SparkSession, dir: String): DataFrame =
    dedupFirst(Tables.events(spark, dir))

  val AttribWindowUs: Long = 10L * 60 * 1000000 // 10 min

  /** Batch face of the stream-stream interval join: each click joined to
    * the views by the same user in the preceding 10 minutes (inclusive),
    * aggregated to (n_views, min gap). The streaming face is a
    * watermarked stream-stream join with the same time-range predicate
    * and join type — asserted equivalent in the spec. At scale both sides
    * shuffle on user_id and the watermark bounds the join state.
    *
    * `joinType` "left_outer" keeps every click: n_views = 0 and a NULL gap
    * when no view preceded it in the window. The outer-ness only changes
    * which clicks survive, not the shuffle shape. Each join type counts
    * as its oracle does: COUNT(*) for inner, COUNT(view_id) for outer
    * (they agree on matched rows whenever view_id is non-null). */
  def clickAttribution(events: DataFrame, joinType: String = "inner"): DataFrame = {
    val base = events.select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    val clicks = base.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("us").as("click_us"))
    val views = base.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("us").as("view_us"))
    clicks.join(views,
        col("user_id") === col("v_user") &&
          col("view_us") <= col("click_us") &&
          col("click_us") - col("view_us") <= AttribWindowUs,
        joinType)
      .groupBy(col("click_id"))
      .agg(count(if (joinType == "inner") lit(1) else col("view_id")).as("n_views"),
        min(col("click_us") - col("view_us")).as("min_gap_us"))
      .orderBy(col("click_id"))
  }

  def clickAttributionBatch(spark: SparkSession, dir: String): DataFrame =
    clickAttribution(Tables.events(spark, dir))

  /** Streaming faces for the spec: dedup-keep-first via
    * dropDuplicatesWithinWatermark, and the watermarked stream-stream
    * interval join.
    *
    * WithinWatermark, not plain dropDuplicates: with dedup keys that do
    * not include the event-time column, plain dropDuplicates NEVER evicts
    * its state (the watermark only drops late input rows), so a
    * long-running stream accumulates one state row per key forever —
    * unbounded state-store growth despite the watermark. The
    * WithinWatermark form evicts each fingerprint once the watermark
    * passes it: state is bounded by key-arrival rate × the delay, at the
    * standard trade that a duplicate arriving MORE than the delay after
    * its first occurrence re-emits (pick the delay to cover the real
    * duplication horizon). */
  def dedupStreaming(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** With `joinType` "leftOuter", a click with no view in the window
    * still emits (null view columns) — but only once the watermark passes
    * the end of its join window, because until then a matching view could
    * still arrive. The spec drives the watermark forward with a second
    * micro-batch to prove the deferred emission. */
  def clickAttributionStreaming(events: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val base = events.select(col("user_id"), col("event_id"),
      col("event_type"), col("ts"))
    val clicks = base.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val views = base.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "30 minutes")
    clicks.join(views,
      col("c_user") === col("v_user") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL ${AttribWindowUs / 1000000} SECONDS"),
      joinType)
  }

  /** Stream-static enrichment — the classic "join the stream to a slowly-
    * changing dimension" shape. The static customer side rides a broadcast
    * hash join: no stream-side shuffle, no join state (stream-static joins
    * are stateless by construction), so at scale each executor enriches
    * its own event partitions against the replicated dim. One expression,
    * both modes: batch (the oracle face) or watermarked windowed stream. */
  def enriched(events: DataFrame, customer: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "2 hours") else events
    src.join(
        broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("c_mktsegment"),
        col("n_events"), col("sum_value"))
  }

  def enrichedBatch(spark: SparkSession, dir: String): DataFrame =
    enriched(Tables.events(spark, dir), Tables.customer(spark, dir))
      .orderBy("window_start", "c_mktsegment")

  /** Streaming admission probe — the production shape of the incremental
    * near-dup check (X139/X141): new documents arrive as a STREAM, band
    * signatures are computed inline (the whole MinHash pipeline is
    * stateless native-expression projections, so it runs unchanged
    * inside a micro-batch), and a stream-static join against the landed
    * standing band index emits candidate (new, standing) matches in
    * append mode. NO streaming state at all — the standing side is the
    * static bucketed table, and at scale each executor probes its own
    * micro-batch partitions against it. Matches the batch probe's
    * candidate set exactly (StreamsSpec, cross-micro-batch). */
  def admissionStreaming(newDocs: DataFrame, standingBands: DataFrame): DataFrame =
    graft.dedup.Dedup.bandsOf(newDocs)
      .withColumnRenamed("doc_id", "new_id")
      .join(standingBands
          .select(col("doc_id").as("old_id"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select(col("new_id"), col("old_id"))

  /** foreachBatch sink — the production pattern for sinks Structured
    * Streaming lacks natively (upserts, JDBC, external stores): each
    * micro-batch arrives as a plain DataFrame with a monotonic batch id
    * and is written with the full batch API. Parquet-append here; the
    * batch id is what an idempotent/transactional sink would key its
    * exactly-once bookkeeping on. The checkpoint location makes restarts
    * resume from the last committed batch. */
  def parquetSink(out: DataFrame, path: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val write: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, batchId) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(s"$path/data")
    out.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$path/_checkpoint")
      .foreachBatch(write)
      .start()
  }

  def clickAttributionOuterBatch(spark: SparkSession, dir: String): DataFrame =
    clickAttribution(Tables.events(spark, dir), "left_outer")

  /** The foreachBatch parquet sink RUN end to end as a registered query:
    * stage the events table, stream it back through [[parquetSink]]
    * (a real StreamingQuery — micro-batches, checkpoint, batch ids),
    * then census the sink's output. Lossless pass-through, so the oracle
    * is the same census over the source table. The value sum folds
    * floor(value·1000) into an exact BIGINT — a float SUM's result
    * depends on reduction order, which neither engine pins. */
  def sinkCensusBatch(spark: SparkSession, dir: String): DataFrame = {
    val staging = graft.Scratch.dir("stream_src", dir)
    val sinkDir = graft.Scratch.dir("stream_sink", dir)
    // the sink APPENDS and its checkpoint skips source files it has seen,
    // so a re-run (a warm pass, a repeated Verify) must start from a clean
    // sink and checkpoint or it would double rows / emit nothing
    graft.Scratch.deleteRec(sinkDir)
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    ev.write.mode("overwrite").parquet(staging)
    val stream = spark.readStream.schema(ev.schema).parquet(staging)
    val q = parquetSink(stream, sinkDir)
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(s"$sinkDir/data")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(floor(col("value") * 1000).cast("long")).as("milli_value_sum"))
      .orderBy(col("event_type"))
  }

  /** The streaming admission probe RUN end to end as a registered query:
    * the incoming batch (doc_id % 5 = 0) staged as files, streamed back,
    * band signatures computed inside the micro-batches, stream-static
    * joined to the standing band index, appended to a parquet sink.
    * Stateless append → the emitted pair set equals the batch probe's
    * exactly, so [[graft.dedup.DedupOracles.standingProbe]] binds. */
  def admissionStreamingBatch(spark: SparkSession, dir: String): DataFrame = {
    val staging = graft.Scratch.dir("admission_new", dir)
    val outRoot = graft.Scratch.dir("admission_out", dir)
    graft.Scratch.deleteRec(outRoot)
    val newDocs = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
    newDocs.write.mode("overwrite").parquet(staging)
    val stream = spark.readStream.schema(newDocs.schema).parquet(staging)
    val q = admissionStreaming(stream, graft.dedup.Dedup.standingBands(spark, dir))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outRoot/_checkpoint")
      .format("parquet")
      .option("path", s"$outRoot/data")
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(s"$outRoot/data")
      .distinct()
      .orderBy(col("new_id"), col("old_id"))
  }

  /** Distinct users per (hour, type) — written once, both modes. Exact
    * distinct is not incrementally mergeable in append mode, so the
    * streaming form composes watermarked dropDuplicates over (window,
    * type, user) — one state row per distinct key, evicted with the
    * watermark — with a plain count; the batch form is count_distinct.
    * At scale this is the standard two-stage distinct: the dedup state
    * shuffle is keyed by the full composite, the count rides the same
    * partitioning. (approx_count_distinct swaps in when ±2% is allowed —
    * see rel_approx_agg.) */
  def hourlyUsers(events: DataFrame): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", "2 hours")
        .select(window(col("ts"), "1 hour").as("w"), col("event_type"),
          col("user_id"))
        .dropDuplicates("w", "event_type", "user_id")
        .groupBy(col("w"), col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n_users"))
    else
      events
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n_users"))

  def hourlyUsersBatch(spark: SparkSession, dir: String): DataFrame =
    hourlyUsers(Tables.events(spark, dir))
      .orderBy("window_start", "event_type")

  /** Sessionization via the BUILT-IN session_window operator — the native
    * face of [[sessionizeBatch]]/[[sessionizeStreaming]]: Catalyst's
    * SessionWindow aggregation replaces both the window-function batch
    * formulation and the custom state machine. The window's end is
    * last-event + gap, so duration subtracts the trailing gap back out.
    * Same expression runs streaming (watermark + merging session state).
    * Boundary note: session_window treats [start, last+gap) as half-open —
    * an event at exactly last+gap opens a NEW session. */
  def sessionWindowBatch(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = SessionGapUs
    Tables.events(spark, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), SessionGapInterval).as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        (unix_micros(col("w.end")) - unix_micros(col("w.start")) - gapUs)
          .as("duration_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")
  }

  // ---- streaming funnel (multi-step conversion state machine) ----

  final case class FunnelEv(user_id: Long, event_type: String, us: Long,
      event_ts: java.sql.Timestamp)
  final case class FunnelState(t1: Long, t2: Long, t3: Long) // -1 = unset
  final case class StageAdvance(user_id: Long, stage: Int, stage_us: Long)

  /** Batch face of the streaming funnel: one row per (user, stage
    * reached), carrying the stage's qualifying timestamp — exactly the
    * advance records the streaming state machine emits. Same chained-MIN
    * semantics as [[graft.relational.RelationalQueries.funnel]] (stage
    * n+1 strictly after stage n), shaped per-user instead of as the
    * single summary row. */
  def funnelStagesBatch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("us") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("us") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
    s1.select(col("user_id"), lit(1).as("stage"), col("t1").as("stage_us"))
      .unionByName(s2.select(col("user_id"), lit(2).as("stage"),
        col("t2").as("stage_us")))
      .unionByName(s3.select(col("user_id"), lit(3).as("stage"),
        col("t3").as("stage_us")))
      .orderBy(col("user_id"), col("stage"))
  }

  /** Streaming face: an O(1) per-user state machine over the three stage
    * timestamps, emitting a [[StageAdvance]] the moment a user first
    * clears a stage (append-safe: advances are monotone, never retracted).
    * In-order equality with the batch face holds because the first
    * qualifying event in time order IS the chained MIN; rows are sorted
    * per micro-batch and the watermark bounds cross-batch lateness
    * (the [[sessionizeStreaming]] contract). Cross-batch DISORDER is the
    * documented boundary: advances are decided as events arrive, so a
    * stage-k event landing in an earlier micro-batch than its stage-(k−1)
    * predecessor is consumed (ignored), not buffered for replay once the
    * predecessor shows up — where the batch chained-MIN, with hindsight,
    * would count it. The watermark bounds lateness; it does not reorder
    * across batches. Feed per-user in-order input (e.g. compacted by
    * event time) when exact batch equality is required; StreamsSpec pins
    * both the in-order equality and the disorder semantics. */
  def funnelStreaming(events: DataFrame): Dataset[StageAdvance] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("event_ts", timestamp_micros(col("us")))
      .withWatermark("event_ts", SessionGapInterval)
      .as[FunnelEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageAdvance](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[FunnelEv], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = Seq.newBuilder[StageAdvance]
          for (e <- rows.toSeq.sortBy(_.us)) e.event_type match {
            case "view" if s.t1 < 0 =>
              s = s.copy(t1 = e.us); out += StageAdvance(user, 1, e.us)
            case "click" if s.t1 >= 0 && s.t2 < 0 && e.us > s.t1 =>
              s = s.copy(t2 = e.us); out += StageAdvance(user, 2, e.us)
            case "purchase" if s.t2 >= 0 && s.t3 < 0 && e.us > s.t2 =>
              s = s.copy(t3 = e.us); out += StageAdvance(user, 3, e.us)
            case _ =>
          }
          state.update(s)
          out.result().iterator
      }
  }

  // ---- streaming CDC compaction (continuously-maintained view) ----

  final case class CdcOp(k: Long, seq: Long, op: String, status: String,
      price: Double)
  final case class CdcRow(k: Long, seq: Long, op: String, status: String,
      price: Double)

  /** Streaming face of
    * [[graft.relational.RelationalQueries.cdcCompact]] — the continuously
    * maintained materialized view over a CDC feed. State per key is the
    * single highest-seq operation seen so far (O(1), no log retention);
    * each micro-batch emits the key's refreshed row (Update semantics —
    * a downstream sink upserts on `k`). Delete tombstones stay IN state
    * (they must outrank late lower-seq arrivals — dropping them would
    * resurrect the row) and are filtered at read time, exactly like the
    * batch face's post-agg filter. */
  def cdcCompactStreaming(log: Dataset[CdcOp]): Dataset[CdcRow] = {
    import log.sparkSession.implicits._
    log.groupByKey(_.k)
      .mapGroupsWithState[CdcOp, CdcRow](GroupStateTimeout.NoTimeout) {
        (k: Long, ops: Iterator[CdcOp], state: GroupState[CdcOp]) =>
          val best = (state.getOption.iterator ++ ops).maxBy(_.seq)
          state.update(best)
          CdcRow(k, best.seq, best.op, best.status, best.price)
      }
  }

  /** Retraction-aware streaming aggregate view — the streaming face of
    * [[graft.relational.RelationalQueries.incrementalAggRetract]]: a
    * signed-weight changelog (+1 inserts, −1 deletes — a Flink-style
    * retract stream) flows through a grouped aggregate in complete mode,
    * so the state-store partials per key are exactly the (Σw, Σw·v)
    * pair and a delete arriving batches after its insert cancels it
    * EXACTLY (value mass rides DECIMAL(18,2): a float that subtracts
    * what it once added drifts; the decimal returns bit-for-bit — which
    * is what lets the spec assert streamed ≡ batch recompute). O(1)
    * state per key regardless of changelog length. */
  def retractAggStreaming(changes: DataFrame): DataFrame =
    changes
      .groupBy(col("event_type"))
      // cast v BEFORE the aggregate: the exact-cancellation guarantee is
      // THIS function's contract, so it must not depend on the caller
      // pre-casting — summing doubles and casting the drifted result to
      // decimal afterwards is exactly the float-subtracts-what-it-added
      // failure the doc above promises away
      .agg(sum(col("w")).as("n_events"),
        sum(col("w").cast("decimal(18,2)") * col("v").cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("sv"))
      .select(col("event_type"), col("n_events"),
        col("sv").cast("double").as("sum_value"),
        round(col("sv").cast("double") / col("n_events"), 6).as("avg_value"))

  /** Per-type heavy-hitter users via the mergeable Misra–Gries sketch
    * ([[graft.functions.TopKSketchAgg]]) — the streaming shape that makes
    * the sketch earn its keep: the k-bounded counter map IS the
    * aggregation state, so state per group stays O(k) no matter how many
    * distinct users flow past (an exact streaming top-k would need
    * unbounded per-group state). k=4096 far exceeds per-type user
    * cardinality at every gated SF (1 500 at sf0.1), so the batch face
    * runs in the sketch's exact regime and the oracle is the exact
    * per-type top-3. */
  def topkUsers(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(graft.functions.GraftFunctions
        .topkSketch(col("user_id").cast("string"), 4096, 3).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rn"),
        col("col.word").as("user_key"), col("col.n").as("n"))

  def topkUsersBatch(spark: SparkSession, dir: String): DataFrame =
    topkUsers(Tables.events(spark, dir))
      .orderBy(col("event_type"), col("rn"))

  /** The same aggregate over an unbounded source (complete output mode:
    * the state-store buffers are the MG partials; each micro-batch merges
    * new partials into them and re-emits the current top-3). */
  def topkUsersStreaming(events: DataFrame): DataFrame =
    topkUsers(events)

  /** Watermark late-data accounting — the admission arithmetic Structured
    * Streaming applies, made exactly checkable: micro-batch assignment is
    * the deterministic arrival order (event_id is the ingest sequence;
    * 1-in-7 events are injected as stragglers arriving ~4 batches — ≈6
    * event-days — after their event time, same injection discipline as
    * [[graft.text.TextAnalysis.piiRedact]]), the watermark entering batch
    * b is max(event time over batches < b) − 1 h, and a row is LATE iff
    * its event time is behind that watermark — exactly the row a
    * watermarked streaming aggregate would drop. Per-batch admission
    * report; the only window runs over the BATCH-level frame (row count =
    * number of micro-batches, never event-sized). */
  def lateAuditBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextHash
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"),
        (TextHash.strHash(concat(lit("late:"), col("event_id").cast("string")))
          % 7).as("g"))
      .select(col("ts"),
        expr("(event_id + CASE WHEN g = 0 THEN 2000 ELSE 0 END) DIV 500")
          .as("batch"))
    val bm = ev.groupBy(col("batch"))
      .agg(max(col("ts")).as("bmax"), count(lit(1)).as("n_rows"))
    val wm = bm.withColumn("watermark",
      expr("max(bmax) OVER (ORDER BY batch " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - INTERVAL 1 HOUR"))
      .select(col("batch"), col("n_rows"), col("watermark"))
    val late = ev.join(wm.select(col("batch"), col("watermark")), Seq("batch"))
      .groupBy(col("batch"))
      .agg(sum(when(col("watermark").isNotNull && col("ts") < col("watermark"),
        1L).otherwise(0L)).as("n_late"))
    wm.join(late, Seq("batch"))
      .select(col("batch"), col("n_rows"), col("n_late"), col("watermark"))
      .orderBy(col("batch"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_late_audit" -> lateAuditBatch,
    "stream_topk_users" -> topkUsersBatch,
    "stream_hourly_p95" -> hourlyP95Batch,
    "stream_funnel_stages" -> funnelStagesBatch,
    "stream_session_window" -> sessionWindowBatch,
    "stream_hourly_users" -> hourlyUsersBatch,
    "stream_enriched" -> enrichedBatch,
    "stream_hourly_by_type" -> hourlyBatch,
    "stream_sessions" -> sessionsBatch,
    "stream_dedup_first" -> dedupFirstBatch,
    "stream_click_attrib" -> clickAttributionBatch,
    "stream_click_attrib_outer" -> clickAttributionOuterBatch,
    "stream_sink_census" -> sinkCensusBatch,
    "stream_admission" -> admissionStreamingBatch)
}

object StreamOracles {

  val hourlyBatch: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |       CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  val sessionsBatch: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
       |flagged AS (
       |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
       |                   OR us - lag(us) OVER w > ${Streams.SessionGapUs}
       |                 THEN 1 ELSE 0 END AS new_sess
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |numbered AS (
       |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
       |  FROM flagged)
       |SELECT user_id, session_no, min(us) AS start_us,
       |       max(us) - min(us) AS duration_us,
       |       CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 4) AS sum_value
       |FROM numbered GROUP BY user_id, session_no
       |ORDER BY user_id, session_no""".stripMargin

  val dedupFirst: String =
    """WITH keyed AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
      |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                            ORDER BY epoch_us(ts), event_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_events
      |  FROM events)
      |SELECT user_id, event_type, event_id AS first_event_id, us AS first_us,
      |       n_events
      |FROM keyed WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** LEFT JOIN shadow of the outer interval join: COUNT(v.event_id) is 0
    * and MIN(gap) NULL for clicks with no view in the window. */
  val clickAttribOuter: String =
    s"""SELECT c.event_id AS click_id,
       |       COUNT(v.event_id) AS n_views,
       |       MIN(epoch_us(c.ts) - epoch_us(v.ts)) AS min_gap_us
       |FROM (SELECT * FROM events WHERE event_type = 'click') c
       |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
       |  ON c.user_id = v.user_id
       | AND epoch_us(v.ts) <= epoch_us(c.ts)
       | AND epoch_us(c.ts) - epoch_us(v.ts) <= ${Streams.AttribWindowUs}
       |GROUP BY c.event_id
       |ORDER BY click_id""".stripMargin

  /** The sink round trip is lossless, so the census binds directly to the
    * source table; floor(value·1000) keeps the sum an exact BIGINT. */
  val sinkCensus: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |       CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
      |         AS milli_value_sum
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val clickAttrib: String =
    s"""SELECT c.event_id AS click_id,
       |       COUNT(*) AS n_views,
       |       MIN(epoch_us(c.ts) - epoch_us(v.ts)) AS min_gap_us
       |FROM (SELECT * FROM events WHERE event_type = 'click') c
       |JOIN (SELECT * FROM events WHERE event_type = 'view') v
       |  ON c.user_id = v.user_id
       | AND epoch_us(v.ts) <= epoch_us(c.ts)
       | AND epoch_us(c.ts) - epoch_us(v.ts) <= ${Streams.AttribWindowUs}
       |GROUP BY c.event_id
       |ORDER BY click_id""".stripMargin

  val enriched: String =
    """SELECT date_trunc('hour', ts) AS window_start, c_mktsegment,
      |       CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2
      |ORDER BY window_start, c_mktsegment""".stripMargin

  val hourlyUsers: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  // session_window's [start, last+gap) is half-open: an event at exactly
  // last+gap opens a new session, hence >= (not >) in the flag
  val sessionWindow: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
       |flagged AS (
       |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
       |                   OR us - lag(us) OVER w >= ${Streams.SessionGapUs}
       |                 THEN 1 ELSE 0 END AS new_sess
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |numbered AS (
       |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
       |  FROM flagged)
       |SELECT user_id, min(us) AS start_us,
       |       max(us) - min(us) AS duration_us,
       |       CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 4) AS sum_value
       |FROM numbered GROUP BY user_id, session_no
       |ORDER BY user_id, start_us""".stripMargin

  val funnelStages: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (SELECT user_id, MIN(us) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN s2 ON e.user_id = s2.user_id
      |       WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
      |SELECT user_id, 1 AS stage, t1 AS stage_us FROM s1
      |UNION ALL SELECT user_id, 2, t2 FROM s2
      |UNION ALL SELECT user_id, 3, t3 FROM s3
      |ORDER BY user_id, stage""".stripMargin

  val hourlyP95: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       ROUND(quantile_cont(value, 0.95), 4) AS exact_p95,
      |       TRUE AS approx_in_rank_band
      |FROM events GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  // exact per-type top-3 — the MG sketch runs in its exact regime
  val topkUsers: String =
    """SELECT event_type, CAST(rn AS INT) AS rn, user_key, n FROM (
      |  SELECT event_type, CAST(user_id AS VARCHAR) AS user_key,
      |         CAST(COUNT(*) AS BIGINT) AS n,
      |         ROW_NUMBER() OVER (PARTITION BY event_type
      |           ORDER BY COUNT(*) DESC, CAST(user_id AS VARCHAR)) AS rn
      |  FROM events GROUP BY event_type, user_id)
      |WHERE rn <= 3
      |ORDER BY event_type, rn""".stripMargin

  /** Late-data audit: identical straggler injection, batch-level window,
    * BIGINT admission counts. */
  val lateAudit: String = {
    val g = graft.functions.TextHashSql.strHash("'late:' || CAST(event_id AS VARCHAR)")
    s"""WITH ev AS (SELECT ts,
       |    (event_id + CASE WHEN ($g % 7) = 0 THEN 2000 ELSE 0 END) // 500 AS batch
       |  FROM events),
       |bm AS (SELECT batch, MAX(ts) AS bmax, CAST(COUNT(*) AS BIGINT) AS n_rows
       |       FROM ev GROUP BY 1),
       |wm AS (SELECT batch, n_rows,
       |         MAX(bmax) OVER (ORDER BY batch
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |           - INTERVAL 1 HOUR AS watermark
       |       FROM bm),
       |late AS (SELECT e.batch,
       |           CAST(SUM(CASE WHEN w.watermark IS NOT NULL AND e.ts < w.watermark
       |                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late
       |         FROM ev e JOIN wm w ON e.batch = w.batch GROUP BY 1)
       |SELECT wm.batch, wm.n_rows, late.n_late, wm.watermark
       |FROM wm JOIN late ON wm.batch = late.batch ORDER BY wm.batch""".stripMargin
  }

  val all: Map[String, String] = Map(
    "stream_late_audit" -> lateAudit,
    "stream_topk_users" -> topkUsers,
    "stream_hourly_p95" -> hourlyP95,
    "stream_funnel_stages" -> funnelStages,
    "stream_session_window" -> sessionWindow,
    "stream_hourly_users" -> hourlyUsers,
    "stream_enriched" -> enriched,
    "stream_hourly_by_type" -> hourlyBatch,
    "stream_sessions" -> sessionsBatch,
    "stream_dedup_first" -> dedupFirst,
    "stream_click_attrib" -> clickAttrib,
    "stream_click_attrib_outer" -> clickAttribOuter,
    "stream_sink_census" -> sinkCensus,
    // the streaming probe emits exactly the batch probe's candidate pairs
    "stream_admission" -> graft.dedup.DedupOracles.standingProbe)
}
