package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextHash
import graft.sources.Tables

/** Text-analysis operators over the `documents` table — the per-document
  * scoring pass of a large-scale training-data pipeline (language ID,
  * quality signals, token stats, fingerprints).
  *
  * All of these are narrow (per-row) transformations: at 100 TB they run
  * map-only over the parquet scan with full column pruning — the scan reads
  * only `doc_id` + `text` (verify via `.explain` ReadSchema) — and no
  * shuffle except the final presentation orderBy, which callers drop in
  * production (kept here so oracle comparison is total-order deterministic).
  */
object TextAnalysis {

  /** Gram-barrier width for a documents frame: the corpus' total chars
    * (one footer-statistics column sum — the eager staging pattern) fed
    * through [[graft.Scale.partitionsForChars]]. Char volume is the
    * honest basis: per-char shingling emits ~1 gram row per char, while
    * doc counts miss long docs and parquet file bytes miss encoding
    * (round-10 finding: the sf10 rehearsal corpus encodes 10×+ smaller
    * than its in-memory rows, which left every byte-based dial at the
    * 32-partition floor). At sf ≤ 0.1 this resolves to the session floor
    * — today's plans bit-for-bit. */
  private def gramBarrierParts(docs: DataFrame): Int = {
    val chars = Option(docs.agg(sum(col("n_chars"))).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    graft.Scale.partitionsForChars(docs.sparkSession, chars)
  }

  /** Marker stopwords per language, scored by simple membership count —
    * an n-gram-free variant of the classic stopword-profile language ID.
    * Fixed iteration order (sorted keys) keeps the argmax deterministic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "de", "los", "que", "y"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  private def langScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers)))

  /** Per-doc token statistics (token counting: whitespace tokenization). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextHash.tokens(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct_tokens"),
      length(col("text")).as("n_chars_actual"),
      round(
        aggregate(toks, lit(0L), (s, t) => s + length(t)).cast("double") / size(toks),
        4).as("avg_token_len"),
      aggregate(toks, lit(0), (m, t) => greatest(m, length(t))).as("max_token_len"))
      .orderBy("doc_id")
  }

  /** The 'good' gate of [[quality]] — 20..200 tokens with an English
    * stopword ratio above 1% — as a shared column predicate, so
    * [[annealMix]] (which its doc promises allocates over "docs passing
    * the quality 'good' gate") can never drift from the definition the
    * quality report publishes. */
  private def qualityGoodGate: org.apache.spark.sql.Column = {
    val toks = TextHash.tokens(col("text"))
    val nTok = size(toks)
    val stopRatio =
      langScore(toks, langMarkers.toMap.apply("en")).cast("double") / nTok
    nTok >= 20 && nTok <= 200 && stopRatio > 0.01
  }

  /** Quality scoring: length, stopword ratio, lexical diversity, bucketed
    * verdict — the heuristics a pretraining filter applies per document. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextHash.tokens(col("text"))
    val nTok = size(toks)
    val stopRatio = langScore(toks, langMarkers.toMap.apply("en")).cast("double") / nTok
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    Tables.documents(spark, dir).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      round(stopRatio, 4).as("stopword_ratio"),
      round(diversity, 4).as("lexical_diversity"),
      round(length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
        length(col("text")), 4).as("alpha_ratio"),
      when(qualityGoodGate, lit("good"))
        .when(nTok >= 10, lit("fair"))
        .otherwise(lit("poor")).as("quality_bucket"))
      .orderBy("doc_id")
  }

  /** Language ID by marker-stopword profile. Argmax over languages in fixed
    * (alphabetical) order; all-zero scores → "und". */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextHash.tokens(col("text"))
    val scores = langMarkers.map { case (l, ms) => l -> langScore(toks, ms) }
    val best = greatest(scores.map(_._2): _*)
    val pick = scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(best > 0 && s === best, lit(l)).otherwise(acc)
    }
    // foldRight + overwrite-first-match keeps alphabetical priority: the
    // first language (de) wins ties because its `when` is outermost.
    Tables.documents(spark, dir).select(
      col("doc_id") +: col("lang").as("declared_lang") +:
        scores.map { case (l, s) => s.as(s"score_$l") } :+
        pick.as("detected_lang"): _*)
      .orderBy("doc_id")
  }

  /** Temperature-scaled sampling shares — the multilingual/multi-source
    * mixing table (mT5 / XLM-R style): per source, its sampled share
    * under p_s ∝ m_s^α for α ∈ {0.25, 0.5, 1.0}, showing how lower
    * temperature flattens the head sources and lifts the tail. The
    * exponents are chosen as sqrt CHAINS (m^0.5 = sqrt, m^0.25 =
    * sqrt∘sqrt): IEEE sqrt is correctly rounded, so both engines
    * compute bit-identical powers with no pow()-libm risk; powers then
    * quantize to micro-units so the per-α normalizer is an exact BIGINT
    * sum (order-independent), divided once per row. The corpus reduces
    * to a #sources frame in one keyed aggregate; everything after is
    * metadata algebra. */
  def temperatureShares(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(spark, dir)
      .select(col("source"), size(TextHash.tokens(col("text"))).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("m_tokens"))
      .localCheckpoint(true)
    val md = col("m_tokens").cast("double")
    val temps: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "0.25" -> sqrt(sqrt(md)), "0.5" -> sqrt(md), "1.0" -> md)
    val u = temps.map { case (a, p) =>
      m.select(lit(a).as("alpha"), col("source"), col("m_tokens"),
        floor(p * 1e6 + 0.5).cast("long").as("q"))
    }.reduce(_ unionByName _)
    val tots = u.groupBy(col("alpha")).agg(sum(col("q")).as("tot"))
    u.join(broadcast(tots), Seq("alpha"))
      .select(col("alpha"), col("source"), col("m_tokens"),
        round(col("q").cast("double") / col("tot"), 6).as("share"))
      .orderBy(col("alpha"), col("source"))
  }

  /** Duplicate n-gram coverage — the memorization-risk scalar from the
    * dedup literature (Lee et al. 2022's "fraction of corpus n-grams
    * occurring more than once"): all 8-gram occurrences WITH multiplicity
    * (unlike the dedup shingle sets, which dedupe per doc), counted
    * corpus-wide, reporting total/distinct mass, the occurrence mass in
    * duplicated grams, the removable excess (Σ(c−1)), and the dup
    * fraction. One gram-hash keyed aggregate: 8-byte keys shuffle with
    * map-side partials, the text scan is map-only — the canonical
    * corpus-statistic shape at any scale. */
  def dupNgramCoverage(spark: SparkSession, dir: String, n: Int = 8): DataFrame =
    Tables.documents(spark, dir)
      // native fused pass (ShingleAllExpr, multiplicity kept); the
      // interpreted let(tokenHashes)→shingleHashes chain remains as the
      // executable spec (NativeExpressionsSpec equivalence)
      .select(explode(
        graft.functions.GraftFunctions.shingleAll(col("text"), n)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_grams_total"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_occurrences"),
        sum(when(col("c") > 1, col("c") - 1).otherwise(0L)).as("removable_mass"))
      .select(col("n_grams_total"), col("n_distinct"),
        col("dup_occurrences"), col("removable_mass"),
        round(col("dup_occurrences").cast("double") / col("n_grams_total"), 6)
          .as("dup_fraction"))

  /** Token-mass sequence-length quantiles — "what max_seq_len covers
    * 50/90/99% of the corpus tokens": the table a pretraining config
    * reads before fixing context length, where the cost of a longer
    * context is weighed against the token mass truncation would discard.
    * The corpus collapses to a per-distinct-length frame in one keyed
    * aggregate (bounded by max doc length, metadata-scale); the running
    * mass is a window over THAT frame, and each quantile row is picked
    * with pure integer arithmetic (cum·100 ≥ q·total — no float
    * thresholds to disagree across engines). */
  def seqLenQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byLen = Tables.documents(spark, dir)
      .select(size(TextHash.tokens(col("text"))).cast("long").as("len"))
      .groupBy(col("len")).agg(count(lit(1)).as("n_docs"))
      .withColumn("mass", col("len") * col("n_docs"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("len")).rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = byLen.withColumn("cum", sum(col("mass")).over(wCum))
    val tot = cum.agg(sum(col("mass")).as("tot"))
    val qs = Seq(50, 90, 99).toDF("q")
    cum.crossJoin(broadcast(tot))
      .join(broadcast(qs), col("cum") * 100 >= col("q") * col("tot"))
      .groupBy(col("q"))
      .agg(min(struct(col("len"), col("cum"), col("tot"))).as("pick"))
      .select(col("q"), col("pick.len").as("max_seq_len"),
        col("pick.cum").as("covered_tokens"), col("pick.tot").as("total_tokens"),
        round(col("pick.cum").cast("double") / col("pick.tot"), 6).as("coverage"))
      .orderBy(col("q"))
  }

  /** Language-ID confusion matrix — declared (metadata) vs detected
    * (n-gram heuristic) language, with per-declared-language share: the
    * audit that tells a multilingual pipeline whether its source metadata
    * can be trusted before routing documents by it. Rides [[langId]] and
    * collapses to a #langs² metadata frame in one keyed aggregate; the
    * per-declared totals arrive by broadcast join, not a window. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cells = langId(spark, dir)
      .groupBy(col("declared_lang"), col("detected_lang"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("declared_lang"))
      .agg(sum(col("n")).as("tot"))
    cells.join(broadcast(totals), Seq("declared_lang"))
      .select(col("declared_lang"), col("detected_lang"), col("n"),
        round(col("n").cast("double") / col("tot"), 6).as("share"))
      .orderBy(col("declared_lang"), col("detected_lang"))
  }

  /** Document fingerprints: md5, polynomial rolling hash, 32-bit SimHash
    * (the codegen'd native expression; TextHash.simhash32 is its
    * interpreted executable spec). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      md5(col("text").cast("binary")).as("md5_fp"),
      TextHash.rollHash(col("text")).as("roll_hash"),
      graft.functions.GraftFunctions
        .simhash32(graft.functions.GraftFunctions
          .tokenHashes(col("text"))).as("simhash"))
      .orderBy("doc_id")

  /** BPE-style pre-tokenization: the regex split a byte-pair-encoding
    * tokenizer applies before merges — letter runs, digit runs, and
    * single punctuation marks each become one pre-token. Counts per class
    * plus the distinct-pretoken cardinality (the vocabulary the BPE merge
    * table would train on). */
  val PreTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeTokens(spark: SparkSession, dir: String): DataFrame = {
    // native one-scan census (PreTokenStatsExpr); the interpreted
    // regexp_extract_all + rlike-filter formulation remains as the
    // executable spec (NativeExpressionsSpec equivalence) and the oracle
    Tables.documents(spark, dir).select(
      col("doc_id"),
      graft.functions.GraftFunctions.preTokenStats(col("text")).as("s"))
      .select(col("doc_id"), col("s.n_pretokens").as("n_pretokens"),
        col("s.n_word").as("n_word"), col("s.n_number").as("n_number"),
        col("s.n_punct").as("n_punct"), col("s.n_vocab").as("n_vocab"))
      .orderBy("doc_id")
  }

  /** Interpreted [[bpeTokens]] census — the executable spec
    * [[graft.functions.PreTokenStatsExpr]] is equivalence-tested against
    * (group 0 = the whole match; Spark defaults to capture group 1). */
  private[graft] def preTokenStatsInterp: Column =
    TextHash.let(regexp_extract_all(col("text"), lit(PreTokenPattern), lit(0)))(ts =>
      struct(
        size(ts).as("n_pretokens"),
        size(filter(ts, t => t.rlike("^[A-Za-z]+$"))).as("n_word"),
        size(filter(ts, t => t.rlike("^[0-9]+$"))).as("n_number"),
        size(filter(ts, t => !t.rlike("^[A-Za-z0-9]"))).as("n_punct"),
        size(array_distinct(ts)).as("n_vocab")))

  /** The deterministic split-gate hash — salted md5-derived hash of
    * doc_id mod 100, banded 80/10/10 (train/valid/test). ONE definition
    * shared by every face that reads the split ([[splitAssign]],
    * [[contamination]], [[corpusBuild]], [[shardManifest]],
    * [[paddingWaste]]): the cross-run stability of this formula is a
    * reproducibility contract, and five inline copies could drift and
    * silently disagree about which documents are test. */
  private def splitHash: org.apache.spark.sql.Column =
    TextHash.strHash(concat(lit("split:"), col("doc_id").cast("string"))) % 100

  /** Deterministic train/valid/test split: assignment is a pure function
    * of doc_id (salted md5-derived hash mod 100 → 80/10/10), so the split
    * is reproducible across engines, runs, and cluster sizes — the
    * property a training-data pipeline needs so re-materializing a split
    * never leaks test docs into train. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    val h = splitHash
    Tables.documents(spark, dir).select(
      col("doc_id"),
      h.as("split_hash"),
      when(h < 80, "train").when(h < 90, "valid").otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Rendezvous (highest-random-weight) sharding — the elastic alternative
    * to `doc_id % N`: each doc goes to the shard maximizing
    * hash(shard, doc), so growing N=8 → 9 moves ONLY the ≈1/9 of docs
    * whose new shard-8 weight wins; modulo sharding would reshuffle ~8/9
    * of a 100 TB corpus. The argmax is pure integer arithmetic both
    * engines compute identically (weight·16 + shard packs the tie-break
    * into one BIGINT; weights < 2³¹ so no overflow). Emits the per-shard
    * census plus the movement count under N→N+1 — the audit that proves
    * the minimal-movement property on real data. Embarrassingly parallel
    * per row; the only shuffle is the final 16-group census. */
  def hrwShards(spark: SparkSession, dir: String): DataFrame = {
    def key(n: Int): Column = greatest((0 until n).map { i =>
      TextHash.strHash(concat(lit(s"hrw:$i:"), col("doc_id").cast("string"))) * 16L + i
    }: _*)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        (key(8) % 16).cast("int").as("shard"),
        (key(9) % 16).cast("int").as("shard9"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(when(col("shard9") =!= col("shard"), 1L).otherwise(0L)).as("n_moved"))
      .orderBy(col("shard"))
  }

  /** Target "high-quality" source for [[dsirImportance]]. */
  val DsirTarget = "src0"

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every doc by how
    * much more likely its unigrams are under a target-domain LM than under
    * the raw-corpus LM — w(doc) = (1/n)·Σ_t c_t·[ln p_T(t) − ln p_R(t)],
    * add-1 smoothing over the shared vocab — and surface the top-20
    * selection. The standard cheap proxy for "looks like the reference
    * corpus" when picking pretraining data. Token stats are two hash
    * aggregates over (token) — corpus-sized, not doc×vocab; the per-doc
    * score folds c·Δ over the TOKEN-SORTED term list so both engines sum
    * the doubles in one order (bit-identical, then 6-dp); the final top-20
    * is TakeOrderedAndProject, never a global sort. */
  def dsirImportance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tok = docs.select(col("doc_id"), col("source"),
      explode(TextHash.tokens(col("text"))).as("token"))
    val perDoc = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
    val rawCnt = tok.groupBy(col("token")).agg(count(lit(1)).as("c_raw"))
    val tgtCnt = tok.filter(col("source") === DsirTarget)
      .groupBy(col("token")).agg(count(lit(1)).as("c_tgt"))
    val vocab = rawCnt.join(tgtCnt, Seq("token"), "left")
      .na.fill(0L, Seq("c_tgt"))
    val scalars = vocab.agg(
      sum(col("c_raw")).as("n_raw"), sum(col("c_tgt")).as("n_tgt"),
      count(lit(1)).as("v"))
    val delta = vocab.crossJoin(broadcast(scalars))
      .select(col("token"),
        expr("ln(CAST(c_tgt + 1 AS DOUBLE) / (n_tgt + v)) - " +
          "ln(CAST(c_raw + 1 AS DOUBLE) / (n_raw + v))").as("delta"))
    perDoc.join(delta, Seq("token"))
      .select(col("doc_id"), col("token"), col("c"),
        (col("c").cast("double") * col("delta")).as("cd"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        array_sort(collect_list(struct(col("token"), col("cd")))).as("terms"))
      .select(col("doc_id"), col("n_tokens"),
        (aggregate(col("terms"), lit(0.0), (acc, e) => acc + e("cd")) /
          col("n_tokens")).as("w"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .orderBy(col("w").desc, col("doc_id")).limit(20)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("w").desc, col("doc_id"))))
      .select(col("rnk"), col("doc_id"), col("source"), col("n_tokens"),
        round(col("w"), 6).as("importance"))
      .orderBy(col("rnk"))
  }

  /** Per-language sampling gates out of 1000 — the corpus-rebalancing
    * knob: the dominant language (en) is downsampled hardest. */
  val sampleRates: Seq[(String, Int)] = Seq(
    "de" -> 800, "en" -> 400, "es" -> 800, "fr" -> 800, "zh" -> 600)

  /** Stratified (per-language) sampling — `sampleBy` made deterministic:
    * keep a doc iff hash(doc_id) mod 1000 < rate(lang). Pure map-only
    * filter: no shuffle, no RNG state, so the sample is identical on any
    * cluster size, retry, or re-materialization (the same reproducibility
    * contract as [[splitAssign]]). At 100 TB this composes with the scan:
    * the gate predicate evaluates per row group with full column pruning. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val h = TextHash.strHash(concat(lit("strat:"), col("doc_id").cast("string"))) % 1000
    val rate = sampleRates.foldRight(lit(0)) { case ((l, r), acc) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), h.as("gate"))
      .filter(col("gate") < rate)
      .orderBy("doc_id")
  }

  /** Distributed sequence packing: documents in doc_id order concatenate
    * into fixed token-budget packs (B = 512); a doc lands in pack
    * floor(exclusive-prefix-sum / B) at offset (prefix mod B) — the
    * chunked-concat packing a pretraining tokenizer shard performs.
    *
    * The prefix sum is computed scalably, not with one global-order window
    * (which would funnel the corpus through a single partition): per-bucket
    * local cumsums (one shuffle keyed by fixed-width doc_id bucket), plus a
    * running total over per-bucket sums — a window over #buckets rows, tiny
    * at any scale — broadcast-joined back onto the buckets. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 512L
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextHash.tokens(col("text"))).cast("long").as("n_tokens"),
        (col("doc_id") / 1000L).cast("long").as("bkt"))
    val wLocal = Window.partitionBy("bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wBkt = Window.orderBy("bkt") // one partition of #buckets rows (tiny)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("bkt").agg(sum("n_tokens").as("tot"))
      .withColumn("offset", coalesce(sum("tot").over(wBkt), lit(0L)))
      .select("bkt", "offset")
    base
      .withColumn("local_excl", coalesce(sum("n_tokens").over(wLocal), lit(0L)))
      .join(broadcast(offsets), "bkt")
      .withColumn("excl", col("offset") + col("local_excl"))
      .select(col("doc_id"), col("n_tokens"),
        floor(col("excl") / lit(B.toDouble)).cast("long").as("pack_id"),
        (col("excl") % B).as("pack_offset"))
      .orderBy("doc_id")
  }

  /** Rare-token scoring — the integer-exact proxy for LM-perplexity
    * filtering: per document, the mean corpus frequency of its tokens and
    * the share of rare tokens (corpus count ≤ 2). Documents dominated by
    * rare tokens are OOV-heavy/noisy — the docs a perplexity filter
    * drops. Two hash aggs ((word) counts, (doc) rollup) + one
    * word-keyed join; all sums are BIGINTs so cross-engine results are
    * exact regardless of aggregation order (a float logprob would
    * hash-mismatch on summation order alone). */
  def rareTokenScore(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("word"))
    val freq = tok.groupBy(col("word")).agg(count(lit(1)).as("freq"))
    tok.join(freq, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("freq")).as("sum_freq"),
        sum(when(col("freq") <= 2, 1L).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"), col("sum_freq"), col("n_rare"),
        round(col("n_rare").cast("double") / col("n_tokens"), 4).as("rare_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Token-length histogram (width-10 buckets) — the corpus-shape summary
    * behind length filtering; one narrow map + tiny keyed agg. */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select((floor(size(TextHash.tokens(col("text"))) / 10) * 10)
        .cast("long").as("bucket_lo"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket_lo")

  /** Quality deciles: rank documents by a composite quality score and
    * bucket into ntile(10) — the shape behind "keep the top-N% of the
    * corpus" filtering. Score = lexical diversity × log(1+tokens),
    * deterministic; decile 1 = best.
    *
    * NTILE semantics without NTILE's global window: a corpus-wide
    * `Window.orderBy` funnels every row through one partition, so the
    * global rank is computed two-phase instead — 19 score cuts from one
    * percentile aggregate range-bucket the rows (a function of score
    * only, so tied scores share a bucket and the exact (score desc,
    * doc_id) order is bucket-local), ranks are bucket-local row_numbers
    * plus per-bucket offsets from a ≤20-row frame, and the decile is
    * NTILE's exact fill formula (first N mod 10 buckets take one extra
    * row) applied to that rank. The cuts steer only WHERE rows are
    * ranked, never the result — no cross-engine sensitivity. */
  def qualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextHash.tokens(col("text"))
    val score = round(
      (size(array_distinct(toks)).cast("double") / size(toks)) *
        log(lit(1.0) + size(toks)), 6)
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), score.as("score"))
    val cuts = scored.agg(expr(
      s"percentile(score, array(${(1 to 19).map(_ / 20.0).mkString(",")}))")
      .as("cuts"))
    // bkt 0 holds the best scores: count of cuts at-or-above the score
    val bucketed = scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("score"),
        aggregate(col("cuts"), lit(0),
          (n, c) => n + when(col("score") <= c, 1).otherwise(0)).as("bkt"))
    val wLocal = Window.partitionBy(col("bkt"))
      .orderBy(col("score").desc, col("doc_id"))
    val wBkt = Window.orderBy(col("bkt")) // ≤20 rows — tiny
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(wBkt), lit(0L)))
      .withColumn("total", sum(col("cnt")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("bkt"), col("offset"), col("total"))
    bucketed.join(broadcast(offsets), "bkt")
      .withColumn("rank", col("offset") + row_number().over(wLocal))
      // NTILE(10): q = N/10, r = N%10; buckets 1..r take q+1 rows
      .withColumn("q", (col("total") / 10).cast("long"))
      .withColumn("r", col("total") % 10)
      .withColumn("decile",
        when(col("rank") <= col("r") * (col("q") + 1),
          ((col("rank") + col("q")) / (col("q") + 1)).cast("int"))
          .otherwise((col("r") +
            (col("rank") - col("r") * (col("q") + 1) + col("q") - 1) / col("q"))
            .cast("int")))
      .filter(col("doc_id") % 10 === 0) // sample the output; ranks use all docs
      .select(col("doc_id"), col("score"), col("decile"))
      .orderBy("doc_id")
  }

  /** Per-language top-5 terms by frequency — the corpus word-count,
    * shaped for scale: explode → one (lang, word) hash agg (map-side
    * partials carry (lang, word, count), never text), then the
    * `row_number <= k` idiom that Spark plans as a partial/final
    * WindowGroupLimit pair, so only 5 rows per language reach the final
    * shuffle. Ties break lexicographically for a total order. */
  def topkWords(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n").desc, col("word"))
    Tables.documents(spark, dir)
      .select(col("lang"), explode(TextHash.tokens(col("text"))).as("word"))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), col("word"), col("n"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 5)
      .orderBy(col("lang"), col("rn"))
  }

  /** Corpus TF-IDF: per-doc term frequency, corpus document frequency,
    * idf = ln((N+1)/(df+1)); reports each word's df, idf, and the max
    * tf·idf any document reaches (top-20 words by df). Three hash aggs —
    * (doc, word), doc length, and word df — plus a doc-keyed and a
    * word-keyed join; the corpus size N rides in as a broadcast scalar.
    * Doubles rounded to 4 dp on both engines (ln ulp differences). */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tok = docs.select(col("doc_id"),
      explode(TextHash.tokens(col("text"))).as("word"))
    val tf = tok.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("m"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val idf = log((col("n") + 1.0) / (col("df") + 1.0))
    tf.join(dl, "doc_id")
      .join(dfreq, "word")
      .crossJoin(broadcast(n))
      .groupBy(col("word"), col("df"), col("n"))
      .agg(max(col("c").cast("double") / col("m") * idf).as("max_raw"))
      .select(col("word"), col("df"),
        round(idf, 4).as("idf"),
        round(col("max_raw"), 4).as("max_tfidf"))
      .orderBy(col("df").desc, col("word"))
      .limit(20)
  }

  /** Gopher-style repetition signals — the within-document duplication
    * heuristics a pretraining quality filter applies: the share of the most
    * frequent word bigram, and the fraction of trigram occurrences that are
    * repeats. Both are computed distributed (explode → (doc, gram) hash agg
    * → per-doc rollup), not with per-row O(n²) array scans: at 100 TB the
    * gram counting is two map-side-combining aggregations whose shuffle
    * carries (doc_id, gram_hash, count) — never text. Thresholds follow the
    * Gopher paper's shape (top-bigram share, duplicate n-gram fraction). */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    // both gram sizes ride ONE scan + ONE explode: each gram carries its
    // size as a marker column, so the corpus tokenizes exactly once
    val grams = Tables.documents(spark, dir).select(
      col("doc_id"),
      explode(TextHash.let(
        graft.functions.GraftFunctions.tokenHashes(col("text")))(th =>
        concat(
          transform(TextHash.shingleHashes(th, 2),
            x => struct(lit(2).as("n"), x.as("gram"))),
          transform(TextHash.shingleHashes(th, 3),
            x => struct(lit(3).as("n"), x.as("gram")))))).as("e"))
      .select(col("doc_id"), col("e.n").as("n"), col("e.gram").as("gram"))
    val stats = grams.groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(col("c")).as("tot"), max(col("c")).as("top"),
        count(lit(1)).as("nd"))
    stats.groupBy(col("doc_id"))
      .agg(
        coalesce(max(when(col("n") === 2, col("tot"))), lit(0L)).as("n_bigrams"),
        coalesce(max(when(col("n") === 2, col("top"))), lit(0L)).as("top_bigram_count"),
        coalesce(max(when(col("n") === 3, col("tot"))), lit(0L)).as("n_trigrams"),
        max(when(col("n") === 3, col("nd"))).as("n_distinct_tg"))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_count"),
        round(coalesce(col("top_bigram_count").cast("double") /
          nullif(col("n_bigrams"), lit(0L)), lit(0.0)), 4).as("top_bigram_share"),
        col("n_trigrams"),
        round(coalesce(lit(1.0) - col("n_distinct_tg").cast("double") /
          nullif(col("n_trigrams"), lit(0L)), lit(0.0)), 4).as("trigram_repeat_ratio"))
      .withColumn("repetition_flag",
        when(col("top_bigram_share") > 0.05 || col("trigram_repeat_ratio") > 0.05,
          lit("repetitive")).otherwise(lit("ok")))
      .orderBy(col("doc_id"))
  }

  /** Train/test contamination check — for every test-split document, the
    * fraction of its distinct 5-gram shingles that also occur anywhere in
    * the train split (the benchmark-leakage scan run before any evaluation).
    * Splits are [[splitAssign]]'s deterministic hash gates, so the check is
    * reproducible at any scale. Plan shape: one distinct over train grams,
    * one gram-keyed equi-join — at 100 TB both sides shuffle 8-byte gram
    * hashes only; the train side collapses to its distinct set map-side. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val h = splitHash
    val docs = Tables.documents(spark, dir)
    // native fused shingling + data-sized gram barrier ahead of the
    // train-distinct and probe-join consumers — see [[boilerplate]]
    val parts = gramBarrierParts(docs)
    val recompute = docs
      .select(col("doc_id"), h.as("sh"), col("text"))
      // drop the VALID band (80..89) BEFORE the explode: neither consumer
      // reads it (train < 80, probe >= 90), so shingling and gram-shuffling
      // it — twice, given the double-scan below — was pure waste (~10% of
      // the corpus's gram rows)
      .filter(col("sh") < 80 || col("sh") >= 90)
      .select(col("doc_id"), col("sh"),
        explode(graft.functions.GraftFunctions.shingleSet(col("text"), 5))
          .as("gram"))
      .repartition(parts, col("gram"))
    // The train-distinct and the probe join prune different projections
    // below the barrier, so the two exchange subtrees never canonicalize
    // equal and ReuseExchange can't fire — the corpus is scanned, shingled
    // and gram-shuffled TWICE (plan-probed: 2 scans / 2 gram exchanges).
    // Below the session grid that recompute is the cheaper tax (native
    // shingling is one codegen pass; an eager checkpoint measured 1.4 s →
    // 2.3 s at sf0.1); once the char dial outgrows the grid the duplicated
    // corpus-sized gram SHUFFLE dominates, so materialize the frame once
    // (the dupSpans barrier pattern) and let both consumers read it.
    val grams =
      if (parts > spark.sessionState.conf.numShufflePartitions) recompute.localCheckpoint(true)
      else recompute
    val trainGrams = grams.filter(col("sh") < 80).select("gram").distinct()
    grams.filter(col("sh") >= 90)
      .join(trainGrams.withColumn("hit", lit(1L)), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_grams"), 4)
          .as("contamination_ratio"))
      .orderBy(col("doc_id"))
  }

  /** The end-to-end training-corpus build as ONE declarative plan — the
    * composition the individual operators exist for: exact dedup (min
    * doc_id per md5 fingerprint) → quality gate (token-count band) →
    * deterministic split assignment → per-split summary. Duplicate texts
    * share a fingerprint AND a token count, so the survivor's stats ride
    * the dedup agg (no second corpus scan); the whole pipeline is two hash
    * aggs and map-only gates — at 100 TB nothing here shuffles document
    * bodies, only (fp, doc_id, n_tokens). */
  def corpusBuild(spark: SparkSession, dir: String): DataFrame = {
    val survivors = Tables.documents(spark, dir)
      .select(md5(lower(trim(col("text"))).cast("binary")).as("fp"),
        col("doc_id"), size(TextHash.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("n_tokens")).as("n_tokens"))
      .filter(col("n_tokens").between(10, 400)) // quality gate
    val h = splitHash
    survivors
      .select(col("doc_id"), col("n_tokens"),
        when(h < 80, "train").when(h < 90, "valid").otherwise("test").as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("n_tokens")), 2).as("avg_tokens"))
      .orderBy(col("split"))
  }

  /** Corpus-wide boilerplate detection (the RefinedWeb/C4 shared-template
    * scan): a 3-gram shingle is "boilerplate" when it occurs in ≥ 5
    * distinct documents; each document reports its share of boilerplate
    * shingles. Same plan family as [[contamination]] — per-doc distinct
    * shingles (so the corpus-wide count IS a document frequency), one
    * gram-keyed hash agg for the df, one gram-keyed equi-join back. At
    * 100 TB both shuffles carry 8-byte gram hashes, never text, and the
    * df side collapses map-side before the join. Shingling is the native
    * fused pass (ShingleSetExpr — the interpreted TextHash.shingleSet
    * chain was the sf10 grinder), and the gram frame shuffles behind a
    * data-sized gram barrier ([[gramBarrierParts]], char-based): at a
    * fixed 32-reducer grid the sf10 gram agg's per-task state outgrows
    * its execution-memory share and tasks serialize (the r9 thread-dump
    * finding). Both consumers still scan the corpus (column pruning
    * projects different columns below each explode, so ReuseExchange
    * can't fire) — two cheap native-shingled scans beat checkpointing a
    * corpus-sized gram frame. */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val grams = docs
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.shingleSet(col("text"), 3))
          .as("gram"))
      .repartition(gramBarrierParts(docs), col("gram"))
    val boiler = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 5).select("gram")
    grams.join(boiler.withColumn("hit", lit(1L)), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_boilerplate"))
      .select(col("doc_id"), col("n_grams"), col("n_boilerplate"),
        round(col("n_boilerplate").cast("double") / col("n_grams"), 4)
          .as("boilerplate_share"))
      .withColumn("boilerplate_flag",
        when(col("boilerplate_share") > 0.5, lit("boilerplate")).otherwise(lit("ok")))
      .orderBy("doc_id")
  }

  /** Sliding-window context chunking (size 32 tokens, stride 24 — the
    * overlapping split an embedding/retrieval indexer applies before
    * encoding): every token is covered, consecutive chunks overlap by 8
    * tokens, and the tail chunk is allowed to run short. One narrow
    * explode per document — chunk counts, offsets, and content hashes are
    * pure functions of the token array, so the op is map-only at any
    * scale and chunk identity is reproducible across engines. */
  val ChunkSize = 32
  val ChunkStride = 24

  def chunkWindows(spark: SparkSession, dir: String): DataFrame = {
    val W = ChunkSize; val S = ChunkStride
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextHash.tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        when(col("n_tokens") <= W, lit(1L))
          .otherwise(lit(1L) +
            ceil((col("n_tokens") - W).cast("double") / S).cast("long")))
      .select(col("doc_id"), col("n_tokens"), col("n_chunks"), col("toks"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * S)
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"), col("n_chunks"),
        col("start_tok"),
        least(lit(W.toLong), col("n_tokens") - col("start_tok")).as("chunk_len"),
        TextHash.strHash(concat_ws(" ",
          slice(col("toks"), col("start_tok").cast("int") + 1, lit(W))))
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Deterministic global shuffle order — the training-order assignment:
    * rank every document by a salted hash of its id, producing a total
    * order that is a pure function of the corpus (same order on any
    * cluster size, any retry). The global rank is computed scalably with
    * the [[packSequences]] two-phase shape: the hash's high bits range-
    * bucket the rows (bucket boundaries respect the sort order), ranks
    * are bucket-local row_numbers, and per-bucket offsets ride a window
    * over #buckets rows — no corpus-wide single-partition window. */
  def globalShuffle(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // P/64: the hash's value range split into 64 order-preserving buckets
    val bucketWidth = (TextHash.P / 64) + 1
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextHash.strHash(concat(lit("shuffle:"), col("doc_id").cast("string")))
          .as("shuffle_key"))
      .withColumn("bkt", floor(col("shuffle_key") / bucketWidth).cast("long"))
    val wLocal = Window.partitionBy("bkt").orderBy(col("shuffle_key"), col("doc_id"))
    val wBkt = Window.orderBy("bkt") // #buckets rows — tiny at any scale
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("bkt").agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum("cnt").over(wBkt), lit(0L)))
      .select("bkt", "offset")
    base.join(broadcast(offsets), "bkt")
      .select(col("doc_id"), col("shuffle_key"),
        (col("offset") + row_number().over(wLocal)).as("global_order"))
      .orderBy("doc_id")
  }

  /** Source-level gating (the domain-filter pass): a source survives when
    * it is not on the explicit blocklist AND its mean document length
    * clears a floor. The gate compares integer sums (Σtokens ≥ floor·n)
    * so the cut is bit-exact cross-engine. Plan: one source-keyed hash
    * agg over (source, n_tokens) — map-side partials carry two BIGINTs —
    * then a broadcast left-semi join back onto the corpus; at 100 TB the
    * survivor set is thousands of sources, always broadcastable. */
  val SourceBlocklist: Seq[String] = Seq("src7", "src13")
  val SourceMinAvgTokens = 51L

  def sourceFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(TextHash.tokens(col("text"))).cast("long").as("n_tokens"))
    val good = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .filter(!col("source").isin(SourceBlocklist: _*) &&
        col("sum_tokens") >= lit(SourceMinAvgTokens) * col("n_docs"))
      .select("source")
    docs.join(broadcast(good), Seq("source"), "left_semi")
      .select(col("doc_id"), col("source"), col("n_tokens"))
      .orderBy("doc_id")
  }

  /** Corpus novelty curve — per document (in doc_id ingestion order), the
    * fraction of its distinct 3-gram shingles never seen in any earlier
    * document. New-crawl batches with low novelty are mostly re-crawls;
    * the curve is the signal behind "this snapshot adds nothing" dedup
    * triage. Each gram's first-seen doc is one gram-keyed MIN agg (the
    * same 8-byte-key shuffle as [[boilerplate]]); a doc's novel grams are
    * those whose first-seen doc is itself. Native fused shingling + a
    * data-sized gram barrier ahead of the first-seen agg and the
    * join-back — see [[boilerplate]] for both rationales. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val grams = docs
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.shingleSet(col("text"), 3))
          .as("gram"))
      .repartition(gramBarrierParts(docs), col("gram"))
    val first = grams.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 4).as("novelty_ratio"))
      .orderBy("doc_id")
  }

  /** Deterministic weighted sampling (Efraimidis–Spirakis A-Res): each doc
    * draws u = hash-uniform in (0,1) and ranks by ln(u)/w with w = its
    * token count — the top-k under that key IS a weighted-without-
    * replacement sample (longer docs proportionally likelier), yet fully
    * reproducible: no RNG state, identical on any cluster size or retry.
    * Map-only scoring + one TakeOrdered top-k; the ln is evaluated on
    * bit-identical inputs in both engines so ranks agree (distinct docs'
    * keys differ by far more than an ulp). */
  val WeightedSampleK = 50

  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val h = TextHash.strHash(concat(lit("wsample:"), col("doc_id").cast("string")))
    // u in (0,1): (h+1)/(P+1) — never 0 or 1, so ln is finite
    val u = (h + 1.0) / (TextHash.P + 1.0)
    val w = size(TextHash.tokens(col("text"))).cast("double")
    Tables.documents(spark, dir)
      .select(col("doc_id"), w.cast("long").as("n_tokens"),
        (log(u) / w).as("key_raw"))
      .orderBy(col("key_raw").desc, col("doc_id"))
      .limit(WeightedSampleK)
      .select(col("doc_id"), col("n_tokens"), round(col("key_raw"), 6).as("sample_key"))
      .orderBy(col("doc_id"))
  }

  /** Per-document token-distribution Shannon entropy (nats) — the
    * information-density quality signal: boilerplate and repetitive docs
    * score low, diverse prose scores high. Distribution comes from the
    * (doc, word) hash agg (never a per-row O(n²) array scan); the
    * -Σp·ln(p) fold runs over the WORD-SORTED count list so both engines
    * sum the doubles in the same order — bit-identical, then 6-dp. */
  def entropy(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        array_sort(collect_list(struct(col("word"), col("c")))).as("dist"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(
          aggregate(col("dist"), lit(0.0), (acc, e) =>
            acc - (e("c").cast("double") / col("n_tokens")) *
              log(e("c").cast("double") / col("n_tokens"))),
          6).as("token_entropy"))
      .orderBy("doc_id")
  }

  /** PII patterns for [[piiRedact]] — the RE2-compatible subset (no
    * backrefs, no lookaround) so the Java-regex engine side and the
    * RE2-based oracle compile the same language. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** PII redaction — the scrub pass every released training corpus runs.
    * The synthetic corpus carries no PII, so it is injected
    * deterministically first (every doc gains an email, every third a
    * phone) and BOTH engines build the same tainted text; the op under
    * test is the redaction itself: regex counts + global replace. Narrow
    * per-row transform — map-only over the scan at any scale. Emits the
    * redacted tail (the injected region) so the hash check proves actual
    * replacement, not just counts. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val tainted = Tables.documents(spark, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" tel 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("text"))
    // native fused scan (PiiScanExpr): one call per doc vs four full-text
    // regex passes + two intermediate redacted copies; the interpreted
    // formulation remains as the executable spec (NativeExpressionsSpec)
    tainted.select(
        col("doc_id"),
        graft.functions.GraftFunctions.piiScan(col("text")).as("s"))
      .select(col("doc_id"), col("s.n_emails").as("n_emails"),
        col("s.n_phones").as("n_phones"),
        col("s.redacted_tail").as("redacted_tail"))
      .orderBy("doc_id")
  }

  /** Interpreted [[piiRedact]] census over a text column — the executable
    * spec [[graft.functions.PiiScanExpr]] is equivalence-tested against. */
  private[graft] def piiScanInterp: Column =
    TextHash.let(
      regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"))(red =>
      struct(
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
          .cast("long").as("n_phones"),
        when(length(red) <= 80, red)
          .otherwise(substring(red, -80, 80)).as("redacted_tail")))

  /** Max documents kept per source by [[domainCap]]. */
  val SourceCapN = 15

  /** Per-source quota cap — the anti-domination sampler (CommonCrawl-style
    * corpora are power-law by domain; uncapped, one host swamps the mix).
    * Deterministic "random" priority = md5 over a salted doc_id, ranked
    * within source, keep the first [[SourceCapN]]. ONE shuffle on source;
    * the window is per-source and the cap means only N rows survive per
    * group. At 100 TB a mega-source makes a single window partition hot —
    * the standard fix (pre-filter each map partition to its local top-N
    * before the shuffle) drops in here unchanged because the priority is
    * a pure column. */
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    val pri = md5(concat(lit("cap"), col("doc_id").cast("string")).cast("binary"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("pri"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), pri.as("pri"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= SourceCapN)
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** Filter-funnel attrition report — the "data funnel" table of every
    * dataset paper: each document attributed to the FIRST gate that drops
    * it (priority order: source blocklist → exact duplicate → unknown
    * language → length), survivors counted last. The corpus is the live
    * table plus a deterministic "re-crawl" batch (every 25th doc
    * re-ingested under a shifted id — the fixture alone carries no exact
    * dups, and a funnel whose duplicate stage can never fire demonstrates
    * nothing; both engines build the identical union, the snapshotDiff
    * precedent). One corpus pass computes all gate signals; the only
    * shuffles are the 16-byte fingerprint agg (duplicate keeper election,
    * [[corpusBuild]]'s shape) + the 5-group rollup. The share denominator
    * rides a window over the ≤5-row result frame — tiny at any corpus
    * size. */
  def filterFunnel(spark: SparkSession, dir: String): DataFrame = {
    val allMarkers = langMarkers.flatMap(_._2)
    val live = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val corpus = live.unionByName(
      live.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
          col("text")))
    val docs = corpus.select(
      col("doc_id"), col("source"),
      md5(lower(trim(col("text"))).cast("binary")).as("fp"),
      size(TextHash.tokens(col("text"))).cast("long").as("n_tokens"),
      size(filter(TextHash.tokens(col("text")),
        t => t.isin(allMarkers: _*))).cast("long").as("marker_hits"))
    val keeper = docs.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    docs.join(keeper, "fp")
      .select(
        when(col("source").isin(SourceBlocklist: _*), "1_source_blocked")
          .when(col("doc_id") =!= col("keep_id"), "2_duplicate")
          .when(col("marker_hits") === 0, "3_lang_unknown")
          .when(!col("n_tokens").between(20, 90), "4_length")
          .otherwise("5_kept").as("stage"))
      .groupBy(col("stage")).agg(count(lit(1)).as("n_docs"))
      .withColumn("share", round(col("n_docs").cast("double") /
        sum(col("n_docs")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()), 4))
      .orderBy("stage")
  }

  /** Vocab size built by [[vocabCoverage]]. */
  val VocabSize = 100

  /** Tokenizer vocab construction + coverage curve — step 0 of training
    * any tokenizer: corpus word counts, the top-[[VocabSize]] words as
    * the vocab (count desc, word asc — deterministic ties), and the
    * cumulative share of ALL token occurrences each prefix of the vocab
    * covers. The OOV rate of a candidate vocab size V reads directly off
    * the curve (1 − cum_coverage at rank V). Word counts collapse
    * map-side; top-V compiles to TakeOrderedAndProject; the rank and
    * cumulative windows ride the V-row frame (tiny at any corpus
    * size). */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(TextHash.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("word"))
    counts.orderBy(col("c").desc, col("word")).limit(VocabSize)
      .crossJoin(broadcast(counts.agg(sum(col("c")).as("total"))))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("cum", sum(col("c")).over(wRank.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select(col("rank"), col("word"), col("c").as("n_occurrences"),
        round(col("cum").cast("double") / col("total"), 6).as("cum_coverage"))
      .orderBy("rank")
  }

  /** Vocabulary-growth / Heaps-law audit — the corpus-statistics curve a
    * tokenizer team reads before sizing a vocab: cumulative distinct
    * token count as the corpus grows doc-by-doc, in ten equal-width
    * doc_id slices, plus the fitted Heaps exponent β (V ≈ k·Nᵝ; natural
    * text sits near 0.5 — a β drifting toward 1 means the "vocabulary"
    * never saturates, i.e. junk/IDs; toward 0 means heavy duplication).
    *
    * Decile of a doc: pure integer arithmetic over [min, max] doc_id
    * (`((id−lo)·10) DIV (hi−lo) + 1`, capped at 10) — the boundary
    * semantics ARE the formula, mirrored verbatim in the oracle, so no
    * exact order statistic (global sort) is ever needed. A token's first
    * appearance is min(decile) over its 8-byte hash ([[TextHash]]
    * discipline: the vocab shuffle carries hashes, not words). The
    * ten-row histogram cumulates by window; β comes from a log-log OLS
    * folded over the DECILE-SORTED point list with sequential
    * `aggregate`, so both engines sum the ten doubles in the same order
    * (the [[entropy]] discipline), rounded 4 dp. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val mm = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    // two consumers (doc histogram + vocab first-seen) would each re-run
    // the tokenize+hash scan — column pruning defeats exchange reuse here
    // exactly as in [[lmScore]]; materialize the hashed frame once
    val bucketed = docs.crossJoin(broadcast(mm))
      .select(col("doc_id"), TextHash.tokenHashes(col("text")).as("toks"),
        expr("CASE WHEN hi = lo THEN 10L ELSE " +
          "LEAST(10L, ((doc_id - lo) * 10) DIV (hi - lo) + 1) END").as("d"))
      .localCheckpoint(true)
    val dh = bucketed.groupBy(col("d")).agg(
      count(lit(1)).as("nd"), sum(size(col("toks")).cast("long")).as("nt"))
    val vh = bucketed.select(col("d"), explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(min(col("d")).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("nv"))
    val hist = spark.range(1, 11).toDF("d")
      .join(dh, Seq("d"), "left").join(vh, Seq("d"), "left")
      .select(col("d"), coalesce(col("nd"), lit(0L)).as("nd"),
        coalesce(col("nt"), lit(0L)).as("nt"),
        coalesce(col("nv"), lit(0L)).as("nv"))
    val wc = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.select(col("d").as("decile"),
      sum(col("nd")).over(wc).as("n_docs_cum"),
      sum(col("nt")).over(wc).as("n_tokens_cum"),
      sum(col("nv")).over(wc).as("vocab_cum"))
    // the OLS fits only deciles with n_tokens_cum > 0 AND vocab_cum > 0:
    // Spark log(0) yields NULL while DuckDB ln(0) yields -inf, so an
    // unguarded fit over a degenerate corpus (all-empty first decile)
    // would diverge between engines instead of both reporting NULL beta;
    // n is the surviving point count (10 on any non-degenerate corpus)
    val beta = cum
      .agg(array_sort(collect_list(struct(col("decile"),
        col("n_tokens_cum").as("t"), col("vocab_cum").as("v")))).as("a0"))
      .select(filter(col("a0"), p =>
        p.getField("t") > 0L && p.getField("v") > 0L).as("a"))
      .select(
        size(col("a")).cast("double").as("n"),
        aggregate(transform(col("a"), p =>
          log(p.getField("t").cast("double"))), lit(0.0), _ + _).as("sx"),
        aggregate(transform(col("a"), p =>
          log(p.getField("v").cast("double"))), lit(0.0), _ + _).as("sy"),
        aggregate(transform(col("a"), p =>
          log(p.getField("t").cast("double")) *
            log(p.getField("v").cast("double"))), lit(0.0), _ + _).as("sxy"),
        aggregate(transform(col("a"), p =>
          log(p.getField("t").cast("double")) *
            log(p.getField("t").cast("double"))), lit(0.0), _ + _).as("sxx"))
      .select(when(abs(col("n") * col("sxx") - col("sx") * col("sx")) > 1e-12,
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 4))
        .as("heaps_beta"))
    cum.crossJoin(broadcast(beta)).orderBy("decile")
  }

  /** Bigram LM quality proxy — the CCNet/KenLM-filter shape: an in-corpus
    * bigram model P(w₂|w₁) = c(w₁w₂) / c(w₁·) scores every document by
    * its mean bigram log-probability and perplexity. Garbled text scores
    * low, templated text suspiciously high — both tails are filter
    * candidates. Model keys are the 8-byte [[TextHash]] values (bigram =
    * the n=2 shingle hash, prefix = the token hash), so the model-build
    * and scoring shuffles never carry text. The per-doc fold runs over
    * the KEY-SORTED probability list so both engines sum doubles in one
    * order (the [[entropy]] discipline). The corpus is tokenized exactly
    * ONCE: occurrences collapse to per-(doc, bigram) multiplicities `k`
    * first, and the model (cb, cu) derives from that hashed frame — a
    * naive cb/cu/probe formulation re-runs the tokenize+hash pass three
    * times (and column pruning defeats a plain repartition barrier: each
    * consumer prunes a different projection below it, so exchange reuse
    * never fires — the localCheckpoint is the [[graft.dedup.Dedup]]
    * fixpoint's tool for the same problem: materialize the narrow hashed
    * frame once, every model/probe consumer reads it). */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextHash.let(TextHash.tokenHashes(col("text")))(th =>
          zip_with(TextHash.shingleHashes(th, 2),
            slice(th, lit(1), size(th) - 1),
            (b, u) => struct(b.as("bh"), u.as("uh"))))).as("o"))
      .select(col("doc_id"), col("o.bh").as("bh"), col("o.uh").as("uh"))
      .groupBy(col("doc_id"), col("bh"), col("uh"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint(true)
    val m = d.groupBy(col("bh"), col("uh")).agg(sum(col("k")).as("cb"))
    val cu = m.groupBy(col("uh")).agg(sum(col("cb")).as("cu"))
    d.join(m, Seq("bh", "uh")).join(cu, Seq("uh"))
      .select(col("doc_id"), col("bh"), col("k"),
        (col("cb").cast("double") / col("cu")).as("p"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        array_sort(collect_list(struct(col("bh"), col("p"), col("k"))))
          .as("ps"))
      .select(col("doc_id"), col("n_bigrams"),
        (aggregate(col("ps"), lit(0.0),
          (acc, e) => acc + e("k").cast("double") * log(e("p"))) /
          col("n_bigrams")).as("avg_raw"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("avg_raw"), 6).as("avg_ln_p"),
        round(exp(-col("avg_raw")), 4).as("ppl"))
      .orderBy("doc_id")
  }

  /** Span-corruption example generation (T5 denoising objective, Raffel
    * et al. JMLR'20): each token position is noised by a deterministic
    * hash gate (1-in-5 ≈ T5's 15% rate), contiguous noised runs collapse
    * to one `<extra_id_K>` sentinel in the input and expand to
    * sentinel-prefixed spans in the target — the (input, target) pair a
    * denoising LM trains on, generated reproducibly on any cluster (no
    * RNG: re-runs and retried tasks emit identical examples).
    *
    * Scale: map-side explode → doc-partitioned windows (lag + running
    * sum for run ids) → one doc-keyed agg that reassembles both strings
    * from a position-sorted collect_list. ONE shuffle on doc_id; state
    * bounded by document length.
    *
    * A doc with no noised token (`n_spans = 0`) has no target: NULL, as
    * DuckDB's `array_to_string` of an empty list gives (Spark's
    * `array_join` would give ""). */
  def spanCorruption(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(TextHash.tokens(col("text"))))
      .toDF("doc_id", "pos", "tok")
      .withColumn("noised", TextHash.strHash(
        concat(lit("sc:"), col("doc_id").cast("string"), lit(":"),
          col("pos").cast("string"))) % 5 === 0)
    val runs = toks
      .withColumn("run_start",
        col("noised") && !coalesce(lag(col("noised"), 1).over(w), lit(false)))
      .withColumn("span_id",
        sum(when(col("run_start"), 1L).otherwise(0L)).over(w))
    val pieces = runs.select(col("doc_id"), col("pos"), col("noised"),
      when(!col("noised"), col("tok"))
        .when(col("run_start"),
          concat(lit("<extra_id_"), (col("span_id") - 1).cast("string"), lit(">")))
        .otherwise(lit(null).cast("string")).as("in_piece"),
      when(col("run_start"),
        concat(lit("<extra_id_"), (col("span_id") - 1).cast("string"), lit("> "),
          col("tok")))
        .when(col("noised"), col("tok"))
        .otherwise(lit(null).cast("string")).as("tgt_piece"),
      col("run_start"))
    pieces.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("noised"), 1L).otherwise(0L)).as("n_noised"),
        sum(when(col("run_start"), 1L).otherwise(0L)).as("n_spans"),
        array_sort(collect_list(struct(col("pos"), col("in_piece")))).as("ins"),
        array_sort(collect_list(struct(col("pos"), col("tgt_piece")))).as("tgts"))
      .select(col("doc_id"), col("n_tokens"), col("n_noised"), col("n_spans"),
        array_join(filter(transform(col("ins"), e => e("in_piece")),
          p => p.isNotNull), " ").as("input_text"),
        when(col("n_spans") > 0,
          array_join(filter(transform(col("tgts"), e => e("tgt_piece")),
            p => p.isNotNull), " ")).as("target_text"))
      .orderBy(col("doc_id"))
  }

  /** BM25 params (the standard Robertson/Lucene defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** BM25 retrieval scoring — the ranking function behind every keyword
    * search / sparse-retrieval baseline (Robertson et al., TREC-3; the
    * Lucene `(1 + (N−df+0.5)/(df+0.5))` idf variant). Queries are
    * data-driven to stay fixture-independent: the top-6 document-frequency
    * terms form three 2-term queries; each scores every matching doc and
    * keeps the top 10.
    *
    * Scale: tf is a (term, doc)-keyed agg over exploded tokens RESTRICTED
    * to query terms first — the corpus-wide token explode never shuffles;
    * it broadcast-joins against the 6-term query frame and only hits
    * survive. Corpus stats (N, avgdl) ride a broadcast 1-row frame. The
    * per-(query, doc) sum folds term-sorted (collect_list + aggregate) so
    * the double addition order is engine-independent; ranks use the
    * 6-dp-rounded score (ties → doc_id). */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextHash.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
      .localCheckpoint(true)
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tok = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
    val qterms = tok.select(col("term"), col("doc_id")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(6)
      .withColumn("qrank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("df").desc, col("term"))))
      .select((((col("qrank") - 1) / 2).cast("int") + 1).as("query_id"),
        col("term"), col("df"))
    val tf = tok.join(broadcast(qterms), "term")
      .groupBy(col("query_id"), col("term"), col("df"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf.crossJoin(broadcast(stats)).select(
      col("query_id"), col("term"), col("doc_id"),
      (log(lit(1.0) + (col("n_docs").cast("double") - col("df") + 0.5) /
        (col("df").cast("double") + 0.5)) *
        (col("tf").cast("double") * lit(Bm25K1 + 1.0) /
          (col("tf").cast("double") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl").cast("double") / col("avgdl")))))
        .as("s"))
    val folded = scored.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        array_sort(collect_list(struct(col("term"), col("s")))).as("ss"))
      .select(col("query_id"), col("doc_id"), col("n_terms_hit"),
        round(aggregate(col("ss"), lit(0.0), (acc, e) => acc + e("s")), 6).as("score"))
    folded.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Shards per split in [[shardManifest]]. */
  val ManifestShards = 4

  /** Training-shard manifest + integrity check — the artifact a data
    * loader verifies before training: per (split, shard) — row count, id
    * range, and an ORDER-INDEPENDENT content checksum (bit_xor of the
    * row hash; a sum overflows at corpus scale, xor cannot and ignores
    * within-shard ordering). The engine side writes REAL shard files
    * ([[graft.sources.Writers.trainingShards]], cross-engine hash shard
    * assignment) and reads them back, so a row lost or duplicated
    * anywhere in the sink path breaks the checksum against the oracle's
    * logical manifest. Split/shard formulas match [[splitAssign]] /
    * the writer contract. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.dir("shards", dir)
    val h = splitHash
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("text"),
      when(h < 80, "train").when(h < 90, "valid").otherwise("test")
        .as("split"))
    graft.sources.Writers.trainingShards(docs, path, "doc_id", "split",
      ManifestShards, shardOf = c => TextHash.strHash(c.cast("string")))
    spark.read.parquet(path)
      .select(col("split"), col("shard").cast("long").as("shard"),
        col("doc_id"),
        TextHash.strHash(concat(col("doc_id").cast("string"), lit(":"),
          col("text"))).as("rh"))
      .groupBy(col("split"), col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(rh)").as("content_xor"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("split", "shard")
  }

  /** Per-source quality pass-rate with Wilson score intervals — the
    * statistically honest version of "which feeds are bad": with ~25
    * docs per source, a raw 40% pass rate means little; the Wilson
    * interval (z=1.96) says what the data can actually support, and the
    * gate flags a source only when its UPPER bound clears below the
    * floor — the difference between "looks bad" and "provably bad",
    * which at 100 TB decides whether a whole feed gets dropped.
    * Pass = token count in the [30, 60] quality band (integer-exact).
    *
    * Determinism: p̂ and every ratio are integer divisions; sqrt is
    * IEEE-correctly-rounded (unlike ln) so both engines compute the
    * identical double; bounds round at 6 dp. One hash agg. */
  def qualityCi(spark: SparkSession, dir: String): DataFrame = {
    val z = 1.96
    val n = col("n_docs").cast("double")
    val p = col("n_pass").cast("double") / col("n_docs")
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / n +
      lit(z * z) / (lit(4.0) * n * n))
    val denom = lit(1.0) + lit(z * z) / n
    val centre = p + lit(z * z) / (lit(2.0) * n)
    Tables.documents(spark, dir)
      .select(col("source"),
        size(TextHash.tokens(col("text"))).between(30, 60).as("pass"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
      .select(col("source"), col("n_docs"), col("n_pass"),
        round(p, 6).as("rate"),
        round((centre - half) / denom, 6).as("wilson_lo"),
        round((centre + half) / denom, 6).as("wilson_hi"),
        (((centre + half) / denom) < 0.5).as("provably_below_half"))
      .orderBy(col("source"))
  }

  /** JSONL corpus roundtrip — line-delimited JSON is the interchange
    * format crawled corpora actually land in (Common Crawl extracts,
    * OpenWebText, every dataset dump): the full documents table is
    * written as JSONL ([[graft.sources.Writers.resultJson]], distributed
    * — one file per task, no coalesce) and re-read with an EXPLICIT
    * schema ([[graft.sources.Writers.readJson]]; runtime inference is a
    * second full scan at 100 TB and is banned by the engine rules). The
    * census then proves the hop lossless: per-language doc count, char
    * mass, and an order-independent bit_xor content checksum over
    * doc_id:text — a row lost, duplicated, or text mangled by JSON
    * escaping anywhere in the sink/source path breaks the hash against
    * the oracle's logical census of the base table. */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.dir("jsonl", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    graft.sources.Writers.resultJson(docs, path)
    graft.sources.Writers.readJson(spark, path,
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING, lang STRING, source STRING"))
      .select(col("lang"),
        length(col("text")).cast("long").as("len"),
        TextHash.strHash(concat(col("doc_id").cast("string"), lit(":"),
          col("text"))).as("rh"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_chars"),
        expr("bit_xor(rh)").as("content_xor"))
      .orderBy(col("lang"))
  }

  /** Per-source quality drift across snapshot halves — the text-side
    * sibling of [[graft.similarity.Similarity.embeddingDrift]]: per
    * source, compare the old-half vs new-half mean quality score (halves
    * = deterministic hash gate on doc_id — in production, crawl
    * snapshots; parity would do, but the fixture's source = doc_id % 20
    * makes parity degenerate within source).
    * The monitoring alarm for "this feed's quality is sliding". Scores
    * are 6-dp-quantized to BIGINT per doc; the cross-scaled drift
    * n_old·S_new − n_new·S_old avoids mean division entirely and is
    * computed in DECIMAL so the products cannot wrap a 64-bit lane
    * (reported value cast back to BIGINT — exact while it is < 2⁶³,
    * an output-domain constraint). Positive drift_q = new half scores
    * higher. One (source, half) hash agg + a source-keyed join of two
    * #sources-row frames. */
  def qualityDrift(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextHash.tokens(col("text"))
    val score = round(
      (size(array_distinct(toks)).cast("double") / size(toks)) *
        log(lit(1.0) + size(toks)), 6)
    val halves = Tables.documents(spark, dir).select(col("source"),
      (TextHash.strHash(concat(lit("half:"), col("doc_id").cast("string")))
        % 2 === 0).as("old_half"),
      floor(score * 1000000.0 + 0.5).cast("long").as("q"))
    val agg = halves.groupBy(col("source"), col("old_half"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"))
    val o = agg.filter(col("old_half")).select(col("source"),
      col("n").as("n_old"), col("s").as("s_old"))
    val w = agg.filter(!col("old_half")).select(col("source"),
      col("n").as("n_new"), col("s").as("s_new"))
    o.join(w, "source")
      .select(col("source"), col("n_old"), col("n_new"),
        (col("n_old").cast("decimal(19,0)") * col("s_new").cast("decimal(19,0)") -
          col("n_new").cast("decimal(19,0)") * col("s_old").cast("decimal(19,0)"))
          .cast("long").as("drift_q"))
      .orderBy(col("source"))
  }

  /** Target mixture weights per language in thousandths (sum 1000) —
    * the declared training-mix knob ([[mixtureWeights]] plans against
    * the corpus's ACTUAL token mass). */
  val targetMixture: Seq[(String, Int)] = Seq(
    "de" -> 150, "en" -> 400, "es" -> 150, "fr" -> 150, "zh" -> 150)

  /** Mixture/epoch planner — the Pile-style table a training run is
    * configured from: per language, the corpus's actual token mass vs
    * the declared target weight, the implied token quota for a budget of
    * one total-corpus pass, and the implied epochs over that language's
    * data in thousandths (epochs > 1000 = the language must repeat —
    * the over-epoching decision made explicit; < 1000 = downsampled).
    * All-BIGINT arithmetic (floor DIV), one language-keyed agg + a
    * broadcast 1-row total — nothing corpus-scale moves. */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val w = targetMixture.reverse.foldLeft(lit(0)) {
      case (acc, (l, r)) => when(col("lang") === l, r).otherwise(acc)
    }
    val perLang = Tables.documents(spark, dir)
      .select(col("lang"), size(TextHash.tokens(col("text"))).cast("long").as("tok"))
      .groupBy(col("lang"))
      .agg(sum(col("tok")).as("n_tokens"))
    perLang
      .crossJoin(broadcast(perLang.agg(sum(col("n_tokens")).as("budget"))))
      .select(col("lang"), col("n_tokens"), w.cast("long").as("weight_target"),
        expr("CAST(budget * weight_target DIV 1000 AS BIGINT)").as("target_tokens"))
      .withColumn("epochs_milli",
        expr("CAST(target_tokens * 1000 DIV n_tokens AS BIGINT)"))
      .orderBy(col("lang"))
  }

  /** Docs per training batch for [[paddingWaste]]'s two strategies. */
  val BatchDocs = 8

  /** Padding-waste report — the measured argument for length-sorted
    * (bucketed) batching: batch docs [[BatchDocs]] at a time within each
    * split, pad every doc to its batch's max token count, and compare
    * arrival-order batching against length-sorted batching. The waste
    * share gap is the GPU-hours bill of ignoring length bucketing.
    * Windows are split-keyed (never a global sort); at 100 TB batching
    * happens within the X46 shard files, so the window key gains the
    * shard id and the plan shape is unchanged. All integer until the
    * final share division of two exact BIGINTs. */
  def paddingWaste(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = splitHash
    val base = Tables.documents(spark, dir).select(
      col("doc_id"),
      when(h < 80, "train").when(h < 90, "valid").otherwise("test").as("split"),
      size(TextHash.tokens(col("text"))).cast("long").as("tok"))
    def strategy(name: String, order: Seq[org.apache.spark.sql.Column]): DataFrame =
      base
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("split")).orderBy(order: _*)))
        .withColumn("batch", expr(s"CAST((rn - 1) DIV $BatchDocs AS BIGINT)"))
        .groupBy(col("split"), col("batch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("toks"),
          max(col("tok")).as("mx"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("toks")).cast("long").as("total_tokens"),
          sum(col("mx") * col("n_docs")).cast("long").as("padded_tokens"))
        .select(col("split"), lit(name).as("strategy"), col("n_batches"),
          col("total_tokens"), col("padded_tokens"),
          round((col("padded_tokens") - col("total_tokens")).cast("double") /
            col("padded_tokens"), 6).as("waste_share"))
    strategy("arrival", Seq(col("doc_id")))
      .unionByName(strategy("length_sorted", Seq(col("tok"), col("doc_id"))))
      .orderBy(col("split"), col("strategy"))
  }

  /** Corpus-global top-10 words via the mergeable Misra–Gries sketch
    * ([[graft.functions.TopKSketchAgg]]) instead of a vocabulary-sized
    * GROUP BY shuffle: partials keep ≤ k=64 counters, the final merge sees
    * k-sized maps, O(k) bytes move. The fixture vocabulary (~31 words) is
    * far under k, so the sketch operates in its exact regime and the
    * oracle is the exact top-10 — at real scale the same query degrades
    * gracefully to the N/(k+1)-bounded estimates the scaladoc proves. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextHash.tokens(col("text"))).as("word"))
      .agg(graft.functions.GraftFunctions
        .topkSketch(col("word"), 64, 10).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("int").as("rn"),
        col("col.word").as("word"), col("col.n").as("n"))
      .orderBy(col("rn"))

  /** Multi-round BPE training — [[bpeMerge]] is the single-step face; this
    * runs the actual training loop for 3 merges: count adjacent symbol
    * pairs (weighted by word frequency), adopt the most frequent pair as a
    * new symbol, REWRITE the vocabulary, repeat. Merged symbols are
    * single OUT-OF-ALPHABET sentinel chars (`chr(1)`..`chr(rounds)` —
    * control characters no tokenizer-split word can contain, so a literal
    * corpus 'A'/'B'/'C' can never alias a merged symbol), so a
    * "pair" stays a 2-char substring every round and the rewrite is one
    * `replace` — whose leftmost-non-overlapping global semantics is
    * exactly BPE's merge rule, and identical in both engines. Pair counts
    * are vocabulary-sized (never corpus-sized): the corpus scan happens
    * once, rounds iterate on the tiny word-frequency frame. Emits the
    * learned merge table — the artifact a tokenizer trainer ships. */
  def bpeTrain(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    var words = Tables.documents(spark, dir)
      .select(explode(TextHash.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    var rules: DataFrame = null
    for (k <- 1 to rounds) {
      val sym = k.toChar.toString // chr(k): out-of-alphabet merge sentinel
      val rule = words.filter(length(col("word")) >= 2)
        .select(col("wc"), explode(
          transform(sequence(lit(1), length(col("word")) - 1),
            i => col("word").substr(i, lit(2)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("merged_count"))
        .orderBy(col("merged_count").desc, col("pair")).limit(1)
        .select(lit(k).as("round"), col("pair"), col("merged_count"),
          lit(sym).as("new_symbol"))
      words = words.crossJoin(broadcast(rule.select(col("pair"), col("new_symbol"))))
        .select(expr("replace(word, pair, new_symbol)").as("word"), col("wc"))
        .groupBy(col("word")).agg(sum(col("wc")).as("wc"))
      rules = if (rules == null) rule else rules.unionByName(rule)
    }
    rules.orderBy(col("round"))
  }

  /** The trained merge-rule row (1-row broadcastable pivot of
    * [[bpeTrain]]'s per-round pairs) and the `replace`-chain encode
    * expression over it — ONE definition shared by [[bpeApply]] and
    * [[bpeFertility]]: the fertility audit must provably encode with the
    * same rules as the compression report it sits beside, which two
    * inline copies could not guarantee. */
  private def bpeEncodeChain(spark: SparkSession, dir: String,
      rounds: Int): (DataFrame, String) = {
    val ruleCols = (1 to rounds).map(k =>
      max(when(col("round") === k, col("pair"))).as(s"pair$k"))
    val ruleRow = bpeTrain(spark, dir, rounds)
      .groupBy().agg(ruleCols.head, ruleCols.tail: _*)
    val enc = (1 to rounds).foldLeft("word") { (acc, k) =>
      s"replace($acc, pair$k, chr($k))"
    }
    (ruleRow, enc)
  }

  /** Apply the TRAINED merge table — the encode half of the tokenizer
    * loop ([[bpeTrain]] is the train half): run the learned merges over
    * the corpus in round order and report the per-source compression they
    * buy. The merge table is rounds-sized metadata — pivoted to one row
    * and broadcast, never collected to the driver — and the corpus-side
    * work is a per-(source, word) count (vocabulary-sized shuffle, the
    * text scan stays map-only) followed by `replace` chains evaluated on
    * the VOCABULARY frame, not per document occurrence: at 100 TB the
    * encode cost is |vocab| replaces, and the doc-frequency weights carry
    * the totals. `replace`'s leftmost-non-overlapping global semantics is
    * the BPE merge rule, identical in both engines. */
  def bpeApply(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val (ruleRow, enc) = bpeEncodeChain(spark, dir, rounds)
    Tables.documents(spark, dir)
      .select(col("source"), explode(TextHash.tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("wc"))
      .crossJoin(broadcast(ruleRow))
      .withColumn("enc", expr(enc))
      .groupBy(col("source"))
      .agg(sum(col("wc")).as("n_words"),
        sum(length(col("word")).cast("long") * col("wc")).as("chars_total"),
        sum(length(col("enc")).cast("long") * col("wc")).as("symbols_total"))
      .select(col("source"), col("n_words"), col("chars_total"),
        col("symbols_total"),
        round(col("symbols_total").cast("double") / col("chars_total"), 6)
          .as("compression"))
      .orderBy(col("source"))
  }

  /** Tokenizer-fertility audit per language — the cross-lingual fairness
    * metric (how many tokenizer symbols a word costs per language; high
    * fertility = that language pays more compute/context per word) plus
    * the merged-symbol share (how often the learned merges actually fire
    * — a merge table trained on one language distribution underserves the
    * others, and this is the table that shows it). Same trained merge
    * rules and encode chain as [[bpeApply]], re-aggregated by `lang`;
    * merge applications counted as `length(word) − length(enc)` — every
    * merge replaces two symbols with one, so the length delta IS the
    * number of times a learned merge fired on the word (robust to corpus
    * words that contain the reserved merge characters themselves, which a
    * strip-the-symbol count would miscount) — all length arithmetic, no
    * per-row UDF. Scale profile identical to bpeApply: corpus scan is
    * map-only, everything downstream rides the vocabulary-sized
    * (lang, word) frame. */
  def bpeFertility(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val (ruleRow, enc) = bpeEncodeChain(spark, dir, rounds)
    Tables.documents(spark, dir)
      .select(col("lang"), explode(TextHash.tokens(col("text"))).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("wc"))
      .crossJoin(broadcast(ruleRow))
      .withColumn("enc", expr(enc))
      .withColumn("merged", length(col("word")) - length(col("enc")))
      .groupBy(col("lang"))
      .agg(sum(col("wc")).as("n_words"),
        sum(length(col("enc")).cast("long") * col("wc")).as("n_symbols"),
        sum(col("merged").cast("long") * col("wc")).as("n_merged"))
      .select(col("lang"), col("n_words"), col("n_symbols"),
        round(col("n_symbols").cast("double") / col("n_words"), 6)
          .as("fertility"),
        round(col("n_merged").cast("double") / col("n_symbols"), 6)
          .as("merged_share"))
      .orderBy(col("lang"))
  }

  /** Anneal-phase share of the global token budget, in permille. */
  val AnnealPermille = 100

  /** Two-phase training-mix plan (pretrain + quality anneal) — the
    * midtraining schedule modern pipelines run: phase 1 (90% of the
    * budget) allocates across sources ∝ total tokens; phase 2 (the 10%
    * anneal) allocates ∝ HIGH-QUALITY tokens only (docs passing the
    * [[quality]] 'good' gate: 20–200 tokens with a real stopword ratio),
    * upweighting clean sources exactly when it matters most. Per-phase
    * epoch counts (milli) expose the upsampling: an anneal epochs_milli
    * over 1000 means that source's HQ pool repeats. All allocation
    * arithmetic is integer (milli-share DIV chains, the [[mixtureWeights]]
    * discipline) so both engines agree exactly; the corpus reduces to a
    * #sources metadata frame in one conditional aggregate. */
  def annealMix(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(TextHash.tokens(col("text")))
    val perSource = Tables.documents(spark, dir)
      .select(col("source"), nTok.cast("long").as("n"), qualityGoodGate.as("hq"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("tokens_total"),
        sum(when(col("hq"), col("n")).otherwise(0L)).as("tokens_hq"))
      .localCheckpoint(true)
    val tot = perSource.agg(sum(col("tokens_total")).as("b"),
      sum(col("tokens_hq")).as("b_hq"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens_total"), col("tokens_hq"),
        expr(s"""CAST(((b * ${1000 - AnnealPermille} DIV 1000)
                 * (tokens_total * 1000 DIV b)) DIV 1000 AS BIGINT)""")
          .as("p1_target"),
        expr(s"""CAST(CASE WHEN b_hq > 0 THEN ((b * $AnnealPermille DIV 1000)
                 * (tokens_hq * 1000 DIV b_hq)) DIV 1000 ELSE 0 END AS BIGINT)""")
          .as("p2_target"))
      .withColumn("p1_epochs_milli",
        expr("CAST(p1_target * 1000 DIV tokens_total AS BIGINT)"))
      .withColumn("p2_epochs_milli",
        expr("CAST(CASE WHEN tokens_hq > 0 THEN p2_target * 1000 DIV tokens_hq END AS BIGINT)"))
      .orderBy(col("source"))
  }

  /** One BPE-training merge step: frequency of every adjacent character
    * pair inside pretokens, weighted by pretoken frequency — the argmax is
    * the pair a BPE trainer would merge next. Two hash aggregations (word
    * counts are vocabulary-sized, pair counts alphabet²-sized — both tiny
    * relative to the corpus), so the heavy text scan is map-only. Single-
    * char words carry no pairs and are filtered before the pair explode
    * (also keeps `sequence(1, len-1)` ascending). Top-10 by (count desc,
    * pair asc) with a rank column pins a total order for the oracle. */
  def bpeMerge(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("pair"))
    val wordCounts = Tables.documents(spark, dir)
      .select(explode(TextHash.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .filter(length(col("word")) >= 2)
    wordCounts
      .select(col("wc"), explode(
        transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
      .select(col("pair"), col("cnt"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 10)
      .select(col("rn"), col("pair"), col("cnt"))
      .orderBy(col("rn"))
  }

  /** Token-budget allocation + greedy fill — the sampling pass that turns
    * a mixture plan into an actual doc selection: a global budget (60% of
    * corpus tokens) is split across sources proportionally by the
    * LARGEST-REMAINDER method (the seat-apportionment algorithm: floor
    * quotas, then the leftover units go to the largest fractional
    * remainders — exact, no float shares), and each source admits docs in
    * deterministic hash-priority order while the running token total stays
    * within quota (reproducible on any cluster/retry — the X35 gate
    * pattern, no RNG).
    *
    * Scale: the doc scan computes (tokens, priority) map-side; the
    * source census and quota algebra ride a #sources-row metadata frame
    * (its global remainder-rank window is metadata-scale); the admission
    * window is SOURCE-partitioned. Quota products are DECIMAL(38,0) —
    * budget·mass overflows BIGINT at real corpus sizes. */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("source"), col("doc_id"),
      size(TextHash.tokens(col("text"))).cast("long").as("n_tokens"),
      TextHash.strHash(concat(lit("budget:"), col("doc_id").cast("string")))
        .as("pri"))
    val bySrc = docs.groupBy(col("source")).agg(sum(col("n_tokens")).as("m_tokens"))
    val tot = bySrc.agg(sum(col("m_tokens")).as("m_total"))
    val alloc = bySrc.crossJoin(broadcast(tot))
      .withColumn("budget", expr("(m_total * 6) div 10"))
      .withColumn("base",
        expr("CAST((CAST(budget AS DECIMAL(38,0)) * m_tokens) div m_total AS BIGINT)"))
      .withColumn("rem",
        expr("CAST((CAST(budget AS DECIMAL(38,0)) * m_tokens) % m_total AS BIGINT)"))
    val wRem = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source"))
    val quotas = alloc
      .withColumn("leftover",
        col("budget") - sum(col("base")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("rk", row_number().over(wRem).cast("long"))
      .withColumn("quota",
        col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
      .select(col("source"), col("m_tokens"), col("quota"))
    val wSel = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("pri"), col("doc_id"))
    val sel = docs.join(broadcast(quotas.select("source", "quota")), Seq("source"))
      .withColumn("cum", sum(col("n_tokens")).over(wSel))
      .filter(col("cum") <= col("quota"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_selected"), sum(col("n_tokens")).as("sel_tokens"))
    quotas.join(sel, Seq("source"), "left")
      .select(col("source"), col("m_tokens"), col("quota"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("sel_tokens"), lit(0L)).as("sel_tokens"))
      .withColumn("fill_permille",
        expr("(sel_tokens * 1000) div nullif(quota, 0)"))
      .orderBy(col("source"))
  }

  /** Cross-source quantile normalization — the calibration pass run before
    * mixing heterogeneously-scored corpora: each doc's within-source rank
    * is mapped to the GLOBAL score distribution, so a "0.9-quantile doc"
    * means the same thing whatever feed it came from (the batch-effect
    * correction genomics calls quantile normalization). The within-source
    * rank is integer-exact ((rk−1)·1000 div (n−1) on a 1001-point grid);
    * the global grid values come from ONE percentile aggregate (partial-
    * merging — no global sort, unlike a rank-join formulation), quantized
    * at 1e-4 (the equidepth/PSI cut mechanism) so both engines' quantile
    * interpolation agrees bit-for-bit. Per-source windows are key-
    * partitioned; the 1001-value grid broadcasts. */
  def quantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars").as("score"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("score"), col("doc_id"))
    val r = d
      .withColumn("rk", row_number().over(wS).cast("long"))
      .withColumn("ns", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source")))
        .cast("long"))
      .withColumn("q",
        expr("CASE WHEN ns = 1 THEN 500 ELSE ((rk - 1) * 1000) div (ns - 1) END"))
    // percentile's fraction argument must be a literal array
    val fracs = typedLit((0 to 1000).map(_ / 1000.0))
    val cuts = d.agg(transform(
      call_function("percentile", col("score"), fracs),
      c => floor(c * 1e4 + 0.5) / 1e4).as("cuts"))
    r.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("source"), col("score"), col("q"),
        element_at(col("cuts"), col("q").cast("int") + 1).as("norm_score"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_token_budget" -> tokenBudget,
    "text_quantile_norm" -> quantileNorm,
    "text_heavy_hitters" -> heavyHitters,
    "text_bpe_merge" -> bpeMerge,
    "text_mixture_weights" -> mixtureWeights,
    "text_quality_drift" -> qualityDrift,
    "text_padding_waste" -> paddingWaste,
    "text_shard_manifest" -> shardManifest,
    "text_lm_score" -> lmScore,
    "text_vocab_coverage" -> vocabCoverage,
    "text_vocab_growth" -> vocabGrowth,
    "text_filter_funnel" -> filterFunnel,
    "text_pii_redact" -> piiRedact,
    "text_domain_cap" -> domainCap,
    "text_entropy" -> entropy,
    "text_weighted_sample" -> weightedSample,
    "text_novelty" -> novelty,
    "text_boilerplate" -> boilerplate,
    "text_chunk_windows" -> chunkWindows,
    "text_global_shuffle" -> globalShuffle,
    "text_source_filter" -> sourceFilter,
    "text_corpus_build" -> corpusBuild,
    "text_repetition" -> repetition,
    "text_contamination" -> contamination,
    "text_stratified_sample" -> stratifiedSample,
    "text_rare_tokens" -> rareTokenScore,
    "text_pack_sequences" -> packSequences,
    "text_topk_words" -> topkWords,
    "text_tfidf" -> tfidf,
    "text_bm25" -> bm25,
    "text_span_corruption" -> spanCorruption,
    "text_jsonl_roundtrip" -> jsonlRoundtrip,
    "text_quality_ci" -> qualityCi,
    "text_quality_deciles" -> qualityDeciles,
    "text_split_assign" -> splitAssign,
    "text_hrw_shards" -> hrwShards,
    "text_dsir_importance" -> dsirImportance,
    "text_bpe_train" -> ((s: SparkSession, d: String) => bpeTrain(s, d)),
    "text_bpe_apply" -> ((s: SparkSession, d: String) => bpeApply(s, d)),
    "text_bpe_fertility" -> ((s: SparkSession, d: String) => bpeFertility(s, d)),
    "text_anneal_mix" -> annealMix,
    "text_length_histogram" -> lengthHistogram,
    "text_token_stats" -> tokenStats,
    "text_quality" -> quality,
    "text_lang_id" -> langId,
    "text_lang_confusion" -> langConfusion,
    "text_seqlen_quantiles" -> seqLenQuantiles,
    "text_dup_ngram_coverage" -> ((s: SparkSession, d: String) => dupNgramCoverage(s, d)),
    "text_temperature_shares" -> temperatureShares,
    "text_fingerprint" -> fingerprint,
    "text_bpe_pretokens" -> bpeTokens)
}
