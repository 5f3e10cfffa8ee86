package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextHash
import graft.sources.{Tables, Writers}

/** Deduplication operators over `documents` / `embeddings` — the dedup pass
  * of a large-scale training-data pipeline.
  *
  * Scale design (the part that must survive 100 TB):
  *  - Never all-pairs. Every near-dup variant blocks candidates first —
  *    shared shingle (Jaccard), shared LSH band (MinHash), shared byte
  *    slice (SimHash), shared hyperplane bucket (embeddings) — so the
  *    shuffle is keyed by block id and the quadratic blow-up is confined
  *    to within-block groups. AQE skew-join handles hot blocks.
  *  - Signatures are computed map-side (higher-order functions, no UDF, no
  *    shuffle), so the only wide stages are the block joins and final top-k
  *    (`TakeOrderedAndProject`, no global sort).
  *  - Top-k-by-similarity output (not threshold-filtered) keeps results
  *    deterministic and non-degenerate at any SF; production would swap the
  *    final `limit` for a threshold filter + connected-components pass.
  */
object Dedup {

  import TextHash._

  /** Exact dedup: hash-groupBy on normalized text. Representative = min
    * doc_id; grouping key is md5 (not raw text) so the shuffle carries
    * 16 bytes per row, not the document body. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(lower(trim(col("text"))).cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_copies"))
      .select(col("rep_id"), col("n_copies"), col("fp"))
      .orderBy("rep_id")

  private def shingleSets(spark: SparkSession, dir: String): DataFrame =
    shingleSetsOf(Tables.documents(spark, dir))

  private def shingleSetsOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      // native fused pass (ShingleSetExpr); TextHash.shingleSet remains
      // the interpreted executable spec it is asserted against
      graft.functions.GraftFunctions.shingleSet(col("text"))
        .as("shs"))

  /** Exploded (doc_id, n, shingle) frame with its self-join barrier, and
    * the exact shared-shingle truth join over it — the blocking substrate
    * [[ngramJaccard]] reports and [[lshRecallAudit]] grades. ONE
    * definition: the recall audit must provably grade the same truth set
    * the report face computes, which two drifting copies cannot
    * guarantee. The repartition barrier makes both self-join sides read
    * one computed exchange (ReuseExchange) — the shingle pipeline runs
    * once per document, not once per side (same pattern as [[sigs]]). */
  private def explodedShingles(spark: SparkSession, dir: String): DataFrame =
    shingleSets(spark, dir)
      .select(col("doc_id"), size(col("shs")).as("n"), explode(col("shs")).as("s"))
      .repartition(col("s"))

  private def sharedShingleTruth(spark: SparkSession, dir: String,
      countAlias: String): DataFrame = {
    val ex = explodedShingles(spark, dir)
    ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .agg(count(lit(1)).as(countAlias))
  }

  /** N-gram Jaccard near-dup: block on shared shingle, count common
    * shingles per pair, exact Jaccard, top-20. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    sharedShingleTruth(spark, dir, "n_common")
      .select(col("id1"), col("id2"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("id1"), col("id2"))
      .limit(20)

  val MinhashK = 32
  val Bands = 8
  val RowsPerBand = 4

  private def sigs(spark: SparkSession, dir: String): DataFrame =
    shingleSetsOf(Tables.documents(spark, dir)).select(
      col("doc_id"), col("shs"),
      // native codegen'd signature (MinHashSigExpr); TextHash.minhashSig
      // remains the interpreted executable spec it is asserted against
      graft.functions.GraftFunctions.minhash32(col("shs")).as("sig"))
      // explicit barrier: every consumer (band sides x/y, sig sides s1/s2)
      // reads this one exchange via ReuseExchange instead of recomputing
      // the signature pipeline per reference — measured 7 scans → 1
      .repartition(col("doc_id"))

  /** Band rows for ANY (doc_id, text) frame — batch or streaming: the
    * whole signature pipeline is stateless projections (native codegen
    * expressions), so it runs unchanged inside a micro-batch. Used by
    * the streaming admission probe; the batch path keeps its
    * ReuseExchange barrier via [[sigs]]. */
  private[graft] def bandsOf(docs: DataFrame): DataFrame =
    bandsFromSigs(shingleSetsOf(docs).select(
      col("doc_id"), col("shs"),
      graft.functions.GraftFunctions.minhash32(col("shs"))
        .as("sig")))

  private def bandsRaw(spark: SparkSession, dir: String): DataFrame =
    bandsFromSigs(sigs(spark, dir))

  /** The standing corpus's band index (the static side of the admission
    * probe), shared by the batch face ([[standingProbe]]) and the
    * streaming face (`Streams.admissionStreaming`): docs NOT in the
    * incoming batch (doc_id % 5 ≠ 0), projected to the probe key. */
  private[graft] def standingBands(spark: SparkSession, dir: String): DataFrame =
    bandsRaw(spark, dir).filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("band"), col("band_hash"))

  private def bandsFromSigs(s: DataFrame): DataFrame =
    s.select(
      col("doc_id"),
      // `let` so the signature is evaluated once, not once per element_at
      // (Project collapsing would otherwise inline `sig` 32×)
      posexplode(let(col("sig"))(sig =>
        transform(sequence(lit(0), lit(Bands - 1)), b => {
          var acc: org.apache.spark.sql.Column = lit(17L)
          for (k <- 0 until RowsPerBand)
            acc = (acc * 131L + element_at(sig, b * RowsPerBand + k + 1)) % P
          acc
        }))))
      .toDF("doc_id", "band", "band_hash")

  /** MinHash LSH banding: (doc, band, band_hash) — the partition key a
    * cluster-scale dedup shuffles on. Oracle-checked end to end.
    * (The orderBy is the oracle-face presentation sort; [[minhashPairs]]
    * joins the unsorted frame.) */
  def minhashBands(spark: SparkSession, dir: String): DataFrame =
    bandsRaw(spark, dir).orderBy("doc_id", "band")

  /** MinHash LSH candidate pairs: same (band, band_hash) → estimate
    * similarity from signature agreement, verify with exact Jaccard.
    * Sparse at the synthetic SFs (word-salad docs share few shingles) —
    * the spec proves recall on constructed near-dups. */
  private def candidates(spark: SparkSession, dir: String): DataFrame = {
    val b = bandsRaw(spark, dir)
    b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2")).distinct()
  }

  def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val cand = candidates(spark, dir)
    val s = sigs(spark, dir)
    cand
      .join(s.as("s1"), col("id1") === col("s1.doc_id"))
      .join(s.as("s2"), col("id2") === col("s2.doc_id"))
      .select(col("id1"), col("id2"),
        round(aggregate(zip_with(col("s1.sig"), col("s2.sig"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (a, v) => a + v)
          .cast("double") / MinhashK, 6).as("est_sim"),
        round(size(array_intersect(col("s1.shs"), col("s2.shs"))).cast("double") /
          size(array_union(col("s1.shs"), col("s2.shs"))), 6).as("jaccard"))
      .orderBy(col("est_sim").desc, col("id1"), col("id2"))
  }

  /** Containment (Broder) near-dup report — the ASYMMETRIC measure
    * resemblance misses: c(A→B) = |A∩B|/|A| flags a short document
    * swallowed whole by a long one (quote extraction, boilerplate
    * wrapping, page-in-site) even when Jaccard is tiny because the size
    * gap inflates the union. Reported containment is the larger
    * direction, |A∩B|/min(|A|,|B|); jaccard rides along so the gap
    * (containment − jaccard) IS the asymmetry signal. Same banded
    * candidates and shingle sets as [[minhashPairs]] — one more face of
    * the already-paid signature pipeline, never an all-pairs pass. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val s = sigs(spark, dir)
    candidates(spark, dir)
      .join(s.as("s1"), col("id1") === col("s1.doc_id"))
      .join(s.as("s2"), col("id2") === col("s2.doc_id"))
      .select(col("id1"), col("id2"),
        size(array_intersect(col("s1.shs"), col("s2.shs"))).cast("long")
          .as("n_common"),
        size(col("s1.shs")).cast("long").as("n1"),
        size(col("s2.shs")).cast("long").as("n2"))
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("n_common"),
        round(col("n_common").cast("double") / least(col("n1"), col("n2")), 6)
          .as("containment"),
        round(col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")), 6).as("jaccard"))
      .orderBy(col("containment").desc, col("id1"), col("id2"))
      .limit(20)
  }

  /** Jaccard threshold for the prefix-filter join as the rational
    * PrefixTauNum/PrefixTauDen, so every pruning and verification test is
    * integer arithmetic (no float boundary can flip a pair between
    * engines). */
  val PrefixTauNum = 4
  val PrefixTauDen = 5

  /** Complete candidate pairs for the prefix-filter join: each document
    * indexes only its p = n − ⌈τn⌉ + 1 rarest shingles (ascending global
    * document frequency, hash tiebreak), candidates equi-join on those
    * prefix shingles under the size filter min·den ≥ max·num. Exposed for
    * the spec's reduction measurement vs the full inverted index. */
  private[graft] def prefixCandidates(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleSets(spark, dir).repartition(col("doc_id"))
    // barrier on the shingle key: df agg, the df join-back, and both
    // candidate join sides all reuse ONE computed exchange
    val ex = sh.select(col("doc_id"), size(col("shs")).as("n"), explode(col("shs")).as("s"))
      .repartition(col("s"))
    val df = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val prefix = ex.join(df, "s")
      .withColumn("pos", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("df"), col("s"))))
      // p = n − ⌈τn⌉ + 1; ⌈num·n/den⌉ = (num·n + den − 1) DIV den
      .filter(expr(s"pos <= n - ((n*$PrefixTauNum + ${PrefixTauDen - 1}) DIV $PrefixTauDen) + 1"))
      .select(col("doc_id"), col("n"), col("s"))
      .repartition(col("s"))
    prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) * PrefixTauDen >=
          greatest(col("a.n"), col("b.n")) * PrefixTauNum)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2")).distinct()
  }

  /** Prefix-filter EXACT set-similarity join (the PPJoin candidate scheme,
    * Xiao et al. WWW'08): every pair with Jaccard ≥ τ = 4/5 over the same
    * shingle sets the MinHash pipeline signs — exact where X3 is
    * approximate — still never an all-pairs comparison. Completeness: for
    * a qualifying pair, the first common shingle in the global rarity
    * order must sit in BOTH prefixes — if it sat past either prefix, that
    * side's suffix could hold at most ⌈τn⌉ − 1 < τn common shingles,
    * while J ≥ τ together with the size filter demands ≥ τn. Candidates
    * are then verified by exact set intersection; the threshold test
    * c·(num+den) ≥ (n1+n2)·num is the cross-multiplied c/(n1+n2−c) ≥ τ.
    *
    * Scale: the rarity frame is one shingle-keyed agg; the candidate join
    * is keyed on PREFIX shingles only — the corpus' rarest — so bucket
    * sizes stay small exactly where an inverted-index join would blow up
    * (a frequent shingle never enters a prefix until τ forces it). The
    * oracle is an independent brute formulation; the spec proves the pair
    * set equals brute all-pairs and measures the candidate reduction. */
  def prefixFilterPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleSets(spark, dir).repartition(col("doc_id"))
    prefixCandidates(spark, dir)
      .join(sh.as("s1"), col("id1") === col("s1.doc_id"))
      .join(sh.as("s2"), col("id2") === col("s2.doc_id"))
      .select(col("id1"), col("id2"),
        size(col("s1.shs")).cast("long").as("n1"),
        size(col("s2.shs")).cast("long").as("n2"),
        size(array_intersect(col("s1.shs"), col("s2.shs"))).cast("long").as("n_common"))
      .filter(col("n_common") * (PrefixTauNum + PrefixTauDen) >=
        (col("n1") + col("n2")) * PrefixTauNum)
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("id1"), col("id2"))
  }

  /** Duplicated-substring span report (the ExactSubstr dedup signal of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): per document, how many word-3-gram positions carry a
    * shingle that occurs ≥2 times anywhere in the corpus (cross-doc OR
    * within-doc), the share of positions so covered, and the longest
    * consecutive duplicated run — long runs are verbatim-copied spans, the
    * memorization risk exact-doc and near-dup gates both miss. Uses the
    * POSITIONAL (non-distinct) shingle list, not the set the MinHash
    * pipeline signs.
    *
    * Scale: shuffles carry (8-byte shingle hash, int position) — never
    * text; one shingle-keyed occurrence agg, one shingle-keyed join back,
    * then doc-keyed aggs/windows. The runs window is the gaps-and-islands
    * pos − row_number trick, partitioned per document. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // data-sized gram barrier (char-based, the TextAnalysis.gramBarrierParts
    // discipline): the positional gram frame is ~1 row per corpus char, so
    // a fixed session grid leaves sf10 reduce tasks holding corpus-share
    // state; chars come from one footer-served column sum
    val charCol = if (docs.columns.contains("n_chars")) col("n_chars")
                  else length(col("text")).cast("long") // fixture frames
    val parts = graft.Scale.partitionsForChars(spark,
      Option(docs.agg(sum(charCol)).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L))
    val pos = docs
      .select(col("doc_id"), posexplode(
        graft.functions.GraftFunctions.shingleAll(col("text"))))
      .toDF("doc_id", "pos", "s")
      // barrier: the occurrence agg and the flag join-back both consume
      // this frame; localCheckpoint materializes the (hash, pos) rows once
      // so the shingle pipeline never recomputes (without it, AQE's
      // broadcast choice defeats exchange reuse and the explode runs
      // twice — observed in the physical plan). Shingling itself is the
      // native fused pass (ShingleAllExpr) — the interpreted chain was
      // the residual sf10 grinder here.
      .repartition(parts, col("s"))
      .localCheckpoint(true)
    val freq = pos.groupBy("s").agg(count(lit(1)).as("occ"))
    val flagged = pos.join(freq, "s")
      .select(col("doc_id"), col("pos"), (col("occ") >= 2).as("dup"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val runs = flagged.filter(col("dup"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("doc_id").agg(max("run").as("max_run"))
    flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_pos"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_pos"), col("n_dup_pos"),
        round(col("n_dup_pos").cast("double") / col("n_pos"), 6).as("dup_share"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
      .orderBy(col("dup_share").desc, col("doc_id"))
  }

  /** Eval-set n-gram length for [[decontaminate]] (GPT-3 used 13-gram
    * overlap; 8 fits the 27-token fixture docs while staying far above
    * chance collision in any real vocabulary). */
  val DecontamN = 8

  /** Benchmark decontamination: flag TRAIN documents sharing any
    * [[DecontamN]]-token-gram with an EVAL document — the exact-overlap
    * audit (GPT-3 appendix C / PaLM style) run before reporting benchmark
    * numbers. Complements the near-dup split-leakage gate (X127): that
    * catches fuzzy rewrites, this catches verbatim quoted passages too
    * short to move a MinHash signature.
    *
    * Scale: the eval side is a benchmark (thousands of docs vs billions
    * train), so its distinct gram hashes BROADCAST and the train scan is
    * map-only — no shuffle touches the corpus until the tiny per-flagged-
    * doc aggregate. Gram hashes are 8 bytes; text never moves. */
  def decontaminateAgainst(train: DataFrame, eval: DataFrame): DataFrame = {
    def grams(df: DataFrame, idCol: String) = df.select(col(idCol),
      explode(let(tokenHashes(col("text")))(th =>
        array_distinct(shingleHashes(th, DecontamN)))).as("g"))
    grams(train, "doc_id")
      .join(broadcast(grams(eval, "eval_id")), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_ngrams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy(col("n_shared_ngrams").desc, col("doc_id"))
  }

  /** Registered face: the benchmark is a deterministic extract — tokens
    * 7..18 of every 25th document, re-keyed — modeling an eval question
    * quoted verbatim from a crawled page (the fixture carries no organic
    * cross-doc 8-gram overlap, so without the plant the audit is vacuous;
    * snapshotDiff precedent). Expected flags: exactly the extract sources
    * long enough to cover a full 8-gram. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val live = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val eval = live.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 2000000L).as("eval_id"),
        concat_ws(" ", slice(tokens(col("text")), 7, 12)).as("text"))
    decontaminateAgainst(live, eval)
  }

  /** Cross-source near-dup overlap matrix — the provenance report run
    * before mixing corpora: per unordered source pair, how many near-dup
    * candidate pairs straddle them (a big CommonCrawl∩curated cell means
    * the curated set is already inside the crawl and the mixture
    * double-counts it). Rides [[minhashPairs]] + two key-only joins
    * against the (doc_id, source) map; similarity mass is summed
    * 6-dp-quantized (BIGINT-exact, no float order). */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    minhashPairs(spark, dir)
      .join(src.select(col("doc_id").as("id1"), col("source").as("src1")), "id1")
      .join(src.select(col("doc_id").as("id2"), col("source").as("src2")), "id2")
      .select(least(col("src1"), col("src2")).as("source_a"),
        greatest(col("src1"), col("src2")).as("source_b"),
        floor(col("est_sim") * 1000000.0 + 0.5).cast("long").as("sim_q"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("sim_q")).as("sim_sum_q"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Near-dup contract of [[simhashPairs]]: pairs at hamming distance ≤ 3.
    * 4 byte-slices of a 32-bit hash guarantee (pigeonhole) that any such
    * pair shares an untouched slice, so slice-blocking is EXACT for this
    * threshold — and the DuckDB oracle verifies it blocking-free, by
    * brute-force distance over all doc pairs. */
  val MaxHamming = 3

  /** SimHash near-dup: all pairs with hamming ≤ [[MaxHamming]], ranked by
    * exact distance, top-20. Blocking: any of the 4 byte-slices equal —
    * exact for the threshold (see [[MaxHamming]]). The threshold rides the
    * blocked join's ON clause, so skewed slice blocks (the top byte of a
    * simhash concentrates: similar corpora → similar sign patterns —
    * measured 2.1M slice-equal pairs at sf0.1) are cut to the few thousand
    * genuinely-near pairs BEFORE anything materializes; the per-block
    * window prune then runs on survivors only (was: a 2.1M-row sort).
    *
    * Executed over DISTINCT simhash values, not documents: similar corpora
    * collapse many documents onto few simhashes, so the quadratic block
    * self-join runs on the value table (3,810 values vs 5,000 docs at
    * sf0.1; the gap widens with duplication — exactly the regime dedup
    * targets) and doc ids are re-attached only for surviving value pairs.
    * Every prune below is exact for the top-20 output:
    *  - 21-smallest-ids truncation per value: a pair using the 22nd+
    *    smallest id of its value has ≥20 strictly smaller same-block pairs
    *    (swap in each smaller id), so it can't reach the global top 20.
    *  - per-block value-pair rank ≤ 20 by (hamming, best doc pair): a doc
    *    pair determines its value pair uniquely, so 20 strictly-better
    *    value pairs in one block contribute ≥20 strictly-better doc pairs.
    *  - best doc pair of a value pair = (least, greatest) of the two
    *    per-value minimum ids (any other cross pair replaces one id with a
    *    larger one). */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir).select(
      col("doc_id"),
      graft.functions.GraftFunctions
        .simhash32(graft.functions.GraftFunctions.tokenHashes(col("text"))).as("sh"))
    val vals = sh.groupBy(col("sh"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, 21).as("ids"))
      // barrier: the slice sides and the id re-attach joins all reuse this
      // one computed exchange (ReuseExchange) instead of re-hashing every
      // document per consumer (same pattern as Dedup.sigs)
      .repartition(col("sh"))
    // intra-value pairs: identical simhash, hamming 0
    val intra = vals.filter(size(col("ids")) >= 2)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("id1"), y.as("id2")))))).as("p"))
      .select(col("p.id1"), col("p.id2"), lit(0).as("hamming_dist"))
    // inter-value pairs: block distinct values on the 4 byte slices
    val vslices = vals.select(col("sh"), element_at(col("ids"), 1).as("mid"),
      posexplode(let(col("sh"))(s => transform(sequence(lit(0), lit(3)),
        k => (s.cast("double") / pow(lit(2.0), k * 8)).cast("long") % 256L))))
      .toDF("sh", "mid", "k", "slice")
      .repartition(col("k"), col("slice"))
    val vpairs = vslices.as("a").join(vslices.as("b"),
        col("a.k") === col("b.k") && col("a.slice") === col("b.slice") &&
          col("a.sh") < col("b.sh") &&
          hamming(col("a.sh"), col("b.sh")) <= MaxHamming)
      .select(col("a.k").as("k"), col("a.slice").as("slice"),
        col("a.sh").as("sh1"), col("b.sh").as("sh2"),
        hamming(col("a.sh"), col("b.sh")).as("hamming_dist"),
        least(col("a.mid"), col("b.mid")).as("b1"),
        greatest(col("a.mid"), col("b.mid")).as("b2"))
    // the window runs on the join output's existing (k, slice) hash
    // partitioning — no new exchange, in-partition sort only
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k"), col("slice"))
      .orderBy(col("hamming_dist"), col("b1"), col("b2"))
    val kept = vpairs
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("sh1"), col("sh2"), col("hamming_dist")).distinct()
    val inter = kept
      .join(vals.as("v1"), col("sh1") === col("v1.sh"))
      .join(vals.as("v2"), col("sh2") === col("v2.sh"))
      .select(explode(flatten(transform(col("v1.ids"), x =>
        transform(col("v2.ids"), y => struct(
          least(x, y).as("id1"), greatest(x, y).as("id2")))))).as("p"),
        col("hamming_dist"))
      .select(col("p.id1"), col("p.id2"), col("hamming_dist"))
    // disjoint by construction (intra: equal sh; inter: distinct sh) and a
    // doc pair maps to exactly one value pair, so no global dedup needed
    intra.unionByName(inter)
      .orderBy(col("hamming_dist"), col("id1"), col("id2"))
      .limit(20)
  }

  val AnnPlanes = 6

  /** Expected vectors per hyperplane bucket that the plane count targets.
    * Within-bucket pair cost is Σ|bucket|² ≈ N·[[AnnBucketTarget]], so
    * holding the target constant keeps the candidate join LINEAR in N. */
  val AnnBucketTarget = 64L

  /** Hard ceiling on adaptive plane counts, shared with the oracle's
    * `range(AnnPlanes, AnnMaxPlanes + 1)` search: both engines saturate at
    * the SAME bound, so past 64·2^40 ≈ 7·10¹³ vectors (far beyond a 100 TB
    * embedding corpus) they stay in lockstep instead of the Scala loop
    * scaling on while the SQL MIN(p) goes NULL. */
  val AnnMaxPlanes = 40

  /** Plane count for a corpus of n vectors: smallest p ≥ [[AnnPlanes]]
    * with 64·2^p ≥ n (capped at [[AnnMaxPlanes]]), i.e. enough hyperplanes
    * that the expected bucket holds ≤ [[AnnBucketTarget]] vectors
    * (n ≤ 4096 resolves to exactly 6, so the small correctness scales are
    * unchanged). Pure integer comparison — no float log2 whose rounding at
    * exact powers could disagree with the DuckDB oracle, which computes
    * the same search over `range(6, 41)` from count(*) in-query. */
  def annPlanesFor(n: Long): Int = {
    var p = AnnPlanes
    while (p < AnnMaxPlanes && (AnnBucketTarget << p) < n) p += 1
    p
  }

  /** Embedding-cosine near-dup: block on random-hyperplane LSH bucket
    * (plane count scaled so expected bucket size stays ~constant — the
    * fixed-bucket-count variant is quadratic in N; at 100 TB add
    * multi-probe to buy recall back), cosine within bucket, global
    * top-20. The one-row count that sizes the planes is the same eager
    * staging pattern as [[stageEdges]]. */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
    val planes = annPlanesFor(base.count())
    val e = base.select(
      col("vec_id"), col("embedding"),
      graft.functions.GraftFunctions.l2norm(col("embedding")).as("nrm"),
      lshBucket(col("embedding"), 64, planes).as("bucket"))
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        col("a.bucket").as("bucket"),
        round(graft.functions.GraftFunctions.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id1"), col("id2"))
      .limit(20)
  }

  /** Minimum signature-agreement fraction for an edge in the dedup graph
    * (exact integer/32 agreement — deterministic in both engines). */
  val MinClusterSim = 0.25

  /** Edge rows per fixpoint task: (src,dst) longs are 16 bytes, so this is
    * ~1.6 MB of payload per task — small enough that per-round scheduling
    * overhead, not spill, dominates below it. */
  val CcEdgesPerPartition = 100000L

  /** Fixpoint parallelism from edge volume: one task per
    * [[CcEdgesPerPartition]] edges, at least 1, capped at the session's
    * shuffle parallelism (the cluster-size dial). */
  def ccPartitions(nEdges: Long, maxParts: Int): Int =
    math.max(1L, math.min(maxParts.toLong,
      (nEdges + CcEdgesPerPartition - 1) / CcEdgesPerPartition)).toInt

  /** Stage the undirected edge list for the CC fixpoint: checkpoint at the
    * candidate join's natural parallelism (so the signature pipeline runs
    * once, wide), then COUNT — cheap, the RDD is already materialized —
    * and coalesce so the fixpoint's per-round task count tracks the edge
    * list's size, not the corpus join's reducer count. The thresholded
    * edge list is O(duplicate pairs), orders of magnitude smaller than
    * the corpus; without this the loop schedules corpus-scale task waves
    * over kilobytes of data. Coalesce is shuffle-free. */
  def stageEdges(pairs: DataFrame): DataFrame = {
    // Both orientations from ONE subtree (r16, guide §1.2): the old
    // `pairs.select(...) union pairs.select(swapped)` referenced `pairs`
    // twice, and Catalyst inlines a DataFrame reference per use — so the
    // candidate-pair build (the banded minhash join feeding most callers)
    // ran once per orientation INSIDE this checkpoint's materialization.
    // explode(array(fwd, rev)) emits the same two rows per pair from a
    // single pass; every consumer aggregates or joins, so row order is
    // unobservable.
    val raw = pairs.select(explode(array(
        struct(col("id1").as("src"), col("id2").as("dst")),
        struct(col("id2").as("src"), col("id1").as("dst")))).as("_e"))
      .select(col("_e.*"))
      .localCheckpoint(true)
    val parts = ccPartitions(raw.count(),
      raw.sparkSession.sessionState.conf.numShufflePartitions)
    if (parts < raw.rdd.getNumPartitions) raw.coalesce(parts) else raw
  }

  /** Dedup cluster assignment: connected components over the thresholded
    * MinHash candidate graph — the pass that turns candidate PAIRS into
    * per-document cluster ids (representative = min doc_id in the
    * component). This is the production follow-on to [[minhashPairs]]:
    * transitive near-duplicates (A~B, B~C) land in one cluster even when
    * A,C share no band.
    *
    * Implementation: iterative min-label propagation — each round every
    * node takes the min label among itself and its neighbors; converges
    * in graph-diameter rounds (driver loop with a convergence check, the
    * standard DataFrame realization of CC). Scale path: candidate graphs
    * are sparse and shatter into small components, so rounds are few; at
    * extreme diameters swap in the doubling "large-star/small-star"
    * variant. The DuckDB oracle computes components independently via a
    * recursive-CTE transitive closure, cross-checking the iteration
    * against a first-class fixpoint. */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    labelsFrom(minhashPairs(spark, dir)
        .filter(col("est_sim") >= MinClusterSim)
        .select(col("id1"), col("id2")))
      .withColumn("n_members",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))))
      .orderBy(col("cluster_id"), col("doc_id"))

  /** The min-label-propagation fixpoint itself, over ANY (id1, id2) pair
    * frame → (doc_id, cluster_id) labels. [[clusters]] feeds it the
    * thresholded graph; [[splitClustered]] the full candidate graph. */
  private[graft] def labelsFrom(pairs: DataFrame): DataFrame = {
    val edges = stageEdges(pairs)
    // seed with min(self, neighbors) instead of self: the first propagation
    // round folds into the (already materialized) edge list — one groupBy,
    // one fewer driver round in the loop. Same one-subtree explode idiom
    // as stageEdges: one scan of the checkpointed edge list, not two.
    var labels = edges.select(explode(array(
        struct(col("dst").as("doc_id"), col("src").as("cluster_id")),
        struct(col("src").as("doc_id"), col("src").as("cluster_id")))).as("_s"))
      .select(col("_s.*"))
      .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
      .localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      // ONE join per round (r16, guide §2.4 "remove shuffles outright"):
      // neighbor propagation and pointer jumping are the SAME lookup —
      // "take the label of X" for X = my neighbor (graph edge src→dst)
      // and X = my current label (parent edge cluster_id→doc_id) — so the
      // two edge sets union BEFORE the label join and the round pays one
      // probe-side exchange + one join instead of two of each. Pointer
      // jumping still halves the remaining diameter each round (O(log n)
      // rounds instead of O(diameter)); the label sets each round sees
      // are identical to the two-join form by construction.
      val hopEdges = edges.unionByName(
        labels.select(col("cluster_id").as("src"), col("doc_id").as("dst")))
      val viaHop = hopEdges
        .join(labels, col("src") === col("doc_id"))
        .select(col("dst").as("doc_id"), col("cluster_id"))
      // The previous label rides the union as a tagged column, so the
      // convergence check is a filter-count on the checkpointed result —
      // no per-round join against the previous frame.
      val next = labels.select(col("doc_id"), col("cluster_id"),
          col("cluster_id").as("prev"))
        .unionByName(viaHop.select(col("doc_id"), col("cluster_id"),
          lit(null).cast("long").as("prev")))
        .groupBy(col("doc_id"))
        .agg(min(col("cluster_id")).as("cluster_id"),
          first(col("prev"), ignoreNulls = true).as("prev"))
        // localCheckpoint(eager): materializes the round AND truncates the
        // logical plan — without it each round's plan embeds the previous
        // round's (self-join + unions triple it), and Catalyst re-analysis
        // grows exponentially (measured: round 4 alone took ~1 min at
        // sf0.1; checkpointed, the whole fixpoint runs in seconds).
        .localCheckpoint(true)
      converged = next.filter(col("cluster_id") < col("prev")).count() == 0
      labels = next.select(col("doc_id"), col("cluster_id"))
      rounds += 1
    }
    labels
  }

  /** Quality score of a document's text — lexical diversity × ln(1+tokens),
    * 6-dp (the qualityDeciles score) — and the member-scoring semi-join,
    * SHARED by every face that picks a cluster canonical ([[canonical]],
    * [[applyNear]]): the survival rule must be one expression, not two
    * copies that can drift and silently disagree about which documents
    * survive. Scoring joins the corpus to the (small) membership frame
    * BEFORE tokenizing, so it runs only over cluster members — at 100 TB
    * the membership broadcast turns this into a map-side semi-join on
    * the scan. */
  private def qualityScore: org.apache.spark.sql.Column = {
    val toks = TextHash.tokens(col("text"))
    round(
      (size(array_distinct(toks)).cast("double") / size(toks)) *
        log(lit(1.0) + size(toks)), 6)
  }

  private def scoredMembers(spark: SparkSession, dir: String,
      members: DataFrame): DataFrame =
    Tables.documents(spark, dir)
      .join(broadcast(members), "doc_id")
      .select(col("doc_id"), col("cluster_id"), qualityScore.as("score"))

  /** Canonical-document selection — the decision step after [[clusters]]:
    * within every near-dup cluster keep the highest-quality member (score
    * = lexical diversity × ln(1+tokens), the qualityDeciles score; ties →
    * lowest doc_id, so byte-identical members resolve deterministically).
    * Two-level max-then-min instead of an argmax-over-struct so both
    * engines express the tie-break identically; score equality is
    * bit-exact because MAX returns one of the per-row rounded values.
    * Cost rides [[clusters]] plus one narrow score scan and two
    * cluster-keyed aggs over cluster-membership-sized frames. */
  def canonical(spark: SparkSession, dir: String): DataFrame = {
    val members = clusters(spark, dir).select("doc_id", "cluster_id")
    // membership-sized scored frame, consumed twice (best-score agg and the
    // canonical join-back): barrier so the corpus scan + tokenizing quality
    // score runs once, not per reference (guide §1.2 — the duplicated-
    // subtree class; at 100 TB the second evaluation is a second full scan)
    val j = scoredMembers(spark, dir, members).localCheckpoint(true)
    val best = j.groupBy("cluster_id")
      .agg(max(col("score")).as("best_score"), count(lit(1)).as("n_members"))
    j.join(best, "cluster_id")
      .filter(col("score") === col("best_score"))
      .groupBy(col("cluster_id"), col("best_score"), col("n_members"))
      .agg(min(col("doc_id")).as("canonical_id"))
      .select(col("cluster_id"), col("canonical_id"), col("best_score"),
        col("n_members"))
      .orderBy("cluster_id")
  }

  /** Apply NEAR-dup dedup end to end — the step that closes the
    * clusters → canonical loop by actually shrinking the corpus:
    * survivors are every unclustered doc plus each cluster's canonical
    * pick ([[canonical]]'s max-score/min-id rule), reported as the
    * per-language census ([[applyExact]]'s shape, so the two gates'
    * yields read side by side). ONE label fixpoint feeds both the
    * canonical pick and the drop list (localCheckpoint barrier); scoring
    * runs only over cluster members via a broadcast semi-join; the
    * corpus-wide application is a broadcast anti-join of the
    * O(near-dup) drop list against the scan. */
  def applyNear(spark: SparkSession, dir: String): DataFrame = {
    val members = labelsFrom(minhashPairs(spark, dir)
        .filter(col("est_sim") >= MinClusterSim)
        .select(col("id1"), col("id2")))
      .localCheckpoint(true)
    // same barrier as [[canonical]]: j is read by the best-score agg AND
    // the canonical join-back — one scored pass, not two corpus scans
    val j = scoredMembers(spark, dir, members).localCheckpoint(true)
    val best = j.groupBy(col("cluster_id")).agg(max(col("score")).as("best_score"))
    val canon = j.join(best, "cluster_id")
      .filter(col("score") === col("best_score"))
      .groupBy(col("cluster_id")).agg(min(col("doc_id")).as("canonical_id"))
    val dropped = members
      .join(canon, members("doc_id") === canon("canonical_id"), "left_anti")
      .select(col("doc_id"))
    Tables.documents(spark, dir)
      .join(broadcast(dropped), Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("n_chars"))
      .orderBy(col("lang"))
  }

  /** Apply exact dedup: the surviving corpus after keeping one
    * representative (min doc_id) per md5 group — the step that actually
    * shrinks the training set. Output is the per-language survivor
    * summary so the result is small at any scale; the semi-join against
    * representatives is the full-corpus application. */
  def applyExact(spark: SparkSession, dir: String): DataFrame =
    // Single pass, no self-join: the survivor's (lang, n_chars) ride along
    // with the min-doc_id pick via min_by, so the fp shuffle carries four
    // narrow columns (fp, doc_id, lang, len) with map-side partials —
    // never the document body, and never a second scan of the corpus.
    Tables.documents(spark, dir)
      .select(md5(lower(trim(col("text"))).cast("binary")).as("fp"),
        col("doc_id"), col("lang"), length(col("text")).as("len"))
      .groupBy(col("fp"))
      .agg(min_by(struct(col("lang"), col("len")), col("doc_id")).as("s"))
      .groupBy(col("s.lang").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("s.len")).cast("long").as("n_chars"))
      .orderBy(col("lang"))

  /** Incremental (cross-snapshot) dedup — the daily-crawl ingestion pass:
    * a NEW batch survives only where its exact fingerprint does not
    * already exist in the OLD corpus, then dedups within itself (min
    * doc_id per fp). Splits are deterministic hash gates (doc_id % 5:
    * bucket 0 = the incoming batch, 1-4 = the standing corpus). Plan:
    * the old side collapses to its distinct fp set map-side, the
    * anti-join shuffles 16-byte fingerprints only — at 100 TB the
    * standing corpus is a bucketed fp table and the anti-join co-locates
    * on it (X29). */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val fps = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(lower(trim(col("text"))).cast("binary")).as("fp"),
        (col("doc_id") % 5 === 0).as("is_new"))
    val oldFps = fps.filter(!col("is_new")).select("fp").distinct()
    fps.filter(col("is_new"))
      .join(oldFps, Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_in_batch"))
      .select(col("doc_id"), col("fp"), col("n_in_batch"))
      .orderBy("doc_id")
  }

  /** Incremental NEAR-dup admission check — [[incremental]]'s exact-fp
    * gate misses a re-crawl with one word changed; this is the daily
    * pass a production pipeline actually runs: the NEW batch's band
    * index probes the STANDING corpus's band index (never
    * standing×standing — that work was paid when those docs were
    * admitted), and each new doc reports its candidate count and
    * closest standing match (max signature agreement, ties → lowest
    * standing id, the [[canonical]] two-level discipline). At 100 TB
    * the standing bands are a bucketed table keyed on (band, band_hash)
    * and the probe co-locates on it (X29's landing dividend). */
  def incrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    val b = bandsRaw(spark, dir).withColumn("is_new", col("doc_id") % 5 === 0)
    val cand = b.filter(col("is_new")).as("x")
      .join(b.filter(!col("is_new")).as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("old_id"))
      .distinct()
    val s = sigs(spark, dir)
    val scored = cand
      .join(s.as("s1"), col("new_id") === col("s1.doc_id"))
      .join(s.as("s2"), col("old_id") === col("s2.doc_id"))
      .select(col("new_id"), col("old_id"),
        round(aggregate(zip_with(col("s1.sig"), col("s2.sig"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (a, v) => a + v)
          .cast("double") / MinhashK, 6).as("est_sim"))
    val best = scored.groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_candidates"), max(col("est_sim")).as("max_est_sim"))
    scored.join(best, "new_id")
      .filter(col("est_sim") === col("max_est_sim"))
      .groupBy(col("new_id"), col("n_candidates"), col("max_est_sim"))
      .agg(min(col("old_id")).as("closest_old_id"))
      .select(col("new_id"), col("n_candidates"), col("max_est_sim"),
        col("closest_old_id"))
      .orderBy(col("new_id"))
  }

  /** [[incrementalMinhash]]'s standing-index layout made executable (the
    * X114 landing discipline applied to the band index): the standing
    * corpus's bands are landed ONCE as a bucketed+sorted table on the
    * probe key (band, band_hash); the daily probe then shuffles ONLY the
    * new batch — the standing scan feeds the sort-merge join in place,
    * zero Exchange, zero Sort (plan-asserted in PlanQualitySpec: exactly
    * one Exchange in the join subplan, on the new side). At 100 TB the
    * standing index is the multi-TB side — never re-shuffling it per
    * daily batch is the whole economics of incremental admission. */
  def standingProbeBase(spark: SparkSession, dir: String): DataFrame = {
    val b = bandsRaw(spark, dir).withColumn("is_new", col("doc_id") % 5 === 0)
    val idx = Writers.bucketedTable(
      b.filter(!col("is_new")).select(col("doc_id"), col("band"), col("band_hash")),
      s"bands_bkt_${graft.Scratch.key(dir)}", Seq("band", "band_hash"), BucketCount,
      graft.Scratch.dir("bands", dir))
    b.filter(col("is_new"))
      .select(col("doc_id").as("new_id"), col("band"), col("band_hash"))
      .hint("merge")
      .join(idx, Seq("band", "band_hash"))
      .select(col("new_id"), col("doc_id").as("old_id"))
  }

  /** Buckets for the standing band index (matches the relational landing
    * dial's scale thinking: at 100 TB this is the cluster-width knob). */
  val BucketCount = 8

  /** The registered face: distinct candidate pairs off the bucketed
    * probe — identical pair set to [[incrementalMinhash]]'s cand stage,
    * so the oracle recomputes it from the shingle prelude. */
  def standingProbe(spark: SparkSession, dir: String): DataFrame =
    standingProbeBase(spark, dir).distinct().orderBy(col("new_id"), col("old_id"))

  /** Threshold sweep over the MinHash candidate pairs — the tuning report
    * behind picking [[MinClusterSim]]: for each candidate threshold, how
    * many pairs survive and how many documents they touch. One pairs
    * computation; the sweep is an explode over the tiny threshold list
    * (never a recompute per setting), counts ride two hash aggs. */
  val SweepThresholds: Seq[Double] = Seq(0.25, 0.5, 0.75)

  def minhashSweep(spark: SparkSession, dir: String): DataFrame = {
    val swept = minhashPairs(spark, dir)
      .select(col("id1"), col("id2"), col("est_sim"),
        explode(array(SweepThresholds.map(lit(_)): _*)).as("threshold"))
      .filter(col("est_sim") >= col("threshold"))
    val pairCounts = swept.groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"))
    val docCounts = swept
      .select(col("threshold"), explode(array(col("id1"), col("id2"))).as("doc_id"))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("doc_id")).as("n_docs_touched"))
    pairCounts.join(docCounts, "threshold")
      .select(col("threshold"), col("n_pairs"), col("n_docs_touched"))
      .orderBy(col("threshold"))
  }

  /** Cross-split near-dup leakage audit — the eval contamination an
    * exact n-gram check misses: near-duplicate pairs (the X3 MinHash LSH
    * pipeline unchanged) whose members landed in DIFFERENT
    * train/valid/test splits. Any such pair leaks training signal into
    * evaluation; the standard remedy is split assignment by cluster, and
    * this report is the evidence that forces it. Split formula is the
    * corpus's deterministic hash split ([[graft.text.TextAnalysis]]
    * splitAssign); cost rides the existing pairs plan plus two key-only
    * joins against the (doc_id, split) map. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val h = TextHash.strHash(
      concat(lit("split:"), col("doc_id").cast("string"))) % 100
    val split = Tables.documents(spark, dir).select(col("doc_id"),
      when(h < 80, "train").when(h < 90, "valid").otherwise("test")
        .as("split"))
    leakagePairs(minhashPairs(spark, dir), split)
  }

  /** The audit body, parameterized by the (doc_id, split) assignment —
    * so the same report runs against the naive hash split ([[splitLeakage]],
    * nonzero) and against [[splitClustered]]'s assignment (provably zero;
    * DedupSpec pins it). */
  private[graft] def leakagePairs(pairs: DataFrame, split: DataFrame): DataFrame =
    pairs
      .join(split.select(col("doc_id").as("id1"), col("split").as("split1")),
        "id1")
      .join(split.select(col("doc_id").as("id2"), col("split").as("split2")),
        "id2")
      .filter(col("split1") =!= col("split2"))
      .select(col("id1"), col("id2"), col("split1"), col("split2"),
        col("est_sim"), col("jaccard"))
      .orderBy(col("est_sim").desc, col("id1"), col("id2"))

  /** Cluster-aware train/valid/test assignment — the REMEDY the
    * [[splitLeakage]] audit exists to force: hash the near-dup CLUSTER
    * REPRESENTATIVE (min doc_id of the component), not the document, so
    * every member of a near-dup family lands in the same split and
    * cross-split leakage is zero BY CONSTRUCTION. Components come from
    * the FULL candidate graph (no similarity threshold): the audit checks
    * every candidate pair, so the split gate must merge every candidate
    * pair — a thresholded clustering would leave sub-threshold pairs
    * straddling splits. Singletons (never a candidate) represent
    * themselves, reproducing the naive gate for the ~whole corpus; only
    * near-dup families move. Cost: the X37 label fixpoint over the
    * candidate graph + one broadcast left join on the corpus scan —
    * membership is O(near-dup docs), tiny at any scale. */
  def splitClustered(spark: SparkSession, dir: String): DataFrame = {
    val membership = labelsFrom(
      minhashPairs(spark, dir).select(col("id1"), col("id2")))
    val h = TextHash.strHash(
      concat(lit("split:"), col("rep_id").cast("string"))) % 100
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(broadcast(membership), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("rep_id"))
      .select(col("doc_id"), col("rep_id"),
        when(h < 80, "train").when(h < 90, "valid").otherwise("test")
          .as("split"))
      .orderBy(col("doc_id"))
  }

  /** Sketch-algebra overlap matrix: each source reduced ONCE to a theta
    * sketch of its distinct shingle hashes, every pairwise |∩| then
    * computed on the 190 sketch pairs — vs the exact path's S² shingle
    * self-join (which this face also runs, as the oracle anchor and as the
    * cost contrast: at 100 TB the sketch path moves 20 × ~100 KB while
    * the exact path shuffles the full distinct (source, shingle) set).
    * Theta (not HLL) because HLL registers merge only by max, so they can
    * union but never intersect; a theta sketch keeps the hashes below its
    * θ threshold, so it supports intersection. Sketch and estimate are
    * Spark's own `theta_sketch_agg` (lgK 14) and `theta_intersection`:
    * while a sketch holds fewer than 2^14 distinct hashes θ=1 and both are
    * exact. At gated SFs the sketches sit in that regime, so the 5% gate
    * is met with identity and the oracle pins exact counts + TRUE. */
  def thetaOverlap(spark: SparkSession, dir: String): DataFrame = {
    // repartition barrier: the exploded shingle pipeline feeds THREE
    // consumers in one plan (the sketch aggregation and both sides of the
    // exact self-join) — without a shared exchange each consumer re-runs
    // the tokenize+hash scan; with it, ReuseExchange computes the
    // pipeline once (the same measured pattern as sigs/lshRecallAudit)
    val sh = Tables.documents(spark, dir).select(col("source"),
      explode(graft.functions.GraftFunctions.shingleSet(col("text"))).as("h"))
      .repartition(col("h"))
    val sk = sh.groupBy(col("source"))
      .agg(theta_sketch_agg(col("h"), 14).as("sk"))
    val est = sk.select(col("source").as("source_a"), col("sk").as("sk_a"))
      .join(sk.select(col("source").as("source_b"), col("sk").as("sk_b")),
        col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        theta_sketch_estimate(theta_intersection(col("sk_a"), col("sk_b")))
          .as("est"))
    val dsh = sh.distinct()
    val exact = dsh.select(col("source").as("source_a"), col("h"))
      .join(dsh.select(col("source").as("source_b"), col("h")), Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_overlap"))
    est.join(exact, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        when(coalesce(col("n_overlap"), lit(0L)) === 0L, col("est") <= 0.5)
          .otherwise(abs(col("est") - col("n_overlap")) <=
            col("n_overlap") * lit(0.05)).as("est_ok"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** LSH recall audit — "measure, don't guess" applied to the dedup
    * pipeline itself: ground truth is the EXACT shared-shingle Jaccard
    * join, detection is the banded MinHash candidate set, and the report
    * is recall at τ ∈ {0.1, 0.2, 0.3} — the table that justifies (or
    * indicts) the (bands, rows) configuration before anyone trusts the
    * dedup at corpus scale. Threshold tests are integer cross-
    * multiplications (10·c ≥ t·(n1+n2−c)), so both engines pick
    * identical truth sets; counts divide once at the edge. Cost: the
    * shared-shingle truth join is the expensive leg and exists to
    * CERTIFY the cheap one — run it on a sample in production, which is
    * exactly what this fixed-size corpus face is. */
  def lshRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = sharedShingleTruth(spark, dir, "c")
    val cand = candidates(spark, dir).withColumn("hit", lit(1L))
    val taus = Seq(1, 2, 3).toDF("t10")
    truth.join(cand, Seq("id1", "id2"), "left")
      .crossJoin(broadcast(taus))
      .filter(col("c") * 10 >= col("t10") * (col("n1") + col("n2") - col("c")))
      .groupBy(col("t10"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_detected"))
      .select((col("t10").cast("double") / 10).as("tau"),
        col("n_truth"), col("n_detected"),
        round(col("n_detected").cast("double") / col("n_truth"), 6)
          .as("recall"))
      .orderBy(col("tau"))
  }

  /** Dedup impact report — what exact dedup actually buys, per source:
    * documents and character mass before/after keeping one global
    * representative per content fingerprint (min doc_id; a duplicate
    * whose representative lives in ANOTHER source still counts as
    * removed here — the cross-source accounting quota decisions need).
    * One fingerprint-keyed window on 16-byte md5s + one source-keyed
    * aggregate; text never shuffles. */
  def dedupImpact(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(lower(trim(col("text"))).cast("binary")).as("fp"))
      .withColumn("keep", row_number().over(w) === 1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_total"),
        sum(col("keep").cast("long")).as("docs_kept"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("chars_kept"))
      .select(col("source"), col("docs_total"), col("docs_kept"),
        col("chars_total"), col("chars_kept"),
        round(lit(1.0) - col("docs_kept").cast("double") / col("docs_total"), 6)
          .as("doc_removal_rate"))
      .orderBy(col("source"))
  }

  /** Soft dedup — the keep-but-downweight alternative to dropping
    * near-duplicates (duplicate-aware loss weighting: a doc in a near-dup
    * cluster of m contributes 1/m of its tokens to the training budget,
    * so repeated content is seen ~once in expectation without the recall
    * risk of a hard drop). Weights are integer milli-units (1000 DIV m)
    * end to end, so the per-source sums are exact in both engines and the
    * one double division happens once per OUTPUT row. Cost profile is the
    * [[clusters]] fixpoint (id-keyed joins over 16-byte pairs) plus one
    * doc scan and one source-keyed aggregate; at 100 TB the cluster-size
    * frame is |clustered docs| rows — orders of magnitude under the
    * corpus — and text never shuffles. */
  def softWeights(spark: SparkSession, dir: String): DataFrame = {
    val labels = labelsFrom(
      minhashPairs(spark, dir).filter(col("est_sim") >= MinClusterSim)
        .select(col("id1"), col("id2")))
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("m"))
    val mem = labels.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("m"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .join(mem, Seq("doc_id"), "left")
      .withColumn("mm", coalesce(col("m"), lit(1L)))
      // integer DIV (repo convention): exact at any magnitude, and
      // structurally the oracle's `//`
      .withColumn("w_milli", expr("1000 DIV mm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("mm") > 1L, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("n_toks")).as("tokens_raw"),
        sum(col("n_toks") * col("w_milli")).as("tokens_eff_milli"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        col("tokens_raw"), col("tokens_eff_milli"),
        round(when(col("tokens_raw") > 0L,
            col("tokens_eff_milli").cast("double") /
              (col("tokens_raw") * 1000L).cast("double"))
          .otherwise(lit(null).cast("double")), 6).as("keep_ratio"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_soft_weights" -> softWeights,
    "dedup_lsh_recall" -> lshRecallAudit,
    "dedup_impact" -> dedupImpact,
    "dedup_dup_spans" -> dupSpans,
    "dedup_decontaminate" -> decontaminate,
    "dedup_theta_overlap" -> thetaOverlap,
    "dedup_apply_near" -> applyNear,
    "dedup_standing_probe" -> standingProbe,
    "dedup_incremental_minhash" -> incrementalMinhash,
    "dedup_containment" -> containmentPairs,
    "dedup_source_overlap" -> sourceOverlap,
    "dedup_split_clustered" -> splitClustered,
    "dedup_split_leakage" -> splitLeakage,
    "dedup_minhash_sweep" -> minhashSweep,
    "dedup_incremental" -> incremental,
    "dedup_canonical" -> canonical,
    "dedup_apply_exact" -> applyExact,
    "dedup_clusters" -> clusters,
    "dedup_exact" -> exact,
    "dedup_prefix_filter" -> prefixFilterPairs,
    "dedup_ngram_jaccard" -> ngramJaccard,
    "dedup_minhash_bands" -> minhashBands,
    "dedup_minhash_pairs" -> minhashPairs,
    "dedup_simhash" -> simhashPairs,
    "dedup_embedding_neardup" -> embeddingNearDup)
}
