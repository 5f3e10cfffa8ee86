package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Regression fixtures for the round-10 ADVICE items — each test pins the
  * semantics the fix restored, on a corpus crafted to trip the old bug.
  *
  * 1. BPE merge symbols are OUT-OF-ALPHABET sentinels (`chr(1..3)`): a
  *    corpus word containing literal 'A'/'B'/'C' must never alias a merged
  *    symbol (the old scheme used 'A'/'B'/'C' as the symbols, so a learned
  *    round-2 pair like "Ac" fired on literal text and inflated
  *    `n_merged`/`merged_share`).
  * 2. vocabGrowth log(0): a corpus whose leading deciles are empty must
  *    yield NULL heaps_beta (guarded fit), not NaN/-inf divergence.
  * 3. annPlanesFor ↔ oracle `range(AnnPlanes, AnnMaxPlanes+1)` search stay
  *    in lockstep across the saturation boundary.
  */
class AdviceRegressionSpec extends AnyFunSuite with SparkSpec {

  /** Write a documents.parquet fixture and return its dir. */
  private def fixture(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = graft.Scratch.fresh("graft-advice-fix").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // xx: "abc"×10 forces round-1 merge "ab"→chr(1) and round-2 merge
  // "c"→chr(2); "dd"×3 forces round-3 "dd"→chr(3). yy: words with
  // literal uppercase A/B/C — under the OLD in-band scheme round 2 would
  // have learned "Ac" (10 merged + 2 literal occurrences) and rewritten
  // the literal "Ac" words, counting phantom merges for lang yy.
  private lazy val bpeDir = fixture(Seq(
    (1L, "abc abc abc abc abc", "xx", "s1"),
    (2L, "abc abc abc abc abc", "xx", "s1"),
    (3L, "dd dd dd", "xx", "s1"),
    (4L, "Ac Ac Bd Ca", "yy", "s2")))

  test("bpeTrain learns sentinel symbols; literal A/B/C never alias") {
    val rules = TextAnalysis.bpeTrain(spark, bpeDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(rules.toSeq == Seq(
      (1, "ab", 10L, ""),
      (2, "c", 10L, ""),
      (3, "dd", 3L, "")),
      s"got ${rules.toSeq}: round-2 must merge the sentinel pair, not 'Ac'")
  }

  test("bpeFertility: merged_share untouched by literal marker words") {
    val byLang = TextAnalysis.bpeFertility(spark, bpeDir).collect()
      .map(r => r.getString(0) -> r).toMap
    // yy's words contain no learned pair — zero merges despite the
    // literal 'A'/'B'/'C' (the old scheme rewrote "Ac" and counted 1)
    val yy = byLang("yy")
    assert(yy.getLong(1) == 4L && yy.getLong(2) == 8L,
      s"yy word/symbol mass changed: $yy")
    assert(yy.getDouble(3) == 2.0 && yy.getDouble(4) == 0.0,
      s"yy fertility/merged_share: $yy — literal markers counted as merges")
    // xx hand-computed: "abc"×10 → chr(2) (2 merges), "dd"×3 → chr(3) (1)
    val xx = byLang("xx")
    assert(xx.getLong(1) == 13L && xx.getLong(2) == 13L)
    assert(xx.getDouble(3) == 1.0 &&
      math.abs(xx.getDouble(4) - 23.0 / 13.0) < 1e-6, s"xx: $xx")
  }

  test("vocabGrowth: empty leading deciles -> guarded fit, NULL beta") {
    // one doc ⇒ hi==lo ⇒ everything lands in decile 10; deciles 1–9 have
    // n_tokens_cum = 0 (the log(0) trap) and the single surviving fit
    // point has zero OLS denominator ⇒ heaps_beta must be NULL, not NaN
    val dir = fixture(Seq((7L, "alpha beta alpha", "en", "s1")))
    val rows = TextAnalysis.vocabGrowth(spark, dir).collect()
    assert(rows.length == 10)
    rows.filter(_.getLong(0) < 10).foreach { r =>
      assert(r.getLong(2) == 0L, s"decile ${r.getLong(0)}: $r")
    }
    val d10 = rows.find(_.getLong(0) == 10L).get
    assert(d10.getLong(2) == 3L && d10.getLong(3) == 2L, s"decile 10: $d10")
    assert(rows.forall(_.isNullAt(4)),
      "degenerate fit must yield NULL heaps_beta in both engines")
  }

  test("annPlanesFor matches the oracle's bounded range search") {
    import graft.dedup.Dedup._
    // the oracle: COALESCE(MIN(p) over [AnnPlanes, AnnMaxPlanes] with
    // (AnnBucketTarget << p) >= n, AnnMaxPlanes)
    def oracle(n: Long): Int = (AnnPlanes to AnnMaxPlanes)
      .find(p => (AnnBucketTarget << p) >= n).getOrElse(AnnMaxPlanes)
    val boundary = Seq(0L, 1L, AnnBucketTarget << AnnPlanes,
      (AnnBucketTarget << AnnPlanes) + 1, 1L << 20, 1L << 30,
      AnnBucketTarget << AnnMaxPlanes, (AnnBucketTarget << AnnMaxPlanes) + 1,
      Long.MaxValue)
    for (n <- boundary)
      assert(annPlanesFor(n) == oracle(n), s"diverge at n=$n")
  }
}
