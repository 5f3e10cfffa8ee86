package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** The native codegen'd SimHash must agree with the interpreted
  * higher-order formulation (which the DuckDB oracle mirrors). */
class NativeExpressionsSpec extends AnyFunSuite with SparkSpec {

  test("SimHash32Expr equals TextHash.simhash32 on varied inputs") {
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a", "a a a a a a", "x y z w v u t s r q p o n m",
      "completely different content about catalyst optimizer rules")
      .toDF("text")
    val th = TextHash.tokenHashes(col("text"))
    val both = docs.select(
      GraftFunctions.simhash32(th).as("native"),
      TextHash.simhash32(th).as("interp"))
    assert(both.filter(col("native") =!= col("interp")).count() == 0)
    // and codegen path == interpreted path of the native expr itself
    val vals = both.collect().map(_.getLong(0))
    assert(vals.distinct.length > 1) // non-degenerate
  }

  test("MinHashSigExpr equals TextHash.minhashSig on varied inputs") {
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog and then some more words",
      "one two three four", "short", // < 3 tokens → empty shingle set
      "alpha beta gamma delta epsilon zeta eta theta iota kappa")
      .toDF("text")
    val shs = TextHash.shingleSet(col("text"))
    val both = docs.select(
      GraftFunctions.minhash32(shs).as("native"),
      TextHash.minhashSig(shs).as("interp"))
    assert(both.filter(col("native") =!= col("interp")).count() == 0)
    // empty shingle set → all-P signature, non-empty ones differ
    val sigs = both.collect().map(_.getSeq[Long](0))
    assert(sigs.exists(_.forall(_ == TextHash.P)))
    assert(sigs.map(_.toVector).distinct.length > 2)
  }

  test("TokenHashesExpr equals TextHash.tokenHashes (per-token md5 mod P)") {
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox", "", "  padded   whitespace  ",
      "unicode tökens żółw 中文 here",
      "repeated repeated repeated").toDF("text")
    val both = docs.select(
      GraftFunctions.tokenHashes(col("text")).as("native"),
      TextHash.tokenHashes(col("text")).as("interp"))
    assert(both.filter(col("native") =!= col("interp")).count() == 0)
  }

  test("ShingleSetExpr equals TextHash.shingleSet incl. first-occurrence order") {
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog and then some more words",
      "a b c a b c a b c a b c", // repeated shingles → dedup path
      "one two three", "short one", "",
      "alpha beta gamma delta epsilon zeta eta theta iota kappa").toDF("text")
    val both = docs.select(
      GraftFunctions.shingleSet(col("text")).as("native"),
      TextHash.shingleSet(col("text")).as("interp"))
    assert(both.filter(col("native") =!= col("interp")).count() == 0)
    // non-degenerate: repeated-shingle doc actually exercised dedup
    val sizes = docs.select(size(GraftFunctions.shingleSet(col("text"))))
      .collect().map(_.getInt(0))
    assert(sizes.contains(3) && sizes.contains(0))
  }

  test("ShingleAllExpr equals interpreted shingleHashes (multiplicity + position order)") {
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog and then some more words",
      "a b c a b c a b c a b c", // repeated shingles must be KEPT here
      "one two three", "short one", "",
      "alpha beta gamma delta epsilon zeta eta theta iota kappa").toDF("text")
    for (n <- Seq(3, 8)) {
      val both = docs.select(
        GraftFunctions.shingleAll(col("text"), n).as("native"),
        TextHash.let(TextHash.tokenHashes(col("text")))(th =>
          TextHash.shingleHashes(th, n)).as("interp"))
      assert(both.filter(col("native") =!= col("interp")).count() == 0,
        s"n=$n mismatch")
    }
    // non-degenerate: the repeated-shingle doc keeps all 10 positions
    val sizes = docs.select(size(GraftFunctions.shingleAll(col("text"), 3)))
      .collect().map(_.getInt(0))
    assert(sizes.contains(10) && sizes.contains(0))
  }

  test("PreTokenStatsExpr equals the interpreted regex census") {
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox, 42 jumps; over 7 lazy-dogs!",
      "", "   ", "abc123def", "42", "...", "a,a,a a;a",
      "unicode tökens żółw 中文 «here»  nbsp",
      "emoji 😀 pair and CamelCase X9Y8",
      "tabs\tand\nnewlinesvtff\rcr end").toDF("text")
    val both = docs.select(
      GraftFunctions.preTokenStats(col("text")).as("native"),
      graft.text.TextAnalysis.preTokenStatsInterp.as("interp"))
    assert(both.filter(col("native") =!= col("interp")).count() == 0)
    // non-degenerate: every class count exercised somewhere
    val agg = docs.select(GraftFunctions.preTokenStats(col("text")).as("s"))
      .agg(sum($"s.n_word"), sum($"s.n_number"), sum($"s.n_punct"),
        sum($"s.n_pretokens"), sum($"s.n_vocab"))
      .collect().head
    (0 until 5).foreach(i => assert(agg.getLong(i) > 0))
  }

  test("PiiScanExpr equals the interpreted 4-pass regex census") {
    import spark.implicits._
    val long = ("word " * 40) + "contact user7@example.com tel 555-0042"
    val docs = Seq(
      "contact user1@example.com",
      "a@b.co and c.d+e@f-g.hi plus 123-4567 twice 999-0000",
      "no pii here at all", "",
      "digits-in-local 555-1234@example.com boundary case",
      "unicode tökens 中文 then x@y.zz tail 😀 555-9999",
      long).toDF("text")
    val both = docs.select(
      GraftFunctions.piiScan(col("text")).as("native"),
      graft.text.TextAnalysis.piiScanInterp.as("interp"))
    assert(both.filter(col("native") =!= col("interp")).count() == 0)
    // non-degenerate: emails and phones both found, replacement visible
    val r = docs.select(GraftFunctions.piiScan(col("text")).as("s"))
      .agg(sum($"s.n_emails"), sum($"s.n_phones")).collect().head
    assert(r.getLong(0) >= 5 && r.getLong(1) >= 3)
    val tails = docs.select($"text",
      GraftFunctions.piiScan(col("text")).getField("redacted_tail"))
      .collect().map(_.getString(1))
    assert(tails.exists(_.contains("<EMAIL>")) && tails.exists(_.contains("<PHONE>")))
  }

  test("PqEncodeExpr equals the interpreted normalize+encode pipeline on real embeddings") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    // the interpreted executable spec: let-bound unit vector → pqCodes
    val interp = TextHash.let(
      TextHash.let(GraftFunctions.l2norm(col("embedding")))(n =>
        transform(col("embedding"), x => x.cast("double") / n)))(u =>
      graft.similarity.Similarity.pqCodes(u))
    val both = e.select(
      GraftFunctions.pqEncode(col("embedding")).as("native"),
      interp.as("interp"))
    assert(both.filter(col("native") =!= col("interp")).count() == 0)
    // non-degenerate: codes span more than one centroid index
    val distinct = e.select(explode(
        GraftFunctions.pqEncode(col("embedding"))))
      .distinct().count()
    assert(distinct > 1)
  }

  test("SimHash32Expr of empty token array is 0") {
    import spark.implicits._
    val r = Seq(Seq.empty[Long]).toDF("th")
      .select(GraftFunctions.simhash32(col("th")))
      .collect().head.getLong(0)
    assert(r == 0L)
  }

  test("shingle exprs on NULL text yield EMPTY arrays, matching the spec") {
    import spark.implicits._
    // the interpreted spec's when(size(th) >= n, …).otherwise(array())
    // takes the otherwise branch on a null frame — the native exprs must
    // agree (a null-propagating form would diverge on null documents)
    val docs = Seq(Some("a b c d"), None).toDF("text")
    val rows = docs.select(
      GraftFunctions.shingleSet(col("text")).as("ns"),
      GraftFunctions.shingleAll(col("text")).as("na"),
      TextHash.shingleSet(col("text")).as("is")).collect()
    val nullRow = rows(1)
    assert(!nullRow.isNullAt(0) && nullRow.getSeq[Long](0).isEmpty)
    assert(!nullRow.isNullAt(1) && nullRow.getSeq[Long](1).isEmpty)
    assert(nullRow.getSeq[Long](2).isEmpty) // the spec it must match
    // non-null row still agrees with the interpreted spec
    assert(rows(0).getSeq[Long](0) == rows(0).getSeq[Long](2))
  }

  test("DotProductExpr yields NULL on length mismatch, like the spec") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)), // equal length → value
      (Seq(1.0f, 2.0f), Seq(3.0f))        // mismatch → NULL (spec: zip_with pads null)
    ).toDF("a", "b")
    val rows = df.select(
      GraftFunctions.dot(col("a"), col("b")).as("native"),
      TextHash.dot(col("a"), col("b")).as("interp")).collect()
    assert(rows(0).getDouble(0) == 11.0 && rows(0).getDouble(1) == 11.0)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
  }
}
