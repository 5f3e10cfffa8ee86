package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Behavior checks for the sampling/packing operators (the oracle gate
  * proves cross-engine equality; these prove the semantics are the ones a
  * training pipeline needs). */
class TextOpsSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("stratified sample: deterministic, per-language rates honored") {
    val s1 = TextAnalysis.stratifiedSample(spark, sf).collect()
    val s2 = TextAnalysis.stratifiedSample(spark, sf).collect()
    assert(s1.toSeq == s2.toSeq, "hash-gated sample must be reproducible")

    val total = graft.sources.Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = s1.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    for ((lang, rate) <- TextAnalysis.sampleRates) {
      val frac = kept.getOrElse(lang, 0).toDouble / total(lang)
      assert(math.abs(frac - rate / 1000.0) < 0.2,
        s"$lang kept $frac, want ~${rate / 1000.0}")
    }
    // the rebalancing actually rebalances: en (rate 400) keeps a smaller
    // fraction than de (rate 800)
    assert(kept("en").toDouble / total("en") < kept("de").toDouble / total("de"))
  }

  test("pack sequences: bucketed two-phase prefix sum == global-order cumsum") {
    val rows = TextAnalysis.packSequences(spark, sf)
      .collect().sortBy(_.getLong(0))
    var excl = 0L
    rows.foreach { r =>
      val (id, n, pack, off) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(off >= 0 && off < 512, s"doc $id offset $off out of budget")
      assert(pack == excl / 512 && off == excl % 512,
        s"doc $id: got (pack=$pack, off=$off), want prefix $excl")
      excl += n
    }
    assert(rows.length == 500)
  }

  test("pack sequences: pack budget is respected up to one straddling doc") {
    // every pack's content is ≤ 512 tokens once the straddle-in and
    // straddle-out portions are attributed to neighboring packs: the
    // within-pack offsets are strictly increasing and below budget
    val byPack = TextAnalysis.packSequences(spark, sf)
      .collect().groupBy(_.getLong(2))
    byPack.foreach { case (_, ds) =>
      val offs = ds.sortBy(_.getLong(0)).map(_.getLong(3))
      assert(offs.sameElements(offs.sorted) && offs.forall(_ < 512))
    }
  }

  test("repetition: gram accounting matches a driver-side recount") {
    val rows = TextAnalysis.repetition(spark, sf).collect()
    assert(rows.length == 500)
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(50).foreach { r =>
      val toks = texts(r.getLong(0)).trim.split("\\s+").toSeq
      val bigrams = toks.sliding(2).filter(_.size == 2).toSeq
      val trigrams = toks.sliding(3).filter(_.size == 3).toSeq
      assert(r.getAs[Long]("n_bigrams") == bigrams.size)
      assert(r.getAs[Long]("n_trigrams") == trigrams.size)
      val top = if (bigrams.isEmpty) 0L
        else bigrams.groupBy(identity).values.map(_.size).max.toLong
      assert(r.getAs[Long]("top_bigram_count") == top,
        s"doc ${r.getLong(0)}: top bigram count")
      val repeat = if (trigrams.isEmpty) 0.0
        else 1.0 - trigrams.distinct.size.toDouble / trigrams.size
      assert(math.abs(r.getAs[Double]("trigram_repeat_ratio") - repeat) < 1e-3)
    }
    // the flag actually splits the corpus (not all-one-bucket)
    val flags = rows.map(_.getAs[String]("repetition_flag")).toSet
    assert(flags.contains("ok"))
  }

  test("corpus build: dedup + gate + split accounting composes the parts") {
    import org.apache.spark.sql.functions._
    val out = TextAnalysis.corpusBuild(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set("train", "valid", "test"))
    // survivors recomputed independently: one per md5, token band, split %s
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(lower(trim(col("text"))).cast("binary")).as("fp"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .collect()
    val surv = docs.groupBy(_.getString(1)).values
      .map(_.minBy(_.getLong(0))).filter(r => r.getLong(2) >= 10 && r.getLong(2) <= 400)
    assert(out.values.map(_._1).sum == surv.size)
    assert(out.values.map(_._2).sum == surv.map(_.getLong(2)).sum)
    // split proportions roughly 80/10/10
    val total = surv.size.toDouble
    assert(out("train")._1 / total > 0.6 && out("train")._1 / total < 0.95)
  }

  test("contamination: test-split docs only, ratios in [0,1], deterministic") {
    val rows = TextAnalysis.contamination(spark, sf).collect()
    assert(rows.nonEmpty)
    val testIds = TextAnalysis.splitAssign(spark, sf)
      .filter(org.apache.spark.sql.functions.col("split") === "test")
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet.subsetOf(testIds))
    rows.foreach { r =>
      val (n, hit, ratio) = (r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_contaminated"), r.getAs[Double]("contamination_ratio"))
      assert(hit >= 0 && hit <= n)
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    val again = TextAnalysis.contamination(spark, sf).collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("chunk windows: full tiling with stride overlap, short tail allowed") {
    val rows = TextAnalysis.chunkWindows(spark, sf).collect()
      .groupBy(_.getLong(0))
    assert(rows.nonEmpty)
    val (w, s) = (TextAnalysis.ChunkSize.toLong, TextAnalysis.ChunkStride.toLong)
    rows.foreach { case (id, cs) =>
      val sorted = cs.sortBy(_.getAs[Long]("chunk_id"))
      val n = sorted.head.getAs[Long]("n_tokens")
      // chunk ids are 0..n_chunks-1, starts advance by exactly the stride
      assert(sorted.map(_.getAs[Long]("chunk_id")).sameElements(
        sorted.indices.map(_.toLong)), s"doc $id chunk ids")
      sorted.foreach { c =>
        assert(c.getAs[Long]("start_tok") == c.getAs[Long]("chunk_id") * s)
        assert(c.getAs[Long]("chunk_len") >= 1 && c.getAs[Long]("chunk_len") <= w)
      }
      // the last chunk ends exactly at n_tokens: every token is covered
      val last = sorted.last
      assert(last.getAs[Long]("start_tok") + last.getAs[Long]("chunk_len") == n,
        s"doc $id tail not flush with n_tokens=$n")
      // and no chunk before the last ever runs short
      sorted.init.foreach(c => assert(c.getAs[Long]("chunk_len") == w))
    }
  }

  test("global shuffle: ranks are the permutation induced by the hash key") {
    val rows = TextAnalysis.globalShuffle(spark, sf).collect()
    val orders = rows.map(_.getAs[Long]("global_order")).sorted
    assert(orders.sameElements(1L to rows.length.toLong),
      "global_order must be a contiguous 1..N permutation")
    // ordering by (key, doc_id) reproduces the assigned order exactly
    val byKey = rows.sortBy(r => (r.getAs[Long]("shuffle_key"), r.getLong(0)))
      .map(_.getAs[Long]("global_order"))
    assert(byKey.sameElements(1L to rows.length.toLong),
      "two-phase rank must equal the global sort rank")
  }

  test("source filter: blocklist excluded, every surviving source clears the floor") {
    val kept = TextAnalysis.sourceFilter(spark, sf).collect()
    assert(kept.nonEmpty && kept.length < 500, "the gate must actually gate")
    val keptSources = kept.map(_.getString(1)).toSet
    assert(TextAnalysis.SourceBlocklist.forall(!keptSources.contains(_)))
    val bySource = kept.groupBy(_.getString(1))
    bySource.foreach { case (src, ds) =>
      // n_tokens rides the output, so the floor is re-checkable per source
      val all = graft.sources.Tables.documents(spark, sf)
        .filter(col("source") === src).count()
      assert(ds.length == all, s"$src must keep all docs or none")
    }
  }

  test("novelty: doc 0 is all-novel and every gram is novel exactly once") {
    val rows = TextAnalysis.novelty(spark, sf).collect()
    val byId = rows.map(r => r.getLong(0) ->
      (r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"))).toMap
    // the first document can only contain first-seen grams
    val d0 = byId(rows.map(_.getLong(0)).min)
    assert(d0._1 == d0._2, "earliest doc must be 100% novel")
    // Σ novel grams over docs = # distinct grams in the corpus (each gram
    // is first-seen exactly once)
    val distinctGrams = graft.sources.Tables.documents(spark, sf)
      .select(explode(graft.functions.TextHash.shingleSet(col("text"), 3)).as("g"))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("n_novel")).sum == distinctGrams)
  }

  test("boilerplate: shares bounded and monotone in the df threshold") {
    val rows = TextAnalysis.boilerplate(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (n, b) = (r.getAs[Long]("n_grams"), r.getAs[Long]("n_boilerplate"))
      assert(b >= 0 && b <= n)
      val share = r.getAs[Double]("boilerplate_share")
      assert(share >= 0.0 && share <= 1.0)
    }
  }

  test("span corruption: splicing targets into the input reconstructs every document") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").mkString(" ")).toMap
    val rows = TextAnalysis.spanCorruption(spark, sf).collect()
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val (id, nSpans) = (r.getLong(0), r.getLong(3))
      val (input, target) = (r.getString(4), r.getString(5))
      // no noised token → no target (NULL, as the oracle has it)
      assert((target == null) == (nSpans == 0), s"doc $id: NULL target iff no span")
      // target = "<extra_id_0> t t <extra_id_1> t ..." → span k's tokens
      val spans = Option(target).toSeq
        .flatMap("<extra_id_(\\d+)>".r.split(_).drop(1).map(_.trim))
      assert(spans.length == nSpans, s"doc $id: span count")
      val rebuilt = spans.zipWithIndex.foldLeft(input) { case (acc, (sp, k)) =>
        acc.replace(s"<extra_id_$k>", sp)
      }.trim.split("\\s+").mkString(" ")
      assert(rebuilt == docs(id), s"doc $id fails round-trip")
    }
  }

  test("span corruption: a doc with no noised token has a NULL target") {
    import spark.implicits._
    // a one-token doc whose only position's gate is off
    val id = (1L to 50L).find { i =>
      spark.range(1).select(graft.functions.TextHash.strHash(lit(s"sc:$i:0")) % 5)
        .head().getLong(0) != 0L
    }.get
    val dir = graft.Scratch.fresh("span_corruption")
    try {
      Seq((id, "solitary")).toDF("doc_id", "text")
        .write.parquet(dir.resolve("documents.parquet").toString)
      val rows = TextAnalysis.spanCorruption(spark, dir.toString).collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[Long]("doc_id") == id)
      assert(r.getAs[Long]("n_spans") == 0L)
      assert(r.getAs[String]("input_text") == "solitary")
      assert(r.isNullAt(r.fieldIndex("target_text")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("bm25: 3 two-term queries, dense ranks, monotone scores, tf beats shorter overlap") {
    val rows = TextAnalysis.bm25(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Int]("query_id"))
    assert(byQ.keySet == Set(1, 2, 3))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10))
      val scores = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "scores non-increasing")
      assert(rs.forall { r => val h = r.getAs[Long]("n_terms_hit"); h == 1L || h == 2L })
    }
  }

  test("bpe fertility: word counts tie to direct recounts, merges fire per lang") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.bpeFertility(spark, sf).collect()
    val direct = graft.sources.Tables.documents(spark, sf)
      .select(col("lang"),
        size(graft.functions.TextHash.tokens(col("text"))).cast("long").as("n"))
      .groupBy("lang").agg(sum("n").as("n_words")).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_words")).toMap
    assert(rows.map(_.getAs[String]("lang")).toSet == direct.keySet)
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      assert(r.getAs[Long]("n_words") == direct(lang), s"$lang: word count")
      val f = r.getAs[Double]("fertility")
      assert(f >= 1.0, s"$lang: a word costs at least one symbol")
      val ms = r.getAs[Double]("merged_share")
      assert(ms > 0.0 && ms < 1.0, s"$lang: merges should fire ($ms)")
      // merged symbols each absorbed one extra char: symbols < raw chars
      assert(r.getAs[Long]("n_symbols") < direct(lang) * 20,
        s"$lang: symbol total sane")
    }
  }

  test("vocab growth: cumulative curve ties to direct recounts, β defined") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.vocabGrowth(spark, sf).collect()
      .sortBy(_.getAs[Long]("decile"))
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    // cumulative columns are monotone non-decreasing
    for (c <- Seq("n_docs_cum", "n_tokens_cum", "vocab_cum");
         w <- rows.map(_.getAs[Long](c)).sliding(2))
      assert(w(0) <= w(1), s"$c not monotone")
    // decile 10 is the whole corpus: doc count, token count, and the
    // distinct-token-hash vocabulary all tie to direct recounts
    val docs = graft.sources.Tables.documents(spark, sf)
    val hashed = docs.select(
      explode(graft.functions.TextHash.tokenHashes(col("text"))).as("h"))
    assert(rows.last.getAs[Long]("n_docs_cum") == docs.count())
    assert(rows.last.getAs[Long]("n_tokens_cum") == hashed.count())
    assert(rows.last.getAs[Long]("vocab_cum") == hashed.distinct().count())
    // β is present and identical on every row (a single fitted scalar)
    val betas = rows.map(_.getAs[Double]("heaps_beta")).distinct
    assert(betas.length == 1 && !betas.head.isNaN)
  }

  test("anneal mix: budgets respect the phase split and HQ pools") {
    val rows = TextAnalysis.annealMix(spark, sf).collect()
    val b = rows.map(_.getAs[Long]("tokens_total")).sum
    val p1 = rows.map(_.getAs[Long]("p1_target")).sum
    val p2 = rows.map(_.getAs[Long]("p2_target")).sum
    // integer DIV chains only lose downward: sums stay under the phase caps
    assert(p1 <= b * (1000 - TextAnalysis.AnnealPermille) / 1000 && p1 > 0)
    assert(p2 <= b * TextAnalysis.AnnealPermille / 1000 && p2 > 0)
    rows.foreach { r =>
      assert(r.getAs[Long]("tokens_hq") <= r.getAs[Long]("tokens_total"))
      // phase-1 allocation is proportional to size: never an upsample
      assert(r.getAs[Long]("p1_epochs_milli") <= 1000)
      val e2 = r.getAs[Long]("p2_epochs_milli")
      assert(r.isNullAt(r.fieldIndex("p2_epochs_milli")) || e2 >= 0)
    }
  }
}
