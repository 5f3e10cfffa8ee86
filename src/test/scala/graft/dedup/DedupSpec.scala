package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.functions.TextHash._

/** Recall/precision checks for the near-dup machinery on constructed
  * near-duplicates (the synthetic driver docs are word-salad, so real
  * near-dups are proven here, cross-engine equality in the oracle gate). */
class DedupSpec extends AnyFunSuite with SparkSpec {

  private def docsDf(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " +
    "while the moon rises slowly over the quiet hills tonight"

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    val docs = docsDf(Seq(
      1L -> base,
      2L -> base.replace("quiet", "silent"), // one-token edit → high jaccard
      3L -> base,                            // exact dup
      4L -> "completely different content about spark catalyst optimizer rules and tungsten memory format internals"))
    val sig = docs.select(col("doc_id"),
      minhashSig(shingleSet(col("text"))).as("sig"))
    val bands = sig.select(col("doc_id"),
      posexplode(let(col("sig"))(s =>
        transform(sequence(lit(0), lit(7)), b => {
          var acc: org.apache.spark.sql.Column = lit(17L)
          for (k <- 0 until 4) acc = (acc * 131L + element_at(s, b * 4 + k + 1)) % P
          acc
        })))).toDF("doc_id", "band", "band_hash")
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)), "exact dup must collide in every band")
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)),
      "one-token edit should collide in at least one of 8 bands")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated doc must not produce candidates")
  }

  test("prefix filter: pair set equals brute all-pairs at tau=4/5; candidates shrink") {
    val sf = "/root/testdata/sf0.01"
    val got = Dedup.prefixFilterPairs(spark, sf)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "fixture near-dups must reach tau")
    // ground truth: brute all-pairs exact Jaccard over the same shingle sets
    val sh = graft.sources.Tables.documents(spark, sf).select(col("doc_id"),
      graft.functions.GraftFunctions.shingleSet(col("text")).as("shs"))
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        size(col("a.shs")).as("n1"), size(col("b.shs")).as("n2"),
        size(array_intersect(col("a.shs"), col("b.shs"))).as("c"))
      .filter(col("c") * (Dedup.PrefixTauNum + Dedup.PrefixTauDen) >=
        (col("n1") + col("n2")) * Dedup.PrefixTauNum)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, "prefix filtering must lose no qualifying pair and add none")
    // the point of the prefix index: fewer candidates than the full
    // inverted index (any-shared-shingle) generates
    val candN = Dedup.prefixCandidates(spark, sf).count()
    val ex = sh.select(col("doc_id"), explode(col("shs")).as("s"))
    val fullN = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select("a.doc_id", "b.doc_id").distinct().count()
    assert(candN < fullN, s"prefix candidates $candN !< inverted-index $fullN")
    assert(candN >= got.size.toLong, "candidates must cover every result pair")
  }

  test("clusters: connected components over sf0.01 candidates, min-id representative") {
    val sf = "/root/testdata/sf0.01"
    val cl = Dedup.clusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = Dedup.minhashPairs(spark, sf)
      .filter(col("est_sim") >= Dedup.MinClusterSim)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    // every thresholded pair lands in one cluster (transitivity included)
    edges.foreach { case (a, b) => assert(cl(a) == cl(b), s"$a,$b split") }
    // the representative is the minimum member of its own cluster
    cl.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid rep not min")
    }
  }

  test("canonical: per cluster, the max-score member wins, ties to min doc_id") {
    val sf = "/root/testdata/sf0.01"
    // recompute the quality score independently of the operator
    val toks = graft.functions.TextHash.tokens(col("text"))
    val score = round(
      (size(array_distinct(toks)).cast("double") / size(toks)) *
        log(lit(1.0) + size(toks)), 6)
    val scores = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), score.as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val members = Dedup.clusters(spark, sf).collect()
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(0)).toSeq).toMap
    val got = Dedup.canonical(spark, sf).collect()
    assert(got.nonEmpty && got.length == members.size)
    got.foreach { r =>
      val (cid, can, best, n) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
      val ms = members(cid)
      assert(n == ms.length)
      val wantBest = ms.map(scores).max
      assert(best == wantBest, s"cluster $cid best score")
      assert(can == ms.filter(scores(_) == wantBest).min,
        s"cluster $cid canonical tie-break")
    }
  }

  test("cluster-aware split: zero cross-split leakage; naive split leaks on the same pairs") {
    val sf = "/root/testdata/sf0.01"
    val pairs = Dedup.minhashPairs(spark, sf).localCheckpoint(true)
    assert(pairs.count() > 0, "fixture must produce candidate pairs")
    val clustered = Dedup.splitClustered(spark, sf)
      .select("doc_id", "split").localCheckpoint(true)
    // the remedy: re-running the X127 audit over the cluster-aware
    // assignment finds NOTHING — both members of every candidate pair
    // share a component, hence a representative, hence a split
    assert(Dedup.leakagePairs(pairs, clustered).isEmpty,
      "cluster-aware assignment must have zero cross-split near-dup pairs")
    // the audit has teeth: the naive per-doc hash gate DOES leak on the
    // same pair set (if it didn't, the zero above would be vacuous)
    assert(Dedup.splitLeakage(spark, sf).count() > 0,
      "naive hash split should leak on the fixture's candidate pairs")
    // and the gate still looks like 80/10/10: every split is populated
    val by = clustered.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Set("train", "valid", "test").subsetOf(by.keySet))
    assert(by("train") > by("valid") && by("train") > by("test"))
  }

  test("CC fixpoint parallelism tracks edge volume, capped by shuffle conf") {
    import spark.implicits._
    // pure sizing function across the scale range
    assert(Dedup.ccPartitions(0L, 32) == 1)
    assert(Dedup.ccPartitions(86L, 32) == 1)
    assert(Dedup.ccPartitions(250000L, 32) == 3)
    assert(Dedup.ccPartitions(10000000L, 32) == 32) // cluster-dial cap
    // staged frames: a fixture-sized edge list collapses to one task,
    // a generated large one fans out with its volume (test conf caps at 4)
    val small = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    assert(Dedup.stageEdges(small).rdd.getNumPartitions == 1)
    val big = spark.range(150000L).select(col("id").as("id1"), (col("id") + 1).as("id2"))
    // 300k undirected edges -> 3 tasks (within the 4-partition test cap)
    assert(Dedup.stageEdges(big).rdd.getNumPartitions == 3)
  }

  test("stageEdges emits exactly both orientations of every pair (one-subtree explode form)") {
    import spark.implicits._
    // r16: the symmetrization switched from self-union (which inlines the
    // pair-build subtree twice) to a single-pass explode — the edge
    // MULTISET must be unchanged: (a,b) and (b,a) once per input pair,
    // including self-loops (one per orientation = twice) and duplicate
    // input pairs (duplicated edges, as before — dedup is the caller's
    // groupBy's job)
    val pairs = Seq((1L, 2L), (2L, 3L), (2L, 3L), (7L, 7L)).toDF("id1", "id2")
    val got = Dedup.stageEdges(pairs).groupBy("src", "dst").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (1L, 2L) -> 1L, (2L, 1L) -> 1L,
      (2L, 3L) -> 2L, (3L, 2L) -> 2L,
      (7L, 7L) -> 2L))
  }

  test("containment: planted sub-document scores 1.0 while jaccard stays at the size ratio") {
    // B = A ++ appendix: every trigram of A survives in B (only boundary
    // trigrams are new), so c(A→B)=1 while jaccard = |A|/|B| — the
    // asymmetric inclusion the resemblance measure structurally misses
    val short = base
    val long = base + " plus a long appendix of unrelated trailing words" +
      " that stretches the union far beyond the shared prefix"
    val df = docsDf(Seq(1L -> short, 2L -> long))
    val shs = df.select(col("doc_id"), shingleSet(col("text")).as("shs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val common = shs(1L).intersect(shs(2L)).size.toDouble
    assert(common / shs(1L).size == 1.0, "short doc fully contained")
    val jac = common / shs(1L).union(shs(2L)).size
    assert(jac < 0.8, s"jaccard should reflect the size gap (got $jac)")
  }

  test("simhash hamming distance is 0 for dups and large for unrelated docs") {
    val docs = docsDf(Seq(
      1L -> base, 2L -> base,
      3L -> "completely different content about catalyst optimizer rules entirely"))
    val sh = docs.select(col("doc_id"),
      simhash32(tokenHashes(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) > 4)
  }

  test("cosine of identical vectors is 1; orthogonal is 0") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f, 2.0f), Array(1.0f, 0.0f, 2.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 5.0f, 0.0f)))
      .toDF("a", "b")
      .select(round(cosine(col("a"), col("b")), 9).as("c"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.0, 0.0))
  }

  test("exact jaccard via shingle sets matches hand computation") {
    // doc1/doc2 share all but the shingles touching the edited token
    val docs = docsDf(Seq(1L -> "a b c d e", 2L -> "a b c d x"))
    val sh = docs.select(col("doc_id"), shingleSet(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // 5 tokens → 3 trigram shingles; docs differ in last token → share 2 of 4 union
    assert(sh(1L).size == 3 && sh(2L).size == 3)
    assert(sh(1L).intersect(sh(2L)).size == 2)
  }

  test("dup spans: a verbatim-copied span is one consecutive run; clean doc reports zero") {
    // 6-token span copied verbatim into two otherwise-disjoint docs →
    // exactly the 4 trigram positions fully inside the span are duplicated
    // (boundary trigrams mix unique context and stay singletons), and they
    // are CONSECUTIVE — max_run must see the island, not just the count.
    val span = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two three $span four five six"),
      (2L, s"seven eight nine $span ten eleven twelve"),
      (3L, "lone words never repeated anywhere here"))
    val dir = graft.Scratch.fresh("dupspans").toString
    import spark.implicits._
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = Dedup.dupSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    // 12 tokens → 10 trigram positions; 4 duplicated, in one run of 4
    assert(rows(1L) == ((10L, 4L, 4L)) && rows(2L) == ((10L, 4L, 4L)))
    // clean doc: present, zero duplicated positions, zero max run
    assert(rows(3L) == ((4L, 0L, 0L)))
  }

  test("decontamination: 8-token verbatim quote flags the source; 7-token overlap does not") {
    import spark.implicits._
    val quote = "q1 q2 q3 q4 q5 q6 q7 q8" // exactly DecontamN tokens
    val train = Seq(
      (1L, s"pre1 pre2 $quote post1 post2"),      // contains the full quote
      (2L, "pre3 q1 q2 q3 q4 q5 q6 q7 post4"),    // only 7 consecutive shared
      (3L, "other stuff entirely unrelated here today")).toDF("doc_id", "text")
    val eval = Seq((100L, s"benchmark question says $quote"),
      (101L, s"another item quoting $quote")).toDF("eval_id", "text")
    val rows = Dedup.decontaminateAgainst(train, eval).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1 shares the single 8-gram with BOTH eval items
    assert(rows == Map(1L -> ((2L, 2L))))
  }

  test("soft-dedup weights match a driver-side recompute from the cluster face") {
    val sf = "/root/testdata/sf0.001"
    val members = Dedup.clusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_members")).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = docs.groupBy(_._2).map { case (src, rows) =>
      val eff = rows.map { case (id, _, n) => n * (1000L / members.getOrElse(id, 1L)) }.sum
      val raw = rows.map(_._3).sum
      val dup = rows.count { case (id, _, _) => members.getOrElse(id, 1L) > 1L }
      (src, rows.size.toLong, dup.toLong, raw, eff)
    }
    val got = Dedup.softWeights(spark, sf).collect().map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }
    assert(got.toSet == expected.toSet)
    assert(got.exists(_._3 > 0), "fixture corpus should contain clustered docs")
    // downweighting never inflates the budget: eff_milli <= 1000 * raw
    assert(got.forall(t => t._5 <= 1000L * t._4))
  }
}
