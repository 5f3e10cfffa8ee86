package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Algebraic properties of the hash/similarity primitives over generated
  * documents — checks the NATIVE expressions (the hot path) against laws
  * that hold by construction, not just against fixed examples.
  * Plain ScalaCheck generators with fixed seeds (the scalatest bridge
  * isn't in the offline dependency set). */
class TextHashPropsSpec extends AnyFunSuite with SparkSpec {

  private val genDoc: Gen[String] = for {
    n <- Gen.choose(0, 40)
    ws <- Gen.listOfN(n, Gen.oneOf(
      "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta",
      "iota", "kappa", "mu", "nu", "xi", "pi", "rho", "sigma"))
  } yield ws.mkString(" ")

  private def docs(n: Int): Seq[String] =
    (1 to n).flatMap(i => genDoc.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("hashes stay in [0, P) and are deterministic per input") {
    import spark.implicits._
    val df = docs(60).toDF("text").select(
      TextHash.strHash(col("text")).as("sh"),
      TextHash.rollHash(col("text")).as("rh"))
    val rows = df.collect()
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < TextHash.P))
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < TextHash.P))
    assert(df.collect().toSeq == rows.toSeq) // re-evaluation is stable
  }

  test("minhash of a union is the elementwise min of the parts' signatures") {
    // the defining property of MinHash — exercised through the NATIVE
    // MinHashSigExpr on both the parts and the union
    import spark.implicits._
    val pairs = docs(40).grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
    val df = pairs.toDF("a", "b").select(
      GraftFunctions.minhash32(TextHash.shingleSet(col("a"))).as("sa"),
      GraftFunctions.minhash32(TextHash.shingleSet(col("b"))).as("sb"),
      GraftFunctions.minhash32(array_distinct(concat(TextHash.shingleSet(col("a")),
          TextHash.shingleSet(col("b"))))).as("su"))
    for (r <- df.collect()) {
      val (sa, sb, su) =
        (r.getSeq[Long](0), r.getSeq[Long](1), r.getSeq[Long](2))
      assert(su == sa.zip(sb).map { case (x, y) => math.min(x, y) },
        s"union signature is not the elementwise min")
    }
  }

  test("simhash is invariant under token permutation") {
    import spark.implicits._
    val perms = docs(40).filter(_.nonEmpty).map { d =>
      val toks = d.split("\\s+").toSeq
      (d, scala.util.Random.shuffle(toks).mkString(" ")) // bit votes commute
    }
    val df = perms.toDF("a", "b").select(
      GraftFunctions.simhash32(TextHash.tokenHashes(col("a"))).as("ha"),
      GraftFunctions.simhash32(TextHash.tokenHashes(col("b"))).as("hb"))
    assert(df.collect().forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("cosine is symmetric, bounded, and 1 on self") {
    import spark.implicits._
    val vecs = (1 to 20).map(i =>
      (Array.tabulate(16)(j => ((i * 7 + j * 13) % 19 - 9).toFloat),
        Array.tabulate(16)(j => ((i * 11 + j * 5) % 17 - 8).toFloat)))
    val df = vecs.toDF("a", "b").select(
      (GraftFunctions.dot(col("a"), col("b")) /
        (GraftFunctions.l2norm(col("a")) *
          GraftFunctions.l2norm(col("b")))).as("ab"),
      (GraftFunctions.dot(col("b"), col("a")) /
        (GraftFunctions.l2norm(col("b")) *
          GraftFunctions.l2norm(col("a")))).as("ba"),
      (GraftFunctions.dot(col("a"), col("a")) /
        (GraftFunctions.l2norm(col("a")) *
          GraftFunctions.l2norm(col("a")))).as("aa"))
    for (r <- df.collect()) {
      assert(r.getDouble(0) == r.getDouble(1)) // exact: same fold order
      assert(math.abs(r.getDouble(0)) <= 1.0 + 1e-9)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }

  test("hamming distance is a metric on simhash outputs (triangle inequality)") {
    import spark.implicits._
    val triples = docs(45).grouped(3).collect { case Seq(a, b, c) => (a, b, c) }.toSeq
    def sh(c: org.apache.spark.sql.Column) =
      GraftFunctions.simhash32(TextHash.tokenHashes(c))
    val df = triples.toDF("a", "b", "c").select(
      TextHash.hamming(sh(col("a")), sh(col("b"))).as("ab"),
      TextHash.hamming(sh(col("b")), sh(col("c"))).as("bc"),
      TextHash.hamming(sh(col("a")), sh(col("c"))).as("ac"))
    for (r <- df.collect())
      assert(r.getInt(2) <= r.getInt(0) + r.getInt(1)) // bit_count → int
  }
}
