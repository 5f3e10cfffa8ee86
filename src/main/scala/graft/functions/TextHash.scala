package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic text/hash primitives.
  *
  * Everything here is pure integer/double arithmetic over Spark higher-order
  * functions (`transform`/`aggregate`/`zip_with` — all codegen'd Catalyst
  * expressions, no UDFs), chosen so the DuckDB oracle can reproduce each
  * value bit-for-bit (see the matching SQL builders in the *Oracles
  * objects). Folds are strictly left-to-right in both engines, so even the
  * double-precision results are bit-identical.
  *
  * Scale note: these run embarrassingly parallel per-row (no shuffle); the
  * shuffles happen only in the downstream groupBy/join stages of the dedup
  * and similarity pipelines.
  */
object TextHash {

  /** Modulus for all integer hashes: 2^31-1 (Mersenne prime). Keeps every
    * intermediate product below 2^63 (max state 2^31 × multiplier 131). */
  val P: Long = 2147483647L

  /** Let-binding for column expressions: evaluates `value` once and binds
    * it to a lambda variable for `body`. Interpreted higher-order functions
    * re-evaluate an argument subtree at EVERY reference — without this,
    * layered pipelines (tokens → token hashes → shingles → minhash → bands)
    * recompute lower layers multiplicatively (measured: minutes/500 docs vs
    * milliseconds). `transform` is the standard binder: one-element array
    * in, lambda var bound to the computed value, body result out. */
  def let(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /** Whitespace tokenization — single source of truth for every text op. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Fast cross-engine string hash: first 48 bits of md5, mod P. md5 and
    * conv are native codegen'd expressions (no per-char array allocation —
    * the polynomial [[rollHash]] was the hot-path bottleneck: UTF8String
    * splitting per evaluation). DuckDB reproduces it by folding the same
    * 12 hex chars (TextHashSql.strHash). */
  def strHash(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 12), 16, 10).cast("long") % P

  /** Polynomial char fold: h = fold(7, (h,c) => (h*31 + code(c)) % P) —
    * the classic rolling hash; kept as the `roll_hash` fingerprint (one
    * eval per document, off the hot path). */
  def rollHash(s: Column): Column =
    aggregate(split(s, ""), lit(7L), (acc, c) => (acc * 31L + ascii(c)) % P)

  /** Hash of every token — the unit for shingles and SimHash. */
  def tokenHashes(text: Column): Column = transform(tokens(text), strHash _)

  /** tokens → token hashes → distinct n-gram shingle hashes, with a `let`
    * at each layer so every layer is computed once per row. */
  def shingleSet(text: Column, n: Int = 3): Column =
    let(tokenHashes(text))(th => array_distinct(shingleHashes(th, n)))

  /** Word n-gram (shingle) hashes from token hashes: combine n consecutive
    * token hashes with multiplier 131 mod P. Distinct-ified by callers that
    * need set semantics. Docs shorter than n tokens → empty array (DuckDB
    * `range` agrees; Spark `sequence` would count DOWN, hence the guard). */
  def shingleHashes(th: Column, n: Int = 3): Column = {
    val combined = transform(
      sequence(lit(0), size(th) - n),
      i => {
        var acc: Column = lit(17L)
        for (k <- 1 to n) acc = (acc * 131L + element_at(th, i + k)) % P
        acc
      })
    when(size(th) >= n, combined).otherwise(array().cast("array<bigint>"))
  }

  /** MinHash signature: sig[j] = min over shingles of ((2j+1)·s + 12345j+7) % P,
    * j = 0..k-1. Empty shingle set → all-P signature (deterministic). */
  def minhashSig(shingles: Column, k: Int = 32): Column =
    let(shingles)(sh =>
      transform(
        sequence(lit(0), lit(k - 1)),
        j => aggregate(sh, lit(P),
          (m, s) => least(m, ((j * 2L + 1L) * s + j * 12345L + 7L) % P))))

  /** 32-bit SimHash over token hashes: bit b is set iff the sum of
    * (+1 if bit b of token hash else -1) over tokens is positive.
    * The 2^b constants are hoisted into a let-bound array so the inner
    * (bit × token) loop is pure integer div/mod — no pow per step. */
  def simhash32(th0: Column): Column = let(th0) { th =>
    let(transform(sequence(lit(0), lit(31)),
      b => floor(pow(lit(2.0), b)).cast("long"))) { pows =>
      aggregate(
        pows,
        lit(0L),
        (acc, p) => {
          val vote = aggregate(th, lit(0L),
            (s, h) => s + when((h.cast("long") / p.cast("double")).cast("long") % 2L === 1L, 1L)
              .otherwise(-1L))
          acc + when(vote > 0L, p).otherwise(0L)
        })
    }
  }

  /** Hamming distance between two simhash values (bit_count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- embedding math (float arrays, computed in double, left-fold) ----

  /** Sequential-fold dot product in double precision; identical fold order
    * to DuckDB's list_reduce, so results are bit-identical. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (s, v) => s + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Random-hyperplane LSH bucket: deterministic integer hyperplane
    * weights w(j,i) = ((i·37 + j·101) % 19) − 9 over 1-based dims;
    * bucket bit j set iff the projection is strictly positive. */
  def lshBucket(v: Column, dim: Int, planes: Int): Column = {
    var bucket: Column = lit(0L)
    for (j <- 0 until planes) {
      val proj = aggregate(
        transform(sequence(lit(1), lit(dim)),
          i => ((i * 37 + lit(j * 101)) % 19 - 9).cast("double") *
            element_at(v, i).cast("double")),
        lit(0.0), (s, x) => s + x)
      bucket = bucket + when(proj > 0.0, lit(1L << j)).otherwise(0L)
    }
    bucket
  }
}

/** DuckDB SQL builders mirroring [[TextHash]] expression-for-expression.
  * Kept beside the Spark code so the two can never drift silently. */
object TextHashSql {
  val P = "2147483647"

  def tokens(text: String): String =
    s"regexp_split_to_array(trim($text), '\\s+')"

  /** SQL analog of TextHash.let: bind a computed value to a lambda var so
    * the body references it instead of re-inlining the whole expression
    * (DuckDB re-evaluates per reference, exactly like interpreted Spark
    * higher-order functions — measured minutes→seconds on the dedup
    * oracles). */
  def let(value: String, varName: String)(body: String => String): String =
    s"list_transform([$value], $varName -> ${body(varName)})[1]"

  /** First 48 bits of md5 mod P: fold the 12 hex chars to an int. The md5
    * is let-bound so it computes once per value, not twice per hex char. */
  def strHash(s: String): String =
    let(s"md5($s)", "__m")(m =>
      s"(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(range(1, 13), i -> CAST(ascii(substr($m, CAST(i AS INT), 1)) AS BIGINT) " +
        s"- CASE WHEN substr($m, CAST(i AS INT), 1) BETWEEN '0' AND '9' THEN 48 ELSE 87 END)), " +
        s"(a, b) -> a*16 + b) % $P)")

  def rollHash(s: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      s"list_transform(range(1, length($s)+1), i -> CAST(ascii(substr($s, CAST(i AS INT), 1)) AS BIGINT))), " +
      s"(a, b) -> (a*31 + b) % $P)"

  def tokenHashes(text: String): String =
    s"list_transform(${tokens(text)}, t -> ${strHash("t")})"

  /** th must be a column/expression of BIGINT[]. */
  def shingleHashes(th: String, n: Int = 3): String = {
    var acc = "CAST(17 AS BIGINT)"
    for (k <- 1 to n) acc = s"(($acc)*131 + $th[CAST(i+$k AS INT)]) % $P"
    s"CASE WHEN len($th) >= $n THEN list_transform(range(0, len($th)-${n - 1}), i -> $acc) " +
      s"ELSE CAST([] AS BIGINT[]) END"
  }

  def minhashSig(shingles: String, k: Int = 32): String =
    s"list_transform(range(0, $k), j -> list_reduce(list_prepend(CAST($P AS BIGINT), " +
      s"list_transform($shingles, s -> ((j*2 + 1)*s + j*12345 + 7) % $P)), (a, b) -> least(a, b)))"

  def simhash32(th: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 32), b -> " +
      s"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform($th, h -> " +
      s"CASE WHEN (h // CAST(floor(pow(2, b)) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)), (x, y) -> x + y) > 0 " +
      s"THEN CAST(floor(pow(2, b)) AS BIGINT) ELSE 0 END)), (x, y) -> x + y)"

  def hamming(a: String, b: String): String = s"bit_count(xor($a, $b))"

  def dot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len($a)+1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (s, v) -> s + v)"

  def l2norm(a: String): String = s"sqrt(${dot(a, a)})"

  def cosine(a: String, b: String): String =
    s"(${dot(a, b)}) / (${l2norm(a)} * ${l2norm(b)})"

  def lshBucket(v: String, dim: Int, planes: Int): String =
    (0 until planes).map { j =>
      val proj = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, ${dim + 1}), i -> CAST((i*37 + ${j * 101}) % 19 - 9 AS DOUBLE) * " +
        s"CAST($v[i] AS DOUBLE))), (s, x) -> s + x)"
      s"(CASE WHEN $proj > 0.0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** [[lshBucket]] with a plane count that is itself a SQL expression
    * (data-adaptive blocking — Dedup.annPlanesFor mirrored in-query):
    * the per-plane terms can't be unrolled at text-build time, so the
    * plane loop becomes a list_transform over range(0, planes) with the
    * projection as a nested lambda. `planesExpr` must be scalar. */
  def lshBucketDyn(v: String, dim: Int, planesExpr: String): String = {
    val proj = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, ${dim + 1}), i -> CAST((i*37 + j*101) % 19 - 9 AS DOUBLE) * " +
      s"CAST($v[i] AS DOUBLE))), (s, x) -> s + x)"
    s"CAST(list_sum(list_transform(range(0, $planesExpr), " +
      s"j -> CASE WHEN $proj > 0.0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
  }
}
