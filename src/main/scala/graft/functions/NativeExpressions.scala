package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftPlanShim.{column, expression => expr}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression for the 32-bit SimHash over token hashes.
  *
  * Semantics identical to [[TextHash.simhash32]] (the interpreted
  * higher-order formulation, which remains the executable spec and the
  * DuckDB oracle's mirror): bit b of the result is set iff
  * Σ_tokens (bit b of hash ? +1 : −1) > 0, bits taken from the low 32 of
  * each 64-bit token hash (all hashes are < 2^31 here, so arithmetic
  * (h / 2^b) % 2 == (h >>> b) & 1).
  *
  * Why native: interpreted higher-order functions cost ~10–15k expression
  * node evaluations per document for this operator (32 bits × tokens);
  * with `doGenCode` the whole thing is one tight Java loop inside
  * whole-stage codegen — the (b) tier of the extension preference order
  * (compose built-ins > native Expression > UDF).
  */
case class SimHash32Expr(child: Expression) extends UnaryExpression {

  // input is always array<bigint> (built by TextHash.tokenHashes; no
  // type-class check — AbstractDataType is private[sql])
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash32"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](32)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 32) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      s"""
         |int[] $votes = new int[32];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $b = 0; $b < 32; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |  }
         |}
         |${ev.value} = 0L;
         |for (int $b = 0; $b < 32; $b++) {
         |  if ($votes[$b] > 0) ${ev.value} |= (1L << $b);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash32Expr =
    copy(child = newChild)
}

/** Native MinHash signature over an array<bigint> of shingle hashes.
  *
  * Semantics identical to [[TextHash.minhashSig]] (k=32), which remains the
  * executable spec and the DuckDB oracle's mirror:
  * sig[j] = min over shingles s of ((2j+1)·s + 12345j + 7) % P, j = 0..31;
  * empty shingle set → all-P signature.
  *
  * Why native: the interpreted higher-order formulation costs
  * k × |shingles| expression-node evaluations per document (≈1,500 for a
  * 300-char doc) plus a lambda-variable rebind per step; this is one tight
  * two-level loop under whole-stage codegen. Measured: the signature stage
  * drops from seconds (with multi-second GC variance) to well under a
  * second at sf0.1.
  */
case class MinHashSigExpr(child: Expression) extends UnaryExpression {

  private val K = 32
  private val P = TextHash.P

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash32"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = new Array[Long](K)
    java.util.Arrays.fill(sig, P)
    val n = arr.numElements()
    var j = 0
    while (j < K) {
      val a = 2L * j + 1L
      val b = 12345L * j + 7L
      var m = P
      var i = 0
      while (i < n) {
        val v = (a * arr.getLong(i) + b) % P
        if (v < m) m = v
        i += 1
      }
      sig(j) = m
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val v = ctx.freshName("v")
      val n = ctx.freshName("n")
      s"""
         |long[] $sig = new long[$K];
         |int $n = $c.numElements();
         |for (int $j = 0; $j < $K; $j++) {
         |  long $m = ${P}L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $v = ((2L * $j + 1L) * $c.getLong($i) + 12345L * $j + 7L) % ${P}L;
         |    if ($v < $m) $m = $v;
         |  }
         |  $sig[$j] = $m;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** Native dot product over two array<float> columns, accumulated in double
  * in element order — bit-identical to the sequential fold of
  * [[TextHash.dot]] (and therefore to the DuckDB oracle's list_reduce),
  * but one tight loop under whole-stage codegen instead of ~300
  * interpreted nodes per pair. */
case class DotProductExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_dot"

  // NULL on length mismatch, matching the spec exactly: zip_with pads the
  // shorter side with null, so the interpreted fold yields NULL for
  // malformed embedding pairs — truncating to min(n, m) would return a
  // wrong partial sum and silently mask bad input
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) {
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    ${ev.value} += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** Native PQ encoder: L2-normalize an array<float> embedding and emit the
  * per-subspace nearest-centroid codes (array<bigint>, M elements) in one
  * pass. Semantics bit-identical to the interpreted
  * `let(unitVec(v))(pqCodes)` pipeline in graft.similarity.Similarity
  * (which stays as the executable spec): same double cast/divide per
  * element, same t-ascending fold per (m, j), same first-strict-min tie
  * rule as array_position(dl, list_min(dl)).
  *
  * Why native: encoding is the map-side hot loop of PQ at corpus scale —
  * M×K×S ≈ 512 interpreted expression nodes per vector collapse into one
  * tight Java loop under whole-stage codegen. */
case class PqEncodeExpr(child: Expression) extends UnaryExpression {
  import graft.similarity.Similarity.{PqM, PqK, PqSub, PqScale}

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      PqOps.encode(arr, PqM, PqK, PqSub, PqScale))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PqOps.encode($c, $PqM, $PqK, $PqSub, $PqScale));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** The PQ encode loop shared by interpreted eval and generated code. */
object PqOps {
  def encode(arr: ArrayData, M: Int, K: Int, S: Int, scale: Double): Array[Long] = {
    val n = arr.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = arr.getFloat(i).toDouble; s += x * x; i += 1 }
    val norm = math.sqrt(s)
    val codes = new Array[Long](M)
    var m = 0
    while (m < M) {
      var best = Double.PositiveInfinity
      var bj = 0
      var j = 0
      while (j < K) {
        var d2 = 0.0
        var t = 1
        while (t <= S) {
          val gi = m * S + t // 1-based global dim index
          val x = arr.getFloat(gi - 1).toDouble / norm
          val c = (((gi * 13 + j * 29) % 15) - 7).toDouble / scale
          val d = x - c
          d2 += d * d
          t += 1
        }
        if (d2 < best) { best = d2; bj = j }
        j += 1
      }
      codes(m) = bj.toLong
      m += 1
    }
    codes
  }
}

/** Static helpers called from generated code (and `nullSafeEval`) for the
  * token-hash expressions: one MD5 digest per token inside a plain Java
  * loop, against ~6 interpreted expression nodes + a UTF8String→binary
  * conversion per token in the higher-order formulation. */
object TokenHashOps {
  private val P = TextHash.P

  /** Empty array<bigint> for the null-text fast path of the shingle
    * expressions (the interpreted spec's `otherwise(array())` branch). */
  def emptyLongArray(): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 48 bits of md5 (big-endian, = hex chars 1-12 parsed base 16)
    * mod P — bit-identical to [[TextHash.strHash]]. */
  def hashToken(bytes: Array[Byte]): Long = {
    val d = md.get()
    d.reset()
    val h = d.digest(bytes)
    val v = ((h(0) & 0xffL) << 40) | ((h(1) & 0xffL) << 32) |
      ((h(2) & 0xffL) << 24) | ((h(3) & 0xffL) << 16) |
      ((h(4) & 0xffL) << 8) | (h(5) & 0xffL)
    v % P
  }

  /** array<string> tokens → array<bigint> hashes (null tokens propagate,
    * as the interpreted `transform` does). */
  def hashAll(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i))
        out(i) = hashToken(tokens.getUTF8String(i).getBytes)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** array<string> tokens → DISTINCT word n-gram shingle hashes, first-
    * occurrence order — bit-identical to
    * `array_distinct(shingleHashes(tokenHashes(text), n))`
    * ([[TextHash.shingleSet]], the executable spec). Fewer than n tokens →
    * empty array (the spec's sequence guard). */
  def shingleSet(tokens: ArrayData, n: Int): ArrayData = {
    val nt = tokens.numElements()
    if (nt < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val th = new Array[Long](nt)
    var i = 0
    while (i < nt) {
      th(i) = hashToken(tokens.getUTF8String(i).getBytes)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i <= nt - n) {
      var acc = 17L
      var k = 0
      while (k < n) { acc = (acc * 131L + th(i + k)) % P; k += 1 }
      seen.add(acc)
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** array<string> tokens → ALL word n-gram shingle hashes, position
    * order, WITH multiplicity — bit-identical to
    * `shingleHashes(tokenHashes(text), n)` without the distinct (the
    * [[shingleSet]] variant's dedup would collapse the occurrence counts
    * corpus-coverage statistics need). */
  def shingleAll(tokens: ArrayData, n: Int): ArrayData = {
    val nt = tokens.numElements()
    if (nt < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val th = new Array[Long](nt)
    var i = 0
    while (i < nt) {
      th(i) = hashToken(tokens.getUTF8String(i).getBytes)
      i += 1
    }
    val out = new Array[Any](nt - n + 1)
    i = 0
    while (i <= nt - n) {
      var acc = 17L
      var k = 0
      while (k < n) { acc = (acc * 131L + th(i + k)) % P; k += 1 }
      out(i) = acc
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native token hashing: array<string> → array<bigint> of
  * [[TextHash.strHash]] values. The interpreted `transform(tokens, strHash)`
  * walks ~6 expression nodes and converts UTF8String→binary per token; this
  * is one digest call per token from generated code. */
case class TokenHashesExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_token_hashes"

  override def nullSafeEval(input: Any): Any =
    TokenHashOps.hashAll(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenHashOps.hashAll($c);")

  override protected def withNewChildInternal(newChild: Expression): TokenHashesExpr =
    copy(child = newChild)
}

/** Native fused shingle-set: array<string> tokens → distinct word-n-gram
  * hashes in one pass (token md5s + rolling combine + LinkedHashSet dedup),
  * replacing the interpreted tokenHashes→shingleHashes→array_distinct
  * 3-layer higher-order pipeline — the measured floor cost (~1.2 s at
  * sf0.1) of every shingle-based dedup query. */
case class ShingleSetExpr(child: Expression, n: Int) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_set"

  // NULL tokens (null text) → EMPTY array, not NULL: the interpreted spec
  // `when(size(th) >= n, …).otherwise(array())` takes the otherwise branch
  // on a null frame (size(null) = -1), and the DuckDB mirror's CASE agrees
  // — a null-propagating native form would diverge on null documents
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) TokenHashOps.emptyLongArray()
    else TokenHashOps.shingleSet(v.asInstanceOf[ArrayData], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = c.code +
        code"""
          |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = ${c.isNull}
          |  ? graft.functions.TokenHashOps.emptyLongArray()
          |  : graft.functions.TokenHashOps.shingleSet(${c.value}, $n);
        """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSetExpr =
    copy(child = newChild)
}

/** Static helper for [[PreTokenStatsExpr]]: one scan over the document's
  * chars replicating `regexp_extract_all(text, "[A-Za-z]+|[0-9]+|
  * [^A-Za-z0-9\s]", 0)` + the three class-membership filters +
  * `array_distinct` — the BPE pre-tokenization census as a single pass.
  * Alternation semantics reproduced exactly: at each position the longest
  * ASCII-letter run, else ASCII-digit run, else ONE code point (surrogate
  * pair = one token, matching Java regex negated-class behavior); Java
  * `\s` is the six ASCII whitespace chars only (U+00A0 etc. are "punct"
  * single-char tokens, as the regex treats them). */
object PreTokenOps {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  private def isLetter(c: Char) =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
  private def isDigit(c: Char) = c >= '0' && c <= '9'
  private def isWs(c: Char) =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def stats(text: org.apache.spark.unsafe.types.UTF8String): Any = {
    val s = text.toString
    val len = s.length
    var i = 0
    var np, nw, nn, npu = 0
    val seen = new java.util.HashSet[String]()
    while (i < len) {
      val c = s.charAt(i)
      if (isWs(c)) { i += 1 }
      else {
        val start = i
        if (isLetter(c)) { while (i < len && isLetter(s.charAt(i))) i += 1; nw += 1 }
        else if (isDigit(c)) { while (i < len && isDigit(s.charAt(i))) i += 1; nn += 1 }
        else {
          i += (if (Character.isHighSurrogate(c) && i + 1 < len &&
            Character.isLowSurrogate(s.charAt(i + 1))) 2 else 1)
          npu += 1
        }
        np += 1
        seen.add(s.substring(start, i))
      }
    }
    new GenericInternalRow(Array[Any](np, nw, nn, npu, seen.size))
  }
}

/** Native BPE pre-tokenization census over a text column: struct of
  * (n_pretokens, n_word, n_number, n_punct, n_vocab) in ONE char scan.
  * The interpreted regexp_extract_all + three rlike filters +
  * array_distinct formulation (kept as the executable spec in
  * NativeExpressionsSpec and mirrored by the DuckDB oracle) materializes
  * the full pre-token array and walks it four times per document — the
  * per-char interpreted-eval class the sf10 rehearsal flagged. */
case class PreTokenStatsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_pretokens",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("n_word",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("n_number",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("n_punct",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("n_vocab",
      org.apache.spark.sql.types.IntegerType, nullable = false)))
  override def prettyName: String = "graft_pretoken_stats"

  override def nullSafeEval(input: Any): Any =
    PreTokenOps.stats(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) " +
        s"graft.functions.PreTokenOps.stats($c);")

  override protected def withNewChildInternal(newChild: Expression): PreTokenStatsExpr =
    copy(child = newChild)
}

/** Static helper for [[PiiScanExpr]] — java.util.regex (the SAME engine
  * and semantics as Spark's regexp_* built-ins, so parity with the
  * interpreted formulation and the RE2-compatible oracle is structural):
  * email count+redact fused into one matcher pass, phone count over the
  * ORIGINAL text, phone redact over the email-redacted text — exactly the
  * sequential semantics of
  * `regexp_replace(regexp_replace(text, email, …), phone, …)` with counts
  * from `regexp_extract_all(text, …)`. */
object PiiOps {
  import java.util.regex.Pattern
  // compiled once per JVM; patterns are RE2-compatible (no backrefs /
  // lookaround), mirroring TextAnalysis.{EmailRe, PhoneRe}
  val email: Pattern = Pattern.compile("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}")
  val phone: Pattern = Pattern.compile("\\b\\d{3}-\\d{4}\\b")

  def scan(text: org.apache.spark.unsafe.types.UTF8String): Any = {
    val s = text.toString
    var nEmails = 0L
    val sb = new java.lang.StringBuilder(s.length)
    val em = email.matcher(s)
    while (em.find()) { nEmails += 1; em.appendReplacement(sb, "<EMAIL>") }
    em.appendTail(sb)
    var nPhones = 0L
    val pc = phone.matcher(s)
    while (pc.find()) nPhones += 1
    val redacted = phone.matcher(sb).replaceAll("<PHONE>")
    // right(redacted, 80) counts CODE POINTS in both Spark and DuckDB —
    // UTF-16-char arithmetic would drift on astral chars in the tail
    val tail =
      if (redacted.codePointCount(0, redacted.length) <= 80) redacted
      else redacted.substring(
        redacted.offsetByCodePoints(redacted.length, -80))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      nEmails, nPhones,
      org.apache.spark.unsafe.types.UTF8String.fromString(tail)))
  }
}

/** Native fused PII scrub census over a text column: struct of
  * (n_emails, n_phones, redacted_tail) in one call — the interpreted
  * 2×regexp_extract_all + 2×regexp_replace + right() chain (kept as the
  * executable spec in NativeExpressionsSpec and mirrored by the oracle)
  * walks the full text four times and materializes two full redacted
  * copies per document. */
case class PiiScanExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_emails",
      LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_phones",
      LongType, nullable = false),
    org.apache.spark.sql.types.StructField("redacted_tail",
      org.apache.spark.sql.types.StringType, nullable = false)))
  override def prettyName: String = "graft_pii_scan"

  override def nullSafeEval(input: Any): Any =
    PiiOps.scan(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) " +
        s"graft.functions.PiiOps.scan($c);")

  override protected def withNewChildInternal(newChild: Expression): PiiScanExpr =
    copy(child = newChild)
}

/** [[ShingleSetExpr]] without the dedup: every n-gram occurrence, position
  * order — the multiplicity-preserving form corpus-coverage statistics
  * aggregate over ([[graft.text.TextAnalysis.dupNgramCoverage]]). */
case class ShingleAllExpr(child: Expression, n: Int) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_all"

  // NULL tokens → EMPTY array, matching the interpreted spec's
  // `otherwise(array())` branch (see ShingleSetExpr)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) TokenHashOps.emptyLongArray()
    else TokenHashOps.shingleAll(v.asInstanceOf[ArrayData], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = c.code +
        code"""
          |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = ${c.isNull}
          |  ? graft.functions.TokenHashOps.emptyLongArray()
          |  : graft.functions.TokenHashOps.shingleAll(${c.value}, $n);
        """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleAllExpr =
    copy(child = newChild)
}

/** Python-format display rounding (transit F6): round-half-even computed
  * on the EXACT binary value of the double — `float(f"{v:.2f}")` semantics
  * (reference `SQL/sql_utils.py:172-175`). Spark's `round`/`bround` round
  * the shortest-decimal rendering instead (bround(2.675, 2) = 2.68, while
  * the stored binary value is 2.674999…, which CPython renders "2.67"),
  * so neither built-in is bit-faithful to the reference serializer. */
case class PyRoundExpr(child: Expression, scale: Int) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_pyround"

  override def nullSafeEval(input: Any): Any =
    PyRoundOps.halfEven(input.asInstanceOf[Double], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PyRoundOps.halfEven($c, $scale);")

  override protected def withNewChildInternal(newChild: Expression): PyRoundExpr =
    copy(child = newChild)
}

/** The exact-binary half-even rounding shared by interpreted eval and
  * generated code. NaN/±Inf pass through (BigDecimal would throw; Python's
  * format renders them as nan/inf, never reaching rounding). */
object PyRoundOps {
  def halfEven(v: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
    else new java.math.BigDecimal(v)
      .setScale(scale, java.math.RoundingMode.HALF_EVEN).doubleValue()
}

/** Codegen'd Bloom-filter membership test over a BIGINT key column.
  *
  * The semi-join-reduction workhorse at 100 TB: build a Bloom filter over
  * the (selective) build side's join keys, ship the few-KB bit array to
  * every probe task, and drop non-joining fact rows AT THE SCAN — before
  * they pay the join shuffle. False positives survive the filter but die
  * in the actual join, so the end result is exact; the filter only has to
  * be cheap and sound (no false negatives). Spark's own runtime row-level
  * filters (`spark.sql.optimizer.runtime.bloomFilter.enabled`) inject the
  * same shape automatically when statistics cooperate; this explicit face
  * is for when they don't (pre-computed dims, multi-query reuse of one
  * built filter).
  *
  * The serialized sketch rides in the expression tree (fine at few KB —
  * same mechanics as a broadcast hash join's build side, minus the hash
  * table). `test` is one virtual call from generated code; the underlying
  * `mightContainLong` is a k-probe bit test, no allocation.
  */
case class BloomMightContainExpr(child: Expression, bloomBytes: Array[Byte])
  extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_bloom_contains"

  // Array[Byte] compares by REFERENCE under case-class equals, so two
  // expressions built from equal-but-distinct filter bytes (the same
  // filter deserialized twice for multi-query reuse) would never be
  // semantically equal — defeating canonicalization, common-subexpression
  // elimination, and exchange reuse. Compare the bytes by content.
  override def equals(other: Any): Boolean = other match {
    case o: BloomMightContainExpr =>
      child == o.child && java.util.Arrays.equals(bloomBytes, o.bloomBytes)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(bloomBytes)

  @transient private lazy val bloom =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))

  def test(h: Long): Boolean = bloom.mightContainLong(h)

  override def nullSafeEval(input: Any): Any = test(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.test($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainExpr =
    copy(child = newChild)
}

/** Column accessors for the graft native expressions. Each one builds its
  * expression with the constructor and wraps it as a [[Column]], the way
  * Spark's own `functions` object does, so no session's function registry
  * is written or read: a face resolves to the same expressions in any
  * session. The aggregate is wrapped with `toAggregateExpression()`, as
  * the analyzer wraps a resolved aggregate call. Sketches Spark ships
  * (HLL, theta, KLL) are called from `org.apache.spark.sql.functions`
  * directly; only the top-k sketch is native, because the top-k faces
  * need ties ordered `(n desc, word asc)` and `approx_top_k` orders them
  * arbitrarily. */
object GraftFunctions {

  /** Codegen'd SimHash over an array<bigint> column of token hashes. */
  def simhash32(tokenHashes: Column): Column =
    column(SimHash32Expr(expr(tokenHashes)))

  /** Codegen'd 32-hash MinHash signature over an array<bigint> of shingle
    * hashes. */
  def minhash32(shingles: Column): Column =
    column(MinHashSigExpr(expr(shingles)))

  /** Codegen'd float-array dot product (double accumulation). */
  def dot(a: Column, b: Column): Column =
    column(DotProductExpr(expr(a), expr(b)))

  def l2norm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(dot(a, a))

  /** Codegen'd PQ encode (normalize + nearest-centroid codes) over an
    * array<float> embedding column. */
  def pqEncode(embedding: Column): Column =
    column(PqEncodeExpr(expr(embedding)))

  /** Codegen'd Bloom membership test of a BIGINT key against a pre-built
    * serialized [[org.apache.spark.util.sketch.BloomFilter]] — see
    * [[BloomMightContainExpr]] for the semi-join-reduction rationale. */
  def bloomContains(key: Column, bloomBytes: Array[Byte]): Column =
    column(BloomMightContainExpr(expr(key), bloomBytes))

  /** Mergeable Misra–Gries top-`topN` heavy-hitters aggregate over a
    * string column, `k` counters per partial — see [[TopKSketchAgg]]. */
  def topkSketch(word: Column, k: Int, topN: Int): Column =
    column(TopKSketchAgg(expr(word), k, topN).toAggregateExpression())

  /** Codegen'd per-token [[TextHash.strHash]] over a text column (split
    * with the canonical whitespace tokenizer first). */
  def tokenHashes(text: Column): Column =
    column(TokenHashesExpr(expr(TextHash.tokens(text))))

  /** Codegen'd fused distinct word-n-gram shingle hashes over a text
    * column — [[TextHash.shingleSet]] as one native pass. */
  def shingleSet(text: Column, n: Int = 3): Column =
    column(ShingleSetExpr(expr(TextHash.tokens(text)), n))

  /** Codegen'd ALL-occurrence word-n-gram shingle hashes (multiplicity
    * kept, position order) over a text column —
    * `TextHash.shingleHashes(tokenHashes(text), n)` as one native pass. */
  def shingleAll(text: Column, n: Int = 3): Column =
    column(ShingleAllExpr(expr(TextHash.tokens(text)), n))

  /** Codegen'd BPE pre-tokenization census (one char scan) — struct of
    * (n_pretokens, n_word, n_number, n_punct, n_vocab); see
    * [[PreTokenStatsExpr]]. */
  def preTokenStats(text: Column): Column =
    column(PreTokenStatsExpr(expr(text)))

  /** Codegen'd fused PII scrub census — struct of (n_emails, n_phones,
    * redacted_tail); see [[PiiScanExpr]]. */
  def piiScan(text: Column): Column =
    column(PiiScanExpr(expr(text)))

  /** Python-serializer-faithful display rounding (exact-binary half-even;
    * see [[PyRoundExpr]]). */
  def pyRound(c: Column, scale: Int): Column =
    column(PyRoundExpr(expr(c), scale))
}
