package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, GenericInternalRow, ImplicitCastInputTypes, RuntimeReplaceable, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `graft_rolling_min_hash(text, w, base)`: the rolling polynomial hash
  * (Rabin–Karp) document fingerprint [[CurationKernels.rollingMinHash]],
  * the MINIMUM over all `w`-byte windows of h(i) = Σ_{k<w}
  * byte(i+k)·base^k — the winnowing-style fingerprint
  * (min-of-window-hashes) that is robust to content shifts, unlike a
  * whole-document hash where one inserted byte changes everything.
  *
  * Why a native expression: the HOF form recomputes each window from
  * scratch (O(n·w) interpreted lambda dispatches per document); the
  * kernel is the actual ROLLING form, O(n), and the generated code is one
  * static call to it.
  *
  * Byte-level (UTF-8): identical to per-character arithmetic on ASCII
  * corpora, which is what the DuckDB `ascii(substr(...))` oracle computes.
  * Documents shorter than `w` bytes have no window → NULL.
  */
case class RollingMinHash(child: Expression, w: Int, base: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  CurationKernels.requireWindow(w, base)
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val h = CurationKernels.rollingMinHash(input.asInstanceOf[UTF8String], w, base)
    if (h < 0) null else h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = graft.functions.CurationKernels.rollingMinHash($s, $w, ${base}L);
         |${ev.isNull} = ${ev.value} < 0;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_rolling_min_hash"
}

/** One-pass native kernel behind [[RepetitionStats]]: whitespace tokens →
  * (duplicate-token fraction, top-bigram fraction) with two hash maps.
  *
  * Bit-identical to the Catalyst HOF formulation in
  * `TextStats.duplicateTokenFractionOfTokens` / `topRunFraction`
  * (LlmOpsSpec asserts it): the tokens are `split(text, " ", -1)`'s
  * ([[CurationKernels.tokenize]]), a bigram is the byte range of two
  * adjacent tokens, the max run of a SORTED bigram array equals the max
  * bigram multiplicity counted here, and both final divisions are single
  * exact-int-to-double IEEE ops. The difference is cost: the HOF chain
  * (transform + array_sort + aggregate with a struct accumulator) is
  * interpreted per ELEMENT and O(n log n); this is O(n) compiled JVM —
  * STRESS.md measured the HOF form as the corpus scan's dominant CPU at
  * 64× scale. */
object RepetitionKernel {
  val schema: StructType = StructType(Seq(
    StructField("dup_token_frac", DoubleType, nullable = false),
    StructField("top_bigram_frac", DoubleType, nullable = false)))

  def compute(s: UTF8String): InternalRow = {
    val toks = CurationKernels.tokenize(s)
    val n = toks.n
    val dup = (n - toks.counts(1).size).toDouble / n
    var best = 0
    val it = toks.counts(2).values.iterator()
    while (it.hasNext) best = math.max(best, it.next().intValue())
    val top = if (n >= 2) best.toDouble / (n - 1) else 0.0
    new GenericInternalRow(Array[Any](dup, top))
  }
}

/** Textbook Jaro–Winkler similarity — the edit-distance-free string
  * comparator record linkage was built on (Winkler's census matcher):
  * tolerant of transpositions and OCR-style swaps where Levenshtein
  * charges full price, with the common-prefix bonus that fits
  * identifier-shaped keys (names, codes).
  *
  * Conventions — chosen to be BIT-IDENTICAL to DuckDB's
  * `jaro_winkler_similarity` (verified on 14 000 cross-alphabet cases
  * while designing the oracle):
  *  - either side empty → 0.0 (even both-empty);
  *  - match window ⌊max(|a|,|b|)/2⌋ − 1, floored at 0;
  *  - transpositions = half the matched-but-misaligned count;
  *  - Jaro j = (m/|a| + m/|b| + (m−t)/m) / 3 evaluated in exactly that
  *    association order (every operand an exact small-int-to-double);
  *  - Winkler bonus j + ℓ·0.1·(1−j) (prefix ℓ ≤ 4) only when j > 0.7.
  *
  * Byte-level (UTF-8): identical to per-character arithmetic on ASCII
  * corpora (the [[RollingMinHash]] convention). O(|a|·window) compiled
  * JVM per pair via a static kernel call from generated code — usable as
  * a [[graft.operators.BlockingJoin]] score without leaving whole-stage
  * codegen. */
object JaroWinklerKernel {
  def similarity(s1: UTF8String, s2: UTF8String): Double = {
    val a = s1.getBytes
    val b = s2.getBytes
    val l1 = a.length
    val l2 = b.length
    if (l1 == 0 || l2 == 0) return 0.0
    if (java.util.Arrays.equals(a, b)) return 1.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      var j = math.max(0, i - window)
      val hi = math.min(l2, i + window + 1)
      var matched = false
      while (j < hi && !matched) {
        if (!m2(j) && a(i) == b(j)) { m1(i) = true; m2(j) = true; m += 1; matched = true }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val j0 = (md / l1 + md / l2 + (m - t / 2).toDouble / md) / 3.0
    if (j0 > 0.7) {
      val maxL = math.min(4, math.min(l1, l2))
      var l = 0
      while (l < maxL && a(l) == b(l)) l += 1
      j0 + l * 0.1 * (1.0 - j0)
    } else j0
  }
}

/** One-pass token-multiplicity stats: n_tokens, n_types (distinct), and
  * the repeated-ordered-pair count Σc(c−1) behind the Gini–Simpson
  * diversity index. Semantics ≡ the HOF route (sort the whitespace token
  * array, fold run lengths — [[graft.llmops.TextStats.repeatPairsOfSorted]];
  * LlmOpsSpec asserts the equivalence), but ONE hash-counting pass in
  * compiled JVM instead of an interpreted sort + per-element lambda
  * fold: the HOF form measured 56 s at the 64× corpus (STRESS.md r8),
  * all of it CodegenFallback dispatch — the same wall the r7 repetition
  * kernel removed. */
object TokenDiversityKernel {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_types", LongType, nullable = false),
    StructField("pairs", LongType, nullable = false)))

  def compute(s: UTF8String): InternalRow = {
    val toks = CurationKernels.tokenize(s)
    val counts = toks.counts(1)
    var pairs = 0L
    val it = counts.values.iterator()
    while (it.hasNext) {
      val c = it.next().longValue()
      pairs += c * (c - 1)
    }
    new GenericInternalRow(Array[Any](toks.n.toLong, counts.size.toLong, pairs))
  }
}

/** `graft_token_diversity(text)` → struct(n_tokens, n_types, pairs) via
  * [[TokenDiversityKernel]]. */
case class TokenDiversity(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = TokenDiversityKernel.schema
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    TokenDiversityKernel.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TokenDiversityKernel.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_token_diversity"
}

/** `graft_jaro_winkler(a, b)` → double via [[JaroWinklerKernel]]. */
case class JaroWinklerSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerKernel.similarity(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.JaroWinklerKernel.similarity($x, $y)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_jaro_winkler"
}

/** `graft_repetition_stats(text)` → struct(dup_token_frac,
  * top_bigram_frac) via [[RepetitionKernel]]. */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = RepetitionKernel.schema
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    RepetitionKernel.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.RepetitionKernel.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_repetition_stats"
}

/** `graft_cdc_boundaries(text, w, base, mask)`: content-defined chunk
  * boundaries (FastCDC/rsync-style, [[CurationKernels.cdcBoundaries]]).
  * Cutting on CONTENT instead of fixed offsets makes chunk identity
  * shift-robust: inserting one byte re-chunks only the window it lands
  * in, so chunk-level dedup still matches everything downstream of the
  * edit (the same shift-robustness argument as [[RollingMinHash]],
  * applied to dedup of large/binary payloads rather than fingerprinting).
  * Average chunk length ≈ 1/(P(h & mask == 0)) ≈ mask+1 bytes for mixing
  * hashes. Returns an ascending int array of 0-based cut offsets
  * (possibly empty — a document shorter than w, or with no qualifying
  * window, is one whole chunk).
  */
case class CdcBoundaries(child: Expression, w: Int, base: Long, mask: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  CurationKernels.requireWindow(w, base)
  require(mask > 0, s"mask must be positive, got $mask")
  override def inputTypes = Seq(StringType)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    CurationKernels.cdcBoundaries(input.asInstanceOf[UTF8String], w, base, mask)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.CurationKernels.cdcBoundaries($s, $w, ${base}L, ${mask}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_cdc_boundaries"
}

/** The per-document text work of the curation and dedup chains, one
  * compiled pass each: the quality score, the word n-grams, the n-gram →
  * MinHash base hashes, and the rolling-window fingerprint and chunk
  * cuts. Each expression's interpreted `eval` and its generated code call
  * the same method here. Every token kernel, [[RepetitionKernel]] and
  * [[TokenDiversityKernel]] too, tokenizes with [[tokenize]]: exactly the
  * tokens of `split(text, " ", -1)`, leading, trailing and doubled spaces
  * and invalid UTF-8 included, as byte ranges of the document itself.
  *
  * The composed forms they replace ran per document as chains of
  * interpreted expressions: the quality score split the text once per
  * feature and ran one `array_remove` per stopword, and the sign step
  * built every shingle as a string (`transform` + `concat_ws`) before an
  * md5 → hex → `conv` → mod lambda per shingle. Results are bit-identical
  * (KernelEquivalenceSpec runs both under codegen and interpreted
  * evaluation against the composed references). */
object CurationKernels {
  private val EmptyArray = new GenericArrayData(Array.empty[Any])
  private val EmptyLongs = UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
  private val EmptyInts = UnsafeArrayData.fromPrimitiveArray(Array.emptyIntArray)
  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  private val Sum: java.util.function.BiFunction[Integer, Integer, Integer] = _ + _

  /** A document's tokens as byte ranges of `bytes`: token k is
    * `[bounds(k), bounds(k + 1) − 1)`. One space separates two tokens, so
    * tokens i until j with their spaces are `[bounds(i), bounds(j) − 1)`. */
  private[functions] final class Tokens(val bytes: Array[Byte], bounds: Array[Int]) {
    /** The token count, ≥ 1: "" is one empty token. */
    val n: Int = bounds.length - 1
    /** Tokens i until j with their spaces: `length(i, j)` bytes from `start(i)`. */
    def start(i: Int): Int = bounds(i)
    def length(i: Int, j: Int): Int = bounds(j) - 1 - bounds(i)
    /** Tokens i until j as a zero-copy slice of the document. */
    def slice(i: Int, j: Int): UTF8String = UTF8String.fromBytes(bytes, start(i), length(i, j))
    /** Each distinct run of `w` adjacent tokens, as a slice, → its count. */
    def counts(w: Int): java.util.HashMap[UTF8String, Integer] = {
      val m = new java.util.HashMap[UTF8String, Integer](n * 2)
      var i = 0
      while (i + w <= n) { m.merge(slice(i, i + w), 1, Sum); i += 1 }
      m
    }
  }

  /** The tokens of `split(s, " ", -1)`, found in one scan for the 0x20
    * bytes, with no decode and no copy. Invalid UTF-8 is first re-encoded
    * through a Java `String`, as `split` does, so each bad sequence
    * becomes the U+FFFD that `split`'s decode gives it. */
  private[functions] def tokenize(s: UTF8String): Tokens = {
    val v = if (s.isValid) s else UTF8String.fromString(s.toString)
    val (bytes, from) = v.getBaseObject match {
      case b: Array[Byte] => (b, (v.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt)
      case _ => (v.getBytes, 0) // off-heap: one copy
    }
    val to = from + v.numBytes
    var spaces = 0
    var i = from
    while (i < to) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val bounds = new Array[Int](spaces + 2)
    bounds(0) = from
    bounds(spaces + 1) = to + 1
    var k = 1
    i = from
    while (k <= spaces) { if (bytes(i) == ' ') { bounds(k) = i + 1; k += 1 }; i += 1 }
    new Tokens(bytes, bounds)
  }

  /** min(1, n/100)·0.4 + (1 − sw/n)·0.3 + d/n·0.3 over the n tokens, sw
    * of them stopword occurrences and d distinct — evaluated in exactly
    * that double order (the composed `TextStats` form's). */
  def qualityScore(s: UTF8String, stopwords: java.util.Set[UTF8String]): Double = {
    val toks = tokenize(s)
    val n = toks.n
    val counts = toks.counts(1)
    var sw = 0
    stopwords.forEach(w => sw += counts.getOrDefault(w, 0))
    math.min(1.0, n.toDouble / 100.0) * 0.4 +
      (1.0 - sw.toDouble / n) * 0.3 +
      counts.size.toDouble / n * 0.3
  }

  /** The word n-grams of `s` in order, duplicates kept, each its tokens
    * joined by one space. Null text, or fewer than `n` tokens, gives no
    * n-grams. */
  def ngrams(s: UTF8String, n: Int): ArrayData = {
    if (s == null) return EmptyArray
    val toks = tokenize(s)
    val m = toks.n - n + 1
    if (m <= 0) return EmptyArray
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) = toks.slice(i, i + n).copy()
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The MinHash base hash of each word n-gram of `s` (in order,
    * duplicates kept): `Md5Hash60(g) % p` of each n-gram g, digested
    * straight from its byte range into one reused buffer. Null or short
    * text gives none. */
  def ngramBases(s: UTF8String, n: Int, p: Long): ArrayData = {
    if (s == null) return EmptyLongs
    val toks = tokenize(s)
    val m = toks.n - n + 1
    if (m <= 0) return EmptyLongs
    val md = Md5.get()
    val digest = new Array[Byte](16)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      md.update(toks.bytes, toks.start(i), toks.length(i, i + n))
      md.digest(digest, 0, 16)
      out(i) = Md5Hash60.ofDigest(digest) % p
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** A rolling window of `w` bytes and polynomial base `base`: no modulus,
    * so every window value must stay exact below 2^53 (255·base^(w−1)·w),
    * in a long AND in the oracle's arithmetic. */
  private[functions] def requireWindow(w: Int, base: Long): Unit = {
    require(w >= 2 && w <= 16, s"window must be 2..16 bytes, got $w")
    require(base > 1, s"base must be > 1, got $base")
    require(255.0 * math.pow(base.toDouble, (w - 1).toDouble) * w < math.pow(2.0, 53.0),
      s"w=$w base=$base overflows exact-integer range")
  }

  /** Σ_{k<w} byte(k)·base^k, the first window of `b` (by Horner). */
  private def firstWindow(b: Array[Byte], w: Int, base: Long): Long = {
    var h = 0L
    var k = w - 1
    while (k >= 0) { h = h * base + (b(k) & 0xffL); k -= 1 }
    h
  }

  /** base^(w−1), the weight of a window's last byte. */
  private def topPow(w: Int, base: Long): Long = {
    var p = 1L
    var k = 1
    while (k < w) { p *= base; k += 1 }
    p
  }

  /** Window i from window i−1 by the exact integer update
    * h' = (h − outgoing byte)/base + incoming byte·base^(w−1): the
    * subtraction leaves a multiple of base, so the division is exact. */
  @inline private def roll(b: Array[Byte], i: Int, w: Int, base: Long, top: Long,
      h: Long): Long =
    (h - (b(i - 1) & 0xffL)) / base + (b(i + w - 1) & 0xffL) * top

  /** The minimum over the `w`-byte windows of `s`'s UTF-8 bytes of
    * Σ_{k<w} byte(i+k)·base^k, O(n) by the rolling update; −1 (never a
    * window value) when `s` is shorter than `w` bytes. */
  def rollingMinHash(s: UTF8String, w: Int, base: Long): Long = {
    val b = s.getBytes
    val n = b.length
    if (n < w) return -1L
    val top = topPow(w, base)
    var h = firstWindow(b, w, base)
    var min = h
    var i = 1
    while (i <= n - w) {
      h = roll(b, i, w, base, top, h)
      if (h < min) min = h
      i += 1
    }
    min
  }

  /** Ascending cut offsets i + w for every `w`-byte window i of `s` whose
    * window value has no bit of `mask` set; none when `s` is shorter than
    * `w` bytes. */
  def cdcBoundaries(s: UTF8String, w: Int, base: Long, mask: Long): ArrayData = {
    val b = s.getBytes
    val n = b.length
    if (n < w) return EmptyInts
    val top = topPow(w, base)
    val cuts = new Array[Int](n - w + 1)
    var cnt = 0
    var h = firstWindow(b, w, base)
    var i = 0
    while (i <= n - w) {
      if (i > 0) h = roll(b, i, w, base, top, h)
      if ((h & mask) == 0L) { cuts(cnt) = i + w; cnt += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(cuts, cnt))
  }
}

/** `graft_quality_score(text, stopwords)` → double via
  * [[CurationKernels.qualityScore]]; the stopword list is a literal,
  * baked into the node as a hash set. Null text → NULL. */
case class QualityScore(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = DoubleType

  @transient private lazy val stopSet: java.util.Set[UTF8String] = {
    val set = new java.util.HashSet[UTF8String]()
    stopwords.foreach(w => set.add(UTF8String.fromString(w)))
    set
  }

  override def nullSafeEval(input: Any): Any =
    CurationKernels.qualityScore(input.asInstanceOf[UTF8String], stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("stopwords", stopSet, "java.util.Set")
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.CurationKernels.qualityScore($s, $set)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_quality_score"
}

/** `graft_ngrams(text, n)` → array<string> via [[CurationKernels.ngrams]].
  * Never NULL: null or short text gives an empty array, as the composed
  * `when(size(toks) >= n, ...).otherwise(array())` form did. */
case class Ngrams(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"n-gram size must be >= 1, got $n")
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    CurationKernels.ngrams(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  graft.functions.CurationKernels.ngrams(${c.isNull} ? null : ${c.value}, $n);
    """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_ngrams"
}

/** The MinHash base hash of each word n-gram of the text, as an
  * `array<long>` ([[CurationKernels.ngramBases]]); never NULL. The input
  * half of [[ShingleMinHash]]. */
case class NgramBases(child: Expression, n: Int, prime: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"n-gram size must be >= 1, got $n")
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = CurationKernels.ngramBases(
    child.eval(input).asInstanceOf[UTF8String], n, prime)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  graft.functions.CurationKernels.ngramBases(
      |    ${c.isNull} ? null : ${c.value}, $n, ${prime}L);
    """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_ngram_bases"
}

/** `graft_shingle_minhash(text, n, as, bs, p)` → the MinHash signature of
  * the text's word n-grams, replaced at optimization by
  * [[MinHashSig]] over [[NgramBases]]: component j is the min over n-gram
  * base hashes h of (h·a_j + b_j) mod p. No distinct: the minimum is the
  * same with or without duplicate n-grams. Null or short text has no
  * n-grams and gets the identity signature (p in every slot), as the
  * composed shingle-set → `graft_minhash_sig` chain gives; the result is
  * never NULL. */
case class ShingleMinHash(child: Expression, n: Int, as: Seq[Long],
    bs: Seq[Long], prime: Long)
    extends UnaryExpression with RuntimeReplaceable with ImplicitCastInputTypes {
  override lazy val replacement: Expression =
    MinHashSig(NgramBases(child, n, prime), as, bs, prime)
  override def inputTypes = Seq(StringType)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_shingle_minhash"
}

object TextExpressions {
  import org.apache.spark.sql.functions.{call_function, lit}
  import KernelArgs.register

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    register("graft_jaro_winkler", classOf[JaroWinklerSimilarity], "a, b", 2)(a =>
      JaroWinklerSimilarity(a(0), a(1))),
    register("graft_rolling_min_hash", classOf[RollingMinHash], "text, window, base", 3)(a =>
      RollingMinHash(a(0), a.int(1, "window"), a.long(2, "base"))),
    register("graft_token_diversity", classOf[TokenDiversity], "text", 1)(a =>
      TokenDiversity(a(0))),
    register("graft_repetition_stats", classOf[RepetitionStats], "text", 1)(a =>
      RepetitionStats(a(0))),
    register("graft_cdc_boundaries", classOf[CdcBoundaries], "text, window, base, mask", 4)(a =>
      CdcBoundaries(a(0), a.int(1, "window"), a.long(2, "base"), a.long(3, "mask"))),
    register("graft_quality_score", classOf[QualityScore], "text, stopwords", 2)(a =>
      QualityScore(a(0), a.strings(1, "stopwords"))),
    register("graft_ngrams", classOf[Ngrams], "text, n", 2)(a => Ngrams(a(0), a.int(1, "n"))),
    register("graft_shingle_minhash", classOf[ShingleMinHash], "text, n, as, bs, p", 5) { a =>
      val (as, bs, p) = a.affineFamily(2)
      ShingleMinHash(a(0), a.int(1, "n"), as, bs, p)
    })

  // The Column forms below require a session built with `graft.GraftExtensions`.

  def rollingMinHash(text: Column, w: Int, base: Long): Column =
    call_function("graft_rolling_min_hash", text, lit(w), lit(base))

  def tokenDiversity(text: Column): Column = call_function("graft_token_diversity", text)

  def jaroWinkler(a: Column, b: Column): Column = call_function("graft_jaro_winkler", a, b)

  def repetitionStats(text: Column): Column = call_function("graft_repetition_stats", text)

  def cdcBoundaries(text: Column, w: Int, base: Long, mask: Long): Column =
    call_function("graft_cdc_boundaries", text, lit(w), lit(base), lit(mask))

  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    call_function("graft_quality_score", text, lit(stopwords.toArray))

  def ngrams(text: Column, n: Int): Column = call_function("graft_ngrams", text, lit(n))

  def shingleMinhash(text: Column, n: Int, as: Seq[Long], bs: Seq[Long], prime: Long): Column =
    call_function("graft_shingle_minhash", text, lit(n), lit(as.toArray), lit(bs.toArray),
      lit(prime))

  /** The identical per-window polynomial-and-mask cut rule as ANSI SQL
    * (1-based positions; equals the expression's byte arithmetic on
    * ASCII text): an ascending list of 0-based cut offsets. */
  def cdcBoundariesSql(textExpr: String, w: Int, base: Long, mask: Long): String = {
    val poly = (0 until w).map { k =>
      val p = BigInt(base).pow(k)
      s"CAST(ascii(substr($textExpr, i+$k, 1)) AS BIGINT) * $p"
    }.mkString(" + ")
    s"CASE WHEN length($textExpr) >= $w THEN " +
      s"list_filter(list_transform(range(1, length($textExpr) - ${w - 2}), " +
      s"i -> CASE WHEN (($poly) & $mask) = 0 THEN i + ${w - 1} END), x -> x IS NOT NULL) " +
      s"ELSE [] END"
  }

  /** The identical window polynomial as ANSI SQL (per-character ascii —
    * equals the expression's byte arithmetic on ASCII text), for the
    * DuckDB oracle. Renders the O(n·w) non-rolling form; exact same
    * integers, different cost model. */
  def rollingMinHashSql(textExpr: String, w: Int, base: Long): String = {
    val poly = (0 until w).map { k =>
      val p = BigInt(base).pow(k)
      s"CAST(ascii(substr($textExpr, i+$k, 1)) AS BIGINT) * $p"
    }.mkString(" + ")
    s"CASE WHEN length($textExpr) >= $w THEN " +
      s"list_min(list_transform(range(1, length($textExpr) - ${w - 2}), i -> $poly)) END"
  }
}
