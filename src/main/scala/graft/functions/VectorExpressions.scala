package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** The vector kernels behind the `graft_*` vector expressions, one
  * method per algorithm. Each expression's interpreted `eval` and its
  * generated code call the same method here (the generated code as a
  * static call from inside whole-stage codegen), so the two evaluation
  * paths run one body and cannot diverge.
  *
  * The higher-order-function forms in `llmops/VectorMath` (`aggregate` +
  * `zip_with`) run as CodegenFallback: every element costs an interpreted
  * lambda dispatch plus an intermediate product array, and on
  * all-pairs/bucketed similarity joins that cost is per PAIR. These
  * kernels are primitive loops over `ArrayData` (no boxing, no
  * intermediate array). Accumulation order is the folds' sequential left
  * fold, so results are bit-identical to the HOF forms and to the DuckDB
  * `list_reduce(list_transform(...))` oracles (KernelEquivalenceSpec runs
  * each expression under codegen and interpreted evaluation against
  * them).
  */
object VectorKernels {

  /** True when `xs` and `ys` have one length and no null element: the
    * pairs [[dot]] and [[distSq]] are defined on. The `zip_with` fold
    * gives NULL for the rest (null padding, or a null element). */
  def pairable(xs: ArrayData, ys: ArrayData): Boolean = {
    val n = xs.numElements()
    if (n != ys.numElements()) return false
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Σ xᵢ·yᵢ over [[pairable]] arrays, a left fold from 0.0. */
  def dot(xs: ArrayData, ys: ArrayData): Double = {
    val n = xs.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += xs.getDouble(i) * ys.getDouble(i); i += 1 }
    s
  }

  /** Σ (xᵢ−yᵢ)² over [[pairable]] arrays, a left fold from 0.0. */
  def distSq(xs: ArrayData, ys: ArrayData): Double = {
    val n = xs.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = xs.getDouble(i) - ys.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  /** 64-bit SimHash of per-token md5 halves (`struct<lo, hi>`): bit b is
    * set iff Σ_tokens (±1 by bit b of the token hash) > 0, all 64 vote
    * counters kept in one int[]. A null element, or a null half, votes −1
    * on its bits. */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    def vote(half: org.apache.spark.sql.catalyst.InternalRow, field: Int): Unit = {
      val off = field * 32
      if (half == null || half.isNullAt(field)) {
        var b = 0; while (b < 32) { votes(off + b) -= 1; b += 1 }
      } else {
        val x = half.getLong(field)
        var b = 0
        while (b < 32) { votes(off + b) += (if (((x >> b) & 1L) == 1L) 1 else -1); b += 1 }
      }
    }
    var i = 0
    while (i < n) {
      val s = if (arr.isNullAt(i)) null else arr.getStruct(i, 2)
      vote(s, 0)
      vote(s, 1)
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** MinHash signature of base hashes `hs`: component j is the min over
    * non-null h of (h·as(j) + bs(j)) mod prime, `prime` where there is
    * none (the fold's identity). The running minima live in one long[]. */
  def minhashSig(hs: ArrayData, as: Array[Long], bs: Array[Long], prime: Long): ArrayData = {
    val k = as.length
    val acc = new Array[Long](k)
    java.util.Arrays.fill(acc, prime)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        var j = 0
        while (j < k) {
          val v = (h * as(j) + bs(j)) % prime
          if (v < acc(j)) acc(j) = v
          j += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(acc)
  }

  /** The ±1-sign projection of `a` onto every row of `signs` in one pass:
    * component j is Σᵢ aᵢ·signs(j)(i), a left fold from 0.0. A null
    * element, or a length other than the rows' width, gives an array of
    * NULLs (what one `dot` per row gives). */
  def jlProject(a: ArrayData, signs: Array[Array[Double]]): ArrayData = {
    val n = a.numElements()
    val k = signs.length
    var bad = n != signs(0).length
    var i = 0
    while (!bad && i < n) { bad = a.isNullAt(i); i += 1 }
    if (bad) return new GenericArrayData(new Array[Any](k))
    val acc = new Array[Double](k)
    i = 0
    while (i < n) {
      val v = a.getDouble(i)
      var j = 0
      while (j < k) { acc(j) += v * signs(j)(i); j += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(acc)
  }

  /** 0-based position of the codebook entry nearest `a` in squared L2,
    * ties to the lowest position. An entry that is null, of another
    * length, or has a null element is skipped, and one at NaN or +∞
    * distance never wins. −1 when `a` has a null element or no entry
    * qualifies. */
  def pqCode(a: ArrayData, books: ArrayData): Int = {
    val n = a.numElements()
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return -1; i += 1 }
    var best = Double.PositiveInfinity
    var bestP = -1
    val k = books.numElements()
    var p = 0
    while (p < k) {
      if (!books.isNullAt(p)) {
        val c = books.getArray(p)
        if (c.numElements() == n) {
          var d = 0.0
          var ok = true
          var j = 0
          while (ok && j < n) {
            if (c.isNullAt(j)) ok = false
            else { val t = a.getDouble(j) - c.getDouble(j); d += t * t; j += 1 }
          }
          if (ok && d < best) { best = d; bestP = p }
        }
      }
      p += 1
    }
    bestP
  }
}

/** [[VectorKernels.dot]] / [[VectorKernels.distSq]] on two `array<double>`
  * (other numeric array types are implicitly cast, as built-ins do).
  * Null arrays null out via `nullSafeEval`/`nullSafeCodeGen`;
  * length-mismatched pairs and pairs with any null ELEMENT return NULL,
  * as the `zip_with` null-padding fold does. */
abstract class PairwiseFold extends BinaryExpression with ImplicitCastInputTypes {
  // (type inferred — AbstractDataType is private[sql])
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  // nullable even for non-null children: length-mismatched pairs → NULL
  // (and nullSafeCodeGen only emits a writable isNull slot when nullable)
  override def nullable: Boolean = true

  /** The [[VectorKernels]] fold this node runs, by name and as a call. */
  protected def kernel: String
  protected def fold(xs: ArrayData, ys: ArrayData): Double

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (VectorKernels.pairable(xs, ys)) fold(xs, ys) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.isNull} = !graft.functions.VectorKernels.pairable($a, $b);
         |if (!${ev.isNull}) ${ev.value} = graft.functions.VectorKernels.$kernel($a, $b);
       """.stripMargin)
}

/** Σ aᵢ·bᵢ — sequential left fold, bit-identical to the HOF/oracle form. */
case class DotProduct(left: Expression, right: Expression) extends PairwiseFold {
  override protected def kernel: String = "dot"
  override protected def fold(xs: ArrayData, ys: ArrayData): Double = VectorKernels.dot(xs, ys)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_dot"
}

/** Σ (aᵢ−bᵢ)² — squared Euclidean distance. */
case class SquaredDistance(left: Expression, right: Expression) extends PairwiseFold {
  override protected def kernel: String = "distSq"
  override protected def fold(xs: ArrayData, ys: ArrayData): Double = VectorKernels.distSq(xs, ys)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_dist_sq"
}

/** `graft_simhash64(halves)`: the 64-bit SimHash signature
  * ([[VectorKernels.simhash64]]) of an `array<struct<lo:long,hi:long>>`
  * of per-token md5 halves (see `graft.llmops.Dedup.tokenHashHalves`).
  *
  * The HOF form runs 64 interpreted `aggregate` folds per document,
  * measured as the dominant cost of the corpus-scale banded pair search;
  * the kernel makes ONE primitive pass. Integer arithmetic only, so
  * results are exactly the fold's (and the DuckDB vote-sign oracle's).
  *
  * A NULL INPUT ARRAY (null text) yields signature 0L, as the fold's
  * `when(null > 0, ...).otherwise(0L)` does for every bit, so a null-text
  * doc lands in the same banded-join buckets as a zero-signature doc.
  */
case class SimHash64(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(StructType(Seq(
    StructField("lo", LongType), StructField("hi", LongType)))))
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val value = child.eval(input)
    if (value == null) 0L else VectorKernels.simhash64(value.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |long ${ev.value} = ${c.isNull} ? 0L : graft.functions.VectorKernels.simhash64(${c.value});
    """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash64"
}

/** `graft_minhash_sig(hashes, as, bs, prime)`: the MinHash signature
  * ([[VectorKernels.minhashSig]]) of an `array<long>` of per-shingle base
  * hashes, with the empty-array identity `prime` in every slot.
  *
  * The HOF form (the `aggregate` + `zip_with` fold) allocates a
  * numHashes-element array and dispatches 3·k interpreted lambdas PER
  * SHINGLE; the kernel keeps the running minima in one primitive long[].
  * Integer arithmetic only: results are exactly the fold's (and the
  * DuckDB affine-family oracle's).
  *
  * Coefficients are baked into the node (read from literal arguments at
  * resolution) and reach the generated code as reference objects, so two
  * scans with the same family canonicalize equal and exchange reuse still
  * applies. Null ELEMENTS are skipped — `least(m, null)` keeps m in the
  * fold — and a null input array yields NULL.
  */
case class MinHashSig(child: Expression, as: Seq[Long], bs: Seq[Long], prime: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(as.nonEmpty && as.length == bs.length,
    s"need matching non-empty coefficient vectors (got ${as.length}, ${bs.length})")
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val aArr: Array[Long] = as.toArray
  private lazy val bArr: Array[Long] = bs.toArray

  override def nullSafeEval(input: Any): Any =
    VectorKernels.minhashSig(input.asInstanceOf[ArrayData], aArr, bArr, prime)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val b = ctx.addReferenceObj("minhashB", bArr, "long[]")
    defineCodeGen(ctx, ev, hs =>
      s"graft.functions.VectorKernels.minhashSig($hs, $a, $b, ${prime}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash_sig"
}

/** `graft_jl_project(vec, seed, outDim, dim)`: all `outDim` components of
  * a ±1-sign Johnson–Lindenstrauss projection in ONE fused loop
  * ([[VectorKernels.jlProject]]). The composed form — an `array(...)` of
  * `outDim` separate dot calls — recomputes the float→double cast per
  * component and, worse, inlines outDim loop bodies (twice, once more
  * inside the `size(...) > 0` filter a downstream explode infers) into a
  * single generated method that blows past the JIT's HugeMethodLimit,
  * dropping the whole stage to interpreted bytecode (measured 38× slower
  * at the 64× stress fixture). Here the generated code is one static call
  * with the sign matrix passed as a reference object.
  *
  * Per-component accumulation order is ascending element index from a
  * 0.0 seed — bit-identical to the `dot` fold and the DuckDB
  * `list_reduce` oracle. Null input array → NULL; a null ELEMENT or a
  * length ≠ the sign rows' width → an all-null component array, exactly
  * what the composed per-component dots produce (each dot NULLs out).
  */
case class JlProject(child: Expression, signs: Seq[Seq[Double]])
    extends UnaryExpression with ImplicitCastInputTypes {
  require(signs.nonEmpty && signs.forall(_.length == signs.head.length),
    "need a non-empty rectangular sign matrix")
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  private lazy val sArr: Array[Array[Double]] = signs.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any =
    VectorKernels.jlProject(input.asInstanceOf[ArrayData], sArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("jlSigns", sArr, "double[][]")
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorKernels.jlProject($v, $signsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_jl_project"
}

/** `graft_pq_code(vec, codebook)`: argmin-L2 code position of a
  * (sub)vector against a position-ordered codebook
  * (`array<array<double>>`), ties to the lowest index
  * ([[VectorKernels.pqCode]]) — the
  * `array_min(transform(codes, (c, i) => struct(distSq, i)))` HOF form PQ
  * encoding uses, which runs every distance as an interpreted
  * `aggregate`+`zip_with` fold (measured as the dominant cost of the
  * corpus-scale index build).
  *
  * NULL vector, a vector with a null element, or no valid codebook entry
  * → NULL. For well-formed codebooks (what
  * [[graft.llmops.ProductQuantization]] builds) results are identical to
  * the HOF form — pinned by a bit-identity spec. */
case class PqNearestCode(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any, cs: Any): Any = {
    val p = VectorKernels.pqCode(v.asInstanceOf[ArrayData], cs.asInstanceOf[ArrayData])
    if (p < 0) null else p
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cs) =>
      s"""${ev.value} = graft.functions.VectorKernels.pqCode($v, $cs);
         |${ev.isNull} = ${ev.value} < 0;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_pq_code"
}

/** Column/SQL surface for the native expressions. Constructing a Column
  * from an Expression has no public API in Spark 4, so the expressions are
  * registered through the public `SparkSessionExtensions.injectFunction`
  * hook (see [[graft.GraftExtensions]]) and invoked via `call_function` —
  * which also makes them first-class SQL functions
  * (`SELECT graft_dot(a, b)`). Registration is therefore the only way
  * these kernels run: on a session built without the extension, analysis
  * fails naming the unresolved `graft_*` routine.
  */
object VectorExpressions {
  import org.apache.spark.sql.functions.{call_function, lit}
  import KernelArgs.register

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    register("graft_dot", classOf[DotProduct], "a, b", 2)(a => DotProduct(a(0), a(1))),
    register("graft_dist_sq", classOf[SquaredDistance], "a, b", 2)(a =>
      SquaredDistance(a(0), a(1))),
    register("graft_simhash64", classOf[SimHash64], "halves", 1)(a => SimHash64(a(0))),
    register("graft_pq_code", classOf[PqNearestCode], "vec, centroids", 2)(a =>
      PqNearestCode(a(0), a(1))),
    register("graft_jl_project", classOf[JlProject], "vec, seed, outDim, dim", 4)(a =>
      JlProject(a(0), jlSigns(a.string(1, "seed"), a.int(2, "outDim"), a.int(3, "dim"))
        .map(_.toSeq).toSeq)),
    register("graft_minhash_sig", classOf[MinHashSig], "hashes, as, bs, prime", 4) { a =>
      val (as, bs, p) = a.affineFamily(1)
      MinHashSig(a(0), as, bs, p)
    })

  /** ±1 sign matrix for [[JlProject]]: signs(j)(i) = +1 when the first
    * hex nibble of md5("seed:j:i") is odd, else −1 — regenerable from the
    * seed alone in any engine with md5 (the DuckDB oracles rebuild it in
    * SQL), so no projection state ships with the data. */
  def jlSigns(seed: String, outDim: Int, dim: Int): Array[Array[Double]] = {
    require(outDim >= 1 && dim >= 1,
      s"jlSigns needs positive dims, got outDim=$outDim dim=$dim")
    Array.tabulate(outDim) { j =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(dim) { i =>
        val h = md.digest(s"$seed:$j:$i".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0x1) == 1) 1.0 else -1.0
      }
    }
  }

  /** Requires the session to be built with [[graft.GraftExtensions]]. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def distSq(a: Column, b: Column): Column = call_function("graft_dist_sq", a, b)

  def simhash64(halves: Column): Column = call_function("graft_simhash64", halves)

  def pqCode(vec: Column, centroids: Column): Column =
    call_function("graft_pq_code", vec, centroids)

  def minhashSig(hashes: Column, as: Seq[Long], bs: Seq[Long], prime: Long): Column =
    call_function("graft_minhash_sig", hashes, lit(as.toArray), lit(bs.toArray), lit(prime))

  def jlProject(vec: Column, seed: String, outDim: Int, dim: Int): Column =
    call_function("graft_jl_project", vec, lit(seed), lit(outDim), lit(dim))
}
