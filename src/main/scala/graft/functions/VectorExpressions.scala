package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Native Catalyst expressions for the hot vector kernels.
  *
  * The higher-order-function forms in `llmops/VectorMath` (`aggregate` +
  * `zip_with`) are semantically right but run as CodegenFallback — every
  * element costs an interpreted lambda dispatch plus an intermediate
  * product array. On all-pairs/bucketed similarity joins that cost is per
  * PAIR, which makes it the dominant CPU of the whole job. These
  * expressions generate a primitive `double` loop directly over the two
  * `ArrayData` (no boxing, no intermediate array) inside whole-stage
  * codegen.
  *
  * Accumulation order is the same sequential left fold, so results are
  * bit-identical to the HOF forms and to the DuckDB
  * `list_reduce(list_transform(...))` oracles.
  *
  * Inputs are `array<double>` (embedding vectors; other numeric array
  * types are implicitly cast, as built-ins do). Null ARRAYS null out via
  * `nullSafeEval`/`nullSafeCodeGen`; length-mismatched pairs and pairs
  * with any null ELEMENT return NULL — the same results the `zip_with`
  * null-padding fold produces.
  */
abstract class PairwiseFold extends BinaryExpression with ImplicitCastInputTypes {
  // (type inferred — AbstractDataType is private[sql])
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  // nullable even for non-null children: length-mismatched pairs → NULL
  // (and nullSafeCodeGen only emits a writable isNull slot when nullable)
  override def nullable: Boolean = true

  /** Java source for one step given element vars `x`/`y`, accumulating into `s`. */
  protected def stepCode(x: String, y: String): String
  protected def step(x: Double, y: Double): Double

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (xs.numElements() != ys.numElements()) null
    else {
      val n = xs.numElements()
      var s = 0.0
      var i = 0
      while (i < n) {
        // a null element would read as garbage through getDouble; the HOF
        // fold yields NULL for it, so this tier must too
        if (xs.isNullAt(i) || ys.isNullAt(i)) return null
        s += step(xs.getDouble(i), ys.getDouble(i))
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        |if ($a.numElements() != $b.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  int $n = $a.numElements();
        |  double $s = 0.0;
        |  for (int $i = 0; $i < $n; $i++) {
        |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
        |    double $x = $a.getDouble($i);
        |    double $y = $b.getDouble($i);
        |    $s += ${stepCode(x, y)};
        |  }
        |  if (!${ev.isNull}) { ${ev.value} = $s; }
        |}
      """.stripMargin
    })
}

/** Σ aᵢ·bᵢ — sequential left fold, bit-identical to the HOF/oracle form. */
case class DotProduct(left: Expression, right: Expression) extends PairwiseFold {
  override protected def stepCode(x: String, y: String): String = s"$x * $y"
  override protected def step(x: Double, y: Double): Double = x * y
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_dot"
}

/** Σ (aᵢ−bᵢ)² — squared Euclidean distance. */
case class SquaredDistance(left: Expression, right: Expression) extends PairwiseFold {
  override protected def stepCode(x: String, y: String): String = s"($x - $y) * ($x - $y)"
  override protected def step(x: Double, y: Double): Double = (x - y) * (x - y)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_dist_sq"
}

/** 64-bit SimHash signature from an `array<struct<lo:long,hi:long>>` of
  * per-token md5 halves (see `graft.llmops.Dedup.tokenHashHalves`): bit b
  * of the result is set iff Σ_tokens (±1 by bit b of the token hash) > 0.
  *
  * The HOF form (`Dedup.simhash64FromHalves`) runs 64 interpreted
  * `aggregate` folds per document — measured as the dominant cost of the
  * corpus-scale banded pair search. This expression makes ONE primitive
  * pass per document inside whole-stage codegen, maintaining all 64 vote
  * counters in a local int[]. Integer arithmetic only, so results are
  * exactly identical to the HOF form (and to the DuckDB vote-sign
  * oracle).
  *
  * Null handling matches the fold: a null element / null half votes −1 on
  * the corresponding bits (the HOF's `when(...).otherwise(-1)` takes the
  * otherwise branch on null input), and a NULL INPUT ARRAY (null text)
  * yields signature 0L — the fold's `when(null > 0, ...).otherwise(0L)`
  * lands every bit in the otherwise branch. So a null-text doc lands in
  * the same banded-join buckets as a zero-signature doc, as it does
  * under the fold reference.
  */
case class SimHash64(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(StructType(Seq(
    StructField("lo", LongType), StructField("hi", LongType)))))
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val value = child.eval(input)
    if (value == null) 0L else nullSafeEval(value)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        var b = 0; while (b < 64) { votes(b) -= 1; b += 1 }
      } else {
        val s = arr.getStruct(i, 2)
        if (s.isNullAt(0)) {
          var b = 0; while (b < 32) { votes(b) -= 1; b += 1 }
        } else {
          val lo = s.getLong(0)
          var b = 0
          while (b < 32) { votes(b) += (if (((lo >> b) & 1L) == 1L) 1 else -1); b += 1 }
        }
        if (s.isNullAt(1)) {
          var b = 32; while (b < 64) { votes(b) -= 1; b += 1 }
        } else {
          val hi = s.getLong(1)
          var b = 32
          while (b < 64) { votes(b) += (if (((hi >> (b - 32)) & 1L) == 1L) 1 else -1); b += 1 }
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // hand-rolled null guard (not nullSafeCodeGen): a null input array
    // must produce 0L, not a null result, to stay bit-identical with the
    // HOF fold
    val childGen = child.genCode(ctx)
    val arr = childGen.value
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val b = ctx.freshName("b")
    val votes = ctx.freshName("votes")
    val s = ctx.freshName("s")
    val lo = ctx.freshName("lo")
    val hi = ctx.freshName("hi")
    val row = "org.apache.spark.sql.catalyst.InternalRow"
    val compute =
      s"""
        |int $n = $arr.numElements();
        |int[] $votes = new int[64];
        |for (int $i = 0; $i < $n; $i++) {
        |  if ($arr.isNullAt($i)) {
        |    for (int $b = 0; $b < 64; $b++) $votes[$b]--;
        |    continue;
        |  }
        |  $row $s = $arr.getStruct($i, 2);
        |  if ($s.isNullAt(0)) {
        |    for (int $b = 0; $b < 32; $b++) $votes[$b]--;
        |  } else {
        |    long $lo = $s.getLong(0);
        |    for (int $b = 0; $b < 32; $b++)
        |      $votes[$b] += ((($lo >> $b) & 1L) == 1L) ? 1 : -1;
        |  }
        |  if ($s.isNullAt(1)) {
        |    for (int $b = 32; $b < 64; $b++) $votes[$b]--;
        |  } else {
        |    long $hi = $s.getLong(1);
        |    for (int $b = 32; $b < 64; $b++)
        |      $votes[$b] += ((($hi >> ($b - 32)) & 1L) == 1L) ? 1 : -1;
        |  }
        |}
        |for (int $b = 0; $b < 64; $b++) if ($votes[$b] > 0) ${ev.value} |= (1L << $b);
      """.stripMargin
    val guarded =
      if (child.nullable) s"if (!${childGen.isNull}) {\n$compute\n}" else compute
    ev.copy(
      code = code"""
        |${childGen.code}
        |long ${ev.value} = 0L;
        |$guarded
      """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash64"
}

/** MinHash signature from an `array<long>` of per-shingle base hash
  * values: component j of the output is min over elements h of
  * (h·a_j + b_j) mod prime, with the empty-array identity `prime` in
  * every slot (an upper bound for all permutation values — the same
  * identity the HOF fold uses).
  *
  * The HOF form (`Dedup.minhashSignatureArrayFold`'s `aggregate` +
  * `zip_with`) allocates a numHashes-element array and dispatches 3·k
  * interpreted lambdas PER SHINGLE; this expression keeps the running
  * minima in one primitive long[] inside whole-stage codegen. Integer
  * arithmetic only — results are exactly identical to the fold (and to
  * the DuckDB affine-family oracle).
  *
  * Coefficients are baked into the node (extracted from foldable literal
  * arguments at resolution), so two scans with the same family
  * canonicalize equal and exchange reuse still applies. Null ELEMENTS
  * are skipped — `least(m, null)` keeps m in the fold — and a null input
  * array yields NULL.
  */
case class MinHashSig(child: Expression, as: Seq[Long], bs: Seq[Long], prime: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(as.nonEmpty && as.length == bs.length,
    s"need matching non-empty coefficient vectors (got ${as.length}, ${bs.length})")
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val aArr: Array[Long] = as.toArray
  private lazy val bArr: Array[Long] = bs.toArray

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val k = aArr.length
    val acc = Array.fill(k)(prime)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        var j = 0
        while (j < k) {
          val v = (h * aArr(j) + bArr(j)) % prime
          if (v < acc(j)) acc(j) = v
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val acc = ctx.freshName("acc")
      val k = aArr.length
      s"""
        |long[] $acc = new long[$k];
        |java.util.Arrays.fill($acc, ${prime}L);
        |int $n = $hs.numElements();
        |for (int $i = 0; $i < $n; $i++) {
        |  if ($hs.isNullAt($i)) continue;
        |  long $h = $hs.getLong($i);
        |  for (int $j = 0; $j < $k; $j++) {
        |    long $v = ($h * $aRef[$j] + $bRef[$j]) % ${prime}L;
        |    if ($v < $acc[$j]) $acc[$j] = $v;
        |  }
        |}
        |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($acc);
      """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash_sig"
}

/** All `outDim` components of a ±1-sign Johnson–Lindenstrauss projection
  * in ONE fused loop. The composed form — an `array(...)` of `outDim`
  * separate dot calls — recomputes the float→double cast per component
  * and, worse, inlines outDim loop bodies (twice, once more inside the
  * `size(...) > 0` filter a downstream explode infers) into a single
  * generated method that blows past the JIT's HugeMethodLimit, dropping
  * the whole stage to interpreted bytecode (measured 38× slower at the
  * 64× stress fixture). This node is one modest method: cast once, read
  * each input element once, accumulate all components in a primitive
  * `double[]`.
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
  private def k = signs.length
  private def dim = signs.head.length

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var bad = n != dim
    var i = 0
    while (!bad && i < n) { if (a.isNullAt(i)) bad = true; i += 1 }
    if (bad)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](k))
    val acc = new Array[Double](k)
    i = 0
    while (i < n) {
      val v = a.getDouble(i)
      var j = 0
      while (j < k) { acc(j) += v * sArr(j)(i); j += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val sRef = ctx.addReferenceObj("jlSigns", sArr, "double[][]")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val v = ctx.freshName("v")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""
        |int $n = $in.numElements();
        |boolean $bad = ($n != $dim);
        |for (int $i = 0; !$bad && $i < $n; $i++) {
        |  if ($in.isNullAt($i)) $bad = true;
        |}
        |if ($bad) {
        |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        |    new Object[$k]);
        |} else {
        |  double[] $acc = new double[$k];
        |  for (int $i = 0; $i < $n; $i++) {
        |    double $v = $in.getDouble($i);
        |    for (int $j = 0; $j < $k; $j++) {
        |      $acc[$j] += $v * $sRef[$j][$i];
        |    }
        |  }
        |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($acc);
        |}
      """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_jl_project"
}

/** argmin-L2 code position of a (sub)vector against a position-ordered
  * codebook (`array<array<double>>`): returns the 0-based index of the
  * nearest centroid, ties broken toward the lowest index — exactly the
  * `array_min(transform(codes, (c, i) => struct(distSq, i)))` HOF form
  * PQ encoding uses, which runs every distance as an interpreted
  * `aggregate`+`zip_with` fold (measured as the dominant cost of the
  * corpus-scale index build: the encode pass evaluates ks·dim lambda
  * steps per subspace per vector). This expression runs the whole argmin
  * as one primitive nested loop inside whole-stage codegen.
  *
  * Null/degenerate handling: NULL vector or a vector with a null element
  * → NULL; a codebook ENTRY that is null, length-mismatched, or has a
  * null element is skipped (never the argmin); no valid entry → NULL.
  * For well-formed codebooks (what [[graft.llmops.ProductQuantization]]
  * builds) results are identical to the HOF form — pinned by a
  * bit-identity spec. */
case class PqNearestCode(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any, cs: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val books = cs.asInstanceOf[ArrayData]
    val n = a.numElements()
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return null; i += 1 }
    var best = Double.PositiveInfinity
    var bestP = -1
    var p = 0
    val k = books.numElements()
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
    if (bestP < 0) null else bestP
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, bs) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val d = ctx.freshName("d")
      val t = ctx.freshName("t")
      val ok = ctx.freshName("ok")
      val best = ctx.freshName("best")
      val bestP = ctx.freshName("bestP")
      val c = ctx.freshName("c")
      s"""
        |int $n = $a.numElements();
        |for (int $i = 0; $i < $n; $i++) {
        |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
        |}
        |if (!${ev.isNull}) {
        |  double $best = Double.POSITIVE_INFINITY;
        |  int $bestP = -1;
        |  int $k = $bs.numElements();
        |  for (int $p = 0; $p < $k; $p++) {
        |    if ($bs.isNullAt($p)) continue;
        |    org.apache.spark.sql.catalyst.util.ArrayData $c = $bs.getArray($p);
        |    if ($c.numElements() != $n) continue;
        |    double $d = 0.0;
        |    boolean $ok = true;
        |    for (int $j = 0; $j < $n; $j++) {
        |      if ($c.isNullAt($j)) { $ok = false; break; }
        |      double $t = $a.getDouble($j) - $c.getDouble($j);
        |      $d += $t * $t;
        |    }
        |    if ($ok && $d < $best) { $best = $d; $bestP = $p; }
        |  }
        |  if ($bestP < 0) { ${ev.isNull} = true; } else { ${ev.value} = $bestP; }
        |}
      """.stripMargin
    })

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
  import org.apache.spark.sql.functions.call_function

  // Every builder checks arity first: without it a wrong argument count
  // surfaces as IndexOutOfBoundsException instead of an analysis error
  // naming the signature.
  private def arity(name: String, sig: String, n: Int)(es: Seq[Expression]): Unit =
    require(es.length == n, s"$name($sig) takes $n arguments, got ${es.length}")

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (es: Seq[Expression]) => {
        arity("graft_dot", "a, b", 2)(es)
        DotProduct(es(0), es(1))
      }),
    (FunctionIdentifier("graft_dist_sq"),
      new ExpressionInfo(classOf[SquaredDistance].getName, "graft_dist_sq"),
      (es: Seq[Expression]) => {
        arity("graft_dist_sq", "a, b", 2)(es)
        SquaredDistance(es(0), es(1))
      }),
    (FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (es: Seq[Expression]) => {
        arity("graft_simhash64", "halves", 1)(es)
        SimHash64(es(0))
      }),
    (FunctionIdentifier("graft_pq_code"),
      new ExpressionInfo(classOf[PqNearestCode].getName, "graft_pq_code"),
      (es: Seq[Expression]) => {
        arity("graft_pq_code", "vec, centroids", 2)(es)
        PqNearestCode(es(0), es(1))
      }),
    (FunctionIdentifier("graft_jl_project"),
      new ExpressionInfo(classOf[JlProject].getName, "graft_jl_project"),
      (es: Seq[Expression]) => {
        arity("graft_jl_project", "vec, seed, outDim, dim", 4)(es)
        require(es.drop(1).forall(_.foldable),
          "graft_jl_project seed/outDim/dim must be literal")
        JlProject(es(0), jlSigns(es(1).eval().toString,
          es(2).eval().asInstanceOf[Int],
          es(3).eval().asInstanceOf[Int]).map(_.toSeq).toSeq)
      }),
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      (es: Seq[Expression]) => {
        arity("graft_minhash_sig", "hashes, as, bs, prime", 4)(es)
        def longs(e: Expression): Seq[Long] = {
          require(e.foldable, "graft_minhash_sig coefficients must be literal")
          e.eval().asInstanceOf[ArrayData].toLongArray().toSeq
        }
        require(es(3).foldable, "graft_minhash_sig prime must be literal")
        MinHashSig(es(0), longs(es(1)), longs(es(2)),
          es(3).eval().asInstanceOf[Long])
      }))

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

  def minhashSig(hashes: Column, as: Seq[Long], bs: Seq[Long], prime: Long): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_minhash_sig", hashes,
      lit(as.toArray), lit(bs.toArray), lit(prime))
  }

  def jlProject(vec: Column, seed: String, outDim: Int, dim: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_jl_project", vec, lit(seed), lit(outDim), lit(dim))
  }
}
