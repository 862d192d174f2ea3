package graft.llmops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns.
  *
  * Two implementation tiers, chosen from `dim` by the `*Auto` forms:
  *  1. unrolled `element_at` sums — beats everything for small known dims
  *     (3-D nav points), but generated methods outgrow the JIT above
  *     [[unrollLimit]].
  *  2. native Catalyst expressions ([[graft.functions.VectorExpressions]])
  *     — one primitive double loop in [[graft.functions.VectorKernels]],
  *     which the generated code (inside whole-stage codegen) and the
  *     interpreted `eval` both call; used for wide/unknown dims. Requires
  *     the session to be built with [[graft.GraftExtensions]].
  *
  * The higher-order-function folds (`aggregate` + `zip_with`: [[dot]],
  * [[dotPrecast]], [[distSqPrecast]]) are the reference the native
  * kernel is tested against; they run as CodegenFallback (interpreted
  * lambda per element).
  *
  * All forms are sequential left-folds over the array in index order with
  * double-precision accumulation: deterministic, bit-identical to each
  * other and to any engine that folds the same way (the DuckDB oracles
  * use `list_reduce(list_transform(...))`, which matches).
  */
object VectorMath {

  /** Cast to array<double> so every product/add is an IEEE double op. */
  private def d(a: Column): Column = a.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def normSq(a: Column): Column = dot(a, a)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(normSq(a)) * sqrt(normSq(b)))

  def distSq(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  def euclidean(a: Column, b: Column): Column = sqrt(distSq(a, b))

  // ---- Precast forms for pairwise operators ----------------------------
  //
  // cosine(a, b) above runs THREE array folds per evaluation (dot + both
  // norms) and casts both arrays each time. In an all-pairs or bucketed
  // join that work is per PAIR; casting once and materializing norms per
  // VECTOR before the join drops per-pair cost to a single fold. The
  // division-by-norms form is kept (not pre-normalized vectors) so results
  // stay bit-identical to `dot/(sqrt·sqrt)` and to the DuckDB oracles.

  /** Cast an embedding to array<double> once, before a pairwise join. */
  def precast(a: Column): Column = d(a)

  /** Dot product over arrays already cast to array<double>. */
  def dotPrecast(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Squared distance over arrays already cast to array<double>. */
  def distSqPrecast(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  // ---- Unrolled forms for a statically-known SMALL dimension -----------
  //
  // For small vectors (3-D nav points), an unrolled element_at sum beats
  // the higher-order fold: no lambda dispatch, no intermediate array. But
  // the win inverts for wide embeddings — a 64-term expression tree
  // generates methods past the JIT's HugeMethodLimit, so the "optimized"
  // code runs in the bytecode interpreter (measured 6-10× SLOWER than the
  // fold at dim=64 on the all-pairs cosine path). `dotAuto` therefore
  // unrolls only up to `unrollLimit` and uses the native loop above it.
  // The seed term and left-to-right association replicate the fold
  // exactly (((0.0+x1)+x2)+…), so every form stays bit-identical to the
  // others and the DuckDB list_reduce oracles.

  /** Widest dimension worth unrolling; above this the generated method
    * outgrows JIT compilation and the native loop wins. */
  val unrollLimit = 8

  /** Unrolled dot over precast arrays; `dim` must equal the array length. */
  def dotUnrolled(a: Column, b: Column, dim: Int): Column =
    (lit(0.0) +: (1 to dim).map(i =>
      element_at(a, i) * element_at(b, i)).toSeq).reduce(_ + _)

  /** Unrolled squared distance over precast arrays. */
  def distSqUnrolled(a: Column, b: Column, dim: Int): Column =
    (lit(0.0) +: (1 to dim).map { i =>
      val d = element_at(a, i) - element_at(b, i); d * d
    }.toSeq).reduce(_ + _)

  /** Unrolled dot for small known dims; the native codegen'd loop
    * otherwise (same result bit-for-bit). */
  def dotAuto(a: Column, b: Column, dim: Int): Column =
    if (dim > 0 && dim <= unrollLimit) dotUnrolled(a, b, dim)
    else graft.functions.VectorExpressions.dot(a, b)

  def normAuto(a: Column, dim: Int): Column = sqrt(dotAuto(a, a, dim))

  def distSqAuto(a: Column, b: Column, dim: Int): Column =
    if (dim > 0 && dim <= unrollLimit) distSqUnrolled(a, b, dim)
    else graft.functions.VectorExpressions.distSq(a, b)
}
