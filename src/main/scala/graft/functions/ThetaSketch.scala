package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) theta sketch — the SET-OPERATION member of the
  * mergeable-sketch family (reference registry stats keep only exact
  * per-table counters, `assets/scene_registry.py:27-76`; at 100 TB the
  * cross-segment questions those counters can't answer — "how many users
  * does segment A share with segment B?" — need a sketch that supports
  * INTERSECTION, which [[Hll]] structurally cannot: HLL registers carry
  * max-of-rho per bucket, and max() of two unions says nothing about the
  * overlap).
  *
  * Construction (Broder's classic k-minimum-values / bottom-k estimator;
  * the theta-sketch framing is Dasgupta et al., "Theta-Sketch Framework:
  * Estimating Set Expressions with Mergeable Sketches"):
  *   - hash every value with [[Md5Hash60]] (exposed here as
  *     [[kmvInput]]) — uniform on [0, 2^60).
  *   - keep the k smallest DISTINCT hashes per group. If fewer than k
  *     distinct values exist the sketch is the exact distinct hash set.
  *   - theta = the k-th smallest hash (the sketch's sampling threshold);
  *     a full sketch is a uniform sample of the value universe at rate
  *     theta/2^60, which is what makes set expressions estimable.
  *   - distinct estimate: (k-1) · 2^60 / theta (full), exact size
  *     (not full).
  *   - union: merge-sort two sketches, keep k smallest (associative,
  *     commutative, idempotent — same mergeability contract as the HLL
  *     register max and the CMS register sum).
  *   - intersection: thetaMin = min(theta_A, theta_B); common hashes
  *     below thetaMin are a uniform sample of A∩B at rate thetaMin/2^60,
  *     so |A∩B| ≈ count · 2^60 / thetaMin.
  *
  * Scale shape: the build is ONE shuffle whose partial state is ≤ k longs
  * per (group, partition) — map-side combine bounds the exchange at
  * k·numPartitions rows per group regardless of raw cardinality. Set
  * operations then run on sketch ROWS (k-length arrays), never on data:
  * pairwise overlap of 1000 segments touches 1000 sketch rows, not the
  * corpus. Persist the sketch arrays per (segment, batch) and
  * [[unionSketches]] merges any subset later without rescanning — the
  * same incremental contract as [[Hll.mergeRegistersAgg]].
  *
  * Determinism contract (what makes every register and estimate
  * hash-comparable in DuckDB): hashes are exact integers < 2^60, the
  * sketch is the SORTED k-smallest-distinct set (no ties possible —
  * values are distinct), and every estimate is one double expression
  * over exactly-two integer inputs (`cast(x as double) * 2^60 / cast(t
  * as double)` — both engines perform the identical IEEE rounding on the
  * identical integers).
  */
object ThetaSketch {

  /** Exclusive upper bound of the hash space (2^60) — exactly
    * representable in double, so `lit(ThetaSpan)` divides identically in
    * both engines. */
  val ThetaSpan: Double = math.pow(2.0, 60)

  /** [[Md5Hash60]] of a value's string form (DuckDB:
    * `CAST(v AS VARCHAR)`). Filter nulls upstream, as COUNT(DISTINCT)
    * would. */
  def kmvInput(value: Column): Column = Md5Hash60(value.cast("string"))

  /** Buffer/output: ascending sorted distinct hashes, length ≤ k. A
    * product wrapper for the struct encoder, same device as
    * [[TopK.TopKBuf]]. */
  case class KmvBuf(items: Seq[Long])

  /** Merge two ascending distinct sorted sequences, keep the k smallest
    * distinct. */
  private def mergeSorted(k: Int, a: Seq[Long], b: Seq[Long]): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0; var j = 0
    while (out.length < k && (i < a.length || j < b.length)) {
      if (j >= b.length || (i < a.length && a(i) <= b(j))) {
        if (i < a.length && j < b.length && a(i) == b(j)) j += 1
        out += a(i); i += 1
      } else {
        out += b(j); j += 1
      }
    }
    out.toSeq
  }

  private def kmv(k: Int): Aggregator[Long, KmvBuf, Seq[Long]] =
    new Aggregator[Long, KmvBuf, Seq[Long]] {
      def zero: KmvBuf = KmvBuf(Vector.empty)
      def reduce(buf: KmvBuf, h: Long): KmvBuf = {
        val items = buf.items
        if (items.length >= k && h >= items.last) buf
        else {
          // insertion point; equal hash ⇒ already present ⇒ no-op
          val at = items.indexWhere(_ >= h)
          if (at >= 0 && items(at) == h) buf
          else {
            val pos = if (at == -1) items.length else at
            val (pre, post) = items.splitAt(pos)
            KmvBuf(((pre :+ h) ++ post).take(k))
          }
        }
      }
      def merge(a: KmvBuf, b: KmvBuf): KmvBuf =
        KmvBuf(mergeSorted(k, a.items, b.items))
      def finish(r: KmvBuf): Seq[Long] = r.items
      def bufferEncoder: Encoder[KmvBuf] = Encoders.product[KmvBuf]
      def outputEncoder: Encoder[Seq[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    }

  /** `kmvAgg(k, kmvInput(col))` in a groupBy: one shuffle, ≤ k longs of
    * partial state, ascending `array<long>` sketch out. k ≥ 2 (the
    * estimator uses k-1 sampled values below the threshold). */
  def kmvAgg(k: Int, hashed: Column): Column = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    udaf(kmv(k)).apply(hashed)
  }

  /** Union of STORED sketches (array<long> rows) — for the persisted
    * per-batch form: re-merge any subset without rescanning data. */
  def unionSketchesAgg(k: Int, sketch: Column): Column = {
    val agg = new Aggregator[Seq[Long], KmvBuf, Seq[Long]] {
      def zero: KmvBuf = KmvBuf(Vector.empty)
      def reduce(buf: KmvBuf, in: Seq[Long]): KmvBuf =
        KmvBuf(mergeSorted(k, buf.items, if (in == null) Nil else in))
      def merge(a: KmvBuf, b: KmvBuf): KmvBuf =
        KmvBuf(mergeSorted(k, a.items, b.items))
      def finish(r: KmvBuf): Seq[Long] = r.items
      def bufferEncoder: Encoder[KmvBuf] = Encoders.product[KmvBuf]
      def outputEncoder: Encoder[Seq[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    }
    udaf(agg).apply(sketch)
  }

  /** Pairwise union as pure column arithmetic (two sketch COLUMNS on one
    * row): k smallest distinct of the concatenation. */
  def unionSketches(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  /** The sketch's sampling threshold: k-th smallest hash when full,
    * else the whole-space bound 2^60 (the sketch IS the exact set). */
  def theta(sketch: Column, k: Int): Column =
    when(size(sketch) < k, lit(1L << 60)).otherwise(element_at(sketch, k))

  /** Distinct-count estimate: exact size below k, else (k-1)·2^60/theta
    * — the classic bottom-k estimator (the k-th value is the threshold,
    * the k-1 below it are the sample). */
  def estimate(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(ThetaSpan) /
        element_at(sketch, k).cast("double"))

  /** Intersection-cardinality estimate of two sketches: common hashes
    * below min(theta_A, theta_B), scaled by the sampling rate. Exact
    * when both sketches are un-full. */
  def intersectEstimate(a: Column, b: Column, k: Int): Column = {
    val thetaMin = least(theta(a, k), theta(b, k))
    val common = size(filter(array_intersect(a, b), h => h < thetaMin))
    common.cast("double") * lit(ThetaSpan) / thetaMin.cast("double")
  }

  /** The common-below-threshold count itself (the integer the estimate
    * scales) — exposed so oracles can pin the exact intermediate. */
  def intersectCount(a: Column, b: Column, k: Int): Column = {
    val thetaMin = least(theta(a, k), theta(b, k))
    size(filter(array_intersect(a, b), h => h < thetaMin))
  }
}
