package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Mergeable equi-width histogram sketch — the distribution analog of
  * [[Hll]]'s persisted register vectors. Write one `array<bigint>` of
  * bin counts per (source, ingest batch); any later subset unions by
  * element-wise SUM without rescanning the data — incremental quantile
  * estimates, drift dashboards, and admission-control thresholds over a
  * 100 TB corpus become arithmetic over kilobyte rows. Counts are exact
  * integers, addition is associative/commutative, so merge order and
  * batch boundaries wash out, and the merged histogram is bit-identical
  * to a direct recount (the property the oracle checks).
  *
  * Contrast with [[graft.llmops.TextStats.binnedQuantiles]]: that
  * computes quantiles from raw rows in one job; this persists the
  * intermediate so the NEXT job doesn't touch the rows at all. Fixed
  * `nBins` longs of state per group — constant, like HLL's m bytes.
  * The bin width must be exactly representable in binary (0.5, 0.625,
  * 0.25…) for the floor arithmetic to replay identically in any engine.
  */
object HistSketch {

  /** Clamped equi-width bin index over [lo, lo + nBins·width): pure
    * column arithmetic, identical floor in any IEEE engine. Out-of-range
    * values land in the edge bins (they still count — a drift signal). */
  def binIndex(value: Column, lo: Double, width: Double, nBins: Int): Column = {
    require(nBins >= 1 && width > 0)
    least(greatest(floor((value - lit(lo)) / lit(width)).cast("int"), lit(0)),
      lit(nBins - 1))
  }

  private final class HistAggregator(nBins: Int)
      extends Aggregator[Int, Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](nBins)
    def reduce(buf: Array[Long], in: Int): Array[Long] = { buf(in) += 1L; buf }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < nBins) { a(i) += b(i); i += 1 }
      a
    }
    def finish(r: Array[Long]): Array[Long] = r
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Element-wise sum of stored count vectors (`array<bigint>` columns).
    * Null sketches are ignored; a width mismatch fails loudly. */
  private final class HistMergeAggregator(nBins: Int)
      extends Aggregator[Seq[Long], Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](nBins)
    private def add(a: Array[Long], b: Seq[Long]): Array[Long] = {
      if (b != null) {
        require(b.length == nBins,
          s"sketch width ${b.length} != nBins=$nBins (bin-config mismatch)")
        var i = 0
        while (i < nBins) { a(i) += b(i); i += 1 }
      }
      a
    }
    def reduce(buf: Array[Long], in: Seq[Long]): Array[Long] = add(buf, in)
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < nBins) { a(i) += b(i); i += 1 }
      a
    }
    def finish(r: Array[Long]): Array[Long] = r
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** `histAgg(binIndex(col, lo, w, n), n)` in a groupBy: one shuffle,
    * n-long partial state, `array<bigint>` out. Input rows must be
    * non-null (filter upstream, as COUNT would). */
  def histAgg(binIdx: Column, nBins: Int): Column =
    udaf(new HistAggregator(nBins)).apply(binIdx)

  /** Register-wise union of stored sketches. */
  def mergeHistAgg(counts: Column, nBins: Int): Column =
    udaf(new HistMergeAggregator(nBins)).apply(counts)

  /** First bin whose cumulative count reaches `ceil(n·percent/100)` —
    * the binned quantile estimate from a stored sketch, as pure column
    * arithmetic. The ceil stays division-free (`cum ≥ ceil(a/100)` ⟺
    * `cum·100 ≥ a` for integers), so no engine's int/float division
    * semantics can leak in. O(nBins²) slice-sums — fine at sketch
    * widths. Returns the bin INDEX. */
  def quantileBin(counts: Column, percent: Int, nBins: Int): Column = {
    require(percent >= 1 && percent <= 100)
    val n = aggregate(counts, lit(0L), (a, x) => a + x)
    array_min(filter(
      transform(sequence(lit(1), lit(nBins)), i =>
        when(aggregate(slice(counts, lit(1), i), lit(0L), (a, x) => a + x)
          * 100L >= n * percent, i - 1)),
      x => x.isNotNull))
  }
}
