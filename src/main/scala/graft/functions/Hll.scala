package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** HyperLogLog cardinality sketch as a single-shuffle typed Aggregator —
  * the distinct-count primitive for 100 TB profiling (distinct users per
  * segment, distinct URLs per domain) where exact `COUNT(DISTINCT)` needs
  * a corpus-wide dedup shuffle and a sketch needs `m` bytes per group.
  *
  * Differences from `approx_count_distinct` (Spark's built-in HLL++), and
  * why this exists alongside it:
  *   - the hash is md5-derived (not an engine-private hash), so every
  *     register — and therefore the whole sketch and its estimate — is
  *     bit-replayable in any other SQL engine. Sketches computed by
  *     different systems can be unioned; the estimate is auditable.
  *   - the register state is exposed ([[HllSummary]]), not just the final
  *     scalar, so sketches can be persisted and merged incrementally
  *     (register-wise max) across ingest batches.
  *
  * Determinism contract (what makes the estimate hash-comparable):
  *   - 60-bit hash `h` = [[Md5Hash60]] of the value's string form.
  *   - bucket = h mod m (m = 2^p); rest = h >> p  (w = 60-p bits).
  *   - rho = (w+1) - bitlength(rest), i.e. leading-zero count + 1;
  *     rest = 0 → w+1.
  *   - Z is kept as the INTEGER `Σ 2^(wMax - register)` (empty register
  *     → 2^wMax), so partial sums are order-independent — no float
  *     accumulation anywhere. The estimate is ONE double division of two
  *     exactly-represented values: `alpha·m²·2^wMax / z`.
  */
object Hll {

  /** `vEmpty` = registers never touched; `zScaled` = Σ 2^(wMax−reg). */
  case class HllSummary(vEmpty: Int, zScaled: Long)

  /** Bits of hash left after bucketing, +1 — the max rho and the shared
    * scale exponent of `zScaled`. */
  def wMax(p: Int): Int = 61 - p

  /** `alpha_m · m² · 2^wMax` — the numerator of the raw estimate. Emit
    * `Double.toString` of this into oracle SQL so both engines divide the
    * identical IEEE value. */
  def alphaNumerator(p: Int): Double = {
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    alpha * m * m * math.pow(2.0, wMax(p))
  }

  /** Map-side encode of one value into `bucket·64 + rho` (rho ≤ 57 < 64
    * for p ≥ 4). Pure column arithmetic — stays in codegen. */
  def hllInput(value: Column, p: Int): Column = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val h = Md5Hash60(value.cast("string"))
    val bucket = pmod(h, lit(1 << p))
    val rest = shiftright(h, p)
    val rho = when(rest === 0, lit(wMax(p)))
      .otherwise(lit(wMax(p)) - length(bin(rest)))
    (bucket * 64 + rho).cast("int")
  }

  /** Input contract: the encoded column is non-null ([[hllInput]] of a
    * non-null value — filter nulls upstream, as SQL COUNT(DISTINCT)
    * would). A null would surface as encoded 0 = (bucket 0, rho 0),
    * which is a no-op on the register but still counts the row into
    * nothing — filtering keeps Spark and the SQL replay identical. */
  private final class HllAggregator(p: Int)
      extends Aggregator[Int, Array[Byte], HllSummary] {
    private val m = 1 << p
    private val w = wMax(p)
    def zero: Array[Byte] = new Array[Byte](m)
    def reduce(buf: Array[Byte], in: Int): Array[Byte] = {
      val b = in >>> 6
      val r = (in & 63).toByte
      if (r > buf(b)) buf(b) = r
      buf
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }
    def finish(r: Array[Byte]): HllSummary = {
      var v = 0; var z = 0L; var i = 0
      while (i < m) {
        if (r(i) == 0) v += 1
        z += 1L << (w - r(i))
        i += 1
      }
      HllSummary(v, z)
    }
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[HllSummary] = Encoders.product[HllSummary]
  }

  /** `hllAgg(hllInput(col, p), p)` in a groupBy: one shuffle, m-byte
    * partial state, struct(vEmpty, zScaled) out. */
  def hllAgg(encoded: Column, p: Int): Column =
    udaf(new HllAggregator(p)).apply(encoded)

  /** Register-vector form of [[hllAgg]]: the raw m-byte register array,
    * for PERSISTED sketches — write one row per (source, batch), then
    * [[mergeRegistersAgg]] unions any subset later without rescanning
    * the data. max-per-register is associative/commutative/idempotent,
    * so merge order, batch boundaries, and re-delivery all wash out. */
  private final class HllRegisterAggregator(p: Int)
      extends Aggregator[Int, Array[Byte], Array[Byte]] {
    private val m = 1 << p
    def zero: Array[Byte] = new Array[Byte](m)
    def reduce(buf: Array[Byte], in: Int): Array[Byte] = {
      val b = in >>> 6
      val r = (in & 63).toByte
      if (r > buf(b)) buf(b) = r
      buf
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Register-wise union of stored sketches (binary m-byte columns). */
  private final class HllMergeAggregator(p: Int)
      extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    private val m = 1 << p
    def zero: Array[Byte] = new Array[Byte](m)
    private def mergeInto(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      if (b != null) {
        require(b.length == m, s"sketch width ${b.length} != m=$m (p mismatch)")
        var i = 0
        while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      }
      a
    }
    def reduce(buf: Array[Byte], in: Array[Byte]): Array[Byte] = mergeInto(buf, in)
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = mergeInto(a, b)
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  def hllRegistersAgg(encoded: Column, p: Int): Column =
    udaf(new HllRegisterAggregator(p)).apply(encoded)

  def mergeRegistersAgg(registers: Column, p: Int): Column =
    udaf(new HllMergeAggregator(p)).apply(registers)

  /** [[HllSummary]] fields from a stored register vector, as pure column
    * arithmetic over the byte array (no UDF): vEmpty and the exact
    * integer zScaled, ready for [[rawEstimate]]. */
  def summarizeRegisters(registers: Column, p: Int): Column = {
    val m = 1 << p
    val w = wMax(p)
    // element_at on binary is unsupported — go through an int array once.
    val regs = transform(sequence(lit(1), lit(m)), i => registerAt(registers, i))
    struct(
      aggregate(regs, lit(0),
        (acc, r) => acc + when(r === 0, 1).otherwise(0)).as("vEmpty"),
      aggregate(regs, lit(0L),
        (acc, r) => acc + call_function("shiftleft", lit(1L), lit(w) - r))
        .as("zScaled"))
  }

  /** Register i (1-based) of a stored sketch as an int: substr on the
    * binary column yields the 1-byte slice, hex→conv decodes it — no
    * UDF, stays in codegen. */
  private def registerAt(bin: Column, i: Column): Column =
    conv(hex(bin.substr(i, lit(1))), 16, 10).cast("int")

  /** Raw HLL estimate from the summary struct fields (one exact double
    * division; no small-range correction — callers needing it can branch
    * on vEmpty, it is exposed for exactly that). */
  def rawEstimate(zScaled: Column, p: Int): Column =
    lit(alphaNumerator(p)) / zScaled.cast("double")
}
