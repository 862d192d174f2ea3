package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min sketch: fixed-size frequency registers — the third member
  * of the mergeable-sketch family next to [[Hll]] (cardinality) and
  * [[HistSketch]] (distribution). The primitive for "how often does
  * item x occur" over a vocabulary too large to count exactly: a
  * depth×width counter grid answers point-frequency queries with
  * one-sided error (estimate ≥ truth, overshoot ≤ εN with probability
  * 1−δ for width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉ — Cormode & Muthukrishnan
  * 2005, public literature). Where [[graft.llmops.HeavyHitters]] finds
  * the heavy tail's MEMBERS, the CMS serves arbitrary point lookups
  * after the fact from O(depth·width) state.
  *
  * Scale shape: the register build is ONE shuffle of depth·width groups
  * regardless of item cardinality (the explode is depth rows per input
  * row, folded map-side by the partial count). Register tables from
  * different batches merge by register-wise SUM — counters are additive,
  * unlike HLL's max — so per-batch sketches can be persisted and any
  * subset's frequencies answered without rescanning (the
  * `q_cms_incremental` path).
  *
  * Determinism/oracle posture: row d's hash is the repo-wide replayable
  * md5 device ([[Hll]]) salted with d (`md5(d || ':' || item)`), so
  * every register — and therefore every estimate — is bit-replayable in
  * DuckDB. No engine-private hash anywhere.
  */
object CountMin {

  /** 60-bit replayable hash of `item` salted by sketch row `d`. */
  private def hash(item: Column, d: Column): Column =
    Md5Hash60(concat(d.cast("string"), lit(":"), item.cast("string")))

  /** Register column of `item` in sketch row `d`. */
  def bucket(item: Column, d: Column, width: Int): Column =
    pmod(hash(item, d), lit(width))

  private def withBuckets(df: DataFrame, item: Column, depth: Int,
      width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth in [1,16], got $depth")
    require(width >= 2, s"width >= 2, got $width")
    df.select(item.as("_item"), explode(lit((0 until depth).toArray)).as("d"))
      .select(col("d"), bucket(col("_item"), col("d"), width).as("w"))
  }

  /** The depth×width register table (d, w, cnt) of one batch: every
    * input row increments one register per sketch row. Missing (d, w)
    * combinations are zero registers (sparse representation — they
    * stay absent). */
  def cmRegisters(df: DataFrame, item: Column, depth: Int,
      width: Int): DataFrame =
    withBuckets(df, item, depth, width)
      .groupBy("d", "w").agg(count(lit(1)).as("cnt"))

  /** Per-batch register tables: (batch, d, w, cnt) keyed by `batchCol` —
    * the persistable incremental form. */
  def cmRegistersBy(df: DataFrame, batchCol: Column, item: Column,
      depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16 && width >= 2)
    df.select(batchCol.as("batch"), item.as("_item"),
        explode(lit((0 until depth).toArray)).as("d"))
      .select(col("batch"), col("d"),
        bucket(col("_item"), col("d"), width).as("w"))
      .groupBy("batch", "d", "w").agg(count(lit(1)).as("cnt"))
  }

  /** Register-wise merge of per-batch sketches (counters are ADDITIVE —
    * sum, where HLL merges by max). Merging every batch equals the
    * directly-built global sketch bit-for-bit. */
  def cmMerge(sketches: DataFrame): DataFrame =
    sketches.groupBy("d", "w").agg(sum("cnt").as("cnt"))

  /** Point-frequency estimates for `queryItems`: min over sketch rows of
    * the item's register (absent register = 0). One-sided: cm_count ≥
    * the item's true count, always. The register table is depth·width
    * rows — broadcast-sized by construction. */
  def cmEstimates(registers: DataFrame, queryItems: DataFrame,
      itemCol: String, depth: Int, width: Int): DataFrame =
    queryItems.select(col(itemCol).as("item")).distinct()
      .select(col("item"), explode(lit((0 until depth).toArray)).as("d"))
      .withColumn("w", bucket(col("item"), col("d"), width))
      .join(broadcast(registers), Seq("d", "w"), "left")
      .groupBy("item")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_count"))

  /** Equi-join SIZE estimate from two register tables built with the
    * same (depth, width): |A ⋈_k B| ≈ min over sketch rows d of
    * Σ_w a[d][w]·b[d][w] (the AMS/CMS inner-product estimator, Cormode &
    * Muthukrishnan 2005 §4.2). The planning signal a 100 TB pipeline
    * wants BEFORE committing to a join: true size = Σ_k f_A(k)·f_B(k)
    * is exactly the sketch inner product minus hash-collision
    * cross-terms, so the estimate is ONE-SIDED (≥ truth, overshoot
    * ≤ ε·N_A·N_B with the usual width=⌈e/ε⌉ guarantee) — a safe
    * upper bound for "will this join explode".
    *
    * Cost: the sketches are depth·width rows each; the estimate is a
    * register-keyed join of two broadcast-sized tables — O(1) in the
    * corpus after the one-shuffle register builds, vs actually running
    * the join. Integer-exact (register products summed as longs), so
    * the estimate bit-replays in any engine. */
  def cmJoinSizeEstimate(regA: DataFrame, regB: DataFrame): DataFrame =
    regA.select(col("d"), col("w"), col("cnt").as("_ca"))
      .join(regB.select(col("d"), col("w"), col("cnt").as("_cb")), Seq("d", "w"))
      .groupBy("d").agg(sum(col("_ca") * col("_cb")).as("_dot"))
      .agg(min("_dot").as("est_join_size"))
}
