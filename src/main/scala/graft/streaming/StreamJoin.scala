package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermarked stream-stream interval join — the "attribution" shape:
  * match each conversion event (purchase) to the impression events
  * (views) of the same key that happened within a bounded lookback
  * window before it.
  *
  * Why this needs first-class treatment in a streaming engine: an
  * unconstrained stream-stream join must buffer BOTH streams forever
  * (any future row might match any past row). Bounding the join with
  * (a) watermarks on both event-time columns and (b) a time-range
  * predicate in the join condition lets Spark derive a state watermark
  * per side and EVICT buffered rows once they can no longer match —
  * state is O(key-arrival-rate × (lookback + watermark delay)), not
  * O(stream length). Both bounds are load-bearing: drop either and the
  * query either refuses to run in append mode or buffers unboundedly.
  *
  * The same function runs UNCHANGED on static DataFrames
  * (`withWatermark` is a documented no-op in batch), which is what makes
  * the operator oracle-able: `q_attribution_join` runs this exact code
  * batch-side against a DuckDB interval join, and StreamingSpec proves
  * the streamed execution produces the identical row set across
  * micro-batch splits.
  *
  * At 100 TB-scale ingest: the join state is hash-partitioned by key
  * (`user_id`), so it distributes; the RocksDB backend
  * ([[StateBackends.rocksDb]]) moves per-executor state off-heap when the
  * lookback×rate product is large. Reference anchor: the monitor's
  * event-correlation needs (SURVEY §2.9) — completion events matched to
  * their submission within a bounded horizon.
  */
object StreamJoin {

  /** Impressions (left) joined to conversions (right) of the same
    * `keyCol` with `impTs ∈ [convTs − lookback, convTs]`. Column names of
    * the two inputs must be disjoint apart from `keyCol` (rename before
    * calling, as the fixture queries do). `lookback` / `delay` are SQL
    * interval strings, e.g. "2 hours", "10 minutes".
    */
  def attributionJoin(impressions: DataFrame, conversions: DataFrame,
      keyCol: String, impTsCol: String, convTsCol: String,
      lookback: String, delay: String): DataFrame = {
    require(impTsCol != convTsCol,
      s"impression and conversion ts columns must differ, both are '$impTsCol'")
    val overlap = impressions.columns.toSet
      .intersect(conversions.columns.toSet) - keyCol
    require(overlap.isEmpty,
      s"non-key columns present on both sides: ${overlap.mkString(", ")}")
    val imp = impressions.withWatermark(impTsCol, delay)
    val conv = conversions.withWatermark(convTsCol, delay)
      .withColumnRenamed(keyCol, "_conv_key")
    imp.join(conv,
        col(keyCol) === col("_conv_key") &&
        col(impTsCol) <= col(convTsCol) &&
        col(impTsCol) >= col(convTsCol) - expr(s"INTERVAL $lookback"))
      .drop("_conv_key")
  }

  /** Conversions that had NO impression within the lookback window
    * ("unattributed purchases"). Stream-stream joins do NOT support
    * left_anti (Spark's streaming join matrix: inner/outer/semi only), so
    * this is the streaming-safe equivalent: watermarked LEFT OUTER join +
    * null filter on the build side's key. An outer row is emitted only
    * once the watermark proves no matching impression can still arrive —
    * exactly the anti-join semantics, with bounded state. In batch the
    * same plan degenerates to a plain outer join and the null filter
    * makes it NOT EXISTS (the oracle's form). Output schema = the
    * conversion side's columns.
    */
  def unattributed(conversions: DataFrame, impressions: DataFrame,
      keyCol: String, convTsCol: String, impTsCol: String,
      lookback: String, delay: String): DataFrame = {
    val conv = conversions.withWatermark(convTsCol, delay)
    val imp = impressions.withWatermark(impTsCol, delay)
      .withColumnRenamed(keyCol, "_imp_key")
    conv.join(imp,
        col(keyCol) === col("_imp_key") &&
        col(impTsCol) <= col(convTsCol) &&
        col(impTsCol) >= col(convTsCol) - expr(s"INTERVAL $lookback"),
        "left_outer")
      .filter(col("_imp_key").isNull)
      .select(conversions.columns.map(col).toIndexedSeq: _*)
  }

  /** Row types for the streaming parity specs and MemoryStream callers. */
  case class Impression(user_id: Long, imp_id: Long, imp_ts: java.sql.Timestamp)
  case class Conversion(user_id: Long, conv_id: Long, conv_ts: java.sql.Timestamp)

  /** Event-log convenience: split one event table/stream by type and
    * attribute `convType` to `impType` on `keyCol`. Output: one row per
    * (impression, conversion) pair with both ids and timestamps.
    */
  def attributeEvents(events: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, idCol: String, impType: String, convType: String,
      lookback: String, delay: String): DataFrame = {
    def side(t: String, prefix: String): DataFrame = events
      .filter(col(typeCol) === t)
      .select(col(keyCol), col(idCol).as(s"${prefix}_id"),
        col(tsCol).as(s"${prefix}_ts"))
    attributionJoin(side(impType, "imp"), side(convType, "conv"),
      keyCol, "imp_ts", "conv_ts", lookback, delay)
  }
}
