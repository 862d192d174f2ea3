package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.KeyedScan

/** CUSUM change-point detection over per-key metric series — the
  * sequential drift alarm next to the batch z-score outlier flag: a
  * z-score catches single spikes, CUSUM catches a small SUSTAINED shift
  * (a quality score drifting up 0.3/day never trips a per-point
  * threshold but accumulates immediately here).
  *
  * One-sided upper CUSUM with reset: s₀ = 0;
  * sᵢ = max(0, s_prev + (xᵢ − k)); alarm when sᵢ ≥ h; after an alarm
  * the accumulator restarts from 0 (the standard run-segmenting form —
  * each alarm is one detected change, not a saturated always-on flag).
  * `k` is the allowance (reference level + slack); `h` the decision
  * threshold.
  *
  * Like [[graft.trajectory.TrajectoryOps.rateClamp]], the output
  * depends on the previous OUTPUT, so no window expresses it; the batch
  * form runs on [[graft.operators.KeyedScan]] — O(1) state per series,
  * no group buffering, series count scales with partitions. Float
  * determinism: each step is the identical operation tree
  * `max(0, s + (x − k))` in both engines, so the doubles match
  * bit-for-bit (the q_rate_clamp discipline).
  */
object ChangePoint {

  case class MetricEvent(key: String, tsMillis: Long, seq: Long, value: Double)
  case class CusumState(s: Double, lastTs: Long, lastSeq: Long)
  case class CusumAlarm(key: String, tsMillis: Long, value: Double, s: Double)

  /** Streaming CUSUM: the same recurrence as [[cusum]] running live over
    * a metric stream via flatMapGroupsWithState — emits one row per
    * ALARM (append mode), carrying the accumulator across micro-batches
    * in O(1) state per key. Events carry a per-key sequence number
    * (event id) so equal TIMESTAMPS are not mistaken for replays: the
    * admit test and the within-batch sort are both lexicographic on
    * (tsMillis, seq), exactly the batch scan's (ts, event_id) order —
    * a bare ts guard would silently drop a legitimate second event in
    * the same millisecond and diverge from the batch form. Only an
    * event at-or-below the last applied (ts, seq) is treated as a
    * replay. Parity with the batch scan is asserted across arbitrary
    * micro-batch splits — including equal-ts events — in
    * StreamingSpec. */
  def cusumAlarmStream(events: org.apache.spark.sql.Dataset[MetricEvent],
      k: Double, h: Double): org.apache.spark.sql.Dataset[CusumAlarm] = {
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    implicit val aEnc = E.product[CusumAlarm]
    implicit val sEnc = E.product[CusumState]
    events.groupByKey(_.key)(E.STRING)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(advanceCusum(k, h))
  }

  private[graft] def advanceCusum(k: Double, h: Double)(
      key: String,
      events: Iterator[MetricEvent],
      state: org.apache.spark.sql.streaming.GroupState[CusumState])
      : Iterator[CusumAlarm] = {
    val prev = state.getOption.getOrElse(CusumState(0.0, Long.MinValue, Long.MinValue))
    var s = prev.s
    var lastTs = prev.lastTs
    var lastSeq = prev.lastSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[CusumAlarm]
    events.toSeq.sortBy(e => (e.tsMillis, e.seq)).foreach { e =>
      if (e.tsMillis > lastTs || (e.tsMillis == lastTs && e.seq > lastSeq)) {
        lastTs = e.tsMillis
        lastSeq = e.seq
        s = math.max(0.0, s + (e.value - k))
        if (s >= h) { out += CusumAlarm(key, e.tsMillis, e.value, s); s = 0.0 }
      }
    }
    state.update(CusumState(s, lastTs, lastSeq))
    out.iterator
  }

  /** (seq, idx, value, s, alarm) per input row; `idx` is the 1-based
    * position in the (orderCols)-sorted series. Null values or keys are
    * dropped (a null metric is upstream's data-quality problem;
    * documented, not silently zeroed). */
  def cusum(df: DataFrame, seqCol: String, orderCols: Seq[String],
      valueCol: String, k: Double, h: Double): DataFrame = {
    require(orderCols.nonEmpty && h > 0)
    val schema = StructType(Seq(
      StructField("seq", StringType), StructField("idx", LongType),
      StructField("value", DoubleType), StructField("s", DoubleType),
      StructField("alarm", BooleanType)))
    KeyedScan(df.filter(col(seqCol).isNotNull && col(valueCol).isNotNull),
        seqCol, orderCols.map(col), Seq(col(valueCol).cast("double")), schema) { () =>
      var s = 0.0
      (pos, r) => {
        val x = r.getDouble(1)
        s = math.max(0.0, s + (x - k))
        val alarm = s >= h
        val out = Row(r.getString(0), pos, x, s, alarm)
        if (alarm) s = 0.0
        out
      }
    }
  }
}
