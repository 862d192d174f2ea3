package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The keyed sorted scan behind every per-sequence recurrence whose output
  * depends on the previous OUTPUT, so no window function expresses it
  * (the W7 yaw rate clamp, reference: transform_track.py:215-262, and the
  * scans modelled on it: EWMA, radial simplification, CUSUM, greedy
  * next-fit packing).
  *
  * One shuffle on the key, a secondary sort by (key, order) within
  * partitions, then a single streaming pass per partition. Unlike
  * groupByKey.flatMapGroups this never buffers a group: task memory is
  * O(1) in sequence length, and the sort rides the shuffle's spill
  * machinery, so the scan survives any trajectory or shard length.
  * Callers drop their own null/NaN rows before the scan.
  */
private[graft] object KeyedScan {

  /** A per-key step: (1-based position within the key, projected row) →
    * output row. State lives in the closure; one stepper per key. */
  type Stepper = (Long, Row) => Row

  /** Scan `df` by `keyCol` in `order` order. Each step sees the row
    * `(key cast to string) +: projected`; `newStepper` is called once at
    * every key boundary and its stepper must emit rows of `schema`. */
  def apply(df: DataFrame, keyCol: String, order: Seq[Column],
      projected: Seq[Column], schema: StructType)(
      newStepper: () => Stepper): DataFrame = {
    implicit val enc = Encoders.row(schema)
    df.repartition(col(keyCol))
      .sortWithinPartitions((col(keyCol) +: order): _*)
      .select((col(keyCol).cast("string") +: projected): _*)
      .mapPartitions { rows =>
        var cur: String = null
        var step: Stepper = null
        var pos = 0L
        rows.map { r =>
          val key = r.getString(0)
          if (step == null || key != cur) { cur = key; step = newStepper(); pos = 0L }
          pos += 1
          step(pos, r)
        }
      }
  }
}
