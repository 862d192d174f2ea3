package graft.trajectory

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.KeyedScan

/** Trajectory window chain (SURVEY.md §2.5: W2-W8; reference:
  * sequence/worker_create.py, keyframe/transform_track.py,
  * navigation/nav_utils.py).
  *
  * Partitioning contract: every operator shuffles once on the sequence id
  * and processes each trajectory as an ordered group — one sequence ≈
  * a few thousand frames, so per-group state always fits in memory even
  * when the table holds millions of sequences (the 100 TB layout:
  * partition count scales with sequences, group size stays constant).
  */
object TrajectoryOps {

  /** Per-segment 3-D distance + running arc length (W2; reference:
    * nav_utils.py:239-242). Adds `seg_dist` and `cum_dist`. */
  def cumArcLength(df: DataFrame, seqCol: String, orderCol: String,
      x: Column, y: Column, z: Column): DataFrame = {
    val w = Window.partitionBy(seqCol).orderBy(orderCol)
    val dx = x - lag(x, 1).over(w)
    val dy = y - lag(y, 1).over(w)
    val dz = z - lag(z, 1).over(w)
    df.withColumn("seg_dist",
        coalesce(sqrt(dx * dx + dy * dy + dz * dz), lit(0.0)))
      .withColumn("cum_dist", sum(col("seg_dist")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** W4 — yaw from consecutive points: degrees(atan2(dy,dx)) of
    * (p[i], p[i+1]); last row reuses the previous pair's yaw
    * (reference: transform_track.py:10-24, worker_create.py:936-940). */
  def yawFromPoints(df: DataFrame, seqCol: String, orderCol: String,
      x: Column, y: Column): DataFrame = {
    val w = Window.partitionBy(seqCol).orderBy(orderCol)
    val yawNext = degrees(atan2(lead(y, 1).over(w) - y, lead(x, 1).over(w) - x))
    df.withColumn("yaw", coalesce(yawNext, lag(yawNext, 1).over(w)))
  }

  /** W5 — pitch from slope, clamped to [minPitch, maxPitch] (reference:
    * transform_track.py:27-53). Like [[yawFromPoints]], the last row
    * reuses the previous pair's pitch, and a one-point sequence has no
    * pair, so its pitch is NULL. Only a non-null pitch is clamped:
    * `greatest`/`least` skip nulls, so clamping a NULL would read the
    * bound. */
  def pitchFromSlope(df: DataFrame, seqCol: String, orderCol: String,
      x: Column, y: Column, z: Column, minPitch: Double, maxPitch: Double): DataFrame = {
    val w = Window.partitionBy(seqCol).orderBy(orderCol)
    val dx = lead(x, 1).over(w) - x
    val dy = lead(y, 1).over(w) - y
    val dz = lead(z, 1).over(w) - z
    val pitchNext = degrees(atan2(dz, sqrt(dx * dx + dy * dy)))
    df.withColumn("pitch", coalesce(pitchNext, lag(pitchNext, 1).over(w)))
      .withColumn("pitch", when(col("pitch").isNotNull,
        greatest(least(col("pitch"), lit(maxPitch)), lit(minPitch))))
  }

  /** W7 — rate-clamp recurrence: out(i) = out(i-1) + clamp(target(i) −
    * out(i-1), ±maxDelta). Depends on the previous *output*, so it is not
    * a window function; runs on [[graft.operators.KeyedScan]] — one
    * shuffle on the sequence id, a secondary sort by (seq, idx), one
    * O(1)-state streaming pass that spills through the shuffle sort
    * (reference: transform_track.py:215-262).
    *
    * Input columns: (seqCol: string-able, idxCol: long-able, targetCol:
    * double). Output: (seq, idx, target, clamped), idx = the input index.
    * Rows whose target is NULL or NaN, or whose index is NULL (or does
    * not cast to a long), are dropped before the scan: a NULL crashes the
    * typed scan, and a NaN target collides with the scan's fresh-sequence
    * sentinel.
    */
  def rateClamp(df: DataFrame, seqCol: String, idxCol: String,
      targetCol: String, maxDelta: Double): DataFrame = {
    val idx = col(idxCol).cast("long")
    KeyedScan(validTarget(df, targetCol).filter(idx.isNotNull), seqCol, Seq(idx),
        Seq(idx, col(targetCol).cast("double")), clampSchema) { () =>
      val step = clampStep(maxDelta)
      (_, r) => Row(r.getString(0), r.getLong(1), r.getDouble(2), step(r.getDouble(2)))
    }
  }

  /** [[rateClamp]] over rows ordered by arbitrary columns instead of a
    * precomputed index — saves callers the row_number window (and its
    * extra shuffle). Output idx is the 1-based position within the
    * sequence under `orderCols`. */
  def rateClampOrdered(df: DataFrame, seqCol: String, orderCols: Seq[String],
      targetCol: String, maxDelta: Double): DataFrame =
    KeyedScan(validTarget(df, targetCol), seqCol, orderCols.map(col),
        Seq(col(targetCol).cast("double")), clampSchema) { () =>
      val step = clampStep(maxDelta)
      (pos, r) => Row(r.getString(0), pos, r.getDouble(1), step(r.getDouble(1)))
    }

  private val clampSchema = StructType(Seq(
    StructField("seq", StringType), StructField("idx", LongType),
    StructField("target", DoubleType), StructField("clamped", DoubleType)))

  /** Drops NULL and NaN targets (see [[ewmaOrdered]] for why). */
  private def validTarget(df: DataFrame, targetCol: String): DataFrame =
    df.filter(col(targetCol).isNotNull && !isnan(col(targetCol).cast("double")))

  /** One sequence's clamp state: target → clamped output. */
  private def clampStep(maxDelta: Double): Double => Double = {
    var out = Double.NaN
    target => {
      out =
        if (out.isNaN) target
        else out + math.max(math.min(target - out, maxDelta), -maxDelta)
      out
    }
  }

  /** Exponentially-weighted moving average per sequence — the smoothing
    * half of the recurrence family ([[rateClampOrdered]] bounds steps,
    * this blends them): telemetry denoising, drift-tolerant rate
    * baselines, the "smoothed quality trend" a monitor alarms on.
    * s₁ = x₁, sₜ = sₜ₋₁ + α·(xₜ − sₜ₋₁) — evaluated in exactly that IEEE
    * association order so the DuckDB recursive-CTE oracle replays every
    * step bit-for-bit (pick α with a short binary expansion, e.g. 0.25,
    * to keep the literal itself trivially identical).
    *
    * Same [[graft.operators.KeyedScan]] as the clamp: O(1) state per
    * sequence, no per-group buffering at any trajectory length.
    * Output idx is the 1-based position under `orderCols`.
    *
    * NULL/NaN targets are DROPPED before indexing (idx counts surviving
    * rows), in both this operator and the oracle: a NULL would crash the
    * typed scan, and a NaN would collide with the scan's fresh-sequence
    * sentinel (reseeding the recurrence) while SQL's recursive form
    * propagates NaN forever — dropping is the one semantics both engines
    * state identically. */
  def ewmaOrdered(df: DataFrame, seqCol: String, orderCols: Seq[String],
      targetCol: String, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val schema = StructType(Seq(
      StructField("seq", StringType), StructField("idx", LongType),
      StructField("target", DoubleType), StructField("smoothed", DoubleType)))
    KeyedScan(validTarget(df, targetCol), seqCol, orderCols.map(col),
        Seq(col(targetCol).cast("double")), schema) { () =>
      var s = Double.NaN
      (pos, r) => {
        val x = r.getDouble(1)
        s = if (s.isNaN) x else s + alpha * (x - s)
        Row(r.getString(0), pos, x, s)
      }
    }
  }

  /** Radial-distance trajectory simplification: a sample is KEPT iff its
    * value moved at least `eps` (absolute) from the last KEPT sample; the
    * first sample per sequence is always kept. The standard streaming-
    * friendly decimation for trajectory storage (the recursive cousin of
    * the reference's fixed-count resample, nav_utils.py:233-271): dense
    * idle stretches collapse to their endpoints while motion is preserved
    * to ±eps. Output keeps EVERY row with a `kept` flag so the caller
    * chooses between filtering and auditing the reduction rate.
    *
    * Runs on [[graft.operators.KeyedScan]] like [[rateClamp]]: the state
    * is one double per sequence (the last kept value), not the clamped
    * accumulator — O(1) task state at any trajectory length.
    * Output idx is the 1-based position within the sequence under
    * `orderCols`.
    */
  def radialSimplify(df: DataFrame, seqCol: String, orderCols: Seq[String],
      valCol: String, eps: Double): DataFrame = {
    // NULL samples are dropped up front (same convention as
    // Funnel.deepestStage): Row.getDouble would silently read a null as
    // 0.0, diverging from SQL NULL propagation — a null position is a
    // missing sample, not a sample at the origin.
    val schema = StructType(Seq(
      StructField("seq", StringType), StructField("idx", LongType),
      StructField("value", DoubleType), StructField("kept", BooleanType)))
    KeyedScan(df.filter(col(seqCol).isNotNull && col(valCol).isNotNull),
        seqCol, orderCols.map(col), Seq(col(valCol).cast("double")), schema) { () =>
      var lastKept = Double.NaN
      (pos, r) => {
        val v = r.getDouble(1)
        val keep = lastKept.isNaN || math.abs(v - lastKept) >= eps
        if (keep) lastKept = v
        Row(r.getString(0), pos, v, keep)
      }
    }
  }

  /** W8 — arc-length-uniform resample to `n` points per sequence
    * (reference: nav_utils.py:233-271). Implemented as target generation
    * (`sequence` + `explode`) + a single ordered-window pass (union of
    * targets and source points, last/first ignoreNulls) + linear
    * interpolation — the as-of join form, one shuffle on the sequence id.
    *
    * Input: df with (seqCol, cum_dist ascending per seq, valCol).
    * Output: (seq, sample_idx, target_dist, value).
    */
  def resampleByCount(df: DataFrame, seqCol: String, valCol: String, n: Int): DataFrame = {
    val totals = df.groupBy(col(seqCol).as("seq"))
      .agg(max(col("cum_dist")).as("_total"))
    val targets = totals
      .withColumn("sample_idx", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("_t", col("sample_idx") * col("_total") / (n - 1).toDouble)
      .select(col("seq"), col("sample_idx"), col("_t"), lit(null).cast("double").as("_cum"),
        lit(null).cast("double").as("_v"), lit(1).as("_isq"))
    val points = df.select(col(seqCol).as("seq"),
        lit(null).cast("int").as("sample_idx"),
        col("cum_dist").as("_t"), col("cum_dist").as("_cum"),
        col(valCol).cast("double").as("_v"), lit(0).as("_isq"))
    val all = targets.unionByName(points)
    val ord = Seq(col("_t").asc, col("_isq").asc)
    val wPrev = Window.partitionBy("seq").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("seq").orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val annotated = all
      .withColumn("_pc", last(col("_cum"), ignoreNulls = true).over(wPrev))
      .withColumn("_pv", last(col("_v"), ignoreNulls = true).over(wPrev))
      .withColumn("_nc", first(col("_cum"), ignoreNulls = true).over(wNext))
      .withColumn("_nv", first(col("_v"), ignoreNulls = true).over(wNext))
      .filter(col("_isq") === 1)
    annotated.withColumn("value",
        when(col("_pc").isNull, col("_nv"))
          .when(col("_nc").isNull, col("_pv"))
          .when(col("_nc") === col("_pc"), col("_pv"))
          .otherwise(col("_pv") +
            (col("_nv") - col("_pv")) * (col("_t") - col("_pc")) / (col("_nc") - col("_pc"))))
      .select(col("seq"), col("sample_idx"), col("_t").as("target_dist"), col("value"))
  }
}
