package graft.trajectory

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded camera-trajectory generator — the data-plane re-expression of
  * the reference's behavior state machine (behavior_executor.py:638-857):
  * a weighted random walk over behavior types, each behavior emitting
  * frames with its own motion rule, plus labeled segments (E5/E6).
  *
  * Randomness is COUNTER-BASED, not sequential: every draw is addressed
  * by (seed, purpose, index) through a 60-bit md5 uniform —
  * u = md5("seed:tag")[0,15) as hex / 2⁶⁰ — the same engine-portable
  * device the sampling operators use ([[graft.llmops.TextStats]]).
  * Consequences, both load-bearing at scale:
  *   - draws don't depend on consumption ORDER, so the generator is
  *     trivially parallel and any engine can replay an individual frame
  *     without generating its predecessors' randomness;
  *   - every draw is expressible in ANSI SQL, so the whole state machine
  *     hash-verifies against a recursive-CTE oracle (the rate-clamp
  *     playbook) instead of hiding behind a JVM-RNG golden file.
  * The draw schedule: `yaw0` once, (`beh:k`, `len:k`, `roam:k`) per
  * segment k, `pitch:f` per frame f.
  *
  * Determinism contract for the oracle: the yaw/pitch/segment chains use
  * only +, −, ×, floor, min/max over exact inputs — bit-identical across
  * IEEE engines. Only x/y touch cos/sin (measured ≤1 ulp apart between
  * the JVM and DuckDB on ~0.2% of inputs), so any hash-compared consumer
  * of positions must aggregate-and-round (the path-length query rounds
  * to 3 decimals, absorbing the ~1e-12 accumulated drift).
  *
  * Kernel is a pure function `generate(seed, cfg)` (unit-testable,
  * deterministic); the Dataset wrapper is a flatMapGroups UDTF: one job
  * row → N frame rows. Jobs partition freely across executors — the
  * reference runs these serially per worker, Spark parallelizes for free
  * (SURVEY.md §4).
  */
object BehaviorGenerator {

  case class Config(
      durationSeconds: Double = 8.0,
      fps: Int = 30,
      speedCmPerSec: Double = 150.0,
      yawRateDegPerSec: Double = 30.0,
      behaviorWeights: Seq[(String, Double)] = Seq(
        "random_roam" -> 0.4, "translate_forward" -> 0.1,
        "translate_backward" -> 0.1, "translate_left" -> 0.05,
        "translate_right" -> 0.05, "idle" -> 0.05, "rotate" -> 0.25),
      minSegmentFrames: Int = 15,
      maxSegmentFrames: Int = 90,
      zOffsetCm: Double = 170.0)

  case class Sample(sequenceId: String, frame: Int, x: Double, y: Double,
      z: Double, yaw: Double, pitch: Double, behavior: String, segmentIdx: Int)

  private val Pow2_60: Double = 1152921504606846976.0 // 2^60, exact

  /** The addressed 60-bit md5 uniform in [0, 1): first 15 hex chars of
    * md5("seed:tag") as an integer over 2⁶⁰. long→double is one
    * correctly-rounded step and /2⁶⁰ is exact scaling, so the value is
    * bit-identical to `CAST(concat('0x', substring(md5(k),1,15)) AS
    * BIGINT) / CAST(2^60 AS DOUBLE)` in any IEEE SQL engine. */
  private[trajectory] def u(md: java.security.MessageDigest, seed: Long,
      tag: String): Double = {
    md.reset()
    val digest = md.digest(
      (seed.toString + ":" + tag).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    graft.functions.Md5Hash60.ofDigest(digest).toDouble / Pow2_60
  }

  /** Weighted choice via normalized cumulative weights over one uniform
    * (reference: behavior_executor.py:574-635). The fold order over
    * `weights` defines the thresholds — the oracle replays the identical
    * left-associated partial sums. */
  private def chooseBehavior(u: Double, weights: Seq[(String, Double)]): String = {
    val total = weights.map(_._2).sum
    val r = u * total
    var acc = 0.0
    for ((name, w) <- weights) {
      acc += w
      if (r < acc) return name
    }
    weights.last._1
  }

  /** Deterministic trajectory for (sequenceId, seed). */
  def generate(sequenceId: String, seed: Long, cfg: Config): Seq[Sample] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val nFrames = (cfg.durationSeconds * cfg.fps).toInt
    val dt = 1.0 / cfg.fps
    val step = cfg.speedCmPerSec * dt
    val yawStep = cfg.yawRateDegPerSec * dt
    val lenRange = cfg.maxSegmentFrames - cfg.minSegmentFrames + 1
    val out = Vector.newBuilder[Sample]
    var (x, y, z) = (0.0, 0.0, cfg.zOffsetCm)
    var yaw = u(md, seed, "yaw0") * 360.0 - 180.0
    var pitch = 0.0
    var frame = 0
    var segIdx = 0
    while (frame < nFrames) {
      val behavior = chooseBehavior(u(md, seed, s"beh:$segIdx"), cfg.behaviorWeights)
      val segLen = math.min(
        cfg.minSegmentFrames +
          math.floor(u(md, seed, s"len:$segIdx") * lenRange).toInt,
        nFrames - frame)
      // roam picks a fresh target heading once per segment, relative to
      // the yaw at segment entry
      val roamHeading = yaw + (u(md, seed, s"roam:$segIdx") * 180.0 - 90.0)
      var i = 0
      while (i < segLen) {
        behavior match {
          case "random_roam" =>
            val d = roamHeading - yaw
            val nd = d - 360.0 * math.floor((d + 180.0) / 360.0)
            yaw += math.max(math.min(nd, yawStep), -yawStep)
            x += step * math.cos(math.toRadians(yaw))
            y += step * math.sin(math.toRadians(yaw))
          case "translate_forward" =>
            x += step * math.cos(math.toRadians(yaw))
            y += step * math.sin(math.toRadians(yaw))
          case "translate_backward" =>
            x -= step * math.cos(math.toRadians(yaw))
            y -= step * math.sin(math.toRadians(yaw))
          case "translate_left" =>
            x += step * math.cos(math.toRadians(yaw + 90.0))
            y += step * math.sin(math.toRadians(yaw + 90.0))
          case "translate_right" =>
            x += step * math.cos(math.toRadians(yaw - 90.0))
            y += step * math.sin(math.toRadians(yaw - 90.0))
          case "rotate" =>
            yaw += yawStep
          case _ => // idle
        }
        pitch = math.max(-45.0,
          math.min(45.0, pitch + (u(md, seed, s"pitch:$frame") - 0.5)))
        out += Sample(sequenceId, frame, x, y, z, yaw, pitch, behavior, segIdx)
        frame += 1
        i += 1
      }
      segIdx += 1
    }
    out.result()
  }

  private val sampleSchema = StructType(Seq(
    StructField("sequence_id", StringType), StructField("frame", IntegerType),
    StructField("x", DoubleType), StructField("y", DoubleType),
    StructField("z", DoubleType), StructField("yaw", DoubleType),
    StructField("pitch", DoubleType), StructField("behavior", StringType),
    StructField("segment_idx", IntegerType)))

  /** UDTF wrapper: jobs(sequence_id, seed) → one row per frame.
    * Each job generates independently — shuffle on sequence_id, then
    * embarrassingly parallel. */
  def generateAll(jobs: DataFrame, cfg: Config = Config()): DataFrame = {
    val prepared = jobs.select(
      col("sequence_id").cast("string"), col("seed").cast("long"))
    implicit val enc = Encoders.row(sampleSchema)
    prepared.groupByKey(_.getString(0))(Encoders.STRING)
      .flatMapGroups { (_: String, rows: Iterator[Row]) =>
        rows.flatMap { r =>
          generate(r.getString(0), r.getLong(1), cfg).map(s =>
            Row(s.sequenceId, s.frame, s.x, s.y, s.z, s.yaw, s.pitch,
              s.behavior, s.segmentIdx))
        }
      }
  }

  /** E6 — behavior segments derived from the samples (labeled frame
    * intervals; reference: behavior_executor.py:804-810). */
  def segments(samples: DataFrame): DataFrame =
    samples.groupBy(col("sequence_id"), col("segment_idx"), col("behavior"))
      .agg(min("frame").as("start_frame"), max("frame").as("end_frame"))
}
