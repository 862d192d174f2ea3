package graft

import org.apache.spark.sql.functions._
import graft.operators.Windows
import graft.trajectory.{TrajectoryOps, Extrinsics, BehaviorGenerator}
class TrajectorySpec extends SparkSpec {
  import spark.implicits._

  test("unwrapAngle removes ±360 jumps, preserves first value and mod-360 class") {
    val yaws = Seq(170.0, 179.0, -179.0, -170.0, 179.0) // crosses ±180 twice
    val df = yaws.zipWithIndex.map { case (y, i) => ("s", i, y) }.toDF("seq", "i", "yaw")
    val out = Windows.unwrapAngle(df, Seq("seq"), Seq(col("i")), col("yaw"), "u")
      .orderBy("i").select("u").as[Double].collect()
    assert(out.head == 170.0)
    // successive deltas all within (-180, 180]
    out.sliding(2).foreach { case Array(a, b) =>
      assert(math.abs(b - a) <= 180.0, s"jump $a -> $b") }
    // unwrapped ≡ original mod 360
    out.zip(yaws).foreach { case (u, y) =>
      assert(math.abs((u - y) % 360.0) < 1e-9) }
  }

  test("yaw/pitch from points: known geometry, clamp, one-point sequence is null/null") {
    // (0,0,0) → (1,0,0) → (1,1,1): the first step is flat along x (yaw 0,
    // pitch 0); the second climbs 45° along y (yaw 90, pitch clamped to 30);
    // the last row reuses the previous pair's angles
    val df = Seq(("s", 0, 0.0, 0.0, 0.0), ("s", 1, 1.0, 0.0, 0.0), ("s", 2, 1.0, 1.0, 1.0),
        ("solo", 0, 5.0, 5.0, 5.0)).toDF("seq", "i", "x", "y", "z")
    val withYaw = TrajectoryOps.yawFromPoints(df, "seq", "i", col("x"), col("y"))
    val out = TrajectoryOps.pitchFromSlope(withYaw, "seq", "i", col("x"), col("y"), col("z"),
        minPitch = -30.0, maxPitch = 30.0)
      .orderBy("seq", "i").select("seq", "yaw", "pitch").collect()
      .map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2))))
    val expected = Seq(0.0 -> 0.0, 90.0 -> 30.0, 90.0 -> 30.0)
    out.take(3).zip(expected).foreach { case ((seq, (yaw, pitch)), (ey, ep)) =>
      assert(seq == "s")
      assert(math.abs(yaw.get.asInstanceOf[Double] - ey) < 1e-9, s"yaw $yaw vs $ey")
      assert(math.abs(pitch.get.asInstanceOf[Double] - ep) < 1e-9, s"pitch $pitch vs $ep")
    }
    assert(out(3) == ("solo" -> (None, None)))
  }

  test("rateClamp bounds every output delta and fixpoints smooth input") {
    val targets = Seq(0.0, 100.0, -50.0, 3.0, 4.0, 5.0)
    val df = targets.zipWithIndex.map { case (t, i) => ("s", i.toLong, t) }
      .toDF("seq", "idx", "target")
    val out = TrajectoryOps.rateClamp(df, "seq", "idx", "target", maxDelta = 10.0)
      .orderBy("idx").select("clamped").as[Double].collect()
    out.sliding(2).foreach { case Array(a, b) =>
      assert(math.abs(b - a) <= 10.0 + 1e-12) }
    assert(out.head == 0.0)
    // already-smooth input passes through unchanged
    val smooth = Seq(0.0, 5.0, 9.0, 12.0).zipWithIndex
      .map { case (t, i) => ("s", i.toLong, t) }.toDF("seq", "idx", "target")
    val so = TrajectoryOps.rateClamp(smooth, "seq", "idx", "target", 10.0)
      .orderBy("idx").select("clamped").as[Double].collect()
    assert(so.toSeq == Seq(0.0, 5.0, 9.0, 12.0))
  }

  test("rateClamp drops a null-index row instead of failing the task") {
    val df = Seq(("s", Some(0L), 0.0), ("s", None, 50.0), ("s", Some(1L), 100.0),
        ("s", Some(2L), 5.0)).toDF("seq", "idx", "target")
    val out = TrajectoryOps.rateClamp(df, "seq", "idx", "target", maxDelta = 10.0)
      .orderBy("idx").select("idx", "clamped").as[(Long, Double)].collect().toSeq
    assert(out == Seq((0L, 0.0), (1L, 10.0), (2L, 5.0)))
  }

  test("ewmaOrdered: hand recurrence, per-sequence reset, alpha=1 is identity") {
    val df = Seq(
      ("a", 1L, 8.0), ("a", 2L, 4.0), ("a", 3L, 4.0),
      ("b", 1L, 100.0)) // new sequence must re-seed, not blend from 'a'
      .toDF("u", "i", "v")
    val out = TrajectoryOps.ewmaOrdered(df, "u", Seq("i"), "v", alpha = 0.25)
      .orderBy("seq", "idx")
      .select("seq", "idx", "smoothed")
      .as[(String, Long, Double)].collect().toSeq
    // s1=8, s2=8+0.25(4-8)=7, s3=7+0.25(4-7)=6.25; b re-seeds at 100
    assert(out == Seq(("a", 1L, 8.0), ("a", 2L, 7.0), ("a", 3L, 6.25),
      ("b", 1L, 100.0)), out.toString)
    val id = TrajectoryOps.ewmaOrdered(df, "u", Seq("i"), "v", alpha = 1.0)
      .orderBy("seq", "idx").select("target", "smoothed")
      .as[(Double, Double)].collect()
    assert(id.forall { case (t, sm) => t == sm })
  }

  test("resampleByCount hits endpoints exactly and yields n points per seq") {
    // piecewise-linear value over arc length: value = 2*cum
    val pts = Seq(("s", 1, 10.0, 20.0), ("s", 2, 10.0, 40.0), ("s", 3, 20.0, 80.0))
      .toDF("seq", "i", "d", "v")
    val withCum = Windows.cumSum(pts, Seq("seq"), Seq(col("i")), col("d"), "cum_dist")
    val out = TrajectoryOps.resampleByCount(withCum, "seq", "v", n = 5)
      .orderBy("sample_idx").collect()
    assert(out.length == 5)
    assert(out.head.getAs[Double]("value") == 20.0)  // t=0 → first value
    assert(out.last.getAs[Double]("value") == 80.0)  // t=total → last value
    // interior points follow the linear interpolant value = 2*cum
    out.foreach { r =>
      val t = r.getAs[Double]("target_dist")
      if (t >= 10.0) assert(math.abs(r.getAs[Double]("value") - 2.0 * t) < 1e-9)
    }
  }

  test("cumArcLength accumulates 3-D segment lengths") {
    val df = Seq(("s", 0, 0.0, 0.0, 0.0), ("s", 1, 3.0, 4.0, 0.0), ("s", 2, 3.0, 4.0, 12.0))
      .toDF("seq", "f", "x", "y", "z")
    val out = TrajectoryOps.cumArcLength(df, "seq", "f", col("x"), col("y"), col("z"))
      .orderBy("f").select("cum_dist").as[Double].collect()
    assert(out.toSeq == Seq(0.0, 5.0, 17.0))
  }

  test("extrinsic rotation is orthonormal and E composes to identity with its inverse") {
    val rng = new scala.util.Random(7)
    for (_ <- 0 until 200) {
      val yaw = rng.nextDouble() * 360 - 180; val pitch = rng.nextDouble() * 178 - 89
      val roll = rng.nextDouble() * 360 - 180
      val x = rng.nextDouble() * 2e4 - 1e4; val y = rng.nextDouble() * 2e4 - 1e4
      val z = rng.nextDouble() * 2e4 - 1e4
        val m = Extrinsics.extrinsicMatrix(x, y, z, roll, pitch, yaw)
        // R^T rows are the first 3 columns triples; orthonormality:
        def row(i: Int) = Array(m(i * 4), m(i * 4 + 1), m(i * 4 + 2))
        for (i <- 0 until 3; j <- 0 until 3) {
          val dot = (0 until 3).map(k => row(i)(k) * row(j)(k)).sum
          assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9)
        }
        // E applied to camera position (in meters) lands at origin
        val (tx, ty, tz) = (x * 0.01, y * 0.01, z * 0.01)
        for (i <- 0 until 3) {
          val v = m(i * 4) * tx + m(i * 4 + 1) * ty + m(i * 4 + 2) * tz + m(i * 4 + 3)
          assert(math.abs(v) < 1e-6)
        }
    }
  }


  test("extrinsic golden: identity pose and pure-yaw world→camera mapping") {
    val id = Extrinsics.extrinsicMatrix(0, 0, 0, 0, 0, 0)
    assert(id.toSeq == Seq(1.0, 0.0, 0.0, -0.0, 0.0, 1.0, 0.0, -0.0,
      0.0, 0.0, 1.0, -0.0, 0.0, 0.0, 0.0, 1.0))
    // camera at x=1m (100cm), yaw=90°: world point (1,1,0)m should land at
    // camera coords E·(1,1,0,1)
    val e = Extrinsics.extrinsicMatrix(100, 0, 0, 0, 0, 90)
    def apply(m: Array[Double], p: Array[Double]): Array[Double] =
      Array.tabulate(3)(i => m(i * 4) * p(0) + m(i * 4 + 1) * p(1) + m(i * 4 + 2) * p(2) + m(i * 4 + 3))
    val out = apply(e, Array(1.0, 1.0, 0.0))
    // world (1,1,0) minus camera (1,0,0) = (0,1,0); Rᵀ of yaw-90 maps ŷ→x̂
    assert(out.zip(Array(1.0, 0.0, 0.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("behavior generator is deterministic and respects speed budget") {
    val cfg = BehaviorGenerator.Config(durationSeconds = 2.0, fps = 30)
    val a = BehaviorGenerator.generate("s", 42L, cfg)
    val b = BehaviorGenerator.generate("s", 42L, cfg)
    assert(a == b)                       // same seed → identical
    val c = BehaviorGenerator.generate("s", 43L, cfg)
    assert(a != c)                       // different seed → different path
    assert(a.length == 60)               // duration × fps frames
    assert(a.map(_.frame).toSeq == (0 until 60))
    // per-frame displacement ≤ speed/fps (+ε)
    val step = cfg.speedCmPerSec / cfg.fps
    a.sliding(2).foreach { case Seq(p, q) =>
      val d = math.sqrt(math.pow(q.x - p.x, 2) + math.pow(q.y - p.y, 2))
      assert(d <= step + 1e-9, s"frame ${q.frame} moved $d > $step")
    }
    // segments are contiguous, non-empty, start at 0
    val segs = a.map(_.segmentIdx).distinct
    assert(segs == (0 to segs.max))
  }

  test("generateAll emits one row per frame per job via flatMapGroups") {
    val jobs = Seq(("s1", 7L), ("s2", 8L)).toDF("sequence_id", "seed")
    val cfg = BehaviorGenerator.Config(durationSeconds = 1.0, fps = 10)
    val out = BehaviorGenerator.generateAll(jobs, cfg)
    assert(out.count() == 20)
    val segs = BehaviorGenerator.segments(out)
    assert(segs.filter(col("start_frame") > col("end_frame")).count() == 0)
  }
}
