package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Windows
import graft.trajectory.{Extrinsics, TrajectoryOps}

/** ScalaCheck-driven property tests for the sequential/geometry kernels
  * (SURVEY.md §5.2): the invariants hold for arbitrary generated inputs,
  * not just hand-picked examples. Generation is seeded (`Seed(n)`), so
  * runs are deterministic; each DataFrame property batches all generated
  * sequences into ONE job (the operators partition by sequence id), so
  * the suite costs a handful of Spark jobs, not one per sample.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def gen[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private def perSeq[T](rows: Array[T])(seqOf: T => String): Iterable[Array[T]] =
    rows.groupBy(seqOf).values

  // ---- W6 angle unwrap ---------------------------------------------------

  test("property: unwrapAngle deltas are in [-180,180], first value kept, class mod 360 kept") {
    val angles = Gen.chooseNum(2, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1080.0, 1080.0)))
    val rows = (1 to 30).flatMap { s =>
      gen(angles, s).zipWithIndex.map { case (a, i) => (s.toString, i, a) }
    }
    val out = Windows.unwrapAngle(rows.toDF("seq", "idx", "angle"),
        Seq("seq"), Seq(col("idx")), col("angle"), "unwrapped")
      .select("seq", "idx", "angle", "unwrapped").as[(String, Int, Double, Double)]
      .collect()
    assert(out.length == rows.length)
    perSeq(out)(_._1).foreach { g =>
      val s = g.sortBy(_._2)
      assert(s.head._4 == s.head._3, "first value must be preserved exactly")
      s.sliding(2).foreach {
        case Array(a, b) =>
          val d = b._4 - a._4
          assert(d >= -180.0 - 1e-9 && d <= 180.0 + 1e-9, s"delta $d out of range")
        case _ =>
      }
      s.foreach { case (_, _, in, un) =>
        val k = (un - in) / 360.0
        assert(math.abs(k - math.round(k).toDouble) < 1e-6,
          s"unwrapped $un not congruent to input $in mod 360")
      }
    }
  }

  // ---- W7 rate clamp -----------------------------------------------------

  test("property: rateClamp bounds output rate, keeps first value, matches reference scan") {
    val maxDelta = 25.0
    val targets = Gen.chooseNum(2, 50).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-500.0, 500.0)))
    val rows = (1 to 30).flatMap { s =>
      gen(targets, 100 + s).zipWithIndex.map { case (v, i) => (s.toString, i.toLong, v) }
    }
    val out = TrajectoryOps.rateClamp(rows.toDF("seq", "idx", "target"),
        "seq", "idx", "target", maxDelta)
      .as[(String, Long, Double, Double)].collect()
    assert(out.length == rows.length)
    perSeq(out)(_._1).foreach { g =>
      val s = g.sortBy(_._2)
      assert(s.head._4 == s.head._3, "first output = first target")
      s.sliding(2).foreach {
        case Array(a, b) =>
          assert(math.abs(b._4 - a._4) <= maxDelta + 1e-9, "rate bound violated")
        case _ =>
      }
      // exact agreement with the sequential reference recurrence
      var ref = s.head._3
      s.foreach { case (_, _, target, clamped) =>
        ref = ref + math.max(math.min(target - ref, maxDelta), -maxDelta)
        assert(clamped == ref, s"diverges from reference: $clamped vs $ref")
      }
    }
  }

  test("property: rateClamp is a fixpoint on already-smooth input") {
    val maxDelta = 10.0
    val deltas = Gen.chooseNum(2, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-maxDelta, maxDelta)))
    val rows = (1 to 20).flatMap { s =>
      val vals = gen(deltas, 200 + s).scanLeft(gen(Gen.chooseNum(-100.0, 100.0), s))(_ + _)
      vals.zipWithIndex.map { case (v, i) => (s.toString, i.toLong, v) }
    }
    val out = TrajectoryOps.rateClamp(rows.toDF("seq", "idx", "target"),
        "seq", "idx", "target", maxDelta)
      .as[(String, Long, Double, Double)].collect()
    out.foreach { case (_, _, target, clamped) =>
      assert(math.abs(clamped - target) <= 1e-9, "smooth input must pass through unchanged")
    }
  }

  // ---- W2 cumulative arc length -------------------------------------------

  test("property: cumArcLength is non-negative, non-decreasing, equals scalar prefix sum") {
    val pts = Gen.chooseNum(2, 30).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.chooseNum(-1e4, 1e4), Gen.chooseNum(-1e4, 1e4),
        Gen.chooseNum(-1e3, 1e3))))
    val rows = (1 to 25).flatMap { s =>
      gen(pts, 300 + s).zipWithIndex.map { case ((x, y, z), i) => (s.toString, i, x, y, z) }
    }
    val out = TrajectoryOps.cumArcLength(rows.toDF("seq", "idx", "x", "y", "z"),
        "seq", "idx", col("x"), col("y"), col("z"))
      .select("seq", "idx", "x", "y", "z", "seg_dist", "cum_dist")
      .as[(String, Int, Double, Double, Double, Double, Double)].collect()
    perSeq(out)(_._1).foreach { g =>
      val s = g.sortBy(_._2)
      assert(s.head._6 == 0.0, "first segment distance is 0")
      var ref = 0.0
      var prev: (Double, Double, Double) = null
      s.foreach { case (_, _, x, y, z, seg, cum) =>
        assert(seg >= 0.0)
        if (prev != null) {
          val d = math.sqrt(math.pow(x - prev._1, 2) + math.pow(y - prev._2, 2) +
            math.pow(z - prev._3, 2))
          assert(math.abs(seg - d) <= 1e-9 * math.max(1.0, d))
        }
        ref += seg
        assert(math.abs(cum - ref) <= 1e-6, "cum_dist = prefix sum of seg_dist")
        prev = (x, y, z)
      }
    }
  }

  // ---- W3 budget truncation ------------------------------------------------

  test("property: truncateAtBudget keeps exactly the within-budget prefix") {
    // values are multiples of 0.5 → binary-exact sums, no boundary ambiguity
    val vals = Gen.chooseNum(2, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1, 40).map(_ * 0.5)))
    val budget = 50.0
    val rows = (1 to 25).flatMap { s =>
      gen(vals, 400 + s).zipWithIndex.map { case (v, i) => (s.toString, i, v) }
    }
    val kept = Windows.truncateAtBudget(rows.toDF("seq", "idx", "v"),
        Seq("seq"), Seq(col("idx")), col("v"), budget)
      .select("seq", "idx").as[(String, Int)].collect().toSet
    rows.groupBy(_._1).foreach { case (seqId, g) =>
      var cum = 0.0
      g.sortBy(_._2).foreach { case (_, i, v) =>
        cum += v
        assert(kept.contains((seqId, i)) == (cum <= budget),
          s"row $i of $seqId: cum=$cum budget=$budget kept=${kept.contains((seqId, i))}")
      }
    }
  }

  // ---- W8 resample ----------------------------------------------------------

  test("property: resampleByCount yields n monotone samples with exact endpoints") {
    val n = 7
    val segs = Gen.chooseNum(2, 25).flatMap(m =>
      Gen.listOfN(m, Gen.zip(Gen.chooseNum(0.5, 50.0), Gen.chooseNum(-100.0, 100.0))))
    val rows = (1 to 20).flatMap { s =>
      val pts = gen(segs, 500 + s)
      val cums = pts.map(_._1).scanLeft(0.0)(_ + _).tail
      (0.0 +: cums.init).zip(pts.map(_._2)).map { case (c, v) => (s.toString, c, v) }
    }
    val out = TrajectoryOps.resampleByCount(
        rows.toDF("seq", "cum_dist", "value_in").withColumnRenamed("value_in", "v"),
        "seq", "v", n)
      .select("seq", "sample_idx", "target_dist", "value")
      .as[(String, Int, Double, Double)].collect()
    perSeq(out)(_._1).foreach { g =>
      val s = g.sortBy(_._2)
      assert(s.length == n, s"expected $n samples, got ${s.length}")
      s.sliding(2).foreach {
        case Array(a, b) => assert(b._3 >= a._3, "target distances monotone")
        case _ =>
      }
      val input = rows.filter(_._1 == s.head._1).sortBy(_._2)
      assert(s.head._4 == input.head._3, "first sample = first input value")
      assert(math.abs(s.last._4 - input.last._3) <= 1e-9, "last sample = last input value")
      val (lo, hi) = (input.map(_._3).min, input.map(_._3).max)
      s.foreach(r => assert(r._4 >= lo - 1e-9 && r._4 <= hi + 1e-9,
        "interpolation stays within input value envelope"))
    }
  }

  // ---- Extrinsic matrix (pure function, no Spark) ----------------------------

  test("property: extrinsic rotation block is orthonormal with det 1 and maps camera to origin") {
    val pose = Gen.zip(
      Gen.chooseNum(-1e5, 1e5), Gen.chooseNum(-1e5, 1e5), Gen.chooseNum(-1e4, 1e4),
      Gen.chooseNum(-180.0, 180.0), Gen.chooseNum(-89.0, 89.0), Gen.chooseNum(-180.0, 180.0))
    (1 to 200).foreach { s =>
      val (x, y, z, roll, pitch, yaw) = gen(pose, 600 + s)
      val m = Extrinsics.extrinsicMatrix(x, y, z, roll, pitch, yaw)
      def at(r: Int, c: Int) = m(r * 4 + c)
      // Rᵀ·(Rᵀ)ᵀ = I  (top-left 3×3 is Rᵀ)
      for (i <- 0 until 3; j <- 0 until 3) {
        val dot = (0 until 3).map(k => at(i, k) * at(j, k)).sum
        val expect = if (i == j) 1.0 else 0.0
        assert(math.abs(dot - expect) < 1e-9, s"orthonormality fails at ($i,$j): $dot")
      }
      val det =
        at(0, 0) * (at(1, 1) * at(2, 2) - at(1, 2) * at(2, 1)) -
        at(0, 1) * (at(1, 0) * at(2, 2) - at(1, 2) * at(2, 0)) +
        at(0, 2) * (at(1, 0) * at(2, 1) - at(1, 1) * at(2, 0))
      assert(math.abs(det - 1.0) < 1e-9, s"rotation determinant $det != 1")
      // view matrix sends the camera position (meters) to the origin
      val t = Seq(x, y, z).map(_ * Extrinsics.UeToMeters)
      (0 until 3).foreach { r =>
        val v = (0 until 3).map(c => at(r, c) * t(c)).sum + at(r, 3)
        assert(math.abs(v) < 1e-6, s"camera position does not map to origin (row $r: $v)")
      }
      assert(m(12) == 0.0 && m(13) == 0.0 && m(14) == 0.0 && m(15) == 1.0)
    }
  }

  // ---- text-pipeline scalar properties ------------------------------------

  test("property: PII redaction is idempotent and never leaks a matchable token") {
    import graft.llmops.TextStats
    val word = Gen.alphaNumStr.map(_.take(8))
    val pii = Gen.oneOf(
      Gen.const("bob@example.com"), Gen.const("555-123-4567"),
      Gen.const("10.0.0.1"), word)
    val text = Gen.chooseNum(1, 12)
      .flatMap(n => Gen.listOfN(n, pii)).map(_.mkString(" "))
    val rows = (1 to 60).map(s => (s.toLong, gen(text, s.toLong)))
    val once = rows.toDF("id", "text")
      .select(col("id"), TextStats.redactPii(col("text")).as("r1"))
      .withColumn("r2", TextStats.redactPii(col("r1")))
      .collect()
    once.foreach { r =>
      assert(r.getString(1) == r.getString(2), "redaction must be idempotent")
    }
  }

  test("property: top-run fraction is in (0,1] and 1 iff all elements equal") {
    import graft.llmops.TextStats
    val toks = Gen.chooseNum(2, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c"))).map(_.mkString(" "))
    val rows = (1 to 50).map(s => (s.toLong, gen(toks, s.toLong)))
    val out = rows.toDF("id", "text")
      .withColumn("_toks", TextStats.tokens(col("text")))
      .select(col("id"), col("text"),
        TextStats.topRunFraction(TextStats.sortedBigrams(col("_toks"))).as("f"))
      .collect()
    out.foreach { r =>
      val f = r.getDouble(2)
      assert(f > 0.0 && f <= 1.0, s"fraction $f out of range for '${r.getString(1)}'")
      val toks = r.getString(1).split(" ")
      val grams = toks.sliding(2).map(_.mkString(" ")).toSeq
      val expected = grams.groupBy(identity).values.map(_.size).max.toDouble / grams.size
      assert(math.abs(f - expected) < 1e-12,
        s"fraction $f != brute-force $expected for '${r.getString(1)}'")
    }
  }

  test("property: split buckets are in [0,100) and splits partition the id space") {
    import graft.llmops.TextStats
    val out = spark.range(500).toDF("id")
      .select(TextStats.splitBucket(col("id")).as("b"),
        TextStats.datasetSplit(col("id"), 80, 10).as("s"))
      .collect()
    out.foreach { r =>
      val (b, s) = (r.getLong(0), r.getString(1))
      assert(b >= 0 && b < 100)
      val expect = if (b < 80) "train" else if (b < 90) "val" else "test"
      assert(s == expect, s"bucket $b mapped to $s")
    }
  }

  test("property: stride==window chunking partitions each doc exactly") {
    import graft.llmops.TextStats
    val toks = Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd"))).map(_.mkString(" "))
    val rows = (1 to 40).map(s => (s.toLong, gen(toks, s.toLong)))
    val w = 7
    val out = TextStats.chunkWindows(rows.toDF("id", "text"), "id", "text",
        window = w, stride = w)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .groupBy(_._1)
    rows.foreach { case (id, text) =>
      val chunks = out(id).sortBy(_._2)
      // non-overlapping chunks reassemble the exact original text
      assert(chunks.map(_._4).mkString(" ") == text, s"doc $id reassembly")
      // every chunk except the last is full; sizes sum to the token count
      chunks.init.foreach { c => assert(c._3 == w, s"doc $id mid chunk short") }
      assert(chunks.map(_._3).sum == text.split(" ").length)
    }
  }

  test("property: z-order is dominance-monotone and bijective on the grid") {
    import org.apache.spark.sql.functions.col
    val bits = 8
    val coords = Gen.listOfN(2, Gen.chooseNum(0L, (1L << bits) - 1))
    val rows = (1 to 200).map { s =>
      val List(x, y) = gen(coords, s.toLong); (x, y)
    }.distinct
    val out = rows.toDF("x", "y")
      .withColumn("z", graft.operators.ZOrder.zValue(Seq(col("x"), col("y")), bits))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // componentwise dominance implies z dominance (locality: a query box's
    // z-range always contains its points) …
    for (((x1, y1), z1) <- out; ((x2, y2), z2) <- out
         if x1 <= x2 && y1 <= y2)
      assert(z1 <= z2, s"($x1,$y1)->$z1 vs ($x2,$y2)->$z2")
    // … and distinct points get distinct keys (interleave is a bijection)
    assert(out.values.toSeq.distinct.size == out.size)
  }

  test("property: interval coverage equals scalar merge incl. nesting and touching") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Windows
    val iv = Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n,
      for { s <- Gen.chooseNum(0L, 1000L); len <- Gen.chooseNum(0L, 200L) }
        yield (s, s + len)))
    val rows = (1 to 25).flatMap { g =>
      gen(iv, g.toLong).map { case (s, e) => (g.toLong, s, e) }
    }
    val out = Windows.intervalCoverage(rows.toDF("g", "s", "e"),
        Seq("g"), col("s"), col("e"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.groupBy(_._1).foreach { case (g, ivs) =>
      // scalar reference: sort, merge overlapping-or-touching, sum lengths
      val merged = ivs.map(t => (t._2, t._3)).sortBy(identity)
        .foldLeft(List.empty[(Long, Long)]) {
          case ((ms, me) :: rest, (s, e)) if s <= me =>
            (ms, math.max(me, e)) :: rest
          case (acc, (s, e)) => (s, e) :: acc
        }
      val (covered, islands) = (merged.map(i => i._2 - i._1).sum, merged.size)
      assert(out(g) == (covered, islands.toLong), s"group $g")
    }
  }

  test("property: radial simplify keeps first, bounds dropped drift, matches reference scan") {
    import graft.trajectory.TrajectoryOps
    val eps = 5.0
    val vals = Gen.chooseNum(2, 50).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-30.0, 30.0)))
    val rows = (1 to 25).flatMap { s =>
      gen(vals, s.toLong).zipWithIndex.map { case (v, i) => (s.toString, i.toLong, v) }
    }
    val out = TrajectoryOps.radialSimplify(
        rows.toDF("sid", "i", "v"), "sid", Seq("i"), "v", eps)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    perSeq(out)(_._1).foreach { seq =>
      val sorted = seq.sortBy(_._2)
      assert(sorted.head._4, "first sample must be kept")
      var lastKept = sorted.head._3
      sorted.tail.foreach { case (_, _, v, kept) =>
        if (kept) {
          assert(math.abs(v - lastKept) >= eps, "kept sample moved less than eps")
          lastKept = v
        } else
          assert(math.abs(v - lastKept) < eps, "dropped sample had drifted >= eps")
      }
    }
  }

  test("property: rolling min-hash equals the from-scratch window polynomial") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextExpressions
    // random ASCII strings incl. lengths straddling the window size
    val strGen = Gen.chooseNum(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(32, 126).map(_.toChar)).map(_.mkString))
    val rows = (1 to 120).map(s => (s.toLong, gen(strGen, s.toLong)))
    val out = rows.toDF("id", "text")
      .select(col("id"), TextExpressions.rollingMinHash(col("text"), 8, 31L).as("fp"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val pows = Array.iterate(1L, 8)(_ * 31L)
    rows.foreach { case (id, text) =>
      val b = text.getBytes("UTF-8")
      val expect =
        if (b.length < 8) None
        else Some((0 to b.length - 8).map(i =>
          (0 until 8).map(k => (b(i + k) & 0xffL) * pows(k)).sum).min)
      assert(out(id) == expect, s"id=$id text='$text'")
    }
  }

  test("jaro-winkler: reference values, conventions, codegen ≡ interpreted") {
    import graft.functions.{JaroWinklerKernel, TextExpressions}
    import org.apache.spark.unsafe.types.UTF8String
    def k(a: String, b: String) =
      JaroWinklerKernel.similarity(UTF8String.fromString(a), UTF8String.fromString(b))
    // the two textbook record-linkage cases (Winkler's census examples)
    assert(k("MARTHA", "MARHTA") == 0.9611111111111111, k("MARTHA", "MARHTA"))
    assert(k("DWAYNE", "DUANE") == 0.8400000000000001, k("DWAYNE", "DUANE"))
    // conventions pinned to the oracle engine: empty → 0 (even both
    // empty), equal → 1, zero matches → 0, sub-threshold gets NO prefix
    // bonus even with a shared prefix
    assert(k("", "") == 0.0 && k("abc", "") == 0.0)
    assert(k("abc", "abc") == 1.0)
    assert(k("abc", "xyz") == 0.0)
    val subThreshold = k("aXYZWVU", "aABCDEF") // shares 'a', j ≤ 0.7
    assert(subThreshold <= 0.7, subThreshold.toString)
    // symmetric
    assert(k("DWAYNE", "DUANE") == k("DUANE", "DWAYNE"))
    // whole-stage-codegen path produces the identical bits as the
    // interpreted kernel across random ASCII pairs
    val strGen = Gen.chooseNum(0, 14).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(97, 107).map(_.toChar)).map(_.mkString))
    val rows = (1 to 200).map(s => (s.toLong, gen(strGen, s.toLong), gen(strGen, s + 500L)))
    val viaDf = rows.toDF("id", "a", "b")
      .select(col("id"), TextExpressions.jaroWinkler(col("a"), col("b")).as("jw"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, a, b) =>
      assert(java.lang.Double.doubleToLongBits(viaDf(id)) ==
        java.lang.Double.doubleToLongBits(k(a, b)), s"id=$id '$a' '$b'")
    }
  }

  test("property: bloom prune never drops a true join key") {
    val keys = Gen.listOfN(300, Gen.chooseNum(0L, 10000L))
    for (seed <- 1 to 5) {
      val factKeys = gen(keys, seed.toLong)
      val dimKeys = gen(keys, seed + 100L).distinct.take(40)
      val fact = factKeys.toDF("k")
      val dim = dimKeys.toDF("dk")
      val kept = graft.operators.BloomPrune
        .semiReduce(fact, "k", dim, "dk", expectedItems = 64)
        .collect().map(_.getLong(0))
      // no false negatives: every fact row whose key IS in dim survives
      // (false positives are allowed; the join removes them)
      val truePositives = factKeys.filter(dimKeys.contains)
      assert(truePositives.diff(kept).isEmpty,
        s"seed $seed dropped true keys: ${truePositives.diff(kept).take(5)}")
    }
  }
}
