package graft

import org.apache.spark.sql.functions._
import graft.functions.{Hll, UrlFunctions}
import graft.llmops.Privacy
import graft.operators.RangeJoin

/** URL canonicalization, interval-overlap join, k-anonymity, HLL sketch
  * — edge cases the fixture-driven oracles can't reach (null/garbage
  * URLs, multi-cell-spanning overlaps, null quasi-identifiers,
  * partitioning invariance of the sketch). */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  test("canonicalizeUrl: case, www, default port, tracking params, param order, slash, fragment") {
    val in = Seq(
      "HTTPS://WWW.Example.COM:443/A/b/?z=1&utm_campaign=x&a=2#frag",
      "https://example.com/A/b?a=2&z=1",
      "http://example.com",
      "http://example.com/",
      "not a url",
      null
    ).toDF("url")
    val out = in.select(UrlFunctions.canonicalizeUrl(col("url"))).as[String].collect()
    // NOTE: path case is preserved (paths are case-sensitive on most servers)
    assert(out(0) == "https://example.com/A/b?a=2&z=1")
    assert(out(1) == "https://example.com/A/b?a=2&z=1")
    assert(out(2) == "http://example.com/")
    // the two most common spellings of a root resource MUST canonicalize
    // identically — the '/' path previously fell into the strip branch
    assert(out(3) == out(2))
    assert(out(4) == null)
    assert(out(5) == null)
  }

  test("registeredDomain ladder: plain, ccTLD second-level, bare host, single label") {
    val in = Seq("blogs.h3.co.uk", "a.b.example.com", "example.com", "localhost", "co.uk")
      .toDF("h")
    val out = in.select(UrlFunctions.registeredDomain(col("h"))).as[String].collect()
    assert(out.toSeq == Seq("h3.co.uk", "example.com", "example.com", "localhost", "co.uk"))
  }

  test("overlapJoin equals the naive theta join, including multi-cell spans") {
    val rnd = new scala.util.Random(7)
    val left = (1 to 300).map { i =>
      val lo = rnd.nextDouble() * 100; (i.toLong, lo, lo + rnd.nextDouble() * 12)
    }.toDF("lid", "llo", "lhi")
    val right = (1 to 300).map { i =>
      val lo = rnd.nextDouble() * 100; (i.toLong, lo, lo + rnd.nextDouble() * 12)
    }.toDF("rid", "rlo", "rhi")
    // cell width 3.0 << max span 12 → most pairs share several cells;
    // exactly-once emission is what's under test.
    val got = RangeJoin.overlapJoin(left, right, "llo", "lhi", "rlo", "rhi", cellWidth = 3.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val want = left.join(right, col("llo") <= col("rhi") && col("rlo") <= col("lhi"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(got.size == RangeJoin.overlapJoin(left, right, "llo", "lhi", "rlo", "rhi", 3.0).count())
  }

  test("kAnonymize: rare combinations suppressed, common kept, nulls group together") {
    val df = (Seq.fill(5)(("NY", Some(1))) ++ Seq(("LA", Some(2))) ++
        Seq.fill(3)(("SF", None: Option[Int])))
      .zipWithIndex.map { case ((c, a), i) => (i.toLong, c, a) }
      .toDF("id", "city", "age")
    val out = Privacy.kAnonymize(df, Seq("city", "age"), k = 3)
      .orderBy("id").select("city", "age").as[(String, String)].collect()
    assert(out.take(5).forall(_ == ("NY", "1")))      // group of 5 ≥ k
    assert(out(5) == ("*", "*"))                       // singleton suppressed
    assert(out.drop(6).forall(_ == ("SF", null)))      // null-age group of 3 kept as-is
    assert(Privacy.withGroupSize(df, Seq("city", "age")).filter(col("city") === "SF")
      .select("group_size").as[Long].head() == 3L)
  }

  test("Compaction: oversized files isolate, small files pack toward target") {
    import graft.catalog.Compaction
    val files = Seq(("d", "big", 2500L), ("d", "a", 400L), ("d", "b", 400L),
      ("d", "c", 300L), ("e", "solo", 10L)).toDF("dir", "file", "size")
    val bins = Compaction.assignBins(files, "dir", "file", "size", targetBytes = 1000L)
      .select("file", "bin").as[(String, Long)].collect().toMap
    // size-desc order: big(2500) spans [0,2500) → bin 0; a starts at 2500
    // → bin 2; b at 2900 → bin 2; c at 3300 → bin 3.
    assert(bins == Map("big" -> 0L, "a" -> 2L, "b" -> 2L, "c" -> 3L, "solo" -> 0L))
    val plan = Compaction.planBins(files, "dir", "file", "size", 1000L)
      .filter($"dir" === "d" && $"bin" === 2).select("n_files", "bytes")
      .as[(Long, Long)].head()
    assert(plan == ((2L, 800L)))
  }

  test("Profiler: nulls, exact distinct, min/max only for stable types") {
    import graft.catalog.Profiler
    val df = Seq((Some(1L), Some("a"), Some(1.5)), (None, Some("b"), None),
      (Some(1L), None, Some(2.5))).toDF("k", "s", "v")
    val rows = Profiler.profile(df, Seq("k", "s", "v"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows("k") == (("k", 3L, 1L, 1L, "1", "1")))
    assert(rows("s") == (("s", 3L, 1L, 2L, "a", "b")))
    assert(rows("v") == (("v", 3L, 1L, 2L, null, null))) // double: no min/max text
  }

  test("Regression.groupTrend recovers an exact line; degenerate groups are NULL") {
    import graft.functions.Regression
    // y = 2.5x + 1 exactly, plus a single-point group
    val df = ((1 to 10).map(i => (1L, i.toLong, 2.5 * i + 1.0)) :+ (2L, 1L, 7.0))
      .toDF("g", "ord", "y")
    val out = Regression.groupTrend(df, Seq("g"), "y", Seq("ord"))
      .as[(Long, Long, Option[Double], Option[Double])].collect().sortBy(_._1)
    assert(out(0) == ((1L, 10L, Some(2.5), Some(1.0))))
    assert(out(1) == ((2L, 1L, None, None)))
    // NULL y rows are excluded BEFORE ranking: interleaving nulls into the
    // exact line must not perturb the fit (previously n/Σx counted the
    // null rows the Σy/Σxy sums skipped — a silently wrong slope)
    val noisy = ((1 to 10).flatMap(i =>
      Seq((1L, 2L * i, Some(2.5 * i + 1.0)), (1L, 2L * i + 1, None)))).toDF("g", "ord", "y")
    val fit = Regression.groupTrend(noisy, Seq("g"), "y", Seq("ord"))
      .as[(Long, Long, Option[Double], Option[Double])].head()
    assert(fit == ((1L, 10L, Some(2.5), Some(1.0))))
  }

  test("CountMin: estimates dominate exact counts; merged batches equal the direct sketch") {
    import graft.functions.CountMin
    // skewed multiset across two batches: item frequencies 1..12, width
    // 8 << 12 distinct items forces collisions — the one-sided error is
    // exercised, not dodged
    val rows = for { i <- 1 to 12; _ <- 1 to i } yield (s"item$i", if (i % 2 == 0) "a" else "b")
    val df = rows.toDF("x", "b")
    val reg = CountMin.cmRegisters(df, col("x"), depth = 4, width = 8)
    val exact = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val est = CountMin.cmEstimates(reg, df, "x", depth = 4, width = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    // one-sided: never under, and the min-over-rows bound is tight
    // enough that at least one item reads exactly
    exact.foreach { case (k, v) => assert(est(k) >= v, s"$k: ${est(k)} < $v") }
    assert(exact.exists { case (k, v) => est(k) == v })
    // a never-seen item still answers (collision mass or 0), never fails
    val ghost = CountMin.cmEstimates(reg, Seq("ghost").toDF("x"), "x", 4, 8)
      .collect().head.getLong(1)
    assert(ghost >= 0L)
    // mergeability: register-wise SUM of per-batch sketches == the
    // directly-built global sketch, bit-for-bit
    val parts = CountMin.cmRegistersBy(df, col("b"), col("x"), depth = 4, width = 8)
    val merged = CountMin.cmMerge(parts.select("d", "w", "cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val direct = reg.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == direct)
  }

  test("HLL registers: merged per-source sketches equal the global sketch bit-for-bit") {
    import graft.functions.Hll
    val p = 8
    val df = spark.range(5000).select((col("id") % 7).as("src"),
      Hll.hllInput(col("id"), p).as("enc"))
    val global = df.agg(Hll.hllRegistersAgg(col("enc"), p).as("sk"))
      .select("sk").as[Array[Byte]].head()
    val merged = df.groupBy("src").agg(Hll.hllRegistersAgg(col("enc"), p).as("sk"))
      .agg(Hll.mergeRegistersAgg(col("sk"), p).as("sk"))
      .select("sk").as[Array[Byte]].head()
    assert(java.util.Arrays.equals(global, merged))
    // summarizeRegisters (pure-column decode) must agree with hllAgg
    val viaRegisters = df.agg(Hll.hllRegistersAgg(col("enc"), p).as("sk"))
      .select(Hll.summarizeRegisters(col("sk"), p).as("h"))
      .select(col("h.vEmpty"), col("h.zScaled")).as[(Int, Long)].head()
    val viaAgg = df.agg(Hll.hllAgg(col("enc"), p).as("h"))
      .select(col("h.vEmpty"), col("h.zScaled")).as[(Int, Long)].head()
    assert(viaRegisters == viaAgg)
  }

  test("Pareto frontier: strict dominance, ties kept out, representative is min id") {
    // points: (x=len, y=rich). (5,9) dominates (5,7) and (3,9); (8,4) survives
    // on x; (9,4) dominates (8,4) on equal y... no: equal y, higher x → (8,4)
    // is dominated ONLY if rich <= a larger-x point's rich. The operator keeps
    // strictly-greater-y going down in x.
    val docs = Seq(
      (1L, 9, "a b c d e f g h i"), (2L, 5, "a b c d e f g"),
      (3L, 5, "a b c d e f g"), (4L, 3, "a b c d e f g h"),
      (5L, 2, "a b")
    ).toDF("doc_id", "n_chars", "text")
    // rich = distinct tokens: doc1→9@x9, doc2/3→7@x5, doc4→8@x3, doc5→2@x2
    // frontier: x9/rich9; x5 rich7 < 9 dominated; x3 rich8 < 9 dominated.
    val pts = docs.select(col("doc_id"), col("n_chars"),
      size(array_distinct(split(col("text"), " "))).as("rich"))
    val front = graft.operators.Pareto
      .frontier(pts, "n_chars", "rich", "doc_id", repAs = "rep_doc")
      .as[(Int, Int, Long)].collect().toSet
    assert(front == Set((9, 9, 1L)))
    // equal-y, larger-x points survive only via strict dominance: add a
    // point (10, 9) — it joins the frontier and does NOT evict (9, 9)?
    // it DOES: y=9 is not strictly greater, so (9,9) is dominated-equal
    // and dropped; only strictly-better-y lower-x points survive.
    val pts2 = pts.unionByName(Seq((6L, 10, 9)).toDF("doc_id", "n_chars", "rich"))
    val front2 = graft.operators.Pareto
      .frontier(pts2, "n_chars", "rich", "doc_id", repAs = "rep_doc")
      .as[(Int, Int, Long)].collect().toSet
    assert(front2 == Set((10, 9, 6L)))
  }

  test("HistSketch: merged per-source sketches equal global recount bit-for-bit") {
    import graft.functions.HistSketch
    val nBins = 10
    val df = spark.range(1000).select((col("id") % 7).as("src"),
      (col("id") % 50).cast("double").as("v"))
    def bin = HistSketch.binIndex(col("v"), 0.0, 5.0, nBins)
    val global = df.agg(HistSketch.histAgg(bin, nBins).as("sk"))
      .select("sk").as[Array[Long]].head()
    val merged = df.select(col("src"), bin.as("b"))
      .groupBy("src").agg(HistSketch.histAgg(col("b"), nBins).as("sk"))
      .agg(HistSketch.mergeHistAgg(col("sk"), nBins).as("sk"))
      .select("sk").as[Array[Long]].head()
    assert(java.util.Arrays.equals(global, merged))
    assert(merged.sum == 1000L && merged.forall(_ == 100L))
  }

  test("HistSketch: quantile bins from a uniform sketch; clamping; width guard") {
    import graft.functions.HistSketch
    val df = spark.range(1000)
      .select((col("id") % 50).cast("double").as("v"))
    val sk = df.agg(HistSketch.histAgg(
        HistSketch.binIndex(col("v"), 0.0, 5.0, 10), 10).as("sk"))
    val q = sk.select(
        HistSketch.quantileBin(col("sk"), 50, 10),
        HistSketch.quantileBin(col("sk"), 90, 10),
        HistSketch.quantileBin(col("sk"), 99, 10),
        HistSketch.quantileBin(col("sk"), 100, 10))
      .as[(Int, Int, Int, Int)].head()
    assert(q == ((4, 8, 9, 9)))
    // out-of-range values clamp into edge bins
    val edges = Seq(-5.0, 999.0).toDF("v")
      .select(HistSketch.binIndex(col("v"), 0.0, 5.0, 10).as("b"))
      .as[Int].collect().sorted
    assert(edges.toSeq == Seq(0, 9))
    // mismatched sketch width fails loudly, not silently
    val bad = Seq(Array(1L, 2L)).toDF("sk")
    intercept[Exception] {
      bad.agg(HistSketch.mergeHistAgg(col("sk"), 10)).collect()
    }
  }

  test("HLL estimate within tolerance and invariant to partitioning") {
    val p = 8
    val n = 20000
    val df = spark.range(n).select(Hll.hllInput(col("id"), p).as("enc"))
    def summarize(d: org.apache.spark.sql.DataFrame) =
      d.agg(Hll.hllAgg(col("enc"), p).as("h"))
        .select(col("h.vEmpty"), col("h.zScaled")).as[(Int, Long)].head()
    val (v1, z1) = summarize(df.repartition(1))
    val (v8, z8) = summarize(df.repartition(8))
    assert((v1, z1) == (v8, z8), "sketch must not depend on partitioning")
    val est = Hll.alphaNumerator(p) / z1.toDouble
    // p=8 → relative stddev ≈ 1.04/sqrt(256) ≈ 6.5%; 4σ bound.
    assert(math.abs(est - n) / n < 0.26, s"estimate $est too far from $n")
    assert(v1 == 0, "20k values into 256 buckets leave no register empty")
  }

  test("KMV: registers are the sorted k-min distinct hashes, invariant to partitioning and dups") {
    import graft.functions.ThetaSketch
    val k = 64
    val n = 5000
    // every value twice — the sketch must dedup, and the result must be
    // exactly the k smallest of the n DISTINCT hashes
    val df = spark.range(2 * n).select((col("id") % n).as("v"))
      .select(ThetaSketch.kmvInput(col("v")).as("hv"))
    def sketch(d: org.apache.spark.sql.DataFrame) =
      d.agg(ThetaSketch.kmvAgg(k, col("hv"))).as[Seq[Long]].head()
    val s1 = sketch(df.repartition(1))
    val s8 = sketch(df.repartition(8))
    assert(s1 == s8, "sketch must not depend on partitioning")
    val want = df.distinct().as[Long].collect().sorted.take(k).toSeq
    assert(s1 == want, "registers must be the exact k smallest distinct hashes")
    assert(s1 == s1.sorted && s1.distinct.length == s1.length)
  }

  test("KMV: union of per-batch sketches equals the direct sketch; estimates track truth") {
    import graft.functions.ThetaSketch
    val k = 128
    val n = 30000
    val df = spark.range(n).select(col("id").as("v"),
      (col("id") % 7).as("batch"),
      ThetaSketch.kmvInput(col("id")).as("hv"))
    val direct = df.agg(ThetaSketch.kmvAgg(k, col("hv"))).as[Seq[Long]].head()
    val merged = df.groupBy("batch")
      .agg(ThetaSketch.kmvAgg(k, col("hv")).as("sk"))
      .agg(ThetaSketch.unionSketchesAgg(k, col("sk"))).as[Seq[Long]].head()
    assert(merged == direct, "merge-of-k-mins must equal k-mins-of-all")
    val est = df.agg(ThetaSketch.estimate(
      ThetaSketch.kmvAgg(k, col("hv")), k)).as[Double].head()
    // bottom-k relative stddev ≈ 1/sqrt(k-2) ≈ 8.9% at k=128; 4σ bound
    assert(math.abs(est - n) / n < 0.36, s"estimate $est too far from $n")
  }

  test("KMV: intersection is EXACT when sketches are un-full; estimate tracks a planted overlap") {
    import graft.functions.ThetaSketch
    val k = 256
    // A = [0, 60), B = [40, 100): both under k ⇒ theta = 2^60 ⇒ the
    // estimator degenerates to the exact |A∩B| = 20
    val a = spark.range(0, 60).agg(
      ThetaSketch.kmvAgg(k, ThetaSketch.kmvInput(col("id"))).as("sa"))
    val b = spark.range(40, 100).agg(
      ThetaSketch.kmvAgg(k, ThetaSketch.kmvInput(col("id"))).as("sb"))
    val exact = a.crossJoin(b).select(
      ThetaSketch.intersectCount(col("sa"), col("sb"), k).as("c"),
      ThetaSketch.intersectEstimate(col("sa"), col("sb"), k).as("e"))
      .as[(Int, Double)].head()
    assert(exact == ((20, 20.0)), s"un-full sketches must be exact: $exact")
    // full sketches: A = [0, 30k), B = [20k, 50k), true overlap 10k
    val bigA = spark.range(0, 30000).agg(
      ThetaSketch.kmvAgg(k, ThetaSketch.kmvInput(col("id"))).as("sa"))
    val bigB = spark.range(20000, 50000).agg(
      ThetaSketch.kmvAgg(k, ThetaSketch.kmvInput(col("id"))).as("sb"))
    val est = bigA.crossJoin(bigB).select(ThetaSketch.intersectEstimate(
      col("sa"), col("sb"), k)).as[Double].head()
    // sampled-overlap stddev ≈ sqrt(c)·2^60/thetaMin with c ≈ k·|A∩B|/|A∪B|
    // ≈ 51 samples → ~14% relative; 4σ bound
    assert(math.abs(est - 10000) / 10000 < 0.6, s"overlap estimate $est vs 10000")
    // sanity: disjoint full sets estimate ~0 (no common hashes below theta)
    val disjB = spark.range(100000, 130000).agg(
      ThetaSketch.kmvAgg(k, ThetaSketch.kmvInput(col("id"))).as("sb"))
    val zero = bigA.crossJoin(disjB).select(ThetaSketch.intersectEstimate(
      col("sa"), col("sb"), k)).as[Double].head()
    assert(zero == 0.0, s"disjoint sets must estimate 0, got $zero")
    // pairwise COLUMN union must equal the aggregated union of the same
    // two sets (one row each → merge-of-k-mins associativity again)
    val colUnion = bigA.crossJoin(bigB).select(ThetaSketch.unionSketches(
      col("sa"), col("sb"), k)).as[Seq[Long]].head()
    val aggUnion = spark.range(0, 50000).agg(ThetaSketch.kmvAgg(k,
      ThetaSketch.kmvInput(col("id")))).as[Seq[Long]].head()
    assert(colUnion == aggUnion, "column-form union must equal direct sketch")
  }

  test("rrfFuse: integer contributions, per-arm ranks, deterministic tie-break") {
    import graft.llmops.Similarity
    val lex = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("q", "id", "rank")
    val dense = Seq((1L, 11L, 1), (1L, 13L, 2))
      .toDF("q", "id", "rank")
    val got = Similarity.rrfFuse(Seq("lex" -> lex, "dense" -> dense),
        "q", "id", "rank", kRrf = 60, topK = 10)
      .orderBy("fused_rank")
      .select("id", "score_scaled", "rank_lex", "rank_dense", "fused_rank")
      .collect()
    def c(r: Int) = (1e12 / (60 + r)).toLong
    // 11 appears in both arms → highest fused score
    assert(got.map(_.getLong(0)).toSeq == Seq(11L, 10L, 13L, 12L))
    assert(got.head.getLong(1) == c(2) + c(1))
    assert(got.head.getInt(2) == 2 && got.head.getInt(3) == 1)
    // doc 10 (lex rank 1 only) vs doc 13 (dense rank 2 only): c(1) > c(2)
    assert(got(1).getLong(1) == c(1) && got(2).getLong(1) == c(2))
    assert(got(1).isNullAt(3) && got(2).isNullAt(2),
      "absent arm must surface as null rank")
    // exact tie: same single-arm rank in each arm → ascending id wins
    val t1 = Seq((1L, 5L, 1)).toDF("q", "id", "rank")
    val t2 = Seq((1L, 3L, 1)).toDF("q", "id", "rank")
    val tie = Similarity.rrfFuse(Seq("a" -> t1, "b" -> t2),
        "q", "id", "rank").orderBy("fused_rank")
      .select("id").as[Long].collect().toSeq
    assert(tie == Seq(3L, 5L), "equal scores must break on ascending id")
  }

  test("CMS join-size estimate: exact with a collision-free sketch, one-sided when squeezed") {
    import graft.functions.CountMin
    // A: keys 1,1,1,2,2,3   B: keys 1,2,2,4 → true join size 3·1+2·2+0+0 = 7
    val a = Seq(1L, 1L, 1L, 2L, 2L, 3L).toDF("k")
    val b = Seq(1L, 2L, 2L, 4L).toDF("k")
    def est(width: Int): Long = CountMin.cmJoinSizeEstimate(
        CountMin.cmRegisters(a, col("k"), depth = 4, width = width),
        CountMin.cmRegisters(b, col("k"), depth = 4, width = width))
      .as[Long].head()
    // width 4096 over 4 keys: P(any collision in all 4 rows) ≈ 0 → exact
    assert(est(4096) == 7L)
    // width 2 forces collisions: the estimate stays an UPPER bound
    assert(est(2) >= 7L)
  }
}
