package graft

import org.apache.spark.sql.functions._
import graft.llmops.{Dedup, HeavyHitters, Pipelines, Similarity, TextStats}

class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  test("BM25: more query terms beats one; longer doc penalized at equal tf") {
    import graft.llmops.SparseSim
    val filler = (1 to 30).map(i => s"f$i").mkString(" ")
    val corpus = Seq(
      (1L, "apple banana x"),           // both terms, short
      (2L, "apple y z"),                // one term only
      (3L, s"apple banana $filler"))    // both terms, 11x longer
      .toDF("doc_id", "text")
    val q = Seq((100L, "apple banana")).toDF("doc_id", "text")
    val out = SparseSim.bm25Retrieve(q, "doc_id", "text",
        corpus, "doc_id", "text", k = 3, maxDf = 100L)
      .select("id", "rank").as[(Long, Int)].collect().toMap
    assert(out.map(_.swap) == Map(1 -> 1L, 2 -> 3L, 3 -> 2L))
  }

  test("BM25 index: delta-merge ≡ full rebuild; merged df crosses maxDf; parquet round-trip") {
    import graft.llmops.SparseSim
    // 'apple' has df=3 in the base (≤ maxDf=3) but df=4 after the delta
    // merges in — the query-time cap must prune it POST-merge, which a
    // build-time-baked cap would miss
    val base = Seq((10L, "apple banana cherry"), (11L, "apple dog emu"),
      (12L, "apple fox banana")).toDF("doc_id", "text")
    val delta = Seq((13L, "apple iris jay"), (14L, "banana kiwi lime"))
      .toDF("doc_id", "text")
    val q = Seq((0L, "apple banana fox")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "score_scaled", "n_terms", "rank")
        .as[(Long, Long, Long, Long, Int)].collect().toSet
    val full = rows(SparseSim.bm25Retrieve(q, "doc_id", "text",
      base.unionAll(delta), "doc_id", "text", k = 10, maxDf = 3L))
    val merged = SparseSim.mergeIndex(
      SparseSim.buildIndex(base, "doc_id", "text"),
      SparseSim.buildIndex(delta, "doc_id", "text"))
    val inc = rows(SparseSim.queryIndex(merged, q, "doc_id", "text",
      k = 10, maxDf = 3L))
    assert(inc == full && inc.nonEmpty)
    // apple (merged df=4 > 3) contributes nowhere: doc 13 matches the
    // query through apple alone, so it must be absent entirely
    assert(!inc.exists(_._2 == 13L))
    // registry round-trip through parquet preserves exact scores
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    SparseSim.writeIndex(merged, dir)
    val reread = rows(SparseSim.queryIndex(SparseSim.readSegments(spark, Seq(dir)),
      q, "doc_id", "text", k = 10, maxDf = 3L))
    assert(reread == full)
    // segmented registry: base and delta written as SEPARATE segments
    // (the O(batch) ingest path), re-merged at open time
    val segBase = java.nio.file.Files.createTempDirectory("bm25seg0").toString
    val segDelta = java.nio.file.Files.createTempDirectory("bm25seg1").toString
    SparseSim.writeIndex(SparseSim.buildIndex(base, "doc_id", "text"), segBase)
    SparseSim.writeIndex(SparseSim.buildIndex(delta, "doc_id", "text"), segDelta)
    val segs = rows(SparseSim.queryIndex(
      SparseSim.readSegments(spark, Seq(segBase, segDelta)),
      q, "doc_id", "text", k = 10, maxDf = 3L))
    assert(segs == full)
    // the SAME registry serves all-pairs lexical similarity: stored-form
    // cosineTopK ≡ the from-text form on the unioned corpus
    def simRows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "neighbor", "score_num", "cosine", "rank")
        .as[(Long, Long, Long, Double, Int)].collect().toSet
    val simFull = simRows(SparseSim.cosineTopK(base.unionAll(delta),
      "doc_id", "text", k = 3, maxDf = 4L))
    val simIdx = simRows(SparseSim.cosineTopKIndex(
      SparseSim.readSegments(spark, Seq(segBase, segDelta)),
      k = 3, maxDf = 4L))
    assert(simIdx == simFull && simIdx.nonEmpty)
    // compaction rewrites the segment list as ONE value-identical segment
    val compacted = java.nio.file.Files.createTempDirectory("bm25cmp").toString
    SparseSim.compactSegments(spark, Seq(segBase, segDelta), compacted)
    assert(rows(SparseSim.queryIndex(SparseSim.readSegments(spark, Seq(compacted)),
      q, "doc_id", "text", k = 10, maxDf = 3L)) == full)
    // guard rails: an ngram mismatch refuses to merge (the indexes
    // tokenize different term spaces), and a double-ingested segment
    // refuses to OPEN (overlapping doc-id watermarks) instead of
    // silently double-counting df
    intercept[IllegalArgumentException] {
      SparseSim.mergeIndex(SparseSim.buildIndex(base, "doc_id", "text"),
        SparseSim.buildIndex(delta, "doc_id", "text", ngram = 2))
    }
    intercept[RuntimeException] {
      SparseSim.readSegments(spark, Seq(segBase, segBase))
    }
    // a path ALIAS of an input segment (trailing slash, ./, symlink)
    // must not slip past compaction's self-overwrite guard — the lazy
    // postings scan would read the segment the write truncates
    intercept[IllegalArgumentException] {
      SparseSim.compactSegments(spark, Seq(segBase, segDelta), segBase + "/")
    }
    // string doc ids have no watermark order — rejected at build, not
    // as a ClassCastException at segment open
    intercept[IllegalArgumentException] {
      SparseSim.buildIndex(Seq(("a", "x y")).toDF("doc_id", "text"),
        "doc_id", "text")
    }
    // the stored-index query plan carries len ON the posting rows: no
    // id-keyed join on doc_lens anywhere (the corpus-sized join the
    // denormalization deletes); doc_lens itself stays a table for the
    // stats derivation
    val qplan = SparseSim.queryIndex(SparseSim.readSegments(spark, Seq(dir)),
      q, "doc_id", "text", k = 10, maxDf = 3L)
      .queryExecution.executedPlan.toString
    assert(!qplan.contains("doc_lens"), qplan)
  }

  test("BM25 segments: a unigram and a bigram segment refuse to open together") {
    import graft.llmops.SparseSim
    // disjoint ids, so the watermark guard passes and the ngram check
    // is what rejects: the two segments tokenize different term spaces
    val uni = java.nio.file.Files.createTempDirectory("bm25uni").toString
    val bi = java.nio.file.Files.createTempDirectory("bm25bi").toString
    SparseSim.writeIndex(SparseSim.buildIndex(
      Seq((1L, "apple banana cherry")).toDF("doc_id", "text"),
      "doc_id", "text"), uni)
    SparseSim.writeIndex(SparseSim.buildIndex(
      Seq((2L, "apple banana fig")).toDF("doc_id", "text"),
      "doc_id", "text", ngram = 2), bi)
    val e = intercept[IllegalArgumentException] {
      SparseSim.readSegments(spark, Seq(uni, bi))
    }
    assert(e.getMessage.contains("ngram mismatch"), e.getMessage)
  }

  test("IVF index: delta-merge ≡ one-shot ivfTopK; parquet round-trip") {
    // two well-separated cells; corpus split 3/2 into base + delta
    val cents = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("cell_id", "centroid")
    val corpus = Seq(
      (10L, Seq(0.9f, 0.1f)), (11L, Seq(0.8f, 0.2f)), (12L, Seq(0.1f, 0.9f)),
      (13L, Seq(0.95f, 0.05f)), (14L, Seq(0.2f, 0.8f)))
      .toDF("vec_id", "embedding")
    val q = Seq((100L, Seq(1.0f, 0.05f)), (101L, Seq(0.05f, 1.0f)))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cell_id", "cand_id", "cosine", "rank")
        .as[(Long, Long, Long, Double, Int)].collect().toSet
    val full = rows(Similarity.ivfTopK(q, corpus, cents,
      "vec_id", "embedding", k = 2, nProbe = 1, dim = 2))
    val merged = Similarity.ivfMergeIndex(
      Similarity.ivfBuildIndex(corpus.filter(col("vec_id") < 13),
        "vec_id", "embedding", cents, dim = 2),
      Similarity.ivfBuildIndex(corpus.filter(col("vec_id") >= 13),
        "vec_id", "embedding", cents, dim = 2))
    val inc = rows(Similarity.ivfQueryIndex(merged, q,
      "vec_id", "embedding", k = 2, nProbe = 1, dim = 2))
    assert(inc == full && inc.nonEmpty)
    // cell-1 queries only ever see cell-1 candidates under nProbe=1
    assert(inc.filter(_._1 == 101L).forall(r => Set(12L, 14L).contains(r._3)))
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Similarity.ivfWriteIndex(merged, dir)
    val reread = rows(Similarity.ivfQueryIndex(
      Similarity.ivfReadSegments(spark, Seq(dir)), q,
      "vec_id", "embedding", k = 2, nProbe = 1, dim = 2))
    assert(reread == full)
    // segmented registry: base and delta written as SEPARATE segments
    // (the O(batch) ingest path), watermark- and fingerprint-guarded at
    // open, value-identical to the in-memory merge
    val seg0 = java.nio.file.Files.createTempDirectory("ivfseg0").toString
    val seg1 = java.nio.file.Files.createTempDirectory("ivfseg1").toString
    val baseIdx = Similarity.ivfBuildIndex(corpus.filter(col("vec_id") < 13),
      "vec_id", "embedding", cents, dim = 2)
    val deltaIdx = Similarity.ivfBuildIndex(corpus.filter(col("vec_id") >= 13),
      "vec_id", "embedding", cents, dim = 2)
    Similarity.ivfWriteIndex(baseIdx, seg0)
    Similarity.ivfWriteIndex(deltaIdx, seg1)
    val segs = rows(Similarity.ivfQueryIndex(
      Similarity.ivfReadSegments(spark, Seq(seg0, seg1)), q,
      "vec_id", "embedding", k = 2, nProbe = 1, dim = 2))
    assert(segs == full)
    // guard rails, the BM25 standard: (1) a DIFFERENT centroid
    // generation refuses to merge — the silent trap where every delta
    // vector lands in a cell the base's probe geometry doesn't mean;
    // (2) a double-ingested segment refuses to OPEN (overlapping
    // vector-id watermarks); (3) segments from different generations
    // refuse to open together
    val cents2 = Seq((0L, Seq(0.7f, 0.3f)), (1L, Seq(0.3f, 0.7f)))
      .toDF("cell_id", "centroid")
    intercept[IllegalArgumentException] {
      Similarity.ivfMergeIndex(baseIdx,
        Similarity.ivfBuildIndex(corpus.filter(col("vec_id") >= 13),
          "vec_id", "embedding", cents2, dim = 2))
    }
    intercept[RuntimeException] {
      Similarity.ivfReadSegments(spark, Seq(seg0, seg0))
    }
    val segX = java.nio.file.Files.createTempDirectory("ivfsegx").toString
    Similarity.ivfWriteIndex(
      Similarity.ivfBuildIndex(corpus.filter(col("vec_id") >= 13),
        "vec_id", "embedding", cents2, dim = 2), segX)
    intercept[IllegalArgumentException] {
      Similarity.ivfReadSegments(spark, Seq(seg0, segX))
    }
    // string vector ids rejected at build (watermarks order longs)
    intercept[IllegalArgumentException] {
      Similarity.ivfBuildIndex(
        Seq(("a", Seq(1.0f, 0.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents, dim = 2)
    }
  }

  test("SparseSim: identical docs cosine exactly 1; df-1 terms prune; top-k order") {
    import graft.llmops.SparseSim
    val docs = Seq((1L, "x y z"), (2L, "x y z"), (3L, "a b c"), (4L, "x q r"))
      .toDF("doc_id", "text")
    val out = SparseSim.cosineTopK(docs, "doc_id", "text", k = 3, maxDf = 10L)
      .select("id", "neighbor", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect()
    // doc 3 shares no df≥2 term with anyone → absent entirely
    assert(!out.exists(r => r._1 == 3L || r._2 == 3L))
    // identical term multisets → exact cosine 1.0 (integer norms, exact sqrt)
    val top1 = out.filter(r => r._1 == 1L && r._4 == 1).head
    assert(top1._2 == 2L && top1._3 == 1.0)
    // doc 4 shares only 'x' (df=3) with 1 and 2; cosine strictly < 1
    val four = out.filter(_._1 == 4L)
    assert(four.map(_._2).toSet == Set(1L, 2L) && four.forall(_._3 < 1.0))
  }

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " +
    "into the green hills tonight while the pale moon rises slowly above the quiet " +
    "valley casting long silver shadows across the sleeping meadow below the ridge"
  private val nearDup = base.replace("green", "blue") // 1-word perturbation, j≈0.93
  private val unrelated = "completely different content about spark query engines and columnar execution at scale"

  lazy val docs = Seq((0L, base), (1L, nearDup), (2L, unrelated), (3L, base))
    .toDF("doc_id", "text")

  test("exact substring dedup: full clone emptied, edit survives, islands merge") {
    val out = Dedup.exactSubstringDedup(docs, "doc_id", "text", windowTokens = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text"))).toMap
    val n = base.split(" ").length.toLong
    assert(out(0L) == ((n, 0L, base)))          // first occurrence untouched
    assert(out(3L) == ((n, n, "")))             // verbatim re-upload fully cut
    val (n1, rem1, clean1) = out(1L)            // 1-word edit: neighborhood survives
    assert(rem1 > 0 && rem1 < n1 && clean1.contains("blue"))
    assert(clean1.split(" ").length == (n1 - rem1))
    assert(out(2L)._2 == 0L)                    // unrelated doc untouched

    // two copied passages separated by unique filler → TWO islands, only
    // the filler survives, and the merge does not bridge the gap
    val p1 = (1 to 10).map(i => s"alpha$i").mkString(" ")
    val p2 = (1 to 10).map(i => s"omega$i").mkString(" ")
    val fillA = (1 to 5).map(i => s"fa$i").mkString(" ")
    val fillB = (1 to 5).map(i => s"fb$i").mkString(" ")
    val two = Seq((0L, s"$p1 $fillA $p2"), (1L, s"$p1 $fillB $p2"))
      .toDF("doc_id", "text")
    val o2 = Dedup.exactSubstringDedup(two, "doc_id", "text", windowTokens = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_removed"), r.getAs[String]("clean_text"))).toMap
    assert(o2(0L) == ((0L, s"$p1 $fillA $p2")))
    assert(o2(1L) == ((20L, fillB)))
  }

  test("exact dedup groups identical fingerprints, keeps min id") {
    val out = Dedup.exactDedup(docs, "doc_id", TextStats.fingerprint(col("text")))
      .orderBy("doc_id").collect()
    assert(out.length == 3)                       // 0 and 3 collapse
    val g = out.find(_.getAs[Long]("doc_id") == 0L).get
    assert(g.getAs[Long]("group_size") == 2)
  }

  test("incremental dedup drops registry hits, dedups within batch, keeps novel docs") {
    val registry = Seq(Tuple1(base)).toDF("text")
      .select(TextStats.fingerprint(col("text")).as("dedup_key"))
    val batch = Seq(
      (10L, base),        // already in the registry — dropped
      (11L, nearDup),     // novel (different fingerprint) — kept
      (12L, unrelated),   // novel — kept
      (13L, unrelated))   // within-batch dup of 12 — collapsed
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, "doc_id",
        TextStats.fingerprint(col("text")), registry, "dedup_key")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("group_size")))
    assert(out.toSeq == Seq((11L, 1L), (12L, 2L)))
  }

  test("dedup report invariants hold and agree with the dedup kernel") {
    val sf = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("q_dedup_report")(spark, sf).collect().head
    val nDocs = r.getAs[Long]("n_docs")
    val nDistinct = r.getAs[Long]("n_distinct")
    val nDup = r.getAs[Long]("n_duplicates")
    assert(nDocs == nDistinct + nDup)
    assert(r.getAs[Long]("max_cluster") >= 1L)
    assert(r.getAs[Long]("dup_rate_pct") == nDup * 10000L / nDocs)
    // the report's distinct count is the dedup kernel's survivor count
    val survivors = Dedup.exactDedup(
      graft.model.Tables.documents(spark, sf).select("doc_id", "text"),
      "doc_id", TextStats.fingerprint(col("text"))).count()
    assert(survivors == nDistinct)
  }

  test("minhash LSH finds the planted near-duplicate, not the unrelated doc") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 16, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)))               // near-dup found
    assert(pairs.contains((0L, 3L)))               // exact dup found
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated excluded
  }

  test("minhash LSH leaves no cache entries and no driver collect on the data path") {
    // the candidate table is localCheckpoint'ed (executor blocks, GC-
    // reclaimed), never .persist'ed — the CacheManager must stay empty
    // so a long-lived session can run the dedup in a loop without the
    // r1 bench-tail leak (VERDICT r1 item 2 / r2 item 2). The session is
    // shared across suites and some operators legitimately RETURN a
    // persisted table the caller owns (ConnectedComponents.labelPropagation
    // hands back its cached labels), so scope the assertion to THIS
    // operator by clearing first — suite order must not decide the test.
    spark.sharedState.cacheManager.clearCache()
    Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 16, rowsPerBand = 4, threshold = 0.5).count()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("incremental near-dup matches a batch doc to its registry twin, cross-pairs only") {
    // registry: base (id 100) + unrelated (id 102); batch: the near-dup of
    // base (id 1), an exact clone of base (id 3), and a batch-internal dup
    // pair (ids 5,7) that must NOT appear (cross-corpus pairs only).
    val registry = Seq((100L, base), (102L, unrelated)).toDF("doc_id", "text")
    val batchOnly = "entirely novel prose about graph traversal order and " +
      "memory management strategies inside distributed runtime schedulers"
    val batch = Seq((1L, nearDup), (3L, base), (5L, batchOnly),
      (7L, batchOnly)).toDF("doc_id", "text")
    val regSigs = Dedup.minhashSignatureArray(
      Dedup.shingleSets(registry, "doc_id", "text", 3), "doc_id", 16)
    val out = Dedup.minhashIncrementalNearDups(batch, regSigs, registry,
        "doc_id", "text", shingleSize = 3, numHashes = 16,
        rowsPerBand = 4, threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("reg_id"),
        r.getAs[Double]("jaccard")))
    val pairs = out.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((3L, 100L)), s"exact clone missed: ${out.toSeq}")
    assert(pairs.contains((1L, 100L)), s"near-dup missed: ${out.toSeq}")
    assert(!pairs.exists(p => p._1 == 5L || p._1 == 7L),
      s"batch-internal dup leaked into cross pairs: ${out.toSeq}")
    assert(out.find(p => p._1 == 3L && p._2 == 100L).get._3 == 1.0)
    // results equal the full-union pair search restricted to cross pairs
    // (same banding, same verify — the incremental path must not change
    // which pairs verify)
    val full = Dedup.minhashNearDups(registry.unionByName(batch),
        "doc_id", "text", 3, 16, 4, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .filter { case (a, b) => (a >= 100L) != (b >= 100L) }
      .map { case (a, b) => if (a >= 100L) (b, a) else (a, b) }.toSet
    assert(pairs == full, s"incremental $pairs != full-union cross pairs $full")
  }

  test("shingles produce distinct word n-grams") {
    val sh = Dedup.shingles(Seq((1L, "a b c d")).toDF("doc_id", "text"),
      "doc_id", "text", 3).collect().map(_.getString(1)).toSet
    assert(sh == Set("a b c", "b c d"))
  }

  test("documents shorter than the shingle size neither crash nor pair") {
    val short = Seq((1L, "one two"), (2L, "one two"), (3L, base))
      .toDF("doc_id", "text")
    // empty shingle set, no rows (matches the oracle's empty range)
    assert(Dedup.shingles(short.filter(col("doc_id") === 1), "doc_id", "text", 3)
      .count() == 0)
    // full pipeline survives and emits no near-dup pairs for them
    val pairs = Dedup.minhashNearDups(short, "doc_id", "text",
      shingleSize = 3, numHashes = 16, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.isEmpty)
  }

  test("native dot/dist return NULL on length-mismatched vectors, like the fold") {
    import graft.functions.VectorExpressions
    import graft.llmops.VectorMath
    val df = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0)))
      .toDF("a", "b")
    val r = df.select(
      VectorExpressions.dot(col("a"), col("b")).as("native"),
      VectorMath.dotPrecast(col("a"), col("b")).as("fold")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("native dot/dist return NULL on null vector elements, like the fold") {
    import graft.functions.VectorExpressions
    import graft.llmops.VectorMath
    val df = Seq((Array[java.lang.Double](1.0, null, 3.0),
        Array[java.lang.Double](1.0, 2.0, 3.0)))
      .toDF("a", "b")
    val r = df.select(
      VectorExpressions.dot(col("a"), col("b")).as("native"),
      VectorExpressions.distSq(col("a"), col("b")).as("native_d"),
      VectorMath.dotPrecast(col("a"), col("b")).as("fold")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("hot-key salted join handles an empty probe side") {
    val left = Seq.empty[(String, Double)].toDF("k", "v")
    val right = Seq(("a", "dim_a")).toDF("k", "label")
    assert(graft.operators.SkewJoin
      .saltedInnerJoinHot(left, right, "k", numSalts = 4).count() == 0)
  }

  test("native simhash64 is bit-identical to the HOF fold (incl. empty and null docs)") {
    val texts = docs.select(col("doc_id"), col("text"))
      .union(Seq((9001L, Some("")), (9002L, Some("one")), (9003L, None))
        .toDF("doc_id", "text"))
    val both = texts
      .withColumn("_th", Dedup.tokenHashHalves(col("text")))
      .select(col("doc_id"),
        graft.functions.VectorExpressions.simhash64(col("_th")).as("native"),
        KernelEquivalenceSpec.simhash64Fold(col("_th")).as("fold"))
      .collect()
    both.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2),
        s"doc ${r.get(0)} produced a null signature (tiers must yield 0L)")
      assert(r.getLong(1) == r.getLong(2), s"doc ${r.get(0)} sig mismatch") }
    // null text signs as 0L in both tiers — it must bucket with
    // zero-signature docs identically in the kernel and its reference
    val nullRow = both.find(_.getLong(0) == 9003L).get
    assert(nullRow.getLong(1) == 0L && nullRow.getLong(2) == 0L)
  }

  test("native minhash signature is bit-identical to the HOF fold (incl. empty sets)") {
    val texts = docs.select(col("doc_id"), col("text"))
      .union(Seq((9001L, ""), (9002L, "a b")).toDF("doc_id", "text"))
    val sets = Dedup.shingleSets(texts, "doc_id", "text", n = 3)
    val native = Dedup.minhashSignatureArray(sets, "doc_id", numHashes = 16)
    val fold = sets.select(col("doc_id"), KernelEquivalenceSpec.minhashFold(
      transform(col("shingles"), s => Dedup.minhashBase(s)), numHashes = 16).as("sig"))
    // local-relation inputs constant-fold through ConvertToLocalRelation,
    // so the native expression only survives in the ANALYZED plan here
    assert(native.queryExecution.analyzed.toString.contains("graft_minhash_sig"))
    val n = native.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val f = fold.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(n.keySet == f.keySet)
    n.foreach { case (id, sig) => assert(sig == f(id), s"doc $id sig mismatch") }
  }

  test("simhash: identical texts → distance 0, perturbed → small, unrelated → large") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(0L, 3L) == 0)
    assert(ham(0L, 1L) < ham(0L, 2L))
  }

  test("LSH cosine buckets reach full recall for identical vectors and beat random") {
    val vecs = (0 until 30).map { i =>
      val rng = new scala.util.Random(i % 10) // 10 distinct vectors, 3 copies each
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val lsh = Similarity.lshTopK(vecs, "vec_id", "embedding", nPlanes = 6, dim = 16, k = 3)
      .collect()
    // identical copies always share every hyperplane bucket → each vector
    // finds its 2 clones at cosine ≈ 1
    val byQuery = lsh.groupBy(_.getAs[Long]("query_id"))
    (0 until 30).foreach { i =>
      val clones = (0 until 30).filter(j => j % 10 == i % 10 && j != i).map(_.toLong).toSet
      val found = byQuery.get(i.toLong).map(_.map(_.getAs[Long]("cand_id")).toSet).getOrElse(Set())
      assert(clones.subsetOf(found), s"query $i: clones $clones not in $found")
    }
  }

  test("LSH plane sizing keeps bucket occupancy bounded as the corpus grows") {
    // the STRESS.md rule: buckets ≈ n / occupancy, so occupancy stays
    // within [occ/2, occ] at any n (power-of-two rounding), instead of
    // growing linearly the way a fixed nPlanes lets it
    for (n <- Seq(1000L, 128000L, 10000000L, 1000000000L)) {
      val p = Similarity.planesForCorpus(n, targetOccupancy = 64)
      val occupancy = n.toDouble / math.pow(2.0, p)
      assert(occupancy <= 64.0 + 1e-9, s"n=$n planes=$p occupancy=$occupancy")
      assert(occupancy >= 32.0 || p == 62 || n < 64, s"n=$n planes=$p over-partitions")
    }
    assert(Similarity.planesForCorpus(128000) > Similarity.planesForCorpus(2000))
    assert(Similarity.planesForCorpus(Long.MaxValue) == 57) // log2(2^63/64)
    assert(Similarity.planesForCorpus(Long.MaxValue, 1) == 62) // capped
  }

  test("minhash banding sizing bounds background candidates and holds recall") {
    for (n <- Seq(1000L, 320000L, 10000000L, 1000000000L)) {
      val (h, r) = Dedup.minhashParamsForCorpus(n, threshold = 0.8)
      val b = h / r
      assert(h % r == 0 && b >= 1 && b <= 64, s"n=$n -> ($h, $r)")
      // expected background collisions per (doc, band) stay bounded at
      // any corpus size — the property the fixed 16×4 banding lacks
      // (STRESS.md: 97× time for 64× data)
      assert(n * math.pow(0.3, r) <= 8.0 + 1e-9, s"n=$n r=$r")
      // recall at the dedup threshold holds (slightly relaxed once the
      // band cap binds — the documented trade)
      val floor = if (b < 64) 0.9 else 0.8
      assert(Dedup.minhashCandidateProb(h, r, 0.8) >= floor, s"n=$n ($h, $r)")
    }
    // a fixture-sized corpus reproduces the oracle queries' banding depth
    assert(Dedup.minhashParamsForCorpus(500, 0.8)._2 == 4)
    // rows-per-band GROWS with the corpus — the anti-quadratic property
    assert(Dedup.minhashParamsForCorpus(320000L, 0.8)._2 >
      Dedup.minhashParamsForCorpus(500L, 0.8)._2)
  }

  test("grid cell sizing covers the measured k-th-neighbor radius on both fixtures") {
    import graft.graph.Knn
    // GraphSpec scatter: extent 10, n=120, k=3, 2-D — measured max 3rd-NN
    // dist 2.85; embeddings 3-D projection: extent ~0.8, n=2000 —
    // measured 0.1975 (STRESS.md)
    assert(Knn.cellSizeForDensity(10.0, 120, 3, 2) >= 2.85)
    assert(Knn.cellSizeForDensity(0.8, 2000, 3, 3) >= 0.1975)
    // and it SHRINKS with density — the property a fixed cell size lacks
    assert(Knn.cellSizeForDensity(0.8, 128000, 3, 3) <
      Knn.cellSizeForDensity(0.8, 2000, 3, 3) / 2)
  }

  test("native repetition kernel is bit-identical to the HOF formulation") {
    import graft.llmops.TextStats
    // edge cases the kernel must match exactly: empty text (split → [""]),
    // single token (no bigrams), all-same tokens (run == multiplicity),
    // multi-space runs (empty tokens), plus realistic word soup
    val texts = Seq("", "one", "a a a a a", "a b a b a b c", "x  y   z",
      "the quick brown fox the quick brown dog the quick")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .union(graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
        .select(col("doc_id").as("id"), col("text")))
    val hof = df
      .withColumn("_toks", TextStats.tokens(col("text")))
      .withColumn("_grams", TextStats.sortedBigrams(col("_toks")))
      .select(col("id"),
        TextStats.duplicateTokenFractionOfTokens(col("_toks")).as("d"),
        TextStats.topRunFraction(col("_grams")).as("t"))
    val native = df
      .withColumn("_r", graft.functions.TextExpressions.repetitionStats(col("text")))
      .select(col("id"), col("_r.dup_token_frac").as("d"), col("_r.top_bigram_frac").as("t"))
    def bits(r: org.apache.spark.sql.Row) = (r.getLong(0),
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)))
    assert(hof.collect().map(bits).toSet == native.collect().map(bits).toSet)
  }

  test("multi-probe LSH: nProbe=0 degenerates to single-probe; probing raises recall") {
    // perturbed clones (not identical copies): small noise puts some true
    // neighbors across a hyperplane boundary, which is exactly the case
    // multi-probe exists for — identical copies can never split buckets.
    val vecs = (0 until 40).map { i =>
      val base = new scala.util.Random(i % 10)
      val noise = new scala.util.Random(1000 + i)
      (i.toLong, Array.fill(16)(base.nextFloat() * 2 - 1 +
        (if (i < 10) 0f else noise.nextFloat() * 0.14f - 0.07f)))
    }.toDF("vec_id", "embedding")
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val exact = hits(Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 3, dim = 16))
    val single = hits(Similarity.lshTopK(vecs, "vec_id", "embedding",
      nPlanes = 6, dim = 16, k = 3))
    val zeroProbe = hits(Similarity.multiProbeTopK(vecs, "vec_id", "embedding",
      nPlanes = 6, dim = 16, k = 3, nProbe = 0))
    val multi = hits(Similarity.multiProbeTopK(vecs, "vec_id", "embedding",
      nPlanes = 6, dim = 16, k = 3, nProbe = 2))
    assert(zeroProbe == single,
      "nProbe=0 must reproduce the single-probe result exactly")
    def recall(found: Set[(Long, Long)]) =
      (found & exact).size.toDouble / exact.size
    assert(recall(multi) >= recall(single),
      s"multi-probe recall ${recall(multi)} < single-probe ${recall(single)}")
    // the fixture must actually exercise the boundary case: single-probe
    // misses some true neighbors, and probing 2 extra buckets finds more
    assert(recall(single) < 1.0, "fixture too easy — nothing straddles a boundary")
    assert(recall(multi) > recall(single),
      "multi-probe found nothing beyond single-probe — probe selection inert")
  }

  test("cosine near-dup: LSH pairs are a subset of exact pairs, clones found") {
    val vecs = (0 until 30).map { i =>
      val rng = new scala.util.Random(i % 10) // 10 distinct vectors, 3 copies each
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val exact = pairSet(Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.99))
    val lsh = pairSet(Similarity.cosineNearDupPairsLsh(vecs, "vec_id", "embedding",
      0.99, nPlanes = 6, dim = 16))
    // every clone pair (i, i+10), (i, i+20), (i+10, i+20) has cosine 1
    val clones = (0 until 10).flatMap(i =>
      Seq((i.toLong, i + 10L), (i.toLong, i + 20L), (i + 10L, i + 20L))).toSet
    assert(clones.subsetOf(exact))
    assert(lsh.subsetOf(exact))       // LSH never invents pairs
    assert(clones.subsetOf(lsh))      // identical vectors share every bucket
    val decisions = Similarity.cosineDedupDecision(
      Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.99)).collect()
    // dup ids are exactly the 20 non-canonical clones, each canonical = i%10
    assert(decisions.length == 20)
    decisions.foreach(r =>
      assert(r.getAs[Long]("canonical_id") == r.getAs[Long]("dup_id") % 10))
  }

  test("IVF: clones land in one cell and are each other's top hits") {
    val vecs = (0 until 30).map { i =>
      val rng = new scala.util.Random(i % 10)
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val centroids = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("cell_id"), col("embedding").as("centroid"))
    val out = Similarity.ivfTopK(vecs, vecs, centroids,
      "vec_id", "embedding", k = 2, nProbe = 1).collect()
    // a vector's clones share its exact embedding → same cell, cosine 1 →
    // they fill the top-2 slots
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    (0 until 30).foreach { i =>
      val clones = (0 until 30).filter(j => j % 10 == i % 10 && j != i).map(_.toLong).toSet
      val found = byQuery(i.toLong).map(_.getAs[Long]("cand_id")).toSet
      assert(found == clones, s"query $i: expected $clones, got $found")
    }
  }

  test("brute-force top-k ranks exact nearest first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") === 0L), vecs, "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("cand_id")).toSeq == Seq(1L, 2L))
  }

  test("text stats: counts and ratios") {
    val df = Seq((1L, "the the fox", 11L)).toDF("doc_id", "text", "n_chars")
    val out = df.select(
      TextStats.tokenCount(col("text")).as("n"),
      TextStats.stopwordRatio(col("text"), Seq("the")).as("sr"),
      TextStats.uniqueTokenRatio(col("text")).as("ur"),
      TextStats.bpeTokenEstimate(col("n_chars")).as("bpe")).collect().head
    assert(out.getAs[Int]("n") == 3)
    assert(math.abs(out.getAs[Double]("sr") - 2.0 / 3) < 1e-12)
    assert(math.abs(out.getAs[Double]("ur") - 2.0 / 3) < 1e-12)
    assert(out.getAs[Long]("bpe") == 3L)
  }

  test("decontaminate drops docs sharing an n-gram with the benchmark, keeps clean docs") {
    val corpus = Seq(
      (0L, base),                                  // overlaps benchmark (= base)
      (1L, nearDup),                               // shares most 3-grams with base
      (2L, unrelated),                             // clean
      (3L, "totally novel words nobody benchmarked ever before now")) // clean
      .toDF("doc_id", "text")
    val bench = Seq(Tuple1(base)).toDF("text")
    val kept = Dedup.decontaminate(corpus, "doc_id", "text", bench, "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
  }

  test("decontaminateBloom is identical to the exact form (bloom fp die in verify)") {
    val corpus = Seq(
      (0L, base),
      (1L, nearDup),
      (2L, unrelated),
      (3L, "totally novel words nobody benchmarked ever before now"))
      .toDF("doc_id", "text")
    val bench = Seq(Tuple1(base)).toDF("text")
    // fpp deliberately terrible (0.5) so false positives certainly occur
    // upstream and the exact verify join is what saves the answer
    val kept = Dedup.decontaminateBloom(corpus, "doc_id", "text", bench, "text",
        n = 3, expectedShingles = 16, fpp = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
    val fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fixtureBench = fixture.filter(col("doc_id") % 97 === 0).select("text")
    val exact = Dedup.decontaminate(fixture, "doc_id", "text", fixtureBench, "text", 3)
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.decontaminateBloom(fixture, "doc_id", "text", fixtureBench,
        "text", 3, expectedShingles = 1L << 14)
      .select("doc_id").as[Long].collect().toSet
    assert(bloom == exact)
  }

  test("misraGries keeps every item above n/(k+1) and bounds summary size") {
    // adversarial stream: heavy items interleaved with a long singleton tail
    val heavy = Seq.fill(300)("h1") ++ Seq.fill(150)("h2") ++ Seq.fill(90)("h3")
    val tail = (0 until 1000).map(i => s"u$i")
    // deterministic shuffle (seeded) so the test is reproducible
    val stream = new scala.util.Random(42).shuffle(heavy ++ tail)
    val k = 20
    val out = HeavyHitters.misraGries(stream.iterator, k).toSeq
    val (totals, survivors) = out.partition(_._1 == null)
    assert(totals == Seq((null, stream.size.toLong)))
    assert(survivors.size <= k)
    val threshold = stream.size.toDouble / (k + 1) // 1540/21 = 73.3
    val trueCounts = stream.groupBy(identity).view.mapValues(_.size.toLong)
    val mustSurvive = trueCounts.filter(_._2 > threshold).keys.toSet
    assert(mustSurvive == Set("h1", "h2", "h3"), "fixture sanity")
    assert(mustSurvive.subsetOf(survivors.map(_._1).toSet))
    // MG counters are lower bounds within n/(k+1) of the truth
    survivors.foreach { case (item, c) =>
      assert(c <= trueCounts(item))
      assert(trueCounts(item) - c <= threshold + 1)
    }
  }

  test("heavyHitters equals the naive groupBy answer under forced decrements") {
    // per-partition distinct far above capacity (minFraction 0.05 -> k=20),
    // so the sketch pass must decrement and the recount must repair counts
    val heavy = Seq.fill(400)("alpha") ++ Seq.fill(200)("beta") ++ Seq.fill(80)("gamma")
    val tail = (0 until 2000).map(i => s"rare$i")
    val rows = new scala.util.Random(7).shuffle(heavy ++ tail)
      .grouped(5).map(g => Tuple1(g.toArray)).toSeq
    val df = rows.toDF("items").repartition(4)
    val got = HeavyHitters.heavyHitters(df, col("items"), minFraction = 0.05)
      .as[(String, Long)].collect().toMap
    val n = heavy.size + tail.size
    val expected = (heavy ++ tail).groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c.toDouble >= 0.05 * n }.toMap
    assert(expected.nonEmpty, "fixture sanity")
    assert(got == expected)
  }

  test("hard negatives exclude same-label candidates, match brute topK otherwise") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val neg = Similarity.hardNegatives(queries, emb, "vec_id", "embedding",
        "label", k = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(neg.nonEmpty)
    neg.foreach { case (q, c) =>
      assert(labels(q) != labels(c), s"same-label pair ($q,$c) mined as negative")
    }
    // against a candidate set with no same-label rows, mining degenerates
    // to plain top-k — same rows, same order
    val q0 = emb.filter(col("vec_id") === 0)
    val other = emb.filter(col("label") =!= labels(0L))
    val mined = Similarity.hardNegatives(q0, other, "vec_id", "embedding",
        "label", k = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val brute = Similarity.bruteForceTopK(q0, other, "vec_id", "embedding",
        k = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(mined.toSeq == brute.toSeq)
  }

  test("CDC chunks reconstruct the document and match a from-scratch reference") {
    val fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50)
    val chunks = Dedup.cdcChunks(fixture, "doc_id", "text")
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    val texts = fixture.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // chunk lengths per doc sum to the doc length (lossless cover)
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      assert(cs.map(_._3).sum == texts(id).length, s"doc $id chunk cover")
    }
    // boundaries equal an independent from-scratch reference scan
    def refCuts(s: String, w: Int, base: Long, mask: Long): Seq[Int] =
      (0 to s.length - w).filter { i =>
        val h = (0 until w).map(k => (s(i + k).toLong & 0xffL) *
          math.pow(base.toDouble, k.toDouble).toLong).sum
        (h & mask) == 0L
      }.map(_ + w)
    texts.take(10).foreach { case (id, t) =>
      val expectLens = {
        val cuts = (0 +: refCuts(t, 8, 31L, 63L) :+ t.length).distinct
        cuts.sliding(2).map { case Seq(a, b) => b - a }.filter(_ > 0).toSeq
      }
      val gotLens = chunks.filter(_._1 == id).sortBy(_._2).map(_._3).toSeq
      assert(gotLens == expectLens, s"doc $id cuts")
    }
  }

  test("CDC chunking is shift-robust: a prefix edit preserves downstream chunks") {
    val t = docs.filter(col("doc_id") === 0L).select("text").as[String].head()
    val pair = Seq((0L, t), (1L, "zq " + t)).toDF("doc_id", "text")
    val out = Dedup.cdcChunks(pair, "doc_id", "text").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(3)).toSet).toMap
    val common = out(0L).intersect(out(1L)).size
    // everything after the first content-defined cut below the edit point
    // re-aligns; only the head chunk(s) differ
    assert(common >= out(0L).size - 2,
      s"only $common of ${out(0L).size} chunks survived a prefix insert")
  }

  test("CDC chunking is byte-based: multi-byte text covers losslessly") {
    // The boundary kernel emits BYTE offsets; the slicer must consume them
    // as bytes. On this multi-byte-heavy payload a character-based substr
    // would mis-slice every chunk (regression for the byte/char mix-up).
    val s = ("é" * 40) + " naïve café δοκιμή test case " + ("文" * 30) + " tail"
    val bytes = s.getBytes("UTF-8")
    val out = Dedup.cdcChunks(Seq((0L, s)).toDF("doc_id", "text"), "doc_id", "text")
      .collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getString(3))).sortBy(_._1)
    assert(out.map(_._2).sum == bytes.length,
      s"chunk_len must sum to the UTF-8 byte length ${bytes.length}: ${out.toSeq}")
    // fingerprints equal md5 over the reference byte spans
    def refCuts(b: Array[Byte], w: Int, base: Long, mask: Long): Seq[Int] =
      (0 to b.length - w).filter { i =>
        val h = (0 until w).map(k => (b(i + k).toLong & 0xffL) *
          math.pow(base.toDouble, k.toDouble).toLong).sum
        (h & mask) == 0L
      }.map(_ + w)
    val cuts = (0 +: refCuts(bytes, 8, 31L, 63L) :+ bytes.length).distinct
    val expect = cuts.sliding(2).collect {
      case Seq(a, b) if b > a => bytes.slice(a, b)
    }.toSeq
    val md5hex = (c: Array[Byte]) => java.security.MessageDigest
      .getInstance("MD5").digest(c).map("%02x".format(_)).mkString
    assert(out.map(_._3).toSeq == expect.map(md5hex),
      "chunk fingerprints must match the byte-span reference")
  }

  test("temperature upsample: sqrt-deficit replication, head untouched, deterministic") {
    val rows = (0 until 90).map(i => (i.toLong, "big")) ++
      (100 until 110).map(i => (i.toLong, "small")) // 9x deficit -> r=3.0
    val df = rows.toDF("doc_id", "lang")
    val out = TextStats.temperatureUpsample(df, "lang", "doc_id")
      .collect().map(r => (r.getLong(1), r.getString(0), r.getLong(2)))
    // head domain (r = 1.0): exactly one copy each
    assert(out.count(_._2 == "big") == 90)
    assert(out.filter(_._2 == "big").forall(_._3 == 0L))
    // small domain: r = sqrt(9) = 3.0 exactly -> exactly 3 copies each
    assert(out.count(_._2 == "small") == 30)
    val bySmallDoc = out.filter(_._2 == "small").groupBy(_._1)
    assert(bySmallDoc.values.forall(_.map(_._3).sorted.sameElements(Seq(0L, 1L, 2L))))
    // fractional r: 4 small docs vs 90 -> r = sqrt(22.5) ≈ 4.743; per-doc
    // copies are 4 or 5 and the total sits within 1 of n*r either side
    val df2 = ((0 until 90).map(i => (i.toLong, "big")) ++
      Seq((200L, "tiny"), (201L, "tiny"), (202L, "tiny"), (203L, "tiny")))
      .toDF("doc_id", "lang")
    val tiny = TextStats.temperatureUpsample(df2, "lang", "doc_id")
      .filter(col("lang") === "tiny").collect()
    val perDoc = tiny.groupBy(_.getLong(1)).view.mapValues(_.length)
    assert(perDoc.values.forall(c => c == 4 || c == 5), perDoc.toMap.toString)
    // determinism: identical plan re-run yields identical rows
    val again = TextStats.temperatureUpsample(df2, "lang", "doc_id")
      .filter(col("lang") === "tiny").collect().length
    assert(again == tiny.length)
  }

  test("BPE learns the classic merges on the Sennrich-style corpus") {
    import graft.llmops.BpeTrainer
    val hist = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val merges = BpeTrainer.learnMergesLocal(hist, 3)
    // (e,s) and (s,t) tie at 9; lexicographic tie-break picks (e,s),
    // then (es,t) at 9 — the textbook progression
    assert(merges(0).lhs == "e" && merges(0).rhs == "s" && merges(0).pair_count == 9L)
    assert(merges(1).lhs == "es" && merges(1).rhs == "t" && merges(1).pair_count == 9L)
    assert(merges.map(_.merge_rank) == Seq(1, 2, 3))
    // encoding with the learned list reproduces training's final state
    val pairs = merges.map(m => (m.lhs, m.rhs))
    assert(BpeTrainer.encodeWord("newest", pairs.take(2)) == Vector("n", "e", "w", "est"))
  }

  test("BPE distributed training equals the in-memory loop on the fixture") {
    import graft.llmops.BpeTrainer
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val words = BpeTrainer.wordHistogram(docs, "text")
    val dist = BpeTrainer.learnMerges(words, "word", "freq", nMerges = 6)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    val local = BpeTrainer.learnMergesLocal(
      words.collect().map(r => (r.getString(0), r.getLong(1))).toSeq, 6)
      .map(m => (m.merge_rank, m.lhs, m.rhs, m.pair_count))
    assert(dist.length == 6)
    assert(dist.toSeq == local)
  }

  test("BPE symbols are code points and ties break in UTF-8 order, both loops") {
    import graft.llmops.BpeTrainer
    // 👍 is U+1F44D — a surrogate PAIR in UTF-16. Code-unit splitting
    // would make it two half-symbols and diverge from Spark's substr
    // (code-point) semantics; and in UTF-16 order 👍 (high surrogate
    // 0xD83D) sorts BELOW U+FEEC while in UTF-8/code-point order — the
    // order Spark's UTF8String sorts — it sorts ABOVE. Both loops must
    // agree on both.
    val hist = Seq(("👍👍x", 3L), ("ﻬx", 3L))
    val local = BpeTrainer.learnMergesLocal(hist, 2)
    // all pairs tie at 3; the l tie-break must pick ﻬ (smaller CODE
    // POINT) over 👍 even though UTF-16 code units order them the other
    // way round
    assert(local.head.lhs == "ﻬ" && local.head.rhs == "x", local.toSeq.toString)
    // and 👍 must be ONE symbol (pair (👍,x) exists, surrogate halves don't)
    assert(local(1).lhs == "👍" && local(1).rhs == "x",
      s"emoji must be ONE symbol: ${local.toSeq}")
    val words = hist.toDF("word", "freq")
    val dist = BpeTrainer.learnMerges(words, "word", "freq", 2)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(dist.toSeq == local.map(m => (m.merge_rank, m.lhs, m.rhs, m.pair_count)),
      s"local/distributed divergence: ${dist.toSeq} vs ${local.toSeq}")
    assert(BpeTrainer.encodeWord("👍👍",
      Seq(("👍", "👍"))) == Vector("👍👍"))
  }

  test("BPE merge application is greedy left-to-right in all three forms") {
    import graft.llmops.BpeTrainer
    // plain-Scala form
    assert(BpeTrainer.encodeWord("aaa", Seq(("a", "a"))) == Vector("aa", "a"))
    assert(BpeTrainer.encodeWord("aaaa", Seq(("a", "a"))) == Vector("aa", "aa"))
    assert(BpeTrainer.encodeWord("abab", Seq(("a", "b"))) == Vector("ab", "ab"))
    // fold-expression form must agree symbol-for-symbol
    val df = Seq("aaa", "aaaa", "abab", "aab", "ba").toDF("w")
      .select(col("w"), BpeTrainer.applyMerge(
        BpeTrainer.initialSymbols(col("w")), "a", "a").as("m"))
    val got = df.collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    for ((w, expected) <- Seq(
        "aaa" -> Vector("aa", "a"), "aaaa" -> Vector("aa", "aa"),
        "abab" -> Vector("a", "b", "a", "b"), "aab" -> Vector("aa", "b"),
        "ba" -> Vector("b", "a")))
      assert(got(w) == expected, s"fold on $w: ${got(w)}")
  }

  test("packSequences respects the budget, resets per shard, covers all docs") {
    val docs = (0 until 40).map(i => (i % 4, i.toLong, 10L + (i % 7) * 30L))
      .toDF("shard", "doc_id", "n_tok")
    val out = TextStats.packSequences(docs, "shard", "doc_id", "n_tok", maxTokens = 128)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.length == 40)
    out.groupBy(_._1).values.foreach { g =>
      val s = g.sortBy(_._2)
      assert(s.head._4 == 0L, "pack ids start at 0 per shard")
      s.foreach { case (_, _, n, _, fill) =>
        assert(fill <= 128L || n > 128L, "no pack exceeds the budget")
      }
      s.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._4 == a._4 || b._4 == a._4 + 1, "pack ids are contiguous")
          if (b._4 == a._4) assert(b._5 == a._5 + b._3, "fill accumulates within a pack")
          else assert(b._5 == b._3, "fill resets on a new pack")
        case _ =>
      }
    }
  }

  test("language ID picks profile with most marker hits") {
    val profiles = Map("en" -> Seq("the"), "de" -> Seq("der", "und"))
    val df = Seq((1L, "der hund und die katze"), (2L, "the cat sat")).toDF("id", "text")
    val out = df.select(col("id"),
      TextStats.predictedLang(col("text"), profiles).as("lang"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "de")
    assert(out(1).getString(1) == "en")
  }

  test("PII redaction scrubs emails, phones, and IPs but not lookalikes") {
    val df = Seq(
      (1L, "write to bob.smith+x@mail.example.org today"),
      (2L, "call 555-867-5309 or visit 192.168.1.255 now"),
      (3L, "version 1.2 of v2.example costs 12-34 dollars"),  // lookalikes survive
      (4L, "a@b.co 1.2.3.4 111-222-3333")).toDF("id", "text")
    val out = df.select(col("id"), TextStats.redactPii(col("text")).as("r"))
      .orderBy("id").collect().map(_.getString(1))
    assert(out(0) == "write to <EMAIL> today")
    assert(out(1) == "call <PHONE> or visit <IP> now")
    assert(out(2) == "version 1.2 of v2.example costs 12-34 dollars")
    assert(out(3) == "<EMAIL> <IP> <PHONE>")
  }

  test("repetition metrics: known fractions, single-token edge") {
    val df = Seq(
      (1L, "a b a b a b"),   // dup tokens: (6-2)/6; bigrams: "a b"×3,"b a"×2 → 3/5
      (2L, "x y z"),         // all unique: dup 0; bigrams "x y","y z" → 1/2
      (3L, "solo")           // single token: dup 0, no bigrams → 0.0
    ).toDF("id", "text")
    val out = df.select(col("id"),
        graft.functions.TextExpressions.repetitionStats(col("text")).as("r"))
      .select(col("id"), col("r.dup_token_frac").as("dup"), col("r.top_bigram_frac").as("top"))
      .orderBy("id").collect()
    assert(math.abs(out(0).getDouble(1) - 4.0 / 6) < 1e-12)
    assert(math.abs(out(0).getDouble(2) - 3.0 / 5) < 1e-12)
    assert(out(1).getDouble(1) == 0.0)
    assert(math.abs(out(1).getDouble(2) - 0.5) < 1e-12)
    assert(out(2).getDouble(1) == 0.0 && out(2).getDouble(2) == 0.0)
  }

  test("BPE pretokenizer splits contractions, digit runs, and punctuation") {
    val df = Seq((1L, "don't stop 1234 times!!  ok")).toDF("id", "text")
    val n = df.select(TextStats.bpeTokenCount(col("text"))).collect()(0).getInt(0)
    // don | 't | " stop" | " 1234" | " times" | "!!" | "  " | "ok"... the
    // exact segmentation: ["don","'t"," stop"," 1234"," times","!!"," ","ok"]
    assert(n == 8, s"got $n pretokens")
  }

  test("HLL cardinality estimate tracks exact distinct count within rsd bounds") {
    // SURVEY §2.10: approx_count_distinct for corpus-scale cardinalities —
    // the exact groupBy-distinct is the oracle at test scale
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val row = docs.select(
      countDistinct(col("doc_id")).as("exact"),
      approx_count_distinct(col("doc_id"), rsd = 0.02).as("approx")).collect()(0)
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx $approx vs exact $exact")
  }

  test("dedup clusters: transitive pairs collapse, min id kept, singletons survive") {
    import spark.implicits._
    val universe = (1L to 7L).toDF("doc_id")
    // {1,2,3} linked transitively (1-2, 2-3), {5,6} directly; 4 and 7 alone
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.dedupClusters(universe, "doc_id", pairs)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (4L, 4L, 1L, true),
      (5L, 5L, 2L, true), (6L, 5L, 2L, false),
      (7L, 7L, 1L, true)))
    // exactly one keeper per cluster, and the doc universe is preserved
    assert(out.count(_._4) == 4)
    assert(out.map(_._1).toSeq == (1L to 7L).toSeq)
  }

  test("span dedup drops cross-doc repeats, keeps first occurrence, reassembles in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),       // spans (3 words): "a b c", "d e f"
      (2L, "a b c x y z"),       // first span duplicates doc 1's — dropped
      (3L, "x y z d e f"),       // both spans seen earlier (docs 2 and 1)
      (4L, "q r"))               // single short span, unique
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", spanWords = 3)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 2L, "a b c d e f"),
      (2L, 2L, 1L, "x y z"),
      (3L, 2L, 0L, ""),
      (4L, 1L, 1L, "q r")))
  }

  test("boilerplate strip removes high-df lines from every doc, keeps order") {
    val docs = Seq(
      (1L, "HEADER\nbody one\nFOOTER"),   // header+footer shared by 3 docs
      (2L, "HEADER\nbody two\nFOOTER"),
      (3L, "HEADER\nFOOTER"),             // pure boilerplate → empty
      (4L, "body one\nsolo line"),        // "body one" df=2 → also stripped
      (5L, "unique alone"))
      .toDF("doc_id", "text")
    val out = Dedup.stripBoilerplateLines(docs, "doc_id", "text", minDocFreq = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 0L, ""),                   // body one hit df=2 via doc 4
      (2L, 3L, 1L, "body two"),
      (3L, 2L, 0L, ""),
      (4L, 2L, 1L, "solo line"),
      (5L, 1L, 1L, "unique alone")))
    // unlike spanDedup there is no first-occurrence owner: NO doc keeps
    // a boilerplate line. And below the threshold nothing is touched.
    val loose = Dedup.stripBoilerplateLines(docs, "doc_id", "text", minDocFreq = 4)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(3)))
    assert(loose.toSeq == docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
    // blank lines are NEVER boilerplate (stripping paragraph separators
    // would collapse structure corpus-wide), and a NULL-text doc still
    // comes back as (0, 0, "") — every input doc is in the output
    val edge = Seq(
      (1L, "HEADER\n\nbody one"), (2L, "HEADER\n\nbody two"),
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val eo = Dedup.stripBoilerplateLines(edge, "doc_id", "text", minDocFreq = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(eo.toSeq == Seq(
      (1L, 3L, 2L, "\nbody one"),   // HEADER stripped; blank line survives
      (2L, 3L, 2L, "\nbody two"),
      (3L, 0L, 0L, "")))
  }

  test("dataset split is deterministic, complete, and roughly proportional") {
    val df = spark.range(1000).toDF("id")
    val out = df.select(TextStats.datasetSplit(col("id"), 80, 10).as("split"))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.values.sum == 1000)
    assert(out("train") > 700 && out("train") < 900)
    assert(out("val") > 40 && out("val") < 200)
    assert(out("test") > 40 && out("test") < 200)
    // same input → same assignment (hash-based, not sample-based)
    val a = df.select(col("id"), TextStats.datasetSplit(col("id"), 80, 10).as("s"))
    assert(a.exceptAll(a).isEmpty)
  }

  test("chunkWindows covers every token with stride overlap and ordered chunks") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 toks → starts 0,3,6,9
      (2L, "a b"),                                     // shorter than one window
      (3L, ""))                                        // empty text → one empty chunk
      .toDF("doc_id", "text")
    val out = TextStats.chunkWindows(df, "doc_id", "text", window = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._4).toSeq == Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10", "w10"))
    assert(d1.map(_._2).toSeq == Seq(0, 1, 2, 3), "chunk_idx is dense from 0")
    assert(d1.map(_._3).toSeq == Seq(4, 4, 4, 1), "tail chunk is short, not padded")
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, 2, "a b")))
    assert(out.filter(_._1 == 3L).length == 1, "empty text yields one chunk row")
    // every source token appears in some chunk (coverage, no gaps)
    assert(d1.flatMap(_._4.split(" ")).toSet == (1 to 10).map(i => s"w$i").toSet)
  }

  test("balancedSample caps over-represented domains, passes small ones whole") {
    val df = (0 until 300).map(i => (i.toLong, if (i < 280) "big" else "small"))
      .toDF("doc_id", "domain")
    val kept = TextStats.balancedSample(df, "domain", "doc_id")
    val counts = kept.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("small") == 20L, "under-represented domain passes through whole")
    // cap = ceil(300/2) = 150; md5-bucket keep is approximate around the rate
    assert(counts("big") < 280L && counts("big") > 100L,
      s"big domain downsampled toward the cap, got ${counts("big")}")
    // deterministic: same input → identical kept set
    val again = TextStats.balancedSample(df, "domain", "doc_id")
    assert(kept.select("doc_id").exceptAll(again.select("doc_id")).isEmpty)
  }

  test("trainingShards: complete scatter, dense per-shard positions, seed changes layout") {
    val df = spark.range(400).toDF("id")
    val out = TextStats.trainingShards(df, "id", numShards = 4, seed = "ep0")
      .select("id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.length == 400, "every row lands in exactly one shard")
    assert(out.map(_._2).toSet == Set(0L, 1L, 2L, 3L))
    out.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == g.indices.toSeq, "pos is dense from 0")
      // a reasonable scatter: no shard takes more than half the corpus
      assert(g.length < 200, s"shard skew: ${g.length}")
    }
    // shard order breaks id order (it's a shuffle, not a range split)
    val shard0 = out.filter(_._2 == 0L).sortBy(_._3).map(_._1)
    assert(shard0.toSeq != shard0.sorted.toSeq, "write order is shuffled")
    // a different seed reshuffles; the same seed reproduces exactly
    val ep1 = TextStats.trainingShards(df, "id", 4, "ep1")
      .select("id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(ep1.toSet != out.toSet, "epoch seed changes the layout")
    val again = TextStats.trainingShards(df, "id", 4, "ep0")
      .select("id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(again.toSet == out.toSet, "same seed reproduces the layout")
  }

  test("hierarchicalShards: full range, ragged groups safe, group-growth movement minimal") {
    val df = spark.range(2000).toDF("id")
    // square config 64 = 8×8
    val s64 = TextStats.hierarchicalShards(df, "id", 64, "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(s64.values.forall(s => s >= 0 && s < 64))
    assert(s64.values.toSet.size > 32, "2000 ids should hit most of 64 shards")
    // ragged config: S=10 → G=4, M=3, last group has a single real member;
    // out-of-range candidates (hash −1) must never win
    val s10 = TextStats.hierarchicalShards(df, "id", 10, "shard")
      .collect().map(r => r.getLong(1))
    assert(s10.forall(s => s >= 0 && s < 10), s"ragged overflow: ${s10.max}")
    // growth by one whole group (64 → 72, M fixed at 8): every mover
    // lands IN the new group, and ~n/9 of the corpus moves
    val s72 = TextStats.hierarchicalShards(df, "id", 72, "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val movers = s64.keys.filter(id => s64(id) != s72(id)).toSeq
    assert(movers.nonEmpty, "a new group must win some documents")
    assert(movers.forall(id => s72(id) >= 64),
      "per-level minimal movement: movers go only to the new group")
    assert(movers.size < 2000 / 9 * 2, s"movement ~n/9, got ${movers.size}")
    // deterministic replay
    val again = TextStats.hierarchicalShards(df, "id", 64, "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(again == s64)
  }

  test("int8 quantization: codes bounded, dequant error bounded, zero vector safe") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.125f)),
      (2L, Array(3.0f, 2.0f, -3.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)))    // all-zero: no NaN/ANSI crash
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs, "embedding")
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Int](r.fieldIndex("qvec")).toArray, r.getDouble(r.fieldIndex("scale"))))
    out.foreach { case (_, q, _) =>
      assert(q.forall(c => c >= -127 && c <= 127), "codes in int8 range")
    }
    // max-magnitude component always maps to ±127; dequant within scale/2
    val (_, q1, s1) = out(0)
    assert(q1(1) == -127)
    Seq(0.5, -1.0, 0.25, 0.125).zip(q1).foreach { case (x, c) =>
      assert(math.abs(c * s1 - x) <= s1 / 2 + 1e-12, s"dequant err for $x")
    }
    assert(out(2)._2.forall(_ == 0) && out(2)._3 == 0.0, "zero vector → zero codes")
  }

  test("quantized top-k agrees with exact top-k on well-separated neighbors") {
    // three tight clusters; within-cluster neighbors dominate cross-cluster
    val base = Seq(
      Array(1.0f, 0.1f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.1f, 0.0f),
      Array(0.0f, 0.1f, 1.0f, 0.5f))
    val vecs = (0 until 30).map { i =>
      val b = base(i % 3)
      (i.toLong, b.map(x => x * (1.0f + (i / 3) * 0.01f)))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(
        vecs.filter(col("vec_id") < 3), vecs, "vec_id", "embedding", k = 5, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val quant = Similarity.quantizedTopK(
        vecs.filter(col("vec_id") < 3), vecs, "vec_id", "embedding", k = 5, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // within a cluster the cosines tie exactly (scaled clones), so the
    // specific ids differ by tie-break; the invariant quantization must
    // preserve is cluster membership — all 5 neighbors from the query's
    // own cluster, in both paths
    assert(exact.length == 15 && quant.length == 15)
    Seq(exact, quant).foreach { pairs =>
      pairs.foreach { case (q, cand) =>
        assert(cand % 3 == q % 3, s"cross-cluster neighbor ($q, $cand)")
      }
    }
  }

  test("heap top-k aggregation returns the exact windowed top-k, ranks included") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 7)
    val win = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 6, dim = 64)
      .orderBy("query_id", "rank").collect()
    val agg = Similarity.bruteForceTopKAgg(q, emb, "vec_id", "embedding", k = 6, dim = 64)
      .orderBy("query_id", "rank").collect()
    assert(win.length == agg.length && win.length == 7 * 6)
    win.zip(agg).foreach { case (w, a) =>
      assert(w.getLong(0) == a.getLong(0) && w.getLong(1) == a.getLong(1)
        && w.getDouble(2) == a.getDouble(2) && w.getInt(3) == a.getInt(3),
        s"windowed=$w agg=$a")
    }
  }

  test("heap top-k buffer stays bounded, sorted, and merge-order invariant") {
    import graft.functions.TopK
    import graft.functions.TopK.{Scored, TopKBuf}
    val agg = TopK.topK(3)
    val ins = Seq(Scored(0.5, 4L), Scored(0.9, 2L), Scored(0.5, 1L),
      Scored(0.9, 9L), Scored(0.1, 7L), Scored(0.7, 3L))
    // sequential reduce
    val seqBuf = ins.foldLeft(agg.zero)(agg.reduce)
    assert(seqBuf.items == Seq(Scored(0.9, 2L), Scored(0.9, 9L), Scored(0.7, 3L)))
    // split/merge in every partition shape gives the same buffer
    (1 until ins.length).foreach { cut =>
      val (l, r) = ins.splitAt(cut)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(merged.items == seqBuf.items, s"cut=$cut")
    }
    // buffer never exceeds k even mid-stream
    val big = (0 until 100).map(i => Scored((i % 10) / 10.0, i.toLong))
    assert(big.foldLeft(agg.zero)(agg.reduce).items.length == 3)
    assert(agg.merge(TopKBuf(Vector.empty), seqBuf).items == seqBuf.items)
  }

  test("collocation lift: planted phrase dominates and matches hand arithmetic") {
    import graft.llmops.TextStats
    // "new york" always co-occurs; "the cat" / "the dog" split "the"'s mass
    val docs = Seq.fill(4)("new york the cat the dog").toDF("text")
    val out = TextStats.collocationLift(docs, "text", minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(5))).toMap
    // 24 tokens total; c(new york)=4, c(new)=4, c(york)=4 → lift = 4·24/(4·4)=6
    assert(out(("new", "york")) == (4L, 6.0))
    // c(the cat)=4, c(the)=8, c(cat)=4 → 4·24/(8·4) = 3
    assert(out(("the", "cat")) == (4L, 3.0))
    // cross-doc boundaries must NOT create bigrams: "dog new" never occurs
    assert(!out.contains(("dog", "new")))
  }

  test("lloyd step: centroids move toward their members and iterate cleanly") {
    import graft.llmops.KMeansOps
    // two well-separated clusters around (10,0) and (0,10); seeds off-center
    val pts = ((0 until 20).map(i => (i.toLong, Array(10.0 + i % 3, (i % 2).toDouble))) ++
      (20 until 40).map(i => (i.toLong, Array((i % 2).toDouble, 10.0 + i % 3))))
      .toDF("id", "vec")
    val seeds = Seq((0L, Array(8.0, 1.0)), (1L, Array(1.0, 8.0)))
      .toDF("cell_id", "centroid")
    val step1 = KMeansOps.lloydStep(pts, "id", "vec", seeds, dim = 2)
    val c1 = KMeansOps.toCentroidTable(step1)
    val rows = c1.orderBy("cell_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
    // cell 0 captured the x-heavy cluster, cell 1 the y-heavy one
    assert(rows.length == 2)
    assert(rows(0)._2.head > 9.0 && rows(0)._2(1) < 2.0, rows(0).toString)
    assert(rows(1)._2.head < 2.0 && rows(1)._2(1) > 9.0, rows(1).toString)
    // a second iteration over the refined table runs and is stable here
    // (assignments can't change once clusters are separated)
    val step2 = KMeansOps.lloydStep(pts, "id", "vec", c1, dim = 2)
    val c2 = KMeansOps.toCentroidTable(step2).orderBy("cell_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
    assert(c2.toSeq == rows.toSeq)
  }

  // ---- product quantization ------------------------------------------

  private lazy val pqVecs = (0 until 30).map { i =>
    val rng = new scala.util.Random(i % 10) // 10 distinct vectors, 3 copies
    (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1))
  }.toDF("vec_id", "embedding")

  test("PQ: codes are dense and in-range, clones encode identically, samples to themselves") {
    import graft.llmops.ProductQuantization
    val books = ProductQuantization.subspaceCodebooks(
      pqVecs.filter(col("vec_id") < 8), "vec_id", "embedding", m = 4, dim = 16)
    assert(books.count() == 32) // 8 samples × 4 subspaces
    val codes = ProductQuantization
      .pqEncode(pqVecs, "vec_id", "embedding", books, m = 4, dim = 16)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
    assert(codes.size == 30)
    codes.values.foreach(cs => assert(cs.length == 4 && cs.forall(c => c >= 0 && c < 8)))
    // identical vectors quantize to identical code words (deterministic argmin)
    (0 until 30).foreach(i => assert(codes(i.toLong) == codes((i % 10).toLong)))
    // a sample vector is at L2 distance 0 from its own slice in every
    // subspace, and samples are distinct, so it encodes to its own
    // position (ids 0..7 sorted → position = id)
    (0 until 8).foreach(j => assert(codes(j.toLong) == Seq.fill(4)(j)))
  }

  test("native PQ encode kernel is bit-identical to the HOF argmin, incl. ties") {
    import graft.llmops.ProductQuantization
    // sample 3 duplicates sample 0 → every subspace codebook holds two
    // identical centroids; the argmin tie must break to the LOWEST
    // position in both tiers
    val dupSamples = pqVecs.filter(col("vec_id") < 3)
      .union(pqVecs.filter(col("vec_id") === 0)
        .select(lit(3L).as("vec_id"), col("embedding")))
    val books = ProductQuantization.subspaceCodebooks(
      dupSamples, "vec_id", "embedding", m = 4, dim = 16)
    val native = ProductQuantization.pqEncode(pqVecs, "vec_id", "embedding", books, m = 4, dim = 16)
    // local-relation inputs constant-fold through ConvertToLocalRelation,
    // so the native expression only survives in the ANALYZED plan here
    assert(native.queryExecution.analyzed.toString.contains("graft_pq_code"))
    val fold = ProductQuantization.pqEncodeFold(pqVecs, "vec_id", "embedding", books, m = 4, dim = 16)
    val nm = native.collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
    val fm = fold.collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
    assert(nm == fm)
    // the family-0 clones sit at distance 0 from BOTH copies — position 0 wins
    assert(nm(0L) == Seq.fill(4)(0) && nm(10L) == Seq.fill(4)(0))
  }

  test("PQ: ADC top-k recalls most of the exact dot-product ranking") {
    import graft.llmops.ProductQuantization
    val books = ProductQuantization.subspaceCodebooks(
      pqVecs.filter(col("vec_id") < 8), "vec_id", "embedding", m = 4, dim = 16)
    val enc = ProductQuantization.pqEncode(pqVecs, "vec_id", "embedding", books, m = 4, dim = 16)
    val adc = ProductQuantization
      .adcTopK(pqVecs, enc, books, "vec_id", "embedding", k = 3, m = 4, dim = 16)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    // exact inner-product ranking (ADC approximates dot, not cosine)
    val raw = pqVecs.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map(p => p._1 * p._2).sum
    val exact = raw.keys.flatMap { q =>
      raw.keys.filter(_ != q).toSeq
        .sortBy(c => (-dot(raw(q), raw(c)), c)).take(3).map(c => (q, c))
    }.toSet
    assert(adc.size == 90) // 30 queries × k=3
    val recall = (adc & exact).size.toDouble / exact.size
    // measured 0.867 on this deterministic fixture with an 8-code × 4-sub
    // codebook; 0.7 floors it well above chance (3/29 ≈ 0.10)
    assert(recall >= 0.7, s"ADC recall@3 = $recall")
  }

  test("PQ: IVFADC at full probe equals flat ADC; pruning keeps per-query k") {
    import graft.llmops.ProductQuantization
    val books = ProductQuantization.subspaceCodebooks(
      pqVecs.filter(col("vec_id") < 8), "vec_id", "embedding", m = 4, dim = 16)
    val centroids = pqVecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell_id"), col("embedding").as("centroid"))
    val enc = ProductQuantization.pqEncode(pqVecs, "vec_id", "embedding", books, m = 4, dim = 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "cand_id", "score", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val flat = rows(ProductQuantization.adcTopK(
      pqVecs, enc, books, "vec_id", "embedding", k = 3, m = 4, dim = 16))
    // probing every cell scores every candidate — the two-level index
    // must then reproduce the flat scan exactly (same scores, same ranks)
    val full = rows(ProductQuantization.ivfPqTopK(pqVecs, pqVecs, centroids,
      books, "vec_id", "embedding", k = 3, nProbe = 8, m = 4, dim = 16))
    assert(full == flat)
    // nProbe=1 prunes to one cell: every query still finds its 2 fellow
    // clones (a clone's own sample cell is its exact-cosine-1 argmax),
    // plus at most k−2 other cell members
    val pruned = ProductQuantization.ivfPqTopK(pqVecs, pqVecs, centroids,
      books, "vec_id", "embedding", k = 3, nProbe = 1, m = 4, dim = 16)
      .groupBy("query_id").count().collect()
    assert(pruned.length == 30 && pruned.forall(r => r.getLong(1) >= 2L && r.getLong(1) <= 3L),
      pruned.mkString(","))
  }

  test("PQ: residual IVFADC recall and score fidelity >= non-residual at pruned probe") {
    import graft.llmops.ProductQuantization
    val centroids = pqVecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell_id"), col("embedding").as("centroid"))
    val rawBooks = ProductQuantization.subspaceCodebooks(
      pqVecs.filter(col("vec_id") < 8), "vec_id", "embedding", m = 4, dim = 16)
    // residual codebooks from samples DISJOINT from the centroid set
    // (a centroid's own residual is zero — see residualCodebooks doc)
    val resBooks = ProductQuantization.residualCodebooks(
      pqVecs.filter(col("vec_id") >= 8 && col("vec_id") < 16),
      "vec_id", "embedding", centroids, m = 4, dim = 16)
    def run(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "cand_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val nonRes = run(ProductQuantization.ivfPqTopK(pqVecs, pqVecs, centroids,
      rawBooks, "vec_id", "embedding", k = 3, nProbe = 2, m = 4, dim = 16))
    val res = run(ProductQuantization.ivfPqResidualTopK(pqVecs, pqVecs, centroids,
      resBooks, "vec_id", "embedding", k = 3, nProbe = 2, m = 4, dim = 16))
    // exact inner-product top-3 (the quantity both indexes approximate)
    val raw = pqVecs.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map(p => p._1 * p._2).sum
    val exact = raw.keys.flatMap { q =>
      raw.keys.filter(_ != q).toSeq
        .sortBy(c => (-dot(raw(q), raw(c)), c)).take(3).map(c => (q, c))
    }.toSet
    def recall(m: Map[(Long, Long), Double]) =
      (m.keySet & exact).size.toDouble / exact.size
    assert(recall(res) >= recall(nonRes),
      s"residual recall ${recall(res)} < non-residual ${recall(nonRes)}")
    // residual scores are STRICTLY more faithful to the true dot on this
    // fixture: every candidate's residual lands exactly in the residual
    // codebook (clone families), while raw-PQ must approximate the
    // family-8/9 vectors that aren't in the raw codebook
    def err(m: Map[(Long, Long), Double]) = m.map { case ((q, c), s) =>
      math.abs(s - dot(raw(q), raw(c))) }.sum
    assert(err(res) == 0.0, s"residual ADC not exact on clone fixture: ${err(res)}")
    assert(err(nonRes) > 0.0, "fixture too easy — raw PQ also exact")
  }

  test("PQ: one refine sweep reduces total quantization distortion") {
    import graft.llmops.ProductQuantization
    // integer codes → every distance/mean is exact, so the measured
    // distortion drop (454944 → 244098 on this fixture) is deterministic
    val q = Similarity.quantizeInt8(pqVecs, "embedding")
      .select(col("vec_id"), col("qvec").cast("array<double>").as("qv"))
    val seed = ProductQuantization.subspaceCodebooks(
      q.filter(col("vec_id") < 8), "vec_id", "qv", m = 4, dim = 16)
    val refinedLong = ProductQuantization.pqRefineStep(q, "vec_id", "qv", seed, m = 4, dim = 16)
    // every subspace keeps its 8 codes and accounts for every vector
    val shape = refinedLong.groupBy("sub")
      .agg(countDistinct("code_id").as("k"), sum("n_points").as("n"))
      .collect().map(r => (r.getAs[Int]("sub"), r.getAs[Long]("k"), r.getAs[Long]("n"))).toSet
    assert(shape == (0 until 4).map(s => (s, 8L, 120L)).toSet) // 30 vecs × 4 dims
    val refined = ProductQuantization.toCodebookTable(refinedLong)
    val qraw = q.collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray).toMap
    def booksMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Int]("sub"), r.getSeq[Double](r.fieldIndex("centroid")).toArray))
      .groupBy(_._1).map { case (s, a) => s -> a.map(_._2) }
    def distortion(bm: Map[Int, Array[Array[Double]]]): Double =
      qraw.values.map { v =>
        (0 until 4).map { s =>
          val sv = v.slice(s * 4, (s + 1) * 4)
          bm(s).map(c => sv.zip(c).map(p => (p._1 - p._2) * (p._1 - p._2)).sum).min
        }.sum
      }.sum
    assert(distortion(booksMap(refined)) < distortion(booksMap(seed)))
  }

  test("contamination score grades overlap: clone=1, partial in (0,1), clean=0 present") {
    val corpus = Seq((0L, base), (1L, base + " " + unrelated), (2L, unrelated))
      .toDF("doc_id", "text")
    val bench = Seq(Tuple1(base)).toDF("text")
    val out = Dedup.contaminationScore(corpus, "doc_id", "text", bench, "text", 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_contaminated"),
          r.getAs[Double]("contamination"))).toMap
    assert(out(0L)._3 == 1.0)                       // verbatim benchmark doc
    assert(out(1L)._3 > 0.0 && out(1L)._3 < 1.0)    // half-contaminated
    assert(out(2L) == ((out(2L)._1, 0L, 0.0)))      // clean doc PRESENT at 0
    // graded score refines the binary decision: decontaminate drops
    // exactly the docs this report scores > 0
    val dropped = Dedup.decontaminate(corpus, "doc_id", "text", bench, "text", 3)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(dropped == out.filter(_._2._3 == 0.0).keySet)
  }

  test("recipe plan water-fills: scarce domain saturates, surplus redistributes") {
    // domain A: 10000 tokens available, B: 1000, equal target weights,
    // budget 8000 → naive split gives each 4000; B can only fill 1000,
    // so water-filling hands its unfilled 3000 to A
    val docs = Seq(("A", 10000L), ("B", 1000L)).toDF("dom", "toks")
    val out = TextStats.recipePlan(docs, "dom", "toks",
        weights = Map("A" -> 1L, "B" -> 1L), budgetTokens = 8000L)
      .collect().map(r => r.getAs[String]("dom") ->
        (r.getAs[Long]("assigned"), r.getAs[Double]("rate"))).toMap
    assert(out("B") == ((1000L, 1.0)))
    assert(out("A") == ((7000L, 0.7)))
    // fixed point: more rounds change nothing once saturation stabilizes
    val more = TextStats.recipePlan(docs, "dom", "toks",
        weights = Map("A" -> 1L, "B" -> 1L), budgetTokens = 8000L, rounds = 6)
      .collect().map(r => r.getAs[String]("dom") -> r.getAs[Long]("assigned")).toMap
    assert(more == Map("A" -> 7000L, "B" -> 1000L))
    // a domain weighted but absent from the corpus takes nothing; a
    // corpus domain with no weight contributes nothing
    val out2 = TextStats.recipePlan(docs, "dom", "toks",
        weights = Map("A" -> 1L, "C" -> 1L), budgetTokens = 4000L)
      .collect().map(r => r.getAs[String]("dom") ->
        (r.getAs[Long]("assigned"), r.getAs[Double]("rate"))).toMap
    assert(out2("C") == ((0L, 0.0)))      // nothing to take
    assert(out2("B")._1 == 0L)            // unweighted → zero quota
    assert(out2("A")._1 == 4000L)         // C's share redistributed to A
  }

  test("recipe plan never over-assigns when saturation cascades past rounds") {
    // Saturation cascades 4 waves with the default rounds=3: A fills in
    // round 1, B in round 2, C in round 3, and D's mass sits just under
    // the round-4 quota it never sees. The final allocation must clamp
    // D at its avail (rate == 1.0, never > 1) rather than assign the
    // unclamped quota.
    val docs = Seq(("A", 100000L), ("B", 281000L), ("C", 288500L),
      ("D", 289900L), ("E", 10000000L)).toDF("dom", "toks")
    val out = TextStats.recipePlan(docs, "dom", "toks",
        weights = Map("A" -> 1L, "B" -> 1L, "C" -> 1L, "D" -> 1L, "E" -> 1L),
        budgetTokens = 1250000L)
      .collect().map(r => r.getAs[String]("dom") ->
        (r.getAs[Long]("avail"), r.getAs[Long]("assigned"),
          r.getAs[Double]("rate"))).toMap
    out.foreach { case (dom, (avail, assigned, rate)) =>
      assert(assigned <= avail, s"$dom over-assigned: $assigned > $avail")
      assert(rate <= 1.0, s"$dom rate $rate > 1.0")
    }
    assert(out("D")._2 == 289900L)
    // with enough rounds the cascade completes and D's clamped surplus
    // IS redistributed (E absorbs it); total then meets the budget
    val full = TextStats.recipePlan(docs, "dom", "toks",
        weights = Map("A" -> 1L, "B" -> 1L, "C" -> 1L, "D" -> 1L, "E" -> 1L),
        budgetTokens = 1250000L, rounds = 5)
      .collect().map(r => r.getAs[Long]("assigned")).sum
    assert(full == 1250000L)
  }

  test("recipe plan rejects a negative budget, weight or round count; overflow throws") {
    val docs = Seq(("A", 10000L), ("B", 1000L)).toDF("dom", "toks")
    val w = Map("A" -> 1L, "B" -> 1L)
    intercept[IllegalArgumentException](
      TextStats.recipePlan(docs, "dom", "toks", w, budgetTokens = -8000L))
    intercept[IllegalArgumentException](
      TextStats.recipePlan(docs, "dom", "toks", Map("A" -> 2L, "B" -> -1L), 8000L))
    intercept[IllegalArgumentException](
      TextStats.recipePlan(docs, "dom", "toks", w, 8000L, rounds = -1))
    // (budget · w) past 2^63 must fail, not wrap into a bogus quota
    intercept[ArithmeticException](
      TextStats.recipePlan(docs, "dom", "toks",
        Map("A" -> Long.MaxValue / 2, "B" -> 1L), 8000L))
  }

  /** recipePlan's former DataFrame water-filling, kept as the reference:
    * element r is its result with `rounds` = r. Each round used to read
    * the state twice (the rows and their one-row totals), doubling the
    * plan per round; the state is localCheckpoint'ed between rounds here
    * only to cut that lineage — the values are unchanged. */
  private def dataFrameRecipePlans(df: org.apache.spark.sql.DataFrame,
      domainCol: String, tokenCol: String, weights: Map[String, Long],
      budgetTokens: Long, maxRounds: Int): IndexedSeq[org.apache.spark.sql.DataFrame] = {
    val w = weights.toSeq.toDF(domainCol, "w")
    val avail = df.groupBy(col(domainCol))
      .agg(sum(col(tokenCol)).as("avail"))
    var state = w.join(avail, Seq(domainCol), "full")
      .select(col(domainCol),
        coalesce(col("avail"), lit(0L)).as("avail"),
        coalesce(col("w"), lit(0L)).as("w"),
        lit(false).as("sat"))
    val quotaExpr = s"CASE WHEN coalesce(wAct, CAST(0 AS BIGINT)) = 0 " +
      s"THEN CAST(0 AS BIGINT) ELSE " +
      s"((CAST($budgetTokens AS BIGINT) - coalesce(satSum, CAST(0 AS BIGINT))) * w) div wAct END"
    def withTotals(s: org.apache.spark.sql.DataFrame) = {
      val tot = s.agg(
        sum(when(col("sat"), col("avail"))).as("satSum"),
        sum(when(!col("sat"), col("w"))).as("wAct"))
      s.crossJoin(broadcast(tot))
    }
    (0 to maxRounds).map { r =>
      if (r > 0)
        state = withTotals(state)
          .withColumn("sat",
            col("sat") || col("avail") <= expr(quotaExpr))
          .select(col(domainCol), col("avail"), col("w"), col("sat"))
          .localCheckpoint()
      withTotals(state)
        .withColumn("assigned",
          when(col("sat"), col("avail"))
            .otherwise(least(expr(quotaExpr), col("avail"))))
        .select(col(domainCol), col("avail"), col("w"), col("assigned"),
          when(col("avail") === 0, lit(0.0))
            .otherwise(col("assigned").cast("double") / col("avail").cast("double"))
            .as("rate"))
    }
  }

  test("recipe plan equals the DataFrame water-filling row for row on seeded mixes") {
    // Random mixes over d0..d5 with a null-domain group, unweighted corpus
    // domains, weighted domains absent from the corpus, zero weights,
    // zero-token domains and null token counts; every third seed plants a
    // one-domain-per-round saturation cascade as long as the mix. Each mix
    // is planned at rounds 0 .. |domains|+1.
    def mix(seed: Int): (Seq[(String, Option[Long])], Map[String, Long], Long) = {
      val rnd = new scala.util.Random(seed)
      if (seed % 3 == 0) {
        // domain i saturates in round i+1: its avail sits in the lower
        // half of (quota of round i, quota of round i+1]; d9 absorbs the rest
        val n = 4 + rnd.nextInt(2)
        val budget = 1000000L + rnd.nextInt(1000000)
        var rest = budget
        var prev = 0L
        val docs = (0 until n).map { i =>
          val q = rest / (n + 1 - i)
          val a = prev + 1 + rnd.nextLong((q - prev) / 2)
          rest -= a
          prev = q
          (s"d$i", Some(a))
        } :+ (("d9", Some(budget * 10)))
        (docs, docs.map(_._1 -> 1L).toMap, budget)
      } else {
        val corpus = rnd.shuffle((0 to 3).map(i => s"d$i")).take(1 + rnd.nextInt(4)) ++
          (if (rnd.nextBoolean()) Seq(null) else Nil)
        val docs = corpus.flatMap { d =>
          val zero = rnd.nextInt(5) == 0
          Seq.fill(1 + rnd.nextInt(3))(d ->
            (if (rnd.nextInt(8) == 0) None
             else Some(if (zero) 0L else rnd.nextLong(3000L))))
        }
        val weights = rnd.shuffle((0 to 5).map(i => s"d$i")).take(rnd.nextInt(5))
          .map(_ -> rnd.nextLong(6L)).toMap
        val total = docs.flatMap(_._2).sum
        (docs, weights, if (rnd.nextInt(6) == 0) 0L else rnd.nextLong(total * 3 / 2 + 1))
      }
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2), r.getLong(3),
        java.lang.Double.doubleToRawLongBits(r.getDouble(4))))
      .sortBy(t => (t._1, t._2, t._3, t._4, t._5))
    var cutShort = 0
    for (seed <- 1 to 6) {
      val (docs, weights, budget) = mix(seed)
      val df = docs.toDF("dom", "toks")
      val nDomains = (docs.map(_._1) ++ weights.keys).distinct.size
      val reference = dataFrameRecipePlans(df, "dom", "toks", weights, budget,
        nDomains + 1)
      val plans = reference.indices.map { r =>
        val got = TextStats.recipePlan(df, "dom", "toks", weights, budget, r)
        assert(got.schema == reference(r).schema)
        val expected = rows(reference(r))
        assert(rows(got) == expected, s"seed $seed rounds $r")
        expected
      }
      cutShort += plans.indices.count(r => r >= 3 && plans(r) != plans.last)
    }
    // some mix is still saturating past the default 3 rounds
    assert(cutShort > 0)
  }

  test("curate pipeline: every stage fires on its planted case, shards are dense") {
    // one planted victim per stage; distinct vocab elsewhere so stages
    // can't cross-trigger
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "en", "the the the the"),                      // quality-gated
      (10L, "en", "one two three four five six seven eight nine ten eleven twelve"),
      (11L, "en", "one two three four five six seven eight nine ten eleven twelve"), // exact clone
      (20L, "en", "red orange yellow green blue indigo violet cyan magenta teal maroon navy"),
      (21L, "en", "red orange yellow green blue indigo violet cyan magenta teal maroon olive"), // near-dup
      (30L, "en", "contaminated trigram leak plus filler words here now okay fine good yes"),
      // the ordering trap: 50 is contaminated AND the min-id near-dup of
      // clean 51 — near-dup-before-decon would delete both
      (50L, "en", "apple pear plum cherry grape lemon lime fig date secret bench phrase"),
      (51L, "en", "apple pear plum cherry grape lemon lime fig date juniper holly elm"),
      (60L, "en", "sun moon star cloud rain snow wind storm mist frost dew hail"),
      (61L, "en", "north south east west up down left right front back inner outer"), // budget-cut
      (40L, "de", "uno dos tres cuatro cinco seis siete ocho nueve diez once doce"),
      (41L, "de", "einz zwei drei vier funf sechs sieben acht neun zehn elf zwolf"))
      .toDF("doc_id", "domain", "text")
    val bench = Seq("contaminated trigram leak", "secret bench phrase").toDF("text")
    val out = Pipelines.curate(docs, "doc_id", "text", "domain",
        bench, "text", stopwords = Seq("the", "a"), minQuality = 0.3,
        shingleSize = 3, nearDupThreshold = 0.5, decontamN = 3,
        weights = Map("en" -> 1L, "de" -> 1L), budgetTokens = 80L,
        numShards = 2, shardSeed = "s").collect()
    // gate drops 2; exact dedup drops 11; decontamination drops 30 and 50
    // BEFORE near-dup dedup, so clean 51 survives its contaminated
    // canonical; near-dup drops 21 (larger id than 20). Water-filling:
    // de saturates at its 24 available tokens, the surplus flows to en
    // (quota 80 − 24 = 56); over en survivors 1,10,20,51,60,61
    // (12 tokens each, equal quality, id order) that admits through 60
    // (STARTS at 48 < 56 — bounded overshoot) and cuts 61 (starts at 60)
    assert(out.map(_.getAs[Long]("doc_id")).toSet ==
      Set(1L, 10L, 20L, 51L, 60L, 40L, 41L))
    val shards = out.map(_.getAs[Long]("shard"))
    assert(shards.forall(s => s >= 0 && s < 2))
    out.groupBy(_.getAs[Long]("shard")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("pos")).sorted.toSeq == (0 until rows.length))
    }
  }

  test("incremental curate: registry catches batch victims; chaining ≡ full-corpus filter") {
    import graft.llmops.Pipelines
    // ingest 1 (the history): a quality doc, a doc that will be cloned,
    // a doc that will be near-duplicated, and a doc DROPPED as a near-dup
    // in its own ingest (21 vs 20) whose signature must STILL kill future
    // dups (the stage-4-participant registry rule)
    val history = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (10L, "one two three four five six seven eight nine ten eleven twelve"),
      (20L, "red orange yellow green blue indigo violet cyan magenta teal maroon navy"),
      (21L, "red orange yellow green blue indigo violet cyan magenta teal maroon olive"))
      .toDF("doc_id", "text")
    // ingest 2 (the batch): one victim per registry stage + the
    // within-batch cases + one clean survivor
    val batch = Seq(
      (100L, "the the the the"),                       // quality-gated
      (110L, "one two three four five six seven eight nine ten eleven twelve"), // exact clone OF REGISTRY
      (120L, "red orange yellow green blue indigo violet cyan magenta teal maroon pine"), // near-dup OF 21 (itself dropped)
      (130L, "contaminated trigram leak plus filler words here now okay fine good yes"),
      (140L, "sun moon star cloud rain snow wind storm mist frost dew hail"),
      (141L, "sun moon star cloud rain snow wind storm mist frost dew hail"), // exact clone WITHIN batch
      (150L, "north south east west up down left right front back inner outer"),
      (151L, "north south east west up down left right front back inner void")) // near-dup WITHIN batch
      .toDF("doc_id", "text")
    val bench = Seq("contaminated trigram leak").toDF("text")
    def ingest(b: org.apache.spark.sql.DataFrame,
        reg: Pipelines.CurationRegistry) =
      Pipelines.curateIncremental(b, "doc_id", "text", bench, "text",
        stopwords = Seq("the", "a"), minQuality = 0.3, shingleSize = 3,
        numHashes = 16, rowsPerBand = 1, nearDupThreshold = 0.5,
        decontamN = 3, registry = reg)
    val reg0 = Pipelines.CurationRegistry.empty(spark, "doc_id", "text")
    val (kept1, reg1) = ingest(history, reg0)
    assert(kept1.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 10L, 20L))
    // 21 was dropped as 20's near-dup but must sit in the sig registry
    assert(reg1.sigs.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 10L, 20L, 21L))
    val (kept2, reg2) = ingest(batch, reg1)
    assert(kept2.select("doc_id").as[Long].collect().toSet ==
      Set(140L, 150L))
    // equivalence: chained ingests ≡ the full-corpus filter pipeline
    // restricted to the batch ids (same fixed banding)
    val full = Pipelines.curateFilterStages(history.unionAll(batch),
      "doc_id", "text", bench, "text", stopwords = Seq("the", "a"),
      minQuality = 0.3, shingleSize = 3, numHashes = 16, rowsPerBand = 1,
      nearDupThreshold = 0.5, decontamN = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "quality")
        .as[(Long, Long, Double)].collect().toSet
    assert(rows(kept1) ++ rows(kept2) == rows(full))
    // registries compose: keys grew by the batch's novel keys only
    // (the five stage-2 survivors: 120, 130, 140, 150, 151)
    assert(reg2.keys.as[String].collect().length ==
      reg1.keys.as[String].collect().length + 5)
    // SEGMENTED persistence: each ingest's DELTA written as its own
    // segment dir (O(batch) I/O — the daily path), re-merged at open;
    // ingest 2 against the segment-opened registry keeps the same docs
    val (_, delta1) = Pipelines.curateIngest(history, "doc_id", "text",
      bench, "text", stopwords = Seq("the", "a"), minQuality = 0.3,
      shingleSize = 3, numHashes = 16, rowsPerBand = 1,
      nearDupThreshold = 0.5, decontamN = 3, registry = reg0)
    val seg1 = java.nio.file.Files.createTempDirectory("curseg1").toString
    Pipelines.writeRegistrySegment(delta1, seg1)
    val segReg = Pipelines.readRegistrySegments(spark, Seq(seg1))
    assert(segReg.sigs.select("doc_id").as[Long].collect().toSet ==
      reg1.sigs.select("doc_id").as[Long].collect().toSet)
    val (kept2seg, delta2) = Pipelines.curateIngest(batch, "doc_id",
      "text", bench, "text", stopwords = Seq("the", "a"), minQuality = 0.3,
      shingleSize = 3, numHashes = 16, rowsPerBand = 1,
      nearDupThreshold = 0.5, decontamN = 3, registry = segReg)
    assert(rows(kept2seg) == rows(kept2))
    val seg2 = java.nio.file.Files.createTempDirectory("curseg2").toString
    Pipelines.writeRegistrySegment(delta2, seg2)
    // two-segment open ≡ the in-memory accumulated registry
    val reg12 = Pipelines.readRegistrySegments(spark, Seq(seg1, seg2))
    assert(reg12.sigs.select("doc_id").as[Long].collect().toSet ==
      reg2.sigs.select("doc_id").as[Long].collect().toSet)
    assert(reg12.keys.as[String].collect().sorted.toSeq ==
      reg2.keys.as[String].collect().sorted.toSeq)
    // guard rails: a double-ingested segment refuses to OPEN (its
    // duplicated sigs would double every future candidate volume
    // silently); compaction refuses an outDir that ALIASES an input
    intercept[RuntimeException] {
      Pipelines.readRegistrySegments(spark, Seq(seg1, seg1))
    }
    intercept[IllegalArgumentException] {
      Pipelines.compactRegistrySegments(spark, Seq(seg1, seg2), seg1 + "/")
    }
    // compaction rewrites the list as ONE value-identical segment
    val cmp = java.nio.file.Files.createTempDirectory("curcmp").toString
    Pipelines.compactRegistrySegments(spark, Seq(seg1, seg2), cmp)
    val regC = Pipelines.readRegistrySegments(spark, Seq(cmp))
    assert(regC.sigs.select("doc_id").as[Long].collect().toSet ==
      reg2.sigs.select("doc_id").as[Long].collect().toSet)
    assert(regC.texts.select("doc_id").as[Long].collect().toSet ==
      reg2.texts.select("doc_id").as[Long].collect().toSet)
  }

  test("curate keeps exactly curateFilterStages' survivors at the sized banding") {
    // seeded corpus: random 25-34 token docs from a wide vocabulary, plus
    // planted exact clones, near-dups (last token replaced) and
    // contaminated copies of them, plus stopword-only docs the gate drops
    val rnd = new scala.util.Random(11)
    def words(k: Int) = Seq.fill(k)(s"w${rnd.nextInt(500)}")
    val base = (1 to 120).map(i =>
      (i.toLong, Seq("x", "y", "z")(rnd.nextInt(3)), words(25 + rnd.nextInt(10))))
    val leaks = Seq.fill(3)(Seq.fill(6)(s"b${rnd.nextInt(1000)}"))
    val planted = (121 to 150).map { i =>
      val (_, dom, src) = base(rnd.nextInt(base.size))
      (i.toLong, dom, i % 3 match {
        case 0 => src
        case 1 => src.updated(src.size - 1, s"fresh$i")
        case _ => src.take(10) ++ leaks(i % leaks.size) ++ src.drop(10)
      })
    }
    val lowQuality = (151 to 155).map(i => (i.toLong, "x", Seq.fill(30)("the")))
    val all = base ++ planted ++ lowQuality
    val docs = all.map { case (i, d, t) => (i, d, t.mkString(" ")) }
      .toDF("doc_id", "domain", "text")
    val bench = leaks.map(_.mkString(" ")).toDF("text")
    val stop = Seq("the", "a")
    // every domain weighted and a budget >= the total token count: the
    // planning stages keep every stage-4 survivor
    val budget = all.map(_._3.size.toLong).sum
    val curated = Pipelines.curate(docs, "doc_id", "text", "domain", bench,
        "text", stop, minQuality = 0.5, shingleSize = 3,
        nearDupThreshold = 0.7, decontamN = 5,
        weights = Map("x" -> 1L, "y" -> 1L, "z" -> 1L), budgetTokens = budget,
        numShards = 3, shardSeed = "s")
      .select("doc_id").as[Long].collect()
    // the banding minhashNearDupsSized picks for curate's stage-4 input
    val clean = Dedup.decontaminate(
      Dedup.exactDedup(docs.filter(TextStats.qualityScore(col("text"), stop) >= 0.5),
        "doc_id", TextStats.fingerprint(col("text"))).drop("dedup_key", "group_size"),
      "doc_id", "text", bench, "text", 5)
    val n = clean.count()
    val (h, r) = Dedup.minhashParamsForCorpus(n, 0.7)
    val filtered = Pipelines.curateFilterStages(docs, "doc_id", "text", bench,
        "text", stop, minQuality = 0.5, shingleSize = 3, numHashes = h,
        rowsPerBand = r, nearDupThreshold = 0.7, decontamN = 5)
      .select("doc_id").as[Long].collect()
    assert(curated.length == curated.distinct.length)
    assert(curated.toSet == filtered.toSet)
    // every stage fired: the gate, exact dedup and decontamination cut the
    // 155 docs to n, and near-dup dedup cut n further
    assert(n < 155 - lowQuality.size - 10)
    assert(filtered.length < n)
  }

  test("curateIngest rejects non-integral ids (the registry watermarks order ids as longs)") {
    val batch = Seq(("5", "alpha beta gamma delta epsilon zeta eta theta"),
      ("10", "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Pipelines.curateIngest(batch, "doc_id", "text", Seq("leak").toDF("text"),
        "text", Seq("the"), minQuality = 0.0, shingleSize = 3,
        numHashes = 16, rowsPerBand = 4, nearDupThreshold = 0.5,
        decontamN = 3,
        registry = Pipelines.CurationRegistry.empty(spark, "doc_id", "text"))
    }
  }

  test("writeRegistry rejects a hand-built registry with string ids") {
    // the stats watermarks are min/max over the stored id column: over
    // strings they order as text ("10" < "9") and the segmented open's
    // overlap guard would then pass double-ingested segments
    val reg = Pipelines.CurationRegistry(Seq("k").toDF("dedup_key"),
      Seq(("9", Seq(1L, 2L)), ("10", Seq(3L, 4L))).toDF("doc_id", "sig"),
      Seq(("9", "nine"), ("10", "ten")).toDF("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-reg").toString
    val e = intercept[IllegalArgumentException] {
      Pipelines.writeRegistry(reg, s"$dir/reg")
    }
    assert(e.getMessage.contains("writeRegistry"), e.getMessage)
    assert(!new java.io.File(s"$dir/reg").exists())
  }

  test("shard manifest flips on any edit, reorder, or loss") {
    val base = TextStats.trainingShards(
      (0 until 40).map(i => (i.toLong, s"doc number $i body", 3L))
        .toDF("doc_id", "text", "n_tokens"),
      "doc_id", numShards = 2, seed = "s")
    def manifest(df: org.apache.spark.sql.DataFrame) =
      TextStats.shardManifest(df, "text", "n_tokens").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
        .toMap
    val m1 = manifest(base)
    assert(m1.values.map(_._1).sum == 40L)
    // identical layout → identical manifest (repartition can't change it)
    assert(manifest(base.repartition(7)) == m1)
    // one edited byte flips exactly that doc's shard hash, counts intact
    val edited = base.withColumn("text",
      when(col("doc_id") === 3, concat(col("text"), lit("!"))).otherwise(col("text")))
    val m2 = manifest(edited)
    val changedShard = base.filter(col("doc_id") === 3)
      .select("shard").head().getLong(0)
    assert(m2(changedShard)._3 != m1(changedShard)._3)
    assert(m2.filter(_._1 != changedShard) == m1.filter(_._1 != changedShard))
    // a lost doc flips its shard's count AND hash
    val m3 = manifest(base.filter(col("doc_id") =!= 3))
    assert(m3(changedShard)._1 == m1(changedShard)._1 - 1)
    assert(m3(changedShard)._3 != m1(changedShard)._3)
  }

  test("binned quantiles track exact quantiles within one bin width") {
    // uniform 0..999: p50 ≈ 500, p90 ≈ 900 — binned estimates must land
    // within one bin width (100) of truth, and exactly at edges when the
    // target rank falls on a bin boundary
    val df = spark.range(1000).toDF("v").withColumn("g", lit("a"))
    val out = TextStats.binnedQuantiles(df, "g", "v",
        lo = 0.0, hi = 1000.0, nBins = 10, qs = Seq(0.5, 0.9))
      .collect().map(r => r.getAs[Double]("q") ->
        (r.getAs[Long]("n"), r.getAs[Double]("estimate"))).toMap
    // target 500 lands exactly on the bin-4/bin-5 boundary: bin 4 holds
    // ranks 401..500, interpolation gives 400 + 100·(500-400)/100 = 500
    assert(out(0.5) == ((1000L, 500.0)))
    assert(out(0.9) == ((1000L, 900.0)))
    // out-of-range values clamp into the edge bins, never vanish
    val clamped = TextStats.binnedQuantiles(
        Seq(("a", -50L), ("a", 10L), ("a", 99999L)).toDF("g", "v"),
        "g", "v", lo = 0.0, hi = 100.0, nBins = 4, qs = Seq(1.0))
      .collect()
    assert(clamped.length == 1 && clamped.head.getAs[Long]("n") == 3L)
  }

  test("budget fill keeps the quality-ordered prefix; overshoot bounded by one doc") {
    val docs = Seq(
      ("en", 1L, 100L, 0.9), ("en", 2L, 100L, 0.8), ("en", 3L, 100L, 0.7),
      ("en", 4L, 100L, 0.6),
      ("de", 5L, 50L, 0.5), ("de", 6L, 50L, 0.4),
      ("fr", 7L, 10L, 0.9))
      .toDF("lang", "doc_id", "toks", "q")
    val quotas = Seq(("en", 250L), ("de", 10L)).toDF("lang", "quota")
    val out = TextStats.selectToBudget(docs, "doc_id", "lang", "toks", "q", quotas)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("keep"), r.getAs[Long]("cum_tokens"))).toMap
    // en quota 250: docs 1,2 fit fully; doc 3 STARTS at 200 < 250 → kept
    // (overshoot bounded by one doc); doc 4 starts at 300 → cut
    assert(out(1L) == ((true, 100L)) && out(2L) == ((true, 200L)))
    assert(out(3L) == ((true, 300L)))
    assert(out(4L) == ((false, 400L)))
    // de quota 10 < first doc, but the first doc STARTS at 0 → kept
    assert(out(5L)._1 && !out(6L)._1)
    // fr has no quota row → quota 0 → nothing starts within budget
    assert(!out(7L)._1)
    // the documented composition: recipePlan's output (quota column
    // named "assigned") feeds in directly via quotaCol
    val planned = TextStats.recipePlan(docs, "lang", "toks",
      weights = Map("en" -> 2L, "de" -> 1L), budgetTokens = 300L)
    val composed = TextStats.selectToBudget(docs, "doc_id", "lang", "toks",
        "q", planned, quotaCol = "assigned")
      .filter(col("keep")).count()
    assert(composed > 0L)
  }

  test("recall report scores approx against exact per query") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "cand_id")
    val approxDf = Seq((1L, 10L), (1L, 99L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "cand_id")
    val out = Similarity.recallReport(approxDf, exact).collect()
      .map(r => r.getAs[Long]("query_id") -> (r.getAs[Long]("n_exact"),
        r.getAs[Long]("n_hit"), r.getAs[Double]("recall"))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))  // false positive 99 doesn't count
    assert(out(2L) == ((2L, 2L, 1.0)))
    // a candidate generator that emits a pair once per matching band must
    // not inflate n_exact or double-count hits through the left join
    val banded = approxDf.union(approxDf)
    val dup = Similarity.recallReport(banded, exact.union(exact)).collect()
      .map(r => r.getAs[Long]("query_id") -> (r.getAs[Long]("n_exact"),
        r.getAs[Long]("n_hit"), r.getAs[Double]("recall"))).toMap
    assert(dup == out)
  }

  test("random projection: deterministic signs, cluster structure survives") {
    import graft.functions.VectorExpressions.jlSigns
    // sign matrix: ±1 only, deterministic, seed-sensitive
    val s1 = jlSigns("jl", 4, 8)
    assert(s1.flatten.forall(v => v == 1.0 || v == -1.0))
    assert(s1.map(_.toSeq).toSeq == jlSigns("jl", 4, 8).map(_.toSeq).toSeq)
    assert(s1.map(_.toSeq).toSeq != jlSigns("other", 4, 8).map(_.toSeq).toSeq)
    // JL guarantee, checked end-to-end: project 3 tight clusters 16→4 and
    // the projected-space brute-force top-k must recover the exact-space
    // neighbors (clones project to identical vectors, so cluster
    // membership is preserved exactly)
    val base = Seq(
      Array.tabulate(16)(i => if (i < 5) 1.0f else 0.0f),
      Array.tabulate(16)(i => if (i >= 5 && i < 11) 1.0f else 0.0f),
      Array.tabulate(16)(i => if (i >= 11) 1.0f else 0.0f))
    // 6 per cluster and k=5: the top-5 must be EXACTLY the rest of the
    // query's cluster in both spaces, so recall 1.0 follows from cluster
    // membership alone — no reliance on tie-break agreement among clones
    val vecs = (0 until 18).map { i =>
      (i.toLong, base(i % 3).map(x => x * (1.0f + (i / 3) * 0.01f)))
    }.toDF("vec_id", "embedding")
    val proj = Similarity.randomProject(vecs, "embedding", "proj",
      outDim = 8, seed = "jl", dim = 16)
    val projected = Similarity.bruteForceTopK(
        proj.filter(col("vec_id") < 3).select(col("vec_id"), col("proj").as("embedding")),
        proj.select(col("vec_id"), col("proj").as("embedding")),
        "vec_id", "embedding", k = 5, dim = 8)
      .select("query_id", "cand_id")
    val exact = Similarity.bruteForceTopK(
        vecs.filter(col("vec_id") < 3), vecs, "vec_id", "embedding", k = 5, dim = 16)
      .select("query_id", "cand_id")
    // scaled clones tie exactly in BOTH spaces, so compare via recall,
    // not id-for-id: every projected neighbor must be a same-cluster
    // member, and recall vs exact must be 1.0 per query
    projected.collect().foreach { r =>
      assert(r.getLong(1) % 3 == r.getLong(0) % 3,
        s"cross-cluster projected neighbor ${r.getLong(0)} -> ${r.getLong(1)}")
    }
    val rec = Similarity.recallReport(projected, exact).collect()
    assert(rec.length == 3 && rec.forall(_.getAs[Double]("recall") == 1.0))
  }

  test("native JL kernel is bit-identical to the composed array-of-dots form") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(16)(d => ((i * 31 + d * 7) % 13 - 6) * 0.25f))
    }.toDF("vec_id", "embedding")
    val native = Similarity.randomProject(vecs, "embedding", "proj",
        outDim = 8, seed = "jl", dim = 16)
      .select("vec_id", "proj").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val signs = graft.functions.VectorExpressions.jlSigns("jl", 8, 16)
    val composed = vecs.withColumn("proj", array(signs.map(row =>
        graft.llmops.VectorMath.dot(col("embedding"), lit(row))): _*))
      .select("vec_id", "proj").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(native == composed)
    // null element and width-mismatch degrade exactly like the composed
    // per-component dots: an all-null component array, not a null row;
    // a NULL vector row yields a NULL projection (the native kernel's
    // null propagation)
    val weird = Seq(
      (0L, Array[java.lang.Float](1.0f, null, 1.0f, 1.0f)),
      (1L, Array[java.lang.Float](1.0f, 1.0f)),
      (2L, null: Array[java.lang.Float])).toDF("vec_id", "embedding")
    val out = Similarity.randomProject(weird, "embedding", "proj",
        outDim = 4, seed = "jl", dim = 4)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else r.getSeq[Any](2))).toMap
    assert(out(0L).asInstanceOf[Seq[Any]].forall(_ == null))
    assert(out(1L).asInstanceOf[Seq[Any]].forall(_ == null))
    assert(out(2L) == null)
  }

  test("projected top-k: full-width coarse equals exact; narrow keeps clusters") {
    val base = Seq(
      Array.tabulate(16)(i => if (i < 5) 1.0f else 0.0f),
      Array.tabulate(16)(i => if (i >= 5 && i < 11) 1.0f else 0.0f),
      Array.tabulate(16)(i => if (i >= 11) 1.0f else 0.0f))
    val vecs = (0 until 30).map { i =>
      (i.toLong, base(i % 3).map(x => x * (1.0f + (i / 3) * 0.01f)))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // kCoarse = |candidates| - 1 admits every candidate, so the two-stage
    // result must equal the exact baseline row-for-row, cosine bits and all
    val exact = rows(Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding",
      k = 5, dim = 16))
    val full = rows(Similarity.projectedTopK(q, vecs, "vec_id", "embedding",
      k = 5, kCoarse = 29, outDim = 8, seed = "jl", dim = 16))
    assert(full == exact)
    // a tight coarse budget still recovers cluster structure: every
    // survivor of the 8-dim coarse stage is a same-cluster member
    val narrow = Similarity.projectedTopK(q, vecs, "vec_id", "embedding",
        k = 5, kCoarse = 6, outDim = 8, seed = "jl", dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(narrow.length == 15)
    narrow.foreach { case (qid, cid) =>
      assert(cid % 3 == qid % 3, s"cross-cluster two-stage neighbor ($qid, $cid)")
    }
  }

  test("bitext mining keeps mutual best pairs, rejects one-way hub matches") {
    // label 0 = "english", label 1 = "foreign". a/b are a clean mutual
    // pair; hub c (foreign) is the top-1 of BOTH d and e (english), but
    // c's own top-1 is d — so (c, d) is mutual and (c, e) is not
    val vecs = Seq(
      (1L, 0, Array(1.0f, 0.0f, 0.0f, 0.0f)),       // a
      (2L, 1, Array(0.99f, 0.1f, 0.0f, 0.0f)),      // b ≈ a
      (10L, 1, Array(0.0f, 0.0f, 1.0f, 0.0f)),      // hub c
      (11L, 0, Array(0.0f, 0.05f, 1.0f, 0.0f)),     // d — c's best
      (12L, 0, Array(0.0f, 0.3f, 1.0f, 0.0f)))      // e — loses to d
      .toDF("vec_id", "label", "embedding")
    val pairs = Similarity.mutualNearestPairs(vecs, "vec_id", "embedding",
        "label", minCosine = 0.0, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (10L, 11L)))
    // the cosine floor prunes weak mutual pairs
    val strict = Similarity.mutualNearestPairs(vecs, "vec_id", "embedding",
        "label", minCosine = 0.996, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((10L, 11L)))  // cos(c,d) ≈ 0.9988 > cos(a,b) ≈ 0.995
  }

  test("margin scoring demotes dense-neighborhood pairs below isolated ones") {
    // two mutual pairs with EQUAL raw cosine; the (20, 21) pair sits in a
    // dense cluster (22, 23 nearby), so its top-k average is high and its
    // margin low — the isolated (1, 2) pair must outrank it on margin
    val vecs = Seq(
      (1L, 0, Array(1.0f, 0.2f, 0.0f, 0.0f)),
      (2L, 1, Array(1.0f, 0.0f, 0.2f, 0.0f)),
      (20L, 0, Array(0.0f, 1.0f, 0.2f, 0.0f)),
      (21L, 1, Array(0.0f, 1.0f, 0.0f, 0.2f)),
      (22L, 1, Array(0.1f, 1.0f, 0.0f, 0.1f)),
      (23L, 0, Array(0.1f, 1.0f, 0.1f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.marginScoredPairs(vecs, "vec_id", "embedding",
        "label", k = 3, dim = 4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Double]("cosine"), r.getAs[Double]("margin"))).toMap
    assert(out.contains((1L, 2L)))
    val isolated = out((1L, 2L))
    val dense = out.collectFirst { case (k, v) if k._1 >= 20L => v }.get
    assert(isolated._2 > dense._2,
      s"isolated margin ${isolated._2} should exceed dense ${dense._2}")
    assert(out.values.forall(v => v._2 > 0.0))
  }

  test("cluster keywords: dense ranks, count floor, lift-ordered per cell") {
    // exact values are the oracle's job (q_cluster_keywords hash-compares
    // against DuckDB); this pins the report's structural contract
    val out = SparkEntry.queries("q_cluster_keywords")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (cell, rows) =>
      val byRank = rows.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to rows.length),
        s"cell $cell ranks not dense")
      val lifts = byRank.map(_.getDouble(4))
      assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b },
        s"cell $cell lifts not non-increasing")
      assert(rows.forall(_.getLong(3) >= 5L), s"cell $cell floor violated")
    }
  }

  test("cluster-balanced sample keeps the perCell most-typical per cell") {
    val pts = Seq(
      (0L, Seq(10.0, 1.0)), (1L, Seq(8.0, 0.0)), (2L, Seq(12.0, -1.0)),
      (3L, Seq(1.0, 10.0)), (4L, Seq(0.0, 8.0)), (5L, Seq(-1.0, 12.0))
    ).toDF("vec_id", "qv")
    val cents = pts.filter(col("vec_id") === 0 || col("vec_id") === 3)
      .select(col("vec_id").as("cell_id"), col("qv").as("centroid"))
    val out = Similarity.clusterBalancedSample(pts, "vec_id", "qv",
        cents, dim = 2, perCell = 2)
      .collect().map(r => (r.getAs[Long]("cell_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("vec_id")).toMap
    // cell 0 (direction (1,0)): id 0 IS the centroid (cos 1), id 1 next
    // cell 3 (direction (0,1)): id 3 IS the centroid, id 4 next
    assert(out == Map((0L, 1) -> 0L, (0L, 2) -> 1L,
      (3L, 1) -> 3L, (3L, 2) -> 4L))
  }

  test("containment catches an embedded excerpt that jaccard misses") {
    // long doc = 60 unique words; short doc = a verbatim 12-word excerpt
    val words = (1 to 60).map(i => s"w$i")
    val long = words.mkString(" ")
    val excerpt = words.slice(20, 32).mkString(" ")
    val corpus = Seq((0L, long), (1L, excerpt), (2L, unrelated))
      .toDF("doc_id", "text")
    val out = Dedup.containmentNearDups(corpus, "doc_id", "text",
        n = 3, maxDf = 10, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Double]("containment"),
          r.getAs[Long]("inter"), r.getAs[Long]("sz_a"), r.getAs[Long]("sz_b")))
      .toMap
    assert(out.keySet == Set((0L, 1L)))         // excerpt pair found, nothing else
    val (c, inter, szA, szB) = out((0L, 1L))
    assert(c == 1.0 && inter == szB && szA > szB) // fully contained, asymmetric
    // the same pair's Jaccard is far below any near-dup threshold
    val sh = Dedup.shingles(corpus, "doc_id", "text", 3)
    val j = Dedup.jaccardForPairs(
        Seq((0L, 1L)).toDF("id_a", "id_b"), sh, "doc_id")
      .collect().head.getAs[Double]("jaccard")
    assert(j < 0.25)
  }

  test("banded searches equal a brute-force bucket reference: cap, nulls, duplicates, minShared") {
    // Each search's buckets restated in plain Scala: a bucket of 2..cap
    // counted members pairs every two of its members; the searches differ
    // only in what a member is, what counts toward the cap, and the pair
    // rule after it.
    def bucketPairsRef[K](rows: Seq[(K, Option[Long])], counted: Option[Long] => Boolean,
        cap: Int): Seq[(Option[Long], Option[Long])] =
      rows.groupBy(_._1).values.toSeq.flatMap { b =>
        val m = b.map(_._2).filter(counted)
        if (m.size < 2 || m.size > cap) Nil
        else for (i <- m.indices; j <- m.indices if i < j) yield (m(i), m(j))
      }
    def ordered(p: (Option[Long], Option[Long])): Option[(Long, Long)] = p match {
      case (Some(a), Some(b)) if a != b => Some((a min b, a max b))
      case _ => None
    }

    // LSH, 2 bands of 2 rows, cap 3. Band 1 is unique per row except for
    // the duplicated id, so band 0 decides: [1,1] holds exactly 3 ids
    // (kept), [2,2] holds 4 (dropped), [3,3] holds 2 ids and 3 nulls (nulls
    // are not members: kept), [4,4] holds id 10 twice and id 11.
    val lshRows: Seq[(Option[Long], Long)] = Seq(1L, 2L, 3L).map(i => (Some(i), 1L)) ++
      Seq(4L, 5L, 6L, 7L).map(i => (Some(i), 2L)) ++
      Seq(Some(8L), Some(9L), None, None, None).map(i => (i, 3L)) ++
      Seq(Some(10L), Some(10L), Some(11L)).map(i => (i, 4L))
    val lshSigs = lshRows.zipWithIndex.map { case ((id, b0), k) =>
      (id, Seq(b0, b0, if (id.contains(10L)) 1000L else 100L + k, 7L)) }
    val lshWant = (for {
      band <- 0 until 2
      p <- bucketPairsRef(
        lshSigs.map { case (id, sig) => ((band, sig.slice(2 * band, 2 * band + 2)), id) },
        _.isDefined, cap = 3)
      ab <- ordered(p)
    } yield Seq(ab._1, ab._2)).toSet
    val lshGot = Dedup.lshCandidates(lshSigs.toDF("doc_id", "sig"), "doc_id",
        numHashes = 4, rowsPerBand = 2, maxBucket = 3)
      .as[(Long, Long)].collect().map(p => Seq(p._1, p._2)).toSet

    // SimHash, maxHamming 1 over 2 chunks (low and high 32 bits), cap 3.
    // The high halves differ per row except for the duplicated id, so the
    // low half decides: 1 holds 3 rows (kept; ids 2-3 are 2 bits apart),
    // 2 holds 4 (dropped, though ids 4-5 are 1 bit apart), 3 holds 2 ids
    // and a null (kept), 5 holds 2 ids and 2 nulls (every row counts:
    // dropped), 4 holds id 10 twice and id 11.
    val shRows: Seq[(Option[Long], Long, Long)] = Seq(
      (Some(1L), 1L, 16L), (Some(2L), 1L, 17L), (Some(3L), 1L, 18L),
      (Some(4L), 2L, 32L), (Some(5L), 2L, 33L), (Some(6L), 2L, 34L), (Some(7L), 2L, 36L),
      (Some(8L), 3L, 64L), (Some(9L), 3L, 65L), (None, 3L, 66L),
      (Some(12L), 5L, 256L), (Some(13L), 5L, 257L), (None, 5L, 258L), (None, 5L, 260L),
      (Some(10L), 4L, 128L), (Some(10L), 4L, 128L), (Some(11L), 4L, 129L))
    val shSigs = shRows.map { case (id, lo, hi) => (id, (hi << 32) | lo) }
    val sig = shSigs.collect { case (Some(id), s) => id -> s }.toMap
    val shWant = (for {
      half <- Seq(0, 32)
      p <- bucketPairsRef(shSigs.map { case (id, s) => ((half, (s >>> half) & 0xffffffffL), id) },
        _ => true, cap = 3)
      (a, b) <- ordered(p)
      h = java.lang.Long.bitCount(sig(a) ^ sig(b)) if h <= 1
    } yield Seq(a, b, h.toLong)).toSet
    val shGot = Dedup.simhashBandedPairs(shSigs.toDF("doc_id", "sig"), "doc_id",
        maxHamming = 1, numChunks = 2, maxBucket = 3)
      .as[(Long, Long, Int)].collect().map(p => Seq(p._1, p._2, p._3.toLong)).toSet

    // Containment over word 1-grams, maxDf 3, minShared 2, threshold 0.5.
    // "a b" is in exactly 3 docs (kept), "p q" in 4 (pruned), docs 8-9
    // share one rare word (containment 0.5, under the minShared floor),
    // docs 10-11 share two. A null-id doc is no bucket member but counts
    // toward a shingle's df: "v w" (2 ids + 1 null) is kept, "g h" (3 ids
    // + 1 null) is pruned.
    val docs: Seq[(Option[Long], String)] = Seq(
      (Some(1L), "a b c"), (Some(2L), "a b d"), (Some(3L), "a b e"),
      (Some(4L), "p q r"), (Some(5L), "p q s"), (Some(6L), "p q t"), (Some(7L), "p q u"),
      (Some(8L), "x y1"), (Some(9L), "x y2"), (Some(10L), "m n"), (Some(11L), "m n o"),
      (None, "v w"), (Some(15L), "v w z"), (Some(16L), "v w zz"),
      (None, "g h"), (Some(12L), "g h i"), (Some(13L), "g h j"), (Some(14L), "g h k"))
    val sets = docs.map { case (id, t) => (id, t.split(" ", -1).toSet) }
    val df = sets.flatMap(_._2).groupBy(identity).map { case (w, o) => w -> o.size }
    val shared = bucketPairsRef(
        sets.flatMap { case (id, ws) =>
          ws.filter(w => df(w) >= 2 && df(w) <= 3).map(w => (w, id)) },
        _.isDefined, cap = 3)
      .flatMap(ordered).groupBy(identity).map { case (p, o) => p -> o.size }
    val set = sets.collect { case (Some(id), ws) => id -> ws }.toMap
    val ctWant = (for {
      ((a, b), k) <- shared if k >= 2
      inter = (set(a) & set(b)).size
      if inter.toDouble / math.min(set(a).size, set(b).size) >= 0.5
    } yield Seq(a, b, inter.toLong)).toSet
    val ctGot = Dedup.containmentNearDups(docs.toDF("doc_id", "text"), "doc_id", "text",
        n = 1, maxDf = 3, threshold = 0.5, minShared = 2)
      .select("id_a", "id_b", "inter").as[(Long, Long, Long)].collect()
      .map(p => Seq(p._1, p._2, p._3)).toSet

    // (search, got, want, planted pairs that must surface, pairs that must not)
    val cases = Seq(
      ("lsh", lshGot, lshWant, Set((1L, 2L), (1L, 3L), (2L, 3L), (8L, 9L), (10L, 11L)),
        Set((4L, 5L), (10L, 10L))),
      ("simhash", shGot, shWant, Set((1L, 2L), (1L, 3L), (8L, 9L), (10L, 11L)),
        Set((2L, 3L), (4L, 5L), (12L, 13L), (10L, 10L))),
      ("containment", ctGot, ctWant, Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (15L, 16L)),
        Set((4L, 5L), (8L, 9L), (12L, 13L))))
    for ((name, got, want, has, hasNot) <- cases) {
      assert(got == want, s"$name: got ${got -- want}, missed ${want -- got}")
      val pairs = want.map(r => (r(0), r(1)))
      assert(has.subsetOf(pairs), s"$name: reference lacks ${has -- pairs}")
      assert((hasNot & pairs).isEmpty, s"$name: reference has ${hasNot & pairs}")
      assert(want.size == pairs.size, s"$name: a pair repeats")
    }
  }

  test("lloyd training converges to cluster means and is a fixed point") {
    import graft.llmops.KMeansOps
    val pts = Seq(
      (0L, Seq(10.0, 1.0)), (1L, Seq(8.0, 0.0)), (2L, Seq(12.0, -1.0)),
      (3L, Seq(1.0, 10.0)), (4L, Seq(0.0, 8.0)), (5L, Seq(-1.0, 12.0))
    ).toDF("vec_id", "qv")
    val seed = pts.filter(col("vec_id") === 0 || col("vec_id") === 3)
      .select(col("vec_id").as("cell_id"), col("qv").as("centroid"))
    val trained = KMeansOps.lloydTrain(pts, "vec_id", "qv", seed,
      dim = 2, maxIter = 10)
    val m = trained.collect()
      .map(r => (r.getAs[Long]("cell_id"), r.getAs[Int]("pos")) ->
        r.getAs[Double]("mean")).toMap
    assert(m((0L, 0)) == 10.0 && m((0L, 1)) == 0.0)
    assert(m((3L, 0)) == 0.0 && m((3L, 1)) == 10.0)
    // fixed point: one more step from the trained centroids is the identity
    val again = KMeansOps.lloydStep(pts, "vec_id", "qv",
      KMeansOps.toCentroidTable(trained), dim = 2)
    assert(again.orderBy("cell_id", "pos").collect().toSeq ==
      trained.orderBy("cell_id", "pos").collect().toSeq)
  }

  test("importance score ranks target-vocabulary docs above off-distribution") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta alpha beta"), // pure target vocabulary
      (1L, "zeta eta theta iota kappa lambda"),  // disjoint vocabulary
      (2L, "alpha beta zeta eta theta iota"),    // mixed
      (3L, "solo")                               // 1 token: no bigrams
    ).toDF("doc_id", "text")
    val target = Seq(Tuple1("alpha beta gamma delta alpha beta gamma"))
      .toDF("text")
    val out = TextStats.importanceScore(corpus, "doc_id", "text",
        target, "text", gramN = 2, buckets = 1024)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("dot_target"), r.getAs[Double]("score"))).toMap
    assert(!out.contains(3L))                 // gram-less doc absent
    assert(out(1L) == ((0L, 0.0)))            // zero target overlap → exact 0
    assert(out(0L)._2 > out(2L)._2 && out(2L)._2 > 0.0)
  }

  test("quality percentile gate keeps ceil(f*n) per group, never empties a group") {
    // group A: 10 docs scored 100..1000 → keep 0.75 → ceil(7.5) = 8: the
    // top 8 scores (docs 3..10) survive. group B has its own
    // distribution (2 docs → ceil(1.5) = 2, both kept even though their
    // scores are below every dropped A doc). group C is the 1-doc
    // low-resource slice a percent_rank cut would wipe out — must stay.
    val rows = (1 to 10).map(i => (i.toLong, "A", i * 100)) ++
      Seq((20L, "B", 5), (21L, "B", 1), (30L, "C", 2))
    val df = rows.toDF("doc_id", "grp", "score")
    val kept = TextStats.qualityPercentileGate(df, "grp", "score", "doc_id", 0.75)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("doc_id"))).toSet
    assert(kept == ((3 to 10).map(i => ("A", i.toLong)).toSet
      + (("B", 20L)) + (("B", 21L)) + (("C", 30L))), kept.toString)
    // all-tied scores: the id tiebreak makes the cut deterministic
    val tied = (1 to 4).map(i => (i.toLong, "T", 7)).toDF("doc_id", "grp", "score")
    val keptTied = TextStats.qualityPercentileGate(tied, "grp", "score", "doc_id", 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptTied == Set(1L, 2L), keptTied.toString) // ceil(2) = 2, id asc
  }

  test("distinct-ngram diversity: templates score low, diverse text high") {
    val df = Seq(
      ("tpl", "a b c a b c a b c a b c"),   // 10 trigrams, 3 distinct
      ("div", "q w e r t y u i o p a s")    // 10 trigrams, all distinct
    ).toDF("grp", "text")
    val out = TextStats.distinctNgramDiversity(df, "grp", "text", 3)
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("distinct_grams"), r.getAs[Long]("total_grams"),
          r.getAs[Double]("diversity"))).toMap
    assert(out("tpl") == ((3L, 10L, 0.3)))
    assert(out("div") == ((10L, 10L, 1.0)))
  }

  test("lm score: repeated phrasing outranks token salad; conditionals sum to 1") {
    // Corpus of one dominant template + one scrambled doc built from the
    // same vocabulary: the template's bigrams are high-count, the
    // scrambled doc's are singletons, so mean-p must rank template docs
    // strictly higher. All docs share the vocabulary so the difference is
    // purely transition structure, not unseen words.
    val template = "the cat sat on the mat and the dog sat on the rug"
    val scrambled = "rug the on dog mat sat the and cat the on sat the"
    val lm = Seq((0L, template), (1L, template), (2L, template), (3L, scrambled))
      .toDF("doc_id", "text")
    val out = TextStats.lmScore(lm, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("mean_p"), r.getAs[Double]("min_p")))
      .toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    assert(out(0L) == out(1L) && out(1L) == out(2L)) // identical docs, identical score
    assert(out(0L)._2 > out(3L)._2, s"template ${out(0L)} !> salad ${out(3L)}")
    assert(out.values.forall(v => v._3 > 0.0 && v._3 <= 1.0))
    // Proper conditional distribution: for every left word, sum over
    // right words of p(w2|w1) is exactly 1 (c_1 is the bigram-left count).
    val pairs = lm.select(col("doc_id"), TextStats.tokens(col("text")).as("t"))
      .select(explode(expr(
        "transform(sequence(1, size(t)-1), i -> struct(t[i-1] as w1, t[i] as w2))")).as("p"))
      .select("p.w1", "p.w2")
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val sums = big.groupBy("w1").agg(sum("c_ab").as("c_1"))
      .join(big, "w1")
      .groupBy("w1", "c_1")
      .agg(sum(col("c_ab").cast("double") / col("c_1").cast("double")).as("s"))
      .collect().map(_.getAs[Double]("s"))
    assert(sums.forall(s => math.abs(s - 1.0) < 1e-9))
    // Single-token and empty docs have no bigrams and must vanish, not NaN.
    val degenerate = TextStats.lmScore(
      Seq((10L, "one"), (11L, "")).toDF("doc_id", "text"), "doc_id", "text")
    assert(degenerate.count() == 0)
  }

  test("centroid outliers: planted far vector ranks first; clones rank by id") {
    // Label 0: a tight cluster at ~(1,0,0,0) plus one planted far point.
    // Label 1: three identical vectors — all distances equal (0), so the
    // rank must fall back to the id tiebreak deterministically.
    val vecs = Seq(
      (0L, 0, Array(1.0f, 0.0f, 0.1f, 0.0f)),
      (1L, 0, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, 0, Array(1.1f, 0.0f, 0.0f, 0.1f)),
      (3L, 0, Array(-5.0f, 4.0f, 4.0f, -4.0f)), // planted outlier
      (10L, 1, Array(0.5f, 0.5f, 0.5f, 0.5f)),
      (11L, 1, Array(0.5f, 0.5f, 0.5f, 0.5f)),
      (12L, 1, Array(0.5f, 0.5f, 0.5f, 0.5f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.centroidOutliers(vecs, "vec_id", "label", "embedding", topK = 2)
      .orderBy("label", "rank").collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("dist2")))
    assert(out.length == 4) // top-2 per label
    val l0 = out.filter(_._1 == 0)
    assert(l0.head == ((0, 1, 3L, l0.head._4)) && l0.head._4 > 10.0,
      s"planted outlier not rank 1: ${l0.toSeq}")
    // The outlier participates in the centroid (drags it off-cluster), so
    // members aren't near zero — but the gap to rank 1 must stay wide.
    assert(l0(1)._4 < l0.head._4 / 5.0, s"no outlier gap: ${l0.toSeq}")
    val l1 = out.filter(_._1 == 1)
    assert(l1.map(x => (x._2, x._3)).toSeq == Seq((1, 10L), (2, 11L))) // id tiebreak
    assert(l1.forall(_._4 == 0.0)) // identical vectors: exactly 0 from an exact centroid
  }

  test("packChunked: spans cover the stream exactly; split docs cross bins") {
    import graft.llmops.Packing
    // shard A stream: 3+5+4+6 = 18 tokens at capacity 8 → doc 3 (4 tok,
    // start 8) fills bin 1 exactly; doc 4 (6 tok, start 12) SPLITS 1→2
    val docs = Seq((1L, "a", 3L), (2L, "a", 5L), (3L, "a", 4L), (4L, "a", 6L),
      (5L, "b", 9L), // oversized: spans ⌈9/8⌉ = 2 bins from offset 0
      (6L, "b", 0L)) // zero-token row must be dropped, not packed
      .toDF("id", "shard", "n")
    val got = Packing.packChunked(docs, "id", "n", "shard", capacity = 8)
      .orderBy("shard", "id")
      .select("id", "start_tok", "first_bin", "last_bin", "offset")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 0L, 0L), (2L, 3L, 0L, 0L, 3L),
      (3L, 8L, 1L, 1L, 0L), (4L, 12L, 1L, 2L, 4L),
      (5L, 0L, 0L, 1L, 0L)), got.toString)
    // spans within a shard are contiguous: each start = previous end
    val a = got.take(4)
    assert(a.sliding(2).forall { case Seq(p, c) =>
      c._2 == p._2 + (if (p._1 == 1) 3 else if (p._1 == 2) 5 else 4) })
  }

  test("packGreedy: next-fit recurrence, oversized isolation, shard reset") {
    import graft.llmops.Packing
    // capacity 10: [6, 5] can't share (6+5 > 10) though best-fit with the
    // later 4 could — next-fit must give exactly 6|5,4|9 and the
    // oversized 12 a bin of its own with fill_after = 12 visible
    val docs = Seq((1L, "a", 6L), (2L, "a", 5L), (3L, "a", 4L), (4L, "a", 9L),
      (5L, "a", 12L), (6L, "b", 2L)) // shard b restarts at bin 0
      .toDF("id", "shard", "n")
    val got = Packing.packGreedy(docs, "id", "n", "shard", capacity = 10)
      .orderBy("shard", "id")
      .select("id", "bin", "fill_after")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L, 6L), (2L, 1L, 5L), (3L, 1L, 9L), (4L, 2L, 9L),
      (5L, 3L, 12L), (6L, 0L, 2L)), got.toString)
    // atomicity: no doc's tokens exceed its single bin except the
    // oversized one, which is alone (fill_after == its own n)
    assert(got.filter(_._3 > 10).forall(_._1 == 5L))
  }

  test("leakSafeSplit: cluster members inherit the canonical id's split") {
    // md5 split buckets: id 0 → test (98), id 1 → train (48), id 6 → val
    // (86) — so member 6 following canonical 0 into 'test' proves the
    // bucket is keyed on the cluster, not the member's own id
    val universe = Seq(0L, 1L, 6L).toDF("doc_id")
    val pairs = Seq((0L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.leakSafeSplit(universe, "doc_id", pairs, 80, 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got(0L) == ((0L, "test")) && got(6L) == ((0L, "test")), got.toString)
    assert(got(1L) == ((1L, "train"))) // singleton keys on itself
    // end-to-end: every minhash near-dup pair of the planted fixture
    // shares a split
    val realPairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 16, rowsPerBand = 4, threshold = 0.5)
    val split = Dedup.leakSafeSplit(docs, "doc_id", realPairs, 80, 10)
      .select(col("doc_id"), col("split"))
    val straddle = realPairs
      .join(split.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "_sa"), Seq("id_a"))
      .join(split.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "_sb"), Seq("id_b"))
      .filter(col("_sa") =!= col("_sb"))
    assert(straddle.isEmpty)
  }

  test("repeatPairsOfSorted: Σc(c−1) over multiplicities, fold ≡ explode form") {
    val docs = Seq(
      (1L, "a b c"),        // all distinct → 0
      (2L, "a a b"),        // one pair of a's → 2·1 = 2
      (3L, "x x x x"),      // 4·3 = 12
      (4L, "a"),            // single token → 0
      (5L, "b a b a b"))    // b:3, a:2 → 6 + 2 = 8
      .toDF("doc_id", "text")
    val got = docs
      .select(col("doc_id"),
        TextStats.repeatPairsOfSorted(array_sort(TextStats.tokens(col("text"))))
          .as("p"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L), (2L, 2L), (3L, 12L), (4L, 0L), (5L, 8L)), got.toString)
    // cross-check the fold against BOTH the explode+groupBy route (the
    // oracle's form) and the native one-pass kernel (the query's form)
    // on every fixture doc at sf0.001
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fold = real.select(col("doc_id"),
      TextStats.repeatPairsOfSorted(array_sort(TextStats.tokens(col("text")))).as("p"))
    val exploded = real
      .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum(col("c") * (col("c") - 1L)).as("q"))
    val kernel = real.withColumn("_d",
        graft.functions.TextExpressions.tokenDiversity(col("text")))
      .select(col("doc_id"), col("_d").getField("pairs").as("k"),
        col("_d").getField("n_tokens").as("kn"),
        col("_d").getField("n_types").as("kt"))
    val joined = fold.join(exploded, Seq("doc_id")).join(kernel, Seq("doc_id"))
    assert(joined.filter(col("p") =!= col("q") || col("p") =!= col("k")).isEmpty)
    // the kernel's token/type counts match the array forms too
    val viaArrays = real.select(col("doc_id"),
      size(TextStats.tokens(col("text"))).cast("long").as("an"),
      size(array_distinct(TextStats.tokens(col("text")))).cast("long").as("at"))
    assert(kernel.join(viaArrays, Seq("doc_id"))
      .filter(col("kn") =!= col("an") || col("kt") =!= col("at")).isEmpty)
  }
}
