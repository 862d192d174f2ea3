package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llmops.Similarity
import graft.model.Tables

/** Physical-plan regression tests: the scale properties the operators
  * claim (pushdown, pruning, broadcast dims, one-shuffle windows,
  * map-side IVF) must be visible in the executed plan, not just asserted
  * in docs. Plans are checked against sf0.001 so the suite stays fast;
  * the properties are data-size-independent.
  */
class PlanAuditSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countShuffles(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length +
      "Exchange rangepartitioning".r.findAllIn(p).length

  test("plan: filters reach the parquet scan and unused columns are pruned") {
    val df = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 100).select("vec_id")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,100)]"), p)
    assert(p.contains("ReadSchema: struct<vec_id:bigint>"), p)
  }

  test("plan: events time-range predicates push into the parquet scan") {
    // The events loader must not wrap ts in a cast that strands time-range
    // filters above the scan — time windows are THE access pattern on an
    // event log, and at scale an unpushed ts filter reads the whole table.
    val df = Tables.events(spark, sf)
      .filter(col("ts") > lit("2024-01-15 00:00:00").cast("timestamp"))
      .select("event_id", "ts")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts,"), p)
  }

  test("plan: AUC reduces to (group, score) before any window; no global sort") {
    val p = plan(SparkEntry.queries("q_auc")(spark, sf))
    // the only range exchange is the deterministic output orderBy; the
    // window and final rollup run on the grouped table's hash exchanges
    assert("Exchange rangepartitioning".r.findAllIn(p).length == 1, p)
    // raw rows aggregate FIRST: a partial_count on (source, score) must
    // sit below the first exchange
    assert(p.contains("partial_count"), p)
  }

  test("plan: BM25 broadcasts the query-term side; no Cartesian on the corpus") {
    val p = plan(SparkEntry.queries("q_bm25")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("plan: sparse cosine pair search joins on the term key, never all-pairs") {
    val p = plan(SparkEntry.queries("q_sparse_topk")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("plan: stored-index BM25 query prunes postings by broadcast terms before any exchange") {
    val p = plan(SparkEntry.queries("q_bm25_incremental")(spark, sf))
    // the query-term prune must be a broadcast hash join (corpus postings
    // stream through map-side), and nothing may enumerate pairs; the only
    // BroadcastNestedLoop allowed is the documented one-row stats attach
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("plan: FK-chain rollup joins catalog dims with broadcast hash joins") {
    val p = plan(SparkEntry.queries("q_fk_rollup")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("plan: cumulative arc length shuffles once on the sequence key (plus output sort)") {
    val p = plan(SparkEntry.queries("q_cumsum_arclength")(spark, sf))
    // one hash shuffle for the window partition; the trailing
    // rangepartitioning exchange is the deterministic output orderBy
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("plan: rate-clamp recurrence is a single shuffle + in-partition scan") {
    val p = plan(SparkEntry.queries("q_rate_clamp")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("plan: segment clip runs windows, clip, and dedup over one shuffle") {
    val p = plan(SparkEntry.queries("q_segment_clip")(spark, sf))
    // one hash shuffle shared by both windows and the partition-local
    // distinct; the rangepartitioning exchange is the output orderBy
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("native dot product: codegen'd, in the plan, bit-identical to the HOF fold") {
    import spark.implicits._
    import graft.llmops.VectorMath
    val rnd = new scala.util.Random(7)
    val df = (1 to 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat()), Array.fill(64)(rnd.nextFloat()))
    }.toDF("id", "a", "b")
      .select(col("id"), VectorMath.precast(col("a")).as("a"),
        VectorMath.precast(col("b")).as("b"))
    val both = df.select(
      graft.functions.VectorExpressions.dot(col("a"), col("b")).as("native"),
      VectorMath.dotPrecast(col("a"), col("b")).as("fold"),
      graft.functions.VectorExpressions.distSq(col("a"), col("b")).as("native_d"),
      VectorMath.distSqPrecast(col("a"), col("b")).as("fold_d"))
    both.collect().foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "dot must be bit-identical")
      assert(r.getDouble(2) == r.getDouble(3), "distSq must be bit-identical")
    }
    // the similarity path actually uses the native expression
    val p = plan(SparkEntry.queries("q_embedding_neardup")(spark, sf))
    assert(p.contains("graft_dot"), p)
  }

  test("plan: IVF cell assignment runs with zero shuffles") {
    val emb = Tables.embeddings(spark, sf)
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell_id"), col("embedding").as("centroid"))
    val p = plan(Similarity.ivfAssignments(emb, "vec_id", "embedding", centroids, dim = 64))
    assert(countShuffles(p) == 0, p)
  }

  test("plan: partition-column filter prunes directories at the scan") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toFile
    try {
      val df = (1 to 300).map(i => (i.toLong, s"2026-08-${i % 3 + 10}", s"payload_$i"))
        .toDF("id", "ingest_date", "payload")
      df.write.mode("overwrite").partitionBy("ingest_date").parquet(tmp.getAbsolutePath)
      val read = spark.read.parquet(tmp.getAbsolutePath)
        .filter($"ingest_date" === "2026-08-10").select("id")
      val p = plan(read)
      assert(p.contains("PartitionFilters: [isnotnull(ingest_date"), p)
      // the pruned scan reads only the matching directory's rows
      assert(read.count() == 100)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("plan: bucketed catalog tables join without any exchange") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      graft.catalog.CatalogOps.writeBucketed(
        (1 to 100).map(i => (s"scene_$i", i)).toDF("scene_name", "n"),
        "audit_scenes", "scene_name", buckets = 4)
      graft.catalog.CatalogOps.writeBucketed(
        (1 to 300).map(i => (s"scene_${i % 100 + 1}", s"map_$i")).toDF("scene_name", "map_name"),
        "audit_maps", "scene_name", buckets = 4)
      val p = plan(spark.table("audit_scenes").join(spark.table("audit_maps"), "scene_name"))
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS audit_scenes")
      spark.sql("DROP TABLE IF EXISTS audit_maps")
    }
  }

  test("plan: salted skew join matches the plain join row-for-row") {
    import spark.implicits._
    // one hot key (90% of rows) + a tail
    val left = ((1 to 900).map(_ => ("hot", 1.0)) ++ (1 to 100).map(i => (s"k$i", 2.0)))
      .toDF("k", "v")
    val right = (Seq("hot") ++ (1 to 100).map(i => s"k$i")).map(k => (k, s"dim_$k"))
      .toDF("k", "label")
    val salted = graft.operators.SkewJoin.saltedInnerJoin(left, right, "k", numSalts = 4)
      .groupBy("k", "label").count()
    val plain = left.join(right, "k").groupBy("k", "label").count()
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("hot-key salted join matches the plain join row-for-row") {
    import spark.implicits._
    val left = ((1 to 900).map(_ => ("hot", 1.0)) ++ (1 to 100).map(i => (s"k$i", 2.0)))
      .toDF("k", "v")
    val right = (Seq("hot") ++ (1 to 100).map(i => s"k$i")).map(k => (k, s"dim_$k"))
      .toDF("k", "label")
    val salted = graft.operators.SkewJoin
      .saltedInnerJoinHot(left, right, "k", numSalts = 4, sampleFraction = 1.0)
      .groupBy("k", "label").count()
    val plain = left.join(right, "k").groupBy("k", "label").count()
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // and when nothing is hot, it degrades to the plain join
    val uniform = graft.operators.SkewJoin
      .saltedInnerJoinHot(left.filter($"k" =!= "hot"), right, "k",
        numSalts = 4, sampleFraction = 1.0, hotFraction = 0.5)
      .groupBy("k", "label").count()
    val plainU = left.filter($"k" =!= "hot").join(right, "k").groupBy("k", "label").count()
    assert(uniform.exceptAll(plainU).isEmpty && plainU.exceptAll(uniform).isEmpty)
  }

  test("plan: TF-IDF broadcasts the vocabulary-sized df table") {
    val p = plan(SparkEntry.queries("q_tfidf_topk")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("plan: stratified sample is one shuffle plus the output sort") {
    val p = plan(SparkEntry.queries("q_stratified_sample")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("plan: bucketed range join is an equi-join, never a nested loop") {
    // the operator's whole point: point-in-interval via bucket equi-join +
    // refine, not the O(n·m) theta-join Spark would otherwise plan
    val p = plan(SparkEntry.queries("q_range_join")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("plan: as-of nearest join is a union plus one window pass, no join operator") {
    // union + single ordered window scan — no candidate-explosion join
    // anywhere in the plan, and one hash shuffle for the window partition
    // (the rangepartitioning exchange is the output orderBy)
    val p = plan(SparkEntry.queries("q_asof_nearest")(spark, sf))
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("plan: interval coverage rides one shuffle through window, islands, and rollup") {
    // windows partition by user_id; both aggregations group by a superset
    // of the partition key, so everything after the first exchange is
    // partition-local (plus the rangepartitioning output orderBy)
    val p = plan(SparkEntry.queries("q_interval_coverage")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("plan: sessionize runs on a single shuffle of the entity key") {
    val p = plan(SparkEntry.queries("q_sessionize")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("plan: funnel stages use hash joins, never a cartesian product") {
    val p = plan(SparkEntry.queries("q_funnel_conversion")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("single-pass funnel scan agrees with the relational join form") {
    val events = Tables.events(spark, sf)
    val scan = graft.operators.Funnel.stageCounts(
      graft.operators.Funnel.deepestStage(events, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase")), Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val join = SparkEntry.queries("q_funnel_conversion")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(scan(1) == join("1_view"))
    assert(scan(2) == join("2_click"))
    assert(scan(3) == join("3_purchase"))
    // and the scale form is a single shuffle
    val p = plan(graft.operators.Funnel.deepestStage(
      events, "user_id", "event_type", "ts", Seq("view", "click", "purchase")))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("plan: minhash LSH verify joins reuse one shingle-set exchange") {
    // audit the OPERATOR's own plan (q_minhash_lsh now checkpoints the
    // verified pairs before its final sort — the r12 range-sample fix —
    // which hides everything upstream behind a Scan ExistingRDD in the
    // declared query's executed plan)
    val df = graft.llmops.Dedup.minhashNearDups(
      graft.model.Tables.documents(spark, sf), idCol = "doc_id",
      textCol = "text", shingleSize = 3, numHashes = 16, rowsPerBand = 4,
      threshold = 0.8)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the two verification joins attach the SAME shingle-set subplan to
    // id_a and id_b; the merge hints force identical hashpartition(sets)
    // exchanges that AQE must plan once and reuse, so the corpus is
    // tokenized once across both verify sides (run the query — reuse is
    // decided at materialization, on THIS QueryExecution).
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("ReusedExchange"), fin)
  }

  test("plan: curate runs its text work on native kernels; decontamination spans every core") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    import graft.llmops.Pipelines
    // curate checkpoints stages 2, 3 and 4, so the final plan hides them
    // behind Scan ExistingRDD: audit every query the call executes
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = runs.add(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang").as("domain"), col("text"))
    val bench = docs.orderBy("doc_id").limit(3).select("text")
    spark.listenerManager.register(listener)
    try {
      val out = Pipelines.curate(docs, "doc_id", "text", "domain", bench, "text",
        Seq("the", "a"), minQuality = 0.4, shingleSize = 3, nearDupThreshold = 0.7,
        decontamN = 8, weights = Map("en" -> 1L), budgetTokens = 1000000L,
        numShards = 2, shardSeed = "s")
      out.collect()
      // listener events arrive in order on the bus: the final collect's
      // event means every checkpoint before it has been delivered too
      val deadline = System.nanoTime() + 30000000000L
      while (!runs.asScala.exists(_._1 == "collect") && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val qes = runs.asScala.toSeq
    val analyzed = qes.map(_._2.analyzed.toString).mkString("\n")
    Seq("graft_quality_score", "graft_ngrams", "graft_shingle_minhash")
      .foreach(k => assert(analyzed.contains(k), s"$k missing:\n$analyzed"))
    // the quality gate and the sign step run no interpreted text chain
    val textWork = analyzed.split("\n").filter(l =>
      l.contains("graft_quality_score") || l.contains("graft_shingle_minhash"))
    assert(textWork.nonEmpty)
    for (l <- textWork; bad <- Seq("md5(", "conv(", "array_remove(", "lambdafunction("))
      assert(!l.contains(bad), s"$bad in: $l")
    // stage 3's output (the second of curate's checkpoints: exact dedup,
    // then decontamination) must not be frozen into one partition
    val checkpoints = qes.filter(_._1 == "localCheckpoint")
    assert(checkpoints.size >= 2, qes.map(_._1))
    val decontaminated = checkpoints(1)._2.executedPlan.execute().getNumPartitions
    assert(decontaminated >= spark.sparkContext.defaultParallelism,
      s"decontaminated corpus has $decontaminated partition(s)")
  }

  test("plan: the near-dup drop hashes the dropped ids and sorts neither side") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang").as("domain"), col("text"))
    val bench = docs.orderBy("doc_id").limit(3).select("text")
    // stages 2 and 3 are checkpointed, so the only anti-join left in the
    // plan is stage 4's drop
    val kept = graft.llmops.Pipelines.curateFilterStages(docs, "doc_id", "text", bench,
      "text", Seq("the", "a"), minQuality = 0.4, shingleSize = 3, numHashes = 16,
      rowsPerBand = 4, nearDupThreshold = 0.7, decontamN = 8)
    val p = plan(kept)
    assert(p.contains("LeftAnti, BuildRight") && p.contains("ShuffledHashJoin"), p)
    assert("SortMergeJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftAnti".r.findFirstIn(p).isEmpty, p)
  }

  test("FanOut reads a checkpoint's width: spread ones pass through, narrow ones fan out") {
    import graft.operators.FanOut
    val target = spark.sparkContext.defaultParallelism
    // a small checkpoint already laid out across the session: a byte
    // estimate alone would round-robin it again
    val spread = spark.range(0, 1000, 1, target).toDF("id").localCheckpoint()
    assert(!plan(FanOut(spread.filter(col("id") > 3))).contains("RoundRobinPartitioning"))
    val narrow = spark.range(0, 1000, 1, 1).toDF("id").localCheckpoint()
    assert(FanOut(narrow.filter(col("id") > 3)).rdd.getNumPartitions >= target)
  }

  test("plan: banded simhash pair search is bucketed, never all-pairs") {
    val df = SparkEntry.queries("q_simhash_banded")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the buckets carry each document's signature to its pairs, so the
    // corpus is signed exactly once. Run the query and assert on the
    // FINAL adaptive plan alone, without the initial plan AQE prints
    // under it (collect() executes THIS QueryExecution; a noop write
    // would build a fresh one).
    df.collect()
    val fin = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    assert("graft_simhash64".r.findAllIn(fin).length == 1, fin)
  }

  test("plan: the banded pair searches expand their buckets without a lambda") {
    import spark.implicits._
    import graft.llmops.{Dedup, Multimodal}
    val sigs = Seq((1L, Seq(1L, 2L, 3L, 4L)), (2L, Seq(1L, 2L, 5L, 6L)))
      .toDF("doc_id", "sig")
    val codes = Seq((1L, 3L), (2L, 7L)).toDF("doc_id", "sig")
    val searches = Seq(
      "lshCandidates" -> Dedup.lshCandidates(sigs, "doc_id", 4, 2),
      "simhashBandedPairs" -> Dedup.simhashBandedPairs(codes, "doc_id", 6),
      "containmentNearDups" -> Dedup.containmentNearDups(
        Tables.documents(spark, sf), "doc_id", "text", n = 3, maxDf = 10,
        threshold = 0.5),
      "phashNearDups" -> Multimodal.phashNearDups(
        codes.withColumnRenamed("doc_id", "media_id")
          .withColumnRenamed("sig", "phash"), maxDist = 6))
    for ((name, df) <- searches) {
      val p = df.queryExecution.optimizedPlan.toString
      assert(!p.contains("lambdafunction("), s"$name:\n$p")
    }
  }

  test("plan: dedup clusters never broadcast or cartesian the corpus") {
    val df = SparkEntry.queries("q_dedup_cluster")(spark, sf)
    // building the DataFrame already materializes the pair search (eager
    // edge checkpoint) and runs CC; the remaining lazy plan is the
    // membership join + cluster window over the corpus ids — it must be
    // join-shaped, never a cartesian/BNLJ, and the corpus side must not
    // be the broadcast build (components output is the only small side)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // exactly one keeper per cluster id (the canonical-doc invariant)
    val bad = df.groupBy("cluster_id")
      .agg(sum(when(col("is_kept"), 1).otherwise(0)).as("keepers"))
      .filter(col("keepers") =!= 1)
    assert(bad.isEmpty, "every cluster must keep exactly one document")
  }

  test("funnel scan keeps non-numeric entity keys (no silent cast-to-null drop)") {
    import spark.implicits._
    val ev = Seq(
      ("user_a", "view", "2026-01-01 00:00:01"),
      ("user_a", "click", "2026-01-01 00:00:02"),
      ("user_b", "view", "2026-01-01 00:00:03"))
      .toDF("uid", "etype", "ts")
    val out = graft.operators.Funnel
      .deepestStage(ev, "uid", "etype", "ts", Seq("view", "click"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("user_a" -> 2, "user_b" -> 1))
  }

  test("funnel scan agrees with the relational join form on string keys") {
    // Guards the native-type path in Funnel.deepestStage: the long-keyed
    // equivalence test above would stay green even if a cast-to-long crept
    // back in, because user_id IS a long there. Same-instant ties included
    // (user_d's click at the view's timestamp must NOT advance the funnel).
    import spark.implicits._
    val ev = Seq(
      ("user_a", "view",     "2026-01-01 00:00:01"),
      ("user_a", "click",    "2026-01-01 00:00:02"),
      ("user_a", "purchase", "2026-01-01 00:00:03"),
      ("user_b", "view",     "2026-01-01 00:00:04"),
      ("user_b", "purchase", "2026-01-01 00:00:05"), // skipped click: stays at 1
      ("user_c", "click",    "2026-01-01 00:00:06"), // no view: absent
      ("user_d", "view",     "2026-01-01 00:00:07"),
      ("user_d", "click",    "2026-01-01 00:00:07")) // tie: strict > blocks
      .toDF("uid", "etype", "ts").withColumn("ts", $"ts".cast("timestamp"))
    val stages = Seq("view", "click", "purchase")
    val scan = graft.operators.Funnel.stageCounts(
      graft.operators.Funnel.deepestStage(ev, "uid", "etype", "ts", stages), stages)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // relational join form, inline: stage i+1 = first matching event
    // strictly after the event that completed stage i
    ev.createOrReplaceTempView("funnel_ev_str")
    val join = spark.sql("""
      WITH s1 AS (SELECT uid, min(ts) ts FROM funnel_ev_str WHERE etype='view' GROUP BY uid),
      s2 AS (SELECT e.uid, min(e.ts) ts FROM funnel_ev_str e JOIN s1 ON e.uid=s1.uid
             AND e.ts > s1.ts WHERE e.etype='click' GROUP BY e.uid),
      s3 AS (SELECT e.uid, min(e.ts) ts FROM funnel_ev_str e JOIN s2 ON e.uid=s2.uid
             AND e.ts > s2.ts WHERE e.etype='purchase' GROUP BY e.uid)
      SELECT (SELECT count(*) FROM s1) c1, (SELECT count(*) FROM s2) c2,
             (SELECT count(*) FROM s3) c3""").head()
    assert(scan(1) == join.getLong(0), s"stage1: scan=${scan(1)} join=${join.getLong(0)}")
    assert(scan(2) == join.getLong(1), s"stage2: scan=${scan(2)} join=${join.getLong(1)}")
    assert(scan(3) == join.getLong(2), s"stage3: scan=${scan(3)} join=${join.getLong(2)}")
  }

  test("plan: bloom prune probes the sketch on the fact side before the join") {
    val df = SparkEntry.queries("q_bloom_prune")(spark, sf)
    val p = plan(df)
    // the native probe must be in the plan (codegen'd predicate on the
    // fact scan), and the join must still be a real equi-join
    assert(p.contains("might_contain"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // and on the fixture it must actually prune: the selective dim filter
    // keeps ~3% of orders, so the majority of lineitem rows must die at
    // the probe instead of travelling into the join
    val li = Tables.lineitem(spark, sf)
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        pmod(col("o_orderkey"), lit(7)) === 0)
    val pruned = graft.operators.BloomPrune.semiReduce(
      li, "l_orderkey", urgent, "o_orderkey", expectedItems = 1L << 16)
    val (kept, total) = (pruned.count(), li.count())
    assert(kept < total / 2, s"bloom kept $kept of $total fact rows — not pruning")
  }

  test("plan: heavy hitters shuffles candidates, not the vocabulary") {
    val df = SparkEntry.queries("q_heavy_hitters")(spark, sf)
    val p = plan(df)
    // the recount pass must probe the (tiny) candidate relation with a
    // broadcast join so only candidate rows reach the aggregation...
    assert(p.contains("BroadcastHashJoin"), p)
    // ...and the exploded item stream must flow INTO that join directly —
    // no exchange between the Generate and the join. (The vocabulary-sized
    // groupBy this operator replaces would hash-exchange the full explode
    // output; here the only hash exchanges are candidate-bounded: the
    // sketch distinct and the post-join recount aggregation.) In the
    // printed tree the join's streamed child is the lines between the
    // first BroadcastHashJoin and its BroadcastExchange branch.
    val streamedChild = p.substring(p.indexOf("BroadcastHashJoin"))
    val untilBroadcast = streamedChild.substring(0, streamedChild.indexOf("BroadcastExchange"))
    assert(untilBroadcast.contains("Generate explode"), p)
    assert(!untilBroadcast.contains("Exchange"),
      s"exchange between explode and the candidate join:\n$p")
  }

  test("plan: bloom decontamination probes the sketch before the verify join") {
    val df = SparkEntry.queries("q_decontaminate_bloom")(spark, sf)
    val p = plan(df)
    assert(p.contains("might_contain"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("plan: attribution join is an equi-join on the key, range in condition") {
    val df = SparkEntry.queries("q_attribution_join")(spark, sf)
    val p = plan(df)
    // the time bounds must ride in an equi-join's condition (hash or
    // sort-merge on user_id), never degrade to a nested loop over events
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("z-order range layout bounds every dimension per partition") {
    // The scale claim behind q_zorder_layout: range-partitioning by the
    // interleaved z-value yields partitions whose bounding box is small in
    // BOTH dimensions, unlike round-robin (or any single-column) layout —
    // that box is exactly what parquet min/max skipping consults.
    val mask = (1L << 10) - 1
    val li = Tables.lineitem(spark, sf).select(
      col("l_partkey").bitwiseAND(lit(mask)).as("x"),
      col("l_suppkey").bitwiseAND(lit(mask)).as("y"))
    val withZ = li.withColumn("z",
      graft.operators.ZOrder.zValue(Seq(col("x"), col("y")), 10))
    def avgBoxArea(df: DataFrame): Double = df
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(((max("x") - min("x")) * (max("y") - min("y"))).as("area"))
      .agg(avg("area")).head().getDouble(0)
    val zArea = avgBoxArea(withZ.repartitionByRange(8, col("z")))
    val naturalArea = avgBoxArea(withZ.repartition(8))
    assert(zArea < naturalArea * 0.5,
      s"z-order avg box area $zArea not better than round-robin $naturalArea")
  }

  test("z-value matches the reference interleave on known points") {
    import spark.implicits._
    // hand-computed Morton codes, 4 bits, 2 dims: bit b of x → 2b, y → 2b+1
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (15L, 15L))
      .toDF("x", "y")
    val out = pts.withColumn("z",
      graft.operators.ZOrder.zValue(Seq(col("x"), col("y")), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def morton(x: Long, y: Long): Long =
      (0 until 4).map(b => (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1)))
        .reduce(_ | _)
    assert(out == Set((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (15L, 15L))
      .map { case (x, y) => (x, y, morton(x, y)) })
  }

  test("plan: lloyd refinement is map-side assignment plus one aggregation shuffle") {
    val p = plan(SparkEntry.queries("q_kmeans_refine")(spark, sf))
    // the broadcast centroid assignment adds no exchange; the only hash
    // shuffle is the (cell, dimension) mean aggregation — its combiner
    // state is k·dim counters per task regardless of corpus size
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("plan: flagship entry aggregates with partial (map-side) aggregation") {
    val p = plan(SparkEntry.entry(spark))
    assert(p.contains("HashAggregate"), p)
    // partial + final pair around one exchange — map-side combine is on
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("plan: training shards is one hash shuffle on the shard key (plus output sort)") {
    val p = plan(SparkEntry.queries("q_training_shards")(spark, sf))
    // the per-shard window rides a single hashpartitioning(shard)
    // exchange; the rangepartitioning exchange is the output orderBy
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(p.contains("hashpartitioning(shard"), p)
  }

  test("plan: mixture sampling joins the per-domain rates by broadcast") {
    val p = plan(SparkEntry.queries("q_mixture_sample")(spark, sf))
    // the corpus-side keep-filter pass must see the (domains-sized) rate
    // table broadcast, never a shuffled join of the corpus on domain
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("plan: recipe plan is a local relation — no join or aggregate left per round") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LocalRelation}
    import graft.llmops.TextStats
    val docs = Seq(("A", 10000L), ("B", 1000L), ("C", 50L)).toDF("dom", "toks")
    val qe = TextStats.recipePlan(docs, "dom", "toks",
      weights = Map("A" -> 1L, "B" -> 1L, "D" -> 2L), budgetTokens = 8000L,
      rounds = 6).queryExecution
    Seq(qe.analyzed, qe.optimizedPlan).foreach { p =>
      assert(p.isInstanceOf[LocalRelation], p)
      assert(p.collect { case n @ (_: Join | _: Aggregate) => n }.isEmpty, p)
    }
  }

  test("plan: quantized top-k runs the pair loop on the native dot kernel") {
    val p = plan(SparkEntry.queries("q_quantized_topk")(spark, sf))
    assert(p.contains("graft_dot"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("plan: random projection is ONE fused native kernel, map-side") {
    // the whole projection must be a single graft_jl_project call — the
    // composed array-of-dots form blows the JIT method limit and runs
    // interpreted (the 64× stress finding); only the deterministic
    // output orderBy may add an exchange
    val p = plan(SparkEntry.queries("q_random_project")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
    assert(p.contains("graft_jl_project"), p)
    assert(!p.contains("graft_dot("), p)
  }

  test("plan: simhash signs on the native kernel — both the table and the column form") {
    import spark.implicits._
    val texts = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    // local-relation inputs constant-fold, so check the ANALYZED plan
    val sigs = graft.llmops.Dedup.simhashSignatures(texts, "doc_id", "text")
    val col1 = texts.select(graft.llmops.Dedup.simhash64(col("text")).as("sig"))
    Seq(sigs, col1).foreach { df =>
      val p = df.queryExecution.analyzed.toString
      assert(p.contains("graft_simhash64"), p)
    }
  }

  test("plan: two-stage retrieval re-rank broadcasts survivors — corpus never shuffles") {
    val p = plan(SparkEntry.queries("q_projected_topk")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("graft_dot"), p)
    // only the two top-k windows may hash-exchange (coarse + re-rank);
    // the corpus reaches the re-rank through a broadcast join, not a
    // cand_id shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2, p)
  }

  test("plan: window chunking is map-side — zero hash shuffles") {
    // the chunk grid is per-row arithmetic; only the deterministic output
    // orderBy may add a rangepartitioning exchange
    val p = plan(SparkEntry.queries("q_chunk_windows")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("plan: heap top-k reduces to k rows per partition BEFORE the exchange") {
    // the whole point of TopK vs the window form: a partial
    // ObjectHashAggregate must sit below the hashpartitioning exchange,
    // so the shuffle carries k-bounded buffers, not every scored pair —
    // and no per-query Sort node exists anywhere
    val p = plan(SparkEntry.queries("q_topk_agg")(spark, sf))
    val partialIdx = p.indexOf("functions=[partial_")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(query_id")
    assert(partialIdx >= 0, p)
    assert(exchangeIdx >= 0 && exchangeIdx < partialIdx,
      s"partial agg must be BELOW (after, in tree print) the exchange\n$p")
    // no Window node: the windowed form would sort every scored pair
    // inside its query partition (the deterministic output orderBy's
    // range-partitioned Sort over the k·|Q| result rows is fine)
    assert(!p.contains("Window"), p)
  }

  test("plan: near-dup cosine threshold stays ABOVE the nested-loop join") {
    // Similarity.thresholdAboveJoin's barrier rests on an undocumented
    // Catalyst contract: nondeterministic predicates are never pushed
    // through a join. If a future Spark starts pushing them, the dot
    // product moves into the BroadcastNestedLoopJoin condition — evaluated
    // per candidate pair and re-evaluated in the output projection,
    // measured ~5× slower. This pins the plan so that change goes red
    // here, not in a bench regression.
    val p = plan(Similarity.cosineNearDupPairs(
      Tables.embeddings(spark, sf), "vec_id", "embedding", 0.8, dim = 64))
    val joinLines = p.linesIterator.filter(_.contains("NestedLoopJoin")).toList
    assert(joinLines.nonEmpty, p)
    joinLines.foreach { l =>
      assert(!l.contains("graft_dot") && !l.contains("element_at") && !l.contains("cosine"),
        s"cosine threshold was pushed into the join condition:\n$l")
    }
    // and the threshold must still exist somewhere above: a Filter that
    // references the cosine (inlined as the native graft_dot kernel at
    // this dim, or the element_at fold / named column in other shapes)
    assert(p.linesIterator.exists(l => l.contains("Filter") &&
      (l.contains("graft_dot") || l.contains("cosine") || l.contains("element_at"))),
      s"no Filter above the join carries the cosine threshold:\n$p")
  }

  test("plan: PQ encode never shuffles the corpus; ADC never shuffles candidates") {
    import graft.llmops.ProductQuantization
    val q = Similarity.quantizeInt8(Tables.embeddings(spark, sf), "embedding")
      .select(col("vec_id"), col("qvec").cast("array<double>").as("qv"))
    val books = ProductQuantization.subspaceCodebooks(
      q.filter(col("vec_id") < 8), "vec_id", "qv", m = 4, dim = 64)
    val enc = ProductQuantization.pqEncode(q, "vec_id", "qv", books, m = 4, dim = 64)
    val pe = plan(enc)
    // the only exchanges may belong to the 32-row codebook fold; the
    // corpus (keyed by vec_id) must reach the output without hashing —
    // the claim that the index build is a single map pass
    assert(!pe.contains("hashpartitioning(vec_id"), pe)
    assert(pe.contains("BroadcastNestedLoopJoin") || pe.contains("BroadcastExchange"), pe)
    val topk = ProductQuantization.adcTopK(q.filter(col("vec_id") < 4), enc,
      books, "vec_id", "qv", k = 3, m = 4, dim = 64)
    val pt = plan(topk)
    // candidates stream through the broadcast join un-shuffled; the only
    // corpus-keyed exchange is the final per-query top-k window
    assert(!pt.contains("hashpartitioning(cand_id"), pt)
    assert(pt.contains("hashpartitioning(query_id"), pt)
  }

  test("plan: incremental near-dup fetches registry text via a semi-join prune") {
    import graft.llmops.Dedup
    val docs = Tables.documents(spark, sf)
    val registry = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val regSigs = Dedup.minhashSignatureArray(
      Dedup.shingleSets(registry.filter(size(split(col("text"), " ")) >= 3),
        "doc_id", "text", 3), "doc_id", 16)
    val p = plan(Dedup.minhashIncrementalNearDups(batch, regSigs, registry,
      "doc_id", "text", 3, 16, 4, 0.8))
    // the historical corpus is only tokenized for candidate ids: the text
    // fetch must be a LeftSemi join, and nothing may go nested-loop
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("plan: lm score reuses the checkpointed bigram table on both count sides") {
    import graft.llmops.TextStats
    val p = plan(TextStats.lmScore(Tables.documents(spark, sf), "doc_id", "text"))
    // `big` is localCheckpoint'd: the equi-join side AND the left-count
    // aggregate must both read the materialized RDD, not re-shuffle the
    // corpus — without it the corpus would be tokenized 3×, not 2×.
    assert("Scan ExistingRDD".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // the scoring joins are equi-joins on word keys (never nested-loop)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("plan: centroid outliers broadcast the per-label centroids, never the corpus") {
    val p = plan(Similarity.centroidOutliers(Tables.embeddings(spark, sf),
      "vec_id", "label", "embedding", topK = 5))
    // the label-count-sized centroid table is the broadcast side; the
    // corpus streams map-side into the distance pass
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // exchanges: component aggregate, centroid-array aggregate, top-k
    // window (+ broadcast) — the corpus itself is hashed at most once
    // (the window), independent of dimension
    assert(countShuffles(p) <= 3, p)
  }

  test("plan: cluster-balanced sample is assignment + ONE heap-agg shuffle") {
    val emb = Tables.embeddings(spark, sf)
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell_id"), col("embedding").as("centroid"))
    val p = plan(Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
      centroids, dim = 64, perCell = 10))
    // map-side assignment (broadcast centroids), then the bounded-heap
    // aggregate's single cell_id exchange — per-cell membership is never
    // sorted or windowed whole
    assert(countShuffles(p) == 1, p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), p)
  }

  test("plan: importance scoring broadcasts bucket tables, never the corpus") {
    val docs = Tables.documents(spark, sf)
    val p = plan(graft.llmops.TextStats.importanceScore(docs, "doc_id", "text",
      docs.filter(col("lang") === "en"), "text", gramN = 2, buckets = 1024))
    // both count tables are `buckets`-bounded broadcasts; the doc-bucket
    // stream is never the build side of anything and never nested-looped
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("plan: exact substring dedup joins only on keys — no pair explosion") {
    val p = plan(SparkEntry.queries("q_exact_substring")(spark, sf))
    // window-text rank, doc-id interval merge, interval-array groupBy,
    // corpus equi-join: every join/window keyed, nothing quadratic
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(countShuffles(p) <= 6, p)
  }

  test("plan: containment candidates come from the df-pruned equi-join") {
    // the OPERATOR's plan — the declared query now checkpoints the
    // verified pairs before its sort (r12), which would hide this
    // subtree behind a Scan ExistingRDD and make the audit vacuous
    val p = plan(graft.llmops.Dedup.containmentNearDups(
      graft.model.Tables.documents(spark, sf), "doc_id", "text",
      n = 3, maxDf = 10, threshold = 0.5, minShared = 2))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("plan: bestMatch argmax hash-aggregates the pair stream — no pair sort") {
    // the r7 GC-lottery fix pinned: the blocking-join pair table reduces
    // through ObjectHashAggregate (bounded-heap TopK), map-side partial
    // first. A max_by(struct(payload)) or window form would reintroduce
    // a SortAggregate/Sort over ~9M wide rows — the exact regression
    // this asserts against.
    val p = plan(SparkEntry.queries("q_record_linkage")(spark, sf))
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("SortAggregate"), p)
    // only the deterministic output orderBy may range-exchange
    assert("Exchange rangepartitioning".r.findAllIn(p).length == 1, p)
  }

  test("plan: KMV sketch build is ONE shuffle with a map-side partial") {
    // The bottom-k aggregation must combine map-side (≤ k longs per
    // (group, partition) cross the wire) through an ObjectHashAggregate
    // — a SortAggregate would re-sort the raw hash stream, and a missing
    // partial_ would shuffle every raw row.
    val p = plan(SparkEntry.queries("q_kmv_registers")(spark, sf))
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("SortAggregate"), p)
    // build exchange + the deterministic output sort, nothing else
    assert(countShuffles(p) <= 2, p)
  }

  test("plan: audience overlap joins SKETCH rows, the corpus aggregates once") {
    // the pair join must be a broadcast over the segment-sized sketch
    // table (never a corpus-side exchange), and the eager checkpoint must
    // leave exactly one sketch-build aggregation in the plan — the
    // two-sided self-join otherwise re-scans the corpus per side.
    val p = plan(SparkEntry.queries("q_audience_overlap")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("partial_(hv"), // the sketch agg is checkpointed OUT
      s"sketch build must not re-run inside the pair join plan: $p")
  }

  test("plan: RRF fusion input is arm-bounded — group-limits below every rank window") {
    // each arm's top-k must reach the fused window as a WindowGroupLimit
    // partial (≤ k rows per partition per query cross the wire), and the
    // fusion must union arms, never join the corpus
    val p = plan(SparkEntry.queries("q_hybrid_rrf")(spark, sf))
    assert("WindowGroupLimit".r.findAllIn(p).length >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("plan: residual IVFADC never shuffles the candidate corpus") {
    // assignment + residual + PQ-encode are one map pass over broadcast
    // centroids/codebooks and the probed join is broadcast-hash on
    // cell_id, so the CORPUS side never exchanges. The hash exchanges
    // that do appear are all bounded-size (codebook/centroid packing,
    // m·ks rows) except the per-query top-k — and that one must carry
    // the WindowGroupLimit partial so only ≤k rows per partition per
    // query cross the wire.
    val p = plan(SparkEntry.queries("q_ivf_pq_res")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(countShuffles(p) <= 4, p)
  }

  test("plan: weighted sample pushes a partial per-partition top-k below the stratum shuffle") {
    // the rank-filter window must execute as WindowGroupLimit (state
    // O(k·strata) per task, never a stratum's full row set), and the
    // priority arithmetic is map-side — one hash exchange for the window,
    // plus the deterministic output sort
    val p = plan(SparkEntry.queries("q_weighted_sample")(spark, sf))
    assert(p.contains("WindowGroupLimit"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("plan: rendezvous shard assignment is map-only — zero exchanges before the audit agg") {
    import graft.llmops.TextStats
    val df = Tables.documents(spark, sf).select(col("doc_id"),
      TextStats.rendezvousShard(col("doc_id"), 8).as("shard"))
    val p = plan(df)
    assert(countShuffles(p) == 0, p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("plan: hierarchical HRW materializes the group winner once — O(√S) hashes per row") {
    import graft.llmops.TextStats
    import org.apache.spark.sql.catalyst.expressions.ArrayMax
    val df = TextStats.hierarchicalShards(
      Tables.documents(spark, sf).select("doc_id"), "doc_id", 64)
    // exactly TWO argmax trees must survive optimization: level 1 in its
    // own projection (aliased _grp) and level 2 referencing that
    // attribute. If CollapseProject ever inlines the level-1 tree into
    // the level-2 lambda, the group argmax re-evaluates per member —
    // O(G·M) = O(S) md5s per row, silently voiding the 2.9×-measured
    // win (stress_rendezvous_hier64) — and the count here becomes 3.
    val nArgmax = df.queryExecution.optimizedPlan.collect {
      case n => n.expressions.flatMap(_.collect { case am: ArrayMax => am })
    }.flatten.size
    assert(nArgmax == 2, s"expected 2 array_max trees (split projections), got $nArgmax")
    assert(countShuffles(plan(df)) == 0, plan(df))
  }

  test("plan: prefix-filtered Jaccard joins on the prefix-shingle key, never all-pairs") {
    // the OPERATOR's plan — see the containment audit note (r12
    // checkpoint-before-sort would make the declared query's plan
    // a bare checkpoint scan)
    val p = plan(graft.llmops.Dedup.prefixFilteredJaccard(
      graft.model.Tables.documents(spark, sf), "doc_id", "text",
      n = 3, threshold = 0.3))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("plan: token diversity is map-side — zero hash exchanges, no UDF") {
    // the Σc(c−1) fold runs per row over the sorted token array; the only
    // exchange in the whole plan is the deterministic output sort
    val p = plan(SparkEntry.queries("q_token_diversity")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 0, p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
  }

  test("plan: chi2 drift reduces to (day, category) cells before any window") {
    val p = plan(SparkEntry.queries("q_chi2_drift")(spark, sf))
    // raw events combine map-side into per-(day, cat) cells below the
    // first exchange; everything after runs on the cell table
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
    // group shuffle + day-window + final day rollup — never more
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 3, p)
  }

  test("plan: spearman rank windows sort within groups — no global sort") {
    val p = plan(SparkEntry.queries("q_spearman")(spark, sf))
    // the only range exchange is the deterministic output orderBy; both
    // rank passes are per-language window sorts on hash exchanges
    assert("Exchange rangepartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("plan: k-core peel wave keeps edges via semi-joins, degrees combine map-side") {
    // the full query checkpoints each wave (hiding it from the final
    // plan), so pin the per-wave shape the loop runs
    val edges = Tables.orders(spark, sf)
      .select(col("o_custkey").as("src"), col("o_orderkey").as("dst"))
    val p = plan(graft.graph.Communities.peelRound(edges, 4))
    assert("LeftSemi".r.findAllIn(p).length >= 2, p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }
}
