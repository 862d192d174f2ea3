package graft.llmops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the one-call composition of the
  * individually-verified operators, in the order production
  * training-data pipelines run them (each stage's contract, scale shape,
  * and oracle live with its operator; this object only wires them):
  *
  *  1. quality gate        — [[TextStats.qualityScore]] threshold
  *  2. exact dedup         — [[Dedup.exactDedup]] on the text fingerprint
  *  3. decontamination     — [[Dedup.decontaminate]] vs the benchmark set
  *  4. near-dup dedup      — [[Dedup.minhashNearDupsSized]] pairs →
  *                           min-neighbor canonicalization (drop every
  *                           doc with a near-dup of smaller id — the
  *                           [[Similarity.cosineDedupDecision]] rule)
  *  5. recipe planning     — [[TextStats.recipePlan]] water-filled quotas
  *  6. budget fill         — [[TextStats.selectToBudget]] by quality
  *  7. shard layout        — [[TextStats.trainingShards]] seeded scatter
  *
  * Ordering rationale: decontamination runs BEFORE near-dup dedup — the
  * reverse order silently loses data when a contaminated doc is the
  * min-id canonical of a near-dup pair (the clean near-dup would be
  * dropped as a duplicate in stage 3, then its contaminated canonical
  * dropped in stage 4: zero survivors where one should remain; the
  * integration spec plants exactly this case). Both run before planning
  * (quotas must be computed over what can actually ship), selection
  * before sharding (shards are the final artifact). The quality column
  * is computed ONCE and reused by the gate (stage 1) and the fill
  * (stage 6), so the two stages can't disagree.
  *
  * Stages 1–4 are one chain: [[curate]] and [[curateFilterStages]] run
  * it with different pair searches (sized vs explicit banding);
  * [[curateIngest]] shares its gate and near-dup drop.
  *
  * Scale: every stage is one of the audited operators; nothing here adds
  * a shuffle beyond theirs. Stage outputs that feed multiple consumers
  * (the exact-dedup survivors feed decontaminate's shingle pass and its
  * anti-join; the decontaminated corpus feeds the minhash sizing count,
  * the sign chain, and the canonical anti-join; the near-dup survivors
  * feed the quota plan and the fill) are localCheckpoint'd once — their
  * lineages carry the window/join work of every prior stage, the
  * expensive-re-derivation side of the materialize-once trade (see
  * STRESS.md's PageRank-vs-boilerplate measurement).
  */
object Pipelines {

  /** Returns the final sharded training corpus:
    * (id, domain, text, n_tokens, quality, shard, pos). */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String, benchmark: DataFrame, benchTextCol: String,
      stopwords: Seq[String], minQuality: Double,
      shingleSize: Int, nearDupThreshold: Double,
      decontamN: Int, weights: Map[String, Long], budgetTokens: Long,
      numShards: Int, shardSeed: String): DataFrame = {
    // stages 1–4 (checkpointed: the near-dup survivors feed both the
    // quota plan and the fill)
    val nearDeduped = filterChain(docs.select(col(idCol), col(domainCol),
        col(textCol)), idCol, textCol, benchmark, benchTextCol, stopwords,
        minQuality, decontamN)(
        Dedup.minhashNearDupsSized(_, idCol, textCol, shingleSize,
          nearDupThreshold))
      .localCheckpoint()
    // 5 + 6. water-filled quotas over the SURVIVING corpus, then the
    // quality-ordered fill (recipePlan emits the quota as "assigned")
    val plan = TextStats.recipePlan(nearDeduped, domainCol, "n_tokens",
      weights, budgetTokens, rounds = weights.size.max(3))
    val selected = TextStats.selectToBudget(nearDeduped, idCol, domainCol,
        "n_tokens", "quality", plan, quotaCol = "assigned")
      .filter(col("keep"))
      .drop("quota", "cum_tokens", "keep")
    // 7. shard layout
    TextStats.trainingShards(selected, idCol, numShards, shardSeed)
  }

  /** The accumulated state an incremental curation deployment carries
    * between ingests — each table is exactly what one FILTER stage needs
    * to judge future batches without rescanning history:
    *
    *  - `keys`:  `dedup_key` of every quality-passing, exact-dedup'd
    *    document ever ingested (one row per distinct key) — stage 2's
    *    anti-join side.
    *  - `sigs`:  (id, sig) MinHash signature arrays of every document
    *    that reached stage 4 in its own ingest (i.e. survived quality +
    *    exact dedup + decontamination) — INCLUDING docs that were then
    *    dropped as near-dups: in the full-corpus pipeline those docs
    *    still participate in pairing, so a future larger-id near-dup of
    *    a dropped doc must still be caught.
    *  - `texts`: (id, text) of the same stage-4 participants, consulted
    *    only for candidate ids (the minhashIncrementalNearDups left-semi
    *    prune) at verify time.
    *
    * All three are plain DataFrames — persist as parquet between daily
    * runs (the [[SparseSim.Bm25Index]] convention). */
  final case class CurationRegistry(keys: DataFrame, sigs: DataFrame,
      texts: DataFrame)

  object CurationRegistry {
    /** The pre-first-ingest state: empty tables with the right schemas
      * (idCol pinned to LONG, this library's document-id convention). */
    def empty(spark: org.apache.spark.sql.SparkSession,
        idCol: String, textCol: String): CurationRegistry = {
      import org.apache.spark.sql.types._
      def mk(schema: StructType) = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      CurationRegistry(
        mk(StructType(Seq(StructField("dedup_key", StringType)))),
        mk(StructType(Seq(StructField(idCol, LongType),
          StructField("sig", ArrayType(LongType, containsNull = false))))),
        mk(StructType(Seq(StructField(idCol, LongType),
          StructField(textCol, StringType)))))
    }
  }

  /** Incremental curation: [[curate]]'s FILTER stages (quality gate,
    * exact dedup, decontamination, near-dup dedup) applied to a NEW
    * batch against the accumulated registry — the daily-crawl deployment
    * where history is never re-scanned. Returns the surviving batch rows
    * (with `n_tokens`/`quality` appended) and the updated registry.
    *
    * Equivalence contract (the integration test's oracle): under
    * monotonic ingest ids (every batch id exceeds every registry id —
    * the crawl convention) and fixed banding, chaining ingests yields
    * exactly the docs the full-corpus filter pipeline
    * ([[curateFilterStages]]) keeps from the batch. The argument, stage
    * by stage: quality and decontamination are per-document against
    * static references; exact dedup keeps the min id per key, and with
    * monotonic ids the min of a union key-group is always the earliest
    * ingest's representative — so "key seen before" (the registry
    * anti-join) is the same predicate; near-dup dedup drops a doc iff a
    * smaller-id near-dup exists in the union's stage-4 population, and
    * that population splits exactly into the registry's stored
    * signatures (all smaller ids) plus the batch's own (the within-batch
    * pair search). Stages 1, 3 and the stage-4 drop are the same code
    * [[curateFilterStages]] runs, not parallel copies, so only stage 2
    * and the split pair search carry the argument. Nothing here adds a
    * shuffle beyond the operators'.
    *
    * Banding is EXPLICIT (numHashes/rowsPerBand), not corpus-sized: the
    * candidate S-curve must be the same function at every ingest or
    * "near-dup of history" changes meaning between days; size it once
    * for the corpus's TARGET scale with [[Dedup.minhashParamsForCorpus]].
    *
    * The planning stages (recipe quotas, budget fill, shard layout) are
    * deliberately NOT incremental: they are global decisions over
    * whatever ships in a training run — re-run them over the
    * accumulated kept corpus when cutting a snapshot, not per ingest. */
  def curateIncremental(batch: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      stopwords: Seq[String], minQuality: Double,
      shingleSize: Int, numHashes: Int, rowsPerBand: Int,
      nearDupThreshold: Double, decontamN: Int,
      registry: CurationRegistry): (DataFrame, CurationRegistry) = {
    val (kept, delta) = curateIngest(batch, idCol, textCol,
      benchmark, benchTextCol, stopwords, minQuality,
      shingleSize, numHashes, rowsPerBand, nearDupThreshold, decontamN,
      registry)
    (kept, mergeRegistry(registry, delta))
  }

  /** [[curateIncremental]]'s working form, returning the batch's registry
    * DELTA instead of the merged whole — the segmented-persistence entry
    * point: the delta is O(batch)-sized, so
    * [[writeRegistrySegment]](delta, dir) persists one ingest in
    * O(batch) I/O where [[writeRegistry]] of the merged registry rewrites
    * all accumulated history (the [[SparseSim.writeIndex]] segment
    * convention applied to curation state). The delta reuses
    * [[CurationRegistry]]'s shape — its tables union into the base by
    * [[mergeRegistry]], which is exactly what the merged-return form
    * does. */
  def curateIngest(batch: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      stopwords: Seq[String], minQuality: Double,
      shingleSize: Int, numHashes: Int, rowsPerBand: Int,
      nearDupThreshold: Double, decontamN: Int,
      registry: CurationRegistry): (DataFrame, CurationRegistry) = {
    SegmentIO.requireIntegralIds(batch, idCol, "curateIngest")
    // 1. quality gate (FanOut(batch) before it was measured and REJECTED
    // here, r12: wall-flat — the quality filter predicate-pushes through
    // the fan-out exchange, re-running the tokenizer serially in the scan
    // task anyway, and the fanned side re-evaluates it — ~16× executor
    // CPU for nothing. The serial gate is ~0.5 s on the fixture and
    // already parallel for any real multi-file crawl batch.)
    val scored = qualityGate(batch, textCol, stopwords, minQuality)
    // 2. exact dedup vs the key registry, then within the batch.
    // Checkpointed (the curate() rationale): decontaminate reads it for
    // both its shingle pass and its anti-join.
    val exact = Dedup.incrementalDedup(scored, idCol,
        TextStats.fingerprint(col(textCol)), registry.keys, "dedup_key")
      .localCheckpoint()
    val deltaKeys = exact.select(col("dedup_key"))
    val exactDocs = exact.drop("dedup_key", "group_size")
    // 3. decontamination (static benchmark; per-doc, so registry-free).
    // Checkpointed: feeds the sign step, both pair searches' verify
    // sets, the registry texts, and the final anti-join.
    val clean = Dedup.decontaminate(exactDocs, idCol, textCol,
        benchmark, benchTextCol, decontamN)
      .localCheckpoint()
    // 4. sign the batch ONCE (checkpointed): both pair searches band it
    // and it is the registry's signature delta — every stage-4
    // PARTICIPANT's signature, kept or near-dup-dropped (see
    // CurationRegistry).
    val (sets, signed) = Dedup.signEligible(clean, idCol, textCol,
      shingleSize, numHashes)
    val sigs = signed.localCheckpoint()
    // 4a. near-dups WITHIN the batch (id_a < id_b → id_b drops)…
    val batchPairs = Dedup.signedNearDups(sets, sigs, idCol, numHashes,
      rowsPerBand, nearDupThreshold)
    // 4b. …and vs the REGISTRY's stored signatures (registry ids are all
    // smaller under monotonic ingest, so any hit drops the batch doc)
    val regPairs = Dedup.signedIncrementalNearDups(sets, sigs, registry.sigs,
      registry.texts, idCol, textCol, shingleSize, numHashes, rowsPerBand,
      nearDupThreshold)
    val kept = dropNearDups(clean, idCol, batchPairs.select(col("id_b").as(idCol))
      .unionAll(regPairs.select(col("batch_id").as(idCol))))
    // registry growth: the participants' signatures and texts, new keys
    val deltaTexts = clean.filter(Dedup.shingleEligible(col(textCol), shingleSize))
      .select(col(idCol), col(textCol))
    (kept, CurationRegistry(deltaKeys, sigs, deltaTexts))
  }

  /** Union a registry delta (one ingest's contributions, as returned by
    * [[curateIngest]]) into the base — per-table unions, no shuffle
    * anywhere. Key rows may duplicate across merges of the SAME content
    * re-fingerprinted (membership semantics are unchanged under
    * duplicates); sig/text rows never should, which is what the
    * segmented open's watermark guard protects. */
  def mergeRegistry(base: CurationRegistry,
      delta: CurationRegistry): CurationRegistry =
    CurationRegistry(base.keys.unionAll(delta.keys),
      base.sigs.unionAll(delta.sigs),
      base.texts.unionAll(delta.texts))

  /** Persist the WHOLE registry as one dir (three parquet tables).
    * This is the O(history) rewrite: every accumulated key/sig/text row
    * is written again. Deployments that ingest daily should instead
    * persist each ingest's DELTA with [[writeRegistrySegment]] — O(batch)
    * I/O — and open via [[readRegistrySegments]]; writing a merged
    * registry through here is compaction, legal at compaction's full-
    * rewrite cost (see [[compactRegistrySegments]]). Publishes
    * atomically (temp dir + rename, [[SegmentIO.publish]]). */
  def writeRegistry(reg: CurationRegistry, dir: String): Unit = {
    // the stats watermarks order ids as longs (SegmentIO's rule)
    SegmentIO.requireIntegralIds(reg.sigs, reg.sigs.columns.head, "writeRegistry")
    SegmentIO.publish(reg.keys.sparkSession, dir)(writeRegistryTables(reg, _))
  }

  private def writeRegistryTables(reg: CurationRegistry, dir: String): Unit = {
    // the three tables are mutually independent writes into the publish
    // temp dir — overlap them (SegmentIO.runConcurrently, guide §2.6)
    // instead of paying three serial job round-trips; only the stats
    // derivation below must FOLLOW sigs (it reads the written parquet)
    SegmentIO.runConcurrently(reg.keys.sparkSession, Seq(
      () => reg.keys.write.mode("overwrite").parquet(s"$dir/keys"),
      () => reg.sigs.write.mode("overwrite").parquet(s"$dir/sigs"),
      () => reg.texts.write.mode("overwrite").parquet(s"$dir/texts")))
    // one-row stats: the ingest-id watermark readRegistrySegments needs
    // to reject a double-ingested segment. Marks cover the stage-4
    // participants (sigs/texts rows — the tables that INFLATE under
    // double-ingest); key rows are membership sets, semantically
    // idempotent under duplication. Derived from the WRITTEN parquet
    // (the SparseSim.writeIndex rule — one execution of the sig
    // pipeline, into the write).
    val spark = reg.keys.sparkSession
    val sigs = spark.read.parquet(s"$dir/sigs")
    val idCol = sigs.columns.head
    sigs.agg(count(lit(1)).as("n_sigs"),
        min(col(idCol)).cast("long").as("min_id"),
        max(col(idCol)).cast("long").as("max_id"))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Persist one ingest's registry DELTA (as returned by
    * [[curateIngest]]) as a segment dir — O(batch) I/O, history
    * untouched; the registry is the segment LIST, opened by
    * [[readRegistrySegments]]. Same layout as [[writeRegistry]] (a
    * segment IS a registry dir), so the name only marks intent. */
  def writeRegistrySegment(delta: CurationRegistry, dir: String): Unit =
    writeRegistry(delta, dir)

  /** Open a segmented curation registry: each table is ONE multi-path
    * scan across the segment dirs, so the job count does not grow with
    * the list. The open REJECTS overlapping ingest-id watermarks
    * ([[SegmentIO]]'s open guard): a double-ingested segment would
    * otherwise duplicate every stored signature and text row SILENTLY —
    * each batch doc then near-dup-matches the duplicate registry rows,
    * and candidate volume doubles. */
  def readRegistrySegments(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String]): CurationRegistry = {
    val stats = SegmentIO.readStats(spark, dirs, "stats",
      "n_sigs BIGINT, min_id BIGINT, max_id BIGINT", "readRegistrySegments")
    SegmentIO.requireDisjointWatermarks(dirs, stats, "readRegistrySegments")
    def scan(table: String) = SegmentIO.scan(spark.read, dirs, table)
    CurationRegistry(scan("keys"), scan("sigs"), scan("texts"))
  }

  /** Compact a segment list into one segment at `outDir` (which must not
    * alias an input — canonical-path guarded; parquet cannot overwrite
    * its own scan). Costs one full registry rewrite — run it when the
    * per-open union fan outweighs the rewrite, the Lucene merge-policy
    * trade [[SparseSim.compactSegments]] documents with measurements. */
  def compactRegistrySegments(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String], outDir: String): Unit = {
    SegmentIO.requireNewDir(dirs, outDir, "compactRegistrySegments")
    writeRegistry(readRegistrySegments(spark, dirs), outDir)
  }

  /** [[curate]]'s stages 1–4 — the same chain — with EXPLICIT banding
    * (at the sized banding the two keep the same docs): the full-corpus
    * form [[curateIncremental]] is equivalent to (restricted to the
    * batch ids), public for that equivalence check and for one-shot
    * corpora where the sized banding isn't wanted. Returns the surviving
    * docs with `n_tokens`/`quality` appended. */
  def curateFilterStages(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      stopwords: Seq[String], minQuality: Double,
      shingleSize: Int, numHashes: Int, rowsPerBand: Int,
      nearDupThreshold: Double, decontamN: Int): DataFrame =
    filterChain(docs, idCol, textCol, benchmark, benchTextCol, stopwords,
        minQuality, decontamN)(
      Dedup.minhashNearDups(_, idCol, textCol, shingleSize, numHashes,
        rowsPerBand, nearDupThreshold))

  /** Stage 1, the quality gate: appends `n_tokens` and `quality` (the
    * score stage 6's fill reuses, so gate and fill can't disagree) to
    * every input column and keeps `quality >= minQuality`. */
  private def qualityGate(docs: DataFrame, textCol: String,
      stopwords: Seq[String], minQuality: Double): DataFrame =
    docs
      .withColumn("n_tokens", TextStats.tokenCount(col(textCol)).cast("long"))
      .withColumn("quality", TextStats.qualityScore(col(textCol), stopwords))
      .filter(col("quality") >= minQuality)

  /** Stages 1–4 over a full corpus, the one chain [[curate]] and
    * [[curateFilterStages]] run; `nearDupPairs` maps the decontaminated
    * corpus to its (id_a < id_b) near-dup pairs. */
  private def filterChain(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, stopwords: Seq[String],
      minQuality: Double, decontamN: Int)(
      nearDupPairs: DataFrame => DataFrame): DataFrame = {
    // 1. quality gate
    val scored = qualityGate(docs, textCol, stopwords, minQuality)
    // 2. exact dedup (checkpointed: feeds decontaminate's shingle pass
    // AND its anti-join, each replaying the gate + dedup window otherwise).
    // FanOut before the checkpoint: AQE coalesces the dedup window's
    // small shuffle into one partition and the checkpoint freezes that
    // layout, so every decontamination stage downstream would run as ONE
    // task; no-op for corpora already wider than the session.
    val exact = graft.operators.FanOut(Dedup.exactDedup(scored, idCol,
        TextStats.fingerprint(col(textCol)))
      .drop("dedup_key", "group_size"))
      .localCheckpoint()
    // 3. decontamination — before near-dup dedup, so a clean near-dup of
    // a contaminated canonical survives (see the ordering rationale).
    // Checkpointed: the pair search (its sizing count, sign chain and
    // verify) and the near-dup drop all read it.
    val clean = Dedup.decontaminate(exact, idCol, textCol,
        benchmark, benchTextCol, decontamN)
      .localCheckpoint()
    // 4. near-dup dedup: drop every doc with a near-dup of smaller id
    dropNearDups(clean, idCol, nearDupPairs(clean).select(col("id_b").as(idCol)))
  }

  /** Stage 4's drop: `clean` minus the ids in `dropIds` (one column named
    * `idCol`, the larger id of each near-dup pair; repeats are harmless in
    * an anti-join). The ids are a shuffled hash join's build side, a task
    * holding its partition's ids, so `clean` streams through unsorted: a
    * sort-merge join would hold a sort page per side per task. */
  private def dropNearDups(clean: DataFrame, idCol: String,
      dropIds: DataFrame): DataFrame =
    clean.join(dropIds.hint("shuffle_hash"), Seq(idCol), "left_anti")
}
