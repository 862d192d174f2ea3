package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Concurrent

/** Sparse lexical similarity search — IDF-weighted cosine over term
  * frequency vectors via an inverted index, the retrieval complement to
  * the embedding ANN family ([[Similarity]]) and the set-overlap family
  * ([[Dedup]]): embeddings catch paraphrase, shingles catch near-verbatim
  * copies, and this catches "same document, different boilerplate" —
  * heavy shared vocabulary under reordering, where shingles break and no
  * embedding model is in the loop.
  *
  * Scale shape (the inverted-index contract): candidate volume is
  * Σ_term df(term)², so the df window [2, maxDf] is the operator's knob —
  * df=1 terms match nothing and stopword-grade terms would square into
  * the candidate explosion; dropping them is what makes lexical search
  * tractable at corpus scale (the same role `maxBucket` plays in the LSH
  * families). Everything is one postings groupBy + one term-keyed
  * self-join + one pair groupBy; no row ever carries the document text.
  *
  * Determinism: tf/df are integers; the IDF weight is
  * floor(1e6/df) — exact for df < 10⁸ because the true quotient sits
  * ≥1/df from the nearest integer while the double error is ~1e-10 —
  * so the weighted co-occurrence numerator is an exact long. Float
  * enters in the final cosine only, as the identical operation tree
  * `num / sqrt(double(sa)·double(sb))` in both engines.
  */
object SparseSim {

  /** The term array (unigram tokens or space-joined n-grams) as a pure
    * column — shared by the postings build and the map-side length
    * computation so both count the same terms. Unigrams drop empty
    * tokens; n-grams are [[Dedup.ngramArray]]'s (empty tokens kept, null
    * or short text gives none). `ngram > 1` restores a long-tailed df
    * profile where a small vocabulary saturates every unigram's df. */
  private def termsExpr(text: Column, ngram: Int): Column = {
    require(ngram >= 1)
    if (ngram == 1) filter(TextStats.tokens(text), t => t =!= "")
    else Dedup.ngramArray(text, ngram)
  }

  /** The map-side (id, len) doc-length pass over a fanned-out corpus,
    * with the `len > 0` filter PINNED ABOVE the fan-out exchange.
    *
    * Written naively (`select(size(termsExpr)).filter(len > 0)`),
    * PushPredicateThroughNonJoin substitutes the alias and pushes
    * `size(termsExpr(text)) > 0` through the Repartition — inlining the
    * ENTIRE tokenizer into a filter that runs in the exchange's map side,
    * i.e. in however few tasks the raw scan has (ONE on the single-file
    * bench fixture: measured 1.5–2.6 s serial per evaluation, the
    * dominant stages of the bm25 plans), and the projection above then
    * re-tokenizes for the `len` value. The guard is the EvalBarrier
    * device: a nondeterministic column in the projection (so predicates
    * cannot cross it) OR-ed into the filter (so the filter cannot be
    * split off), semantically `len > 0` exactly — mid is never negative. */
  private def docLenFrom(c: DataFrame, idCol: String, textCol: String,
      ngram: Int): DataFrame =
    c.select(col(idCol).as("id"),
        size(termsExpr(col(textCol), ngram)).cast("long").as("len"),
        monotonically_increasing_id().as("_mid"))
      .filter(col("len") > 0 || col("_mid") < 0)
      .drop("_mid")

  /** Top-k IDF-weighted cosine neighbors per document.
    * Output: (id, neighbor, score_num, cosine, rank) — `score_num` is
    * the exact integer numerator, kept for auditability. */
  def cosineTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int, maxDf: Long, ngram: Int = 1): DataFrame =
    // one definition of the scoring tree: the one-shot form IS the
    // stored form over a just-built index (buildIndex's lens/stats are
    // lazy and unconsumed here — no extra work materializes), so a
    // tie-break or weighting change can never diverge between the two
    cosineTopKIndex(buildIndex(docs, idCol, textCol, ngram), k, maxDf)

  /** BM25-style query→corpus retrieval, log-free: the standard tf
    * saturation and length normalization with the rational IDF weight
    * floor(1e6/df) in place of the usual log — `ln` is the one
    * operation whose low bits differ across engines/libms, and the
    * rational weight preserves the monotone rare-term preference the
    * log encodes (this library's lift-not-PMI discipline). Each
    * per-term score is ONE double operation tree, micro-quantized to an
    * integer (`round(w·sat)`, the q_zscore device), so the per-document
    * sum is an exact long regardless of aggregation order.
    *
    * Scale shape: the query side (terms of the query SET) broadcasts;
    * corpus postings stream through one term join, score in one
    * (query, doc) aggregation, and rank in one query-keyed window. The
    * df window is the same candidate-volume knob as [[cosineTopK]]'s.
    */
  def bm25Retrieve(queries: DataFrame, qIdCol: String, qTextCol: String,
      corpus: DataFrame, idCol: String, textCol: String,
      k: Int, maxDf: Long, ngram: Int = 1,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1 && maxDf >= 1)
    // NOT checkpointed, deliberately: an eager localCheckpoint of the
    // UNPRUNED postings OOM'd at 256× sf0.1 (checkpoint blocks have no
    // lineage, so they are unevictable and pin unified memory until the
    // downstream aggregation can't acquire a page). cosineTopK
    // checkpoints only its df-PRUNED postings — bounded — which is the
    // materialize-once rule's real precondition: cheap to HOLD, not just
    // expensive to recompute. Here the doc-length pass is computed
    // map-side instead (no postings consumer), leaving two consumers
    // that each re-run the corpus shuffle — measured cheaper than
    // holding 300M rows hostage.
    // FanOut the corpus once for all three tokenizer passes below (df
    // build, query-pruned scoring branch, lengths): the bench fixture
    // ships the corpus as one sub-MB parquet file, so each explode
    // pipeline otherwise runs as ONE task however many cores the
    // session has (measured: 2–2.7 s single-task stages inside the
    // hybrid plans). No-op for inputs already wider than the session —
    // a 100 TB corpus never pays the exchange.
    val c = graft.operators.FanOut(corpus)
    // len > 0 keeps term-less docs out of n_docs/avg-len, exactly as the
    // postings-derived form did (they can't match anything anyway)
    val qterms = queries.select(col(qIdCol).as("qid"),
        explode(termsExpr(col(qTextCol), ngram)).as("term"))
      .distinct()
    // the SCORED branch's postings are query-term-pruned BEFORE the
    // (id, term) tf aggregation: the broadcast semi filter runs against
    // the exploded term stream map-side, so this branch's exchange
    // carries only query-matching postings instead of the full corpus.
    // Identical tf values (the filter keys on term alone), so scores are
    // unchanged.
    // `len` is DENORMALIZED onto the pruned posting rows (the buildIndex
    // device): it is a per-doc constant computed from the same `_terms`
    // array the explode reads, so carrying it through the (id, term)
    // aggregation deletes the scored branch's id-keyed lens join — at
    // deployment scale a corpus-wide (id, len) shuffle per query batch.
    // explode_outer for the same InferFiltersFromGenerate reason as
    // buildIndex; the inner qterms join drops the term=NULL rows.
    // Materialized ONCE on executors: postQ feeds TWO consumers (the df
    // aggregation and the scored chain), and without the barrier the
    // whole corpus explode pipeline compiles into BOTH subtrees (the df
    // side lives under a BroadcastExchange, where exchange reuse did not
    // collapse it — measured: two full-corpus explode stages per run).
    // Unlike the UNPRUNED postings (whose eager checkpoint OOM'd at 256×
    // and is documented below as forbidden), the query-pruned postings
    // are exactly the rows the scored exchange ships anyway — bounded by
    // Σ_queryterm df, the same "cheap to HOLD" precondition as
    // cosineTopK's df-pruned checkpoint.
    val postQ = c
      .select(col(idCol).as("id"), termsExpr(col(textCol), ngram).as("_terms"))
      .select(col("id"), size(col("_terms")).cast("long").as("len"),
        explode_outer(col("_terms")).as("term"))
      .join(broadcast(qterms.select("term").distinct()), "term")
      .groupBy("id", "term", "len").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val lens = docLenFrom(c, idCol, textCol, ngram)
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      sum("len").as("total_tokens"))
    // df comes from the query-pruned postings, NOT a second full-corpus
    // postings pass: every term that reaches the scored branch is (by
    // the qterms join right below) a query term, and postQ keeps EVERY
    // corpus document for those terms — only non-query TERMS are pruned
    // — so count-per-term over postQ is the true document frequency for
    // exactly the terms whose df the scorer ever reads. This deletes the
    // unpruned (id, term) tf aggregation (one full corpus explode + the
    // corpus-wide postings exchange) that previously existed only to
    // feed df; the df aggregation reads postQ's checkpoint (exchange
    // reuse alone did NOT collapse the broadcast-side copy — measured).
    val df_ = postQ.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .withColumn("w", floor(lit(1000000.0) / col("df")).cast("long"))
    val lenRatio = (col("len") * col("n_docs")).cast("double") /
      col("total_tokens").cast("double")
    val sat = (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) + lit(b) * lenRatio))
    val scored = postQ.join(broadcast(qterms), "term")
      .join(df_, "term")
      .crossJoin(broadcast(stats))
      .withColumn("_ts", round(col("w").cast("double") * sat).cast("long"))
      .groupBy("qid", "id")
      .agg(sum("_ts").as("score_scaled"), count(lit(1)).as("n_terms"))
    val top = Window.partitionBy("qid")
      .orderBy(col("score_scaled").desc, col("id"))
    scored.withColumn("rank", row_number().over(top))
      .filter(col("rank") <= k)
      .select("qid", "id", "score_scaled", "n_terms", "rank")
  }

  /** A stored, mergeable BM25 inverted index — the build-once/delta-merge
    * form of [[bm25Retrieve]]. At 100 TB the index build IS the cost
    * (the per-round bench's ~130 s class at 64× is almost entirely the
    * corpus explode + tf shuffle); a daily-crawl deployment amortizes it
    * by maintaining the index as a registry: new documents' postings are
    * appended and the per-term/corpus statistics are summed in, never
    * re-derived from the already-indexed corpus — the
    * `Dedup.minhashIncrementalNearDups` playbook applied to retrieval.
    *
    * Why merge is EXACT (the oracle contract: delta-merged ≡ full
    * rebuild on the unioned corpus): every stored statistic is either
    * per-document (`tf`, `len` — untouched by other documents) or an
    * integer sum over documents (`df`, `n_docs`, `total_tokens` — sums
    * compose under union). The query-time weights (floor(1e6/df), the
    * length ratio) are recomputed from the merged sums, so they land on
    * the same integers the rebuilt index would. `maxDf` is deliberately
    * NOT baked into the stored `termDf`: a df just under the cap can
    * cross it when a delta merges in, so the cap must be applied at
    * query time against the merged df.
    *
    * All four tables are plain DataFrames: persist them as parquet
    * ([[writeIndex]]/[[readSegments]]) and the index survives sessions —
    * `postings` and `docLens` are append-only under merge (no shuffle:
    * union of scans), `termDf`/`corpusStats` merge through a
    * vocabulary-sized (never corpus-sized) aggregation.
    *
    * The build-time `ngram` travels WITH the index (in-memory as a case
    * field, on disk inside corpus_stats): query-time tokenization always
    * uses the index's own ngram, so the "built bigram, queried unigram →
    * silently empty join" trap is unrepresentable. corpus_stats also
    * carries the doc-id watermark ([min_id, max_id]) so the stored-
    * segment open ([[readSegments]]) can REJECT a double-ingested or
    * overlapping segment instead of silently double-counting df — the
    * in-memory [[mergeIndex]] stays lazy (a watermark check there would
    * force an extra corpus pass on un-written deltas) and trusts the
    * caller's disjoint-ids contract, which the oracle protects. */
  final case class Bm25Index(
      postings: DataFrame,    // (id, term, tf, len) one row per doc-term
      docLens: DataFrame,     // (id, len)        docs with ≥1 term
      termDf: DataFrame,      // (term, df)       UNFILTERED document freq
      corpusStats: DataFrame, // (n_docs, total_tokens, min_id, max_id) one row
      ngram: Int)

  /** Index a corpus from scratch (also the delta builder: index the new
    * batch alone, then [[mergeIndex]] it into the registry).
    *
    * Doc ids must be an integral type ([[SegmentIO.requireIntegralIds]]);
    * they are normalized to LONG here so an int-id corpus can't surface
    * later as an opaque ClassCastException at segment open. */
  def buildIndex(corpus: DataFrame, idCol: String, textCol: String,
      ngram: Int = 1): Bm25Index = {
    SegmentIO.requireIntegralIds(corpus, idCol, "buildIndex")
    // FanOut before the two tokenizer passes (postings + lens): see
    // bm25Retrieve — the fixture's one-file corpus otherwise serializes
    // the whole explode/tf pipeline onto a single task; no-op at scale.
    val docs = graft.operators.FanOut(
      corpus.withColumn(idCol, col(idCol).cast("long")))
    // `len` is DENORMALIZED onto every posting row (8 bytes/row): it is
    // a per-doc constant computed map-side before the explode (the
    // `_terms` projection evaluates the tokenizer ONCE; size and explode
    // both read the array column), and carrying it through the tf
    // shuffle deletes queryIndex's id-keyed docLens join — which at
    // deployment scale is a corpus-wide (id, len) shuffle per query
    // batch (locally AQE broadcasts it; at 100 TB it doesn't fit).
    //
    // explode_OUTER + isNotNull, not explode: InferFiltersFromGenerate
    // fires only on a non-outer Explode whose child is a bare attribute
    // — exactly the `_terms` alias this shape introduces — and the
    // inferred `size(_terms) > 0 AND isnotnull(_terms)` filter is then
    // pushed below the aliasing Project, INLINING the full tokenizer
    // into the filter. Measured at 64×: 287 s vs 119 s for the postings
    // build (the tokenizer runs 3× per row instead of once). The outer
    // explode is outside the rule's pattern; empty/null docs surface as
    // one term=NULL row each, dropped by a filter on the generated
    // OUTPUT column (per-posting-row, no tokenizer re-eval).
    val post = docs
      .select(col(idCol).as("id"), termsExpr(col(textCol), ngram).as("_terms"))
      .select(col("id"), size(col("_terms")).cast("long").as("len"),
        explode_outer(col("_terms")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("id", "term", "len").agg(count(lit(1)).as("tf"))
      .select("id", "term", "tf", "len")
    val lens = docLenFrom(docs, idCol, textCol, ngram)
    val df_ = post.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      sum("len").as("total_tokens"),
      min("id").as("min_id"), max("id").as("max_id"))
    Bm25Index(post, lens, df_, stats, ngram)
  }

  /** Merge a delta index (a NEW batch of documents, ids disjoint from
    * the base — the caller's contract, same as `incrementalDedup`'s
    * registry; [[readSegments]] enforces it for stored segments) into
    * the base. The base's postings are never re-scanned: per-doc rows
    * union, per-term/corpus sums add. */
  def mergeIndex(base: Bm25Index, delta: Bm25Index): Bm25Index = {
    require(base.ngram == delta.ngram,
      s"mergeIndex: ngram mismatch (base ${base.ngram}, delta " +
        s"${delta.ngram}) - the indexes tokenize different term spaces")
    val df_ = base.termDf.unionAll(delta.termDf)
      .groupBy("term").agg(sum("df").as("df"))
    val stats = base.corpusStats.unionAll(delta.corpusStats)
      .agg(sum("n_docs").as("n_docs"),
        sum("total_tokens").as("total_tokens"),
        min("min_id").as("min_id"), max("max_id").as("max_id"))
    Bm25Index(
      base.postings.unionAll(delta.postings),
      base.docLens.unionAll(delta.docLens),
      df_, stats, base.ngram)
  }

  /** [[bm25Retrieve]]'s exact scoring tree served from a stored index:
    * the corpus text is never touched — the one corpus-sized cost left
    * is the postings SCAN (map-side pruned by the broadcast query-term
    * semi join before any exchange), so query latency is decoupled from
    * the tokenize/tf-shuffle build cost the registry amortizes. */
  def queryIndex(index: Bm25Index, queries: DataFrame,
      qIdCol: String, qTextCol: String,
      k: Int, maxDf: Long,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1 && maxDf >= 1)
    // tokenize queries with the INDEX's ngram — not a caller parameter,
    // so a build/query term-space mismatch cannot exist
    val qterms = queries.select(col(qIdCol).as("qid"),
        explode(termsExpr(col(qTextCol), index.ngram)).as("term"))
      .distinct()
    val df_ = index.termDf.filter(col("df") <= maxDf)
      .withColumn("w", floor(lit(1000000.0) / col("df")).cast("long"))
    val lenRatio = (col("len") * col("n_docs")).cast("double") /
      col("total_tokens").cast("double")
    val sat = (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) + lit(b) * lenRatio))
    // no docLens join: `len` rides on the posting rows themselves
    // (denormalized at build time), so the only id-keyed relation in the
    // query plan is the postings scan — at corpus scale the (id, len)
    // side was the one join AQE couldn't always broadcast
    val scored = index.postings.join(broadcast(qterms), "term")
      .join(df_, "term")
      .crossJoin(broadcast(index.corpusStats
        .select("n_docs", "total_tokens")))
      .withColumn("_ts", round(col("w").cast("double") * sat).cast("long"))
      .groupBy("qid", "id")
      .agg(sum("_ts").as("score_scaled"), count(lit(1)).as("n_terms"))
    val top = Window.partitionBy("qid")
      .orderBy(col("score_scaled").desc, col("id"))
    scored.withColumn("rank", row_number().over(top))
      .filter(col("rank") <= k)
      .select("qid", "id", "score_scaled", "n_terms", "rank")
  }

  /** [[cosineTopK]] served from a stored index — the OTHER member of the
    * ~130 s 64× index-build cost class amortized by the same registry:
    * the (id, term, tf) postings and raw df the stored [[Bm25Index]]
    * already carries are exactly this operator's inputs, so one registry
    * serves both retrieval (BM25) and all-pairs lexical similarity. The
    * df window (the [2, maxDf] candidate knob) is applied at query time
    * against the MERGED df — same post-merge-cap rule as [[queryIndex]].
    * Scoring tree, checkpoint discipline, and output schema are
    * [[cosineTopK]]'s verbatim; only the postings/df derivation is
    * replaced by the stored tables. */
  def cosineTopKIndex(index: Bm25Index, k: Int, maxDf: Long): DataFrame = {
    require(k >= 1 && maxDf >= 2)
    val df_ = index.termDf
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .withColumn("w", floor(lit(1000000.0) / col("df")).cast("long"))
    // Three consumers (both join sides + norms) each re-derive the
    // weighted postings otherwise — materialize-once applies (measured
    // at 64× sf0.1 on the unigram from-text form: 27.5 s unmaterialized
    // → 11.1 s), and the df-PRUNED postings stay the "cheap to HOLD"
    // side of the checkpoint rule
    // len is not part of this operator's math — drop it before the
    // checkpoint so the held table stays (id, term, tf, w)-narrow
    val wpost = index.postings.select("id", "term", "tf")
      .join(df_, "term").localCheckpoint(true)
    val norms = wpost.groupBy("id")
      .agg(sum(col("tf") * col("tf") * col("w")).as("s2"))
    val a = wpost.select(col("term"), col("id").as("id_a"),
      col("tf").as("tf_a"), col("w"))
    val b = wpost.select(col("term"), col("id").as("id_b"),
      col("tf").as("tf_b"))
    val pairs = a.join(b, "term")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("tf_a") * col("tf_b") * col("w")).as("score_num"))
    val sym = pairs.select(col("id_a").as("id"), col("id_b").as("neighbor"),
        col("score_num"))
      .unionAll(pairs.select(col("id_b").as("id"), col("id_a").as("neighbor"),
        col("score_num")))
    val scored = sym
      .join(norms.select(col("id"), col("s2").as("sa")), "id")
      .join(norms.select(col("id").as("neighbor"), col("s2").as("sb")), "neighbor")
      .withColumn("cosine", col("score_num").cast("double")
        / sqrt(col("sa").cast("double") * col("sb").cast("double")))
    val top = Window.partitionBy("id")
      .orderBy(col("cosine").desc, col("neighbor"))
    scored.withColumn("rank", row_number().over(top))
      .filter(col("rank") <= k)
      .select("id", "neighbor", "score_num", "cosine", "rank")
  }

  /** Persist one index SEGMENT as four parquet tables. Only `postings`
    * is written from the caller's plan; the other three are re-derived
    * FROM THE WRITTEN PARQUET — they are pure functions of the postings
    * by the data model's invariants (`len ≡ Σ tf` per doc, `df ≡`
    * postings rows per term, corpus stats from the lens), so the values
    * are identical and the corpus-tokenize pipeline executes exactly
    * ONCE instead of once per output table (the unfixed form re-ran the
    * explode 4× and blew the 64× stress timebox; postings are the
    * "expensive to recompute, too big to checkpoint" case, so the cut
    * goes through the filesystem, not memory).
    *
    * Registry layout is SEGMENTED, Lucene-style: each ingest writes its
    * own segment dir and the registry is the segment LIST
    * ([[readSegments]] opens it) — a delta update is O(batch) I/O, never
    * a rewrite of accumulated history. Writing a MERGED index through
    * here is compaction: legal, costs the full rewrite compaction costs.
    *
    * The write publishes via [[SegmentIO.publish]] (temp dir + one
    * rename): the four tables are written sequentially with stats
    * derived from the postings, so a crash or retried ingest mid-write
    * would otherwise leave NEW postings beside STALE stats from a
    * previous attempt — a segment the watermark guard can still pass
    * and [[readSegments]] would serve with silently wrong df/scores. */
  def writeIndex(index: Bm25Index, dir: String): Unit = {
    val spark = index.postings.sparkSession
    SegmentIO.publish(spark, dir)(writeIndexTables(index, _, spark))
  }

  private def writeIndexTables(index: Bm25Index, dir: String,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    index.postings.write.mode("overwrite").parquet(s"$dir/postings")
    val post = spark.read.parquet(s"$dir/postings")
    // doc_lens and term_df are independent derivations of the WRITTEN
    // postings — overlap the two jobs (Concurrent.runConcurrently, guide
    // §2.6); only corpus_stats below must follow doc_lens
    Concurrent.runConcurrently(spark, Seq(
      () => post.groupBy("id").agg(sum("tf").as("len"))
        .write.mode("overwrite").parquet(s"$dir/doc_lens"),
      () => post.groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$dir/term_df")))
    // the one-row stats table carries the index metadata too: the
    // build-time ngram (so readSegments restores the term space) and the
    // doc-id watermark (so readSegments can reject overlapping segments;
    // cast pins the stored marks to LONG — the type the guard reads)
    spark.read.parquet(s"$dir/doc_lens")
      .agg(count(lit(1)).as("n_docs"), sum("len").as("total_tokens"),
        min("id").cast("long").as("min_id"),
        max("id").cast("long").as("max_id"))
      .withColumn("ngram", lit(index.ngram))
      .write.mode("overwrite").parquet(s"$dir/corpus_stats")
  }

  /** Open a segmented registry (one [[writeIndex]] dir per ingest) in
    * one Spark job, the [[SegmentIO.readStats]] scan, at any segment
    * count: `postings`, `doc_lens` and `term_df` are each ONE multi-path
    * scan under a declared schema, term df over several segments
    * re-sums through one vocabulary-sized aggregation, and corpus stats
    * sum on the driver into a one-row local relation.
    *
    * The open REJECTS overlapping doc-id watermarks
    * ([[SegmentIO.requireDisjointWatermarks]]) — a double-ingested
    * segment would otherwise double-count df/n_docs and duplicate
    * postings SILENTLY — and segments of different `ngram`s, which
    * tokenize different term spaces. */
  def readSegments(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String]): Bm25Index = {
    val statsDdl = "n_docs BIGINT, total_tokens BIGINT, min_id BIGINT, max_id BIGINT"
    val stats = SegmentIO.readStats(spark, dirs, "corpus_stats",
      s"$statsDdl, ngram INT", "readSegments")
    SegmentIO.requireDisjointWatermarks(dirs, stats, "readSegments")
    val ngrams = dirs.zip(stats.map(_.getAs[Int]("ngram")))
    ngrams.foreach { case (d, n) =>
      require(n == ngrams.head._2,
        s"readSegments: ngram mismatch (${ngrams.head._1} ${ngrams.head._2}" +
          s", $d $n) - the segments tokenize different term spaces")
    }
    // SQL's aggregate null rules: nulls (an empty segment's marks and
    // total_tokens) drop out, and all-null gives null
    def agg(c: String)(f: Seq[Long] => Long): Any = {
      val xs = stats.flatMap(r => Option(r.getAs[java.lang.Long](c)))
      if (xs.isEmpty) null else f(xs.map(_.longValue))
    }
    def scan(table: String, ddl: String) =
      SegmentIO.scan(spark.read.schema(ddl), dirs, table)
    val termDf = scan("term_df", "term STRING, df BIGINT")
    Bm25Index(scan("postings", "id BIGINT, term STRING, tf BIGINT, len BIGINT"),
      scan("doc_lens", "id BIGINT, len BIGINT"),
      if (dirs.size == 1) termDf
      else termDf.groupBy("term").agg(sum("df").as("df")),
      spark.createDataFrame(java.util.List.of(Row(
          agg("n_docs")(_.sum), agg("total_tokens")(_.sum),
          agg("min_id")(_.min), agg("max_id")(_.max))),
        StructType.fromDDL(statsDdl)),
      ngrams.head._2)
  }

  /** Compact a segment list into one segment at `outDir` (which must not
    * be one of the inputs — parquet cannot overwrite its own scan).
    * Costs one full index rewrite — run it when the segment count (and
    * with it the per-open vocabulary re-merge and the per-query scan fan)
    * outweighs the rewrite, exactly Lucene's merge policy trade. The
    * compacted index is value-identical to the segmented open:
    * writeIndex canonicalizes from the merged postings, and df/lens/
    * stats are pure functions of them. */
  def compactSegments(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String], outDir: String): Unit = {
    SegmentIO.requireNewDir(dirs, outDir, "compactSegments")
    writeIndex(readSegments(spark, dirs), outDir)
  }
}
