package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Md5Hash60

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language-ID heuristic, canonical fingerprinting (builder
  * prompt "text analysis" extensions; operates on the `documents` table).
  *
  * Everything is built from codegen'd built-ins over the token array, or
  * from the native `graft_*` text kernels — one narrow projection per
  * document, no shuffle, no UDF. At 100 TB these are
  * pure map-side operators that scale linearly with input splits.
  */
object TextStats {

  /** Whitespace tokenization (single-space corpus convention). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish size estimate: ~4 chars/token heuristic. */
  def bpeTokenEstimate(nChars: Column): Column = ceil(nChars.cast("double") / 4.0).cast("long")

  /** GPT-2-style pre-tokenizer pattern: contraction suffixes, letter runs,
    * digit runs, punctuation runs (each optionally space-prefixed), and
    * residual whitespace. RE2-compatible (no lookahead), so the identical
    * pattern runs in the DuckDB oracle. Subword merging is model-specific;
    * the pre-token count is the standard engine-side budget proxy. */
  val BpePretokenPattern =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

  /** Pre-token count under [[BpePretokenPattern]] — a much closer token
    * budget than chars/4, still one map-side regex pass. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePretokenPattern), lit(0)))

  /** Share of tokens found in `stopwords` (occurrences, not distinct).
    * Counted as size(toks) - size(toks with every stopword removed): the
    * array_remove chain is codegen'd end to end, where a filter() lambda
    * with isin runs as an interpreted CodegenFallback per element. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val t = tokens(text)
    val cleaned = stopwords.foldLeft(t)((acc, w) => array_remove(acc, w))
    (size(t) - size(cleaned)).cast("double") / size(t)
  }

  /** Distinct-token / token ratio (repetition detector). */
  def uniqueTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") / size(tokens(text))

  /** Composite quality score ∈ [0,1]:
    * length (cap 100 tokens) 40% + non-stopword share ([[stopwordRatio]])
    * 30% + uniqueness ([[uniqueTokenRatio]]) 30%, in one tokenize-once
    * pass of the native `graft_quality_score` kernel
    * ([[graft.functions.CurationKernels.qualityScore]]). Null text → NULL.
    * Requires a [[graft.GraftExtensions]] session. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    graft.functions.TextExpressions.qualityScore(text, stopwords)

  def qualityBucket(score: Column): Column =
    when(score >= 0.7, "high").when(score >= 0.5, "medium").otherwise("low")

  /** Language-ID heuristic: score = distinct marker-token hits per
    * language profile; argmax with deterministic lexicographic tie-break.
    * Profiles are marker word lists (n-gram profiles reduce to the same
    * shape: per-language hit counting + argmax).
    */
  def langScores(text: Column, profiles: Map[String, Seq[String]]): Seq[(String, Column)] =
    profiles.toSeq.sortBy(_._1).map { case (lang, markers) =>
      // array_intersect returns the DISTINCT common elements, so its size
      // is exactly "distinct marker hits" — and unlike a filter() lambda
      // (CodegenFallback, interpreted per element) it is a codegen'd
      // expression
      lang -> size(array_intersect(tokens(text), array(markers.map(lit(_)): _*)))
    }

  def predictedLang(text: Column, profiles: Map[String, Seq[String]]): Column = {
    val scored = langScores(text, profiles)
    // Earliest-max argmax in ONE pass: array_max over (score, -index)
    // structs picks the highest score and, on ties, the smallest index
    // (= first language in sorted order, matching the oracle's CASE
    // chain). The previous when()-fold referenced every score expression
    // O(k) times after CollapseProject inlining — each reference a full
    // re-tokenization when the caller doesn't hoist the score columns.
    val entries = scored.zipWithIndex.map { case ((_, s), i) =>
      struct(s.as("s"), lit(-i).as("nr"))
    }
    val langNames = array(scored.map { case (lang, _) => lit(lang) }: _*)
    element_at(langNames, (-array_max(array(entries: _*)).getField("nr")) + 1)
  }

  /** Canonical document fingerprint: md5 over the sorted distinct token
    * set — robust to token order and repetition (the batch analog of a
    * rolling content hash; reference: scene_registry.py:608-644 uses the
    * same sort-then-hash shape for directory contents).
    */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  // ---- PII redaction ----------------------------------------------------

  /** Email/phone/IPv4 redaction — the standard scrub pass before training.
    * Pure per-row regexp chain (codegen'd, map-side, no shuffle). The
    * patterns use only RE2-compatible syntax (character classes, bounded
    * repetition, \b) so the identical pattern strings run in DuckDB for
    * the oracle.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePattern = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  // ---- Repetition metrics (Gopher/C4-style quality rules) ---------------

  private def bigrams(toks: Column): Column =
    // guarded: sequence(1, 0) would generate DESCENDING [1, 0], not empty
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** Share of tokens that are repeats of an earlier token:
    * (n - n_distinct) / n, on a MATERIALIZED token-array column. The
    * shipped form is the `graft_repetition_stats` kernel
    * ([[graft.functions.TextExpressions.repetitionStats]]); this and
    * [[topRunFraction]] over [[sortedBigrams]] are its reference. */
  def duplicateTokenFractionOfTokens(toks: Column): Column =
    (size(toks) - size(array_distinct(toks))).cast("double") / size(toks)

  /** Sorted word-2-gram array — materialize this column once (it is the
    * expensive part: bigram build + sort), then feed [[topRunFraction]]. */
  def sortedBigrams(toks: Column): Column = array_sort(bigrams(toks))

  /** Fraction of the array taken by its single most frequent element (the
    * Gopher "top n-gram fraction" repetition rule). Input must be SORTED;
    * one fold tracking the longest equal-run — map-side, no explode, no
    * shuffle. `sorted` must be a plain attribute: it is referenced three
    * times here, which also keeps CollapseProject from inlining its
    * definition. */
  def topRunFraction(sorted: Column): Column = {
    val zero = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    val best = aggregate(sorted, zero,
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(size(sorted) > 0, best.cast("double") / size(sorted)).otherwise(lit(0.0))
  }

  /** Σ c·(c−1) over the element multiplicities of a SORTED array — the
    * repeated-ordered-pair count behind the Gini–Simpson diversity index
    * (1 − Σc(c−1)/(n(n−1))), the integer-exact lexical-diversity signal
    * (entropy needs log(), a libm call that does not hash-verify across
    * engines; Simpson is rational in the counts). Same fold shape as
    * [[topRunFraction]]: a run of length c contributes Σₖ2(k−1) = c(c−1),
    * accumulated map-side over the sorted array — no explode, no shuffle,
    * so per-document diversity costs one projection at any corpus size.
    * Input must be SORTED and a plain attribute (three references). */
  def repeatPairsOfSorted(sorted: Column): Column = {
    val zero = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("pairs"))
    aggregate(sorted, zero,
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          (acc.getField("pairs") + lit(2L) * (run - 1L)).as("pairs"))
      },
      acc => acc.getField("pairs"))
  }

  // ---- Collocation mining (corpus-level bigram lift) ---------------------

  /** Corpus collocations by LIFT — the log-free PMI form:
    * lift(a,b) = (c_ab · N_tokens) / (c_a · c_b), i.e. how much more often
    * the pair occurs than independence predicts. The standard phrase-
    * detection statistic (word2vec's phrase pass, tokenizer-merge
    * candidates); log(lift) IS the PMI, and log is monotone, so ranking by
    * lift ranks by PMI without a transcendental that engines round
    * differently — every input to the single double division is an exact
    * integer, making the scores bit-reproducible (same trick as the
    * TF-IDF ratio form).
    *
    * Scale shape: one map-side bigram explode + count shuffle, one
    * unigram count shuffle, then two joins against the unigram table
    * (vocabulary-sized — Zipf makes it tiny next to the corpus) and a
    * broadcast 1-row token total. `minCount` prunes the bigram tail
    * BEFORE the joins, which is what bounds the join input at corpus
    * scale. The unigram aggregate is materialized once
    * (localCheckpoint, same precedent as the dedup pair table): it feeds
    * three consumers (two joins + the token total), and without the
    * checkpoint each would re-tokenize the whole corpus — 3 scans
    * instead of the 2 this doc promises.
    */
  def collocationLift(docs: DataFrame, textCol: String,
      minCount: Long): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val base = docs.select(tokens(col(textCol)).as("t"))
    val uni = base.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
      .localCheckpoint()
    val nTok = uni.agg(sum("c_w").cast("double").as("n_tok"))
    val pairs = base.select(explode(when(size(col("t")) >= 2,
        transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    pairs
      .join(uni.select(col("w").as("w1"), col("c_w").as("c_1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c_w").as("c_2")), Seq("w2"))
      .crossJoin(broadcast(nTok))
      .withColumn("lift",
        (col("c_ab").cast("double") * col("n_tok")) /
          (col("c_1").cast("double") * col("c_2").cast("double")))
      .select("w1", "w2", "c_ab", "c_1", "c_2", "lift")
  }

  // ---- Deterministic dataset split ---------------------------------------

  /** Stable train/val/test assignment: bucket = md5(id) mod 100, split by
    * cumulative percentage (train gets [0, pctTrain), etc.). Hash-based so
    * the assignment is reproducible across runs, engines, and data
    * layouts — never sample() (partition-order-dependent) for splits that
    * must survive reprocessing. md5 (not an engine-private hash) keeps it
    * portable and oracle-checkable.
    */
  def splitBucket(id: Column): Column =
    pmod(Md5Hash60(id.cast("string")), lit(100))

  def datasetSplit(id: Column, pctTrain: Int, pctVal: Int): Column = {
    val b = splitBucket(id)
    when(b < pctTrain, "train")
      .when(b < pctTrain + pctVal, "val")
      .otherwise("test")
  }

  /** Greedy sequence packing: bin documents into training "packs" of at
    * most `maxTokens` tokens, in (shard, order) sequence — a new pack
    * starts whenever the running total would overflow (an over-budget
    * single document gets its own pack). The running total depends on the
    * previous *pack's* fill, so like the rate clamp (W7) this is a true
    * recurrence: it runs on [[graft.operators.KeyedScan]] — one shuffle on
    * the shard key + a sorted in-partition scan with O(1) state, spilling
    * through the shuffle sort. Shards pack independently — the standard
    * distributed-packing layout: parallelism = shard count, packing
    * quality is per-shard greedy. [[Packing.packGreedy]] is this operator
    * under other column names.
    *
    * Output: (shard, order key, n_tokens, pack_id (0-based per shard),
    * pack_fill = running tokens in the pack after this doc).
    */
  def packSequences(df: DataFrame, shardCol: String, orderCol: String,
      tokensCol: String, maxTokens: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the order key stays in its NATIVE type — a cast-to-long would null
    // out non-numeric keys (string doc ids) and scramble the pack order
    val ordType = df.select(col(orderCol)).schema.head.dataType
    val schema = StructType(Seq(
      StructField("shard", StringType), StructField("ord", ordType),
      StructField("n_tokens", LongType), StructField("pack_id", LongType),
      StructField("pack_fill", LongType)))
    graft.operators.KeyedScan(df, shardCol, Seq(col(orderCol)),
        Seq(col(orderCol), col(tokensCol).cast("long")), schema) { () =>
      var pack = 0L
      var fill = 0L
      (_, r) => {
        val n = r.getLong(2)
        if (fill > 0 && fill + n > maxTokens) { pack += 1; fill = 0L }
        fill += n
        Row(r.getString(0), r.get(1), n, pack, fill)
      }
    }
  }

  /** Sliding-window token chunking: cut each document into `window`-token
    * chunks starting every `stride` tokens (overlap = window - stride) —
    * how long documents become fixed-context training rows, where
    * [[packSequences]] handles the short ones. Pure map-side explode
    * (one pass over the token array per row, chunks sliced in place);
    * the chunk grid is arithmetic, so the whole operator is codegen'd
    * expressions with no UDF and no shuffle.
    *
    * Output: (id, chunk_idx, n_toks, chunk_text); the final chunks are
    * shorter than `window` when the document tail is reached.
    */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val toks = tokens(col(textCol))
    // starts 0, stride, 2·stride … ≤ nTok-1 (guard keeps one empty chunk
    // for empty text instead of a descending sequence() error)
    val starts = sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(stride))
    df.select(col(idCol), posexplode(transform(starts, st => struct(
        size(slice(toks, st + 1, lit(window))).as("n_toks"),
        array_join(slice(toks, st + 1, lit(window)), " ").as("chunk_text")))))
      .select(col(idCol), col("pos").as("chunk_idx"),
        col("col.n_toks").as("n_toks"), col("col.chunk_text").as("chunk_text"))
  }

  /** Balanced domain-mixture downsampling: over-represented domains are
    * deterministically downsampled toward an equal per-domain share
    * (cap = ceil(total / numDomains)); under-represented domains pass
    * through whole. The keep decision is the same md5-bucket device as
    * [[splitBucket]] — content-keyed, reproducible across engines and
    * reprocessing, never sample()-based. Two tiny aggregates feed a
    * broadcast per-domain rate; the corpus is scanned once, map-side.
    */
  def balancedSample(df: DataFrame, domainCol: String, idCol: String): DataFrame = {
    // counts feeds both the per-domain rate and the global total; eagerly
    // materialize the (tiny, one row per domain) aggregate so the corpus
    // is scanned once for stats, not once per consumer
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("_n"))
      .localCheckpoint(true)
    val stats = counts.agg(sum(col("_n")).as("_total"), count(lit(1)).as("_d"))
    val rates = counts.crossJoin(broadcast(stats))
      .withColumn("_cap", ceil(col("_total").cast("double") / col("_d")).cast("long"))
      .withColumn("_keep_rate",
        least(lit(1.0), col("_cap").cast("double") / col("_n")))
      .select(col(domainCol), col("_keep_rate"))
    val bucket = pmod(Md5Hash60(col(idCol).cast("string")), lit(10000))
    df.join(broadcast(rates), Seq(domainCol))
      .filter(bucket.cast("double") < col("_keep_rate") * 10000.0)
      .drop("_keep_rate")
  }

  /** Temperature-smoothed mixture UP-sampling — the multilingual-corpus
    * balancing scheme (α-smoothing à la XLM-R): each domain is replicated
    * toward the largest one by the square root of its deficit,
    * r_d = √(max_n / n_d), so low-resource domains gain representation
    * without the unbounded duplication of full equalization (α→0) and
    * without starving the head (α=1 keeps natural proportions; this is
    * the α=0.5 point). Every doc gets ⌊r⌋ copies plus one more when its
    * md5 bucket falls below the fractional part — content-keyed like
    * [[splitBucket]], reproducible across engines and reprocessing.
    *
    * Determinism note (why α is FIXED at 0.5 here): `sqrt` is required
    * correctly-rounded by IEEE 754, so r_d is bit-identical in any
    * engine from the two integer counts — and r_d deliberately avoids
    * normalizing by Σ p_d^α, whose cross-domain float sum has no defined
    * order. An arbitrary-α variant would hash-diverge across engines at
    * `pow`'s last ulp; at a fixed √ the whole replication plan is
    * oracle-checkable row for row.
    *
    * Scale shape: two tiny aggregates → broadcast per-domain rate → one
    * map-side corpus pass whose explode emits ⌈r_d⌉ ≤ √(max/min) copies
    * per row. copies ≥ 1 always (r ≥ 1 by construction), so the
    * descending-sequence hazard cannot fire. Output: input row + `copy`
    * index (0-based).
    */
  def temperatureUpsample(df: DataFrame, domainCol: String, idCol: String): DataFrame = {
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("_n"))
      .localCheckpoint(true)
    val maxN = counts.agg(max(col("_n")).as("_max"))
    val rates = counts.crossJoin(broadcast(maxN))
      .withColumn("_r", sqrt(col("_max").cast("double") / col("_n")))
      .select(col(domainCol), col("_r"))
    val bucket = pmod(Md5Hash60(col(idCol).cast("string")), lit(10000))
    df.join(broadcast(rates), Seq(domainCol))
      .withColumn("_copies", floor(col("_r")).cast("long") +
        when(bucket.cast("double") < (col("_r") - floor(col("_r"))) * 10000.0, 1L)
          .otherwise(0L))
      .withColumn("copy", explode(sequence(lit(0L), col("_copies") - 1)))
      .drop("_r", "_copies")
  }

  /** Weighted sample without replacement — sequential Poisson / πps
    * sampling (Ohlsson 1998): k rows per stratum with inclusion
    * probability approximately proportional to an integer weight (token
    * count, quality score…) — the curation primitive between
    * [[qualityPercentileGate]]'s hard top-X% cut and uniform
    * [[balancedSample]]-style thinning: every document keeps a chance,
    * high-weight documents keep a proportionally larger one.
    *
    * Priority = ⌊u / w⌋ with u the row's 60-bit md5 uniform and w ≥ 1
    * its weight; the k smallest priorities per stratum win (ties by id).
    * All-integer (`div`, never a double quotient — a double loses low
    * bits above 2⁵³ and the two engines could round a near-tie apart),
    * content-keyed, reproducible across engines/reprocessing/layout —
    * the same doctrine as [[splitBucket]], never sample(). Rows with
    * w < 1 are excluded (they'd win every draw on ⌊u/w⌋ semantics).
    *
    * Scale shape: the priority is map-side arithmetic; per-stratum
    * selection is one rank-filtered window, which Spark executes with a
    * partial per-partition top-k (WindowGroupLimit) BEFORE the stratum
    * shuffle — state O(k · strata) per task, never a stratum's full row
    * set. Selection is also mergeable (min-k of priorities), so shard
    * samples union+re-rank into a corpus sample without resampling.
    *
    * Output: input row + `priority` + `rn` (1-based rank within the
    * stratum). */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      strataCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val u = Md5Hash60(col(idCol).cast("string"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(col("_priority"), col(idCol))
    df.filter(col(weightCol).cast("long") >= 1L)
      .withColumn("_u", u)
      .withColumn("_w", col(weightCol).cast("long"))
      .withColumn("_priority", expr("_u div _w"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("_u", "_w")
      .withColumnRenamed("_priority", "priority")
  }

  /** Rendezvous (highest-random-weight) shard assignment: shard(id) =
    * argmax over s ∈ [0, numShards) of md5(id ‖ ':' ‖ s) — the
    * re-sharding-stable alternative to [[trainingShards]]' mod layout.
    * Growing numShards by one moves a document ONLY if the new shard's
    * hash beats all previous winners, so exactly ~n/(S+1) documents move
    * and every one of them moves TO the new shard — the minimal possible
    * movement (mod-hashing reassigns ~(1−1/(S+1)) of the corpus). That
    * is the property an incremental 100 TB corpus needs: adding capacity
    * re-writes one shard's worth of data, not the world.
    *
    * Pure map-side arithmetic: the candidate (hash, shard) structs are
    * built by a codegen'd `transform` over a constant sequence and
    * reduced by `array_max` (struct ordering = lexicographic, so ties —
    * impossible at 60 bits in practice — break to the higher shard
    * deterministically). No shuffle, no row multiplication, no UDF;
    * cost is O(numShards) hashes per row, the standard HRW trade —
    * [[hierarchicalShards]] is the O(√S) form for large shard counts. */
  def rendezvousShard(id: Column, numShards: Int): Column = {
    require(numShards >= 1, "numShards must be positive")
    array_max(transform(sequence(lit(0), lit(numShards - 1)),
      s => struct(
        Md5Hash60(concat(id.cast("string"), lit(":"), s.cast("string"))).as("h"),
        s.cast("long").as("shard"))))
      .getField("shard")
  }

  /** Two-level rendezvous sharding — HRW at O(√S) hashes per row instead
    * of [[rendezvousShard]]'s O(S): shards are laid out as G = ⌈√S⌉
    * groups of M = ⌈S/G⌉ members (global shard number = grp·M + j),
    * level 1 argmaxes md5(id‖":g:"‖grp) over the G groups, level 2
    * argmaxes md5(id‖":s:"‖shard) over the winning group's ≤M members
    * (members past S, on a ragged last group, compete with hash −1 and
    * can never win).
    *
    * Minimal movement holds PER LEVEL, so grow by whole groups with M
    * fixed: S → S+M adds one group key, moving ~n/(G+1) documents and
    * every one of them INTO the new group — other groups' docs keep their
    * exact shard because both their group hash and their members' global
    * shard numbers are unchanged. (Growing M instead renumbers grp·M+j
    * for every group — don't.) A ragged last group (M ∤ S) receives a
    * full group's share of documents over fewer members, biasing those
    * members' load by M/(S mod M); keep S a multiple of M where balance
    * matters.
    *
    * Implementation note, load-bearing for the O(√S) claim: the group
    * winner materializes as its OWN projection (`_grp` column) before the
    * member argmax references it. Higher-order-function lambdas re-run
    * their body per element, so inlining the level-1 tree into the
    * level-2 lambda would silently cost O(G·M) = O(S) hashes per row;
    * CollapseProject keeps the split because `_grp` is non-cheap and
    * multiply-referenced. Everything stays map-side — no shuffle, no row
    * multiplication. */
  def hierarchicalShards(df: DataFrame, idCol: String, numShards: Int,
      shardCol: String = "shard"): DataFrame = {
    require(numShards >= 1, "numShards must be positive")
    val nGroups = math.ceil(math.sqrt(numShards.toDouble)).toInt
    val mPerGroup = math.ceil(numShards.toDouble / nGroups).toInt
    val id = col(idCol).cast("string")
    val grp = array_max(transform(sequence(lit(0), lit(nGroups - 1)),
      g => struct(
        Md5Hash60(concat(id, lit(":g:"), g.cast("string"))).as("h"),
        g.cast("long").as("grp")))).getField("grp")
    val member = array_max(transform(sequence(lit(0), lit(mPerGroup - 1)),
      j => {
        val sh = col("_grp") * mPerGroup + j.cast("long")
        struct(
          when(sh < numShards, Md5Hash60(concat(id, lit(":s:"), sh.cast("string"))))
            .otherwise(lit(-1L)).as("h"),
          sh.as("shard"))
      })).getField("shard")
    df.withColumn("_grp", grp)
      .withColumn(shardCol, member)
      .drop("_grp")
  }

  /** Deterministic training-shard layout: the "write the corpus back out
    * as N shuffled shards" step at the end of a curation pipeline. Each
    * row gets (shard, pos): shard = md5(seed‖id) mod numShards — a
    * content-keyed pseudo-random scatter that breaks any source/crawl
    * ordering — and pos = dense 0-based rank within the shard, ordered by
    * the same md5 key (id tiebreak), i.e. the order rows are written in
    * the shard file. One hash-partitioned shuffle + per-shard sort — the
    * shape `df.repartition(N).sortWithinPartitions` writes with, but with
    * an engine-portable key so the layout is reproducible across engines
    * and reprocessing (never rand()/sample(), same doctrine as
    * [[splitBucket]]). At 100 TB: parallelism = numShards, no global
    * total-order bottleneck, no driver state.
    */
  def trainingShards(df: DataFrame, idCol: String, numShards: Int,
      seed: String): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    df.withColumn("_shuffle_key", md5(concat(lit(seed), lit("-"), col(idCol).cast("string"))))
      .withColumn("shard", pmod(Md5Hash60.ofHex(col("_shuffle_key")), lit(numShards.toLong)))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("shard")
          .orderBy(col("_shuffle_key"), col(idCol))) - 1)
      .drop("_shuffle_key")
  }

  /** Per-shard integrity manifest for a [[trainingShards]] layout — the
    * record a training data-loader verifies before an epoch: document
    * count, token total, and a content fingerprint (md5 over the
    * position-ordered per-document md5s, so ANY change — a missing doc,
    * a reorder, one edited byte — flips the shard hash). Deterministic
    * by construction: the position order is part of the shard layout and
    * md5 is engine-portable, so the manifest hash-replays anywhere.
    *
    * Scale shape: one groupBy(shard) aggregation; the collect_list is
    * per-shard-sized, the same per-shard locality the shard writer
    * itself needs (a shard that doesn't fit its writer's task doesn't
    * fit here either — shard count is the knob for both). */
  def shardManifest(shards: DataFrame, textCol: String,
      tokenCol: String): DataFrame =
    shards.groupBy("shard").agg(
      count(lit(1)).as("n_docs"),
      sum(col(tokenCol)).as("n_tokens"),
      md5(concat_ws("", transform(
        array_sort(collect_list(struct(col("pos"), md5(col(textCol)).as("h")))),
        s => s.getField("h")))).as("content_md5"))

  // ---- Percentile-based quality gate --------------------------------------

  /** Keep the top `keepFraction` of documents per group (language,
    * domain…) by a score column — the relative form of a quality filter.
    * Absolute thresholds rot as the corpus mix shifts; "top X% within
    * the language" is the curation rule that survives re-crawls, and
    * per-GROUP ranking keeps a low-resource language from being wiped
    * out by a high-resource one's score distribution.
    *
    * Cut rule: descending rank ≤ ceil(keepFraction · n) — a COUNT-based
    * cut, not a percent_rank threshold, so every group keeps at least
    * one document (ceil ≥ 1): a percent_rank cut assigns a single-doc
    * group pr = 0 and deletes 100% of exactly the low-resource slice
    * the per-group form exists to protect. All integer-exact arithmetic
    * (one binary-exact multiply + ceil, identical both engines),
    * deterministic under score ties via the id tiebreak. Two window
    * functions over ONE shuffle on the group key; map-side otherwise.
    */
  def qualityPercentileGate(df: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, keepFraction: Double): DataFrame = {
    require(keepFraction > 0.0 && keepFraction < 1.0,
      s"keepFraction must be in (0,1), got $keepFraction")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(scoreCol).desc, col(idCol).asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    df.withColumn("grp_rank", row_number().over(w).cast("long"))
      .withColumn("grp_n", count(lit(1)).over(wAll))
      .filter(col("grp_rank") <=
        ceil(lit(keepFraction) * col("grp_n").cast("double")).cast("long"))
  }

  // ---- N-gram diversity (distinct-n) --------------------------------------

  /** Per-group distinct-n diversity: distinct n-gram count over total
    * n-gram occurrences — the standard corpus diversity statistic
    * (low ratio = template/boilerplate-heavy slice; the group-level
    * companion of the per-doc repetition metrics). The ratio is an
    * exact integer division; the count shuffle is vocabulary-bounded
    * with map-side partial aggregation.
    */
  def distinctNgramDiversity(df: DataFrame, groupCol: String,
      textCol: String, n: Int): DataFrame =
    df.select(col(groupCol),
        explode(Dedup.ngramArray(col(textCol), n)).as("gram"))
      .groupBy(groupCol)
      .agg(countDistinct(col("gram")).as("distinct_grams"),
        count(lit(1)).as("total_grams"))
      .withColumn("diversity",
        col("distinct_grams").cast("double") / col("total_grams").cast("double"))

  // ---- Token-budget recipe planning (mixture quotas under a budget) ----

  /** Data-recipe solver: given target mixture weights per domain and a
    * total token budget, compute each domain's token quota and sampling
    * rate by WATER-FILLING — a domain with less mass than its target
    * share contributes everything it has, and its unfilled share is
    * redistributed over the remaining domains in proportion to their
    * weights (the mixing step behind SlimPajama/Dolma-style "data
    * recipes"; without redistribution a scarce domain silently shrinks
    * the delivered corpus below budget).
    *
    * Arithmetic is INTEGER-exact end to end so the plan hash-verifies
    * across engines: weights are integer shares (any positive scale),
    * each round's quota is `(remaining · w) div W_active` in 64-bit
    * integer floor division, and the only float is the final
    * rate = assigned/avail division. Callers keep
    * budget · Σweights < 2^63 (a ~9e14-token budget at basis-point
    * weights) — beyond any real training budget.
    *
    * `rounds` fixed-round semantics: each round recomputes active-domain
    * quotas and saturates domains whose mass fits under them; a round at
    * the fixed point changes nothing, so a verifier replaying exactly
    * `rounds` rounds (the DuckDB oracle) matches wherever the loop
    * actually stabilized — the [[KMeansOps.lloydTrain]] contract. Full
    * water-filling needs at most |domains| rounds; 3 covers typical
    * mixes (each round must newly saturate a domain to matter). When
    * saturation cascades MORE waves than `rounds`, the final allocation
    * clamps each quota by the domain's mass (`least(quota, avail)`), so
    * a sampling rate can never exceed 1.0 — the residual effect of too
    * few rounds is only that the clamped surplus is not redistributed,
    * never an unrealizable plan.
    *
    * Budget, weights and `rounds` must be non-negative; the domain column
    * must be a string and the token column integral (its sum a long). Any
    * 64-bit overflow in the arithmetic throws, never wraps.
    *
    * Scale shape: one corpus aggregate (map-side combined sum per
    * domain), collected when `recipePlan` is called; the water-filling
    * then runs on the driver over those |domains| rows, O(|domains| ·
    * rounds), and the plan comes back as a local DataFrame (one row per
    * domain in the weights or the corpus, sorted by domain, nulls first)
    * — nothing corpus-sized ever reaches the driver.
    */
  def recipePlan(df: DataFrame, domainCol: String, tokenCol: String,
      weights: Map[String, Long], budgetTokens: Long,
      rounds: Int = 3): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    require(weights.values.forall(_ >= 0), s"weights must be >= 0, got $weights")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val sums = df.groupBy(col(domainCol)).agg(sum(col(tokenCol)).as("avail"))
    require(sums.schema(0).dataType == StringType && sums.schema(1).dataType == LongType,
      s"need a string domain and an integral token column, got ${sums.schema.simpleString}")
    val corpus = sums.collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
    val corpusAvail = corpus.filter(_._1 != null).toMap
    // the full join of weights × corpus sums: a null domain matches nothing
    val (domain, avail, w) = (weights.toSeq.map { case (d, wt) =>
        (d, corpusAvail.getOrElse(d, 0L), wt) } ++
      corpus.collect { case (d, a) if d == null || !weights.contains(d) => (d, a, 0L) })
      .sortBy(t => Option(t._1)).toArray.unzip3
    val sat = new Array[Boolean](domain.length)
    // quota of each unsaturated domain under the current saturation:
    // ((budget − Σ saturated avail) · w) div Σ active w, 0 with no active weight
    def quota(): Int => Long = {
      var satSum, wAct = 0L
      for (i <- sat.indices)
        if (sat(i)) satSum = Math.addExact(satSum, avail(i))
        else wAct = Math.addExact(wAct, w(i))
      if (wAct == 0) _ => 0L
      else {
        val rest = Math.subtractExact(budgetTokens, satSum)
        i => Math.multiplyExact(rest, w(i)) / wAct
      }
    }
    // a round that saturates nothing is the fixed point: later rounds repeat it
    var round = 0
    var changed = true
    while (changed && round < rounds) {
      val q = quota()
      changed = false
      for (i <- sat.indices if !sat(i) && avail(i) <= q(i)) {
        sat(i) = true
        changed = true
      }
      round += 1
    }
    val q = quota()
    val rows = sat.indices.map { i =>
      val assigned = if (sat(i)) avail(i) else math.min(q(i), avail(i))
      Row(domain(i), avail(i), w(i), assigned,
        if (avail(i) == 0) 0.0 else assigned.toDouble / avail(i).toDouble)
    }
    df.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      StructField(domainCol, StringType),
      StructField("avail", LongType, nullable = false),
      StructField("w", LongType, nullable = false),
      StructField("assigned", LongType, nullable = false),
      StructField("rate", DoubleType))))
  }

  // ---- Binned-CDF quantiles (the histogram scale path) ----------------

  /** Per-group quantiles from a FIXED-BIN histogram — the scale path
    * beside the exact form (`percentile(...)` in q_length_quantiles
    * buffers and sorts every group member; at corpus scale the standard
    * move is one map-side binning pass + a (groups · nBins)-sized
    * aggregate, error bounded by one bin width). Values clamp into
    * [lo, hi): below-range lands in bin 0, above-range in the last bin —
    * outliers distort only the extreme quantile estimates, never the
    * counts.
    *
    * Estimate: target rank = q·n; the answer lives in the first bin
    * whose cumulative count reaches the target, placed by linear
    * interpolation within the bin
    * (binLo + width · (target − cumBefore)/binCount — the histogram
    * analog of the exact form's R-7 interpolation). Every quantity is an
    * integer count or an exact double product/division of them, so the
    * whole table hash-replays cross-engine — unlike t-digest/GK
    * sketches, whose merge order is nondeterministic. NULL values are
    * ignored (the exact `percentile` form's convention); quantiles must
    * be in (0, 1] — q = 0 is just the group minimum, which a histogram
    * cannot sharpen below its first bin edge.
    *
    * Scale shape: one map-side bin assignment, one (group, bin) count
    * shuffle with map-side combining, then windows/joins over the
    * (groups · nBins)-sized table only. No global or per-group sort of
    * the DATA ever happens. */
  def binnedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, nBins: Int, qs: Seq[Double]): DataFrame = {
    require(nBins >= 1 && hi > lo, s"need nBins >= 1 and hi > lo, got $nBins, [$lo, $hi)")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    import org.apache.spark.sql.expressions.Window
    val width = (hi - lo) / nBins
    val bin = least(greatest(
      floor((col(valueCol) - lit(lo)) / lit(width)).cast("int"), lit(0)),
      lit(nBins - 1))
    val counts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), bin.as("bin"))
      .groupBy(groupCol, "bin").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(groupCol).orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("cum", sum("cnt").over(w))
      .withColumn("n", sum("cnt").over(Window.partitionBy(groupCol)))
    val targets = cum.select(col(groupCol), col("n")).distinct()
      .withColumn("q", explode(lit(qs.toArray)))
      .withColumn("target", col("q") * col("n"))
    cum.join(targets.select(col(groupCol), col("q"), col("target")), Seq(groupCol))
      .filter(col("cum") >= col("target") &&
        (col("cum") - col("cnt")) < col("target"))
      .select(col(groupCol), col("q"), col("n"),
        (lit(lo) + lit(width) * (col("bin") +
          (col("target") - (col("cum") - col("cnt"))) / col("cnt")))
          .as("estimate"))
  }

  // ---- Budget-constrained quality selection (quota fill) --------------

  /** Greedy per-domain budget fill — the assembly step AFTER
    * [[recipePlan]]: given each domain's token quota, take that domain's
    * documents in DESCENDING quality until the quota is spent. A
    * document is kept when it STARTS within budget
    * (cumulative − own tokens < quota), so the overshoot is bounded by
    * one document and the decision is a pure function of the ordered
    * prefix — deterministic and cross-engine replayable (quality ties
    * break on the id). Domains absent from `quotas` get quota 0 (keep
    * nothing); quota domains absent from the corpus simply fill nothing.
    * Returns every input row with (quota, cum_tokens, keep) attached —
    * the audit columns threshold tuning needs; filter on `keep` for the
    * final corpus. `quotaCol` names the quota column in `quotas`
    * (default "quota") — pass "assigned" to feed [[recipePlan]]'s
    * output in directly.
    *
    * Scale shape: quotas broadcast (|domains| rows); ONE shuffle on the
    * domain for the quality-ordered running token sum. The per-domain
    * sort is inherent to the semantics (a selection defined by an
    * ordered prefix cannot use a bounded heap — the running SUM, not a
    * top-k, decides the cut), so group size = domain size is the
    * honest cost; at 100 TB shard domains further (e.g. by quality
    * decile) if a single domain exceeds a task's sort budget. */
  def selectToBudget(df: DataFrame, idCol: String, domainCol: String,
      tokenCol: String, qualityCol: String, quotas: DataFrame,
      quotaCol: String = "quota"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    import org.apache.spark.sql.expressions.Window
    // internal alias: avoids ambiguity when df itself carries a column
    // named like quotaCol, and lets quotas arrive under any name
    // (recipePlan emits "assigned")
    val qtab = quotas.select(col(domainCol),
      col(quotaCol).cast("long").as("_graft_quota"))
    val w = Window.partitionBy(domainCol)
      .orderBy(col(qualityCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.join(broadcast(qtab), Seq(domainCol), "left")
      .withColumn("quota", coalesce(col("_graft_quota"), lit(0L)))
      .drop("_graft_quota")
      .withColumn("cum_tokens", sum(col(tokenCol)).over(w))
      .withColumn("keep", col("cum_tokens") - col(tokenCol) < col("quota"))
  }

  // ---- Hashed n-gram importance scoring (DSIR-style data selection) ----

  /** Score each corpus document by how target-like its hashed n-gram
    * profile is — the data-selection step of DSIR (Xie et al., "Data
    * Selection for Language Models via Importance Resampling", 2023):
    * features are word n-grams hashed into a fixed bucket table, a raw
    * distribution is estimated from the corpus and a target distribution
    * from the target set, and each document is scored by how much target
    * mass its features carry relative to raw mass. High scorers are the
    * docs importance resampling keeps.
    *
    * The score is a RATIO-OF-MEANS surrogate for DSIR's mean
    * log-likelihood-ratio:
    *   score(x) = (Σ_b c_x(b)·c_t(b) / N_t) / (Σ_b c_x(b)·c_r(b) / N_r)
    * i.e. the doc's feature-mass-weighted average target frequency over
    * its average raw frequency. Chosen over Σ c_x·log(p_t/p_r) because it
    * hash-verifies across engines: the dot products and totals are exact
    * integers, and the only float ops are two exact long→double
    * conversions, two multiplies, and one correctly-rounded division —
    * no libm log (engines round it differently; same reasoning as
    * [[collocationLift]]'s lift-not-PMI) and no order-dependent float
    * summation. Both statistics rank target-vocabulary documents above
    * off-distribution ones; a doc sharing no feature bucket with the
    * target scores exactly 0.
    *
    * Documents with fewer than n tokens have no n-grams and are ABSENT
    * (the shingle-family convention). No smoothing is needed on the raw
    * side: the corpus contains the doc, so its buckets have c_r ≥ c_x ≥ 1.
    *
    * Scale shape: the corpus is tokenized ONCE — the per-(doc, bucket)
    * count table is built map-side-combined on (id, b), and the raw
    * bucket table DERIVES from it (second small aggregate over doc-bucket
    * rows, not a rescan). The target set is scanned once. Both bucket
    * tables are `buckets`-bounded (fixed at plan time, independent of
    * corpus size) and broadcast; totals ride the same broadcasts. So:
    * one shuffle on (id, b), one on b over the already-aggregated rows,
    * one on id for the final dot products — no corpus self-join, nothing
    * corpus-sized ever broadcast. Long dot products stay exact: c_x is
    * document-bounded and Σ_b c_x·c_r ≤ n_grams(x)·max_b c_r keeps
    * well under 2^53 even at 100 TB bucket counts.
    */
  def importanceScore(corpus: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      gramN: Int, buckets: Int): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val bucket = (g: Column) => pmod(Md5Hash60(g), lit(buckets.toLong))
    val docFeat = corpus
      .select(col(idCol),
        explode(Dedup.ngramArray(col(textCol), gramN)).as("g"))
      .select(col(idCol), bucket(col("g")).as("b"))
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).as("c_x"))
      .localCheckpoint() // feeds raw counts AND the scoring join
    val raw = docFeat.groupBy("b").agg(sum("c_x").as("c_r"))
    val tgt = target
      .select(explode(Dedup.ngramArray(col(targetTextCol), gramN)).as("g"))
      .select(bucket(col("g")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c_t"))
    val totals = raw.agg(sum("c_r").cast("double").as("n_r"))
      .crossJoin(tgt.agg(sum("c_t").cast("double").as("n_t")))
    docFeat
      .join(broadcast(raw), Seq("b"))
      .join(broadcast(tgt), Seq("b"), "left")
      .groupBy(col(idCol))
      .agg(sum("c_x").as("n_grams"),
        sum(col("c_x") * coalesce(col("c_t"), lit(0L))).as("dot_target"),
        sum(col("c_x") * col("c_r")).as("dot_raw"))
      .crossJoin(broadcast(totals))
      .select(col(idCol), col("n_grams"), col("dot_target"), col("dot_raw"),
        ((col("dot_target").cast("double") * col("n_r")) /
          (col("dot_raw").cast("double") * col("n_t"))).as("score"))
  }

  // ---- Corpus bigram language-model scoring (perplexity-style filter) ----

  /** Score each document under a bigram model trained on the corpus itself
    * — the CCNet/KenLM quality-filter pattern (score text against an
    * in-domain LM; far-from-distribution documents score low and get
    * pruned or down-mixed). Two departures from the textbook form, both
    * deliberate:
    *
    *   - MLE conditionals p(w2|w1) = c(w1,w2) / c(w1·) with NO smoothing:
    *     the model is trained on the corpus being scored, so every scored
    *     bigram has c ≥ 1 and the estimate is well-defined. (Scoring a
    *     DIFFERENT corpus needs smoothing — then unseen bigrams appear;
    *     that variant is the decontamination family's job, not this one.)
    *   - The document statistic is the MEAN conditional probability (plus
    *     the min as a worst-bigram flag), not exp(mean log p): log is a
    *     libm call engines round differently (same reasoning as
    *     [[collocationLift]]'s lift-not-PMI), while mean-p is built from
    *     integer-exact divisions and a decimal-exact sum. Both statistics
    *     order "templated/fluent" above "token salad"; mean-p is simply
    *     the harmonic-free rank-preserving choice that hash-verifies.
    *
    * c(w1·) is the BIGRAM-LEFT count (sum over w2 of c(w1,w2)), not the
    * raw unigram count, so Σ_w2 p(w2|w1) = 1 exactly — a proper
    * conditional distribution (doc-final tokens don't condition anything).
    *
    * Documents with fewer than 2 tokens have no bigrams and are ABSENT
    * from the output (not emitted with null/NaN scores). A caller using
    * this as a keep/drop filter must decide their fate explicitly — e.g.
    * left-join the scores and route score-less docs to the length filter
    * that should be judging them anyway.
    *
    * Scale shape: one map-side bigram explode feeding a (w1,w2) count
    * shuffle; left counts derive from the bigram table (vocabulary²-
    * bounded, Zipf-small next to the corpus) — the corpus itself is
    * tokenized exactly twice (count pass + scoring pass) and never
    * cached. The scoring join shuffles corpus bigrams against the two
    * count tables on word keys; AQE broadcasts the count sides when the
    * vocabulary allows. The bigram count table is localCheckpoint'd: it
    * feeds the left-count aggregate AND the scoring join, and without it
    * each consumer would re-shuffle the whole corpus (precedent:
    * [[collocationLift]]'s unigram checkpoint).
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pairs = docs
      .select(col(idCol), tokens(col(textCol)).as("t"))
      .select(col(idCol), explode(when(size(col("t")) >= 2,
        transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint()
    val left = big.groupBy("w1").agg(sum("c_ab").as("c_1"))
    pairs
      .join(big, Seq("w1", "w2"))
      .join(left, Seq("w1"))
      .withColumn("p", col("c_ab").cast("double") / col("c_1").cast("double"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        // Decimal-exact mean (Det doctrine): float-sum order differs
        // between engines; decimal sum is exact, the final division is
        // one identical double op.
        (sum(col("p").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("mean_p"),
        min(col("p")).as("min_p"))
  }
}
