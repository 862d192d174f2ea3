package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Md5Hash60

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard (builder-prompt extensions over `documents`).
  *
  * Scale design:
  *  - exact dedup = hash-groupBy, one shuffle on the hash.
  *  - MinHash: signatures are per-document aggregations (shuffle on
  *    doc_id); LSH banding turns the quadratic pair search into an
  *    equi-join on (band, signature) — only documents sharing a band
  *    bucket are compared. Candidate verification joins shingle sets for
  *    candidates only.
  *  - All hashes are md5-based (standard, engine-portable), so every stage
  *    is oracle-checkable; no reliance on engine-private hash functions.
  *    The MinHash base hash is computed natively: the
  *    `graft_shingle_minhash` kernel
  *    ([[graft.functions.CurationKernels.ngramBases]]) takes each
  *    n-gram's [[graft.functions.Md5Hash60]] mod p, as [[minhashBase]]
  *    does. PRODUCTION SWITCH: at
  *    100 TB the crypto hash is measurable CPU — swap that base hash (and
  *    [[tokenHashHalves]]) to a 64-bit xxhash truncated to 60 bits behind
  *    the same interface; every downstream stage (affine permutations,
  *    banding, verification) is hash-family-agnostic. The md5 family
  *    stays the default because cross-engine verification (the DuckDB
  *    oracle) is part of this library's contract.
  */
object Dedup {

  /** All word n-gram INSTANCES of a text column, non-distinct, in order —
    * the occurrence stream (for frequency statistics like
    * [[HeavyHitters.heavyHitters]]), as opposed to the per-document SET
    * forms below (for containment/Jaccard semantics). One native
    * `graft_ngrams` pass per row: null text, or fewer than `n` tokens,
    * gives an empty array (the oracle convention — DuckDB
    * range(1, len-1) is empty for them). Requires a
    * [[graft.GraftExtensions]] session. */
  def ngramArray(text: Column, n: Int): Column =
    graft.functions.TextExpressions.ngrams(text, n)

  /** Word n-gram shingle set: one (id, shingle) row per distinct shingle. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(ngramArray(col(textCol), n)).as("shingle"))
      .distinct()

  /** Per-document distinct shingle set as an array column — built entirely
    * map-side (`array_distinct` instead of explode+distinct), so the
    * signature stage needs no shuffle at all. Array size is bounded by
    * document length; use the row form ([[shingles]]) if documents are
    * unbounded. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), array_distinct(ngramArray(col(textCol), n)).as("shingles"))

  /** Incremental batch dedup against a fingerprint registry: the daily
    * ingest pattern — drop new documents whose dedup key already exists
    * in the accumulated corpus, then exact-dedup the survivors within
    * the batch, WITHOUT rescanning or re-keying the historical corpus
    * (the registry is its stored `dedup_key` column). Two hash-key
    * shuffles — an anti-join on the registry plus [[exactDedup]]'s
    * window — both on the same key, and the registry side streams (it is
    * never broadcast or collected), so the pattern holds when the
    * registry is 100 TB of history and the batch is a day's crawl.
    * Output = surviving batch rows, ready to append to the registry.
    */
  def incrementalDedup(batch: DataFrame, idCol: String, key: Column,
      registry: DataFrame, registryKeyCol: String): DataFrame = {
    // no distinct() on the registry: anti-join semantics ignore duplicate
    // right-side keys, so pre-aggregating the (huge) registry would be a
    // pure extra shuffle
    val novel = batch.withColumn("_key", key).join(
      registry.select(col(registryKeyCol).as("_key")),
      Seq("_key"), "left_anti")
    exactDedup(novel.drop("_key"), idCol, key)
  }

  /** Exact dedup by an arbitrary key expression: keeps the row with the
    * minimal `idCol` per key, annotates group size. */
  def exactDedup(df: DataFrame, idCol: String, key: Column): DataFrame = {
    val w = Window.partitionBy("_key").orderBy(col(idCol).asc)
    df.withColumn("_key", key)
      .withColumn("_rn", row_number().over(w))
      .withColumn("group_size", count(lit(1)).over(Window.partitionBy("_key")))
      .filter(col("_rn") === 1)
      .withColumnRenamed("_key", "dedup_key")
      .drop("_rn")
  }

  // ---- MinHash hash family ---------------------------------------------
  //
  // One md5 per shingle, then numHashes cheap affine permutations
  // h_j(x) = (a_j·x + b_j) mod p over the md5-derived base value. The
  // naive family md5(j || shingle) costs numHashes crypto hashes per
  // shingle — at corpus scale the dominant CPU of the whole dedup job.
  // The affine family is the standard construction (universal hashing
  // over a prime field) and is exactly reproducible in ANSI SQL / DuckDB
  // over [[graft.functions.Md5Hash60]], keeping the oracle
  // hash-comparable. All values stay < 2^31, so a_j·x < 2^62 never
  // overflows BIGINT in either engine.

  /** Prime field modulus (2^31 - 1, Mersenne). */
  val MinhashPrime = 2147483647L

  /** Probability that a pair with Jaccard `j` becomes an LSH candidate
    * under (numHashes / rowsPerBand) banding: 1 − (1 − j^r)^b — the
    * banding S-curve (Leskovec/Rajaraman/Ullman, MMDS ch. 3). */
  def minhashCandidateProb(numHashes: Int, rowsPerBand: Int, j: Double): Double = {
    val b = numHashes / rowsPerBand
    1.0 - math.pow(1.0 - math.pow(j, rowsPerBand), b)
  }

  /** Corpus-scale (numHashes, rowsPerBand) sizing — the minhash analog of
    * [[Similarity.planesForCorpus]]: with FIXED banding the expected
    * number of background collisions per document grows like n·j₀^r per
    * band, so when the corpus's background (non-duplicate) similarity j₀
    * is within collision range of the banding — shared boilerplate,
    * templated pages, common headers — candidate volume, and the verify
    * join behind it, goes quadratic in n.
    *
    * The rule: rows-per-band `r` is the smallest integer keeping expected
    * background candidates per (doc, band) bounded,
    *   n · bgSim^r ≤ maxBgCandidatesPerDoc  ⇒  r ≈ ln(n/c) / ln(1/j₀),
    * then the band count `b` restores recall at the dedup threshold,
    *   1 − (1 − t^r)^b ≥ recall  ⇒  b = ln(1−recall) / ln(1 − t^r),
    * capped at `maxBands` (past the cap, raising r further only buys
    * sharper precision at reduced recall — the caller sees the achieved
    * recall via [[minhashCandidateProb]]). Growing r is exponentially
    * effective against background collisions while b compensates
    * polynomially at the threshold.
    *
    * Measured honestly (STRESS.md round 6): the sizing is INSURANCE, not
    * a free win. On the replicated stress fixture — whose cross-replica
    * token rewrite leaves background Jaccard far below collision range —
    * the fixed 16×4 banding stays sublinear through 1.28M docs while the
    * sized banding pays 1.3–2× in signature compute (numHashes grows
    * ~ln n: 144 at 320k, 210 at 1.28M). Pay the premium when the corpus
    * has real boilerplate mass (set `bgSim` to a measured background
    * similarity, e.g. from a [[jaccardForPairs]] sample of random pairs);
    * keep pinned fixture-sized constants when — like the oracle
    * queries — the corpus profile is known and benign. */
  def minhashParamsForCorpus(n: Long, threshold: Double, bgSim: Double = 0.3,
      recall: Double = 0.9, maxBgCandidatesPerDoc: Double = 8.0,
      maxBands: Int = 64): (Int, Int) = {
    require(n > 0, s"need a positive corpus size, got $n")
    require(threshold > 0 && threshold < 1, s"threshold in (0,1), got $threshold")
    require(bgSim > 0 && bgSim < threshold,
      s"background similarity must sit below the threshold, got $bgSim vs $threshold")
    val r = math.max(2, math.ceil(
      math.log(n.toDouble / maxBgCandidatesPerDoc) / math.log(1.0 / bgSim)).toInt)
    val pBand = math.pow(threshold, r)
    val b = math.min(maxBands, math.max(1,
      math.ceil(math.log1p(-recall) / math.log1p(-pBand)).toInt))
    (b * r, r)
  }

  /** Multiplier for permutation j (Knuth multiplicative constant; 1 ≤ a < p). */
  def minhashA(j: Int): Long = (j * 2654435761L) % (MinhashPrime - 1) + 1

  /** Offset for permutation j (0 ≤ b < p). */
  def minhashB(j: Int): Long = (j * 2654435789L + 1) % MinhashPrime

  /** md5-derived base value in [0, p): [[Md5Hash60]] reduced mod p. */
  def minhashBase(s: Column): Column = Md5Hash60(s) % MinhashPrime

  /** Signature as ONE array column, computed by the native codegen'd
    * [[graft.functions.MinHashSig]] kernel: one primitive `long[]` loop
    * over the shingle hashes that maintains all `numHashes` running
    * minima at once. Component j is the min over the document's
    * shingles of `(base * minhashA(j) + minhashB(j)) % p` — identical to
    * the `aggregate` + `zip_with` fold (`KernelEquivalenceSpec.minhashFold`)
    * and to the DuckDB oracle's `mh_j` columns. An empty shingle set keeps
    * the identity signature (p in every slot), so callers drop empty sets
    * first (see [[minhashNearDups]]). Requires a [[graft.GraftExtensions]]
    * session.
    */
  def minhashSignatureArray(sets: DataFrame, idCol: String,
      numHashes: Int): DataFrame = {
    val hb = transform(col("shingles"), s => minhashBase(s))
    val as = (0 until numHashes).map(minhashA)
    val bs = (0 until numHashes).map(minhashB)
    sets.select(col(idCol),
      graft.functions.VectorExpressions.minhashSig(hb, as, bs, MinhashPrime).as("sig"))
  }

  /** (band, band_sig, id) rows from an array-signature table — the
    * banding half of [[lshCandidates]], shared with the cross-corpus
    * [[minhashIncrementalNearDups]]. `band_sig` is the band's slice of
    * the signature, an `array<long>` compared as a value. The per-band
    * loop is deliberately UNROLLED into array(...) so that `sig` is
    * referenced numBands times: a single-reference form lets
    * CollapseProject inline the whole signature aggregate into this
    * projection and re-evaluate it once per band (measured ~0.7s/band
    * at sf0.1); multiple references keep the signature stage
    * materialized. */
  private def bandRows(sigs: DataFrame, idCol: String, numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bandStructs = array((0 until numBands).map { b =>
      struct(lit(b).as("band"),
        slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).as("band_sig"))
    }: _*)
    sigs.select(col(idCol), explode(bandStructs).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
  }

  /** In-bucket pairs, the one bucket → pairs step of the banded searches
    * ([[lshCandidates]], [[simhashBandedPairs]], [[containmentNearDups]]):
    * `rows` grouped on `keys`, each bucket's non-null `member` values
    * sorted, and one (a, b) row for every two positions i < j of that
    * list. Buckets outside 2..maxBucket members give none: k members
    * cost k(k-1)/2 pairs, and a key that common carries no near-dup
    * signal. The pairs expand map-side from the sorted array
    * (`posexplode`, then an `explode` of the array's tail), with no
    * lambda and no self-join of the bucket rows. No pair rule of its
    * own: equal members pair with each other, so each caller applies
    * its own filter and distinct. */
  private def bucketPairs(rows: DataFrame, keys: Seq[Column], member: Column,
      maxBucket: Int): DataFrame =
    rows.groupBy(keys: _*)
      .agg(sort_array(collect_list(member)).as("_m"))
      .filter(size(col("_m")).between(2, maxBucket))
      .select(col("_m"), posexplode(col("_m")).as(Seq("_i", "a")))
      .select(col("a"),
        explode(slice(col("_m"), col("_i") + 2, size(col("_m")))).as("b"))

  /** LSH candidate pairs: documents sharing any band (bands of `rowsPerBand`
    * consecutive signature components). Returns distinct (id_a < id_b).
    *
    * One row per (doc, band) is emitted map-side ([[bandRows]]: one
    * explode, the signature aggregation runs once), then [[bucketPairs]]
    * groups on (band, band_sig) and expands each bucket's sorted ids. A
    * self-join formulation would re-aggregate the signatures on both
    * join sides and shuffle the full band table twice; buckets are tiny
    * by construction (that is the point of banding).
    *
    * `maxBucket` guards the degenerate case at scale: a band signature
    * shared by k docs yields k(k-1)/2 pairs, so one pathological bucket
    * (e.g. empty/boilerplate documents all hashing alike) can dominate the
    * job. Buckets above the cap are dropped — standard LSH practice: a
    * signature that common carries no near-dup signal. Null ids are not
    * bucket members and do not count toward the cap. */
  def lshCandidates(sigs: DataFrame, idCol: String, numHashes: Int,
      rowsPerBand: Int, maxBucket: Int = 100000): DataFrame =
    bucketPairs(bandRows(sigs, idCol, numHashes, rowsPerBand),
        Seq(col("band"), col("band_sig")), col(idCol), maxBucket)
      .filter(col("a") < col("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .distinct()

  /** Exact Jaccard for given candidate pairs from their shingle sets. */
  def jaccardForPairs(pairs: DataFrame, shingleDf: DataFrame, idCol: String): DataFrame = {
    val sizes = shingleDf.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(shingleDf.select(col(idCol).as("id_a"), col("shingle")), Seq("id_a"))
      .join(shingleDf.select(col(idCol).as("id_b"), col("shingle").as("shingle_b")), Seq("id_b"))
      .filter(col("shingle") === col("shingle_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
  }

  /** ASYMMETRIC containment near-dup search: pairs scored by
    * |A∩B| / min(|A|,|B|) — how much of the SMALLER document's shingle
    * set the other contains — instead of Jaccard. This is the measure
    * for quote-inclusion and excerpt duplication: a 30-shingle article
    * fully embedded in a 300-shingle page has Jaccard 0.1 (invisible to
    * every threshold the Jaccard family runs at) but containment 1.0.
    * MinHash banding under-recalls exactly these pairs too — its collision
    * probability tracks Jaccard — so containment search needs its own
    * candidate scheme, not a threshold tweak on [[minhashNearDups]].
    *
    * Candidates come from a document-frequency-pruned inverted index
    * (prefix-filtering's core idea): only shingles shared by 2..maxDf
    * documents generate pairs, so a shingle's bucket joins at most
    * maxDf·(maxDf-1)/2 pairs — the bucket-degeneracy guard, in the same
    * role as LSH's maxBucket. The recall trade is explicit and benign:
    * a missed pair must share ONLY corpus-common shingles (df > maxDf),
    * i.e. be built entirely of boilerplate — which is [[spanDedup]]'s
    * jurisdiction, not containment's.
    *
    * `minShared` requires a candidate pair to co-occur in at least that
    * many rare-shingle buckets before verification. The count rides the
    * SAME shuffle the pair-dedup already pays (groupBy instead of
    * distinct — zero extra cost), and it is the knob that keeps
    * verification linear-with-a-small-constant as the corpus grows:
    * chance collisions put a pair in exactly one bucket, real
    * containment puts it in one bucket per shared shingle. Measured at
    * the 64× fixture: minShared 1 → 21.2 M candidate pairs (97% of
    * runtime verifying chance pairs), minShared 2 → the candidates
    * collapse to near the true-pair count; every true ≥0.5-containment
    * pair in the fixture shares ≥9 rare shingles. A pair missed at
    * minShared=2 shares exactly one sub-maxDf shingle — below any
    * containment threshold the operator would report anyway unless the
    * smaller doc is a single shingle long.
    *
    * Scale shape: the shingle stream crosses exactly TWO exchanges, both
    * cheap codegen aggregations. Within-doc duplicate shingles are
    * removed MAP-SIDE (`array_distinct` before the explode — a global
    * distinct would shuffle the stream just to remove dups the doc-local
    * pass already sees), the df count is a plain whole-stage-codegen
    * count (most shingles are df-1 singletons; an object aggregator here
    * was measured slower than the count+join it replaced), and only the
    * df∈[2,maxDf] survivors — already a small fraction of the stream —
    * reach the [[bucketPairs]] bucket build, whose state the preceding
    * filter bounds at maxDf. Candidate pairs then EXPLODE map-side from
    * each bucket's sorted ≤maxDf id array (no self-join of the index and
    * no lambda), meet the minShared groupBy, and verification joins the
    * per-doc shingle-set ARRAYS ([[shingleSets]], also map-side) to each
    * pair side with one `array_intersect` per pair (values identical to
    * the explode-join form — both sides are distinct sets; the
    * [[minhashNearDups]] verification contract).
    *
    * Measured at the 64× fixture, in order of construction: explode-join
    * verify + global distinct + df join = 303 s → array verify over a
    * checkpointed index self-join = ~98 s → this shape = the stream
    * passes (~35 s each) plus seconds of pair work.
    * No all-pairs stage anywhere; skew bounded by maxDf by construction.
    */
  def containmentNearDups(df0: DataFrame, idCol: String, textCol: String,
      n: Int, maxDf: Int, threshold: Double, minShared: Int = 2): DataFrame = {
    // FanOut the corpus once for the four tokenizer passes below (inst
    // for dfc, inst re-exploded into the bucket join, and the two
    // verify-side shingleSets): the fixture's one-file corpus otherwise
    // runs each as a single task (measured: 4 × 0.5–0.9 s serial stages
    // inside this plan at sf0.1). No-op for inputs already wider than
    // the session, so a corpus-sized table never pays the exchange.
    val df = graft.operators.FanOut(df0)
    def inst = df.select(col(idCol),
      explode(array_distinct(ngramArray(col(textCol), n))).as("shingle"))
    val dfc = inst.groupBy("shingle").agg(count(lit(1)).as("_dfc"))
      .filter(col("_dfc") >= 2 && col("_dfc") <= maxDf)
      .select("shingle")
    // the join re-explodes inst map-side (cheap; no materialization), and
    // its shingle partitioning carries straight into the bucket groupBy;
    // all C(df,2) sorted pairs of each ≤maxDf bucket, counted per pair
    val cand = bucketPairs(inst.join(dfc, Seq("shingle")), Seq(col("shingle")),
        col(idCol), maxDf)
      .groupBy("a", "b").agg(count(lit(1)).as("_shared"))
      .filter(col("_shared") >= minShared)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    val sets = shingleSets(df, idCol, textCol, n)
    cand
      .join(sets.select(col(idCol).as("id_a"), col("shingles").as("_sa")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("shingles").as("_sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(col("_sa")).cast("long").as("sz_a"),
        size(col("_sb")).cast("long").as("sz_b"),
        size(array_intersect(col("_sa"), col("_sb"))).cast("long").as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "sz_a", "sz_b", "inter", "containment")
  }

  /** EXACT Jaccard-threshold self-join via prefix filtering — the PPJoin
    * candidate scheme (Xiao et al., WWW'08): identical answers to the
    * all-pairs n-gram Jaccard baseline, but candidate generation indexes
    * only each document's few RAREST shingles. Where [[minhashNearDups]] trades
    * recall for speed probabilistically and [[containmentNearDups]]
    * trades boilerplate-only pairs explicitly, this family is lossless —
    * the right tool when a dedup decision must be exact (e.g. legal
    * takedown sweeps) and the threshold is high.
    *
    * Completeness (why no pair ≥ τ is lost): J(A,B) ≥ τ with sizes
    * a ≤ b forces the overlap O = |A∩B| to satisfy O(1+τ) ≥ τ(a+b) ≥
    * τ(O+b) (using a ≥ O), so O ≥ τ·b ≥ τ·|X| for BOTH sides, i.e.
    * O ≥ ⌈τ|X|⌉. Order all shingles by ascending (corpus df, shingle) —
    * any globally consistent total order works — and let prefix(X) be
    * X's first |X| − ⌈τ|X|⌉ + 1 shingles in that order. The SMALLEST
    * common shingle has ≥ O−1 common shingles ranked after it, so its
    * rank in X is ≤ |X| − O + 1 ≤ |X| − ⌈τ|X|⌉ + 1: it lies in both
    * prefixes, and the prefix-index self-join emits the pair. The
    * ascending-df order is the efficiency half: prefixes concentrate on
    * the corpus's rarest shingles, so prefix-index buckets stay small
    * exactly where full-index buckets ([[containmentNearDups]] without
    * the maxDf cut) would explode.
    *
    * Candidates additionally pass the length filter min(a,b) ≥ τ·max(a,b)
    * (J ≥ τ forces O ≤ min and O ≥ τ·max), sound for the same reason.
    *
    * Scale shape: one shingle-keyed df count, one id-keyed groupBy that
    * sorts each doc's (df, shingle) array MAP-SIDE and slices the prefix
    * (per-doc state bounded by doc length, same bound [[shingleSets]]
    * carries), one prefix-keyed self-join, then the standard array-verify
    * joins. No all-pairs stage; candidate volume is Σ_s p(s)² over
    * PREFIX occurrences p(s) ≤ df(s), and τ is the knob: higher τ →
    * shorter prefixes (and a harder min ≥ τ·max length filter) → fewer
    * candidates. Measured at the 64× fixture, τ=0.3: prefix index 71%
    * of the full inverted index, candidates 11.5% of the full index's
    * pair volume (49.4 M → 49 k verified — the fixture plants a
    * near-threshold J≈0.05–0.12 cloud that is candidate-eligible but
    * never verifies, the honest worst case for low τ); at τ=0.6 the
    * cloud never becomes candidates at all (STRESS.md r8, both rows). */
  def prefixFilteredJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val eligible = df.filter(shingleEligible(col(textCol), n))
    val inst = eligible.select(col(idCol).as("_id"),
      explode(array_distinct(ngramArray(col(textCol), n))).as("shingle"))
    val dfc = inst.groupBy("shingle").agg(count(lit(1)).as("_dfc"))
    // per-doc ascending (df, shingle) order, sorted and sliced map-side
    // after one id-keyed groupBy; prefix keeps the rarest
    // sz − ⌈τ·sz⌉ + 1 shingles. posexplode keeps each kept shingle's
    // 1-based rank in the FULL per-doc order (the prefix is a prefix of
    // it) — the input to the positional filter below.
    val prefixLen = (col("_sz") - ceil(lit(threshold) * col("_sz")) + 1).cast("int")
    val prefix = inst.join(dfc, Seq("shingle"))
      .groupBy("_id")
      .agg(sort_array(collect_list(struct(col("_dfc"), col("shingle")))).as("_ord"))
      .select(col("_id"), size(col("_ord")).cast("long").as("_sz"), col("_ord"))
      .select(col("_id"), col("_sz"),
        posexplode(transform(slice(col("_ord"), lit(1), prefixLen),
          s => s.getField("shingle"))))
      .select(col("_id"), col("_sz"), (col("pos") + 1).cast("long").as("_rk"),
        col("col").as("shingle"))
    val candA = prefix.select(col("shingle"),
      col("_id").as("id_a"), col("_sz").as("_la"), col("_rk").as("_rka"))
    val candB = prefix.select(col("shingle"),
      col("_id").as("id_b"), col("_sz").as("_lb"), col("_rk").as("_rkb"))
    // merge-hint the prefix self-join: both sides are the SAME prefix
    // index, so forcing the shuffle form makes the two exchanges
    // canonicalize equal and the whole prefix subtree (tokenize → df
    // count → per-doc sort) is computed ONCE (ReusedExchange) — where
    // the unhinted plan BROADCAST one side and executed the subtree
    // twice (measured: the verify-stage codegen pipeline carried two
    // full prefix builds). Also the only viable shape at corpus scale:
    // a prefix index is corpus-sized and must never broadcast.
    //
    // Per-instance filters, both sound (no true pair ≥ τ lost):
    //  - length filter: J ≥ τ forces min(a,b) ≥ τ·max(a,b);
    //  - POSITIONAL filter (PPJoin's second lemma): a shared prefix
    //    shingle at ranks (rka, rkb) bounds the overlap by
    //    1 + min(a−rka, b−rkb), and J ≥ τ needs O ≥ τ/(1+τ)·(a+b);
    //    instances that can't reach the bound are dropped BEFORE the
    //    pair-distinct exchange (a pair survives iff ANY shared prefix
    //    shingle passes — identical to filtering on the per-pair max;
    //    measured at sf0.1: 596 550 → 325 362 verify pairs, −45%).
    //    The 1e-9 slack only ever KEEPS a borderline pair.
    val cand = candA.hint("merge").join(candB.hint("merge"), Seq("shingle"))
      .filter(col("id_a") < col("id_b") &&
        least(col("_la"), col("_lb")).cast("double") >=
          lit(threshold) * greatest(col("_la"), col("_lb")).cast("double") &&
        (lit(1L) + least(col("_la") - col("_rka"), col("_lb") - col("_rkb")))
          .cast("double") >=
          lit(threshold / (1.0 + threshold)) *
            (col("_la") + col("_lb")).cast("double") - lit(1e-9))
      .select("id_a", "id_b").distinct()
      // AQE right-sizes the distinct's exchange by BYTES (a few MB of id
      // pairs → 1-2 coalesced partitions), which starves the verify
      // projection below of parallelism: its per-row cost is an
      // array_intersect over two ~doc-length string arrays, ~10⁴× the
      // width of the pair row it reads (measured: the verify codegen
      // pipeline carried ~25 s of CPU on 2 post-coalesce partitions).
      // Re-spread the candidate pairs across the session's cores —
      // scale-adaptive (defaultParallelism), not a tuned constant; the
      // exchange moves only (id_a, id_b) longs.
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    // verify joins stay strategy-unhinted: the sets side is per-doc
    // arrays keyed by id — locally it broadcasts (arrays never shuffle);
    // at corpus scale the optimizer falls back to a shuffle join, the
    // only viable shape there.
    val sets = shingleSets(eligible, idCol, textCol, n)
    cand
      .join(sets.select(col(idCol).as("id_a"), col("shingles").as("_sa")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("shingles").as("_sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("_sa"), col("_sb"))).cast("long").as("inter"),
        size(col("_sa")).cast("long").as("sz_a"),
        size(col("_sb")).cast("long").as("sz_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → sign → band → candidate
    * → verify ≥ threshold.
    *
    * Layout: signing is a map-side projection straight from the text
    * (the native `graft_shingle_minhash` kernel) with no shuffle; shingle
    * sets stay per-doc arrays for verification. The only shuffles are the
    * band-bucket groupBy (numBands rows/doc) and the two verification
    * joins that attach each candidate id's shingle array. Verification is
    * a per-pair `array_intersect` over those arrays — values identical to
    * the explode-join [[jaccardForPairs]] form (both sides are distinct
    * shingle sets), with no per-pair groupBy.
    *
    * EVERY subtree is consumed exactly once, so nothing is persisted,
    * checkpointed, collected, or broadcast by hand: the corpus-wide
    * tokenization is map-side and cheap to recompute per join side
    * (caching it costs more memory/spill than re-tokenizing), the pair
    * table flows into one join chain, and AQE runtime-sizes the join
    * strategy — a small pair table broadcasts (size-checked against the
    * auto-broadcast threshold, never unbounded like an explicit
    * `broadcast()` of a density-dependent id set), a huge one stays a
    * shuffle join. No driver materialization anywhere, at any density
    * (the r2 driver-collect and the r1 persist leak are both gone). */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    val (sets, sigs) = signEligible(df, idCol, textCol, shingleSize, numHashes)
    signedNearDups(sets, sigs, idCol, numHashes, rowsPerBand, threshold)
  }

  /** [[minhashNearDups]] over an already-signed corpus ([[signEligible]]'s
    * output), for callers that share one signing among several searches. */
  private[llmops] def signedNearDups(sets: DataFrame, sigs: DataFrame,
      idCol: String, numHashes: Int, rowsPerBand: Int,
      threshold: Double): DataFrame =
    verifyPairs(lshCandidates(sigs, idCol, numHashes, rowsPerBand),
      sets, sets, idCol, "id_a", "id_b", threshold)

  /** Docs shorter than `n` tokens have empty shingle sets: they never
    * verify (inter = 0), yet would all share the identity signature and
    * pile into ONE band bucket (k(k-1)/2 dead pairs), so they are dropped
    * before signing. A token count, not `size(shingles) > 0`: it decides
    * eligibility without building the n-grams. */
  private[llmops] def shingleEligible(text: Column, n: Int): Column =
    TextStats.tokenCount(text) >= n

  /** The MinHash sign step: eligible docs → (shingle sets, signatures),
    * the signatures straight from the text by the native
    * `graft_shingle_minhash` kernel (bit-identical to
    * [[minhashSignatureArray]] over [[shingleSets]]). FanOut AFTER the
    * eligibility filter (fanning first lets the filter push through the
    * exchange and re-run the split serially): a one-file corpus
    * otherwise shingles and signs in ONE task (measured 0.8–2.0 s serial
    * in q_dedup_cluster / q_leak_safe_split). Sets and signatures read
    * the one exchange; no-op for corpora already wider than the
    * session. Requires a [[graft.GraftExtensions]] session. */
  private[llmops] def signEligible(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int): (DataFrame, DataFrame) = {
    val eligible = graft.operators.FanOut(
      df.filter(shingleEligible(col(textCol), shingleSize)))
    val sigs = eligible.select(col(idCol),
      graft.functions.TextExpressions.shingleMinhash(col(textCol), shingleSize,
        (0 until numHashes).map(minhashA), (0 until numHashes).map(minhashB),
        MinhashPrime).as("sig"))
    (shingleSets(eligible, idCol, textCol, shingleSize), sigs)
  }

  /** The MinHash verify step: attach each candidate side's shingle set
    * (from `setsA`/`setsB`, keyed by `aCol`/`bCol`), score by per-pair
    * `array_intersect`, keep Jaccard ≥ threshold. Output: (aCol, bCol,
    * inter, sz_a, sz_b, jaccard). Both set joins are merge-hinted: with
    * one sets subplan on both sides ([[minhashNearDups]]) they require
    * the SAME hashpartition(sets, id) exchange, planned once
    * (ReusedExchange), so the corpus is tokenized ONCE; and nothing
    * corpus-sized ever broadcasts — the only viable shape at 100 TB. */
  private def verifyPairs(cands: DataFrame, setsA: DataFrame,
      setsB: DataFrame, idCol: String, aCol: String, bCol: String,
      threshold: Double): DataFrame =
    cands
      .join(setsA.select(col(idCol).as(aCol), col("shingles").as("_sh_a"))
        .hint("merge"), Seq(aCol))
      .join(setsB.select(col(idCol).as(bCol), col("shingles").as("_sh_b"))
        .hint("merge"), Seq(bCol))
      .withColumn("inter",
        size(array_intersect(col("_sh_a"), col("_sh_b"))).cast("long"))
      .withColumn("sz_a", size(col("_sh_a")).cast("long"))
      .withColumn("sz_b", size(col("_sh_b")).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(aCol, bCol, "inter", "sz_a", "sz_b", "jaccard")

  /** [[minhashNearDups]] with the banding sized to the corpus by
    * [[minhashParamsForCorpus]] — the entry point for corpora with real
    * background similarity (boilerplate, templates), where fixed banding
    * goes quadratic; see the sizing rule's scaladoc for the measured
    * trade on a benign corpus. Costs one count() job up front — n is
    * what the sizing needs, and a parquet count is metadata-cheap
    * relative to the dedup itself. */
  def minhashNearDupsSized(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, threshold: Double, bgSim: Double = 0.3,
      recall: Double = 0.9): DataFrame = {
    val (h, r) = minhashParamsForCorpus(df.count(), threshold, bgSim, recall)
    minhashNearDups(df, idCol, textCol, shingleSize, h, r, threshold)
  }

  /** Cross-corpus incremental NEAR-dup: find batch documents that are
    * near-duplicates of an already-signed registry corpus — the daily-
    * crawl analog of [[incrementalDedup]], upgraded from exact-key to
    * MinHash similarity. The registry contributes only its STORED
    * signature table to the candidate search ([[minhashSignatureArray]]
    * output persisted at ingest time); its text is consulted exclusively
    * for the candidate ids, via a left-semi prune BEFORE tokenization —
    * the historical corpus is never re-paired, re-signed, or re-scanned
    * beyond that pruned id fetch.
    *
    * Scale shape: batch-side shingle/sign is map-side; the candidate
    * search is one (band, band_sig) equi-join between the two band
    * tables (each numBands rows/doc); the registry-side degenerate-
    * bucket guard is a window count on the SAME key, so it shares the
    * join's exchange. Verification is [[minhashNearDups]]' step over the
    * batch sets and the candidate-pruned registry sets. At 100 TB of history
    * + a day's crawl: every registry-sized relation touched is either
    * the stored signature table (numHashes longs/doc) or the pruned
    * candidate fetch.
    *
    * Output: (batch_id, reg_id, inter, sz_a, sz_b, jaccard) — batch
    * docs with a registry near-dup at ≥ threshold. Within-batch pairs
    * are [[minhashNearDups]]'s job; run both for full ingest hygiene.
    */
  def minhashIncrementalNearDups(batch: DataFrame, registrySigs: DataFrame,
      registryText: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, rowsPerBand: Int, threshold: Double,
      maxBucket: Int = 100000): DataFrame = {
    val (sets, sigs) = signEligible(batch, idCol, textCol, shingleSize,
      numHashes)
    signedIncrementalNearDups(sets, sigs, registrySigs, registryText, idCol,
      textCol, shingleSize, numHashes, rowsPerBand, threshold, maxBucket)
  }

  /** [[minhashIncrementalNearDups]] over an already-signed batch
    * ([[signEligible]]'s output). */
  private[llmops] def signedIncrementalNearDups(sets: DataFrame,
      sigs: DataFrame, registrySigs: DataFrame, registryText: DataFrame,
      idCol: String, textCol: String, shingleSize: Int, numHashes: Int,
      rowsPerBand: Int, threshold: Double,
      maxBucket: Int = 100000): DataFrame = {
    val bb = bandRows(sigs, idCol, numHashes, rowsPerBand)
      .select(col("band"), col("band_sig"), col(idCol).as("batch_id"))
    val rb = bandRows(registrySigs, idCol, numHashes, rowsPerBand)
      .select(col("band"), col("band_sig"), col(idCol).as("reg_id"))
    // registry buckets are the unbounded side: a band_sig shared by k
    // registry docs fans every colliding batch doc out k ways — cap it,
    // same rationale as lshCandidates' maxBucket
    val rbOk = rb
      .withColumn("_bc", count(lit(1)).over(Window.partitionBy("band", "band_sig")))
      .filter(col("_bc") <= maxBucket).drop("_bc")
    // the pair table feeds TWO consumers (the semi-join text prune and
    // the verify chain): materialize it once on executors or the whole
    // banding join + bucket-cap window runs twice — same localCheckpoint
    // precedent as dedupClusters' edge list. Candidate pairs only, never
    // corpus-sized.
    val cands = bb.join(rbOk, Seq("band", "band_sig"))
      .select("batch_id", "reg_id").distinct()
      .localCheckpoint(true)
    // no distinct() on the semi-join side: semi-join semantics ignore
    // duplicate right-side keys (incrementalDedup's documented rule)
    val regCand = registryText.join(
      cands.select(col("reg_id").as(idCol)), Seq(idCol), "left_semi")
    verifyPairs(cands, sets,
      shingleSets(regCand, idCol, textCol, shingleSize),
      idCol, "batch_id", "reg_id", threshold)
  }

  /** Dedup-cluster canonicalization — the endgame of any near-dup
    * pipeline: verified pairs become edges, connected components group
    * transitively-linked documents into clusters, and exactly one
    * canonical document (the min id, matching the reference's keep-first
    * convention in its registry merges) survives per cluster. Documents
    * in no pair are singleton clusters of themselves and always kept.
    *
    * Scale shape: CC is the size-adaptive
    * [[graft.graph.ConnectedComponents.components]] (driver union-find
    * below 1M edges — pair tables are orders of magnitude smaller than
    * the corpus — distributed alternating-star fixpoint above), the
    * membership join is a left join on the doc id, and cluster_size /
    * is_kept come from ONE window over cluster_id (components labels a
    * cluster by its min node, so the keeper test is `id == cluster_id`
    * with no second aggregation). No driver materialization of anything
    * corpus-sized.
    */
  def dedupClusters(universe: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize the edge list ONCE on executors: components() reads it
    // for the size probe and, above the cutover, in every fixpoint round,
    // and without this each read would replay the whole upstream pair
    // search (the minhash pipeline costs far more than the pair list it
    // emits). Same eager localCheckpoint pattern as the LSH candidate table above — pair
    // tables are small (verified near-dups), never corpus-sized.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint(true)
    val comp = graft.graph.ConnectedComponents.components(edges)
    val ids = universe.select(col(idCol))
    ids.join(comp, ids(idCol) === comp("node"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .withColumn("is_kept", col(idCol) === col("cluster_id"))
  }

  /** Leak-safe train/val/test split: the split bucket is keyed on the
    * near-dup CLUSTER's canonical id, not the document's own — so a
    * near-duplicate pair can never straddle train and eval, the
    * contamination mode a plain per-doc hash split ships silently (the
    * val "held-out" doc whose twin sits in train measures memorization,
    * not generalization). Composition of two verified parts:
    * [[dedupClusters]] (CC over the pair list, canonical = min id) keys
    * [[TextStats.datasetSplit]]'s md5 bucket. Singleton documents hash
    * on their own id, so the split stays ~pctTrain/pctVal/rest at any
    * dup density; whole clusters move between splits together.
    *
    * @param pairs verified near-dup pairs (id_a, id_b) — any of the
    *              dedup family's outputs */
  def leakSafeSplit(universe: DataFrame, idCol: String, pairs: DataFrame,
      pctTrain: Int, pctVal: Int): DataFrame = {
    require(pctTrain >= 0 && pctVal >= 0 && pctTrain + pctVal <= 100,
      s"need 0 <= pctTrain + pctVal <= 100, got $pctTrain + $pctVal")
    dedupClusters(universe, idCol, pairs)
      .select(col(idCol), col("cluster_id"),
        TextStats.datasetSplit(col("cluster_id"), pctTrain, pctVal).as("split"))
  }

  /** Span-level dedup (C4-style): documents are cut into consecutive
    * `spanWords`-word spans, spans whose text appears anywhere earlier in
    * the corpus (first occurrence = lowest (doc id, span index)) are
    * dropped, and each document is reassembled from its surviving spans
    * in order. This removes boilerplate repeated ACROSS documents —
    * dedup at sub-document granularity, where whole-doc dedup sees
    * distinct texts.
    *
    * Scale shape: one explode (corpus → span rows), one shuffle on the
    * span text for the first-occurrence window, one shuffle back on the
    * doc id for reassembly — no self-join, no driver state. A span text
    * shared by k docs keeps its window partition at k rows, so skew is
    * bounded by duplication multiplicity, exactly the quantity being
    * removed. Reassembly collects one doc's spans into a single task —
    * the same per-document locality the truncate/pack operators rely on.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextStats.tokens(col(textCol))
    // ceil(nTok / spanWords) spans; guard at 1 so empty text yields one
    // (empty) span instead of a descending sequence() error
    val nSpans = greatest(
      ceil(size(toks).cast("double") / spanWords).cast("int"), lit(1))
    val spans = df.select(col(idCol),
        posexplode(transform(sequence(lit(0), nSpans - 1), i =>
          array_join(slice(toks, i * spanWords + 1, lit(spanWords)), " "))))
      .toDF(idCol, "span_idx", "span_text")
    val ranked = spans.withColumn("_rn", row_number().over(
      Window.partitionBy("span_text").orderBy(col(idCol), col("span_idx"))))
    ranked.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("_rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("_rn") === 1,
            struct(col("span_idx"), col("span_text"))))),
          s => s.getField("span_text")), " ").as("clean_text"))
  }

  /** Boilerplate line removal (the RefinedWeb/MassiveText "repeated
    * lines across documents" filter): a line whose DISTINCT-document
    * frequency reaches `minDocFreq` is boilerplate — headers, footers,
    * cookie banners, navigation — and is removed from EVERY document it
    * appears in (unlike [[spanDedup]], which keeps the first occurrence:
    * boilerplate has no meaningful "first" owner). Documents are split on
    * `delim`, surviving lines are reassembled in order, and every input
    * document comes back — empty text when all its lines were
    * boilerplate, (0, 0, "") when its text was NULL — with per-doc
    * removal counts for threshold tuning. BLANK lines (empty or
    * whitespace-only, e.g. paragraph separators) are never classified as
    * boilerplate: their document frequency approaches the corpus size in
    * any real text, and stripping them would collapse paragraph
    * structure corpus-wide — the RefinedWeb-style rule applies to
    * non-empty lines only.
    *
    * Scale shape: one explode (corpus → line rows) whose three consumers
    * (df count, anti-join probe, per-doc totals) sit under
    * differently-keyed exchanges and therefore re-run it — deliberately
    * NOT checkpointed: the explode is a cheap map-side split of the
    * scan, and materializing the full line stream was MEASURED SLOWER
    * than the re-derivations it saves (32.1 s vs 22.8 s at the 64×
    * fixture, STRESS.md) — the inverse of [[graft.graph.PageRank]]'s
    * edge list, where the re-derived thing is an expensive join. Then
    * one (line, id) distinct + line-keyed count for the document
    * frequency (map-side partial agg; the line relation is
    * line-vocabulary-sized), one anti-join of the line stream against
    * the boilerplate set (tiny for real thresholds — the planner
    * broadcasts it under AQE), one shuffle back on the doc id for
    * reassembly. Skew on a hot line is bounded by its document
    * frequency — exactly the quantity being removed. */
  def stripBoilerplateLines(corpus: DataFrame, idCol: String, textCol: String,
      minDocFreq: Int, delim: String = "\n"): DataFrame = {
    require(minDocFreq >= 2,
      s"minDocFreq must be >= 2 (got $minDocFreq): at 1 every line is boilerplate")
    val lines = corpus.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim))))
      .toDF(idCol, "line_idx", "line")
    val boiler = lines.select(col("line"), col(idCol)).distinct()
      .groupBy("line").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocFreq && trim(col("line")) =!= "")
      .select("line")
    val kept = lines.join(boiler, Seq("line"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("line_idx"), col("line")))),
          s => s.getField("line")), delim).as("clean_text"))
    val perDoc = lines.groupBy(col(idCol)).agg(count(lit(1)).as("n_lines"))
    // doc universe from the CORPUS, not the line stream: a NULL text
    // produces no exploded rows, and the contract is that every input
    // document comes back
    corpus.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Exact SLIDING-window substring dedup (the ExactSubstr construction of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", 2022): every L-token window that occurred anywhere earlier
    * in the corpus (first occurrence = lowest (doc id, position)) marks
    * its token span as duplicated; overlapping/adjacent duplicated spans
    * are merged into maximal intervals, and the covered tokens are cut
    * from the document. Unlike [[spanDedup]]'s DISJOINT fixed spans —
    * which miss a duplicated passage that straddles a span boundary or
    * sits at a different offset — the sliding form catches a shared
    * passage at ANY alignment, which is why the suffix-array literature
    * uses it. (A suffix array finds variable-length maximal matches; the
    * sliding-L equivalent finds exactly the spans every ≥L-token match
    * covers, the same removal set, with relational operators only.)
    *
    * Returns one row per document: (id, n_tokens, n_removed, clean_text)
    * where clean_text is the document with covered tokens removed in
    * order. A verbatim re-upload of an earlier document is fully covered
    * and comes back empty; a near-dup with one edited token keeps only
    * the neighborhood the edit breaks (windows overlapping the edit are
    * unique, so up to L-1 tokens each side survive with it).
    *
    * Scale shape: one explode (corpus → sliding-window rows, L× the
    * token stream — the memory/recall knob), ONE shuffle on the window
    * text for the first-occurrence rank, one shuffle back on the doc id
    * where a single window pass merges intervals, then a groupBy(id) and
    * an id-equi-join against the corpus — no self-join, no driver state.
    * Window-text skew is bounded by duplication multiplicity (the
    * quantity being removed), the same bound [[spanDedup]] rides. The
    * per-token coverage test runs map-side against the doc's own merged
    * interval array (intervals per doc ≤ tokens/L, usually ≪).
    */
  def exactSubstringDedup(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame = {
    val L = windowTokens
    // FanOut once for the two corpus passes below (the L-gram posexplode
    // and the final span-strip projection): a corpus arriving as one
    // small parquet file otherwise runs the whole explode+md5 pipeline
    // as ONE task (measured 0.85 s serial at sf0.1 — the bm25Retrieve
    // rationale); both consumers reuse the exchange, no-op at scale.
    val d = graft.operators.FanOut(df)
    // sliding L-gram instances with their 0-based start position. The
    // window TEXT is hashed map-side and only the 16-byte digest crosses
    // the rank exchange — an L-token string is ~L·avg-word bytes per
    // instance and the rank shuffle is the operator's dominant exchange
    // (md5 keys are the library-wide engine-portable convention, see
    // [[TextStats.fingerprint]]; same digest in the DuckDB oracle).
    val inst = d.select(col(idCol), posexplode(ngramArray(col(textCol), L)))
      .toDF(idCol, "pos", "sh")
      .select(col(idCol), col("pos"), md5(col("sh")).as("sh"))
    val dup = inst
      .withColumn("_rn", row_number().over(
        Window.partitionBy("sh").orderBy(col(idCol), col("pos"))))
      .filter(col("_rn") > 1)
      .select(col(idCol), col("pos").as("s"), (col("pos") + L - 1).as("e"))
    // gaps-and-islands merge of overlapping/adjacent [s,e] token spans
    val byDoc = Window.partitionBy(idCol).orderBy("s", "e")
    val prevMax = max("e").over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val merged = dup
      .withColumn("_brk",
        when(prevMax.isNull || col("s") > prevMax + 1, 1L).otherwise(0L))
      .withColumn("_isl",
        sum("_brk").over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("_isl"))
      .agg(min("s").as("s"), max("e").as("e"))
    val ivs = merged.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("_ivs"))
    val covered = (i: Column, iv: Column) =>
      i >= iv.getField("s") && i <= iv.getField("e")
    d.withColumn("_toks", TextStats.tokens(col(textCol))).join(ivs, Seq(idCol), "left")
      .withColumn("_ivs", coalesce(col("_ivs"),
        array().cast("array<struct<s:int,e:int>>")))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        aggregate(col("_ivs"), lit(0L),
          (acc, iv) => acc + (iv.getField("e") - iv.getField("s") + 1)
            .cast("long")).as("n_removed"),
        array_join(
          filter(col("_toks"), (t, i) =>
            !exists(col("_ivs"), iv => covered(i, iv))),
          " ").as("clean_text"))
  }

  /** Exact dedup at STREAMING ingest: drop rows whose dedup key was
    * already seen within the watermark horizon. `dropDuplicatesWithinWatermark`
    * keeps the key-set state bounded — entries older than the event-time
    * horizon are evicted, so an unbounded ingest stream runs with O(keys
    * per horizon) state instead of O(all keys ever). Late duplicates
    * inside the delay still collapse. Pair with the RocksDB state backend
    * ([[graft.streaming.StateBackends]]) when the horizon's key set
    * exceeds executor memory.
    */
  def streamingDedup(stream: DataFrame, key: Column, tsCol: String,
      watermarkDelay: String): DataFrame =
    stream.withColumn("_graft_dedup_key", key)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_graft_dedup_key")
      .drop("_graft_dedup_key") // schema in = schema out

  /** The distinct word-n-gram shingle set of a benchmark suite — the
    * shared probe relation of the decontamination family below. One
    * tokenize + explode + distinct; every caller joins against it. */
  private def benchShingleSet(benchmark: DataFrame, benchTextCol: String,
      n: Int): DataFrame =
    benchmark.select(explode(ngramArray(col(benchTextCol), n)).as("shingle"))
      .distinct()

  /** Benchmark decontamination: drop corpus documents that share ANY word
    * n-gram with the benchmark set (the standard test-set-leakage guard in
    * training-data pipelines). The benchmark side is tiny, so its distinct
    * shingle set broadcasts; the corpus's n-gram instances probe it
    * map-side with NO distinct (the semi-join and the anti-join back to
    * the corpus both ignore duplicates — a distinct would only add a
    * shuffle stage), so the corpus is scanned once. Returns the clean
    * corpus unchanged in schema.
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int): DataFrame = {
    val benchShingles = benchShingleSet(benchmark, benchTextCol, n)
    val contaminated = corpus
      .select(col(idCol), explode(ngramArray(col(textCol), n)).as("shingle"))
      .join(broadcast(benchShingles), Seq("shingle"), "left_semi")
      .select(idCol)
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Decontamination when the benchmark side is too large to broadcast as
    * an exact hash relation (a full eval-suite union easily reaches 10⁸+
    * distinct shingles ≈ tens of GB — far past any broadcast threshold).
    * Same RESULT as [[decontaminate]], different transport: the benchmark
    * shingle set travels to the corpus scan as a compact bloom sketch
    * (size governed by (expectedShingles, fpp), independent of corpus
    * size — ~1.2 MB per 10⁶ shingles at 1% fpp), and only the surviving
    * ~contamination + fpp fraction of corpus shingles reaches the exact
    * verify join. Bloom filters have NO false negatives, so the survivors
    * are a superset of the truly contaminated rows and the exact semi-join
    * kills the fpp-rate impostors — output is bit-identical to the exact
    * form (the oracle runs the same plain SQL). The verify join is now a
    * shuffle join over two SMALL sides (bloom survivors × bench shingles)
    * instead of a corpus-wide broadcast probe.
    */
  def decontaminateBloom(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int,
      expectedShingles: Long, fpp: Double = 0.01): DataFrame = {
    val corpusShingles = shingles(corpus, idCol, textCol, n)
    // three consumers read the bench shingle set (the emptiness probe, the
    // bloom aggregation, and the verify join), but deliberately WITHOUT a
    // checkpoint: the probe short-circuits at one row, so only the bloom
    // build re-derives the set — measured at 64× (STRESS.md), eagerly
    // materializing the multi-million-row set costs more than the one
    // re-derivation it saves
    val benchShingles = benchShingleSet(benchmark, benchTextCol, n)
    val candidates = graft.operators.BloomPrune.semiReduce(
      corpusShingles, "shingle", benchShingles, "shingle", expectedShingles, fpp)
    val contaminated = candidates
      .join(benchShingles, Seq("shingle"), "left_semi")
      .select(idCol).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Graded benchmark-contamination REPORT: per corpus document, the
    * fraction of its distinct n-gram shingles that appear anywhere in the
    * benchmark suite — the measurement step that precedes
    * [[decontaminate]]'s binary drop. Eval-governance work needs the
    * distribution (how contaminated, which docs, is a 1-shingle brush
    * with a benchmark worth dropping a 10k-token document?) before
    * committing to a cut; this emits (id, n_shingles, n_contaminated,
    * contamination ∈ [0,1]) with an exact integer-ratio score, so
    * thresholding reproduces across engines and runs.
    *
    * Scale shape: same as [[decontaminate]] — benchmark shingles
    * deduplicate to a benchmark-suite-sized relation, the corpus is
    * scanned once, and the semi-join hit count + total count shuffle on
    * the SAME doc-id key. Docs with no shingles (shorter than n tokens)
    * are absent, matching every shingle-family operator here.
    */
  def contaminationScore(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int): DataFrame = {
    val corpusShingles = shingles(corpus, idCol, textCol, n)
    val benchShingles = benchShingleSet(benchmark, benchTextCol, n)
    // ONE pass over the corpus shingles instead of two: the old form fed
    // corpusShingles to a total count AND a semi-join hit count, so the
    // whole tokenize/explode/distinct pipeline compiled into both
    // subtrees (measured: the two serial map-side stages dominated the
    // query). A left join against the DISTINCT benchmark set (no row
    // multiplication possible) tags hits, and one aggregation counts
    // rows and tags together — also deleting the tot⋈hit id join.
    corpusShingles
      .join(broadcast(benchShingles.withColumn("_hit", lit(1))),
        Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("_hit")).as("n_contaminated"))
      .withColumn("contamination",
        col("n_contaminated").cast("double") / col("n_shingles").cast("double"))
  }

  /** Content-defined chunking (FastCDC/rsync-style) + chunk fingerprints:
    * each document is cut wherever the [[graft.functions.CdcBoundaries]]
    * rolling-hash rule fires (average chunk ≈ mask+1 bytes), and every
    * chunk gets an md5 fingerprint. Because cuts follow CONTENT, an edit
    * re-chunks only its own neighborhood — all downstream chunks keep
    * their identity, which is what makes chunk-level dedup effective on
    * large documents and binary payloads where whole-doc hashes miss
    * near-misses and fixed-offset blocks lose alignment after one insert.
    * Entirely map-side (native codegen'd boundary scan + expression
    * slicing); dedup across the corpus is then a plain groupBy on
    * chunk_md5. Requires a [[graft.GraftExtensions]] session.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, base: Long = 31L, mask: Long = 63L): DataFrame = {
    val cuts = graft.functions.TextExpressions.cdcBoundaries(col(textCol), w, base, mask)
    // The boundary kernel scans UTF-8 BYTES and returns byte offsets, so
    // the slicing side must be byte-based too: slice the encoded payload
    // (character substr would mis-slice everything after the first
    // multi-byte character). A cut may land inside a multi-byte char —
    // chunks are byte spans (rsync semantics); identity is byte content,
    // chunk_len is bytes. On ASCII this is identical to character
    // slicing, which is what the DuckDB oracle replays.
    val withB = df.select(col(idCol),
      encode(col(textCol), "UTF-8").as("_b"),
      concat(array(lit(0)), cuts, array(octet_length(col(textCol)))).as("_ac"))
    val chunks = zip_with(
      slice(col("_ac"), lit(1), size(col("_ac")) - 1),
      slice(col("_ac"), lit(2), size(col("_ac")) - 1),
      (a, b) => col("_b").substr(a + 1, b - a))
    withB.select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
      .filter(length(col("chunk")) > 0)
      .select(col(idCol), col("chunk_idx"),
        length(col("chunk")).as("chunk_len"), md5(col("chunk")).as("chunk_md5"))
  }

  /** 64-bit SimHash from md5 token hashes: bit b of the signature is the
    * sign of Σ_tokens (±1 by bit b of md5(token)). Near-dups = pairs with
    * small Hamming distance. md5-based → portable across engines.
    *
    * The per-token hash work is hoisted into `tokenHashHalves` — computed
    * ONCE per document as a materialized column: each distinct token's
    * md5 is parsed into two 32-bit integer halves a single time, and the
    * 64 bit-vote folds are then pure shift-and-mask arithmetic. (The
    * naive form — 64 folds each re-deriving md5 + per-bit hex-nibble
    * string parsing — costs ~64× the hashing plus string ops per vote.)
    */
  def tokenHashHalves(text: Column): Column =
    transform(array_distinct(TextStats.tokens(text)), { t =>
      val h = md5(t)
      struct(conv(substring(h, 1, 8), 16, 10).cast("long").as("lo"),
        conv(substring(h, 9, 8), 16, 10).cast("long").as("hi"))
    })

  /** Per-document signatures with the token-hash column hoisted so it is
    * evaluated once per row, not once per bit, then signed by the native
    * codegen'd [[graft.functions.SimHash64]] (one primitive pass instead
    * of 64 interpreted folds — the dominant cost of the corpus-scale pair
    * search). Requires a [[graft.GraftExtensions]] session. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("_th", tokenHashHalves(col(textCol)))
      .select(col(idCol), graft.functions.VectorExpressions.simhash64(col("_th")).as("sig"))

  /** Single-column convenience form (inline, no hoist). */
  def simhash64(text: Column): Column =
    graft.functions.VectorExpressions.simhash64(tokenHashHalves(text))

  def hammingDistance64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Corpus-scale SimHash pair search via pigeonhole banding (Manku et al.,
    * WWW'07 style): the 64-bit signature is cut into `numChunks`
    * contiguous chunks; any pair within `maxHamming` differing bits has at
    * least one chunk with ZERO differing bits when `numChunks > maxHamming`
    * (pigeonhole), so bucketing on (chunk index, chunk value) finds
    * every qualifying pair with no false negatives, for any chunk split.
    * Candidates sharing a chunk are then verified with the exact popcount
    * — identical output to the all-pairs theta join, at bucket cost.
    *
    * Same shuffle shape as [[lshCandidates]]: chunk rows are emitted
    * map-side (one explode, `numChunks` rows/doc), and [[bucketPairs]]
    * builds the buckets of (id, sig) members and expands their pairs
    * locally; the popcount verify runs on the expanded pairs, before the
    * pair-level distinct, so the distinct shuffles only true pairs
    * (×chunk multiplicity). `maxBucket` drops degenerate buckets (a chunk
    * value shared by k docs yields k(k-1)/2 candidates; e.g. near-empty
    * docs whose signature chunks are all zeros) — standard LSH practice,
    * a chunk value that common carries no near-dup signal. Every row,
    * null id included, counts toward a bucket's size.
    */
  def simhashBandedPairs(sigs: DataFrame, idCol: String, maxHamming: Int,
      numChunks: Int = 7, maxBucket: Int = 100000): DataFrame = {
    require(numChunks > maxHamming && numChunks <= 64,
      s"pigeonhole needs maxHamming < numChunks <= 64 (got $maxHamming, $numChunks)")
    val chunkStructs = array((0 until numChunks).map { c =>
      val lo = (64 * c) / numChunks
      val width = (64 * (c + 1)) / numChunks - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col("sig"), lo).bitwiseAND(lit(mask)).as("chunk_val"))
    }: _*)
    val chunkRows = sigs.select(struct(col(idCol).as("id"), col("sig")).as("_doc"),
      explode(chunkStructs).as("ch"))
    bucketPairs(chunkRows, Seq(col("ch.chunk"), col("ch.chunk_val")),
        col("_doc"), maxBucket)
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hammingDistance64(col("a.sig"), col("b.sig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // the same pair can share several chunks — distinct AFTER the
      // verify filter (hamming is functionally dependent on the pair, so
      // the 3-column distinct is exact)
      .distinct()
  }
}
