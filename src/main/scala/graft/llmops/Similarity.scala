package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.FanOut

/** Approximate-nearest-neighbor search over an embedding column
  * (builder-prompt extension; operates on `embeddings.parquet`).
  *
  *  - [[bruteForceTopK]] — the exact baseline: cross join queries ×
  *    candidates (queries broadcast), cosine via exact fold, windowed
  *    top-k. Right when |queries| is small; O(|Q|·|C|) but embarrassingly
  *    parallel over candidate splits at 100 TB.
  *  - [[lshTopK]] — the scale path: random-hyperplane LSH. Hyperplane
  *    signs are derived from md5 (deterministic, seedable, portable);
  *    vectors sharing a signature bucket are compared exactly, so recall
  *    degrades gracefully while cost drops from |Q|·|C| to per-bucket
  *    products. Probing multiple buckets (multi-probe) raises recall.
  */
object Similarity {

  /** Hyperplane-count sizing rule for corpus-scale LSH — the measured
    * STRESS.md finding: with a FIXED nPlanes the bucket equi-join emits
    * ~(n/2^nPlanes)² pairs per bucket and total cost goes quadratic in
    * corpus size (113× time for 64× data at 8 planes; 29× faster at 14).
    * Size the bucket count to the corpus instead: buckets ≈
    * n / targetOccupancy, i.e. nPlanes ≈ log₂(n / targetOccupancy), and
    * recover recall with multi-probe ([[multiProbeTopK]]) rather than by
    * coarsening the partition. */
  def planesForCorpus(n: Long, targetOccupancy: Long = 64L): Int = {
    require(n > 0 && targetOccupancy > 0,
      s"need positive corpus size and occupancy, got $n / $targetOccupancy")
    val buckets = math.max(1.0, n.toDouble / targetOccupancy)
    math.min(62, math.max(1, math.ceil(math.log(buckets) / math.log(2.0)).toInt))
  }

  /** (id, precast vector, norm) projection — one cast + one norm pass per
    * vector, paid before the pairwise join instead of per pair. */
  private def prepped(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String, nAs: String, dim: Int): DataFrame =
    df.select(col(idCol).as(idAs), VectorMath.precast(col(vecCol)).as(vecAs))
      .withColumn(nAs, VectorMath.normAuto(col(vecAs), dim))

  private def pairCosine(dim: Int): Column =
    VectorMath.dotAuto(col("_qv"), col("_cv"), dim) / (col("_qn") * col("_cn"))

  /** Compute `cosine` and apply the threshold ABOVE the join, behind a
    * predicate-pushdown barrier. Without it Catalyst pushes the threshold
    * filter into the nested-loop join condition, where the full dot
    * product is (a) evaluated as a CodegenFallback per *candidate* pair
    * (2× the surviving pairs) and (b) evaluated a second time in the
    * output projection — measured ~5× slower than one pass over the
    * joined rows. The barrier: the predicate ORs in a reference to a
    * nondeterministic column that is always non-null, so the row set is
    * unchanged, but Catalyst never pushes a nondeterministic predicate
    * and cannot prune the column it references. (`isnull(_mid)` would be
    * constant-folded away via non-nullability; `_mid < 0` — ids are
    * always ≥ 0 — is not foldable.) */
  private def thresholdAboveJoin(joined: DataFrame, threshold: Double,
      dim: Int): DataFrame =
    joined.withColumn("_no_pushdown", monotonically_increasing_id())
      .withColumn("cosine", pairCosine(dim))
      .filter(col("cosine") >= threshold || col("_no_pushdown") < 0)
      .select("id_a", "id_b", "cosine")

  /** Exact top-k by cosine for each query vector. Pass `dim` when the
    * embedding dimension is known — the cosine then compiles unrolled
    * inside whole-stage codegen. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int = 0): DataFrame = {
    val q = prepped(queries, idCol, vecCol, "query_id", "_qv", "_qn", dim)
    val c = FanOut(graft.operators.EvalBarrier(
      prepped(candidates, idCol, vecCol, "cand_id", "_cv", "_cn", dim), "_cv", "_cn"))
    val pairs = broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .withColumn("cosine", pairCosine(dim))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cosine", "rank")
  }

  /** Exact top-k by cosine via the bounded-heap partial aggregation
    * ([[graft.functions.TopK]]) instead of a window sort. Identical rows
    * to [[bruteForceTopK]] (same scores, same (desc score, asc id) order,
    * same ranks) but the scale shape differs where it matters: the window
    * form shuffles EVERY scored pair to its query's task and sorts there;
    * this form reduces each (query, partition) to ≤ k rows map-side, so
    * the exchange after the pair scoring carries k·partitions rows per
    * query instead of |candidates| — the only viable top-k shape when
    * candidates are corpus-sized. */
  def bruteForceTopKAgg(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int = 0): DataFrame = {
    import graft.functions.TopK
    val q = prepped(queries, idCol, vecCol, "query_id", "_qv", "_qn", dim)
    val c = FanOut(graft.operators.EvalBarrier(
      prepped(candidates, idCol, vecCol, "cand_id", "_cv", "_cn", dim), "_cv", "_cn"))
    broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .withColumn("cosine", pairCosine(dim))
      .groupBy(col("query_id"))
      .agg(TopK.topKAgg(k, col("cosine"), col("cand_id")).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_pos", "_s")))
      .select(col("query_id"), col("_s.id").as("cand_id"),
        col("_s.score").as("cosine"), (col("_pos") + 1).cast("int").as("rank"))
  }

  /** Hard-negative mining for contrastive retriever training: for each
    * query vector, the k most-cosine-similar candidates with a DIFFERENT
    * label — the "looks like a positive, isn't one" rows a contrastive
    * loss needs. Same bounded-heap shape as [[bruteForceTopKAgg]]
    * (scored pairs reduce to ≤ k per (query, partition) map-side and
    * never shuffle); the label inequality rides in the join condition, a
    * plain column comparison with no barrier cost. For corpus-scale
    * query sets, bucket candidates first (the LSH/IVF paths) and mine
    * within probed buckets — identical composition to ANN search.
    */
  def hardNegatives(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int, dim: Int = 0): DataFrame = {
    import graft.functions.TopK
    def side(df: DataFrame, idAs: String, vecAs: String, nAs: String,
        lAs: String) =
      df.select(col(idCol).as(idAs), col(labelCol).as(lAs),
          VectorMath.precast(col(vecCol)).as(vecAs))
        .withColumn(nAs, VectorMath.normAuto(col(vecAs), dim))
    val q = side(queries, "query_id", "_qv", "_qn", "_ql")
    val c = FanOut(graft.operators.EvalBarrier(
      side(candidates, "cand_id", "_cv", "_cn", "_cl"), "_cv", "_cn"))
    broadcast(q).join(c,
        col("query_id") =!= col("cand_id") && col("_ql") =!= col("_cl"))
      .withColumn("cosine", pairCosine(dim))
      .groupBy(col("query_id"))
      .agg(TopK.topKAgg(k, col("cosine"), col("cand_id")).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_pos", "_s")))
      .select(col("query_id"), col("_s.id").as("cand_id"),
        col("_s.score").as("cosine"), (col("_pos") + 1).cast("int").as("rank"))
  }

  /** SQL list literal of plane j's ±1 components — the hyperplanes are
    * plan-time constants, so the DuckDB oracle inlines the same planes
    * and reproduces buckets exactly. */
  def planeSqlLiteral(j: Int, dim: Int): String =
    (0 until dim).map(i => if (planeSign(j, i) > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]")

  /** Deterministic ±1 hyperplane component for (plane j, dim i): sign of a
    * md5-derived nibble. */
  private def planeSign(j: Int, i: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j:$i".getBytes("UTF-8"))
    if ((hex(0) & 0x01) == 1) 1.0 else -1.0
  }

  /** nPlanes-bit signature bucket per vector (planes are constant arrays —
    * broadcast as literals into codegen, no join needed). */
  def signatures(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, dim: Int): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val sigBits = (0 until nPlanes).map { j =>
      val plane = array((0 until dim).map(i => lit(planeSign(j, i))): _*)
      val dot = VectorMath.dotAuto(v, plane, dim)
      when(dot >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    df.withColumn("bucket", sigBits.reduce(_ bitwiseOR _))
  }

  /** LSH-bucketed approximate top-k: exact cosine within shared buckets. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, dim: Int, k: Int): DataFrame = {
    val sigs = signatures(df, idCol, vecCol, nPlanes, dim)
      .select(col(idCol), VectorMath.precast(col(vecCol)).as("_v"), col("bucket"))
      .withColumn("_n", VectorMath.normAuto(col("_v"), dim))
    val a = sigs.select(col(idCol).as("query_id"), col("_v").as("_qv"),
      col("_n").as("_qn"), col("bucket"))
    val b = sigs.select(col(idCol).as("cand_id"), col("_v").as("_cv"),
      col("_n").as("_cn"), col("bucket"))
    val pairs = a.join(b, Seq("bucket")).filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine", pairCosine(dim))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "bucket", "cand_id", "cosine", "rank")
  }

  /** Multi-probe LSH top-k — the recall repair the single-probe form's
    * scaladoc promises. A vector whose dot with plane j is near zero sits
    * on that hyperplane's boundary: its j-th signature bit is the one a
    * true near neighbor is likeliest to disagree on. So each QUERY probes
    * its own bucket plus the `nProbe` buckets obtained by flipping the
    * lowest-|margin| bits (|dot| ascending, plane index ascending on
    * ties), while candidates stay in their one home bucket.
    *
    * Scale shape vs [[lshTopK]]: identical equi-join on `bucket` — only
    * the query side of the exchange grows, by a factor of (nProbe+1);
    * the corpus-sized candidate side is still hashed once. That is the
    * whole point of multi-probe over lowering nPlanes: recall rises
    * without inflating every bucket's candidate population (which would
    * grow the join output quadratically per bucket). The per-plane dots
    * are materialized once in `_dots` — deriving bucket and margins from
    * the same array column, not re-evaluating 2·nPlanes dot folds.
    *
    * Probe buckets are pairwise distinct by construction (XOR with
    * distinct nonzero one-bit masks), so a (query, candidate) pair can
    * match on at most one probe — no pair-level dedup is needed.
    */
  def multiProbeTopK(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, dim: Int, k: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 0 && nProbe <= nPlanes,
      s"nProbe must be in [0, nPlanes=$nPlanes], got $nProbe")
    val v = col(vecCol).cast("array<double>")
    val planeDots = (0 until nPlanes).map { j =>
      val plane = array((0 until dim).map(i => lit(planeSign(j, i))): _*)
      VectorMath.dotAuto(v, plane, dim)
    }
    val dotAt = (j: Int) => element_at(col("_dots"), j + 1)
    val bucket = (0 until nPlanes)
      .map(j => when(dotAt(j) >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    // (|margin|, plane, mask) structs sort ascending exactly like the
    // oracle's ORDER BY m, j — mask rides along for the XOR.
    val margins = array((0 until nPlanes).map { j =>
      struct(abs(dotAt(j)).as("m"), lit(j).as("j"), lit(1L << j).as("mask"))
    }: _*)
    val sigs = df
      .select(col(idCol), VectorMath.precast(col(vecCol)).as("_v"),
        array(planeDots: _*).as("_dots"))
      .withColumn("_n", VectorMath.normAuto(col("_v"), dim))
      .withColumn("bucket", bucket)
    val qProbes = sigs
      .withColumn("_flips", slice(sort_array(margins), 1, nProbe))
      .select(col(idCol).as("query_id"), col("_v").as("_qv"), col("_n").as("_qn"),
        explode(concat(array(col("bucket")),
          transform(col("_flips"),
            f => col("bucket").bitwiseXOR(f.getField("mask"))))).as("bucket"))
    val cands = sigs.select(col(idCol).as("cand_id"), col("_v").as("_cv"),
      col("_n").as("_cn"), col("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id").asc)
    qProbes.join(cands, Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine", pairCosine(dim))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cosine", "rank")
  }

  /** Embedding-cosine near-duplicate pairs, exact: every (id_a < id_b)
    * pair with cosine ≥ threshold. O(n²) baseline — correct by
    * construction, and the oracle for the LSH variant below. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int = 0): DataFrame = {
    val a = FanOut(graft.operators.EvalBarrier(
      prepped(df, idCol, vecCol, "id_a", "_qv", "_qn", dim), "_qv", "_qn"))
    val b = prepped(df, idCol, vecCol, "id_b", "_cv", "_cn", dim)
    thresholdAboveJoin(
      a.join(broadcast(b), col("id_a") < col("id_b")), threshold, dim)
  }

  /** Scale path for [[cosineNearDupPairs]]: hyperplane-LSH buckets turn the
    * all-pairs comparison into an equi-join on the signature — only
    * vectors sharing a bucket are compared exactly. Recall < 1 (pairs
    * split across buckets are missed); lower nPlanes for higher recall at
    * higher candidate cost. */
  def cosineNearDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int, dim: Int): DataFrame = {
    val sigs = signatures(df, idCol, vecCol, nPlanes, dim)
      .select(col(idCol), VectorMath.precast(col(vecCol)).as("_v"), col("bucket"))
      .withColumn("_n", VectorMath.normAuto(col("_v"), dim))
    val a = sigs.select(col(idCol).as("id_a"), col("_v").as("_qv"),
      col("_n").as("_qn"), col("bucket"))
    val b = sigs.select(col(idCol).as("id_b"), col("_v").as("_cv"),
      col("_n").as("_cn"), col("bucket"))
    thresholdAboveJoin(
      a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b")),
      threshold, dim)
  }

  /** The centroid table (broadcast-sized coarse quantizer) folded into a
    * single-row, single-array-column frame: (cell_id, precast centroid,
    * norm) structs. Cross-joining this one row onto the vector table is a
    * broadcast — every vector row sees all cells with no row explosion. */
  private[llmops] def centroidCells(centroids: DataFrame, dim: Int): DataFrame =
    centroids.select(struct(
        col("cell_id"),
        VectorMath.precast(col("centroid")).as("_ce"),
        VectorMath.normAuto(VectorMath.precast(col("centroid")), dim).as("_cen")).as("_c"))
      .agg(sort_array(collect_list(col("_c"))).as("_cells"))

  private[llmops] def cellCosine(c: Column, dim: Int, vec: String = "_v",
      nrm: String = "_n"): Column =
    VectorMath.dotAuto(col(vec), c.getField("_ce"), dim) /
      (col(nrm) * c.getField("_cen"))

  /** Map-side probe selection shared by the IVF paths ([[ivfTopK]],
    * [[ProductQuantization.ivfPqTopK]]): cross-join the broadcast
    * centroid summary, rank cells in place by (cosine desc, cell_id asc),
    * explode the top `nProbe` cell ids. Input must carry `_qv`/`_qn`
    * (precast vector + norm); every other input column is preserved. */
  private[llmops] def probeCells(withVec: DataFrame, centroids: DataFrame,
      nProbe: Int, dim: Int): DataFrame =
    withVec.crossJoin(broadcast(centroidCells(centroids, dim)))
      .withColumn("_top", slice(sort_array(transform(col("_cells"),
        c => struct((-cellCosine(c, dim, "_qv", "_qn")).as("negCos"),
          c.getField("cell_id").as("cell_id")))), 1, nProbe))
      .withColumn("cell_id", explode(col("_top").getField("cell_id")))
      .drop("_cells", "_top")

  /** IVF cell assignment: each vector goes to its max-cosine centroid.
    * Fully map-side — NO shuffle, NO per-cell row explosion: each vector
    * row scores the broadcast centroid array in place and takes the
    * argmax as an array expression (ties broken by lowest cell_id, the
    * same order a windowed row_number would pick). At 100 TB the
    * candidate table is scanned exactly once. */
  def ivfAssignments(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, dim: Int = 0): DataFrame =
    // NO FanOut here, deliberately (round-12 A/B): a per-round exchange
    // of the points measured ~+1 s on q_kmeans_train, and even a ONCE-
    // per-query fan-out regressed q_kmeans_refine (+0.2–0.45 s) — at
    // fixture scale the 32-task round stages cost more scheduling than
    // the serial assignment they replace. At corpus scale the input is
    // already wide and needs no spreading.
    prepped(df, idCol, vecCol, idCol, "_v", "_n", dim)
      .crossJoin(broadcast(centroidCells(centroids, dim)))
      .withColumn("_best", array_max(transform(col("_cells"),
        c => struct(cellCosine(c, dim).as("cos"),
          (-c.getField("cell_id")).as("negId")))))
      .select(col(idCol), col("_v"), col("_n"),
        (-col("_best.negId")).as("cell_id"),
        col("_best.cos").as("cell_cosine"))

  /** Cluster-balanced prototype selection: assign every vector to its
    * max-cosine cell, keep the `perCell` vectors CLOSEST to each cell's
    * centroid — the "K prototypes per topic" subset builder (cluster-
    * balanced coresets for fine-tuning/eval sets). The inverse of
    * [[centroidOutliers]] (which removes the far tail); together they
    * bracket a cell's membership by typicality.
    *
    * Scale shape: assignment is the map-side [[ivfAssignments]] kernel
    * (no shuffle, no row explosion), then ONE shuffle on cell_id into a
    * bounded-heap [[graft.functions.TopK]] partial aggregation — the
    * exchange carries ≤ perCell·partitions rows per cell regardless of
    * cell population, and no cell is ever sorted whole. (A windowed
    * row_number here would shuffle and sort every member of every cell —
    * the exact pattern TopK exists to replace; see q_topk_agg.)
    */
  def clusterBalancedSample(points: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, dim: Int, perCell: Int): DataFrame =
    ivfAssignments(points, idCol, vecCol, centroids, dim)
      .groupBy(col("cell_id"))
      .agg(graft.functions.TopK.topKAgg(perCell,
        col("cell_cosine"), col(idCol)).as("_top"))
      .select(col("cell_id"), posexplode(col("_top")))
      .select(col("cell_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as(idCol),
        col("col.score").as("cell_cosine"))

  /** IVF top-k: queries probe their `nProbe` highest-cosine cells and run
    * exact search against only the vectors assigned there — the classic
    * inverted-file trade: recall bounded by cell spill, cost bounded by
    * |cells probed| / |cells| of the corpus instead of all of it. */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int, dim: Int = 0): DataFrame =
    // one definition of the probe/score/rank tree: the one-shot form IS
    // the stored form over a just-built index ([[ivfQueryIndex]]), so
    // the two can never silently diverge
    ivfQueryIndex(ivfBuildIndex(candidates, idCol, vecCol, centroids, dim),
      queries, idCol, vecCol, k, nProbe, dim)

  /** A stored, mergeable IVF index — the vector-search member of the
    * round-10 registry family ([[SparseSim.Bm25Index]],
    * `Pipelines.CurationRegistry`): centroids are FROZEN at index
    * creation and every ingest assigns its new vectors against the same
    * frozen centroids, so per-vector cell assignments are independent of
    * every other vector and a delta-merged index is EXACTLY the
    * full-rebuild index (the production vector-DB contract: cells drift
    * as data drifts and the centroid set is retrained offline — a new
    * index generation — never mutated in place under queries).
    *
    * `assigned` carries the precast vector, its norm, and the cell id —
    * the query path never re-derives anything corpus-sized. */
  final case class IvfIndex(
      centroids: DataFrame, // (cell_id, centroid) — frozen
      assigned: DataFrame)  // (cand_id, vec, norm, cell_id)

  /** Index a corpus (also the delta builder) against FROZEN centroids.
    * Vector ids must be integral ([[SegmentIO.requireIntegralIds]]) and
    * are normalized to long, the [[SparseSim.buildIndex]] convention. */
  def ivfBuildIndex(candidates: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, dim: Int): IvfIndex = {
    SegmentIO.requireIntegralIds(candidates, idCol, "ivfBuildIndex")
    IvfIndex(centroids,
      ivfAssignments(candidates, idCol, vecCol, centroids, dim)
        .select(col(idCol).cast("long").as("cand_id"), col("_v").as("vec"),
          col("_n").as("norm"), col("cell_id")))
  }

  /** Driver-side fingerprint of a centroid table — the identity of a
    * centroid GENERATION. Centroid tables are small by the IVF contract
    * (cells ≪ corpus; they broadcast in every probe plan), so one
    * sorted collect + md5 is free next to any index operation, and it
    * buys merge/open a hard guard against the silent-misuse trap:
    * segments assigned against DIFFERENT centroid generations merge
    * without error but mis-place every delta vector (queries probe the
    * base's cells, the delta's assignments mean the delta's cells).
    * Rendering is the JVM's shortest-roundtrip float/double toString —
    * deterministic for equal values, and any real retrain changes many
    * coordinates, not last-ulp noise. */
  def centroidFingerprint(centroids: DataFrame): String = {
    val rows = centroids.select(col("cell_id"), col("centroid"))
      .orderBy("cell_id").collect()
    val repr = rows.map { r =>
      s"${r.get(0)}:${r.getSeq[Any](1).map(String.valueOf).mkString(",")}"
    }.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(repr.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Merge a delta (new vectors, assigned against the SAME frozen
    * centroid table) into the base: pure append, no recomputation
    * anywhere — but the same-generation contract is ENFORCED, not
    * trusted: mismatched centroid fingerprints refuse to merge (the
    * failure is otherwise silent — every delta vector lands in a cell
    * the base's probe geometry doesn't mean). The common same-object
    * case (base and delta built from one centroids val) short-circuits
    * the two collects. */
  def ivfMergeIndex(base: IvfIndex, delta: IvfIndex): IvfIndex = {
    if (!(base.centroids eq delta.centroids)) {
      val (fb, fd) = (centroidFingerprint(base.centroids),
        centroidFingerprint(delta.centroids))
      require(fb == fd,
        s"ivfMergeIndex: centroid generations differ (base $fb, delta " +
          s"$fd) - merging would mis-assign every delta vector; retrain " +
          "produces a NEW index generation, never a merge")
    }
    IvfIndex(base.centroids, base.assigned.unionAll(delta.assigned))
  }

  /** [[ivfTopK]]'s probe+search served from a stored index: queries
    * probe their nProbe cells map-side and join only the stored
    * assignments — the corpus is never re-assigned or re-normed. Same
    * EvalBarrier as ivfTopK so an in-memory (not-yet-written) index
    * doesn't re-run the assignment expression per candidate pair. */
  def ivfQueryIndex(index: IvfIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      dim: Int): DataFrame = {
    val assigned = graft.operators.EvalBarrier(
      index.assigned.select(col("cand_id"), col("vec").as("_cv"),
        col("norm").as("_cn"), col("cell_id")),
      "_cv", "_cn")
    val probes = probeCells(
        prepped(queries, idCol, vecCol, "query_id", "_qv", "_qn", dim),
        index.centroids, nProbe, dim)
      .select("query_id", "_qv", "_qn", "cell_id")
    val rankW = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("cand_id").asc)
    probes.join(assigned, Seq("cell_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine", pairCosine(dim))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select("query_id", "cell_id", "cand_id", "cosine", "rank")
  }

  /** Persist an IVF index segment: the two tables plus a one-row `stats`
    * table carrying the centroid-generation fingerprint and the vector-id
    * watermark — the metadata [[ivfReadSegments]] needs to REJECT the two
    * silent-misuse traps (cross-generation merge, double ingest) its BM25
    * sibling's guards already reject. The assignment pipeline executes
    * exactly once — into the `assigned` write; stats derive from the
    * WRITTEN parquet (the [[SparseSim.writeIndex]] rule), and the whole
    * segment publishes via [[SegmentIO.publish]] (temp dir + one
    * rename), so a crash mid-write can't leave assignments beside a
    * stale fingerprint. */
  def ivfWriteIndex(index: IvfIndex, dir: String): Unit = {
    val spark = index.assigned.sparkSession
    SegmentIO.publish(spark, dir) { tmp =>
      index.assigned.write.mode("overwrite").parquet(s"$tmp/assigned")
      index.centroids.write.mode("overwrite").parquet(s"$tmp/centroids")
      spark.read.parquet(s"$tmp/assigned")
        .agg(count(lit(1)).as("n_vectors"),
          min("cand_id").cast("long").as("min_id"),
          max("cand_id").cast("long").as("max_id"))
        .withColumn("centroid_fp",
          lit(centroidFingerprint(spark.read.parquet(s"$tmp/centroids"))))
        .write.mode("overwrite").parquet(s"$tmp/stats")
    }
  }

  /** Open a segmented IVF registry (one segment dir per ingest — the
    * [[SparseSim.readSegments]] convention): `assigned` is ONE multi-path
    * scan and `centroids` the first dir's (the guard below makes every
    * segment's generation equal). The open REJECTS, loudly:
    *
    *  - segments whose stored centroid fingerprints differ — built
    *    against different centroid generations, their cell ids don't
    *    mean the same geometry and a merged open would silently
    *    mis-place every vector of the minority generation;
    *  - overlapping vector-id watermarks
    *    ([[SegmentIO.requireDisjointWatermarks]]) — a double-ingested
    *    segment would double-count its vectors (each appears twice in
    *    every probed cell, k slots burn on duplicates). */
  def ivfReadSegments(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String]): IvfIndex = {
    val stats = SegmentIO.readStats(spark, dirs, "stats",
      "n_vectors BIGINT, min_id BIGINT, max_id BIGINT, centroid_fp STRING",
      "ivfReadSegments")
    val fps = dirs.zip(stats.map(_.getAs[String]("centroid_fp")))
    fps.foreach { case (d, fp) =>
      require(fp == fps.head._2,
        s"ivfReadSegments: centroid generations differ between " +
          s"${fps.head._1} (${fps.head._2}) and $d ($fp) - segments " +
          "from different generations cannot serve one probe geometry")
    }
    SegmentIO.requireDisjointWatermarks(dirs, stats, "ivfReadSegments")
    IvfIndex(spark.read.parquet(s"${dirs.head}/centroids"),
      SegmentIO.scan(spark.read, dirs, "assigned"))
  }

  /** Registry-served hybrid retrieval — the production composition the
    * registries exist for: the lexical arm off a stored
    * [[SparseSim.Bm25Index]] ([[SparseSim.queryIndex]]), the dense arm
    * off a stored [[IvfIndex]] ([[ivfQueryIndex]]), fused by [[rrfFuse]].
    * One call serves a query batch against both registries with ZERO
    * corpus-sized build work in the plan — at the 64× stress fixture
    * this is ~3.8 s where rebuilding the two arms costs 120–140 s
    * (stress_hybrid_indexed vs stress_rrf_arms).
    *
    * `queries` carries BOTH modalities of each query — (qIdCol,
    * qTextCol, qVecCol) — the hybrid-search deployment shape where every
    * query has a text form and an embedding. Each arm is bounded at its
    * own `armK` per query before fusion, so the fuse never sees a
    * corpus-sized relation (the [[rrfFuse]] contract); the dense arm is
    * nProbe-approximate (recall is [[recallReport]]'s contract), the
    * lexical arm exact over the merged registry.
    *
    * Output: (qid, id, score_scaled, rank_lex, rank_dense, fused_rank).
    */
  def hybridQueryIndex(bm25: SparseSim.Bm25Index, ivf: IvfIndex,
      queries: DataFrame, qIdCol: String, qTextCol: String, qVecCol: String,
      armK: Int, maxDf: Long, nProbe: Int, dim: Int,
      kRrf: Int = 60, topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val lex = SparseSim.queryIndex(bm25, queries, qIdCol, qTextCol,
        armK, maxDf, k1, b)
      .select(col("qid"), col("id"), col("rank"))
    val dense = ivfQueryIndex(ivf,
        queries.select(col(qIdCol), col(qVecCol)),
        qIdCol, qVecCol, armK, nProbe, dim)
      .select(col("query_id").as("qid"), col("cand_id").as("id"),
        col("rank"))
    rrfFuse(Seq("lex" -> lex, "dense" -> dense),
      queryCol = "qid", idCol = "id", rankCol = "rank",
      kRrf = kRrf, topK = topK)
  }

  /** Recall@k report: score an APPROXIMATE top-k result (LSH, IVF, PQ,
    * quantized — any (query_id, cand_id) table) against the EXACT one —
    * the index-quality monitor a deployed ANN pipeline runs on a sampled
    * query set before trusting a new index or parameter change (the
    * empirical side of every sizing rule in this file). Per query:
    * the exact neighbor count, how many the approximate index recovered,
    * and their ratio. Both inputs are k-bounded per query, so the join
    * and aggregate are (queries·k)-sized regardless of corpus size —
    * evaluation cost scales with the SAMPLE, not the index. Both sides
    * are de-duplicated first: a candidate generator that emits a pair
    * once per matching band/cell must not inflate n_exact through the
    * left join or double-count its hits.
    */
  def recallReport(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("query_id"), col("cand_id")).distinct()
      .join(approx.select(col("query_id"), col("cand_id")).distinct()
        .withColumn("_hit", lit(1L)), Seq("query_id", "cand_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))

  /** Johnson–Lindenstrauss random projection: compress a `dim`-wide
    * embedding to `outDim` coordinates, each the dot product with a ±1
    * sign row (Achlioptas, "Database-friendly random projections", 2001 —
    * sign matrices carry the same distance-preservation guarantee as
    * Gaussian ones and need no float matrix state). The compressed
    * vectors are the cheap COARSE stage of two-stage retrieval: search in
    * `outDim` space at outDim/dim of the cost, re-rank survivors with the
    * exact vectors — the float analog of [[quantizedTopK]]'s byte-width
    * trade, and composable with every top-k operator here since the
    * output is just another embedding column.
    *
    * The projection is deliberately UNSCALED (no 1/√outDim factor):
    * cosine is scale-invariant, distances scale uniformly by √outDim,
    * and the sum-of-±terms form stays bit-replayable cross-engine
    * without a division whose rounding could drift.
    *
    * Scale shape: entirely map-side — the sign matrix rides in the plan
    * (outDim·dim doubles, a few KB) and the whole projection is ONE
    * fused native loop ([[graft.functions.VectorExpressions.JlProject]] —
    * the composed array-of-dots form inlines outDim loop bodies into a
    * generated method past the JIT's HugeMethodLimit and drops the stage
    * to interpreted bytecode, measured 38× slower at the 64× stress
    * fixture); no shuffle, no state, no UDF. At 100 TB this runs at scan
    * speed and is the step that makes the downstream pairwise search
    * `dim/outDim`× cheaper. Requires a [[graft.GraftExtensions]] session.
    *
    * Null contract: NULL vector → NULL projection; a null ELEMENT or a
    * width ≠ `dim` → an all-null component array (what the composed
    * per-component dots produce, each NULLing out individually). */
  def randomProject(df: DataFrame, vecCol: String, outCol: String,
      outDim: Int, seed: String, dim: Int): DataFrame = {
    require(outDim >= 1 && dim >= 1,
      s"randomProject needs positive dims, got outDim=$outDim dim=$dim")
    df.withColumn(outCol,
      graft.functions.VectorExpressions.jlProject(col(vecCol), seed, outDim, dim))
  }

  /** Two-stage retrieval over a JL-projected coarse index: search the
    * `outDim`-wide [[randomProject]]ion for each query's `kCoarse` best
    * candidates, then re-rank ONLY those with the exact full-width cosine
    * and keep the top `k` — the standard compressed-index shape
    * (coarse recall stage + exact precision stage). The coarse pass pays
    * outDim/dim of the full pairwise cost; the exact pass touches
    * |queries|·kCoarse vectors instead of the corpus. At kCoarse =
    * |candidates| the result equals [[bruteForceTopK]] row-for-row (the
    * coarse stage admits everything), which is the spec's anchor; recall
    * at smaller kCoarse is the JL trade, measurable with
    * [[recallReport]].
    *
    * Scale shape: both projections are map-side; the coarse stage is the
    * broadcast-queries pair loop at outDim/dim width; the re-rank
    * BROADCASTS the (|Q|·kCoarse)-row survivor list (with query vectors
    * attached) against one more corpus scan — the corpus never shuffles —
    * then one windowed top-k over kCoarse-bounded groups.
    *
    * Regime (64× stress measurement): projecting the corpus costs
    * ~outDim full-width query-equivalents, so the coarse stage amortizes
    * only when |queries| ≫ outDim — at |Q|=10/outDim=16 it ties the flat
    * exact scan; at the recurring-monitor sample sizes [[recallReport]]
    * models (hundreds+) it wins by ~dim/outDim. For corpus-×-corpus
    * near-dup search use the bucketed paths (LSH/IVF/PQ) instead. */
  def projectedTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, kCoarse: Int,
      outDim: Int, seed: String, dim: Int): DataFrame = {
    require(kCoarse >= k, s"kCoarse ($kCoarse) must be >= k ($k)")
    val pq = randomProject(queries, vecCol, "_pj", outDim, seed, dim)
      .select(col(idCol), col("_pj"))
    val pc = randomProject(candidates, vecCol, "_pj", outDim, seed, dim)
      .select(col(idCol), col("_pj"))
    val coarse = bruteForceTopK(pq, pc, idCol, "_pj", kCoarse, outDim)
      .select("query_id", "cand_id")
    val q = prepped(queries, idCol, vecCol, "query_id", "_qv", "_qn", dim)
    // barrier as in bruteForceTopK: a candidate surviving the coarse
    // stage for many queries must not re-run its cast + norm fold once
    // per matching probe row
    val c = graft.operators.EvalBarrier(
      prepped(candidates, idCol, vecCol, "cand_id", "_cv", "_cn", dim),
      "_cv", "_cn")
    val probe = coarse.join(q, Seq("query_id"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id").asc)
    c.join(broadcast(probe), Seq("cand_id"))
      .withColumn("cosine", pairCosine(dim))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cosine", "rank")
  }

  /** Bitext mining — mutual cross-label nearest neighbors above a
    * cosine floor: the parallel-corpus discovery step (CCMatrix/LASER
    * style) that pairs a document with its best OTHER-label match only
    * when each is the other's top-1. The mutuality test is what
    * separates translation pairs from mere topical similarity: a hub
    * document that is "closest" to many foreign docs survives only with
    * its own reciprocal best. Each pair is emitted once (id_a < id_b)
    * with its cosine.
    *
    * Built on [[hardNegatives]]' cross-label top-k kernel at k = 1
    * (bounded-heap, label inequality in the join condition), then one
    * self-equi-join of the top-1 table against its reverse — (queries·1)
    * rows per side, trivially small. The fixture-exact form broadcasts
    * the query side; corpus×corpus mining at scale feeds the same
    * mutuality join from LSH/IVF candidate top-1s instead (the
    * [[lshTopK]]/[[ivfTopK]] scale path — mutuality composes with any
    * top-1 generator). */
  def mutualNearestPairs(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, minCosine: Double, dim: Int = 0): DataFrame = {
    // materialize the best-neighbor table ONCE: the mutuality self-join
    // below reads it twice (fwd and bwd), and each un-materialized
    // consumer re-runs the final TopK merge aggregation — which AQE
    // coalesces to ONE post-shuffle partition by bytes (per-query heaps
    // are byte-light, CPU-dense: measured ~0.5 s serial per consumer).
    // One row per query — trivially cheap to hold.
    val top1 = hardNegatives(df, df, idCol, vecCol, labelCol, k = 1, dim)
      .select(col("query_id"), col("cand_id"), col("cosine"))
      .localCheckpoint(true)
    val fwd = top1.select(col("query_id").as("id_a"),
      col("cand_id").as("id_b"), col("cosine"))
    val bwd = top1.select(col("query_id").as("id_b"),
      col("cand_id").as("id_a"))
    fwd.join(bwd, Seq("id_a", "id_b"))
      .filter(col("id_a") < col("id_b") && col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  /** Ratio-margin scoring for mined bitext pairs — the CCMatrix/LASER
    * criterion proper: raw cosine overrates pairs in dense regions (a
    * doc whose whole neighborhood scores 0.9 is not special at 0.91),
    * so each mutual pair is scored by its cosine relative to both
    * endpoints' average top-`k` cross-label cosine:
    * margin = cos(a,b) / ((avgTopK(a) + avgTopK(b)) / 2). Pairs are the
    * [[mutualNearestPairs]] reciprocal-best set; callers threshold on
    * `margin` (≥ ~1.06 in the CCMatrix paper) instead of a raw cosine
    * floor.
    *
    * Determinism: each average folds its top-k cosines in RANK order
    * (an explicit rank-sorted array fold, not an unordered SUM — float
    * addition order is the difference between a hash-replayable margin
    * and an engine-dependent one); the division and the final margin are
    * then single IEEE ops. Scale shape: one cross-label top-k pass
    * (bounded heap), the mutuality join, and a broadcast-sized
    * per-vector average table joined to both endpoints. */
  def marginScoredPairs(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, dim: Int = 0): DataFrame = {
    require(k >= 1, s"need k >= 1 top neighbors for the margin, got $k")
    // materialized ONCE: topk feeds the average table AND the rank-1
    // mutuality join's two sides — without the barrier each consumer
    // re-runs the final TopK merge aggregation (AQE coalesces it to one
    // CPU-dense task; see mutualNearestPairs). k rows per query — cheap
    // to hold.
    val topk = hardNegatives(df, df, idCol, vecCol, labelCol, k, dim)
      .localCheckpoint(true)
    val avg = topk.groupBy("query_id")
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("rank"), col("cosine")))),
          s => s.getField("cosine")),
        lit(0.0), (acc, x) => acc + x).as("_sum"),
        count(lit(1)).as("_k"))
      .select(col("query_id"), (col("_sum") / col("_k")).as("avg_topk"))
    val top1 = topk.filter(col("rank") === 1)
      .select(col("query_id"), col("cand_id"), col("cosine"))
    val fwd = top1.select(col("query_id").as("id_a"),
      col("cand_id").as("id_b"), col("cosine"))
    val bwd = top1.select(col("query_id").as("id_b"),
      col("cand_id").as("id_a"))
    fwd.join(bwd, Seq("id_a", "id_b"))
      .filter(col("id_a") < col("id_b"))
      .join(avg.select(col("query_id").as("id_a"), col("avg_topk").as("_avg_a")),
        Seq("id_a"))
      .join(avg.select(col("query_id").as("id_b"), col("avg_topk").as("_avg_b")),
        Seq("id_b"))
      .withColumn("margin",
        col("cosine") / ((col("_avg_a") + col("_avg_b")) / lit(2.0)))
      .select("id_a", "id_b", "cosine", "margin")
  }

  /** Dedup decision from near-dup pairs: each duplicate id maps to its
    * canonical (the smallest near-dup neighbor id below it). Dropping
    * every `dup_id` row keeps exactly one representative per local dup
    * cluster. */
  def cosineDedupDecision(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("id_b").as("dup_id"))
      .agg(min(col("id_a")).as("canonical_id"),
        count(lit(1)).as("n_matches"),
        max(col("cosine")).as("max_cosine"))

  /** Per-label embedding statistics: count + exact min/max of norms (an
    * IVF-style partition statistic; means intentionally omitted from
    * verified output — float sum order is engine-specific). */
  def labelStats(df: DataFrame, labelCol: String, vecCol: String,
      dim: Int = 0): DataFrame =
    df.withColumn("_n",
        VectorMath.normAuto(VectorMath.precast(col(vecCol)), dim))
      .groupBy(col(labelCol))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("_n")).as("min_norm"), max(col("_n")).as("max_norm"))

  /** Per-label centroid-distance outlier ranking — the curation step that
    * prunes mislabeled / far-from-cluster embeddings before training
    * (the SemDeDup paper's companion heuristic: within a semantic
    * cluster, distance-to-centroid ranks quality). Returns the `topK`
    * farthest vectors per label with their squared distance and rank.
    *
    * [[labelStats]] deliberately omits float means ("sum order is
    * engine-specific"); this operator closes that gap with the Det
    * doctrine — each component is cast to an exact decimal before the
    * sum, so the centroid is bit-reproducible regardless of row order,
    * and the final mean is one identical double division per component.
    * The distance then folds left-to-right over the paired arrays (the
    * native [[graft.functions.VectorExpressions.distSq]]), matching the
    * oracle's list_reduce.
    *
    * Scale shape: one posexplode + (label, position) count shuffle —
    * dim·labels cells of combiner state, same as a Lloyd step — then the
    * label-count-sized centroid table broadcasts back for a map-side
    * distance pass and a per-label top-k window (k·labels rows survive
    * the final exchange). The corpus is scanned twice, never cached. */
  def centroidOutliers(df: DataFrame, idCol: String, labelCol: String,
      vecCol: String, topK: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val comp = df.select(col(labelCol).as("_l"),
      posexplode(VectorMath.precast(col(vecCol))).as(Seq("_i", "_x")))
    val cent = comp.groupBy("_l", "_i")
      .agg((sum(col("_x").cast(DecimalType(28, 9))).cast("double") /
        count(lit(1))).as("_m"))
    val centArr = cent.groupBy("_l")
      .agg(transform(array_sort(collect_list(struct(col("_i"), col("_m")))),
        s => s.getField("_m")).as("_c"))
    df.join(broadcast(centArr), col(labelCol) === col("_l"))
      .withColumn("dist2",
        graft.functions.VectorExpressions.distSq(
          VectorMath.precast(col(vecCol)), col("_c")))
      .withColumn("rank", row_number().over(Window.partitionBy(col(labelCol))
        .orderBy(col("dist2").desc, col(idCol))).cast("int"))
      .filter(col("rank") <= topK)
      .select(col(idCol), col(labelCol), col("dist2"), col("rank"))
  }

  // ---- int8 scalar quantization ------------------------------------------

  /** Symmetric per-vector int8 quantization: q_i = floor(x_i/amax·127+0.5)
    * with amax = max|x_i|, plus the dequant `scale` = amax/127. Stored
    * int8, a 100 TB embedding table shuffles and caches at ¼ the float32
    * footprint — the standard first compression rung before ANN search.
    * floor(·+0.5) rather than round() so ties break identically across
    * engines (no HALF_UP vs banker's divergence in the oracle compare).
    * Output keeps every input column and adds (`qvec` array<int>, `scale`
    * double); a single map-side pass, no shuffle.
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val v = VectorMath.precast(col(vecCol))
    val amax = array_max(transform(v, x => abs(x)))
    // the greatest(amax, 5e-324) floor keeps an all-zero vector at 0/0-free
    // q_i = 0 instead of NaN (which ANSI int-cast would reject).
    // The `when(_amax >= 0, ...)` wrapper is load-bearing: it makes qvec
    // reference _amax TWICE, so CollapseProject can never inline the
    // array_max into the per-element transform lambda — which it DOES do
    // at a single reference (e.g. when a caller selects qvec and drops
    // scale), turning the pass O(dim²) per row. Measured on the 64×
    // stress fixture: the inlined form burns ~190 µs/row (25 s of CPU
    // for 128k vectors) vs ~2 s total with _amax kept materialized. The
    // predicate is always true (_amax ≥ 5e-324 by the floor; a NULL
    // vector falls to the otherwise(null) branch, matching transform's
    // null propagation), so values are unchanged.
    df.withColumn("_amax", greatest(amax, lit(java.lang.Double.MIN_VALUE)))
      .withColumn("qvec",
        when(col("_amax") >= 0,
          transform(v, x => floor(x / col("_amax") * 127.0 + 0.5).cast("int")))
        .otherwise(lit(null)))
      .withColumn("scale", col("_amax") / 127.0)
      .drop("_amax")
  }

  /** Exact top-k over the QUANTIZED vectors: cosine of the int8 codes
    * (integer-valued double products ≤ 127²·dim — every add exact, so the
    * ranking is bit-reproducible across engines, unlike float32 sums).
    * Per-vector scales cancel in the cosine, so no dequantization happens
    * in the pair loop; the codes are precast to array<double> once per
    * vector and the pair dot runs through the same unrolled/native-codegen
    * kernel as the float path ([[VectorMath.dotAuto]]). Same shape as
    * [[bruteForceTopK]] — queries broadcast, candidates fanned out — but
    * the candidate side now streams at ¼ the bytes, which is the point at
    * corpus scale (the LSH/IVF pruning composes on top unchanged).
    */
  def quantizedTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int = 0): DataFrame = {
    def prep(df: DataFrame, idAs: String, vecAs: String, nAs: String) =
      quantizeInt8(df, vecCol)
        .select(col(idCol).as(idAs), col("qvec").cast("array<double>").as(vecAs))
        .withColumn(nAs, VectorMath.normAuto(col(vecAs), dim))
    val q = prep(queries, "query_id", "_qv", "_qn")
    val c = FanOut(graft.operators.EvalBarrier(prep(candidates, "cand_id", "_cv", "_cn"), "_cv", "_cn"))
    val pairs = broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .withColumn("qcosine", pairCosine(dim))
    val w = Window.partitionBy("query_id").orderBy(col("qcosine").desc, col("cand_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "qcosine", "rank")
  }

  /** Reciprocal-rank fusion of retrieval arms (Cormack/Clarke/Büttcher's
    * RRF — the standard way hybrid search combines a lexical arm like
    * [[SparseSim.bm25Retrieve]] with a dense arm like [[bruteForceTopK]]
    * without calibrating their incomparable score scales: only RANKS
    * cross arms). Each arm contributes ⌊10^12 / (kRrf + rank)⌋ per
    * (query, doc); fused score is the sum.
    *
    * Integer micro-quantization (the [[SparseSim]] BM25 device): the
    * contribution is a long, so the cross-arm sum is order-free and the
    * fused ranking replays exactly in any SQL engine — true-double RRF
    * differs from this by < 10^-12 relative, which can only reorder
    * exact ties. Ties break on ascending doc id, a strict total order.
    *
    * Scale shape: each arm is already bounded at its own top-k per
    * query, so fusion touches ≤ Σ arm-k rows per query — the groupBy
    * and the per-query rank window run on arm-bounded input, never on a
    * corpus-sized relation. Arms are unioned, not joined: N arms cost
    * one union + one aggregation regardless of N.
    *
    * Input contract: every arm is (queryCol, idCol, rankCol) with rank
    * ≥ 1 and one row per (query, id); `arms` names must be distinct
    * (they become output columns `rank_<name>`, null where the arm
    * didn't surface the doc).
    *
    * Output: (queryCol, idCol, score_scaled, rank_<name>..., fused_rank
    * ≤ topK). */
  def rrfFuse(arms: Seq[(String, DataFrame)], queryCol: String,
      idCol: String, rankCol: String, kRrf: Int = 60,
      topK: Int = 10): DataFrame = {
    require(arms.nonEmpty, "at least one retrieval arm")
    require(arms.map(_._1).distinct.length == arms.length,
      s"arm names must be distinct: ${arms.map(_._1).mkString(", ")}")
    val tagged = arms.map { case (name, df) =>
      df.select(col(queryCol), col(idCol), col(rankCol).cast("int").as("_rank"),
        lit(name).as("_arm"))
    }.reduce(_ unionByName _)
    val contrib = floor(lit(1e12) / (lit(kRrf) + col("_rank"))).cast("long")
    val perArmRanks = arms.map { case (name, _) =>
      min(when(col("_arm") === name, col("_rank"))).as(s"rank_$name")
    }
    val fused = tagged
      .groupBy(col(queryCol), col(idCol))
      .agg(sum(contrib).as("score_scaled"), perArmRanks: _*)
    val w = Window.partitionBy(queryCol)
      .orderBy(col("score_scaled").desc, col(idCol).asc)
    fused.withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= topK)
  }
}
