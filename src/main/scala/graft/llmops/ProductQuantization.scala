package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for approximate nearest-neighbor search —
  * the compression rung below int8 scalar quantization
  * ([[Similarity.quantizeInt8]]): split each `dim`-vector into `m`
  * subvectors, quantize each subvector to its nearest centroid in a
  * per-subspace codebook of `ks` codes, and store only the `m` code
  * indices. A 64-dim float32 embedding (256 B) becomes m=4 codes (4 B at
  * ks ≤ 256) — 64× smaller, which is what lets a 100 TB embedding table
  * shuffle, cache, and stream as a few TB.
  *
  * Search uses asymmetric distance computation (ADC): the query stays
  * exact and precomputes, per subspace, its dot product with every
  * centroid — an m×ks lookup table built once per query, map-side
  * against the broadcast codebook. Scoring a candidate is then `m` array
  * lookups + (m-1) adds — no vector math in the pair loop at all, which
  * is the entire point at corpus scale. (Jégou, Douze, Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
  * public literature; this is the standard IVF-PQ leaf, and it composes
  * with [[Similarity.ivfTopK]]'s cell pruning unchanged: assign + encode
  * in the same map pass, probe cells, ADC-score within.)
  *
  * Determinism/oracle posture: codebooks are taken from sample vectors
  * (same convention as the IVF oracle's `vec_id < ks` centroids) or from
  * a [[KMeansOps]] refinement over int8-quantized codes. Over quantized
  * codes every subspace dot/distance is an integer-valued double, so ADC
  * sums commute and the whole pipeline hash-matches a DuckDB replay —
  * the float path ranks identically in practice but is not
  * bit-verifiable cross-engine.
  *
  * Scale shape:
  *  - [[subspaceCodebooks]]: m·ks rows — broadcast-sized by construction.
  *  - [[pqEncode]]: one map-side pass over the corpus (broadcast
  *    codebook row, argmin per subspace in place) — NO shuffle, no
  *    per-code row explosion; the argmin runs as the native codegen'd
  *    `graft_pq_code` kernel (requires a [[graft.GraftExtensions]]
  *    session).
  *  - [[adcTopK]]: queries broadcast with their LUTs; the corpus-sized
  *    encoded side streams m ints per row; per-pair work is codegen'd
  *    `element_at` lookups, and the top-k is the bounded-heap partial
  *    aggregation ([[graft.functions.TopK]]) — scored pairs never
  *    shuffle. Same (score desc, id asc) order contract as every other
  *    ANN operator here.
  */
object ProductQuantization {

  private def subDim(m: Int, dim: Int): Int = {
    require(m > 0 && dim > 0 && dim % m == 0,
      s"dim must divide into m subspaces, got dim=$dim m=$m")
    dim / m
  }

  /** Per-subspace codebooks cut from `ks` sample vectors: row (sub,
    * code_id, centroid) where `centroid` is the sample's sub-th
    * `dim/m`-slice. Deterministic given the sample set — the ANN oracle
    * convention ([[Similarity.ivfTopK]]'s `vec_id < ks` centroids),
    * and the seeding step before a [[KMeansOps.lloydStep]] refinement
    * per subspace. Output is m·|samples| rows — broadcast-sized. */
  def subspaceCodebooks(samples: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int): DataFrame = {
    val sd = subDim(m, dim)
    samples
      .select(col(idCol).as("code_id"), VectorMath.precast(col(vecCol)).as("_v"))
      .select(col("code_id"), posexplode(array((0 until m).map { s =>
        slice(col("_v"), s * sd + 1, sd)
      }: _*)))
      .toDF("code_id", "sub", "centroid")
  }

  /** The codebook table folded into one broadcastable row:
    * `_books[sub]._cents[pos]` = centroid, positions ordered by code_id
    * within each subspace and subspaces ordered by `sub` — so `pos` is
    * the dense 0-based code [[pqEncode]] emits and [[adcTopK]]'s LUT
    * indexes, and `element_at(_books, s+1)` addresses subspace s. */
  private def packedBooks(codebooks: DataFrame): DataFrame =
    codebooks
      .groupBy(col("sub"))
      .agg(transform(
        sort_array(collect_list(struct(col("code_id"), col("centroid")))),
        s => s.getField("centroid")).as("_cents"))
      .select(struct(col("sub"), col("_cents")).as("_b"))
      .agg(sort_array(collect_list(col("_b"))).as("_books"))

  /** HOF argmin over a position-ordered centroid array — the reference
    * formulation the native kernel is bit-identity-tested against. */
  private def hofArgmin(sv: Column, cents: Column): Column =
    array_min(transform(cents, (c, i) =>
      struct(VectorMath.distSqPrecast(sv, c).as("d"), i.cast("int").as("pos"))))
      .getField("pos")

  /** Encode every vector as `m` dense code positions: codes[s] = 0-based
    * index of the L2-nearest centroid in subspace s (ties → lowest
    * position = lowest code_id, matching a `row_number` oracle). Fully
    * map-side over a broadcast codebook row — the corpus is scanned once
    * and NOTHING shuffles; at 100 TB this is the pass that writes the
    * compressed index. Output keeps (idCol, codes array<int>). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dim: Int,
      carryCols: Seq[String] = Nil): DataFrame =
    encodeImpl(df, idCol, vecCol, codebooks, m, dim, carryCols,
      graft.functions.VectorExpressions.pqCode)

  /** [[pqEncode]] on the HOF fold — the reference the native kernel is
    * tested against. It stays here rather than in the tests because it
    * runs the private [[encodeImpl]]. */
  private[graft] def pqEncodeFold(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dim: Int): DataFrame =
    encodeImpl(df, idCol, vecCol, codebooks, m, dim, Nil, hofArgmin)

  private def encodeImpl(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dim: Int, carryCols: Seq[String],
      argmin: (Column, Column) => Column): DataFrame = {
    val sd = subDim(m, dim)
    // the per-subspace loop is UNROLLED (m is a plan-time constant), so
    // the whole codes array is built from plain expressions — on the
    // native kernel nothing in the encode pass is interpreted
    val codeAt = (s: Int) => {
      val sv = slice(col("_v"), s * sd + 1, sd)
      argmin(sv, element_at(col("_books"), s + 1).getField("_cents"))
    }
    df.select(col(idCol) +: carryCols.map(col) :+
        VectorMath.precast(col(vecCol)).as("_v"): _*)
      .crossJoin(broadcast(packedBooks(codebooks)))
      .withColumn("codes", array((0 until m).map(codeAt): _*))
      .select(col(idCol) +: carryCols.map(col) :+ col("codes"): _*)
  }

  /** Adds the per-query m×ks partial-dot lookup table (`_lut`) against a
    * broadcast codebook row; expects the precast query vector in `_qv`. */
  private def withLut(q: DataFrame, codebooks: DataFrame, m: Int, dim: Int): DataFrame = {
    val sd = subDim(m, dim)
    q.crossJoin(broadcast(packedBooks(codebooks)))
      .withColumn("_lut", transform(col("_books"), b => {
        val qs = slice(col("_qv"), b.getField("sub") * sd + 1, lit(sd))
        transform(b.getField("_cents"), c => VectorMath.dotPrecast(qs, c))
      }))
      .drop("_books")
  }

  /** ADC score of a (query `_lut`, candidate `codes`) pair: m lookups
    * summed left-assoc in subspace order (deterministic; exact over
    * integer-valued quantized codes). */
  private def adcScore(m: Int): Column = (0 until m).map { s =>
    element_at(element_at(col("_lut"), s + 1), element_at(col("codes"), s + 1) + 1)
  }.reduce(_ + _)

  /** ADC top-k: rank candidates by the PQ approximation of the inner
    * product, dot(q, x) ≈ Σ_s dot(q_s, centroid[codes[s]]). Each query
    * materializes its m×ks partial-dot lookup table once (map-side,
    * broadcast codebooks); the per-pair score is m `element_at` lookups
    * summed in subspace order (deterministic left-assoc chain — over
    * integer-valued quantized codes the sum is exact and engine-
    * independent). Queries broadcast; the encoded corpus streams at
    * m ints per row and never shuffles. */
  def adcTopK(queries: DataFrame, encoded: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int, dim: Int): DataFrame = {
    import graft.functions.TopK
    val q = withLut(queries.select(col(idCol).as("query_id"),
        VectorMath.precast(col(vecCol)).as("_qv")), codebooks, m, dim)
      .select(col("query_id"), col("_lut"))
    val c = graft.operators.FanOut(graft.operators.EvalBarrier(
      encoded.select(col(idCol).as("cand_id"), col("codes")), "codes"))
    // bounded-heap top-k, not a window: the flat scan scores the WHOLE
    // encoded corpus per query, and a row_number window would shuffle
    // every scored pair — still carrying its m×ks `_lut` array — into
    // one task per query and sort it there (measured as the dominant
    // cost of the 64× stress run, dwarfing the encode pass). The partial
    // aggregation reduces each (query, partition) to ≤ k (score, id)
    // pairs map-side, so the LUT column never shuffles at all. Output
    // contract identical to row_number (score desc, id asc).
    broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .withColumn("score", adcScore(m))
      .groupBy(col("query_id"))
      .agg(TopK.topKAgg(k, col("score"), col("cand_id")).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_pos", "_s")))
      .select(col("query_id"), col("_s.id").as("cand_id"),
        col("_s.score").as("score"), (col("_pos") + 1).cast("int").as("rank"))
  }

  /** IVFADC — the production ANN composition (Jégou et al. 2011, minus
    * residual encoding — see [[ivfPqResidualTopK]] for the full
    * construction): candidates are
    * coarse-quantized to [[Similarity.ivfAssignments]] cells AND
    * PQ-encoded in the same map pass, queries probe their `nProbe`
    * highest-cosine cells, and only the candidates assigned there are
    * ADC-scored. Cost per query drops from |corpus| LUT lookups to the
    * probed share, and the probed index streams at m ints + a cell id
    * per row. Each candidate lives in exactly one cell, so a (query,
    * candidate) pair is scored at most once — no dedup needed. The
    * cell join is a broadcast-hash equi-join on cell_id (queries×probes
    * broadcast); the corpus side never shuffles. The final top-k is a
    * window (unlike [[adcTopK]]'s bounded heap): the cell pruning has
    * already cut each query's candidates to the probed share, which is
    * the set a window can afford — at high nProbe over a huge corpus,
    * prefer the flat [[adcTopK]] whose heap form never shuffles scored
    * pairs. */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, m: Int, dim: Int): DataFrame = {
    val encoded = graft.operators.FanOut(graft.operators.EvalBarrier(
      pqEncode(
        Similarity.ivfAssignments(candidates, idCol, vecCol, centroids, dim),
        idCol, "_v", codebooks, m, dim, carryCols = Seq("cell_id"))
        .select(col(idCol).as("cand_id"), col("cell_id"), col("codes")),
      "codes"))
    val qPrep = queries.select(col(idCol).as("query_id"),
        VectorMath.precast(col(vecCol)).as("_qv"))
      .withColumn("_qn", VectorMath.normAuto(col("_qv"), dim))
    // LUT first, probe explosion after — the m×ks table is computed once
    // per query, not once per probed cell; probe selection is the shared
    // Similarity.probeCells kernel
    val q = Similarity.probeCells(withLut(qPrep, codebooks, m, dim),
        centroids, nProbe, dim)
      .select("query_id", "_lut", "cell_id")
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("cand_id").asc)
    broadcast(q).join(encoded, Seq("cell_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score", adcScore(m))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cell_id", "cand_id", "score", "rank")
  }

  /** Broadcast-shaped centroid side for residual computation: (cell_id,
    * `_c` double centroid). */
  private def centroidVecs(centroids: DataFrame): DataFrame =
    centroids.select(col("cell_id"),
      VectorMath.precast(col("centroid")).as("_c"))

  /** Adds `_r` = assigned vector − its cell centroid. One broadcast-hash
    * join on cell_id (centroids are broadcast-sized by construction);
    * the corpus side still never shuffles. */
  private def withResidual(assigned: DataFrame, centroids: DataFrame): DataFrame =
    assigned.join(broadcast(centroidVecs(centroids)), Seq("cell_id"))
      .withColumn("_r", zip_with(col("_v"), col("_c"), (x, c) => x - c))

  /** Residual codebooks for [[ivfPqResidualTopK]]: each sample is
    * assigned to its max-cosine cell and its RESIDUAL (sample − cell
    * centroid) is what the codebook slices quantize — the standard
    * IVFADC construction (Jégou et al. 2011 §IV): residuals are smaller
    * in magnitude than raw vectors, so the same ks codes spend their
    * resolution on the part the coarse quantizer didn't explain.
    *
    * The sample set must be DISJOINT from the centroid set: a centroid's
    * own residual is the zero vector, and an all-centroids sample set
    * degenerates every codebook to zeros. Integer-exactness is
    * preserved: int8 − int8 residuals are integer-valued doubles. */
  def residualCodebooks(samples: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, m: Int, dim: Int): DataFrame = {
    val assigned = withResidual(
      Similarity.ivfAssignments(samples, idCol, vecCol, centroids, dim),
      centroids)
    subspaceCodebooks(assigned.select(col(idCol), col("_r")), idCol, "_r", m, dim)
  }

  /** IVFADC with residual encoding — the full standard construction
    * ([[ivfPqTopK]] minus its documented simplification): candidates are
    * coarse-quantized to cells and their RESIDUALS are PQ-encoded
    * (codebooks from [[residualCodebooks]]); queries probe `nProbe`
    * cells and score
    *   dot(q, x) ≈ dot(q, c_cell) + Σ_s LUT_s[codes_s]
    * where the LUT is the query's partial dots against the RESIDUAL
    * codebooks. Because the inner product is linear, ONE LUT per query
    * serves every probed cell — the per-cell LUT rebuild the L2 form of
    * IVFADC needs does not arise here; only the exact scalar
    * dot(q, c_cell) is added per probe, computed once per (query, cell)
    * against the broadcast centroids. Same plan shape as [[ivfPqTopK]]:
    * queries×probes broadcast, corpus assigned+encoded in one map pass
    * and never shuffled, window top-k over the probed share. Exactness:
    * int8 inputs keep every dot and residual integer-valued, so the
    * whole pipeline hash-matches a DuckDB replay. */
  def ivfPqResidualTopK(queries: DataFrame, candidates: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, m: Int, dim: Int): DataFrame = {
    val assigned = withResidual(
      Similarity.ivfAssignments(candidates, idCol, vecCol, centroids, dim),
      centroids)
    val encoded = graft.operators.FanOut(graft.operators.EvalBarrier(
      pqEncode(assigned.select(col(idCol), col("cell_id"), col("_r")),
        idCol, "_r", codebooks, m, dim, carryCols = Seq("cell_id"))
        .select(col(idCol).as("cand_id"), col("cell_id"), col("codes")),
      "codes"))
    val qPrep = queries.select(col(idCol).as("query_id"),
        VectorMath.precast(col(vecCol)).as("_qv"))
      .withColumn("_qn", VectorMath.normAuto(col("_qv"), dim))
    // LUT once per query (residual codebooks), probes after; the probed
    // cell contributes its exact dot(q, centroid) term via the broadcast
    // centroid join
    val q = Similarity.probeCells(withLut(qPrep, codebooks, m, dim),
        centroids, nProbe, dim)
      .join(broadcast(centroidVecs(centroids)), Seq("cell_id"))
      .withColumn("_qc", VectorMath.dotPrecast(col("_qv"), col("_c")))
      .select("query_id", "_lut", "cell_id", "_qc")
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("cand_id").asc)
    broadcast(q).join(encoded, Seq("cell_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score", col("_qc") + adcScore(m))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cell_id", "cand_id", "score", "rank")
  }

  /** Long-form [[pqRefineStep]] output reassembled into the
    * (sub, code_id, centroid) shape the other operators consume — the
    * per-subspace analog of [[KMeansOps.toCentroidTable]]. */
  def toCodebookTable(longForm: DataFrame): DataFrame =
    longForm.groupBy("sub", "code_id")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean")))),
        s => s.getField("mean")).as("centroid"))

  /** One Lloyd refinement sweep over every subspace codebook: slice the
    * corpus into subspace s, run the exact-integer
    * [[KMeansOps.lloydStep]] against that subspace's codes, reassemble.
    * m driver-side iterations (m is 4–16, a plan-time constant), each a
    * single-shuffle job with ks·(dim/m) combiner state — the training
    * analog of [[pqEncode]]'s map pass. Feed int8-quantized vectors for
    * bit-reproducible centroids (same argument as [[KMeansOps]]). */
  def pqRefineStep(points: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dim: Int): DataFrame = {
    val sd = subDim(m, dim)
    (0 until m).map { s =>
      val sliced = points.select(col(idCol),
        slice(VectorMath.precast(col(vecCol)), s * sd + 1, sd).as("_sv"))
      val subBook = codebooks.filter(col("sub") === s)
        .select(col("code_id").as("cell_id"), col("centroid"))
      KMeansOps.lloydStep(sliced, idCol, "_sv", subBook, sd)
        .select(lit(s).as("sub"), col("cell_id").as("code_id"),
          col("pos"), col("n_points"), col("mean"))
    }.reduce(_ unionAll _)
  }
}
