package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Majority-vote label propagation (Raghavan et al. 2007) — the
  * community-detection baseline beside the family's other global
  * signals: [[ConnectedComponents]] finds REACHABILITY classes,
  * [[PageRank]] ranks within them, label propagation splits a connected
  * component into DENSELY-linked groups (domain clusters in a link
  * graph, co-purchase cliques, near-dup "families" coarser than the
  * pair threshold). Each round every vertex adopts its neighbors' most
  * frequent label.
  *
  * Classic LPA tie-breaks randomly and updates asynchronously — useless
  * for a verified pipeline. This form is SYNCHRONOUS (round r reads
  * only round r−1's labels) with the deterministic tie-break
  * (count DESC, label ASC), so a run hash-replays anywhere, at the
  * known cost that determinism always buys in LPA: bipartite regions
  * can oscillate rather than converge, which is why the operator takes
  * a fixed `rounds` budget instead of iterating to a fixed point (the
  * standard remedy; callers wanting convergence detection can compare
  * two successive calls).
  *
  * Scale shape: the symmetrized edge list is materialized ONCE
  * (eager localCheckpoint — the PageRank lesson: rebuilding the edge
  * join per round measured 3.6× on that operator), then each round is
  * one join of the vertex-sized label table to the edges, one
  * (dst, label) count with map-side partials, and one per-vertex argmax
  * window whose input is bounded by the vertex's DISTINCT neighbor
  * labels (≤ degree). Labels re-checkpoint per round, so lineage stays
  * O(1) and a 100-round run doesn't replan a 100-join tree. Every
  * vertex has ≥1 neighbor by construction (vertices come from edges),
  * so no vertex is ever message-less.
  */
object Communities {

  /** Symmetrized, de-duplicated, self-loop-free directed edge list —
    * the canonical form [[labelPropagation]] and [[modularity]] share,
    * so a labeling is always scored on exactly the graph that voted. */
  private[graft] def symmetrize(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionAll(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** @param edges undirected edge list — symmetrized and de-duplicated
    *               internally, self-loops dropped.
    * @return (node, label) after `rounds` synchronous votes; labels are
    *         initial vertex ids, so equal label = same community.
    *
    * Single-consumer contract: the returned labels checkpoint only every
    * 8th round (see [[labelPropagationOn]]), so consuming them MORE than
    * once re-executes up to 7 un-checkpointed vote rounds per extra
    * consumer. A caller that reads the labeling twice — e.g. scoring it
    * with [[modularity]], which joins labels on both edge endpoints —
    * must `localCheckpoint(true)` the result first (what the in-repo
    * vote-then-score path does via [[labelPropagationOn]] +
    * [[modularityOn]]). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame =
    labelPropagationOn(symmetrize(edges, srcCol, dstCol).localCheckpoint(true),
      rounds)

  /** [[labelPropagation]] over an ALREADY-symmetrized (and ideally
    * materialized) edge list — exposed so a caller that also scores the
    * labeling ([[modularityOn]]) shares ONE symmetrize/checkpoint instead
    * of re-deriving the edge construction per consumer. */
  private[graft] def labelPropagationOn(sym: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"need at least one round, got $rounds")
    // (An order-preserving dense-long recode of string vertex ids was
    // measured here and REVERTED: at sf0.1 the dict build + the four
    // translate joins cost ~2–3 s against ~1 s saved in the narrower
    // rounds. The vote loop stays in the caller's id domain.)
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    (1 to rounds).foreach { r =>
      // per-vertex argmax as a SECOND aggregation, not a window: the
      // deterministic tie-break (count DESC, label ASC) is exactly
      // min(struct(-count, label)) under struct ordering, and the
      // aggregate form partial-aggregates map-side and skips WindowExec's
      // per-partition sort — one less full-width sort per round, and the
      // node-keyed exchange carries one row per (node, distinct label)
      // partial instead of every (node, label, count) row.
      labels = sym
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("_c"))
        .groupBy("node")
        .agg(min(struct((-col("_c")).as("_nc"), col("label"))).as("_best"))
        .select(col("node"), col("_best.label").as("label"))
      // UNLIKE PageRank's ranks (read twice per round — must materialize
      // every round or the lineage doubles), each LPA round's labels
      // feed exactly ONE consumer (the next round's join), so the
      // lineage is linear and a materialization barrier per round buys
      // nothing but job-scheduling stalls. Checkpoint on an INTERVAL
      // purely to bound plan/optimizer size on long budgets (the
      // "100-round run doesn't replan a 100-join tree" rule, at 1/8 the
      // materialization cost); sym is a checkpointed leaf, so the
      // un-checkpointed rounds replay nothing.
      if (r % 8 == 0 && r < rounds) labels = labels.localCheckpoint(true)
    }
    labels
  }

  /** Newman modularity of a labeling over the same symmetrized graph the
    * propagation voted on: Q = Σ_c [e_c/2m − (deg_c/2m)²] — the standard
    * "is this clustering better than chance" audit (Q > 0 means
    * communities are denser inside than a degree-preserving random
    * rewiring; LPA famously returns the trivial one-community labeling
    * when the graph HAS no community structure, and Q ≈ 0 is how a
    * pipeline detects that, rather than trusting the label count).
    *
    * Exactness: with 2m the directed-symmetric edge count, e_c the
    * directed within-community edge count, and deg_c the per-community
    * degree sum, Q = (2m·Σe_c − Σdeg_c²) / (2m)² — an integer numerator
    * over an integer denominator, ONE double division, so the score
    * hash-replays. Long bounds: both products are ≤ (2m)², exact below
    * 2m ≈ 3·10⁹ directed edges; beyond that lift the two sums to
    * DECIMAL(38,0) (the [[graft.operators.Anomaly]] second-moment
    * device).
    *
    * Scale shape: two label joins onto the edge list (vertex-sized
    * broadcast or shuffle, AQE's call), one global count pair, one
    * community-keyed degree aggregation — no per-pair or per-community²
    * stage anywhere.
    *
    * Output: one row (two_m, e_in, sum_deg_sq, modularity). */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String): DataFrame =
    modularityOn(symmetrize(edges, srcCol, dstCol), labels, nodeCol, labelCol)

  /** [[modularity]] over an ALREADY-symmetrized edge list — pair to
    * [[labelPropagationOn]]: a vote-then-score caller passes the same
    * materialized `sym` to both and the edge construction (join +
    * distinct + union) executes once instead of once per consumer. */
  private[graft] def modularityOn(sym: DataFrame, labels: DataFrame,
      nodeCol: String, labelCol: String): DataFrame = {
    val l = labels.select(col(nodeCol).as("node"), col(labelCol).as("label"))
    val e = sym
      .join(l.select(col("node").as("src"), col("label").as("_la")), Seq("src"))
      .join(l.select(col("node").as("dst"), col("label").as("_lb")), Seq("dst"))
    val totals = e.agg(
      count(lit(1)).as("two_m"),
      sum(when(col("_la") === col("_lb"), 1L).otherwise(0L)).as("e_in"))
    val degSq = e.groupBy("_la").agg(count(lit(1)).as("_deg_c"))
      .agg(sum(col("_deg_c") * col("_deg_c")).as("sum_deg_sq"))
    totals.crossJoin(degSq)
      .withColumn("modularity",
        (col("two_m") * col("e_in") - col("sum_deg_sq")).cast("double")
          / (col("two_m").cast("double") * col("two_m").cast("double")))
  }

  /** Rounds-bounded k-core peel: repeatedly drop vertices whose degree
    * in the CURRENT graph is < k, for `rounds` synchronous rounds — the
    * density floor beside [[labelPropagation]]'s communities (a link-farm
    * / boilerplate-hub detector on web graphs: the k-core keeps only
    * nodes embedded in mutually dense neighborhoods, however high their
    * raw degree to already-peeled fringe). The declared round budget is
    * the same horizon contract as [[ShortestPaths.bounded]]: the true
    * k-core is this peel's fixpoint, and on a 100 TB graph the caller
    * declares how many peel waves the job buys (each round removes a
    * full "shell"; most web-scale graphs settle the bulk of the peel in
    * a handful of rounds). Two successive calls with rounds r and r+1
    * returning identical output certify the fixpoint was reached.
    *
    * Scale shape per round: one degree count over the live edge set
    * (map-side combined) and two semi-joins to keep edges with both
    * endpoints alive — the edge set only shrinks. Each round's edges
    * are re-localCheckpoint'ed so lineage stays O(1).
    *
    * @return (node, degree) for vertices alive after `rounds` peels,
    *         with their degree in the surviving subgraph. */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(rounds >= 1, s"need at least one round, got $rounds")
    var cur = symmetrize(edges, srcCol, dstCol).localCheckpoint(true)
    var r = 0
    while (r < rounds && !cur.isEmpty) {
      r += 1
      cur = peelRound(cur, k).localCheckpoint(true)
    }
    cur.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
  }

  /** One peel wave on a symmetrized edge set: degree count (map-side
    * combined), keep nodes with degree ≥ k, and two semi-joins that drop
    * edges touching a peeled endpoint. Exposed separately because the
    * loop checkpoints each wave (O(1) lineage), which hides the wave's
    * plan from the returned DataFrame — PlanAuditSpec pins this shape
    * directly. */
  private[graft] def peelRound(cur: DataFrame, k: Int): DataFrame = {
    val alive = cur.groupBy("src").agg(count(lit(1)).as("_deg"))
      .filter(col("_deg") >= k).select("src")
    cur.join(alive, Seq("src"), "left_semi")
      .join(alive.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
      .select("src", "dst")
  }
}
