package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** E15 — connected components / island analysis (reference:
  * navmesh_connectivity.py:157-207: BFS islands over KNN edges).
  *
  * Every form returns (node, component = min node id reachable), one row
  * per distinct node of an undirected (src, dst) edge list:
  *  - [[unionFind]] / [[localUnionFind]]: union-find on the driver over a
  *    collected edge list — one read, no per-round job latency; the
  *    reference's in-memory BFS at its ≤200-sample scale;
  *  - [[alternatingStar]]: the distributed large-star/small-star fixpoint,
  *    O(log n) rounds, for edge tables that don't fit one machine;
  *  - [[labelPropagation]]: plain min-label propagation, O(diameter)
  *    rounds — the simple distributed baseline the others are checked
  *    against.
  * [[components]] picks between the first two by edge count.
  */
object ConnectedComponents {

  /** Size-adaptive CC: small edge sets run union-find on the driver;
    * large edge sets use the distributed alternating-star fixpoint
    * (O(log n) rounds vs the O(diameter) of plain label propagation — the
    * difference between ~40 and ~10⁶ rounds on a chain-shaped dedup
    * graph). The cutover reads at most `localThreshold + 1` edges to the
    * driver in one `limit` collect; at or below the threshold those rows
    * ARE the edge list, so the local branch reads the input only once. */
  def components(edges: DataFrame, localThreshold: Long = 1000000L): DataFrame = {
    val head = longEdges(edges).limit((localThreshold + 1).toInt).collect()
    if (head.length <= localThreshold) labelled(edges, head)
    else alternatingStar(edges)
  }

  /** Driver-side union-find over a collected edge list; returns the same
    * (node, component=min reachable id) contract as [[labelPropagation]]. */
  def localUnionFind(edges: DataFrame): DataFrame =
    labelled(edges, longEdges(edges).collect())

  private def longEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))

  private def labelled(edges: DataFrame, rows: Array[Row]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    unionFind(rows.map(r => (r.getLong(0), r.getLong(1)))).toDF("node", "component")
  }

  /** Union-find (union toward the smaller root, path compression) over an
    * edge list held on the driver: (node, component = min reachable id)
    * for every node that has an edge, sorted by node. */
  private[graph] def unionFind(edges: Iterable[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b); union(a, b)
    }
    parent.keys.toSeq.sorted.map(nd => (nd, find(nd)))
  }

  /** @param edges (src, dst) undirected edge list (any orientation)
    * @return (node, component) where component = min node id reachable */
  def labelPropagation(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    val nodes = sym.select(col("src").as("node")).distinct()
    var labels = nodes.withColumn("component", col("node")).persist()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = sym
        .join(labels, sym("dst") === labels("node"))
        .groupBy(sym("src").as("node"))
        .agg(min(col("component")).as("_nbr"))
      val updated = labels.join(neighborMin, Seq("node"), "left")
        .withColumn("_new", least(col("component"), coalesce(col("_nbr"), col("component"))))
      val changed = updated.filter(col("_new") < col("component")).limit(1).count()
      val next = updated.select(col("node"), col("_new").as("component")).persist()
      labels.unpersist()
      labels = next
      converged = changed == 0
      iter += 1
    }
    sym.unpersist()
    labels
  }

  /** Alternating large-star/small-star CC (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round rewires
    * every node's neighbors toward the minimum id in its closed
    * neighborhood — large-star moves the strictly-larger neighbors,
    * small-star the rest — collapsing chains geometrically, so the
    * fixpoint arrives in O(log n) rounds regardless of graph diameter
    * (plain min-label propagation needs O(diameter) rounds: a 10⁶-hop
    * near-dup chain would need 10⁶ shuffles).
    *
    * Each half-round is one groupBy + one join on the SAME key (src), so
    * a round is two shuffle stages over the current edge set; the edge
    * set only shrinks (toward one star per component). Convergence is a
    * scalar (count, xor-hash) fingerprint comparison per round — no
    * driver-side edge materialization at any point.
    *
    * @return (node, component = min node id reachable), one row per
    *         distinct node of the input edge list — the same contract as
    *         [[localUnionFind]] / [[labelPropagation]]. */
  def alternatingStar(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // one star step: for every node u with neighbor multiset N(u) (both
    // orientations), m = min(N(u) ∪ {u}); large moves {v ∈ N(u) | v > u}
    // to m, small moves {v ∈ N(u) | v ≤ u, v ≠ m} ∪ {u} to m.
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val nbrs = e.select(col("src"), col("dst"))
        .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = nbrs.groupBy("src")
        .agg(least(min(col("dst")), first(col("src"))).as("_m"))
      val attached = nbrs.join(mins, Seq("src"))
      val moved =
        if (large) attached.filter(col("dst") > col("src"))
          .select(col("dst").as("src"), col("_m").as("dst"))
        else attached.filter(col("dst") <= col("src") && col("dst") =!= col("_m"))
          .select(col("dst").as("src"), col("_m").as("dst"))
          .unionByName(mins.select(col("src"), col("_m").as("dst")))
      moved.filter(col("src") =!= col("dst")).distinct()
    }

    // the node universe must be captured BEFORE rewiring: star rounds
    // erase fully-collapsed nodes from the edge set
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
      .persist()
    nodes.count()

    // localCheckpoint (eager), NOT persist: a star step references its
    // input ~6 times, so without lineage truncation the logical plan
    // grows ~36× per round and analysis time explodes exponentially —
    // persist caches execution but the analyzer still walks the full
    // history. Checkpointing materializes each round's (shrinking) edge
    // set on executors and restarts the plan from it.
    var cur = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var fp = fingerprint(cur)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = star(star(cur, large = true), large = false)
        .localCheckpoint(true)
      val nfp = fingerprint(next)
      cur = next
      converged = nfp == fp
      fp = nfp
      iter += 1
    }
    // at the fixpoint the edge set is a star forest: (v, root) per
    // non-root node; roots and isolated nodes label themselves. The min
    // aggregate guarantees one row per node even if maxIter cut the loop
    // before the forest fully settled.
    val out = nodes.join(cur.withColumnRenamed("src", "node"), Seq("node"), "left")
      .groupBy("node")
      .agg(min(coalesce(col("dst"), col("node"))).as("component"))
    nodes.unpersist()
    out
  }

  /** A9 — island sizes + ratio of total, keep ratio ≥ `minRatio`, largest
    * first (reference: navmesh_connectivity.py:157-207). */
  def islandRatios(components: DataFrame, minRatio: Double): DataFrame = {
    val total = components.count().toDouble
    components.groupBy("component")
      .agg(count(lit(1)).as("size"))
      .withColumn("ratio", col("size").cast("double") / total)
      .filter(col("ratio") >= minRatio)
      .orderBy(col("size").desc, col("component").asc)
  }
}
