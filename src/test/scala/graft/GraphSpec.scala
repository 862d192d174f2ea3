package graft

import org.apache.spark.sql.functions.{col, lit}
import graft.graph.ConnectedComponents

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // two triangles + an isolated pair + a bridge-free singleton edge
  private lazy val edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L),
    (10L, 11L), (11L, 12L),
    (20L, 21L)).toDF("src", "dst")

  test("local union-find and distributed label propagation agree") {
    val local = ConnectedComponents.localUnionFind(edges)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dist = ConnectedComponents.labelPropagation(edges)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(local == dist)
    assert(local == Seq((1L,1L),(2L,1L),(3L,1L),(10L,10L),(11L,10L),(12L,10L),(20L,20L),(21L,20L)))
  }

  test("alternating star agrees with union-find on the fixed graph") {
    val star = ConnectedComponents.alternatingStar(edges)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(star == Seq((1L,1L),(2L,1L),(3L,1L),(10L,10L),(11L,10L),(12L,10L),(20L,20L),(21L,20L)))
  }

  test("alternating star handles long chains and random graphs like union-find") {
    // a 60-node path (worst case for O(diameter) propagation) with ids
    // descending so min-labels must travel the full chain, plus a seeded
    // random graph
    val chain = (0 until 59).map(i => (100L - i, 100L - i - 1))
    val rnd = new scala.util.Random(7)
    val random = (0 until 120).map(_ => (rnd.nextInt(40).toLong + 200L, rnd.nextInt(40).toLong + 200L))
      .filter { case (a, b) => a != b }
    val df = (chain ++ random).toDF("src", "dst")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(canon(ConnectedComponents.alternatingStar(df)) ==
      canon(ConnectedComponents.localUnionFind(df)))
  }

  test("components cuts over to alternating star just above localThreshold") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = canon(ConnectedComponents.localUnionFind(edges))
    val n = edges.count()
    // at the threshold the edge list is read once and labelled on the
    // driver: the result is a local table
    val local = ConnectedComponents.components(edges, localThreshold = n)
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(canon(local) == expected)
    // one edge over: the distributed fixpoint, whose result is an aggregate
    val star = ConnectedComponents.components(edges, localThreshold = n - 1)
    assert(star.queryExecution.analyzed.exists(_.isInstanceOf[Aggregate]))
    assert(!star.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(canon(star) == expected)
  }

  test("grid kNN equals brute force when cellSize covers the k-th-neighbor radius") {
    import graft.graph.Knn
    import org.apache.spark.sql.functions.col
    // deterministic 2-D scatter: enough spread that cells actually prune,
    // clustered enough that neighbors share cells
    val rng = new scala.util.Random(42)
    val pts = (0 until 120).map(i =>
      (i.toLong, rng.nextDouble() * 10, rng.nextDouble() * 10)).toDF("id", "x", "y")
    val vecs = pts.select(col("id"),
      org.apache.spark.sql.functions.array(col("x"), col("y")).as("v"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("src_id"), r.getAs[Long]("dst_id"), r.getAs[Int]("rank"))).toSet
    val brute = Knn.bruteForce(vecs, "id", "v", k = 3, dim = 2)
    // exactness precondition, measured not assumed: cellSize must be >= the
    // largest 3rd-neighbor distance in this fixture
    val maxKDist = brute.filter(col("rank") === 3)
      .agg(org.apache.spark.sql.functions.max("dist")).head().getDouble(0)
    val cellSize = 3.0
    assert(maxKDist <= cellSize,
      s"fixture violates the grid exactness precondition: $maxKDist > $cellSize")
    val grid = Knn.gridKnn(pts, "id", Seq("x", "y"), k = 3, cellSize = cellSize)
    assert(rows(grid) == rows(brute),
      "grid kNN must return exactly the brute-force answer under the precondition")
  }

  test("island ratios filter and order") {
    val comp = ConnectedComponents.components(edges)
    val islands = ConnectedComponents.islandRatios(comp, minRatio = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(islands.toSeq == Seq((1L, 3L), (10L, 3L))) // 3/8 each; pair 2/8 < 0.3 dropped
  }

  test("pagerank: cycle is stationary at the exact fixed point; hubs outrank leaves") {
    import graft.graph.PageRank
    // a 2-cycle is the uniform stationary distribution: every iteration
    // must reproduce r = scale/2 EXACTLY (integer arithmetic, no drift)
    val cycle = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = PageRank.pageRank(cycle, "src", "dst", iters = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a" -> 500000000000L, "b" -> 500000000000L))
    // bidirected star: the hub receives three full leaf ranks per round,
    // each leaf a third of the hub's — hub must strictly outrank leaves,
    // and leaves tie exactly (identical integer computation)
    val star = Seq(("h", "l1"), ("h", "l2"), ("h", "l3"),
      ("l1", "h"), ("l2", "h"), ("l3", "h")).toDF("src", "dst")
    val sr = PageRank.pageRank(star, "src", "dst", iters = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(sr("h") > sr("l1"))
    assert(sr("l1") == sr("l2") && sr("l2") == sr("l3"))
    // bidirected graphs leak at most the integer-division dust: total
    // mass stays within 1e-9 of scale across all rounds
    assert(math.abs(sr.values.sum - 1000000000000L) < 1000L)
  }

  test("label propagation: two cliques with one bridge resolve to two communities") {
    import graft.graph.Communities
    // K4 ∪ K4 joined by a single bridge (4–5): the bridge endpoints each
    // see 3 in-clique votes vs 1 cross votes, so the cliques keep
    // separate labels — the density split CC cannot make (CC = one
    // component here).
    val k4a = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val k4b = Seq((5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L))
    val edges = (k4a ++ k4b :+ (4L, 5L)).toDF("src", "dst")
    val out = Communities.labelPropagation(edges, "src", "dst", rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == (1L to 8L).toSet)
    val ca = Set(1L, 2L, 3L, 4L).map(out)
    val cb = Set(5L, 6L, 7L, 8L).map(out)
    assert(ca.size == 1 && cb.size == 1 && ca != cb, out.toString)
    // determinism: a rerun yields the identical labeling
    val out2 = Communities.labelPropagation(edges, "src", "dst", rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(out2 == out)
  }

  test("modularity: the bridge split scores 286/676 exactly; the trivial labeling scores 0") {
    import graft.graph.Communities
    val k4a = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val k4b = Seq((5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L))
    val edges = (k4a ++ k4b :+ (4L, 5L)).toDF("src", "dst")
    val labels = Communities.labelPropagation(edges, "src", "dst", rounds = 4)
    // 2m = 26 directed edges, e_in = 24 (only the 2 bridge edges cross),
    // deg_c = 13 per community → Q = (26·24 − 2·13²)/26² = 286/676
    val m = Communities.modularity(edges, "src", "dst", labels, "node", "label")
      .select("two_m", "e_in", "sum_deg_sq", "modularity")
      .as[(Long, Long, Long, Double)].head()
    assert(m == ((26L, 24L, 338L, 286.0 / 676.0)), m.toString)
    // one-community labeling: e_in = 2m and Σdeg² = (2m)² → Q ≡ 0, the
    // signal that a labeling found NO structure
    val trivial = labels.select(col("node"), lit(0L).as("label"))
    val q0 = Communities.modularity(edges, "src", "dst", trivial, "node", "label")
      .select("modularity").as[Double].head()
    assert(q0 == 0.0)
  }

  test("label propagation: self-loops dropped, single edge keeps min-label tie-break") {
    import graft.graph.Communities
    val edges = Seq((1L, 1L), (1L, 2L)).toDF("src", "dst")
    // round 1: node 1 sees only {2}, node 2 only {1} → they swap; the
    // self-loop must NOT let node 1 vote for itself
    val r1 = Communities.labelPropagation(edges, "src", "dst", rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L))
    // round 2: swap again — the documented bipartite oscillation
    val r2 = Communities.labelPropagation(edges, "src", "dst", rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 1L, 2L -> 2L))
  }

  private def sp(edges: Seq[(Long, Long)], sources: Seq[Long], maxHops: Int,
      weights: Map[(Long, Long), Long] = Map.empty) = {
    import graft.graph.ShortestPaths
    val e = edges.map { case (a, b) => (a, b, weights.getOrElse((a, b), 1L)) }
      .toDF("src", "dst", "w")
    val srcDf = sources.toDF("node")
    ShortestPaths.bounded(e, srcDf, maxHops,
        weightCol = if (weights.isEmpty) None else Some("w"))
      .as[(Long, Long)].collect().toMap
  }

  test("bounded BFS: hop distances, unreachable absent, hop cap binds") {
    // directed path 1→2→3→4 with a shortcut 1→3, plus unreachable 9→10
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (9L, 10L))
    assert(sp(edges, Seq(1L), maxHops = 8) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    // cap at 1 hop: node 4 (dist 2) not yet discovered
    assert(sp(edges, Seq(1L), maxHops = 1) == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
    // maxHops = 0: just the seed set at distance 0
    assert(sp(edges, Seq(1L), maxHops = 0) == Map(1L -> 0L))
  }

  test("bounded BFS: multi-source min and duplicate seeds collapse") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 3L))
    assert(sp(edges, Seq(1L, 5L, 5L), maxHops = 4) ==
      Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("personalized pagerank: seed-only restart, distance decay, all-seeds ≡ uniform") {
    import graft.graph.PageRank
    // directed a→b, seed {a}, d=0.85, scale small for hand arithmetic:
    // r0: a=10^6, base_a=1.5e5; b=0
    // round1: b gets (85·10^6)//100 = 850000; a = 150000 (no in-edges)
    // round2: b gets (85·150000)//100 = 127500; a = 150000
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val seedA = Seq(1L).toDF("node")
    val got = PageRank.personalized(e, "src", "dst", seedA, iters = 2,
        scale = 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 150000L, 2L -> 127500L), got.toString)
    // unreached node holds exactly 0; isolated seed still emits a row
    val e2 = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val got2 = PageRank.personalized(e2, "src", "dst",
        Seq(1L, 9L).toDF("node"), iters = 2, scale = 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(got2(3L) == 0L && got2(4L) == 0L)
    assert(got2.contains(9L) && got2(9L) > 0L) // restart mass, no edges
    // seeds = every node ⇒ identical to uniform pageRank, rank for rank
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val allNodes = Seq(1L, 2L, 3L).toDF("node")
    val uni = PageRank.pageRank(ring, "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    val per = PageRank.personalized(ring, "src", "dst", allNodes, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(uni == per, s"$uni vs $per")
  }

  test("kCorePeel: peel cascades shell by shell up to the declared rounds") {
    import graft.graph.Communities
    // a 5-clique (every node degree 4) + node 6 hanging off {1,2,3,7}
    // + pendant 7: peeling at k=4 removes 7 (deg 1) in wave 1, which
    // drops 6 to deg 3 so wave 2 removes it, leaving the clique
    val clique = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val edges = (clique ++ Seq((6L, 1L), (6L, 2L), (6L, 3L), (6L, 7L)))
      .toDF("src", "dst")
    def run(rounds: Int) = Communities.kCorePeel(edges, "src", "dst", k = 4, rounds)
      .as[(Long, Long)].collect().toMap
    // one wave: 7 is gone, 6 survives but its recomputed degree is 3 —
    // the declared-horizon contract (r and r+1 agreeing certifies fixpoint)
    assert(run(1) == Map(1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 4L, 5L -> 4L, 6L -> 3L))
    assert(run(2) == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 4L))
    assert(run(3) == run(2)) // fixpoint reached
    // k above the clique degree: everything peels, result is empty
    assert(Communities.kCorePeel(edges, "src", "dst", k = 5, rounds = 3).isEmpty)
  }

  test("bounded shortest path: cheap 2-hop beats expensive direct edge") {
    // 1→3 costs 10 direct, but 1→2→3 costs 2; a later round must IMPROVE
    // node 3's provisional distance, not keep first-discovery
    val edges = Seq((1L, 3L), (1L, 2L), (2L, 3L))
    val w = Map((1L, 3L) -> 10L, (1L, 2L) -> 1L, (2L, 3L) -> 1L)
    assert(sp(edges, Seq(1L), maxHops = 4, w) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // with only 1 hop allowed the expensive direct edge is the best path
    assert(sp(edges, Seq(1L), maxHops = 1, w) == Map(1L -> 0L, 2L -> 1L, 3L -> 10L))
  }
}
