package graft

import graft.graph.Triangles

/** Triangle counting on graphs with known counts. */
class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def counts(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Triangles.nodeTriangles(edges.toDF("x", "y"), "x", "y")
      .as[(Long, Long)].collect().toMap

  test("K4: every node in 3 triangles") {
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(counts(k4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("triangle with pendant edge, dups and reversed orientations collapse") {
    val g = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 4L), (1L, 1L))
    assert(counts(g) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("two triangles sharing an edge") {
    // {1,2,3} and {2,3,4}: nodes 2,3 in 2 triangles each
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(counts(g) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("simpleEdges pins its layout to session parallelism") {
    // the dedup exchange is keyed-repartitioned at defaultParallelism so
    // the eager checkpoints in nodeTriangles freeze a session-wide layout
    // instead of an AQE-coalesced single partition (every downstream
    // consumer would then run serial) — guard the partition count
    val e = Triangles.simpleEdges(
      Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("x", "y"), "x", "y")
    assert(e.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("matches naive enumeration on a random graph") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 400).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val got = counts(edges)
    // naive: id-ordered path enumeration on the simple graph
    val simple = edges.collect { case (x, y) if x != y =>
      (math.min(x, y), math.max(x, y)) }.toSet
    val naive = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- simple; (b2, c) <- simple if b2 == b; if simple((a, c))) {
      naive(a) += 1; naive(b) += 1; naive(c) += 1
    }
    assert(got == naive.toMap)
  }
}
