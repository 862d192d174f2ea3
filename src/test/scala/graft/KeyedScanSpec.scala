package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llmops.{Packing, TextStats}
import graft.streaming.ChangePoint
import graft.trajectory.TrajectoryOps

/** Partition invariance for every caller of the keyed sorted-scan kernel
  * (`graft.operators.KeyedScan`): each key's rows are spread across many
  * input partitions, and the scan's output must not depend on how the
  * input or the shuffle is partitioned — state resets at every key
  * boundary and never leaks between keys sharing a partition. */
class KeyedScanSpec extends SparkSpec {
  import spark.implicits._

  private val rows = {
    val rnd = new scala.util.Random(11)
    for (u <- 1L to 20L; i <- 1L to 50L)
      yield (u, i, rnd.nextInt(1000) / 100.0, 1L + rnd.nextInt(200))
  }

  private val callers: Seq[(String, DataFrame => DataFrame)] = Seq(
    "rateClamp" -> (df => TrajectoryOps.rateClamp(df, "u", "i", "x", maxDelta = 0.5)),
    "rateClampOrdered" ->
      (df => TrajectoryOps.rateClampOrdered(df, "u", Seq("i"), "x", maxDelta = 0.5)),
    "ewmaOrdered" -> (df => TrajectoryOps.ewmaOrdered(df, "u", Seq("i"), "x", alpha = 0.25)),
    "radialSimplify" -> (df => TrajectoryOps.radialSimplify(df, "u", Seq("i"), "x", eps = 2.0)),
    "cusum" -> (df => ChangePoint.cusum(df, "u", Seq("i"), "x", k = 5.0, h = 8.0)),
    "packSequences" -> (df => TextStats.packSequences(df, "u", "i", "n", maxTokens = 300)),
    "packGreedy" -> (df => Packing.packGreedy(df, "i", "n", "u", capacity = 300)))

  /** The caller's output, rows sorted by (key, position/order). */
  private def run(f: DataFrame => DataFrame, inputParts: Int,
      shuffleParts: Int): Seq[org.apache.spark.sql.Row] = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, shuffleParts.toString)
    try {
      val out = f(rows.toDF("u", "i", "x", "n").repartition(inputParts))
      out.orderBy(out.columns(0), out.columns(1)).collect().toSeq
    } finally spark.conf.set(key, prev)
  }

  test("keyed-scan fixture: every key spans several input partitions") {
    val spread = rows.toDF("u", "i", "x", "n").repartition(17)
      .select(col("u"), spark_partition_id().as("p")).distinct()
      .groupBy("u").count().select(min("count")).as[Long].head()
    assert(spread > 1)
  }

  for ((name, f) <- callers)
    test(s"$name: series isolated across keys and invariant to input partitioning") {
      val one = run(f, inputParts = 1, shuffleParts = 1)
      assert(one.size == rows.size)
      assert(run(f, inputParts = 17, shuffleParts = 5) == one)
    }
}
