package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD

/** Parallelism floor for pairwise (nested-loop / theta-join) operators.
  *
  * A broadcast nested-loop join parallelizes only over the streamed side's
  * partitions. A catalog-sized input read from one small parquet file
  * arrives as ONE partition, so an all-pairs comparison that should fan out
  * across the cluster runs as a single task. Repartitioning the streamed
  * side up to the cluster's default parallelism fixes that; inputs that
  * already have enough partitions (the 100 TB case) pass through untouched,
  * so this never *shrinks* a large scan.
  */
object FanOut {

  /** Repartition `df` to the session's default parallelism unless its
    * estimated scan width already reaches it. Row-set identical — only
    * the physical layout changes.
    *
    * The width estimate comes from the ANALYZED plan's size statistics
    * (file-listing bytes / maxPartitionBytes — the same arithmetic the
    * file scan uses to split), so deciding costs no physical planning, no
    * RDD conversion, and leaves AQE free to re-plan the actual exchange
    * (the old `df.rdd.getNumPartitions` probe forced a full plan compile
    * per wrapped input and read the pre-AQE count).
    *
    * Plans with NO stats report `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue) — i.e. "unknown", not "huge". Treating that as
    * already-wide would skip the fan-out exactly when it knows nothing
    * (e.g. an RDD-backed input that really is 1 partition), so unknown
    * stats fall back to the partition-count probe.
    *
    * A checkpoint (or any RDD-backed frame) seen through projections and
    * filters has its width at hand — the RDD's partition count, no
    * planning needed — and that decides: a small checkpoint already laid
    * out across the session is not re-spread (a byte estimate would
    * round-robin it again, sort included). */
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val wide = rddWidth(df.queryExecution.analyzed) match {
      case Some(w) => w >= target
      case None =>
        val maxPartitionBytes = org.apache.spark.network.util.JavaUtils
          .byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
        val defaultSize = BigInt(org.apache.spark.network.util.JavaUtils
          .byteStringAsBytes(spark.conf.get(
            "spark.sql.defaultSizeInBytes", Long.MaxValue.toString)))
        val estBytes = df.queryExecution.analyzed.stats.sizeInBytes
        // stats unknown — pay the physical probe rather than guess serial
        if (estBytes >= defaultSize) df.rdd.getNumPartitions >= target
        else estBytes >= BigInt(target) * maxPartitionBytes
    }
    if (wide) df else df.repartition(target)
  }

  private def rddWidth(plan: LogicalPlan): Option[Int] = plan match {
    case r: LogicalRDD => Some(r.rdd.getNumPartitions)
    case Project(_, child) => rddWidth(child)
    case Filter(_, child) => rddWidth(child)
    case _ => None
  }
}
