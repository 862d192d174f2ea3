package graft.tools

import org.apache.spark.sql.SparkSession

/** Scaled streaming-attribution measurement — the 64× row for the
  * stream-stream join under RocksDB that the batch-side attribution
  * already has. A rate source is capacity-bound, so "64×" scales the
  * thing that actually grows with the corpus: the KEY SPACE (watermark
  * state rows per store), 100 k → 6.4 M, while the measured quantity
  * stays sustained rows/s over post-warmup trigger-execution time
  * (StreamBench accounting). GC time and peak heap are reported beside
  * the rate — state-store pressure is the failure mode this row watches.
  *
  * Usage: runMain graft.tools.StressStream [seconds] [nKeys]
  */
object StressStream {

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  private def peakHeapGb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / 1e9
  }

  def main(args: Array[String]): Unit = {
    val seconds = if (args.length > 0) args(0).toInt else 45
    val nKeys = if (args.length > 1) args(1).toInt else 6400000
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-stress-stream").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.streaming.StateBackends.rocksDb.foreach { case (k, v) =>
      spark.conf.set(k, v) }
    spark.conf.set("spark.sql.streaming.stopTimeout", "30s")
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    val rate = graft.streaming.StreamBench.attributionThroughput(
      spark, seconds = math.max(seconds, 30), nKeys = nKeys)
    val wallSec = (System.nanoTime() - t0) / 1e9
    val gcSec = (gcMillis() - gc0) / 1000.0
    val line = String.format(java.util.Locale.ROOT,
      """{"attribution_rows_per_sec": %.0f, "n_keys": %d, "wall_sec": %.1f, "gc_sec": %.2f, "peak_heap_gb": %.2f, "backend": "rocksdb"}""",
      Double.box(rate), Integer.valueOf(nKeys), Double.box(wallSec),
      Double.box(gcSec), Double.box(peakHeapGb()))
    try spark.stop()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[stress-stream] spark.stop failed: ${e.getMessage}") }
    println(line)
  }
}
