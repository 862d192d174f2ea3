package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Funnel
import graft.streaming.TaskStateMachine.TaskEvent

/** Streaming micro-benchmark: sustained rows/s of the two stateful
  * streaming operators with a real throughput requirement (the reference's
  * queue surface alarms on depth > 1000 — structure.md), measured under a
  * rate source on the RocksDB state backend.
  *
  * Throughput is computed as processed rows / trigger-EXECUTION time (not
  * wall time), so the number approximates the operator's capacity even
  * when the source rate is below it. Keys cycle through a bounded id
  * space: the task lifecycle reaches
  * `completed` and frees its state slot, so state size stays O(live keys)
  * for the whole run — the same bounded-state claim the operators make.
  *
  * Reported per query as processed rows / trigger-execution time, summed
  * over post-warmup micro-batches (the first two batches pay source and
  * state-store cold start).
  */
object StreamBench {

  private def measure(out: Dataset[_], name: String, seconds: Int): Double = {
    val dir = Files.createTempDirectory(s"graft-sbench-$name").toString
    measureStarted(out.writeStream.format("noop")
      .option("checkpointLocation", dir).start(), seconds)
  }

  /** Post-warmup rows/s of an already-started query — the shared
    * accounting for both the noop-sink operators and sinks that do their
    * own per-batch work ([[registryIngestThroughput]]'s foreachBatch). */
  private def measureStarted(q: org.apache.spark.sql.streaming.StreamingQuery,
      seconds: Int): Double = {
    try {
      // batch 0 swallows the accumulated backlog plus source/state-store
      // cold start, so it's excluded; wait (bounded) until ≥3 post-warmup
      // batches exist rather than sleeping blind — under backlog a single
      // batch can outlast any fixed sleep and leave zero samples
      val deadline = System.nanoTime() + seconds * 3 * 1000000000L
      def prog = q.recentProgress.filter(_.batchId >= 1)
      while (prog.length < 3 && System.nanoTime() < deadline)
        Thread.sleep(500)
      val samples = prog
      val rows = samples.map(_.numInputRows).sum
      val execMs = samples.map(p =>
        p.durationMs.getOrDefault("triggerExecution", 0L).toDouble).sum
      if (execMs > 0) rows / (execMs / 1000.0) else 0.0
    } finally {
      q.stop()
      q.awaitTermination()
    }
  }

  /** Rate rows → task lifecycle events: each task id cycles
    * queued → assigned → rendering → completed (terminal frees the state
    * slot), keeping live state bounded while every row hits the state
    * machine. */
  def taskEventStream(spark: SparkSession, rowsPerSec: Long,
      nKeys: Int): Dataset[TaskEvent] = {
    import spark.implicits._
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSec)
      .option("numPartitions", 8).load()
      .select(
        concat(lit("t"), pmod(col("value"), lit(nKeys))).as("taskId"),
        element_at(
          array(lit("queued"), lit("assigned"), lit("rendering"), lit("completed")),
          (pmod(col("value") / nKeys, lit(4)) + 1).cast("int")).as("status"),
        concat(lit("w"), pmod(col("value"), lit(64))).as("workerId"),
        col("value").as("tsMillis"),
        lit("").as("error"))
      .as[TaskEvent]
  }

  def taskStatesThroughput(spark: SparkSession, seconds: Int = 12,
      rowsPerSec: Long = 500000L, nKeys: Int = 100000): Double =
    measure(TaskStateMachine.taskStates(
      taskEventStream(spark, rowsPerSec, nKeys)), "taskstates", seconds)

  private val FunnelStages = Seq("visit", "signup", "activate", "purchase")

  def funnelEventStream(spark: SparkSession, rowsPerSec: Long,
      nKeys: Int): Dataset[Funnel.FunnelEvent] = {
    import spark.implicits._
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSec)
      .option("numPartitions", 8).load()
      .select(
        concat(lit("e"), pmod(col("value"), lit(nKeys))).as("entity"),
        element_at(array(FunnelStages.map(lit): _*),
          (pmod(col("value") / nKeys, lit(FunnelStages.length)) + 1).cast("int"))
          .as("etype"),
        col("value").as("tsMillis"))
      .as[Funnel.FunnelEvent]
  }

  def funnelThroughput(spark: SparkSession, seconds: Int = 12,
      rowsPerSec: Long = 500000L, nKeys: Int = 100000): Double =
    measure(Funnel.deepestStageStream(
      funnelEventStream(spark, rowsPerSec, nKeys), FunnelStages),
      "funnel", seconds)

  /** Two rate sources shaped as the attribution join's inputs: a heavy
    * impression stream and a lighter conversion stream over the same
    * bounded key space, event time = the rate source's real timestamp so
    * the watermark advances naturally and join state stays
    * O(keys × (lookback + delay)) for the whole run. */
  def attributionStreams(spark: SparkSession, impPerSec: Long,
      convPerSec: Long, nKeys: Int): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    def side(rate: Long, parts: Int, ts: String, id: String) =
      spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .option("numPartitions", parts).load()
        .select(
          concat(lit("u"), pmod(col("value"), lit(nKeys))).as("user_id"),
          col("timestamp").as(ts), col("value").as(id))
    (side(impPerSec, 8, "imp_ts", "imp_id"),
      side(convPerSec, 4, "conv_ts", "conv_id"))
  }

  /** Sustained rows/s of the watermarked stream-stream attribution join
    * ([[StreamJoin.attributionJoin]]) — the third stateful operator with
    * a real throughput requirement (event correlation at ingest rate).
    * Input rows counted across both sides, same accounting as the other
    * two measurements. */
  def attributionThroughput(spark: SparkSession, seconds: Int = 30,
      impPerSec: Long = 400000L, convPerSec: Long = 100000L,
      nKeys: Int = 100000): Double = {
    // default window is 2.5× the other operators': a stream-stream join
    // micro-batch touches TWO state stores plus the range scan, so three
    // post-warmup batches don't fit a 12 s × 3 deadline — measured 0
    // samples at 12 s, 230 k rows/s at 30 s
    val (imp, conv) = attributionStreams(spark, impPerSec, convPerSec, nKeys)
    measure(StreamJoin.attributionJoin(imp, conv, "user_id",
      "imp_ts", "conv_ts", lookback = "30 seconds", delay = "10 seconds"),
      "attribution", seconds)
  }

  /** Rate rows → synthetic crawl documents for [[RegistryIngest]]:
    * doc_id is the rate source's global monotonic counter (the crawl
    * contract for free), text is 12 hash-derived pseudo-words over a
    * 500-word vocabulary — long-tailed enough that the minhash/banding
    * stages do real work while chance near-dups stay rare. */
  def docStream(spark: SparkSession, rowsPerSec: Long): org.apache.spark.sql.DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSec)
      .option("numPartitions", 8).load()
      .select(col("value").as("doc_id"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit("w"), pmod(xxhash64(col("value"), lit(i)), lit(500)))): _*)
          .as("text"))

  /** Sustained rows/s of the streaming ingest → registry loop
    * ([[RegistryIngest]]): every micro-batch runs the full curateIngest
    * stage chain against the ACCUMULATED registry and persists two
    * O(batch) segments — so unlike the noop-sink rows this measures
    * ingest-to-durable-registry capacity, per-batch segment writes and
    * re-opens included. Correctness of the loop is the StreamingSpec
    * parity test (streamed ≡ batch mode); this row is its capacity. */
  def registryIngestThroughput(spark: SparkSession, seconds: Int = 20,
      rowsPerSec: Long = 20000L): Double = {
    val root = Files.createTempDirectory("graft-sbench-reging").toString
    val cp = Files.createTempDirectory("graft-sbench-reging-cp").toString
    import spark.implicits._
    val cfg = RegistryIngest.Config("doc_id", "text",
      benchmark = Seq("benchmark leak phrase").toDF("text"),
      benchTextCol = "text",
      stopwords = Seq("w1", "w2", "w3"), minQuality = 0.1,
      shingleSize = 3, numHashes = 16, rowsPerBand = 4,
      nearDupThreshold = 0.8, decontamN = 3, ngram = 1)
    measureStarted(
      RegistryIngest.start(docStream(spark, rowsPerSec), cfg, root, cp),
      seconds)
  }

  /** Standalone entry: prints one JSON line with both throughputs. */
  def main(args: Array[String]): Unit = {
    val seconds = if (args.length > 0) args(0).toInt else 12
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-stream-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    StateBackends.rocksDb.foreach { case (k, v) => spark.conf.set(k, v) }
    val t = taskStatesThroughput(spark, seconds)
    val f = funnelThroughput(spark, seconds)
    // the stream-stream join needs ≥30 s to yield post-warmup samples
    // (see attributionThroughput's 2.5× window note) — the no-args
    // default of 12 s would print a meaningless 0-sample rate
    val a = attributionThroughput(spark, math.max(seconds, 30))
    val r = registryIngestThroughput(spark, math.max(seconds, 20))
    println(f"""{"task_states_rows_per_sec": $t%.0f, "funnel_rows_per_sec": $f%.0f, "attribution_rows_per_sec": $a%.0f, "registry_ingest_rows_per_sec": $r%.0f}""")
    spark.stop()
  }
}
