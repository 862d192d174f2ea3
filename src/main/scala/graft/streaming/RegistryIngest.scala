package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llmops.{Pipelines, SparseSim}

/** The daily-crawl loop as a STREAM: arriving document batches flow
  * through [[Pipelines.curateIngest]] (quality gate, exact dedup vs the
  * key registry, decontamination, near-dup vs the stored signatures) and
  * each micro-batch persists exactly two O(batch) artifacts — its
  * curation-registry delta segment and a BM25 index segment over its
  * surviving docs. History is never rescanned and never rewritten: the
  * registries are the segment lists, reopened every micro-batch in a job
  * count that does not grow with them ([[Pipelines.readRegistrySegments]],
  * [[SparseSim.readSegments]]: one stats scan, one scan per table).
  *
  * Delivery semantics: segment dirs are keyed by the micro-batch id, so
  * a batch REPLAYED after a failure (foreachBatch's at-least-once
  * contract) overwrites its own segment instead of appending a
  * duplicate — idempotent by layout, with [[SegmentIO]]'s atomic publish
  * keeping a replay from ever exposing a half-written dir. The
  * watermark guards stay as the second line of defense at open time.
  *
  * Ordering contract (inherited from curateIncremental's equivalence
  * proof): ingest ids must be monotonic across batches — each batch's
  * ids exceed all earlier ids, the crawl convention. Under it, the
  * PARITY claim holds and is spec-tested: streaming N batches through
  * this sink produces byte-identical registry tables to applying the
  * same N batches through [[Pipelines.curateIngest]] in batch mode.
  *
  * Scale: per micro-batch cost is the batch's own stage-1–4 work plus
  * the two opens (unions of scans, one vocabulary-sized df re-sum, no
  * corpus rescan) — the streaming form of the measured 64× delta-ingest rows
  * (STRESS.md); compaction ([[Pipelines.compactRegistrySegments]],
  * [[SparseSim.compactSegments]]) bounds the segment-list fan on
  * whatever cadence the measured trade suggests.
  */
object RegistryIngest {

  /** The per-deployment constants — fixed across every batch of a
    * registry's lifetime: the banding S-curve, quality gate, and
    * benchmark set must mean the same thing at every ingest or
    * "duplicate of history" changes meaning between days (the
    * curateIncremental contract), and `ngram` is frozen into every BM25
    * segment (readSegments refuses mixed term spaces). */
  final case class Config(
      idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      stopwords: Seq[String], minQuality: Double,
      shingleSize: Int, numHashes: Int, rowsPerBand: Int,
      nearDupThreshold: Double, decontamN: Int,
      ngram: Int = 1)

  private def segDirs(root: String): Seq[(Long, String)] = {
    val d = new java.io.File(root)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.matches("ingest=\\d+"))
      .map(f => (f.getName.stripPrefix("ingest=").toLong, f.getPath))
      .sortBy(_._1)
  }

  /** The accumulated registry segment dirs under `root` (batch-id
    * order), skipping in-flight temp writes. */
  def registrySegments(root: String): Seq[String] =
    segDirs(s"$root/registry").map(_._2)

  def bm25Segments(root: String): Seq[String] =
    segDirs(s"$root/bm25").map(_._2)

  /** Open the accumulated curation registry (empty if no batch has
    * landed yet — the pre-first-ingest state). */
  def openRegistry(spark: SparkSession, root: String, idCol: String,
      textCol: String): Pipelines.CurationRegistry = {
    val dirs = registrySegments(root)
    if (dirs.isEmpty) Pipelines.CurationRegistry.empty(spark, idCol, textCol)
    else Pipelines.readRegistrySegments(spark, dirs)
  }

  /** Open the accumulated BM25 registry over every streamed batch's
    * surviving docs. Throws if no segment has landed yet. */
  def openBm25(spark: SparkSession, root: String): SparseSim.Bm25Index =
    SparseSim.readSegments(spark, bm25Segments(root))

  /** Start the ingest sink on a streaming `docs` source carrying
    * (cfg.idCol, cfg.textCol). Each micro-batch: open the accumulated
    * registry, run the batch through curateIngest, publish the delta as
    * `root/registry/ingest=<batchId>` and the kept docs' BM25 segment as
    * `root/bm25/ingest=<batchId>`. Empty micro-batches publish nothing
    * (a no-doc day leaves no segment to open-merge forever after). */
  def start(docs: DataFrame, cfg: Config, root: String,
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val reg = openRegistry(spark, root, cfg.idCol, cfg.textCol)
          val (kept, delta) = Pipelines.curateIngest(batch,
            cfg.idCol, cfg.textCol, cfg.benchmark, cfg.benchTextCol,
            cfg.stopwords, cfg.minQuality, cfg.shingleSize, cfg.numHashes,
            cfg.rowsPerBand, cfg.nearDupThreshold, cfg.decontamN, reg)
          // kept feeds the BM25 build's two passes (postings + lens) —
          // hold the batch-sized survivors once instead of re-running
          // the stage-1-4 chain per pass
          val keptC = kept.localCheckpoint()
          Pipelines.writeRegistrySegment(delta,
            s"$root/registry/ingest=$batchId")
          SparseSim.writeIndex(
            SparseSim.buildIndex(keptC, cfg.idCol, cfg.textCol, cfg.ngram),
            s"$root/bm25/ingest=$batchId")
        }
      }
      .start()
}
