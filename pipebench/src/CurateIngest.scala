package pipebench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llmops.{Pipelines, SparseSim}
import graft.streaming.RegistryIngest

/** curate_ingest: closed loop, one client. Set-up builds a segmented
  * history registry (curation registry plus BM25 segments, the
  * `RegistryIngest` layout); a pass lands the daily batches one ingest at a
  * time, each followed by its searches over the growing segment list. The
  * op is one search; rows_per_s is docs ingested per second of ingest and
  * search time together. */
object CurateIngest {

  val MinQuality = 0.4
  val Shingle = 3
  /** Fixed banding for every ingest: 14 bands of 3 rows, so a planted
    * repeat at Jaccard >= 0.8 is missed with probability < 1e-4. */
  val NumHashes = 42
  val RowsPerBand = 3
  val NearDupThreshold = 0.7
  val DecontamN = 8
  val K = 10

  final case class Op(kind: String, seconds: Double)

  final class Registry(ctx: Ctx, root: Path) {
    private val spark = ctx.spark
    private val t = ctx.tracer
    private val bench = spark.read.option("header", "true").schema("text string")
      .csv(Io.uri(ctx.input.resolve("bench.csv")))
    private val maxDf = ctx.params.int("max_df").toLong

    def docs(file: String): DataFrame =
      spark.read.option("header", "true").schema("doc_id long, text string").csv(Io.uri(ctx.input.resolve(file)))

    /** One daily ingest (the `RegistryIngest.start` micro-batch body):
      * kept ids and the bytes of the two segments it wrote. */
    def ingest(batch: DataFrame, segment: Int): (Set[Long], Long) = {
      val reg = t.span("llmops.registry_open")(RegistryIngest.openRegistry(spark, Io.uri(root), "doc_id", "text"))
      val (kept, delta) = t.span("llmops.ingest_filter") {
        val (k, d) = Pipelines.curateIngest(batch, "doc_id", "text", bench, "text", Gen.Stopwords, MinQuality,
          Shingle, NumHashes, RowsPerBand, NearDupThreshold, DecontamN, reg)
        (k.localCheckpoint(), d)
      }
      val regDir = root.resolve("registry").resolve(s"ingest=$segment")
      val bm25Dir = root.resolve("bm25").resolve(s"ingest=$segment")
      t.span("llmops.segment_write")(Pipelines.writeRegistrySegment(delta, Io.uri(regDir)))
      t.span("llmops.bm25_build")(SparseSim.writeIndex(SparseSim.buildIndex(kept, "doc_id", "text"), Io.uri(bm25Dir)))
      (kept.select("doc_id").collect().map(_.getLong(0)).toSet, Io.size(regDir) + Io.size(bm25Dir))
    }

    /** One search over every BM25 segment landed so far: top-k ids. */
    def search(qid: Long, text: String): (Seq[Long], Int) = t.span("llmops.bm25_query") {
      import spark.implicits._
      val segs = RegistryIngest.bm25Segments(Io.uri(root))
      val idx = SparseSim.readSegments(spark, segs)
      val top = SparseSim.queryIndex(idx, Seq((qid, text)).toDF("qid", "text"), "qid", "text", K, maxDf)
        .select("id").collect().map(_.getLong(0)).toSeq
      (top, segs.length)
    }
  }

  final case class Query(batch: Int, qid: Long, source: Long, text: String)

  def queries(dir: Path): Seq[Query] = Io.lines(dir.resolve("queries.csv")).drop(1).map { l =>
    val Array(b, q, s, text) = l.split(",", 4)
    Query(b.toInt, q.toLong, s.toLong, text)
  }

  /** Batch ids minus the planted repeats: what every ingest must keep. */
  def expectedKept(batchIds: Set[Long], repeats: Set[Long]): Set[Long] = batchIds diff repeats

  def checkIngest(kept: Set[Long], batchIds: Set[Long], repeats: Set[Long]): Seq[String] = {
    val leaked = kept intersect repeats
    val lost = expectedKept(batchIds, repeats) diff kept
    Seq(
      leaked.headOption.map(id => s"planted repeat $id kept (${leaked.size} in all)"),
      lost.headOption.map(id => s"fresh doc $id dropped (${lost.size} in all)")).flatten
  }

  def checkSearch(top: Seq[Long], q: Query): Seq[String] =
    if (top.contains(q.source)) Nil else Seq(s"search ${q.qid} missed its source doc ${q.source}")

  /** The documented equivalence contract: the first batch's kept set equals
    * what the full-corpus filter keeps over history and batch together,
    * restricted to the batch's ids. */
  def checkEquivalence(kept: Set[Long], full: Set[Long], batchIds: Set[Long]): Seq[String] = {
    val want = full intersect batchIds
    if (kept == want) Nil
    else Seq(s"first batch kept ${kept.size} docs, curateFilterStages keeps ${want.size} " +
      s"(differ on ${((kept diff want) union (want diff kept)).take(5).mkString(", ")})")
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val p = ctx.params
    val (segs, batches) = (p.int("history_segments"), p.int("batches"))
    val root = ctx.work.resolve("registry")
    val snapshot = ctx.work.resolve("registry_setup")
    val reg = new Registry(ctx, root)
    val qs = queries(ctx.input)
    // set-up: a warm-up ingest and search on a small batch, then the
    // history registry a deployment already holds
    val setupS = ctx.setup({
        val warm = new Registry(ctx, ctx.work.resolve("warm"))
        warm.ingest(warm.docs("warmup.csv"), 0)
        warm.search(0, qs.head.text)
      },
      _ => {
        Io.delete(root)
        (0 until segs).foreach(s => reg.ingest(reg.docs(s"history_$s.csv"), s))
      })
    Io.copyTree(root, snapshot)
    val repeats = Gen.truth(ctx.input, "repeats.txt").map(_.split(" ")(0).toLong).toSet
    val batchIds = (0 until batches).map(b => Io.lines(ctx.input.resolve(s"batch_$b.csv")).drop(1)
      .map(_.split(",", 2)(0).toLong).toSet)
    val ops = ArrayBuffer[Op]()
    var failed = 0L
    var attempted = 0L
    var firstKept = Set.empty[Long]
    val segmentBytes = ArrayBuffer[Double]()
    var segmentsOpen = 0
    var dropped = 0.0 // batch docs the last pass's ingests dropped
    def judge(problems: Seq[String]): Unit = {
      attempted += 1
      problems.foreach(m => ctx.log(s"CHECK FAILED: $m"))
      if (problems.nonEmpty) failed += 1
    }
    val passes = ctx.closedLoop(
      _ => Io.copyTree(snapshot, root),
      i => {
        var bytes = 0L
        dropped = 0.0
        for (b <- 0 until batches) {
          val t0 = System.nanoTime()
          val (kept, written) = ctx.tracer.trace("ingest", s"ingest-$i-$b")(reg.ingest(reg.docs(s"batch_$b.csv"), segs + b))
          ops += Op("ingest", (System.nanoTime() - t0) / 1e9)
          bytes += written
          dropped += batchIds(b).size - kept.size
          if (b == 0) firstKept = kept
          judge(checkIngest(kept, batchIds(b), repeats))
          for (q <- qs.filter(_.batch == b)) {
            val t1 = System.nanoTime()
            val (top, n) = ctx.tracer.trace("search", s"search-$i-${q.qid}")(reg.search(q.qid, q.text))
            ops += Op("search", (System.nanoTime() - t1) / 1e9)
            segmentsOpen = n
            judge(checkSearch(top, q))
          }
        }
        segmentBytes += bytes.toDouble
      },
      _ => ())
    // the equivalence contract, once per run, on the first batch
    val history = (0 until segs).map(s => reg.docs(s"history_$s.csv")).reduce(_ unionByName _)
    val bench = spark.read.option("header", "true").schema("text string").csv(Io.uri(ctx.input.resolve("bench.csv")))
    val full = Pipelines.curateFilterStages(history.unionByName(reg.docs("batch_0.csv")), "doc_id", "text",
      bench, "text", Gen.Stopwords, MinQuality, Shingle, NumHashes, RowsPerBand, NearDupThreshold, DecontamN)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    judge(checkEquivalence(firstKept, full, batchIds(0)))

    // ops from traced passes carry span overhead: end-to-end numbers use the untraced ones
    val perPass = batches + qs.length
    val opsByPass = ops.grouped(perPass).toSeq.zip(passes)
    val clean = opsByPass.filterNot(_._2._2).flatMap(_._1)
    val searches = clean.filter(_.kind == "search").map(_.seconds * 1000)
    val ingests = clean.filter(_.kind == "ingest").map(_.seconds * 1000)
    val docs = batchIds.map(_.size).sum.toDouble
    val passSeconds = opsByPass.filterNot(_._2._2).map(_._1.map(_.seconds).sum)
    val notes = ArrayBuffer(
      ("ingest_p50_ms", Stats.median(ingests), "ms"),
      ("search_p50_ms", Stats.median(searches), "ms"))
    Stats.tail(ingests).foreach { case (pc, v) => notes += ((f"ingest_tail_ms_p$pc%.1f_n${ingests.length}", v, "ms")) }
    Stats.tail(searches).foreach { case (pc, v) => notes += ((f"search_tail_ms_p$pc%.1f_n${searches.length}", v, "ms")) }
    val layer = collection.mutable.Map[String, Double]()
    if (ctx.traceRun) {
      val in = ctx.tracer.selfSeconds("ingest")
      Seq("registry_open", "ingest_filter", "segment_write", "bm25_build").foreach { n =>
        layer(s"llmops.${n}_s") = in.getOrElse(s"llmops.$n", 0.0)
      }
      layer("llmops.bm25_query_s") = ctx.tracer.selfSeconds("search").getOrElse("llmops.bm25_query", 0.0)
      layer("llmops.segments_open") = segmentsOpen
      layer("llmops.registry_hits") = dropped
      layer("llmops.segment_bytes") = Stats.median(segmentBytes.toSeq)
      layer ++= Ctx.traceSummary(opsByPass.map { case (o, (_, traced)) => (o.map(_.seconds).sum, traced) },
        in.getOrElse("ingest", 0.0) * batches +
          ctx.tracer.selfSeconds("search").getOrElse("search", 0.0) * qs.length)
    }
    Result(setupS, searches, docs / Stats.median(passSeconds),
      segmentBytes.headOption.map(_.toLong).getOrElse(0L),
      batchIds.indices.map(b => Io.size(ctx.input.resolve(s"batch_$b.csv"))).sum,
      attempted, failed, passes.count(_._2), notes.toSeq, layer.toMap)
  }
}
