package graft

import java.nio.file.Files

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate

import graft.llmops.{Pipelines, SparseSim, Similarity}
import graft.llmops.Pipelines.CurationRegistry
import graft.llmops.Similarity.IvfIndex

/** The segmented opens of the three registries (BM25, IVF, curation):
  * the Spark jobs an open runs and the aggregates a BM25 search plans do
  * not grow with the segment count, and every opened table equals the
  * per-dir fold of the in-memory merges (kept here as the reference). */
class SegmentOpenSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** The job-start events `body` causes (stage names per job). */
  private def jobsOf(body: => Any): Seq[Seq[String]] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val tap = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name))
    }
    ListenerDrain(sc)
    sc.addSparkListener(tap)
    try { body; ListenerDrain(sc) } finally sc.removeSparkListener(tap)
    jobs.toArray(Array.empty[Seq[String]]).toSeq
  }

  private def assertSameTable(what: String, got: DataFrame, ref: DataFrame): Unit = {
    assert(got.schema == ref.schema, s"$what schema")
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty, what)
  }

  private val cents = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
    .toDF("cell_id", "centroid")

  // segment i holds ids i*100 .. i*100+2; the empty segments hold no
  // survivor, so their stats carry null marks (and a null total_tokens)
  private def ids(i: Int) = (0 to 2).map(j => i * 100L + j)
  private def docs(i: Int) = ids(i).map(id =>
    (id, s"alpha beta w${id % 7} w${id % 5} w${id % 3}")).toDF("doc_id", "text")

  private lazy val bm25Segs = (0 until 16).map { i =>
    val d = tmp(s"bm25seg$i")
    SparseSim.writeIndex(SparseSim.buildIndex(docs(i), "doc_id", "text"), d)
    d
  }
  private lazy val bm25Empty = {
    val d = tmp("bm25empty")
    SparseSim.writeIndex(SparseSim.buildIndex(docs(0).limit(0), "doc_id", "text"), d)
    d
  }
  private def vecs(i: Int) = ids(i).map(id =>
    (id, Seq((id % 7).toFloat + 0.5f, (id % 3).toFloat))).toDF("vec_id", "embedding")
  private lazy val ivfSegs = (0 until 16).map { i =>
    val d = tmp(s"ivfseg$i")
    Similarity.ivfWriteIndex(Similarity.ivfBuildIndex(vecs(i), "vec_id",
      "embedding", cents, dim = 2), d)
    d
  }
  private lazy val ivfEmpty = {
    val d = tmp("ivfempty")
    Similarity.ivfWriteIndex(Similarity.ivfBuildIndex(vecs(0).limit(0),
      "vec_id", "embedding", cents, dim = 2), d)
    d
  }
  private def regDelta(i: Int) = CurationRegistry(
    Seq(s"k$i-a", s"k$i-b").toDF("dedup_key"),
    ids(i).map(id => (id, Seq(id, id * 3))).toDF("doc_id", "sig"),
    ids(i).map(id => (id, s"text $id")).toDF("doc_id", "text"))
  private lazy val regSegs = (0 until 16).map { i =>
    val d = tmp(s"regseg$i")
    Pipelines.writeRegistrySegment(regDelta(i), d)
    d
  }
  private lazy val regEmpty = {
    val d = tmp("regempty")
    val none = CurationRegistry.empty(spark, "doc_id", "text")
    Pipelines.writeRegistrySegment(
      CurationRegistry(Seq("k-empty").toDF("dedup_key"), none.sigs, none.texts), d)
    d
  }

  /** The per-dir fold each open replaces: one read per dir and table,
    * folded through the in-memory merges. */
  private def bm25Fold(dirs: Seq[String]) = dirs.map { d =>
    val stats = spark.read.parquet(s"$d/corpus_stats")
    SparseSim.Bm25Index(spark.read.parquet(s"$d/postings"),
      spark.read.parquet(s"$d/doc_lens"), spark.read.parquet(s"$d/term_df"),
      stats.drop("ngram"), stats.select("ngram").head().getInt(0))
  }.reduce(SparseSim.mergeIndex)
  private def ivfFold(dirs: Seq[String]) = dirs.map(d =>
    IvfIndex(spark.read.parquet(s"$d/centroids"), spark.read.parquet(s"$d/assigned"))
  ).reduce((a, b) => IvfIndex(a.centroids, a.assigned.unionAll(b.assigned)))
  private def regFold(dirs: Seq[String]) = dirs.map(d =>
    CurationRegistry(spark.read.parquet(s"$d/keys"),
      spark.read.parquet(s"$d/sigs"), spark.read.parquet(s"$d/texts"))
  ).reduce(Pipelines.mergeRegistry)

  test("each segmented open runs as many jobs at 16 segments as at 1") {
    (bm25Segs, ivfSegs, regSegs) // written before any count starts
    val counts = Seq(
      "bm25" -> ((n: Int) => jobsOf(SparseSim.readSegments(spark, bm25Segs.take(n))).size),
      "ivf" -> ((n: Int) => jobsOf(Similarity.ivfReadSegments(spark, ivfSegs.take(n))).size),
      "registry" -> ((n: Int) =>
        jobsOf(Pipelines.readRegistrySegments(spark, regSegs.take(n))).size))
      .map { case (family, jobs) => (family, jobs(1), jobs(16)) }
    // (family, jobs at 1 segment, jobs at 16)
    assert(counts.forall { case (_, one, sixteen) => one == sixteen }, counts)
  }

  test("a BM25 open runs one job, the stats collect: no schema inference") {
    bm25Segs
    val jobs = jobsOf(SparseSim.readSegments(spark, bm25Segs.take(4)))
    assert(jobs.size == 1, jobs)
    assert(jobs.head.forall(_.startsWith("collect at")), jobs)
  }

  test("a BM25 search plans as many aggregates over 8 segments as over 2") {
    val q = Seq((0L, "alpha w1 w2")).toDF("doc_id", "text")
    def aggregates(n: Int) = SparseSim.queryIndex(
        SparseSim.readSegments(spark, bm25Segs.take(n)), q, "doc_id", "text",
        k = 5, maxDf = 100L)
      .queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size
    val two = aggregates(2)
    assert(aggregates(8) == two)
    // one segment serves term_df as stored, without the re-sum
    assert(aggregates(1) == two - 1)
  }

  // 1, 2 and 5 segments; the 5-list has an empty-survivor segment in
  // the middle
  private def lists(segs: Seq[String], empty: String) =
    Seq(segs.take(1), segs.take(2), segs.take(2) ++ Seq(empty) ++ segs.slice(2, 4))

  test("the BM25 open equals the mergeIndex fold, tables and scores") {
    val q = Seq((0L, "alpha w1 w2"), (1L, "beta w4 w0")).toDF("doc_id", "text")
    def scores(idx: SparseSim.Bm25Index) = SparseSim.queryIndex(idx, q,
      "doc_id", "text", k = 10, maxDf = 100L)
    lists(bm25Segs, bm25Empty).foreach { dirs =>
      val (got, ref) = (SparseSim.readSegments(spark, dirs), bm25Fold(dirs))
      val n = dirs.size
      assert(got.ngram == ref.ngram)
      assertSameTable(s"postings/$n", got.postings, ref.postings)
      assertSameTable(s"doc_lens/$n", got.docLens, ref.docLens)
      assertSameTable(s"term_df/$n", got.termDf, ref.termDf)
      assertSameTable(s"corpus_stats/$n", got.corpusStats, ref.corpusStats)
      assertSameTable(s"scores/$n", scores(got), scores(ref))
      assert(!scores(got).isEmpty)
    }
    // the empty segment alone: null marks and null total_tokens survive
    val empty = SparseSim.readSegments(spark, Seq(bm25Empty))
    assertSameTable("empty corpus_stats", empty.corpusStats,
      bm25Fold(Seq(bm25Empty)).corpusStats)
    val r = empty.corpusStats.head()
    assert(r.getLong(0) == 0L && (1 to 3).forall(r.isNullAt))
  }

  test("the IVF open equals the union fold") {
    lists(ivfSegs, ivfEmpty).foreach { dirs =>
      val (got, ref) = (Similarity.ivfReadSegments(spark, dirs), ivfFold(dirs))
      assertSameTable(s"centroids/${dirs.size}", got.centroids, ref.centroids)
      assertSameTable(s"assigned/${dirs.size}", got.assigned, ref.assigned)
    }
  }

  test("the curation registry open equals the mergeRegistry fold") {
    lists(regSegs, regEmpty).foreach { dirs =>
      val (got, ref) = (Pipelines.readRegistrySegments(spark, dirs), regFold(dirs))
      assertSameTable(s"keys/${dirs.size}", got.keys, ref.keys)
      assertSameTable(s"sigs/${dirs.size}", got.sigs, ref.sigs)
      assertSameTable(s"texts/${dirs.size}", got.texts, ref.texts)
    }
    assert(Pipelines.readRegistrySegments(spark, Seq(regEmpty))
      .keys.as[String].collect().toSeq == Seq("k-empty"))
  }

  test("a segment listed under another spelling maps to its own stats row") {
    // trailing slash, a file: URI and a name the scan URL-encodes all
    // name the dirs the stats scan lists
    val spaced = tmp("bm25 seg%") + "/seg 2"
    SparseSim.writeIndex(SparseSim.buildIndex(docs(2), "doc_id", "text"), spaced)
    val dirs = Seq(bm25Segs(0) + "/", "file:" + bm25Segs(1), spaced)
    val got = SparseSim.readSegments(spark, dirs)
    assertSameTable("aliased corpus_stats", got.corpusStats,
      bm25Fold(bm25Segs.take(2) :+ spaced).corpusStats)
    intercept[RuntimeException] {
      SparseSim.readSegments(spark, Seq(bm25Segs(0), bm25Segs(0) + "/"))
    }
  }
}
