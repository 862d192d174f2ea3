package pipebench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llmops.{Dedup, Pipelines, TextStats}

/** curate_batch: closed loop, one client; one pass curates the whole
  * generated corpus with `Pipelines.curate` and writes its shards as
  * parquet. The op is the pass. */
object CurateBatch {

  val MinQuality = 0.4
  val Shingle = 3
  val NearDupThreshold = 0.7
  val DecontamN = 8
  val Shards = 8
  /** Larger than any generated corpus: the budget never cuts a survivor. */
  val Budget = 1000000000000L
  val Weights: Map[String, Long] = Gen.Domains.map(_ -> 1L).toMap
  /** The stated floor for planted near-duplicate recall. */
  val NearDupRecallFloor = 0.9

  val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("domain", StringType),
    StructField("text", StringType)))

  def read(spark: SparkSession, dir: Path, name: String): (DataFrame, DataFrame) = (
    spark.read.option("header", "true").schema(docSchema).csv(Io.uri(dir.resolve(name))),
    spark.read.option("header", "true").schema("text string").csv(Io.uri(dir.resolve(s"${name}_bench.csv"))))

  def curate(docs: DataFrame, bench: DataFrame): DataFrame =
    Pipelines.curate(docs, "doc_id", "text", "domain", bench, "text", Gen.Stopwords, MinQuality,
      Shingle, NearDupThreshold, DecontamN, Weights, Budget, Shards, "pipebench")

  /** The stages `Pipelines.curate` composes, called one by one so each
    * gets its own span and its output is materialized at the boundary. */
  def curateTraced(ctx: Ctx, docs: DataFrame, bench: DataFrame, counts: collection.mutable.Map[String, Double]): DataFrame = {
    val t = ctx.tracer
    def stage(name: String, countAs: String)(df: => DataFrame): DataFrame = t.span(name) {
      val out = t.materialize(df)
      if (countAs.nonEmpty) counts(countAs) = out.count().toDouble
      out
    }
    val scored = stage("llmops.quality", "llmops.docs_after_quality") {
      docs.select(col("doc_id"), col("domain"), col("text"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.qualityScore(col("text"), Gen.Stopwords).as("quality"))
        .filter(col("quality") >= MinQuality)
    }
    val exact = stage("llmops.exact_dedup", "llmops.docs_after_exact") {
      Dedup.exactDedup(scored, "doc_id", TextStats.fingerprint(col("text"))).drop("dedup_key", "group_size")
    }
    val clean = stage("llmops.decontam", "llmops.docs_after_decontam") {
      Dedup.decontaminate(exact, "doc_id", "text", bench, "text", DecontamN)
    }
    val kept = stage("llmops.neardup", "llmops.docs_after_neardup") {
      val pairs = Dedup.minhashNearDupsSized(clean, "doc_id", "text", Shingle, NearDupThreshold)
      clean.join(pairs.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    }
    stage("llmops.plan_shard", "") {
      val plan = TextStats.recipePlan(kept, "domain", "n_tokens", Weights, Budget, rounds = Weights.size.max(3))
      val selected = TextStats.selectToBudget(kept, "doc_id", "domain", "n_tokens", "quality", plan,
        quotaCol = "assigned").filter(col("keep")).drop("quota", "cum_tokens", "keep")
      TextStats.trainingShards(selected, "doc_id", Shards, "pipebench")
    }
  }

  /** LSH candidate volume and precision on the decontaminated corpus, with
    * the banding `minhashNearDupsSized` picks for it. */
  def lshStats(docs: DataFrame, bench: DataFrame): (Double, Double) = {
    val clean = Dedup.decontaminate(
      Dedup.exactDedup(docs.filter(TextStats.qualityScore(col("text"), Gen.Stopwords) >= MinQuality),
        "doc_id", TextStats.fingerprint(col("text"))).drop("dedup_key", "group_size"),
      "doc_id", "text", bench, "text", DecontamN).localCheckpoint()
    val (h, r) = Dedup.minhashParamsForCorpus(clean.count(), NearDupThreshold)
    val eligible = clean.filter(size(split(col("text"), " ")) >= Shingle)
    val cands = Dedup.lshCandidates(
      Dedup.minhashSignatureArray(Dedup.shingleSets(eligible, "doc_id", "text", Shingle), "doc_id", h),
      "doc_id", h, r).localCheckpoint()
    val n = cands.count().toDouble
    val verified = Dedup.jaccardForPairs(cands, Dedup.shingles(eligible, "doc_id", "text", Shingle), "doc_id")
      .filter(col("jaccard") >= NearDupThreshold).count()
    (n, if (n > 0) verified / n else 0.0)
  }

  final case class Truth(unique: Set[Long], exact: Set[Long], near: Set[Long],
      contaminated: Set[Long], lowQuality: Set[Long])

  def truth(dir: Path): Truth = {
    def ids(f: String) = Gen.truth(dir, f).map(_.split(" ")(0).toLong).toSet
    Truth(ids("unique.txt"), ids("exact_dups.txt"), ids("near_dups.txt"), ids("contaminated.txt"),
      ids("low_quality.txt"))
  }

  /** Failures of one pass's kept ids against the planted truth. */
  def check(kept: Set[Long], t: Truth): Seq[String] = {
    val recall = t.near.count(id => !kept(id)).toDouble / math.max(1, t.near.size)
    Seq(
      (t.exact intersect kept).headOption.map(id => s"planted exact duplicate $id kept"),
      (t.contaminated intersect kept).headOption.map(id => s"contaminated doc $id kept"),
      (t.lowQuality intersect kept).headOption.map(id => s"low-quality doc $id kept"),
      (t.unique diff kept).headOption.map(id => s"unique clean doc $id dropped"),
      if (recall < NearDupRecallFloor) Some(f"near-duplicate recall $recall%.3f below $NearDupRecallFloor") else None
    ).flatten
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val out = ctx.work.resolve("shards")
    def pass(name: String, dest: Path, counts: collection.mutable.Map[String, Double]): Unit = {
      val (docs, bench) = read(spark, ctx.input, name)
      if (ctx.tracer.enabled) {
        val shards = curateTraced(ctx, docs, bench, counts)
        ctx.tracer.span("llmops.output_write")(shards.write.mode("overwrite").parquet(Io.uri(dest)))
      } else curate(docs, bench).write.mode("overwrite").parquet(Io.uri(dest))
    }
    // set-up: a warm-up pass on a small corpus; no program-side state
    val setupS = ctx.setup(pass("warmup", ctx.work.resolve("warmup"), collection.mutable.Map()), _ => ())
    val t = truth(ctx.input)
    val counts = collection.mutable.Map[String, Double]()
    var failed = 0L
    var kept = Set.empty[Long]
    val passes = ctx.closedLoop(_ => Io.delete(out),
      _ => pass("docs", out, counts),
      _ => {
        kept = spark.read.parquet(Io.uri(out)).select("doc_id").collect().map(_.getLong(0)).toSet
        val problems = check(kept, t)
        problems.foreach(p => ctx.log(s"CHECK FAILED: $p"))
        if (problems.nonEmpty) failed += 1
      })
    val bytes = Io.size(out)
    val docs = Gen.truth(ctx.input, "unique.txt").length + t.exact.size + t.near.size +
      t.contaminated.size + t.lowQuality.size
    val untraced = passes.filterNot(_._2).map(_._1)
    val layer = collection.mutable.Map[String, Double]()
    if (ctx.traceRun) {
      val self = ctx.tracer.selfSeconds("pass")
      Seq("quality", "exact_dedup", "decontam", "neardup", "plan_shard", "output_write").foreach { n =>
        layer(s"llmops.${n}_s") = self.getOrElse(s"llmops.$n", 0.0)
      }
      layer ++= counts
      val (docsDf, bench) = read(spark, ctx.input, "docs")
      val (cands, precision) = lshStats(docsDf, bench)
      layer("llmops.lsh_candidates") = cands
      layer("llmops.lsh_precision") = precision
      layer ++= Ctx.traceSummary(passes, self.getOrElse("pass", 0.0))
    }
    Result(setupS, untraced.map(_ * 1000), docs / Stats.median(untraced), bytes,
      Io.size(ctx.input.resolve("docs")) + Io.size(ctx.input.resolve("docs_bench.csv")),
      passes.length, failed, passes.count(_._2),
      Seq(("pass_docs", docs.toDouble, "docs"), ("kept_docs", kept.size.toDouble, "docs")), layer.toMap)
  }
}
