package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.{TextExpressions, VectorExpressions}
import graft.llmops.{Dedup, TextStats}

/** The composed higher-order-function forms the curation kernels
  * replaced, kept only as references: every `graft_*` text kernel must
  * reproduce them bit for bit. */
object KernelEquivalenceSpec {

  /** Word n-grams over a token-array column by direct element access +
    * `concat_ws`; short (or null) token arrays give an empty array. */
  def shingleArray(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** `graft_ngrams`' reference: split once, bound through a one-element
    * transform so the split is not re-inlined per element. */
  def ngrams(text: Column, n: Int): Column =
    element_at(transform(array(split(text, " ")), toks => shingleArray(toks, n)), 1)

  /** `graft_quality_score`'s reference: one split per feature, one
    * `array_remove` per stopword. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    least(lit(1.0), TextStats.tokenCount(text).cast("double") / 100.0) * 0.4 +
      (lit(1.0) - TextStats.stopwordRatio(text, stopwords)) * 0.3 +
      TextStats.uniqueTokenRatio(text) * 0.3

  /** The `aggregate` + `zip_with` MinHash fold over base hashes `hb`. */
  def minhashFold(hb: Column, numHashes: Int): Column = {
    val coeffs = array((0 until numHashes).map { j =>
      struct(lit(Dedup.minhashA(j)).as("a"), lit(Dedup.minhashB(j)).as("b"))
    }: _*)
    val zero = array(Seq.fill(numHashes)(lit(Dedup.MinhashPrime)): _*)
    aggregate(hb, zero, (acc, h) =>
      zip_with(acc, coeffs, (m, ab) =>
        least(m, (h * ab.getField("a") + ab.getField("b")) % Dedup.MinhashPrime)))
  }

  /** `graft_shingle_minhash`'s reference: string n-grams → md5 → hex →
    * `conv` → mod p per n-gram, then the fold. */
  def shingleMinhash(text: Column, n: Int, numHashes: Int): Column =
    minhashFold(transform(ngrams(text, n), s => Dedup.minhashBase(s)), numHashes)
}

/** Codegen ≡ interpreted ≡ composed reference, table-driven: each
  * `graft_*` kernel runs under `spark.sql.codegen.factoryMode`
  * CODEGEN_ONLY (whole-stage codegen on, no silent fallback) and
  * NO_CODEGEN (interpreted projections), and every result must equal its
  * composed HOF reference bit for bit (`doubleToLongBits` for doubles).
  * Inputs come from an RDD, not a local relation, so the projections run
  * on executors instead of constant-folding in the optimizer. */
class KernelEquivalenceSpec extends SparkSpec {
  import KernelEquivalenceSpec._

  private val stop = Seq("the", "a", "of", "the", "über")

  private val edgeTexts: Seq[String] = Seq(null, "", " ", "  ", " a", "a ",
    "a  b", " lead space", "trail space ", "double  space  here",
    "café über naïve straße", "日本 語 の テキスト 日本 語", "the a of the",
    "the", "one", "two words", "x y z x y z x y z",
    "a b c d e f g h", "a b c d e f g h i", "über the über the über")

  /** Seeded word salad over a small vocabulary (repeats, stopwords,
    * non-ASCII tokens, occasional doubled spaces). */
  private val randomTexts: Seq[String] = {
    val vocab = Vector("the", "a", "of", "data", "über", "naïve", "x", "y",
      "pipeline", "日本", "", "spark")
    val rnd = new scala.util.Random(20261018L)
    (0 until 300).map { _ =>
      Seq.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
  }

  private def input: DataFrame = {
    import org.apache.spark.sql.types._
    val rows = (edgeTexts ++ randomTexts).zipWithIndex
      .map { case (t, i) => Row(i.toLong, t) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
  }

  private val numHashes = 16
  private val as = (0 until numHashes).map(Dedup.minhashA)
  private val bs = (0 until numHashes).map(Dedup.minhashB)
  /** Base hashes for `graft_minhash_sig`: null for null text, and a null
    * ELEMENT for every base ≡ 0 mod 5 (the kernel and the fold skip it). */
  private val bases: Column = when(col("text").isNotNull,
    transform(transform(ngrams(col("text"), 1), s => Dedup.minhashBase(s)),
      h => when(h % 5 === 0, lit(null).cast("long")).otherwise(h)))

  /** (case, kernel, composed reference). */
  private val cases: Seq[(String, Column, Column)] =
    Seq(("graft_quality_score", TextStats.qualityScore(col("text"), stop),
      qualityScore(col("text"), stop))) ++
    Seq(1, 2, 3, 8).map(n => (s"graft_ngrams n=$n",
      TextExpressions.ngrams(col("text"), n), ngrams(col("text"), n))) ++
    Seq(1, 3, 8).map(n => (s"graft_shingle_minhash n=$n",
      TextExpressions.shingleMinhash(col("text"), n, as, bs, Dedup.MinhashPrime),
      shingleMinhash(col("text"), n, numHashes))) ++
    Seq(("graft_minhash_sig",
      VectorExpressions.minhashSig(bases, as, bs, Dedup.MinhashPrime),
      minhashFold(bases, numHashes)))

  /** A cell as comparable bits: doubles by `doubleToLongBits`, arrays
    * element-wise, nulls as None. */
  private def bits(v: Any): Any = v match {
    case null => None
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case other => other
  }

  private def underMode(mode: String)(body: => Unit): Unit = {
    val confs = if (mode == "CODEGEN_ONLY")
      Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.fallback" -> "false")
    else
      Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for ((name, kernel, reference) <- cases) {
    test(s"$name: codegen ≡ interpreted ≡ composed reference, bit for bit") {
      val results = Seq("CODEGEN_ONLY", "NO_CODEGEN").map { mode =>
        var out: Map[Long, (Any, Any)] = Map.empty
        underMode(mode) {
          val df = input.select(col("id"), kernel.as("k"), reference.as("r"))
          out = df.collect().map(r => r.getLong(0) -> (bits(r.get(1)), bits(r.get(2)))).toMap
        }
        assert(out.size == edgeTexts.size + randomTexts.size)
        out.foreach { case (id, (k, r)) =>
          assert(k == r, s"$mode id=$id: kernel $k vs reference $r")
        }
        mode -> out
      }.toMap
      assert(results("CODEGEN_ONLY") == results("NO_CODEGEN"))
    }
  }

  test("graft_quality_score and graft_ngrams: null and short-text conventions") {
    val row = input.filter(col("id") <= 1L).orderBy("id")
      .select(TextStats.qualityScore(col("text"), stop).as("q"),
        TextExpressions.ngrams(col("text"), 3).as("g"),
        TextExpressions.shingleMinhash(col("text"), 3, as, bs,
          Dedup.MinhashPrime).as("s"))
      .collect()
    // null text: NULL score, no n-grams, the identity signature
    assert(row(0).isNullAt(0))
    assert(row(0).getSeq[String](1).isEmpty)
    assert(row(0).getSeq[Long](2) == Seq.fill(numHashes)(Dedup.MinhashPrime))
    // "" is one empty token: full non-stopword share and uniqueness
    assert(row(1).getDouble(0) == 0.01 * 0.4 + 0.3 + 0.3)
    assert(row(1).getSeq[String](1).isEmpty)
  }
}
