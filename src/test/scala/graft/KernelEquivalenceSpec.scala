package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import graft.functions.{TextExpressions, VectorExpressions}
import graft.llmops.{Dedup, TextStats, VectorMath}

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

  /** `graft_simhash64`'s reference: 64 bit-vote `aggregate` folds over a
    * `Dedup.tokenHashHalves` column. A null element or half votes −1 (the
    * `otherwise` branch); a null array signs as 0L. */
  def simhash64Fold(halves: Column): Column = {
    val bits = (0 until 64).map { b =>
      val (field, shift) = if (b < 32) ("lo", b) else ("hi", b - 32)
      val votes = aggregate(halves, lit(0), (acc, s) =>
        acc + when(shiftright(s.getField(field), shift)
          .bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      when(votes > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** `graft_jl_project`'s reference: one `VectorMath.dot` fold per sign
    * row; a null vector gives NULL, not an array of NULLs. */
  def jlProjectFold(v: Column, signs: Array[Array[Double]]): Column =
    when(v.isNotNull, array(signs.toSeq.map(row => VectorMath.dot(v, lit(row))): _*))

  /** `graft_token_diversity`'s reference: split, `array_distinct`, and
    * the sorted run-length fold `TextStats.repeatPairsOfSorted`. */
  def tokenDiversityFold(text: Column): Column = {
    val toks = TextStats.tokens(text)
    when(text.isNotNull, struct(size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_types"),
      TextStats.repeatPairsOfSorted(array_sort(toks)).as("pairs")))
  }

  /** `graft_repetition_stats`' reference: the duplicate-token share and
    * the longest run of the sorted bigrams. */
  def repetitionFold(text: Column): Column = {
    val toks = TextStats.tokens(text)
    when(text.isNotNull, struct(
      TextStats.duplicateTokenFractionOfTokens(toks).as("dup_token_frac"),
      TextStats.topRunFraction(TextStats.sortedBigrams(toks)).as("top_bigram_frac")))
  }

  /** Σ_{k<w} byte(i+k)·base^k for every w-byte window i of `s`'s UTF-8
    * bytes, each window from scratch (no rolling update). */
  def windowPolys(s: String, w: Int, base: Long): Seq[Long] = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    (0 to b.length - w).map(i =>
      (0 until w).map(k => (b(i + k) & 0xffL) * BigInt(base).pow(k).toLong).sum)
  }

  /** `graft_rolling_min_hash`'s reference: the minimum window polynomial;
    * NULL below `w` bytes. */
  def rollingMinHashRef(w: Int, base: Long): UserDefinedFunction =
    udf((s: String) => Option(s).flatMap(t => windowPolys(t, w, base).minOption))

  /** `graft_cdc_boundaries`' reference: i + w for every window whose
    * polynomial has no bit of `mask` set. */
  def cdcBoundariesRef(w: Int, base: Long, mask: Long): UserDefinedFunction =
    udf((s: String) => Option(s).map(t => windowPolys(t, w, base).zipWithIndex
      .collect { case (h, i) if (h & mask) == 0L => i + w }))

  /** `graft_jaro_winkler`'s reference over UTF-8 bytes: greedy in-window
    * matching, half the misaligned matches (integer division) as
    * transpositions, and the prefix bonus only above 0.7. */
  def jaroWinklerRef: UserDefinedFunction = udf { (x: String, y: String) =>
    if (x == null || y == null) None
    else {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (a.isEmpty || b.isEmpty) Some(0.0)
      else if (a.sameElements(b)) Some(1.0)
      else {
        val window = math.max(math.max(a.length, b.length) / 2 - 1, 0)
        val used = scala.collection.mutable.Set.empty[Int]
        val matchedA = a.indices.filter { i =>
          val j = (math.max(0, i - window) until math.min(b.length, i + window + 1))
            .find(j => !used(j) && a(i) == b(j))
          j.foreach(used += _)
          j.isDefined
        }
        val m = matchedA.size
        if (m == 0) Some(0.0)
        else {
          val t = matchedA.map(a(_)).zip(used.toSeq.sorted.map(b(_))).count { case (p, q) => p != q }
          val md = m.toDouble
          val j0 = (md / a.length + md / b.length + (m - t / 2).toDouble / md) / 3.0
          val prefix = a.zip(b).take(4).takeWhile { case (p, q) => p == q }.length
          Some(if (j0 > 0.7) j0 + prefix * 0.1 * (1.0 - j0) else j0)
        }
      }
    }
  }

  /** `graft_pq_code`'s reference: the lowest-index nearest entry among
    * those of the vector's length with no null element, by a left-fold
    * squared distance; an entry at NaN or +∞ distance never wins; NULL
    * when the vector has a null element or no entry qualifies. */
  def pqCodeRef: UserDefinedFunction = udf {
    (v: Seq[java.lang.Double], books: Seq[Seq[java.lang.Double]]) =>
      if (v == null || books == null || v.contains(null)) None
      else {
        val dists = books.zipWithIndex.collect {
          case (c, p) if c != null && c.length == v.length && !c.contains(null) =>
            (v.zip(c).foldLeft(0.0) { case (d, (x, y)) =>
              val t = x.doubleValue - y.doubleValue; d + t * t }, p)
        }.filter(_._1 < Double.PositiveInfinity)
        if (dists.isEmpty) None else Some(dists.minBy(_._1)._2)
      }
  }
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

  private val texts = edgeTexts ++ randomTexts

  /** A text as raw bytes: a `String` part as its UTF-8, an `Int` part as
    * one byte, a byte array as it is. */
  private def bytes(parts: Any*): Array[Byte] = parts.flatMap {
    case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8).toSeq
    case b: Int => Seq(b.toByte)
    case b: Array[Byte] => b.toSeq
  }.toArray

  /** Texts the token kernels must split exactly as `split(text, " ")`
    * does: invalid UTF-8 (a lone FF, a lone continuation byte, an overlong
    * '/', a UTF-16 surrogate, a code point above U+10FFFF, a 4-byte
    * sequence cut off at the end), U+FFFD next to bytes that decode to
    * it, and whitespace other than 0x20 (tab, newline, CR, NBSP, U+3000)
    * next to real spaces; then seeded word salad over those pieces. */
  private val oddTexts: Seq[Array[Byte]] = {
    val ff = bytes(0xFF)
    val cont = bytes(0x80)
    val overlong = bytes(0xC0, 0xAF)
    val surrogate = bytes(0xED, 0xA0, 0x80)
    val above = bytes(0xF4, 0x90, 0x80, 0x80)
    val cut = bytes(0xF0, 0x9F, 0x98)
    val edges = Seq(ff, cont, overlong, surrogate, above, cut,
      bytes("a ", ff, " b ", ff, " a"), bytes(cont, " ", cont, cont, " x"),
      bytes("x ", overlong, " y ", overlong), bytes(surrogate, " z ", surrogate, " z"),
      bytes("q ", above, " q ", above), bytes("end ", cut), bytes("end  ", cut),
      bytes("\uFFFD ", ff, " \uFFFD ", cont), bytes("a", ff, "b c a", ff, "b"),
      bytes(ff, " ", ff, " ", ff, " ", ff), bytes("  ", 0xFE, "  "),
      bytes("a\tb c"), bytes("a\t b \tc a\tb"), bytes("line one\nline two\n"),
      bytes("a\r\nb c\r\n"), bytes("a\u00A0b a\u00A0b c"),
      bytes("\u3000 a\u3000b \u3000"), bytes("\t"), bytes("\n \n"),
      bytes("x \u00A0 x \u00A0 x"), bytes("tab\t", ff, " nbsp\u00A0", cont))
    val vocab = Vector(ff, cont, overlong, surrogate, above, bytes("\uFFFD"),
      bytes("the"), bytes("a"), bytes("über"), bytes(""), bytes("x\ty"),
      bytes("\u00A0"), bytes("\u3000"), bytes("w\n"))
    val rnd = new scala.util.Random(20261022L)
    val salad = (0 until 60).map { _ =>
      val words = Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
      val joined = words.flatMap(w => bytes(" ") ++ w).drop(1).toArray
      if (rnd.nextInt(4) == 0) joined ++ cut else joined
    }
    edges ++ salad
  }

  /** (id, text) over [[oddTexts]], the bytes passed through a binary
    * column cast to string, which keeps them as they are. */
  private def oddInput: DataFrame = {
    import org.apache.spark.sql.types._
    val rows = oddTexts.indices.map(i => Row(i.toLong, oddTexts(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
        StructType(Seq(StructField("id", LongType), StructField("bin", BinaryType))))
      .select(col("id"), col("bin").cast("string").as("text"))
  }

  /** A second text per row for `graft_jaro_winkler`: the same text, one
    * with two neighbouring characters swapped, one with a character
    * dropped or the first replaced, another row's text, or null. */
  private val otherTexts: Seq[String] = {
    val rnd = new scala.util.Random(20261019L)
    texts.zipWithIndex.map { case (t, i) =>
      val pos = if (t == null || t.length < 2) 0 else rnd.nextInt(t.length - 1)
      (i % 6, t) match {
        case (_, null) | (5, _) => if (rnd.nextBoolean()) null else texts(rnd.nextInt(texts.size))
        case (0, _) => t
        case (1, _) if t.length >= 2 =>
          t.substring(0, pos) + t(pos + 1) + t(pos) + t.substring(pos + 2)
        case (2, _) if t.nonEmpty => t.substring(0, pos) + t.substring(pos + 1)
        case (3, _) if t.nonEmpty => "Z" + t.substring(1)
        case _ => texts((i * 7 + 3) % texts.size)
      }
    }
  }

  private type Vec = Seq[java.lang.Double]

  private def vec(xs: Double*): Vec = xs.map(Double.box)

  /** (a, b) vector pairs: the IEEE specials, null arrays, null elements,
    * length mismatches and empty arrays, then seeded random pairs whose
    * elements are sometimes special or null. */
  private val vecPairs: Seq[(Vec, Vec)] = {
    val nul: Vec = Seq[java.lang.Double](1.0, null, 3.0)
    val inf = Double.PositiveInfinity
    val edges = Seq[(Vec, Vec)](
      (null, null), (null, vec(1.0)), (vec(1.0), null), (vec(), vec()),
      (vec(), vec(1.0)), (vec(1.0, 2.0, 3.0), vec(1.0, 2.0)), (nul, vec(1.0, 2.0, 3.0)),
      (vec(1.0, 2.0, 3.0), nul), (vec(Double.NaN, 1.0, 2.0), vec(1.0, 1.0, 1.0)),
      (vec(inf, 1.0, 2.0), vec(inf, 1.0, 2.0)), (vec(-inf, 0.0, 1.0), vec(inf, 0.0, 1.0)),
      (vec(-0.0, -0.0, -0.0), vec(0.0, 0.0, 0.0)), (vec(-0.0), vec(-0.0)),
      (vec(1e308, 1e308, 1e308), vec(1e308, -1e308, 1e308)),
      (vec(0.1, 0.2, 0.3), vec(0.3, 0.2, 0.1)))
    val rnd = new scala.util.Random(20261020L)
    val specials = Vector[java.lang.Double](Double.NaN, inf, -inf, -0.0, 0.0, 1e308, null)
    def elem(): java.lang.Double =
      if (rnd.nextInt(12) == 0) specials(rnd.nextInt(specials.size))
      else rnd.nextGaussian()
    val lengths = Vector(0, 1, 2, 3, 3, 3, 3, 5, 9)
    val random = Seq.fill(texts.size - edges.size) {
      val n = lengths(rnd.nextInt(lengths.size))
      val m = if (rnd.nextInt(8) == 0) lengths(rnd.nextInt(lengths.size)) else n
      (Seq.fill(n)(elem()), Seq.fill(m)(elem()))
    }
    edges ++ random
  }

  /** A PQ codebook per row for `graft_pq_code`: null, or up to five
    * entries, each null, a vector of the row's `a` length, one of the
    * wrong length, one with a null element, or a repeat of the previous
    * entry (a tie). */
  private val codebooks: Seq[Seq[Vec]] = {
    val rnd = new scala.util.Random(20261021L)
    vecPairs.map { case (a, _) =>
      val n = if (a == null) 3 else a.length
      def entry(len: Int): Vec = Seq.fill(len)(
        if (rnd.nextInt(15) == 0) Double.box(Double.NaN) else Double.box(rnd.nextGaussian()))
      if (rnd.nextInt(12) == 0) null
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[Vec]
        for (_ <- 0 until rnd.nextInt(6)) out += (rnd.nextInt(10) match {
          case 0 => null
          case 1 => entry(n + 1)
          case 2 if n > 0 => entry(n).updated(0, null)
          case 3 if out.nonEmpty => out.last
          case _ => entry(n)
        })
        out.toSeq
      }
    }
  }

  private def input: DataFrame = {
    import org.apache.spark.sql.types._
    val rows = texts.indices.map { i =>
      Row(i.toLong, texts(i), otherTexts(i), vecPairs(i)._1, vecPairs(i)._2, codebooks(i))
    }
    val vecType = ArrayType(DoubleType)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType),
        StructField("text2", StringType), StructField("a", vecType),
        StructField("b", vecType), StructField("books", ArrayType(vecType)))))
  }

  private val numHashes = 16
  private val as = (0 until numHashes).map(Dedup.minhashA)
  private val bs = (0 until numHashes).map(Dedup.minhashB)
  /** Base hashes for `graft_minhash_sig`: null for null text, and a null
    * ELEMENT for every base ≡ 0 mod 5 (the kernel and the fold skip it). */
  private val bases: Column = when(col("text").isNotNull,
    transform(transform(ngrams(col("text"), 1), s => Dedup.minhashBase(s)),
      h => when(h % 5 === 0, lit(null).cast("long")).otherwise(h)))

  /** Token hash halves for `graft_simhash64`: null for null text, with a
    * null element, a null `lo` or a null `hi` at every few positions. */
  private val halves: Column = {
    val halfType = "struct<lo:bigint,hi:bigint>"
    transform(Dedup.tokenHashHalves(col("text")), (s, i) =>
      when(i % 7 === 3, lit(null).cast(halfType))
        .when(i % 5 === 2, struct(lit(null).cast("long").as("lo"), s.getField("hi").as("hi")))
        .when(i % 5 === 4, struct(s.getField("lo").as("lo"), lit(null).cast("long").as("hi")))
        .otherwise(s))
  }

  private val jlSigns = VectorExpressions.jlSigns("kernel-spec", 5, 3)

  /** (case, kernel, composed reference); a case's name starts with the
    * `graft_*` function it covers. */
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
      minhashFold(bases, numHashes)),
    ("graft_dot", VectorExpressions.dot(col("a"), col("b")), VectorMath.dot(col("a"), col("b"))),
    ("graft_dist_sq", VectorExpressions.distSq(col("a"), col("b")),
      VectorMath.distSq(col("a"), col("b"))),
    ("graft_simhash64", VectorExpressions.simhash64(halves), simhash64Fold(halves)),
    ("graft_jl_project", VectorExpressions.jlProject(col("a"), "kernel-spec", 5, 3),
      jlProjectFold(col("a"), jlSigns)),
    ("graft_pq_code", VectorExpressions.pqCode(col("a"), col("books")),
      pqCodeRef(col("a"), col("books"))),
    ("graft_token_diversity", TextExpressions.tokenDiversity(col("text")),
      tokenDiversityFold(col("text"))),
    ("graft_repetition_stats", TextExpressions.repetitionStats(col("text")),
      repetitionFold(col("text"))),
    ("graft_jaro_winkler", TextExpressions.jaroWinkler(col("text"), col("text2")),
      jaroWinklerRef(col("text"), col("text2")))) ++
    Seq((4, 31L), (5, 257L)).map { case (w, base) =>
      (s"graft_rolling_min_hash w=$w base=$base",
        TextExpressions.rollingMinHash(col("text"), w, base),
        rollingMinHashRef(w, base)(col("text")))
    } ++
    Seq((4, 31L, 3L), (3, 257L, 7L)).map { case (w, base, mask) =>
      (s"graft_cdc_boundaries w=$w base=$base mask=$mask",
        TextExpressions.cdcBoundaries(col("text"), w, base, mask),
        cdcBoundariesRef(w, base, mask)(col("text")))
    }

  /** A cell as comparable bits: doubles by `doubleToLongBits`, arrays
    * element-wise, nulls as None. */
  private def bits(v: Any): Any = v match {
    case null => None
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case r: Row => r.toSeq.map(bits).toList
    case b: Array[Byte] => b.toList
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

  /** `kernel` and `reference` over every row of `rows`, under both
    * codegen modes: equal bit for bit, and the same in both modes. */
  private def assertEquivalent(rows: => DataFrame, n: Int, kernel: Column,
      reference: Column): Unit = {
    val results = Seq("CODEGEN_ONLY", "NO_CODEGEN").map { mode =>
      var out: Map[Long, (Any, Any)] = Map.empty
      underMode(mode) {
        val df = rows.select(col("id"), kernel.as("k"), reference.as("r"))
        out = df.collect().map(r => r.getLong(0) -> (bits(r.get(1)), bits(r.get(2)))).toMap
      }
      assert(out.size == n)
      out.foreach { case (id, (k, r)) =>
        assert(k == r, s"$mode id=$id: kernel $k vs reference $r")
      }
      mode -> out
    }.toMap
    assert(results("CODEGEN_ONLY") == results("NO_CODEGEN"))
  }

  for ((name, kernel, reference) <- cases) {
    test(s"$name: codegen ≡ interpreted ≡ composed reference, bit for bit") {
      assertEquivalent(input, texts.size, kernel, reference)
    }
  }

  private val tokenKernels = Set("graft_quality_score", "graft_ngrams",
    "graft_shingle_minhash", "graft_token_diversity", "graft_repetition_stats")

  for ((name, kernel, reference) <- cases if tokenKernels(name.takeWhile(_ != ' '))) {
    test(s"$name: invalid UTF-8 and non-space whitespace, codegen ≡ interpreted ≡ reference") {
      // n-grams compare as bytes: collecting a string decodes it, and the
      // decode would hide a bad byte the kernel let through
      val bytes = (c: Column) =>
        if (name.startsWith("graft_ngrams")) c.cast("array<binary>") else c
      assertEquivalent(oddInput, oddTexts.size, bytes(kernel), bytes(reference))
    }
  }

  test("token kernels read a string at its own base and offset, on or off heap") {
    import graft.functions.{CurationKernels, RepetitionKernel, TokenDiversityKernel}
    import org.apache.spark.unsafe.Platform
    import org.apache.spark.unsafe.types.UTF8String
    val stopSet = new java.util.HashSet[UTF8String]()
    stop.foreach(w => stopSet.add(UTF8String.fromString(w)))
    def results(u: UTF8String): Seq[Any] = Seq(CurationKernels.qualityScore(u, stopSet),
      CurationKernels.ngrams(u, 2).toSeq[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.getBytes.toSeq),
      CurationKernels.ngramBases(u, 3, Dedup.MinhashPrime).toLongArray().toSeq,
      RepetitionKernel.compute(u).toSeq(RepetitionKernel.schema),
      TokenDiversityKernel.compute(u).toSeq(TokenDiversityKernel.schema))
    (texts.filter(_ != null).map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)) ++
        oddTexts).foreach { b =>
      val expected = results(UTF8String.fromBytes(b))
      // mid-array: spaces before and after the slice must not leak in
      val padded = Array[Byte](' ', 'x', ' ') ++ b ++ Array[Byte](' ', 'y')
      assert(results(UTF8String.fromBytes(padded, 3, b.length)) == expected)
      val addr = Platform.allocateMemory(math.max(b.length, 1).toLong)
      try {
        Platform.copyMemory(b, Platform.BYTE_ARRAY_OFFSET, null, addr, b.length.toLong)
        assert(results(UTF8String.fromAddress(null, addr, b.length)) == expected)
      } finally Platform.freeMemory(addr)
    }
  }

  test("the invalid-UTF-8 rows reach the kernels byte for byte") {
    val back = oddInput.select(col("id"), col("text").cast("binary")).collect()
      .map(r => r.getLong(0).toInt -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(back == oddTexts.indices.map(i => i -> oddTexts(i).toSeq).toMap)
    assert(oddTexts.take(6).forall(b =>
      !org.apache.spark.unsafe.types.UTF8String.fromBytes(b).isValid))
  }

  test("every registered graft_* kernel has a row in the table") {
    val covered = cases.map(_._1.takeWhile(_ != ' ')).toSet
    val registered = (VectorExpressions.registrations ++ TextExpressions.registrations)
      .map(_._1.funcName)
    val missing = registered.filterNot(covered)
    assert(missing.isEmpty, s"kernels without an equivalence row: ${missing.mkString(", ")}")
  }

  test("SQL surface: literals are cast to the kernel's types; a bad affine family fails analysis") {
    val r = spark.sql("""SELECT
      graft_minhash_sig(array(3L), array(3L), array(1L), 2147483647) AS int_prime,
      graft_minhash_sig(array(3L), array(3), array(1), 2147483647L) AS int_coeffs,
      graft_shingle_minhash('a b', 1, array(3), array(1), 2147483647) AS shingle,
      graft_jl_project(array(1.0D, 2.0D), 's', 2L, 2L) AS jl,
      graft_rolling_min_hash('abcd', 2L, 31) AS rolling""").collect()(0)
    assert(r.getSeq[Long](0) == Seq(10L) && r.getSeq[Long](1) == Seq(10L))
    assert(r.getSeq[Long](2).length == 1)
    val signs = VectorExpressions.jlSigns("s", 2, 2)
    assert(r.getSeq[Double](3) == signs.toSeq.map(row => 0.0 + 1.0 * row(0) + 2.0 * row(1)))
    assert(r.getLong(4) == 'a' + 31L * 'b')
    // outside 0 < p < 2^31 or 0 <= a_j, b_j < p: rejected when the query
    // is analysed, before any task runs
    Seq("graft_minhash_sig(array(3L), array(3L), array(1L), 0)",
      "graft_minhash_sig(array(3L), array(3L), array(1L), 2147483648)",
      "graft_minhash_sig(array(3L), array(-3L), array(1L), 7)",
      "graft_minhash_sig(array(3L), array(3L), array(7L), 7)",
      "graft_shingle_minhash('a b', 1, array(3), array(1), 0)").foreach { call =>
      val e = intercept[Exception](spark.sql(s"SELECT $call"))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msgs.contains("prime must be in") || msgs.contains("coefficients must be in"),
        s"$call: $msgs")
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
