package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE tokenizer-merge training over a corpus — the "train the
  * tokenizer" step of an LLM data pipeline (Sennrich et al. 2016 word
  * -internal byte-pair encoding, on whitespace-pretokenized words, no
  * end-of-word marker — documented simplification).
  *
  * Scale shape: the ONLY corpus-sized step is the word histogram (one
  * explode + one shuffle). Everything after runs on the histogram,
  * which is vocabulary-sized by construction — each merge iteration is
  * (a) a pair-count aggregation over the symbol arrays, (b) an argmax
  * (count desc, then lexicographic pair — fully deterministic), and
  * (c) a greedy left-to-right merge application, all over the same
  * vocab-sized table, re-checkpointed per round so lineage stays flat
  * (the ConnectedComponents fixpoint precedent). The single driver-side
  * materialization per round is the 1-row argmax — a bounded control
  * decision, not a data path.
  *
  * Merge-application semantics are greedy left-to-right,
  * non-overlapping — [a,a,a] under (a,a) → [aa,a] — implemented three
  * ways that must agree: the fold expression here, the plain-Scala
  * [[encodeWord]] tokenizer, and the DuckDB `replace` replay in
  * [[mergesOracleSql]] (LlmOpsSpec pins the agreement; the oracle pins
  * it cross-engine).
  *
  * Honest production note: real tokenizers learn 30k+ merges; at one
  * small Spark job per merge that loop is impractically chatty, and
  * every production trainer instead collects the (vocab-sized, heavily
  * prunable — see [[HeavyHitters]]) histogram and iterates in memory.
  * [[learnMergesLocal]] is that form, bit-identical to the distributed
  * loop; [[learnMerges]] exists for histograms too large to collect and
  * for modest merge counts, and is the form the oracle verifies.
  */
object BpeTrainer {

  case class Merge(merge_rank: Int, lhs: String, rhs: String, merged: String,
    pair_count: Long)

  /** Corpus word histogram: (word, freq), empty tokens dropped. The one
    * corpus-sized scan+shuffle of the pipeline. */
  def wordHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextStats.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Word → initial symbol array (its characters). */
  def initialSymbols(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** One greedy left-to-right merge pass of (left, right) → left+right
    * over a symbol array, as a fold: append each symbol, collapsing it
    * into the previous one when they form the pair. Matching the pair
    * consumes both symbols, so overlapping occurrences ([a,a,a] with
    * (a,a)) merge non-overlapping from the left. */
  def applyMerge(symbols: Column, left: String, right: String): Column =
    aggregate(symbols, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(left) && s === lit(right),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(left + right))))
        .otherwise(concat(acc, array(s))))

  /** Adjacent-pair occurrence counts over a symbol-array table, weighted
    * by word frequency: (l, r, cnt). */
  private def pairCounts(state: DataFrame): DataFrame =
    state.select(explode(zip_with(
        slice(col("symbols"), lit(1), size(col("symbols")) - 1),
        slice(col("symbols"), lit(2), size(col("symbols")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("freq"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))

  /** Learn `nMerges` merges from a (word, freq) histogram; returns the
    * merge table (merge_rank, lhs, rhs, merged, pair_count) in learn order.
    * Stops early when no adjacent pair remains. */
  def learnMerges(words: DataFrame, wordCol: String, freqCol: String,
      nMerges: Int): DataFrame = {
    val spark = words.sparkSession
    var state = words.select(
        initialSymbols(col(wordCol)).as("symbols"),
        col(freqCol).cast("long").as("freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    for (rank <- 1 to nMerges if !exhausted) {
      val best = pairCounts(state)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += Merge(rank, l, r, l + r, c)
        state = state
          .withColumn("symbols", applyMerge(col("symbols"), l, r))
          .localCheckpoint(true)
      }
    }
    import spark.implicits._
    merges.toSeq.toDF()
  }

  /** In-memory training over a collected histogram — the production form
    * for large merge counts. Identical output to [[learnMerges]]
    * (LlmOpsSpec asserts it); requires the histogram to fit the driver,
    * which [[wordHistogram]] + [[HeavyHitters]] pruning makes a
    * vocabulary-sized (not corpus-sized) demand. */
  /** Split a word into code-POINT symbols, matching Spark's substr
    * semantics in [[initialSymbols]]: a supplementary character (emoji)
    * is ONE symbol, never two surrogate halves. `String.map(_.toString)`
    * would split UTF-16 code units and diverge from the distributed
    * loop on any non-BMP text. */
  private def codePointSymbols(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** UTF-8 binary comparison — the order Spark's UTF8String sorts by
    * (== code-point order). Java String.compareTo is UTF-16 code-unit
    * order, which ranks supplementary characters BELOW U+E000..U+FFFF
    * and would break tie-break parity with [[learnMerges]]. */
  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def learnMergesLocal(histogram: Seq[(String, Long)], nMerges: Int): Seq[Merge] = {
    var state = histogram.map { case (w, f) => (codePointSymbols(w), f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var continue = true
    for (rank <- 1 to nMerges if continue) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      state.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) continue = false
      else {
        val ((l, r), c) = counts.min(
          Ordering.fromLessThan[((String, String), Long)] {
            case (((l1, r1), c1), ((l2, r2), c2)) =>
              if (c1 != c2) c1 > c2
              else {
                val cl = utf8Compare(l1, l2)
                if (cl != 0) cl < 0 else utf8Compare(r1, r2) < 0
              }
          })
        merges += Merge(rank, l, r, l + r, c)
        state = state.map { case (syms, f) => (mergeOnce(syms, l, r), f) }
      }
    }
    merges.toSeq
  }

  private def mergeOnce(syms: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Tokenize one word with a learned merge list (rank order). */
  def encodeWord(word: String, merges: Seq[(String, String)]): Vector[String] =
    merges.foldLeft(codePointSymbols(word)) {
      case (syms, (l, r)) => mergeOnce(syms, l, r)
    }

  /** Tokenize a word column with learned merges: (word, tokens, n_tok).
    * The merge list is tiny and rides in the closure (broadcast by the
    * task serializer); per-word work is the same greedy loop as
    * training, so encoding the training vocabulary reproduces its final
    * symbol state exactly (the oracle checks this cross-engine). */
  def encodeWords(words: DataFrame, wordCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    words.select(col(wordCol).cast("string")).as[String].map { w =>
      val toks = encodeWord(w, merges)
      (w, toks.mkString(" "), toks.length.toLong)
    }.toDF("word", "tokens", "n_tok")
  }

  /** DuckDB replay of [[wordHistogram]] + [[learnMerges]] as one unrolled
    * query: per merge k, a pair-count CTE over the previous state, a
    * 1-row argmax, and a state CTE applying the merge with non-
    * overlapping left-to-right `replace` over a double-space-delimited
    * symbol string (each symbol wrapped in its own delimiters, so
    * adjacent matches never share characters). Symbols never contain
    * spaces because words are split ON spaces. */
  def mergesOracleSql(nMerges: Int): String = {
    val head =
      """WITH words AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) > 0 GROUP BY word),
        |w0 AS (
        |  SELECT ' ' || array_to_string(list_transform(range(1, len(word)+1),
        |    i -> word[i]), '  ') || ' ' AS s, freq FROM words)""".stripMargin
    // LEFT JOIN ON TRUE + COALESCE, not a cross join: when merges exhaust
    // early (p_k empty → b_k empty), a cross join would EMPTY the state
    // chain and every later CTE; the left join carries the state through
    // unchanged, matching the Spark loop's early stop.
    val stages = (1 to nMerges).map { k =>
      s"""p$k AS (
         |  SELECT a[i] AS l, a[i+1] AS r, sum(freq) AS cnt
         |  FROM (SELECT string_split(trim(s, ' '), '  ') AS a, freq FROM w${k - 1}),
         |       unnest(range(1, len(a))) t(i)
         |  GROUP BY 1, 2),
         |b$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |w$k AS (
         |  SELECT COALESCE(replace(s, ' ' || b.l || '  ' || b.r || ' ',
         |    ' ' || b.l || b.r || ' '), s) AS s, freq
         |  FROM w${k - 1} LEFT JOIN b$k b ON TRUE)""".stripMargin
    }
    val union = (1 to nMerges).map { k =>
      s"SELECT $k AS merge_rank, l AS lhs, r AS rhs, l || r AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b$k"
    }.mkString("\nUNION ALL ")
    (head +: stages).mkString(",\n") + "\n" + union + "\nORDER BY merge_rank"
  }

  /** DuckDB replay of [[encodeWords]] over the corpus vocabulary: the
    * final state w<nMerges> of [[mergesOracleSql]]'s chain, carried with
    * its word, normalized back to single-space token strings. */
  def encodeOracleSql(nMerges: Int): String = {
    // same chain as mergesOracleSql, with the word column threaded
    // through the state CTEs so the final state maps back to its word
    val head =
      """WITH words AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) > 0 GROUP BY word),
        |w0 AS (
        |  SELECT word, ' ' || array_to_string(list_transform(range(1, len(word)+1),
        |    i -> word[i]), '  ') || ' ' AS s, freq FROM words)""".stripMargin
    // Same LEFT JOIN ON TRUE + COALESCE as mergesOracleSql: with a cross
    // join an early merge exhaustion (empty b_k) would empty w_k and the
    // final SELECT would return ZERO rows while Spark's encodeWords still
    // returns the whole vocabulary.
    val stages = (1 to nMerges).map { k =>
      s"""p$k AS (
         |  SELECT a[i] AS l, a[i+1] AS r, sum(freq) AS cnt
         |  FROM (SELECT string_split(trim(s, ' '), '  ') AS a, freq FROM w${k - 1}),
         |       unnest(range(1, len(a))) t(i)
         |  GROUP BY 1, 2),
         |b$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |w$k AS (
         |  SELECT word, COALESCE(replace(s, ' ' || b.l || '  ' || b.r || ' ',
         |    ' ' || b.l || b.r || ' '), s) AS s, freq
         |  FROM w${k - 1} LEFT JOIN b$k b ON TRUE)""".stripMargin
    }
    val tail =
      s"""SELECT word, array_to_string(string_split(trim(s, ' '), '  '), ' ') AS tokens,
         |  CAST(len(string_split(trim(s, ' '), '  ')) AS BIGINT) AS n_tok
         |FROM w$nMerges ORDER BY word""".stripMargin
    (head +: stages).mkString(",\n") + "\n" + tail
  }
}
