package graft.llmops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Md5Hash60

/** Group-size privacy operators for corpus release — the structured-data
  * counterpart of [[TextStats]]' PII redaction: token-level redaction
  * removes identifiers from text, k-anonymity removes IDENTIFIABILITY
  * from metadata (a quasi-identifier combination seen fewer than k times
  * pins down an individual even with direct identifiers gone).
  *
  * Scale shape: group sizes come from a `groupBy().count()` (map-side
  * partial aggregation absorbs hot combinations) joined back null-safely
  * on the quasi columns — NOT a `count() over (partition by quasi)`
  * window, which buffers every row of a hot combination in one task's
  * frame. The count table has one row per distinct combination; when
  * that is small Spark's own stats broadcast it (AQE), otherwise it
  * sort-merges on the same key the window would have shuffled on anyway
  * — strictly no worse, skew-safe, and the partial agg makes the count
  * side cheap.
  */
object Privacy {

  /** Per-row size of the row's quasi-identifier group (null-safe: NULL
    * combinations group together, matching SQL GROUP BY). Adds
    * `sizeCol`; row order and all other columns pass through. */
  def withGroupSize(df: DataFrame, quasiCols: Seq[String],
      sizeCol: String = "group_size"): DataFrame = {
    require(quasiCols.nonEmpty, "k-anonymity needs at least one quasi-identifier column")
    // The join rename scheme reserves `_q_<col>` and `sizeCol`; an input
    // already carrying one would silently collide in the join/drop.
    val clash = df.columns.filter(c =>
      c == sizeCol || quasiCols.map(q => s"_q_$q").contains(c))
    require(clash.isEmpty,
      s"input carries reserved column name(s) ${clash.mkString(", ")} — " +
      "rename them (or pass a different sizeCol) before withGroupSize")
    val counts = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as(sizeCol))
      .select(quasiCols.map(c => col(c).as(s"_q_$c")) :+ col(sizeCol): _*)
    val cond = quasiCols.map(c => df(c) <=> counts(s"_q_$c")).reduce(_ && _)
    df.join(counts, cond).drop(quasiCols.map(c => s"_q_$c"): _*)
  }

  /** Randomized response (Warner 1965) — per-row local privatization of a
    * boolean attribute: each row reports its TRUE flag with probability
    * p = truthPermille/1000 and the FLIPPED flag otherwise, so no single
    * released row proves anything about its subject (local differential
    * privacy with ε = ln(p/(1−p))), yet population counts remain
    * estimable via [[rrEstimate]]. The complement of [[kAnonymize]]:
    * suppression protects against re-identification BY quasi-identifiers,
    * randomized response protects the sensitive VALUE itself.
    *
    * The coin is the md5-bucket device ([[TextStats.splitBucket]]'s
    * doctrine): content-keyed on the row id, so the release is
    * reproducible across engines and reprocessing — rerunning the
    * pipeline can never re-flip a different subset and leak the truth by
    * diffing two releases (a fresh-RNG release is its own side channel).
    * Integer threshold compare, no floats anywhere.
    *
    * Output: input columns with `flagCol` REPLACED by boolean `reported`
    * — the true flag never survives into the released frame. Map-side
    * only; no shuffle. */
  def randomizedResponse(df: DataFrame, idCol: String, flagCol: String,
      truthPermille: Int = 750): DataFrame = {
    require(truthPermille > 500 && truthPermille < 1000,
      s"truthPermille must be in (500, 1000): >500 keeps the estimator's " +
      s"denominator positive, <1000 keeps the privacy guarantee non-vacuous " +
      s"(got $truthPermille)")
    val bucket = pmod(Md5Hash60(col(idCol).cast("string")), lit(1000L))
    df.withColumn("reported",
        when(bucket < truthPermille, col(flagCol)).otherwise(!col(flagCol)))
      .drop(flagCol)
  }

  /** Debiased group counts over a [[randomizedResponse]] release: with
    * r = Σ reported and truth rate p, E[r] = p·t + (1−p)(n−t), so
    * t̂ = (1000·r − (1000−p‰)·n) / (2·p‰ − 1000) — an exact integer
    * numerator over a constant denominator, evaluated as ONE int→double
    * division (identical in any engine; the whole estimate is
    * hash-reproducible). One groupBy with map-side partials; t̂ has
    * standard error O(√n)/(2p−1), so estimates sharpen as groups grow —
    * the released statistic is useful exactly where privacy needs it to
    * be (large groups), noisy where identification would be possible
    * (small ones). */
  def rrEstimate(released: DataFrame, groupCols: Seq[String],
      truthPermille: Int = 750): DataFrame = {
    require(groupCols.nonEmpty, "rrEstimate needs at least one group column")
    released.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("reported"), 1L).otherwise(0L)).as("n_reported"))
      .withColumn("est_true",
        (lit(1000L) * col("n_reported") -
          lit((1000 - truthPermille).toLong) * col("n")).cast("double") /
          lit((2 * truthPermille - 1000).toDouble))
  }

  /** k-anonymity by suppression: every quasi-identifier column of a row
    * whose combination occurs fewer than k times is replaced by
    * `redacted` (columns become string-typed; suppression is
    * all-or-nothing per row, the standard cell-suppression baseline).
    * The released table is k-anonymous over `quasiCols`: every surviving
    * combination either occurs ≥ k times or is the redacted one. */
  def kAnonymize(df: DataFrame, quasiCols: Seq[String], k: Int,
      redacted: String = "*"): DataFrame = {
    val sized = withGroupSize(df, quasiCols, "_gsize")
    val out = quasiCols.foldLeft(sized) { (acc, c) =>
      acc.withColumn(c,
        when(col("_gsize") < k, lit(redacted)).otherwise(col(c).cast("string")))
    }
    out.drop("_gsize")
  }
}
