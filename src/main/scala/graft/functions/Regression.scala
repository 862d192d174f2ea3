package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Per-group ordinary-least-squares trend — drift detection over metric
  * series (is a user's/sensor's/source's value trending, and how fast)
  * as a single aggregation, not a per-group model fit.
  *
  * Cross-engine determinism (the [[graft.queries.Det]] discipline,
  * extended to second moments): x is the 1-based rank in the group —
  * small exact integers — and y is rounded to DECIMAL(18,2), so every
  * sufficient statistic (Σx, Σy, Σxy, Σx², n) is EXACT and
  * order-independent; float enters only in the final
  * slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) and
  * intercept = (Σy − slope·Σx) / n, written as the identical operation
  * sequence in the SQL oracle. Σx² fits a long up to ~50M-row groups;
  * beyond that, window the series first.
  *
  * Two window/agg passes over ONE hash shuffle on the group key (the
  * rank's sort is reused by the aggregation's partial phase).
  */
object Regression {

  /** (groupCols..., n, slope, intercept); groups of one row get NULL
    * slope/intercept (zero denominator → NULL, as in SQL).
    *
    * Determinism contract: `orderCols ++ tieBreak` must order each group
    * UNIQUELY — x is a row_number over that ordering, so ties would make
    * Σxy (hence slope/intercept) run-dependent. Pass `tieBreak` (as
    * [[graft.catalog.Scd2.buildDimension]] does) when the natural order
    * columns can repeat. */
  def groupTrend(df: DataFrame, groupCols: Seq[String], yCol: String,
      orderCols: Seq[String], tieBreak: Seq[String] = Nil): DataFrame = {
    require(groupCols.nonEmpty && orderCols.nonEmpty)
    // Rows with NULL y are excluded BEFORE ranking — otherwise n/Σx/Σx²
    // would count rows the Σy/Σxy sums skip and the slope is silently
    // wrong (and the oracle, replaying the same formula, can't catch
    // it). The fit is over the observed points, x = rank among them.
    val observed = df.filter(col(yCol).isNotNull)
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy((orderCols ++ tieBreak).map(col): _*)
    val x = row_number().over(w).cast("long")
    val y = col(yCol).cast(DecimalType(18, 2))
    val sums = observed
      .withColumn("_x", x).withColumn("_y", y)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("_x")).as("sx"),
        sum(col("_y")).as("sy"),
        sum(col("_y") * col("_x")).as("sxy"),
        sum(col("_x") * col("_x")).as("sxx"))
    val num = (col("sxy") * col("n") - col("sx") * col("sy")).cast("double")
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val slope = when(den === 0.0, lit(null).cast("double")).otherwise(num / den)
    sums
      .withColumn("slope", slope)
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n").cast("double"))
      .select(groupCols.map(col) ++ Seq(col("n"), col("slope"), col("intercept")): _*)
  }
}
