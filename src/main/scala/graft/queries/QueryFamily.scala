package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** A named group of verified queries: Spark implementation + (optionally)
  * an ANSI-SQL DuckDB oracle. The driver hash-compares both on sf0.01
  * (see Verify.scala); entries without oracle SQL get a rows-only check.
  */
trait QueryFamily {
  /** (name, sparkQuery, oracleSqlOrNone) */
  def defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])]

  final def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (n, f, _) => n -> f }.toMap
  final def oracle: Map[String, String] =
    defs.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}

/** Cross-engine numeric determinism helpers.
  *
  * Floating-point SUM is order-dependent, and Spark and DuckDB will not
  * visit rows in the same order — a raw sum(double) hash-mismatches in the
  * last ulps. Fix: round each value to a decimal first (exact in both
  * engines), sum exactly, then cast the exact total back to double. The
  * same expression exists verbatim in the oracle SQL.
  */
object Det {
  /** Exact money sum: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE). */
  def moneySum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")
  /** SQL text of moneySum for the DuckDB oracle. */
  def moneySumSql(x: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"
}
