package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Arithmetic helpers that make aggregate results bit-identical between Spark
  * and a DuckDB oracle.
  *
  * Summing doubles is order-dependent; Spark and DuckDB will not agree to the
  * last ulp, and a final `round` can then flip at a boundary. Instead we cast
  * the money/quantity columns (which carry ≤2 decimal digits) to exact
  * DECIMAL, aggregate exactly, and cast the exact result back to DOUBLE. The
  * decimal→double conversion is deterministic (round-to-nearest of an exact
  * value) in both engines, so results match bit-for-bit regardless of
  * partitioning or row order — which also means they stay stable at 100 TB
  * where partial-aggregate ordering is arbitrary.
  */
object OracleArith {
  val Dec: DecimalType = DecimalType(18, 2)

  /** Column as exact 2-decimal value. */
  def dec2(c: Column): Column = c.cast(Dec)

  /** Exact sum of a ≤2-decimal double column, surfaced as double. */
  def sumDec(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Mean computed as exact-decimal sum divided by count, in double. */
  def avgDec(c: Column): Column =
    sum(dec2(c)).cast(DoubleType) / count(c)

  // DuckDB-side SQL fragments mirroring the helpers above.
  def sqlDec2(e: String): String = s"CAST($e AS DECIMAL(18,2))"
  def sqlSumDec(e: String): String = s"CAST(SUM(${sqlDec2(e)}) AS DOUBLE)"
  def sqlAvgDec(e: String): String =
    s"CAST(SUM(${sqlDec2(e)}) AS DOUBLE) / COUNT($e)"
}
