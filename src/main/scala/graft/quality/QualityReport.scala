package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-profile quality scoring and threshold alerts.
  *
  * Re-expresses the reference's quality-score surface (reference
  * tests/data_quality/test_insurance_data_quality.py:183-230 completeness/
  * uniqueness/validity, :294-335 report dict, :337-369 alert severities;
  * thresholds from dbt_project.yml:76-79) as ONE wide aggregation — a single
  * pass over the table producing a one-row report, which is the only shape
  * that stays cheap at 100 TB (no per-column jobs, no collect loops).
  */
object QualityReport {

  /** One-row report: per-column completeness (non-null fraction), per-column
    * uniqueness (distinct/non-null), and named validity fractions
    * (rows passing a predicate / total rows).
    */
  def profile(
      df: DataFrame,
      completenessCols: Seq[String],
      uniquenessCols: Seq[String],
      validity: Map[String, Column]): DataFrame = {
    val total = count(lit(1))
    val comp = completenessCols.map(c =>
      (count(col(c)).cast("double") / total).as(s"completeness_$c"))
    val uniq = uniquenessCols.map(c =>
      (countDistinct(col(c)).cast("double") / count(col(c))).as(s"uniqueness_$c"))
    val valid = validity.toSeq.sortBy(_._1).map { case (n, pred) =>
      avg(when(coalesce(pred, lit(false)), 1.0).otherwise(0.0)).as(s"validity_$n")
    }
    val all = (Seq(total.as("n_rows")) ++ comp ++ uniq ++ valid)
    df.agg(all.head, all.tail: _*)
  }

  /** Alert severity for a metric measured against an upper threshold:
    * below 90% of the threshold → "ok", between 90% and 100% → "warning",
    * above → "critical" (reference test_insurance_data_quality.py:337-369).
    */
  def severity(metric: Column, threshold: Double): Column =
    when(metric > threshold, "critical")
      .when(metric >= 0.9 * threshold, "warning")
      .otherwise("ok")

  /** Dataset-level threshold checks (reference dbt_project.yml:76-79 and
    * config.py:52-54:
    * max_null_percentage 5%, min_row_count 100, max_duplicate_percentage 1%)
    * over a key + checked column, emitting metric values and severities.
    */
  def datasetChecks(
      df: DataFrame,
      keyCol: String,
      nullCheckedCol: String,
      maxNullPct: Double = 0.05,
      minRowCount: Long = 100L,
      maxDupPct: Double = 0.01): DataFrame = {
    val total = count(lit(1))
    val nullPct = (total - count(col(nullCheckedCol))).cast("double") / total
    val dupPct = (count(col(keyCol)) - countDistinct(col(keyCol))).cast("double") / total
    df.agg(
      total.as("n_rows"),
      nullPct.as("null_pct"),
      dupPct.as("dup_pct"),
      severity(nullPct, maxNullPct).as("null_severity"),
      severity(dupPct, maxDupPct).as("dup_severity"),
      when(total < minRowCount, "critical").otherwise("ok").as("row_count_severity"))
  }
}
