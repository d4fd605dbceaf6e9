package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality rules compiling to violation DataFrames.
  *
  * This is the Spark-first re-expression of the reference's dbt test surface
  * (reference dbt/models/sources.yml:13-77 — not_null/unique/accepted_values;
  * dbt_project.yml:61-63 stores failing rows) and of the executable pandas
  * rules in reference tests/data_quality/test_insurance_data_quality.py
  * (regex/range/cross-column/conditional/duration, :31-267).
  *
  * Each rule compiles to a *predicate over rows* (or, for [[Unique]], an
  * aggregation over keys) whose violating rows are returned as a DataFrame —
  * never collected. At 100 TB the violation scan is a single pushdown-friendly
  * pass; `Unique` is the only rule that shuffles (groupBy on the key).
  */
sealed trait Rule {
  /** Stable rule identifier, used in reports and stored-failure tables. */
  def name: String

  /** Rows of `df` violating the rule. */
  def violations(df: DataFrame): DataFrame
}

/** A rule defined by a row predicate: violation = NOT pred (null-safe —
  * a null predicate result counts as a violation, matching SQL three-valued
  * logic where the row fails to *pass* the check).
  */
sealed trait PredicateRule extends Rule {
  /** Predicate a healthy row satisfies. */
  def passes: Column
  override def violations(df: DataFrame): DataFrame =
    df.filter(!coalesce(passes, lit(false)))
}

/** not_null (reference sources.yml:16-17 etc.). */
final case class NotNull(column: String) extends PredicateRule {
  val name = s"not_null_$column"
  def passes: Column = col(column).isNotNull
}

/** accepted_values (reference sources.yml:38-39,44-45,63-64). */
final case class AcceptedValues(column: String, values: Seq[String])
    extends PredicateRule {
  val name = s"accepted_values_$column"
  def passes: Column = col(column).isin(values: _*)
}

/** Regex format rule (reference test_insurance_data_quality.py:31-48). */
final case class Pattern(column: String, regex: String) extends PredicateRule {
  val name = s"pattern_$column"
  def passes: Column = col(column).rlike(regex)
}

/** Inclusive range rule (reference dbt_project.yml:82-84, tests :50-62). */
final case class InRange(column: String, lo: Double, hi: Double)
    extends PredicateRule {
  val name = s"range_$column"
  def passes: Column = col(column).between(lo, hi)
}

/** Arbitrary cross-column boolean rule (reference tests :75,126-132). */
final case class Check(name: String, passes: Column) extends PredicateRule

/** Conditional business rule: rows matching `when` must satisfy `then`
  * (reference tests :158-178 — LIFE ⇒ coverage ≥ 50k etc.).
  */
final case class Conditional(name: String, whenCond: Column, thenCond: Column)
    extends PredicateRule {
  // a null condition means the rule does NOT apply (the row passes) — a bare
  // !whenCond would propagate null and mis-flag the row as violating
  def passes: Column = !coalesce(whenCond, lit(false)) || coalesce(thenCond, lit(false))
}

/** Duration-between-dates rule in days (reference tests :250-267). */
final case class DurationDays(start: String, end: String, minDays: Int, maxDays: Int)
    extends PredicateRule {
  val name = s"duration_${start}_$end"
  def passes: Column = datediff(col(end), col(start)).between(minDays, maxDays)
}

/** unique — violations are the rows whose key occurs more than once
  * (reference sources.yml:15,52; dbt unique test shape).
  */
final case class Unique(columns: Seq[String]) extends Rule {
  val name = s"unique_${columns.mkString("_")}"

  /** The key values of `df` that occur more than once: one row each, key
    * columns only.
    */
  def dupKeys(df: DataFrame): DataFrame =
    df.groupBy(columns.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .drop("__n")

  // inner join back to surface the full violating rows, dbt-style
  override def violations(df: DataFrame): DataFrame =
    df.join(dupKeys(df), columns, "left_semi")
}
