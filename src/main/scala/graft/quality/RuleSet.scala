package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A named collection of rules evaluated against one table, with the
  * reference's quarantine and stored-failures semantics.
  *
  * - `annotate` tags every row with the list of failed rule names in ONE scan
  *   (all predicate rules fuse into a single projection — no per-rule pass).
  * - `quarantine` splits clean vs violating rows (reference
  *   tests/unit/test_ingestion.py:271-282 "quarantine_record").
  * - `failures` is the dbt `store_failures` shape: one row per (rule, row).
  *
  * [[Unique]] rules can't be expressed as a row-local predicate; `annotate`
  * handles them with a marker column, [[Unique.dupKeys]] joined back once
  * per unique rule (each is one shuffle on its key — at scale prefer a
  * single Unique on the primary key).
  */
final case class RuleSet(table: String, rules: Seq[Rule]) {

  private val predicateRules: Seq[PredicateRule] =
    rules.collect { case p: PredicateRule => p }
  private val uniqueRules: Seq[Unique] =
    rules.collect { case u: Unique => u }

  /** Input rows plus `failed_rules: array<string>` (empty = clean). */
  def annotate(df: DataFrame): DataFrame = {
    val predFlags: Seq[Column] = predicateRules.map { r =>
      when(!coalesce(r.passes, lit(false)), lit(r.name))
    }
    val withUniq = uniqueRules.foldLeft(df) { (acc, u) =>
      acc.join(u.dupKeys(df).withColumn(s"__dup_${u.name}", lit(true)),
        u.columns, "left_outer")
    }
    val uniqFlags: Seq[Column] = uniqueRules.map { u =>
      when(col(s"__dup_${u.name}") === true, lit(u.name))
    }
    withUniq
      .withColumn("failed_rules",
        array_compact(array((predFlags ++ uniqFlags): _*)))
      .drop(uniqueRules.map(u => s"__dup_${u.name}"): _*)
  }

  /** (clean rows, violating rows annotated with failed_rules). */
  def quarantine(df: DataFrame): (DataFrame, DataFrame) = {
    val ann = annotate(df)
    (ann.filter(size(col("failed_rules")) === 0).drop("failed_rules"),
      ann.filter(size(col("failed_rules")) > 0))
  }

  /** dbt store_failures shape: one row per violated (rule, row), tagged with
    * table and rule name.
    */
  def failures(df: DataFrame): DataFrame =
    annotate(df)
      .filter(size(col("failed_rules")) > 0)
      .withColumn("rule", explode(col("failed_rules")))
      .drop("failed_rules")
      .withColumn("table_name", lit(table))

  /** Per-rule violation counts in one job (counts the exploded failures). */
  def summary(df: DataFrame): DataFrame =
    failures(df).groupBy("table_name", "rule").agg(count(lit(1)).as("n_violations"))
}
