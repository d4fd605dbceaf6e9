package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark build function over a testdata dir plus an
  * optional DuckDB oracle SQL producing the identical result (same column
  * names — the driver's compare sorts columns by name before hashing).
  * Queries without an SQL-expressible oracle (sketches, approximate ops)
  * leave `oracle` empty and get a weaker rows-only check.
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(build: (SparkSession, String) => DataFrame, sql: String): QueryDef =
    QueryDef(build, Some(sql))

  /** Deterministic gate output: `Materialize.pin(df).orderBy(cols)`.
    *
    * A global sort shuffles by RANGE, and building the range bounds runs a
    * SAMPLING pass over the sort's child — so everything between the last
    * materialization and the orderBy executes TWICE (once to sample, once
    * to shuffle). For a gate whose final stage is real work (windows,
    * rebuild joins, explodes), that is a 2x on the most expensive stage —
    * measured on q195 as two back-to-back 0.7 s passes over the same
    * window pipeline. The lazy pin fixes it without any extra job: the
    * sampling pass (always first, by construction of RangePartitioner)
    * fills the cache and the shuffle map reads blocks. At scale the trade
    * is one output-sized block write+read against recomputing the final
    * stage — the standard materialize-before-global-sort discipline.
    */
  def orderedOut(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    Materialize.pin(df).orderBy(cols: _*)

  def orderedOut(df: DataFrame, first: String, rest: String*): DataFrame =
    orderedOut(df,
      (first +: rest).map(org.apache.spark.sql.functions.col): _*)
}
