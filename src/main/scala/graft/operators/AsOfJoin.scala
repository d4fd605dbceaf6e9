package graft.operators

import org.apache.spark.sql.DataFrame

/** As-of (most-recent-prior) join — the classic time-series operator Spark's
  * built-ins lack as a first-class node.
  *
  * `joinAsOf(left, right, key, leftTs, rightKey, rightTs)`: for every left
  * row, attach the right row with the greatest `rightTs <= leftTs` for the
  * same key. It plans as the native whole-operator exec
  * ([[graft.plans.AsOfJoinNode]]): each side shuffles once on the key,
  * sorts within its partitions, and one streaming merge pass attaches the
  * match — linear in both sides, where a naive `b.ts <= a.ts` range join
  * materializes O(pairs-per-key).
  */
object AsOfJoin {

  /** Backward as-of join on one key column. Column names must be disjoint
    * between `left` and `right` (rename the right side first). Right
    * columns come back null-extended where no prior row exists; a NULL in
    * the matched right row stays NULL.
    *
    * Determinism: when the right side has multiple rows at the same
    * (key, ts), which one matches is tie-order dependent — pre-aggregate
    * the right side to one row per (key, ts) for fully deterministic
    * output, as q26_asof_join does.
    *
    * Both overloads plan only on a session that carries
    * [[graft.GraftExtensions]]' planner strategies: one from
    * [[graft.core.Sessions.local]], or one passed through
    * [[graft.core.Sessions.tune]].
    */
  def joinAsOf(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightKey: String, rightTs: String): DataFrame =
    joinAsOf(left, right, Seq(key), leftTs, Seq(rightKey), rightTs,
      graft.plans.AsOfBackward)

  /** Full surface: multi-column keys, either direction
    * ([[graft.plans.AsOfBackward]] = greatest rightTs <= leftTs, DuckDB
    * `ASOF ... ON r.ts <= l.ts`; [[graft.plans.AsOfForward]] = smallest
    * rightTs >= leftTs, DuckDB `ASOF ... ON r.ts >= l.ts`), and an
    * optional match tolerance (µs — null-extend when the nearest match is
    * further than this).
    */
  def joinAsOf(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightKeys: Seq[String], rightTs: String,
      direction: graft.plans.AsOfDirection,
      toleranceUs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val spark = left.sparkSession
    val lp = ColumnBridge.analyzedPlan(left)
    val rp = ColumnBridge.analyzedPlan(right)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${p.output.map(_.name)}"))
    ColumnBridge.ofRows(spark, graft.plans.AsOfJoinNode(lp, rp,
      keys.map(attr(lp, _)), attr(lp, leftTs),
      rightKeys.map(attr(rp, _)), attr(rp, rightTs), direction, toleranceUs))
  }
}
