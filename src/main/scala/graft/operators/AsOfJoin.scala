package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-prior) join — the classic time-series operator Spark's
  * built-ins lack as a first-class node.
  *
  * `joinAsOf(left, right, key, leftTs, rightTs)`: for every left row, attach
  * the right row with the greatest `rightTs <= leftTs` for the same key
  * (tolerance-bounded variant included). Composed from built-ins as
  * union + window over (key ORDER BY ts): tag both sides, sort-merge within
  * key, and carry the latest right row forward with `last(..., ignoreNulls)`.
  * ONE shuffle on the key and no range-join pair blowup — the same dataflow a
  * dedicated sort-merge as-of SparkPlan would run, which keeps it linear at
  * 100 TB (a naive `b.ts <= a.ts` range join materializes O(pairs-per-key)).
  */
object AsOfJoin {

  /** Native whole-operator form (graft.plans.AsOfJoinPlan): per-side shuffle
    * + in-partition sort + single streaming merge. Column names must be
    * disjoint between `left` and `right` (rename the right side first).
    * Right columns come back null-extended where no prior row exists.
    *
    * Determinism: when the right side has multiple rows at the same
    * (key, ts), which one matches is tie-order dependent (both here and in
    * the composed form) — pre-aggregate the right side to one row per
    * (key, ts) for fully deterministic output, as q26_asof_join does.
    *
    * Both native forms plan only on a session that carries
    * [[graft.GraftExtensions]]' planner strategies: one from
    * [[graft.core.Sessions.local]], or one passed through
    * [[graft.core.Sessions.tune]].
    */
  def joinAsOfNative(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightKey: String, rightTs: String): DataFrame =
    joinAsOfNative(left, right, Seq(key), leftTs, Seq(rightKey), rightTs,
      graft.plans.AsOfBackward)

  /** Full-surface native form: multi-column keys, either direction
    * ([[graft.plans.AsOfBackward]] = greatest rightTs <= leftTs, DuckDB
    * `ASOF ... ON r.ts <= l.ts`; [[graft.plans.AsOfForward]] = smallest
    * rightTs >= leftTs, DuckDB `ASOF ... ON r.ts >= l.ts`), and an
    * optional match tolerance (µs — null-extend when the nearest match is
    * further than this, the same bound [[joinAsOf]]'s `toleranceMs`
    * applies).
    */
  def joinAsOfNative(left: DataFrame, right: DataFrame, keys: Seq[String],
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

  def joinAsOf(
      left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      rightValueCols: Seq[String],
      toleranceMs: Option[Long] = None): DataFrame = {
    // tag and align the two sides: side 0 = right (wins ties at equal ts by
    // sorting first), side 1 = left. The right row rides as ONE struct so
    // the matched timestamp and its values always come from the SAME row —
    // carrying columns independently would let a null value in the matched
    // row fall back to an older row's value.
    val rightTagged = right.select(
      col(key), col(rightTs).as("__ts"), lit(0).as("__side"),
      struct((col(rightTs).as("__rts") +:
        rightValueCols.map(c => col(c).as(s"__r_$c"))): _*).as("__rrow"))
    val leftCols = left.columns
    val leftTagged = left.select(
      (col(key) +: col(leftTs).as("__ts") +: lit(1).as("__side") +:
        leftCols.map(c => col(c).as(s"__l_$c"))): _*)
    val unioned = leftTagged.unionByName(rightTagged, allowMissingColumns = true)

    val w = Window.partitionBy(key).orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = unioned
      .withColumn("__rrow", last(col("__rrow"), ignoreNulls = true).over(w))

    val matchTs = col("__rrow").getField("__rts")
    val matched = carried
      .filter(col("__side") === 1)
      .withColumn("__in_tolerance", toleranceMs match {
        case Some(tol) =>
          col("__rrow").isNotNull &&
            (unix_micros(col("__ts")) - unix_micros(matchTs)) <= tol * 1000L
        case None => col("__rrow").isNotNull
      })
    val out = leftCols.map(c => col(s"__l_$c").as(c)) ++
      Seq(when(col("__in_tolerance"), matchTs).as(s"asof_$rightTs")) ++
      rightValueCols.map(c =>
        when(col("__in_tolerance"), col("__rrow").getField(s"__r_$c")).as(s"asof_$c"))
    matched.select(out: _*)
  }
}
