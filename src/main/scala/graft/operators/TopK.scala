package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Top-k rows per group. The native form plans through
  * [[graft.plans.TopKPerGroupPlan]] (one hash exchange, per-group bounded
  * heaps, NO sort); the window formulation it replaces is the q33 gate.
  */
object TopK {

  /** The k best rows per `groupCol` ranked by `orderCol` (descending by
    * default), boundary ties broken by the smaller `tieCol` — include a
    * unique tie column for deterministic output. Rows with a null order or
    * tie value are dropped. Output order is unspecified (heap emission);
    * add an orderBy for presentation.
    *
    * Memory bound: the exec holds one k-row on-heap heap per DISTINCT
    * group per partition and does not spill, so a task needs roughly
    * `k × (groups / shuffle partitions) × row size` of heap. That is the
    * right trade for the usual "top documents per source/domain/query"
    * cardinalities (≤ millions of groups across the cluster); for
    * pathological group counts — groups ≈ rows, where top-k degenerates
    * toward a plain projection — use [[perGroupWindow]], whose sorter
    * spills at any cardinality in exchange for the full per-group sort.
    *
    * Plans only on a session that carries [[graft.GraftExtensions]]' planner
    * strategies: one from [[graft.core.Sessions.local]], or one passed
    * through [[graft.core.Sessions.tune]].
    */
  def perGroupNative(df: DataFrame, groupCol: String, orderCol: String,
      tieCol: String, k: Int, descending: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val plan = ColumnBridge.analyzedPlan(df)
    def attr(n: String) = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column $n in ${plan.output.map(_.name)}"))
    ColumnBridge.ofRows(spark, graft.plans.TopKPerGroupNode(
      plan, attr(groupCol), attr(orderCol), attr(tieCol), k, descending))
  }

  /** Spill-safe window formulation of [[perGroupNative]] — identical
    * output (same ranking, same tie-break, same null-row drop), but
    * through `row_number` over a per-group sort: memory is bounded by the
    * spilling sorter at ANY group cardinality, at the cost of sorting
    * every group end to end. Use when groups-per-partition × k outgrows
    * executor heap; TopKPerGroupSpec pins the equivalence.
    */
  def perGroupWindow(df: DataFrame, groupCol: String, orderCol: String,
      tieCol: String, k: Int, descending: Boolean = true): DataFrame = {
    val o = if (descending) col(orderCol).desc else col(orderCol).asc
    val w = Window.partitionBy(groupCol).orderBy(o, col(tieCol).asc)
    df.filter(col(orderCol).isNotNull && col(tieCol).isNotNull)
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= k)
      .drop("__graft_rn")
  }
}
