package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Key-skew diagnostics — the report a pipeline owner reads BEFORE a 100 TB
  * shuffle melts: which join/aggregation keys are hot, how hot relative to
  * the mean, and how concentrated the table is on its head keys. The
  * remediation operators already exist ([[graft.queries]] q29 salted agg,
  * AQE skew join in Sessions); this is the detection side of that
  * loop. Reference scope: generalizes the per-column profiling of
  * tests/unit/test_data_quality.py (null/uniqueness profiling) to load
  * profiling.
  *
  * Scale design: one map-side-combining groupBy produces the per-key
  * counts; the head selection is a distributed TakeOrdered (heap per
  * partition, no global sort); only the tiny top-N frame crosses a window
  * or the driver. The summary aggregate is a second pass over the counts
  * frame, which is keys-sized, not rows-sized — persist is the caller's
  * call via [[topKeysWithStats]]' single-action shape.
  */
object SkewReport {

  /** Per-key counts for `keyCol`: (key, cnt). Null keys count as a key —
    * null-heavy columns are the most common real-world skew. */
  def keyCounts(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))

  /** The `topN` heaviest keys with their load share and skew ratio:
    * (rank, key, cnt, share, cum_share, skew_vs_mean). `share` is the
    * key's fraction of all rows, `cum_share` the running head
    * concentration (top-k keys' combined share), `skew_vs_mean` =
    * cnt / (rows / distinct keys) — the factor by which the key's
    * partition would exceed an even spread (AQE's skewedPartitionFactor
    * is the same statistic at partition granularity).
    *
    * Ties break on the smaller key value so the report is deterministic.
    * The global window runs over `topN` rows only (post-limit), never the
    * full key set.
    */
  def topKeys(df: DataFrame, keyCol: String, topN: Int): DataFrame = {
    val counts = keyCounts(df, keyCol)
    val totals = counts.agg(
      sum(col("cnt")).as("__rows"), count(lit(1)).as("__keys"))
    val head = counts.orderBy(col("cnt").desc, col(keyCol).asc).limit(topN)
    val w = Window.orderBy(col("cnt").desc, col(keyCol).asc)
    head.crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_cnt", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(
        col("rank"),
        col(keyCol),
        col("cnt"),
        (col("cnt").cast("double") / col("__rows")).as("share"),
        (col("cum_cnt").cast("double") / col("__rows")).as("cum_share"),
        (col("cnt").cast("double") * col("__keys") / col("__rows"))
          .as("skew_vs_mean"))
  }

  /** One-row table health summary: (n_rows, n_keys, max_cnt, avg_cnt,
    * skew_ratio, top1_share). `skew_ratio` = max/avg is the headline
    * number — ≥ AQE's default skew factor (5) means the biggest key
    * would dominate its shuffle partition and wants salting.
    */
  def summary(df: DataFrame, keyCol: String): DataFrame =
    keyCounts(df, keyCol).agg(
      sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(col("cnt")).as("max_cnt"))
      .select(
        col("n_rows"), col("n_keys"), col("max_cnt"),
        (col("n_rows").cast("double") / col("n_keys")).as("avg_cnt"),
        (col("max_cnt").cast("double") * col("n_keys") / col("n_rows"))
          .as("skew_ratio"),
        (col("max_cnt").cast("double") / col("n_rows")).as("top1_share"))
}
