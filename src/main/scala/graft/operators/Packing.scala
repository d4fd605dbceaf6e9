package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for context-window training: lay every document's tokens
  * end-to-end in a global stream (ordered by id) and cut the stream every
  * `capacity` tokens — the standard concat-and-chunk packing that turns a
  * corpus into fixed-length training sequences with zero padding. Each
  * document gets its global token offset, its first/last bin, and whether it
  * straddles a bin boundary (the fraction of straddlers is the packing's
  * attention-contamination metric).
  *
  * Scale design: the global offset is a distributed prefix sum, NOT a single
  * unpartitioned window (`Window.orderBy(id)` with no partition key funnels
  * 100 TB through one task). Two phases: (1) range-shard by id and aggregate
  * one token total per shard — a tiny frame collected to the driver exactly
  * like broadcast-join build sides; (2) each shard adds its exclusive shard
  * prefix (a literal map lookup) to a within-shard running sum, a window
  * partitioned BY SHARD so every task streams only its own slice. The result
  * is deterministic regardless of where the range sampler places shard
  * boundaries, because offsets depend only on the id order.
  */
object Packing {

  /** Each row with its exclusive global running total of `weightCol` in
    * `idCol` order, as column `offset`.
    */
  def withGlobalOffsets(df: DataFrame, idCol: String, weightCol: String): DataFrame =
    withGlobalOffsets(df, Seq(idCol), weightCol)

  /** Multi-column order form: the running total follows the lexicographic
    * `orderCols` order (which must be a total order — include a unique
    * tie-break column), same two-phase sharded prefix sum.
    */
  def withGlobalOffsets(df: DataFrame, orderCols: Seq[String],
      weightCol: String): DataFrame = {
    val shard = "graft_pack_shard"
    // shared two-phase scaffolding (correctness pin, prefix fold) lives in
    // ShardedScan; NOTE Materialize.release is a session-wide sweep:
    // calling it with a packed/ranked result still PENDING recomputes that
    // result over freshly-sampled shard boundaries (inconsistent offsets) —
    // consume all such results first, as its scaladoc requires.
    // cast BEFORE summing, matching the within-shard window below —
    // casting the sum instead would make fractional weights contribute to
    // the next shard's prefix but not to their own shard's running
    // totals, producing partitioning-dependent offsets
    val s = ShardedScan.prefix(df, orderCols, shard,
      sum(col(weightCol).cast("long")), 0L, _ + _)
    val withinShard = Window.partitionBy(shard).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    s.frame
      .withColumn("offset",
        s.prefixLookup +
          coalesce(sum(col(weightCol).cast("long")).over(withinShard), lit(0L)))
      .drop(shard)
  }

  /** Each row with the EXCLUSIVE global running maximum of long column
    * `valueCol` in `orderCols` order (the max over strictly-preceding
    * rows; NULL for the global first row) as column `out` — the
    * watermark primitive: "the highest event time seen before this
    * arrival". Same two-phase sharded shape as [[withGlobalOffsets]]
    * (running max is associative exactly like the running sum): phase 1
    * collects one per-shard max (driver state the size of the shard
    * count), phase 2 combines each shard's exclusive prefix max with a
    * within-shard window — no global single-partition window. The shard
    * cache is a correctness pin exactly as in [[withGlobalOffsets]]
    * (resampled boundaries would desynchronize the prefix map).
    *
    * Reserved value: `Long.MinValue` is the internal "nothing before"
    * sentinel, so a data value equal to it is indistinguishable from an
    * absent prefix and reports NULL. Real value domains (epoch micros,
    * sequence numbers, counts) never carry it; a column that could must
    * be shifted by the caller first.
    */
  def withGlobalRunningMax(df: DataFrame, orderCols: Seq[String],
      valueCol: String, out: String = "running_max"): DataFrame = {
    val shard = "graft_rmax_shard"
    // MinValue = "nothing before" (running max's identity); the combined
    // exclusive max folds the shard prefix with the within-shard window
    val s = ShardedScan.prefix(df, orderCols, shard,
      max(col(valueCol).cast("long")), Long.MinValue, math.max)
    val withinShard = Window.partitionBy(shard).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val combined = greatest(
      coalesce(max(col(valueCol).cast("long")).over(withinShard),
        lit(Long.MinValue)),
      s.prefixLookup)
    s.frame
      .withColumn(out,
        when(combined === Long.MinValue, lit(null).cast("long"))
          .otherwise(combined))
      .drop(shard)
  }

  /** Concat-and-chunk packing at `capacity` tokens per bin: global offset,
    * first/last bin index and the boundary-straddle flag per document.
    */
  def sequencePacking(df: DataFrame, idCol: String, weightCol: String,
      capacity: Int): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    binify(withGlobalOffsets(df, idCol, weightCol), weightCol, capacity)
  }

  /** Group-isolated packing — one token stream and bin numbering PER GROUP
    * (source, language, curriculum stage…), the "never mix sources inside a
    * context window" discipline of multi-corpus pretraining: a bin boundary
    * always falls within one group, so no training sequence ever spans two.
    *
    * NOT a per-group window (a dominant source would funnel through one
    * task): offsets come from ONE global two-phase prefix sum in
    * (group, id) order — rows of a group are contiguous in that order, so
    * the group-local offset is the global offset minus the group's base
    * (its first row's global offset, a group-count-sized aggregate joined
    * back by broadcast). Skew-safety is inherited from
    * [[withGlobalOffsets]]' range sharding: a giant group spans many
    * shards, each sorted independently.
    */
  def groupedSequencePacking(df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, capacity: Int): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    val globalOff = withGlobalOffsets(df, Seq(groupCol, idCol), weightCol)
    // group base via min-over-the-group rather than a driver-side cumsum of
    // group totals: the latter would have to replicate the engine's sort
    // order for the group column on the driver (fraught for strings); min
    // re-reads the shard cache both branches share
    val bases = globalOff.groupBy(groupCol).agg(min("offset").as("__group_base"))
    binify(
      globalOff.join(broadcast(bases), Seq(groupCol))
        .withColumn("offset", col("offset") - col("__group_base"))
        .drop("__group_base"),
      weightCol, capacity)
  }

  private def binify(withOffsets: DataFrame, weightCol: String,
      capacity: Int): DataFrame =
    withOffsets
      .withColumn("bin_first", expr(s"offset div $capacity"))
      // zero-weight rows occupy no tokens: clamp bin_last to bin_first so an
      // empty document sitting exactly on a capacity boundary doesn't report
      // bin_last < bin_first and a phantom boundary straddle
      .withColumn("bin_last", greatest(col("bin_first"),
        expr(s"(offset + cast(`$weightCol` as bigint) - 1) div $capacity")))
      .withColumn("spans_boundary", col("bin_first") =!= col("bin_last"))
}
