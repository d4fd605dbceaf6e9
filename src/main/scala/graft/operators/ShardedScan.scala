package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The shared scaffolding of every two-phase distributed prefix scan in
  * this package ([[Packing.withGlobalOffsets]], [[Curriculum.withGlobalRank]],
  * [[Packing.withGlobalRunningMax]]): range-shard the data on the order
  * columns, collect ONE Long per shard (driver state the size of the
  * shard count), fold the exclusive per-shard prefix with the scan's
  * combine op, and hand back the sharded frame plus a codegen lookup
  * column mapping each row's shard to its prefix. The caller adds its
  * within-shard window on top — sum, row_number, or max — so each shard
  * ranks only its own slice and no scan ever funnels through one task.
  *
  * One definition of the shared concerns: the sharded frame is a
  * CORRECTNESS pin ([[graft.core.Materialize.pin]]: phase 1's shard
  * boundaries must be bitwise the ones phase 2 sees — a recompute would
  * resample them and desynchronize the prefix map), released with the
  * session's other pins by [[graft.core.Materialize.release]], and an
  * empty input degrades to a constant-identity lookup.
  */
private[operators] object ShardedScan {

  /** `folded` is the combine-fold over ALL shard values (e.g. the corpus
    * total for a sum scan) — free driver state some callers also need.
    */
  final case class Sharded(frame: DataFrame, prefixLookup: Column, folded: Long)

  /** `shardCol` stays caller-chosen (it appears in plan fingerprints the
    * plan-shape tests match); `perShard` must aggregate to a nullable
    * LONG (null ↦ `identity`); `combine` must be associative with
    * `identity` as its unit.
    */
  def prefix(df: DataFrame, orderCols: Seq[String], shardCol: String,
      perShard: Column, identity: Long,
      combine: (Long, Long) => Long): Sharded = {
    val sharded = graft.core.Materialize.pin(
      df.repartitionByRange(orderCols.map(col): _*)
        .withColumn(shardCol, spark_partition_id()))
    val shardVals = sharded.groupBy(shardCol).agg(perShard.as("v"))
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) identity else r.getLong(1))).toMap
    val maxShard = if (shardVals.isEmpty) -1 else shardVals.keys.max
    val prefix = new Array[Long](maxShard + 1)
    var acc = identity
    var p = 0
    while (p <= maxShard) {
      prefix(p) = acc
      acc = combine(acc, shardVals.getOrElse(p, identity))
      p += 1
    }
    val lookup: Column =
      if (maxShard < 0) lit(identity)
      else element_at(
        map((0 to maxShard).flatMap(i => Seq(lit(i), lit(prefix(i)))): _*),
        col(shardCol))
    Sharded(sharded, lookup, acc)
  }
}
