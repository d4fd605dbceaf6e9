package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{IncrementalAgg, IncrementalJoin}
import graft.sources.VersionedTable

/** Continuous incremental view maintenance: a materialized grouped
  * count/sum view kept current from a CDC delta STREAM — the streaming
  * form of [[graft.operators.IncrementalAgg]] (q238's batch rule), so the
  * gold table refreshes at delta cost forever instead of on a rescan
  * schedule.
  *
  * One refresh step per view kind: [[foldRefresh]] (aggregate view) and
  * [[foldJoinRefresh]] (join view) fold delta chunks over a state, and
  * each stream's `foreachBatch` body is that fold over one chunk — its
  * batch — starting from the newest committed state. The gates fold
  * several chunks in one batch job; the streams fold one per
  * micro-batch; the code that refreshes is the same.
  *
  * Exactly-once without a transaction log: foreachBatch is at-least-once
  * by contract, so the state is VERSIONED — batch B reads the newest
  * committed state version strictly below B and commits its result as
  * [[VersionedTable]] version B (`v<B>`). A replayed batch whose version
  * is already committed skips the write: foreachBatch re-delivers the
  * same rows under the same batch id, so the committed version is
  * already its result. A crash mid-write leaves only a hidden staging
  * directory, never a version, so the replay computes and commits it
  * afresh. Because Structured Streaming serializes micro-batches per
  * query, the predecessor of B is always complete before B runs. The
  * version chain doubles as time travel for the view (the q194 pattern
  * applied to maintained state); [[VersionedTable.vacuum]] bounds it.
  *
  * Scale shape: each micro-batch shuffles only the delta at group
  * granularity plus a group-sized full-outer merge — state size is the
  * number of live groups, independent of how much history the stream has
  * absorbed. Sums stay exact DECIMAL end to end, so the maintained view
  * is bit-identical to a from-scratch recompute after ANY prefix of
  * batches — the invariant the gates and the restart spec pin.
  */
object IvmStream {

  import IncrementalJoin.{positive, signed}

  /** Chunks between two lineage cuts of a fold's (group-sized) state: its
    * lineage otherwise compounds chunk over chunk (each refresh inlines
    * the previous state's whole plan — guide §3.3) and a long fold's
    * analysis cost grows quadratically. Spaced, not per-chunk: an eager
    * cut is one extra job, and for the 3-chunk gates that job overhead
    * measurably exceeded the plan saving (full-bench r10: per-chunk
    * checkpoints cost q244 ~+1.9 s). Exact-DECIMAL sums make the cut
    * value-neutral wherever it lands.
    */
  private val CutEvery = 4

  /** `state` after chunk `i` of `n`, cut on every [[CutEvery]]-th chunk
    * that is not the last (a last cut would only add a job).
    */
  private def spaced(state: DataFrame, i: Int, n: Int): DataFrame =
    if ((i + 1) % CutEvery == 0 && i + 1 < n) graft.core.Materialize.cut(state)
    else state

  /** The aggregate view's refresh step: folds each delta chunk through
    * deltaState+refresh in order. Refresh composes (state after chunks
    * c1..cn equals one-shot refresh of c1∪..∪cn equals full recompute),
    * which is exactly what lets a stream maintain the view chunk by
    * chunk: [[maintainAggStream]] runs this over one batch.
    */
  def foldRefresh(base: DataFrame, deltaChunks: Seq[DataFrame],
      opCol: String, groupCols: Seq[String],
      sums: Seq[(String, String)]): DataFrame =
    deltaChunks.zipWithIndex.foldLeft(base) { case (state, (d, i)) =>
      spaced(IncrementalAgg.refresh(state,
        IncrementalAgg.deltaState(d, opCol, groupCols, sums),
        groupCols, sums.map(_._1)), i, deltaChunks.length)
    }

  /** Committed versions at `path` strictly below batch `before`. */
  private def below(spark: SparkSession, path: String, before: Long): Seq[Long] =
    VersionedTable.versions(spark, path).filter(_ < before)

  /** Commit `df` as batch `batchId`'s version at `path`. A re-run batch
    * finds its version committed and writes nothing.
    */
  private def commitBatch(path: String, batchId: Long, df: DataFrame): Unit =
    VersionedTable.commit(df.sparkSession, df, path, batchId)

  /** Newest committed state strictly below `before` (None = the view has
    * absorbed no batch yet), as a frame.
    */
  def latestState(spark: SparkSession, statePath: String,
      before: Long = Long.MaxValue): Option[DataFrame] =
    below(spark, statePath, before).lastOption
      .map(VersionedTable.read(spark, statePath, _))

  /** Maintain the view from a CDC delta stream. `baseState` is the
    * initial materialization ([[IncrementalAgg.state]] of the base
    * table); each micro-batch folds its own delta over the newest
    * committed version and commits the result. Caller starts/stops the
    * returned writer.
    */
  def maintainAggStream(deltas: DataFrame, baseState: DataFrame,
      statePath: String, checkpointDir: String, opCol: String,
      groupCols: Seq[String], sums: Seq[(String, String)]): DataStreamWriter[Row] =
    deltas.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prev = latestState(batch.sparkSession, statePath, before = batchId)
          .getOrElse(baseState)
        commitBatch(statePath, batchId,
          foldRefresh(prev, Seq(batch), opCol, groupCols, sums))
      }

  /** The join view's refresh step: each chunk is a (ΔR, ΔS) pair applied
    * through the three-term signed delta rule against the relations AS
    * OF the previous chunk, kept as signed multisets (`rOld`/`sOld`:
    * [[IncrementalJoin.positive]] bases ∪ applied deltas ±1) so no chunk
    * ever rewrites a base snapshot. `state` is the view over
    * `rOld ⋈ sOld`. [[maintainJoinAggStream]] runs this over one batch.
    */
  def foldJoinRefresh(rOld: DataFrame, sOld: DataFrame, state: DataFrame,
      chunks: Seq[(DataFrame, DataFrame)], opCol: String,
      joinKeys: Seq[String], groupCols: Seq[String],
      sums: Seq[(String, String)]): DataFrame =
    chunks.zipWithIndex.foldLeft((rOld, sOld, state)) {
      case ((r, s, st), ((rD, sD), i)) =>
        // r/s stay LAZY unions on purpose: materializing base ∪ deltas
        // would rewrite the full relation per chunk — exactly what the
        // signed-log design avoids — while the lazy union costs one base
        // scan wherever it is consumed
        val next = IncrementalAgg.refresh(st,
          IncrementalJoin.deltaJoinState(r, rD, s, sD, opCol, joinKeys,
            groupCols, sums),
          groupCols, sums.map(_._1))
        (r.unionByName(signed(rD, opCol)), s.unionByName(signed(sD, opCol)),
          spaced(next, i, chunks.length))
    }._3

  /** Maintain a JOIN-aggregate view from ONE multi-table CDC stream (the
    * shape a CDC bus delivers: each row tagged `sideCol` ∈ {"r", "s"}
    * with the other side's columns null). Storage is log-structured:
    *
    *   - `statePath/rlog`, `statePath/slog` — append-only SIGNED delta
    *     logs, one [[VersionedTable]] version per micro-batch (`v<id>`,
    *     empty when the batch has no rows for that side, so "committed
    *     empty" stays distinct from "not committed"); a replay skips a
    *     version already committed;
    *   - `statePath/view/v<id>` — the versioned maintained view,
    *     [[maintainAggStream]]'s exactly-once chain.
    *
    * Batch B folds its deltas over base ∪ log(< B) — the committed log
    * prefix is the log versions below B, so a replayed batch's own log
    * version never reaches its reader — and a delete is a −1 log row, so
    * base relations are NEVER rewritten. Log growth is bounded by compacting
    * the log into a new base version offline (q154's machinery); the
    * algebra is indifferent to when, since base ∪ log is the same
    * multiset before and after.
    */
  def maintainJoinAggStream(cdc: DataFrame,
      rBase: DataFrame, sBase: DataFrame,
      statePath: String, checkpointDir: String,
      sideCol: String, opCol: String, joinKeys: Seq[String],
      rCols: Seq[String], sCols: Seq[String],
      groupCols: Seq[String], sums: Seq[(String, String)]): DataStreamWriter[Row] =
    cdc.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        def side(tag: String, cols: Seq[String]): DataFrame =
          batch.filter(col(sideCol) === tag)
            .select((opCol +: cols).map(col): _*)
        val rD = side("r", rCols)
        val sD = side("s", sCols)
        commitBatch(s"$statePath/rlog", batchId, signed(rD, opCol))
        commitBatch(s"$statePath/slog", batchId, signed(sD, opCol))
        def oldSide(base: DataFrame, path: String): DataFrame = {
          val committed = below(spark, path, batchId)
          if (committed.isEmpty) positive(base)
          else positive(base).unionByName(
            VersionedTable.read(spark, path, committed: _*))
        }
        val prev = latestState(spark, s"$statePath/view", before = batchId)
          .getOrElse(IncrementalAgg.state(
            rBase.join(sBase, joinKeys), groupCols, sums))
        commitBatch(s"$statePath/view", batchId, foldJoinRefresh(
          oldSide(rBase, s"$statePath/rlog"), oldSide(sBase, s"$statePath/slog"),
          prev, Seq((rD, sD)), opCol, joinKeys, groupCols, sums))
      }

  /** Collapse a signed multiset (base +1 ∪ log ±1, the storage
    * [[maintainJoinAggStream]] keeps its relations in) back into a plain
    * relation: net multiplicity per distinct row, rows with net > 0
    * replicated net times. This is the COMPACTION step that bounds log
    * growth — the algebra is indifferent to when it runs because
    * base ∪ log and its compaction denote the same multiset, so a
    * maintenance stream can swap (base', empty log) for (base, log)
    * between batches and every later ΔV is unchanged. Cost: one
    * group-level shuffle over base+log; the explode is a Generate over
    * net counts (net is a tiny int for CDC workloads — a row's history
    * length, not a corpus dimension).
    *
    * The [[IncrementalJoin.Sign]] column is consumed; a net < 0 row (a
    * delete of a row the base never had) is a malformed feed and surfaces
    * as a thrown error from the negative sequence length rather than
    * being silently dropped.
    */
  def compactSigned(signedRows: DataFrame): DataFrame = {
    val dataCols = signedRows.columns.filter(_ != IncrementalJoin.Sign).toSeq
    signedRows.groupBy(dataCols.map(col): _*)
      .agg(sum(col(IncrementalJoin.Sign).cast("long")).as("__net"))
      .filter(col("__net") =!= 0L)
      // explicit +1 step: sequence(1, net) with net < 0 would silently
      // count DOWN; with the step pinned it throws on a malformed feed
      .withColumn("__i", explode(sequence(lit(1L), col("__net"), lit(1L))))
      .select(dataCols.map(col): _*)
  }
}
