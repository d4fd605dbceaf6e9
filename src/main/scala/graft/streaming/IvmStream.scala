package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{IncrementalAgg, IncrementalJoin}

/** Continuous incremental view maintenance: a materialized grouped
  * count/sum view kept current from a CDC delta STREAM — the streaming
  * twin of [[graft.operators.IncrementalAgg]] (q238's batch rule), so the
  * gold table refreshes at delta cost forever instead of on a rescan
  * schedule.
  *
  * Exactly-once without a transaction log: foreachBatch is at-least-once
  * by contract, so the state is VERSIONED — batch B reads the newest
  * committed state version strictly below B and overwrites `v=B`. A
  * replayed batch re-reads the same predecessor and rewrites its own
  * version, never double-applying; a crash mid-write leaves a version
  * without parquet's `_SUCCESS` marker, which readers skip. Because
  * Structured Streaming serializes micro-batches per query, the
  * predecessor of B is always complete before B runs. The version chain
  * doubles as time travel for the view (the q194 pattern applied to
  * maintained state).
  *
  * Scale shape: each micro-batch shuffles only the delta at group
  * granularity plus a group-sized full-outer merge — state size is the
  * number of live groups, independent of how much history the stream has
  * absorbed. Sums stay exact DECIMAL end to end, so the maintained view
  * is bit-identical to a from-scratch recompute after ANY prefix of
  * batches — the invariant [[foldRefresh]] (the gate's batch twin) and
  * the restart spec pin.
  */
object IvmStream {

  /** Sequential multi-batch refresh — the deterministic batch twin of
    * [[maintainAggStream]]: folds each delta chunk through
    * deltaState+refresh in order. Refresh composes (state after chunks
    * c1..cn equals one-shot refresh of c1∪..∪cn equals full recompute),
    * which is exactly what lets a stream maintain the view chunk by
    * chunk.
    */
  def foldRefresh(base: DataFrame, deltaChunks: Seq[DataFrame],
      opCol: String, groupCols: Seq[String],
      sums: Seq[(String, String)],
      /** Checkpoint the (group-sized) state after every `checkpointEvery`
        * chunks: its lineage otherwise compounds chunk over chunk (each
        * refresh inlines the previous state's whole plan — guide §3.3) and
        * a long fold's analysis cost grows quadratically. Spaced, not
        * per-chunk: an eager checkpoint is one extra job, and for the
        * 3-chunk gates that job overhead measurably exceeded the plan
        * saving (full-bench r10: per-chunk checkpoints cost q244 ~+1.9 s).
        * Exact-DECIMAL sums make the cut value-neutral wherever it lands.
        */
      checkpointEvery: Int = 4): DataFrame = {
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    deltaChunks.zipWithIndex.foldLeft(base) { case (state, (d, i)) =>
      val next = IncrementalAgg.refresh(state,
        IncrementalAgg.deltaState(d, opCol, groupCols, sums),
        groupCols, sums.map(_._1))
      if ((i + 1) % checkpointEvery == 0 && i + 1 < deltaChunks.length)
        graft.core.Materialize.cut(next)
      else next
    }
  }

  /** Newest committed state version id strictly below `before` (None =
    * the view has absorbed no batch yet). Commit = the directory's
    * parquet `_SUCCESS` marker; a half-written version from a crash is
    * invisible. This is also what [[graft.plans.MvRewrite]]'s versioned
    * registry resolves at match time, so a query rewrite always reads
    * the newest committed refresh.
    */
  def latestVersion(spark: SparkSession, statePath: String,
      before: Long = Long.MaxValue): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val versions =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(s => s.isDirectory &&
          fs.exists(new Path(s.getPath, "_SUCCESS")))
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v=") => n.stripPrefix("v=").toLong }
        .filter(_ < before)
    if (versions.isEmpty) None else Some(versions.max)
  }

  /** Newest committed state strictly below `before`, as a frame. */
  def latestState(spark: SparkSession, statePath: String,
      before: Long = Long.MaxValue): Option[DataFrame] =
    latestVersion(spark, statePath, before)
      .map(v => spark.read.parquet(s"$statePath/v=$v"))

  /** Maintain the view from a CDC delta stream. `baseState` is the
    * initial materialization ([[IncrementalAgg.state]] of the base
    * table); each micro-batch advances the newest committed version by
    * its own delta. Caller starts/stops the returned writer.
    */
  def maintainAggStream(deltas: DataFrame, baseState: DataFrame,
      statePath: String, checkpointDir: String, opCol: String,
      groupCols: Seq[String], sums: Seq[(String, String)]): DataStreamWriter[Row] =
    deltas.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val prev = latestState(spark, statePath, before = batchId)
          .getOrElse(baseState)
        IncrementalAgg.refresh(prev,
            IncrementalAgg.deltaState(batch, opCol, groupCols, sums),
            groupCols, sums.map(_._1))
          .write.mode("overwrite").parquet(s"$statePath/v=$batchId")
      }

  /** Sequential multi-batch JOIN-view refresh — the batch twin of
    * [[maintainJoinAggStream]]: each chunk is a (ΔR, ΔS) pair applied
    * through the three-term signed delta rule against the relations AS
    * OF the previous chunk, kept as signed multisets (base +1 ∪ applied
    * deltas ±1) so no chunk ever rewrites a base snapshot.
    */
  def foldJoinRefresh(rBase: DataFrame, sBase: DataFrame,
      chunks: Seq[(DataFrame, DataFrame)], opCol: String,
      joinKeys: Seq[String], groupCols: Seq[String],
      sums: Seq[(String, String)]): DataFrame = {
    def signed(d: DataFrame): DataFrame =
      d.withColumn("__m",
        when(col(opCol) === "insert", 1).otherwise(-1)).drop(opCol)
    val init = (
      rBase.withColumn("__m", lit(1)),
      sBase.withColumn("__m", lit(1)),
      IncrementalAgg.state(rBase.join(sBase, joinKeys), groupCols, sums))
    chunks.zipWithIndex.foldLeft(init) { case ((rOld, sOld, state), ((rD, sD), i)) =>
      // state checkpoints are SPACED (see foldRefresh: per-chunk barriers
      // cost more than the plan-size saving at gate chunk counts; lineage
      // compounding only bites on long folds). rOld/sOld stay LAZY unions
      // on purpose: materializing base ∪ deltas would rewrite the full
      // relation per chunk — exactly what the signed-log design avoids —
      // while the lazy union costs one base scan wherever it is consumed.
      val next = IncrementalAgg.refresh(state,
        IncrementalJoin.deltaJoinStateSigned(rOld, rD, sOld, sD,
          "__m", opCol, joinKeys, groupCols, sums),
        groupCols, sums.map(_._1))
      ((rOld.unionByName(signed(rD)), sOld.unionByName(signed(sD)),
        if ((i + 1) % 4 == 0 && i + 1 < chunks.length)
          graft.core.Materialize.cut(next)
        else next))
    }._3
  }

  /** Maintain a JOIN-aggregate view from ONE multi-table CDC stream (the
    * shape a CDC bus delivers: each row tagged `sideCol` ∈ {"r", "s"}
    * with the other side's columns null). Storage is log-structured:
    *
    *   - `statePath/rlog`, `statePath/slog` — append-only SIGNED delta
    *     logs, one partition per micro-batch (`__batch_id=<id>`,
    *     dynamic-overwrite so an at-least-once replay rewrites its own
    *     partition, the [[EventStreams.idempotentAppend]] discipline);
    *   - `statePath/view/v=<id>` — the versioned maintained view,
    *     [[maintainAggStream]]'s exactly-once chain.
    *
    * Batch B joins its deltas against base ∪ log(< B) — partition
    * pruning makes "committed log prefix" a filter, never a rescan of
    * data files beyond the log — and a delete is a −1 log row, so base
    * relations are NEVER rewritten. Log growth is bounded by compacting
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
        def appendLog(d: DataFrame, path: String): Unit =
          d.withColumn("__m",
              when(col(opCol) === "insert", 1).otherwise(-1))
            .drop(opCol)
            .withColumn("__batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id").parquet(path)
        appendLog(rD, s"$statePath/rlog")
        appendLog(sD, s"$statePath/slog")
        def oldSide(base: DataFrame, path: String): DataFrame = {
          val withSign = base.withColumn("__m", lit(1))
          // enumerate committed partitions explicitly: a replayed batch's
          // own (possibly partial, pre-crash) partition must never reach
          // the reader — not even its parquet footers
          val committed = listLogBatches(spark, path, before = batchId)
          if (committed.isEmpty) withSign
          else withSign.unionByName(
            spark.read.parquet(
              committed.map(b => s"$path/__batch_id=$b"): _*))
        }
        val prev = latestState(spark, s"$statePath/view", before = batchId)
          .getOrElse(IncrementalAgg.state(
            rBase.join(sBase, joinKeys), groupCols, sums))
        IncrementalAgg.refresh(prev,
            IncrementalJoin.deltaJoinStateSigned(
              oldSide(rBase, s"$statePath/rlog"), rD,
              oldSide(sBase, s"$statePath/slog"), sD,
              "__m", opCol, joinKeys, groupCols, sums),
            groupCols, sums.map(_._1))
          .write.mode("overwrite").parquet(s"$statePath/view/v=$batchId")
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
    * `signCol` is consumed; a net < 0 row (a delete of a row the base
    * never had) is a malformed feed and surfaces as a thrown error from
    * the negative sequence length rather than being silently dropped.
    */
  def compactSigned(signed: DataFrame, signCol: String): DataFrame = {
    val dataCols = signed.columns.filter(_ != signCol).toSeq
    signed.groupBy(dataCols.map(col): _*)
      .agg(sum(col(signCol).cast("long")).as("__net"))
      .filter(col("__net") =!= 0L)
      // explicit +1 step: sequence(1, net) with net < 0 would silently
      // count DOWN; with the step pinned it throws on a malformed feed
      .withColumn("__i", explode(sequence(lit(1L), col("__net"), lit(1L))))
      .select(dataCols.map(col): _*)
  }

  /** Drop all but the newest `keepLast` committed view versions — the
    * retention sweep for [[maintainAggStream]]'s state chain (q194's
    * vacuum applied to maintained state). Never touches the newest
    * version or any uncommitted directory. Returns the dropped ids.
    */
  def vacuumView(spark: SparkSession, statePath: String,
      keepLast: Int): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    require(keepLast >= 1, "must keep at least the newest version")
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Seq.empty
    val committed = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.stripPrefix("v=").toLong }
      .sorted
    val drop = committed.dropRight(keepLast)
    drop.foreach(v => fs.delete(new Path(s"$statePath/v=$v"), true))
    drop
  }

  /** Committed log batch ids below `before`, ascending; empty when the
    * log has no such partition (or does not exist yet). Batches below
    * the in-flight one are complete because Structured Streaming
    * serializes micro-batches per query.
    */
  def listLogBatches(spark: SparkSession, logPath: String,
      before: Long): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(logPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("__batch_id=") =>
        n.stripPrefix("__batch_id=").toLong }
      .filter(_ < before)
      .sorted
  }
}
