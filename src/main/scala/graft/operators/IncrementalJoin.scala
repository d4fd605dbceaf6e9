package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.OracleArith

/** Incremental view maintenance for materialized JOIN views — the
  * counting algorithm of Blakeley/Larson/Tompa (SIGMOD '86) in its
  * signed-multiset delta form (Gupta & Mumick 1995; DBToaster, Koch et
  * al., VLDB 2014): for V = R ⋈ S under CDC deltas on BOTH sides,
  *
  *   ΔV  =  ΔR ⋈ S_old  +  R_old ⋈ ΔS  +  ΔR ⋈ ΔS
  *
  * where each row carries a sign (+1 insert, −1 delete; an update is a
  * delete + an insert) and a joined pair's sign is the PRODUCT of its
  * sides' signs. The identity is exact for multisets — cross-side races
  * (a deleted customer joining a deleted order: −1 −1 +1 = −1) cancel
  * by construction, which is why the algebra needs the ΔR ⋈ ΔS term a
  * naive "apply each side separately" refresh gets wrong.
  *
  * The old sides have one form, a signed multiset in [[Sign]]: a plain
  * base is its [[positive]] image, a streamed base is that unioned with
  * its [[signed]] delta logs, and [[deltaJoinState]] reads both alike.
  *
  * [[IncrementalAgg]] maintains aggregates over a single table; this
  * produces the signed per-group delta of a join-aggregate view (count +
  * exact-DECIMAL sums in [[IncrementalAgg]]'s state layout), so
  * [[IncrementalAgg.refresh]] applies it unchanged and the composed
  * refresh is bit-identical to a full recompute — the invariant the q242
  * gate's oracle checks from scratch in DuckDB.
  *
  * Scale shape: every term has a delta-sized side, so the three joins
  * shuffle O(|ΔR|·fanout + |ΔS|·fanout) rows, never |R ⋈ S|. The
  * base-side scans read only (key, group, sum) columns — Catalyst prunes
  * the rest — and with the fact table bucketed on the join key (q83's
  * layout) the Δ⋈base terms are co-located, no base shuffle. The three
  * terms union BEFORE the single group-level aggregation, so the whole
  * ΔV costs one shuffle at group granularity.
  */
object IncrementalJoin {

  /** The sign column of a signed multiset: +1 for a row present, −1 for a
    * row deleted. Every signed relation of a maintained join view — base
    * sides, delta logs, compaction input — carries its signs here.
    */
  val Sign = "__m"

  /** A plain relation as a signed multiset: every row +1. */
  def positive(df: DataFrame): DataFrame = df.withColumn(Sign, lit(1))

  /** An op-tagged CDC delta as a signed multiset: `opCol` = "insert" is
    * +1, anything else (a delete) −1; `opCol` is consumed.
    */
  def signed(delta: DataFrame, opCol: String): DataFrame =
    delta.withColumn(Sign, when(col(opCol) === "insert", 1).otherwise(-1))
      .drop(opCol)

  /** Signed per-group contribution of the delta of V = R ⋈_keys S.
    *
    * `rOld`/`sOld` are the relations before the delta as SIGNED multisets
    * ([[Sign]] ±1): a plain relation is its [[positive]] form, and the
    * log-structured form a continuously maintained view keeps its base
    * relations in is base rows (+1) unioned with every applied delta-log
    * row (±1) — a delete NEVER rewrites a snapshot, it appends a −1 row
    * ([[graft.streaming.IvmStream.maintainJoinAggStream]]'s storage). The
    * multiset a signed union denotes is exactly the post-delta relation,
    * so the three-term rule applies unchanged with every pair's sign the
    * product of its sides' signs.
    *
    * `rDelta`/`sDelta` carry `opCol` ∈ {"insert", "delete"} plus the same
    * join/group/sum columns as their base side; either delta may be
    * empty. `groupCols` may draw from both sides; `sums` are
    * (outputName, valueCol) pairs aggregated as exact DECIMAL so signed
    * contributions cancel without float error.
    */
  def deltaJoinState(
      rOld: DataFrame, rDelta: DataFrame,
      sOld: DataFrame, sDelta: DataFrame,
      opCol: String, joinKeys: Seq[String],
      groupCols: Seq[String], sums: Seq[(String, String)]): DataFrame = {

    val rD = signed(rDelta, opCol).withColumnRenamed(Sign, "m_r")
    val sD = signed(sDelta, opCol).withColumnRenamed(Sign, "m_s")
    val rO = rOld.withColumnRenamed(Sign, "mo_r")
    val sO = sOld.withColumnRenamed(Sign, "mo_s")

    // Each term normalized to (groupCols..., sign, sumValueCols...)
    def term(left: DataFrame, right: DataFrame,
        sign: Column): DataFrame =
      left.join(right, joinKeys)
        .select(groupCols.map(col) ++ Seq(sign.as("sign")) ++
          sums.map { case (out, v) => col(v).as(s"v_$out") }: _*)

    val t1 = term(rD, sO, col("m_r") * col("mo_s"))
    val t2 = term(rO, sD, col("mo_r") * col("m_s"))
    val t3 = term(rD, sD, col("m_r") * col("m_s"))

    t1.unionByName(t2).unionByName(t3)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("sign").cast("long")).as("n"),
        sums.map { case (out, _) =>
          // sign is a product of ±1s, so it is itself ±1 — the
          // branch keeps the sum at dec2's exact precision
          sum(when(col("sign") === 1, OracleArith.dec2(col(s"v_$out")))
            .otherwise(-OracleArith.dec2(col(s"v_$out")))).as(out)
        }: _*)
  }

  /** The view groups a two-sided CDC delta can touch — the recompute
    * scope for NON-invertible aggregates (min/max, distinct counts) over
    * a JOIN view, composing [[IncrementalAgg.dirtyGroups]]'s patch
    * pattern (q240) with the three-term structure: every joined row that
    * enters or leaves the view has at least one delta side, so the union
    * of ΔR⋈S, R⋈ΔS, ΔR⋈ΔS projected to the group columns covers every
    * group whose extreme can move (over-marking — e.g. a candidate pair
    * whose other side was concurrently deleted — is harmless: recompute
    * is idempotent). Same delta-sized join shapes as
    * [[deltaJoinState]], over plain (unsigned) old sides; output is the
    * distinct dirty group tuples, which [[IncrementalAgg.recomputeGroups]]
    * turns into a semi-join-restricted re-aggregation of the post-apply
    * join and [[IncrementalAgg.patch]] splices over the untouched state
    * rows.
    */
  def dirtyJoinGroups(
      rOld: DataFrame, rDelta: DataFrame,
      sOld: DataFrame, sDelta: DataFrame,
      opCol: String, joinKeys: Seq[String],
      groupCols: Seq[String]): DataFrame = {
    val rD = rDelta.drop(opCol)
    val sD = sDelta.drop(opCol)
    def grp(df: DataFrame): DataFrame = df.select(groupCols.map(col): _*)
    grp(rD.join(sOld, joinKeys))
      .unionByName(grp(rOld.join(sD, joinKeys)))
      .unionByName(grp(rD.join(sD, joinKeys)))
      .distinct()
  }
}
