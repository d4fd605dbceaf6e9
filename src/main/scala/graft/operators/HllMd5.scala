package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Oracle-exact HyperLogLog over the md5-parity hash family.
  *
  * Spark's `approx_count_distinct` / DataSketches `hll_sketch_agg` (gated
  * rows-only as q18/q36/q101) are correct but engine-specific: their xxhash
  * basis and register encodings cannot be replayed in another engine. This
  * HLL uses the same SQL-reproducible 60-bit md5 hash the MinHash/SimHash
  * family standardized on (`CAST('0x' || substring(md5(s), 1, 15) AS
  * BIGINT)`), so the ENTIRE sketch — register indexes, rank values, the
  * bias-corrected estimate, the linear-counting branch — is a fixed
  * integer/IEEE dag both Spark and DuckDB evaluate bitwise-identically.
  * The estimate is approximate; the computation is exactly reproducible.
  * That distinction matters operationally: a fleet re-running yesterday's
  * distinct-count job must get yesterday's number, not one within noise
  * of it.
  *
  * Layout (Flajolet et al., "HyperLogLog: the analysis of a near-optimal
  * cardinality estimation algorithm", AofA 2007): p = 10 index bits from
  * the TOP of the 60-bit hash (registers m = 1024, relative error
  * ~1.04/sqrt(m) ≈ 3.2%), rank = position of the highest set bit in the
  * remaining 50 bits (rho = 51 - bitlength, 51 when the remainder is 0).
  * Raw estimate alpha_m * m^2 / sum_j 2^(-M_j); the empty-register sum
  * contribution (2^0 = 1 per empty register) is the exact integer V added
  * AFTER the ordered float fold over present registers, and the
  * small-range branch (raw <= 2.5 m with empty registers) switches to
  * linear counting m * ln(m/V) through the platform-`ln` parity of
  * [[graft.expressions.JavaLn]]. The 32-bit-hash-space large-range
  * correction is intentionally absent: with a 60-bit space it would
  * engage only beyond ~2^55 distinct keys.
  *
  * Scale shape: the register build is one map-side-combining groupBy whose
  * output is at most groups x m rows (m = 1024 — sketch-sized, never
  * corpus-sized); shard sketches merge by register-wise MAX (associative,
  * commutative, any tree shape), so 1000 executors can each sketch their
  * shard and a single tiny reduce merges days into months. NULL keys hash
  * to NULL and are dropped, matching COUNT(DISTINCT)'s NULL contract.
  * [[sketchAgg]] + [[estimateCol]] run unchanged on a streaming frame
  * ([[graft.streaming.EventStreams.distinctCountsHll]]).
  */
object HllMd5 {

  /** Index bits (top of the 60-bit hash); m = 2^P registers. */
  val P = 10
  val M: Int = 1 << P
  private val RemBits = 60 - P
  private val RemMask = (1L << RemBits) - 1

  /** alpha_m * m^2 for m = 1024, computed once in IEEE order
    * (0.7213 / (1 + 1.079/m)) * m * m — embed via Double.toString in
    * oracle SQL.
    */
  val AlphaMM: Double = 0.7213 / (1.0 + 1.079 / M) * M * M

  /** Linear-counting threshold 2.5 * m (exact in double). */
  val SmallRangeCutoff: Double = 2.5 * M

  /** 60-bit md5 hash of a string column — built-ins only (md5 +
    * substring + conv are all whole-stage-codegen'd), bit-equal to
    * DuckDB's `CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)`.
    */
  def h60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Register decomposition (reg_idx, rho) of a key's 60-bit hash: the
    * scalar form of [[sketch]]'s column math (the aggregates hash
    * UTF8String bytes directly to skip a String round-trip per row).
    */
  def registerOfHash(h: Long): (Int, Int) = {
    val rem = h & RemMask
    val rho = if (rem == 0L) RemBits + 1
      else RemBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(rem))
    ((h >>> RemBits).toInt, rho)
  }

  /** [[estimate]] over a dense register array (index = reg_idx,
    * 0 = empty): (m_used, v_zero, hll_estimate). Folds present registers
    * in ascending reg_idx order and branches exactly like the distributed
    * dag, so `hll_md5_estimate` over a binary sketch equals the
    * relational estimate to the last bit.
    */
  def estimateScalar(regs: Array[Byte]): (Long, Long, Double) = {
    require(regs.length == M, s"expected $M registers, got ${regs.length}")
    var s = 0.0
    var mUsed = 0L
    var i = 0
    while (i < M) {
      val r = regs(i)
      if (r > 0) { s += 1.0 / (1L << r); mUsed += 1 }
      i += 1
    }
    val vZero = M - mUsed
    val raw = AlphaMM / (s + vZero.toDouble)
    val est = if (raw <= SmallRangeCutoff && vZero > 0)
      M.toDouble * java.lang.Math.log(M.toDouble / vZero.toDouble)
    else raw
    (mUsed, vZero, est)
  }

  /** Per-group register sketch: one row per (groupCols*, reg_idx) with the
    * max rank `r`. This IS the mergeable sketch — union more data into a
    * group (or merge two sketches) by re-aggregating MAX(r) per reg_idx.
    */
  def sketch(df: DataFrame, keyCol: String, groupCols: Seq[String]): DataFrame = {
    val h = h60(col(keyCol))
    val rem = h.bitwiseAND(lit(RemMask))
    // rho = RemBits - bitlength(rem) + 1; bin() renders the minimal binary
    // string so length(bin(rem)) IS the bit length (rem > 0)
    val rho = when(rem === 0, lit(RemBits + 1))
      .otherwise(lit(RemBits + 1) - length(bin(rem)))
      .cast("int")
    df.filter(col(keyCol).isNotNull)
      .groupBy((groupCols.map(col) :+ shiftrightunsigned(h, RemBits)
        .cast("int").as("reg_idx")): _*)
      .agg(max(rho).as("r"))
  }

  /** Merge sketches over finer shards into coarser groups: register-wise
    * max. `sketches` is any union of [[sketch]] outputs sharing reg_idx/r.
    */
  def merge(sketches: DataFrame, groupCols: Seq[String]): DataFrame =
    sketches.groupBy((groupCols.map(col) :+ col("reg_idx")): _*)
      .agg(max(col("r")).as("r"))

  /** One-pass native-aggregate sketch ([[graft.expressions.HllMd5Agg]],
    * SQL `hll_md5_agg`): (groupCols*, hll_regs binary) with the m register
    * bytes built in the aggregation buffer itself — the shuffle carries
    * 1 KB per group per partition instead of register rows. Registers are
    * bit-identical to [[sketch]]'s (HllMd5Spec pins it).
    */
  def sketchAgg(df: DataFrame, keyCol: String, groupCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    df.groupBy(groupCols.map(col): _*)
      .agg(ColumnBridge.column(graft.expressions.HllMd5Agg(
        ColumnBridge.expression(col(keyCol).cast("string")))
        .toAggregateExpression()).as("hll_regs"))
  }

  /** Register-wise max over binary sketches (`hll_md5_union_agg`):
    * re-aggregate [[sketchAgg]] outputs into coarser groups.
    */
  def unionAgg(sketches: DataFrame, groupCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    sketches.groupBy(groupCols.map(col): _*)
      .agg(ColumnBridge.column(graft.expressions.HllMd5UnionAgg(
        ColumnBridge.expression(col("hll_regs")))
        .toAggregateExpression()).as("hll_regs"))
  }

  /** Estimate triple struct(m_used, v_zero, hll_estimate) from a binary
    * sketch column (`hll_md5_estimate`) — bit-equal to [[estimate]].
    */
  def estimateCol(regs: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.expressions.HllMd5Estimate(
      ColumnBridge.expression(regs)))
  }

  /** (groupCols*, m_used, v_zero, hll_estimate) from binary sketches in
    * `hll_regs` ([[sketchAgg]] or [[unionAgg]] output): [[estimateCol]]'s
    * struct unpacked into the columns [[estimate]] yields from register
    * rows. Runs unchanged on a streaming frame.
    */
  def estimates(sketches: DataFrame, groupCols: Seq[String]): DataFrame =
    sketches.select(groupCols.map(col) :+ estimateCol(col("hll_regs")).as("e"): _*)
      .select(groupCols.map(col) ++ Seq(col("e.m_used").as("m_used"),
        col("e.v_zero").as("v_zero"),
        col("e.hll_estimate").as("hll_estimate")): _*)

  /** Rolling `windowDays`-day distinct count per day (the DAU/WAU shape):
    * distinct counts are NOT additive over sliding windows — recomputing
    * each window from raw events costs windowDays x the corpus — but HLL
    * registers union by MAX, so the rolling union is a RANGE-frame window
    * max over per-day REGISTER rows: at most m rows per day regardless of
    * corpus size. A day spine x register-index frame fills the gaps (a
    * register untouched on day d still carries its in-window max from
    * earlier days), and the estimate folds exactly like [[estimate]], so
    * the result for day d is BIT-EQUAL to a direct sketch of days
    * [d-windowDays+1, d] (HllMd5Spec pins it) and replays in SQL.
    *
    * `dayCol` must be integer-valued days (e.g. datediff from an epoch).
    * Output: (day, m_used, v_zero, hll_estimate), one row per day present
    * in `df`.
    */
  def rollingDistinct(df: DataFrame, keyCol: String, dayCol: String,
      windowDays: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val regs = sketch(df, keyCol, Seq(dayCol))
    val days = df.select(col(dayCol)).where(col(dayCol).isNotNull).distinct()
    // spine: every (day, reg_idx) cell — days x m rows, sketch-sized
    val spark = df.sparkSession
    val idxs = spark.range(M).select(col("id").cast("int").as("reg_idx"))
    val spine = days.crossJoin(broadcast(idxs))
    val w = Window.partitionBy("reg_idx")
      .orderBy(col(dayCol).cast("long"))
      .rangeBetween(-(windowDays - 1).toLong, 0)
    val rolled = spine.join(regs, Seq(dayCol, "reg_idx"), "left")
      .withColumn("rmax", max(col("r")).over(w))
      .filter(col("rmax").isNotNull)
      .select(col(dayCol), col("reg_idx"), col("rmax").as("r"))
    estimate(rolled, Seq(dayCol))
  }

  /** Cardinality estimate per group from a register sketch: columns
    * (groupCols*, m_used, v_zero, hll_estimate). The float fold over
    * present registers runs in reg_idx order (sort_array + sequential
    * aggregate), the exact empty-register mass V is added after, and the
    * final CASE picks linear counting in the small range — every step
    * replayable as `list_sum(list(... ORDER BY reg_idx))` + `ln` in
    * DuckDB SQL.
    */
  def estimate(sketchDf: DataFrame, groupCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val mD = M.toDouble
    val est = sketchDf.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("m_used"),
        expr(
          """aggregate(sort_array(collect_list(struct(reg_idx, r))),
            |  CAST(0.0 AS DOUBLE),
            |  (acc, x) -> acc + CAST(1.0 AS DOUBLE) /
            |    CAST(shiftleft(CAST(1 AS BIGINT), x.r) AS DOUBLE))
            |""".stripMargin.replace("\n", " ")).as("s_present"))
      .withColumn("v_zero", lit(M.toLong) - col("m_used"))
      .withColumn("raw_est",
        lit(AlphaMM) / (col("s_present") + col("v_zero").cast("double")))
    est.withColumn("hll_estimate",
        when(col("raw_est") <= lit(SmallRangeCutoff) && col("v_zero") > 0,
          lit(mD) * ColumnBridge.column(graft.expressions.JavaLn(
            ColumnBridge.expression(lit(mD) / col("v_zero").cast("double")))))
          .otherwise(col("raw_est")))
      .drop("raw_est", "s_present")
  }
}
