package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** K-minimum-values (KMV / bottom-k) sketch over the md5-parity hash —
  * distinct counting AND set overlap between corpora, exactly replayable
  * in SQL.
  *
  * Where [[HllMd5]] answers "how many distinct" in 1024 registers, KMV
  * keeps the k smallest distinct 60-bit hashes of each set, which
  * additionally supports SET OPERATIONS: the k smallest of a union is
  * computable from two sketches alone, and the fraction of those union
  * minima present in both sets estimates Jaccard (Beyer et al., "On
  * synopses for distinct-value estimation under multiset operations",
  * SIGMOD 2007; the theta-sketch construction). That turns "how much does
  * source A overlap source B" — cross-corpus contamination, dedup overlap
  * audits, venn sizing for mixture planning — into sketch-sized math
  * instead of a corpus-scale distinct-join. Hashes are the shared 60-bit
  * md5 family, so every estimate (rank selection, the (k-1)/tau
  * cardinality read, the overlap counts) is bit-replayable in DuckDB —
  * approximate estimates, reproducible computation.
  *
  * Scale shape: the sketch build is a distinct-combine (map-side
  * pre-aggregated) followed by the native bounded-heap top-k exec
  * ([[TopK.perGroupNative]], ascending) — one exchange, NO per-group
  * sort; sketches are k rows per group. Pair synthesis then runs entirely
  * on sketch rows: groups x k, never corpus rows. NULL keys are dropped
  * (COUNT(DISTINCT) contract).
  */
object KmvSketch {

  /** 2^60 — the hash-space size tau normalizes by. */
  val HashSpace: Double = 1152921504606846976L.toDouble

  /** Per-group bottom-k sketch: one row per (groupCols*, h) with the k
    * smallest distinct hashes of `keyCol` per group (fewer when the group
    * has < k distinct keys — then the sketch is the exact distinct set).
    */
  def sketch(df: DataFrame, keyCol: String, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2 (the estimator reads the k-th minimum), got $k")
    val distinctHashes = df.filter(col(keyCol).isNotNull)
      .select(col(groupCol), HllMd5.h60(col(keyCol)).as("h"))
      .distinct()
    // h is unique within a group after distinct — it is its own tiebreak
    TopK.perGroupNative(distinctHashes, groupCol, orderCol = "h",
      tieCol = "h", k = k, descending = false)
  }

  /** One-pass native-aggregate sketch ([[graft.expressions.KmvAgg]], SQL
    * `kmv_md5_agg`): same (groupCol, h) rows as [[sketch]], but built in a
    * single map-side-combining aggregation whose buffer is the k-bounded
    * ordered hash set — no distinct shuffle, no second top-k exchange; k
    * longs per group per partition on the wire. KmvSketchSpec pins row
    * equality with the relational build.
    */
  def sketchAgg(df: DataFrame, keyCol: String, groupCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    require(k >= 2, s"k must be >= 2 (the estimator reads the k-th minimum), got $k")
    df.groupBy(col(groupCol))
      .agg(ColumnBridge.column(graft.expressions.KmvAgg(
        ColumnBridge.expression(col(keyCol).cast("string")), k)
        .toAggregateExpression()).as("kmv"))
      .select(col(groupCol), explode(col("kmv")).as("h"))
  }

  /** Distinct-cardinality estimate per group from a [[sketch]]: when the
    * group holds fewer than k hashes the sketch is exhaustive and the
    * count is EXACT; otherwise (k-1)/tau with tau = h_(k)/2^60.
    */
  def estimate(sk: DataFrame, groupCol: String, k: Int): DataFrame =
    sk.groupBy(groupCol)
      .agg(count(lit(1)).as("n_mins"), max(col("h")).as("h_k"))
      .withColumn("kmv_estimate",
        when(col("n_mins") < k, col("n_mins").cast("double"))
          .otherwise(lit((k - 1).toDouble * HashSpace) / col("h_k").cast("double")))
      .drop("h_k")

  /** Pairwise overlap report between all group pairs (a < b) of one
    * sketch frame: for each pair, the k smallest hashes of the UNION of
    * the two sketches are found (a valid KMV sketch of the union), the
    * union cardinality estimated from their k-th minimum, Jaccard from
    * the fraction of union minima present in BOTH sets, the intersection
    * as jaccard x union, and the full venn — per-side cardinalities
    * (est_a/est_b, the [[estimate]] reads) and the one-sided differences
    * (est_x minus the intersection estimate; a small negative value is
    * possible when independent estimates disagree — it reads as
    * "A is essentially contained in B"). When the union sketch is
    * exhaustive (n_mins < k) the set estimates are exact. Output:
    * (src_a, src_b, n_mins, n_both, union_est, jaccard_est, inter_est,
    * est_a, est_b, a_only_est, b_only_est).
    *
    * The pair expansion multiplies SKETCH rows (pairs x 2k), never corpus
    * rows, so the report is cheap at any corpus size; with g groups it
    * materializes g(g-1)/2 x k rows — fine for the "tens of sources"
    * shape this audits.
    */
  def pairwiseOverlap(skIn: DataFrame, groupCol: String, k: Int): DataFrame = {
    // shared: the sketch frame feeds FOUR branches (per-side estimates,
    // the source list, the pair lift, and the broadcast builds), so the
    // corpus-pass sketch aggregate runs once instead of once per branch
    // (measured on q224 as two concurrent 0.4 s sketch builds); sketch
    // rows are groups x k, broadcast-class
    val sk = graft.core.Materialize.share(skIn)
    val sideEst = estimate(sk, groupCol, k)
      .select(col(groupCol).cast("string").as("g"), col("kmv_estimate"))
    val src = sk.select(col(groupCol).cast("string").as("g")).distinct()
    val pairs = src.as("pa").join(src.as("pb"),
        col("pa.g") < col("pb.g"))
      .select(col("pa.g").as("src_a"), col("pb.g").as("src_b"))
    // sketch rows lifted to pair level; flags mark which side(s) hold h.
    // broadcast(pairs): group-count-squared rows, always tiny
    val lifted = broadcast(pairs)
      .join(sk.select(col(groupCol).cast("string").as("g"), col("h")),
        col("g") === col("src_a") || col("g") === col("src_b"))
      .groupBy("src_a", "src_b", "h")
      .agg(
        max(when(col("g") === col("src_a"), 1).otherwise(0)).as("in_a"),
        max(when(col("g") === col("src_b"), 1).otherwise(0)).as("in_b"))
    // k smallest of the union per pair — pair count is tiny, so the
    // window sort runs over <= 2k sketch rows per pair
    val w = Window.partitionBy("src_a", "src_b").orderBy(col("h").asc)
    val unionMins = lifted.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
    unionMins.groupBy("src_a", "src_b")
      .agg(
        count(lit(1)).as("n_mins"),
        max(col("h")).as("h_k"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
          .as("n_both"))
      .withColumn("union_est",
        when(col("n_mins") < k, col("n_mins").cast("double"))
          .otherwise(lit((k - 1).toDouble * HashSpace) / col("h_k").cast("double")))
      .withColumn("jaccard_est",
        col("n_both").cast("double") / col("n_mins").cast("double"))
      .withColumn("inter_est", col("jaccard_est") * col("union_est"))
      .drop("h_k")
      .join(broadcast(sideEst.withColumnRenamed("g", "src_a")
        .withColumnRenamed("kmv_estimate", "est_a")), "src_a")
      .join(broadcast(sideEst.withColumnRenamed("g", "src_b")
        .withColumnRenamed("kmv_estimate", "est_b")), "src_b")
      .withColumn("a_only_est", col("est_a") - col("inter_est"))
      .withColumn("b_only_est", col("est_b") - col("inter_est"))
      .orderBy("src_a", "src_b")
  }
}
