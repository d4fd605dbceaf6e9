package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.expressions.{LongSetJaccard, ShingleHashes}

/** Sorted-neighborhood near-duplicate detection: globally sort the corpus by
  * a blocking key, then compare each document only to its `window` successors
  * in that order — the third blocking family next to exact shingle joins
  * (ngramJaccardPairs) and LSH banding (lshCandidatePairs).
  *
  * Where it wins: candidate count is EXACTLY `window × N` regardless of data
  * distribution — no stop-shingle blowup on low-entropy corpora, no
  * hash-bucket skew — and the output cost is predictable before the job
  * runs, which is what a 100 TB capacity plan needs. Where it loses: recall
  * is bounded by the sort key (near-dups differing in their leading tokens
  * land far apart), the classic SNM trade-off; production pipelines run it
  * as a cheap complementary pass next to LSH.
  *
  * Scale design: the global sort rank is [[Curriculum.withGlobalRank]]'s
  * distributed prefix sum over range shards — never one unpartitioned
  * window. Neighbor pairing is a self-equi-join on the dense rank (left side
  * exploded ×window, so shuffle volume is `window × corpus`, linear), and
  * pair verification runs the compiled [[LongSetJaccard]] kernel on the
  * joined rows — no post-join explode, no second shuffle.
  */
object SortedNeighborhood {

  /** Near-dup pairs (id_lo < id_hi as doc_a/doc_b) whose n-gram-shingle
    * Jaccard clears `minJaccard`, comparing each document to its `window`
    * successors in (`sortCol`, `idCol`) order.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      sortCol: String, window: Int, n: Int, minJaccard: Double): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    // shared: both join sides read the ranked+shingled frame (measured on
    // q97 as two concurrent ~1.2 CPU-s shingle passes when lazily pinned)
    val ranked = graft.core.Materialize.share(Curriculum.withGlobalRank(
      df.select(col(idCol).as("__id"), col(textCol).as("__text"),
        col(sortCol).as("__key")),
      Seq("__key", "__id"))
      .select(col("__id"), col("rank"),
        ColumnBridge.column(ShingleHashes(
          ColumnBridge.expression(col("__text")), n)).as("__sh")))
    val lhs = ranked
      .select(col("__id").as("id_a"), col("__sh").as("sh_a"),
        explode(sequence(col("rank") + 1, col("rank") + window)).as("rank"))
    val rhs = ranked
      .select(col("__id").as("id_b"), col("__sh").as("sh_b"), col("rank"))
    lhs.join(rhs, Seq("rank"))
      .withColumn("jaccard", ColumnBridge.column(LongSetJaccard(
        ColumnBridge.expression(col("sh_a")),
        ColumnBridge.expression(col("sh_b")))))
      .filter(col("jaccard") >= minJaccard)
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"),
        col("jaccard"))
  }
}
