package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Similarity search over embedding columns.
  *
  * Scale design: brute-force top-k is the correctness baseline — it
  * broadcasts the (small) query set against the corpus, so the corpus side
  * never shuffles and cost is linear in corpus size per query. The scale
  * paths cut the scanned fraction: random-hyperplane LSH buckets candidates
  * by signature; IVF partitions the corpus by nearest coarse centroid and
  * probes only the closest cells. Both reduce to broadcast-join + partial
  * top-k — no all-pairs stage anywhere.
  *
  * Norms are projected ONCE per vector before any pairing (`withNorm`), so a
  * pair evaluation is a single dot product — per-pair norm recomputation
  * would multiply the flop count by 3 for identical results.
  */
object Similarity {

  private def withNorm(df: DataFrame, embCol: String, out: String): DataFrame =
    df.withColumn(out, sqrt(normSq(col(embCol))))

  /** Per-query top-k + rank over a scored candidate frame: the heap-based
    * native exec ([[graft.plans.TopKPerGroupPlan]]) selects the k best
    * candidates WITHOUT sorting the candidate set (O(n log k)); ranks are
    * then assigned by a window over the k-per-query survivors only — a
    * frame of size k × queries, negligible. Same rows and tie-break
    * ((cos_sim desc, vec_id)) as the row_number formulation it replaced.
    * Memory note: the heap exec holds k rows per query per partition
    * on-heap — fine here because query sets are broadcast-class by
    * construction; a near-corpus-sized query set should use
    * [[TopK.perGroupWindow]] (spilling sort) instead.
    */
  private[operators] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val top = TopK.perGroupNative(
      scored.select("query_id", "vec_id", "cos_sim"),
      "query_id", "cos_sim", "vec_id", k)
    val w = Window.partitionBy("query_id").orderBy(desc("cos_sim"), asc("vec_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cos_sim"))
  }

  /** Exact top-k cosine neighbors for each query vector. Queries are
    * broadcast; per-query selection is the native heap exec over the
    * candidate set.
    */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(withNorm(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      "q_emb", "q_norm"))
    val c = withNorm(corpus.select(col("vec_id"), col("embedding")), "embedding", "c_norm")
    val scored = c
      .join(q, col("query_id") =!= col("vec_id")) // all query-candidate pairs, self excluded
      .withColumn("cos_sim",
        dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("c_norm")))
    rankTopK(scored, k)
  }

  /** Hard-negative mining for embedding-model training (Karpukhin et al.,
    * EMNLP'20 DPR; Xiong et al., ICLR'21 ANCE): for each anchor, the k
    * MOST-similar candidates carrying a DIFFERENT label — the negatives
    * that actually move a contrastive loss, where random negatives are
    * trivially separable. Candidates at or above `dupCeiling` cosine are
    * excluded: that near-duplicate band is where a "negative" is most
    * likely an unlabeled positive, and training on it poisons the model
    * (ANCE's false-negative guard).
    *
    * Same scale shape as [[knnBruteForce]]: anchors broadcast with
    * pre-projected norms, one linear corpus scan, label/ceiling filters
    * applied BEFORE the heap top-k — the corpus never shuffles and no
    * all-pairs stage exists.
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
      dupCeiling: Double): DataFrame = {
    // NULL labels are excluded EXPLICITLY on both sides (not left to the
    // =!= join predicate's NULL semantics): an unlabeled candidate can't
    // be certified a negative, and an unlabeled anchor would silently
    // yield zero rows — same make-the-drop-visible rationale as Roc.auc's
    // NULL-score exclusion
    val q = broadcast(withNorm(
      anchors.filter(col("label").isNotNull)
        .select(col("vec_id").as("query_id"),
          col("label").as("q_label"), col("embedding").as("q_emb")),
      "q_emb", "q_norm"))
    val c = withNorm(
      corpus.filter(col("label").isNotNull)
        .select(col("vec_id"), col("label"), col("embedding")),
      "embedding", "c_norm")
    val scored = c
      .join(q, col("query_id") =!= col("vec_id") &&
        col("q_label") =!= col("label"))
      .withColumn("cos_sim",
        dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("c_norm")))
      .filter(col("cos_sim") < dupCeiling)
    rankTopK(scored, k)
  }

  /** All pairs with cosine ≥ threshold, blocked by a partition column (e.g.
    * a label, a shard key, or an LSH bucket): pairs are only formed within a
    * block, so cost is Σ block² instead of corpus².
    */
  def similarPairsBlocked(corpus: DataFrame, blockCol: String,
      threshold: Double): DataFrame = {
    val normed = withNorm(
      corpus.select(col(blockCol), col("vec_id"), col("embedding")),
      "embedding", "nrm")
    val a = normed.select(col(blockCol), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("nrm").as("norm_a"))
    val b = normed.select(col(blockCol), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("nrm").as("norm_b"))
    a.join(b, Seq(blockCol))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim",
        dot(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("cos_sim") >= threshold)
      .select(col(blockCol), col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  /** Approximate neighbors via random-hyperplane LSH: bucket every vector by
    * `bits` sign bits, search each query only within its bucket, rank by
    * exact cosine. Trades recall for a ~2^bits reduction in scanned rows.
    */
  def knnLsh(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int): DataFrame = {
    val bucketed = withNorm(corpus, "embedding", "c_norm")
      .withColumn("bucket", hyperplaneBucket(col("embedding"), bits))
    val q = broadcast(withNorm(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      "q_emb", "q_norm")
      .withColumn("bucket", hyperplaneBucket(col("q_emb"), bits)))
    rankTopK(
      bucketed.join(q, Seq("bucket"))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("cos_sim",
          dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("c_norm"))),
      k)
  }

  /** IVF coarse quantizer: centroids are the per-cell mean vector. Here the
    * cells are seeded from an existing column (`cellCol`); a production build
    * would k-means-iterate this same structure. Returns (cell, centroid).
    */
  def ivfCentroids(corpus: DataFrame, cellCol: String, dimHint: Int = -1): DataFrame = {
    // dimension read from the data, not assumed; callers in a loop pass the
    // probed value through dimHint to avoid re-executing their lineage
    val dim = if (dimHint >= 0) dimHint else embeddingDim(corpus)
    // empty corpus (or zero-dim embeddings): no cells, not an agg over an
    // empty column list — `sums.head` below would otherwise throw
    if (dim == 0)
      return corpus.sparkSession.emptyDataFrame
        .withColumn("cell", lit(0))
        .withColumn("centroid", array().cast("array<float>"))
    // ONE vector-sum aggregate instead of dim per-dimension Sum columns:
    // identical arithmetic (same double adds in the same row order — see
    // ArraySumAgg), but the plan stays constant-size in the dimension. The
    // per-dim formulation put dim expression trees through analysis/
    // optimization/codegen per call, which a Lloyd loop multiplies per
    // iteration — measured ~0.1-0.2 s of driver time per iteration at
    // dim=64 (q112/q116), dwarfing the per-iteration compute at bench scale.
    import org.apache.spark.sql.graftbridge.ColumnBridge
    corpus.groupBy(col(cellCol).as("cell"))
      .agg(ColumnBridge.column(graft.expressions.ArraySumAgg(
          ColumnBridge.expression(col("embedding")), dim)
          .toAggregateExpression()).as("__sums"),
        count(lit(1)).as("n"))
      .select(col("cell"),
        transform(col("__sums"), s => (s / col("n")).cast("float"))
          .as("centroid"))
  }

  /** Distributed Lloyd k-means over embeddings: seed centroids from
    * hash-partition means (vec_id mod k — deterministic, no RNG state),
    * then iterate assign-to-nearest / recompute-means. Per iteration the
    * corpus is touched by exactly ONE map-side-combined groupBy("cell")
    * (the mean recomputation — k rows per partition cross the wire, never
    * corpus rows); assignment itself is a zero-shuffle projection
    * ([[graft.expressions.NearestCell]]). Centroid state (k × dim floats)
    * lives on the driver between iterations. This is the trained form of
    * [[ivfCentroids]]'s seeded cells.
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int): DataFrame =
    toCentroidDF(corpus.sparkSession, kmeansLocal(corpus, k, iters))

  private def kmeansLocal(corpus: DataFrame, k: Int, iters: Int): Array[(Int, Array[Float])] = {
    // probe the dimension ONCE from the raw corpus — probing inside each
    // iteration would re-execute the assignment pipeline just to re-read an
    // invariant
    val dim = embeddingDim(corpus)
    val seeded = corpus.withColumn("cell", pmod(col("vec_id"), lit(k)))
    var cents = collectCentroids(ivfCentroids(seeded, "cell", dim))
    var i = 0
    while (i < iters) {
      cents = collectCentroids(ivfCentroids(assignCellsLocal(corpus, cents), "cell", dim))
      i += 1
    }
    cents
  }

  /** Embedding dimension from one row; 0 for an empty corpus. */
  private def embeddingDim(corpus: DataFrame): Int =
    corpus.select(size(col("embedding"))).take(1) match {
      case Array(r) => r.getInt(0)
      case _ => 0
    }

  /** Centroids are driver-state (k × dim floats): collect them so each Lloyd
    * iteration starts from data, not from the whole previous iteration's
    * lineage (which would re-execute multiplicatively). Sorted by cell so
    * [[graft.expressions.NearestCell]]'s first-wins scan ties to the lowest
    * cell id.
    */
  private def collectCentroids(cents: DataFrame): Array[(Int, Array[Float])] =
    cents.select(col("cell").cast("int"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  private def toCentroidDF(spark: org.apache.spark.sql.SparkSession,
      cents: Array[(Int, Array[Float])]): DataFrame = {
    import spark.implicits._
    cents.toSeq.map { case (c, a) => (c, a.toSeq) }.toDF("cell", "centroid")
      .select(col("cell"), col("centroid").cast("array<float>"))
  }

  /** Assign every vector to its nearest centroid by cosine (deterministic
    * tie-break on the lower cell id) — a single zero-shuffle projection over
    * the corpus: the centroid matrix is tiny driver state embedded in a
    * codegen'd argmax expression. No join, no groupBy, no exchange — the
    * crossJoin+groupBy+join-back formulation this replaced shuffled the
    * whole corpus twice per call, a scale-killer inside a training loop.
    */
  def assignCells(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignCellsLocal(corpus, collectCentroids(centroids))

  private def assignCellsLocal(corpus: DataFrame,
      cents: Array[(Int, Array[Float])]): DataFrame =
    corpus.drop("cell").withColumn("cell",
      nearestCell(col("embedding"), cents.map(_._1), cents.map(_._2)))

  /** Prototypicality score (Sorscher et al., "Beyond neural scaling laws",
    * NeurIPS'22): cosine of every vector to its own trained cell centroid —
    * the data-pruning signal where low scorers are outliers/noise and the
    * extreme high scorers are redundant prototypes. Returns the corpus with
    * `cell` and `proto_sim` columns; rank/threshold policy is the caller's
    * (compose with [[Curriculum.buckets]] for percentile pruning).
    *
    * Plan shape: k-means training (one map-side-combined groupBy per Lloyd
    * iteration), then ONE broadcast join of the corpus against the k-row
    * centroid table — the corpus never shuffles. The corpus is pinned
    * for the duration (training scans it per iteration) and stays cached
    * for the caller's downstream actions.
    */
  def prototypicality(corpus: DataFrame, kCells: Int, iters: Int = 3): DataFrame = {
    val cached = graft.core.Materialize.pin(corpus)
    val cents = kmeansLocal(cached, kCells, iters)
    prototypicalityLocal(cached, cents)
  }

  /** [[prototypicality]] against ALREADY-TRAINED centroids (a
    * [[kmeansCentroids]] frame) — the production split where the model is a
    * persisted artifact scored against many corpora, and the seam that lets
    * a gate register the trained centroid literals with its oracle.
    */
  def prototypicalityWith(corpus: DataFrame, centroids: DataFrame): DataFrame =
    prototypicalityLocal(corpus, collectCentroids(centroids))

  private def prototypicalityLocal(corpus: DataFrame,
      cents: Array[(Int, Array[Float])]): DataFrame = {
    // LEFT join: a row whose assignment is null (null/malformed embedding)
    // must surface as unscorable (null cell + proto_sim), not vanish — the
    // pruning policy downstream decides what to do with it
    assignCellsLocal(corpus, cents)
      .join(broadcast(toCentroidDF(corpus.sparkSession, cents)), Seq("cell"), "left")
      .withColumn("proto_sim", cosine(col("embedding"), col("centroid")))
      .drop("centroid")
  }

  /** IVF with trained (k-means) cells: train, assign, probe. The corpus is
    * pinned for the duration — training scans it once per iteration.
    */
  def knnIvfTrained(corpus: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int, kCells: Int, iters: Int = 3): DataFrame = {
    val cached = graft.core.Materialize.pin(corpus)
    val assigned = graft.core.Materialize.pin(
      assignCellsLocal(cached, kmeansLocal(cached, kCells, iters)))
    knnIvf(assigned, queries, "cell", k, nprobe)
  }

  /** IVF against ALREADY-TRAINED centroids (a [[kmeansCentroids]] frame):
    * assignment AND probe ranking both use the provided quantizer
    * centroids — the production split where the coarse quantizer is a
    * persisted model scored against many query batches, and the seam that
    * lets a gate register the trained centroid literals with its oracle
    * ([[knnIvfTrained]] instead re-derives per-cell MEANS for the probe,
    * whose distributed float sums are not bit-replayable).
    */
  def knnIvfWith(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val cents = collectCentroids(centroids)
    val assigned = assignCellsLocal(corpus, cents)
    val centsDf = broadcast(toCentroidDF(corpus.sparkSession, cents))
    val q = withNorm(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      "q_emb", "q_norm")
    val wProbe = Window.partitionBy("query_id").orderBy(desc("cent_sim"), asc("cell"))
    val probed = broadcast(
      q.crossJoin(centsDf)
        .withColumn("cent_sim", cosine(col("q_emb"), col("centroid")))
        .withColumn("probe_rank", row_number().over(wProbe))
        .filter(col("probe_rank") <= nprobe)
        .select(col("query_id"), col("q_emb"), col("q_norm"), col("cell")))
    val c = withNorm(assigned, "embedding", "c_norm")
    rankTopK(
      c.join(probed, c("cell") === probed("cell"))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("cos_sim",
          dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("c_norm"))),
      k)
  }

  /** Exact top-k ranking restricted to explicit (query, cell) probe pairs —
    * the scan stage of a persisted IVF index ([[IvfIndex.query]]), where the
    * probe ranking already happened on the driver and `corpus` arrives
    * pre-pruned to the probed cells. Queries and probe pairs are broadcast;
    * the corpus never shuffles before the per-query top-k window.
    */
  def knnWithinCells(corpus: DataFrame, queries: DataFrame,
      probePairs: DataFrame, k: Int): DataFrame = {
    val q = broadcast(
      withNorm(queries, "q_emb", "q_norm").join(probePairs, "query_id"))
    val c = withNorm(corpus, "embedding", "c_norm")
    rankTopK(
      c.join(q, c("cell") === q("probe_cell"))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("cos_sim",
          dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("c_norm"))),
      k)
  }

  /** IVF probe: assign each query to its nearest `nprobe` centroids
    * (broadcast — centroid count is tiny), then exact-rank only within the
    * probed cells.
    */
  def knnIvf(corpus: DataFrame, queries: DataFrame, cellCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val cents = broadcast(ivfCentroids(corpus, cellCol))
    val q = withNorm(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      "q_emb", "q_norm")
    val wProbe = Window.partitionBy("query_id").orderBy(desc("cent_sim"), asc("cell"))
    val probed = broadcast(
      q.crossJoin(cents)
        .withColumn("cent_sim", cosine(col("q_emb"), col("centroid")))
        .withColumn("probe_rank", row_number().over(wProbe))
        .filter(col("probe_rank") <= nprobe)
        .select(col("query_id"), col("q_emb"), col("q_norm"), col("cell")))
    val c = withNorm(corpus, "embedding", "c_norm")
    rankTopK(
      c.join(probed, c(cellCol) === probed("cell"))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("cos_sim",
          dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("c_norm"))),
      k)
  }
}
