package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) vector index: trained coarse centroids plus
  * the corpus partitioned by its assigned cell, both on disk. At 100 TB an
  * index is built once and queried many times — retraining k-means per query
  * batch (what [[Similarity.knnIvfTrained]] does, correctly, for one-shot
  * use) would rescan the corpus per batch.
  *
  * Layout: `<path>/centroids` (k rows) and `<path>/corpus` written
  * `partitionBy("cell")` — so a probe of `nprobe` cells is a PARTITION-
  * PRUNED scan: the cell list is driver state (collected from the broadcast
  * probe ranking), pushed as a static `cell IN (...)` partition filter, and
  * Spark never opens the other cells' files. Query cost scales with
  * corpus × nprobe/k, not corpus.
  */
object IvfIndex {

  /** A usable index: `centroids` (cell, centroid) and `corpus` with its
    * `cell` assignment column.
    */
  final case class Index(centroids: DataFrame, corpus: DataFrame)

  /** Train k-means cells and assign the corpus — no I/O; pair with [[save]]
    * to persist. Training touches the corpus once per iteration (map-side-
    * combined mean aggregation); assignment is a zero-shuffle projection.
    * The corpus stays pinned because the returned assignment reads it;
    * after [[save]] the on-disk index is self-contained and the caller can
    * `corpus.unpersist()` or [[graft.core.Materialize.release]] (a
    * [[load]]ed index holds no cache at all).
    */
  def build(corpus: DataFrame, kCells: Int, iters: Int = 3): Index = {
    val cached = graft.core.Materialize.pin(corpus)
    val centroids = Similarity.kmeansCentroids(cached, kCells, iters)
    Index(centroids, Similarity.assignCells(cached, centroids))
  }

  /** Persist: centroids as one small parquet, the corpus bucketed into one
    * directory per cell (the partition layout IS the inverted file).
    */
  def save(index: Index, path: String): Unit = {
    index.centroids.coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    index.corpus
      .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(s"$path/corpus")
  }

  def load(spark: SparkSession, path: String): Index = Index(
    centroids = spark.read.parquet(s"$path/centroids"),
    corpus = spark.read.parquet(s"$path/corpus"))

  /** Top-k cosine neighbors per query over the `nprobe` nearest cells.
    * The probe ranking runs on the driver against the (tiny, collected)
    * centroid set, so the probed cell list reaches the corpus scan as a
    * static partition filter — visible as `PartitionFilters: [cell IN ...]`
    * in the plan, not a runtime join the optimizer may or may not prune.
    */
  def query(index: Index, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val spark = index.corpus.sparkSession
    import spark.implicits._
    val cents = index.centroids.select(col("cell").cast("int"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    // the query set is evaluated EXACTLY ONCE (this collect); both the
    // driver-side probe ranking and the distributed scoring frame are built
    // from the same collected rows — evaluating `queries` twice would let a
    // non-deterministic source (sample/limit) rank probes for one row set
    // and score a different one. Queries are broadcast-scale by contract.
    val qVecs = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = qVecs.toSeq.map { case (qid, emb) => (qid, emb.toSeq) }
      .toDF("query_id", "q_emb")
      .select(col("query_id"), col("q_emb").cast("array<float>"))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val probes: Map[Long, Seq[Int]] = qVecs.map { case (qid, emb) =>
      qid -> cents.map { case (cell, c) => (cell, cos(emb, c)) }
        .sortBy { case (cell, s) => (-s, cell) }.take(nprobe).map(_._1).toSeq
    }.toMap
    val probedCells = probes.values.flatten.toSeq.distinct.sorted
    val probePairs = probes.toSeq.flatMap { case (qid, cells) => cells.map(qid -> _) }
      .toDF("query_id", "probe_cell")
    // static partition pruning: only the probed cells' directories are read
    val pruned = index.corpus.filter(col("cell").isin(probedCells: _*))
    Similarity.knnWithinCells(pruned, q, probePairs, k)
  }
}
