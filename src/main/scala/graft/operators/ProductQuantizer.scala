package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions._

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI'11): compress each d-dim embedding into `m`
  * byte-sized codes by splitting it into m disjoint subvectors and replacing
  * each with the id of its nearest subspace centroid. With m=8 codebooks of
  * 256 codes, a 64-dim float32 vector (256 B) becomes 8 B — the 32×
  * compression that lets a 100 TB embedding corpus be scanned from memory —
  * and queries rank candidates by Asymmetric Distance Computation (ADC):
  * per-query lookup tables against the codebooks, so scoring a candidate is
  * m table lookups instead of d multiplications.
  *
  * Scale design, stage by stage:
  *  - **Train**: one Lloyd loop per subspace over a persisted corpus
  *    projection. Assignment is the zero-shuffle [[graft.expressions
  *    .NearestCellL2]] codegen argmax (Euclidean — cosine would discard the
  *    subvector magnitudes the codebook must represent); the mean
  *    recomputation is a map-side-combined groupBy moving kCodes rows per
  *    partition. Codebooks (m × kCodes × d/m floats) are driver state.
  *  - **Encode**: a single map-only projection — m NearestCellL2 argmaxes
  *    plus a literal-table lookup for the reconstruction norm. Nothing
  *    shuffles; encoding 100 TB is embarrassingly parallel.
  *  - **Query**: ADC tables (m × kCodes doubles per query) are computed on
  *    the driver and travel WITH the broadcast query rows as an
  *    array-of-arrays column, so the scored join is corpus-stationary:
  *    approx_dot is m codegen `element_at` lookups per pair, ranked by the
  *    heap-based native top-k. The corpus is read once, never shuffled.
  *
  * Ranking metric: approximate cosine — dot(q, recon(x)) / (|q|·|recon(x)|),
  * where |recon(x)|² = Σ_s |c_{s,code_s}|² exactly (subspaces are disjoint
  * coordinate blocks), precomputed at encode time. This matches the exact
  * cosine ranking of [[Similarity.knnBruteForce]] up to quantization error;
  * recall and distortion bounds are asserted in ProductQuantizerSpec.
  */
object ProductQuantizer {

  /** Trained PQ model: `codebooks(s)(c)` is the c-th centroid of subspace s
    * (dense ids 0..codebooks(s).length-1 — empty Lloyd cells are compacted
    * away, so codebooks may hold fewer than the requested kCodes).
    */
  case class Codebooks(dim: Int, subDim: Int, codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    /** |c_{s,code}|² lookup tables, one per subspace. */
    lazy val centroidNormSq: Array[Array[Double]] =
      codebooks.map(_.map(c => c.map(x => x.toDouble * x.toDouble).sum))
  }

  /** Train m subspace codebooks of (at most) `kCodes` centroids each with
    * `iters` Lloyd iterations. `dim` must divide evenly by m. Seeding is
    * deterministic (vec_id mod kCodes, as [[Similarity.kmeansCentroids]]),
    * so two runs over the same corpus produce identical codebooks.
    *
    * ALL m subspaces train together: the corpus explodes once into
    * (vec_id, s, subvector) rows, assignment is one per-s CASE over the
    * NearestCellL2 kernels, and every iteration is ONE map-side-combined
    * aggregate over the composite (s, cell) key — iters+1 jobs total,
    * where a per-subspace loop would schedule m·(iters+1) (the scheduling
    * overhead, not the math, dominated the old 8×4-job gate).
    */
  def train(corpus: DataFrame, m: Int, kCodes: Int, iters: Int = 3): Codebooks = {
    val dim = corpus.select(size(col("embedding"))).take(1) match {
      case Array(r) => r.getInt(0)
      case _ => 0
    }
    require(dim > 0, "cannot train PQ codebooks on an empty corpus")
    require(dim % m == 0, s"embedding dim $dim must divide by m=$m")
    val subDim = dim / m
    val subs = graft.core.Materialize.pin(corpus.select(col("vec_id"), posexplode(
        array((0 until m).map(s =>
          slice(col("embedding"), s * subDim + 1, subDim)): _*)))
      .toDF("vec_id", "s", "embedding"))
    def step(cellOfRow: Column): Array[Array[Array[Float]]] =
      collectBooks(Similarity.ivfCentroids(
        subs.withColumn("ckey", col("s") * kCodes + cellOfRow), "ckey", subDim),
        m, kCodes)
    var books = step(pmod(col("vec_id"), lit(kCodes)))
    var i = 0
    while (i < iters) {
      // dense per-subspace cell ids (< kCodes), branched on s — one
      // codegen CASE chain, zero shuffles before the mean aggregate
      val cellCase = (0 until m).foldLeft(lit(-1): Column) { (acc, s) =>
        when(col("s") === s,
          nearestCellL2(col("embedding"), books(s).indices.toArray, books(s)))
          .otherwise(acc)
      }
      books = step(cellCase)
      i += 1
    }
    subs.unpersist()
    Codebooks(dim, subDim, books)
  }

  /** Composite-key centroids split back per subspace, sorted by cell id and
    * re-indexed densely 0..n-1: Lloyd cell ids are arbitrary labels between
    * iterations, and dense ids let the ADC tables be positionally indexed
    * arrays (empty cells compact away per subspace, as before).
    */
  private def collectBooks(cents: DataFrame, m: Int,
      kCodes: Int): Array[Array[Array[Float]]] = {
    val rows = cents.select(col("cell").cast("int"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    (0 until m).toArray.map { s =>
      rows.filter(_._1 / kCodes == s).sortBy(_._1 % kCodes).map(_._2)
    }
  }

  /** Corpus with `pq_code` (array<int>, length m) and `recon_norm` (the
    * exact L2 norm of the reconstructed vector) — one zero-shuffle codegen
    * projection. 100 TB encode = map-only scan.
    */
  def encode(corpus: DataFrame, cb: Codebooks): DataFrame = {
    val codes = array((0 until cb.m).map { s =>
      nearestCellL2(
        slice(col("embedding"), s * cb.subDim + 1, cb.subDim),
        cb.codebooks(s).indices.toArray, cb.codebooks(s))
    }: _*)
    // Σ_s |c_{s,code_s}|² via per-subspace literal lookup tables
    val normSqSum = (0 until cb.m).map { s =>
      val tab = array(cb.centroidNormSq(s).map(lit): _*)
      element_at(tab, element_at(col("pq_code"), s + 1) + 1)
    }.reduce(_ + _)
    corpus.withColumn("pq_code", codes)
      .withColumn("recon_norm", sqrt(normSqSum))
  }

  /** Approximate top-k cosine neighbors from an [[encode]]d corpus by ADC.
    * `queries` must be broadcast-class (they are collected to compute the
    * per-query lookup tables). Output matches [[Similarity.knnBruteForce]]'s
    * shape: (query_id, neighbor_id, rank, cos_sim) with cos_sim the
    * PQ-approximate cosine.
    */
  def queryAdc(encoded: DataFrame, queries: DataFrame, cb: Codebooks,
      k: Int): DataFrame = {
    val spark = encoded.sparkSession
    val qRows = queries.select(col("vec_id"), col("embedding")).collect()
    val tabRows: Seq[Row] = qRows.toSeq.map { r =>
      val qid = r.getLong(0)
      val emb = r.getSeq[Float](1).toArray
      require(emb.length == cb.dim,
        s"query dim ${emb.length} != trained dim ${cb.dim}")
      // tab(s)(c) = dot(q_s, c_{s,c}); q_norm exact
      val tab = (0 until cb.m).map { s =>
        cb.codebooks(s).toSeq.map { c =>
          var acc = 0.0
          var i = 0
          while (i < cb.subDim) {
            acc += emb(s * cb.subDim + i).toDouble * c(i)
            i += 1
          }
          acc
        }
      }
      val qNorm = math.sqrt(emb.map(x => x.toDouble * x).sum)
      Row(qid, tab, qNorm)
    }
    val tabSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("tab", ArrayType(ArrayType(DoubleType)), nullable = false),
      StructField("q_norm", DoubleType, nullable = false)))
    val q = broadcast(
      spark.createDataFrame(spark.sparkContext.parallelize(tabRows, 1), tabSchema))
    val adcDot: Column = (0 until cb.m).map { s =>
      element_at(element_at(col("tab"), s + 1), element_at(col("pq_code"), s + 1) + 1)
    }.reduce(_ + _)
    Similarity.rankTopK(
      encoded.join(q, col("query_id") =!= col("vec_id"))
        .withColumn("cos_sim", adcDot / (col("q_norm") * col("recon_norm"))),
      k)
  }

  /** ADC shortlist + exact re-rank — the production IVF-PQ query shape: the
    * compressed codes cut the candidate set to `shortlist` per query, then
    * only those rows pay the full-precision cosine. Both joins keep the
    * corpus stationary (candidate set and queries are broadcast-class);
    * scanning cost is one ADC pass over the codes plus `shortlist × queries`
    * exact dot products. Recall is set by `shortlist`, not k — quantization
    * error must push a true neighbor out of the top `shortlist` (not the
    * top k) to lose it. `encoded` feeds two plan branches (the ADC scan and
    * the re-rank join) — callers should persist it, as the q130 gate and
    * ProductQuantizerSpec do.
    */
  def queryAdcRerank(encoded: DataFrame, queries: DataFrame, cb: Codebooks,
      k: Int, shortlist: Int): DataFrame = {
    val cand = broadcast(queryAdc(encoded, queries, cb, shortlist)
      .select(col("query_id").as("cand_query"), col("neighbor_id")))
    val qe = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val scored = encoded.join(cand, encoded("vec_id") === cand("neighbor_id"))
      .join(qe, col("query_id") === col("cand_query"))
      .withColumn("cos_sim", cosine(col("q_emb"), col("embedding")))
    Similarity.rankTopK(scored.select(col("query_id"), col("vec_id"), col("cos_sim")), k)
  }
}
