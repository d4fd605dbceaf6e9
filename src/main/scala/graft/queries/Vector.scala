package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.functions.VectorFunctions._
import graft.operators.Similarity

/** Embedding similarity surface (north-star extensions): norms, brute-force
  * cosine top-k (oracle-matched via identical sequential double folds), and
  * the approximate scale paths (hyperplane LSH, IVF, PQ — oracle-green:
  * static sign-matrix literals for LSH, DynamicOracle trained-model
  * literals for IVF/PQ/SemDeDup/PCA/prototypicality; recall is ALSO
  * asserted against the exact baseline in ScalaTest).
  */
object Vector {

  /** `(cell, [centroid doubles], inv)` VALUES rows for a DynamicOracle —
    * the centroid literals a k-means-trained gate registers so DuckDB can
    * replay assignment/probe arithmetic. `inv` is 1/|c| from the SAME
    * ascending fold + 1/sqrt as NearestCell.invNorms: the literal must be
    * the exact double the kernel multiplies by.
    */
  private def centroidRowsSql(centroids: org.apache.spark.sql.DataFrame): String = {
    import graft.core.DynamicOracle.dbl
    val cents = centroids.select(col("cell").cast("int"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    cents.map { case (c, arr) =>
      var ss = 0.0
      var i = 0
      while (i < arr.length) { ss += arr(i).toDouble * arr(i).toDouble; i += 1 }
      val inv = if (ss == 0.0) 0.0 else 1.0 / math.sqrt(ss)
      val lst = arr.map(x => dbl(x.toDouble)).mkString("[", ", ", "]")
      s"($c, $lst, ${dbl(inv)})"
    }.mkString(",\n  ")
  }

  /** Per-vector L2 norm. */
  private val vectorNorms = QueryDef(
    (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          sqrt(normSq(col("embedding"))).as("l2_norm"))
        .orderBy("vec_id"),
    s"""SELECT vec_id, label, ${sqlNorm("embedding")} AS l2_norm
       |FROM embeddings ORDER BY vec_id""".stripMargin)

  /** Exact top-5 cosine neighbors for the first 10 vectors as queries:
    * broadcast queries × linear corpus scan, per-query window rank.
    */
  private val knnExact = QueryDef(
    (s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      Similarity.knnBruteForce(
        corpus, corpus.filter(col("vec_id") < 10), k = 5)
        .orderBy("query_id", "rank")
    },
    s"""SELECT query_id, vec_id AS neighbor_id, rank, cos_sim FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id,
       |    ${sqlCosine("q.embedding", "c.embedding")} AS cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlCosine("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
       |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)

  /** Hard-negative mining (§2.10 fine-tuning data prep): for the first 10
    * vectors as anchors, the top-5 most-similar DIFFERENT-label vectors
    * below the 0.95 near-dup ceiling — the contrastive-training negatives
    * a DPR-style run would consume. Broadcast anchors, linear scan,
    * pre-rank filters; cosine folds are bit-identical across engines, so
    * the ranked set is oracle-exact.
    */
  private val hardNegatives = QueryDef(
    (s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      Similarity.hardNegatives(
        corpus, corpus.filter(col("vec_id") < 10), k = 5, dupCeiling = 0.95)
        .orderBy("query_id", "rank")
    },
    s"""SELECT query_id, vec_id AS neighbor_id, rank, cos_sim FROM (
       |  SELECT query_id, vec_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, vec_id ASC) AS rank
       |  FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id,
       |      ${sqlCosine("q.embedding", "c.embedding")} AS cos_sim
       |    FROM embeddings q JOIN embeddings c
       |      ON q.vec_id < 10 AND q.vec_id <> c.vec_id
       |        AND q.label <> c.label)
       |  WHERE cos_sim < 0.95)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)

  /** Similar pairs within a block (label): Σ block² cost instead of corpus². */
  private val similarPairs = QueryDef(
    (s, dir) =>
      Similarity.similarPairsBlocked(
        Tables.embeddings(s, dir), "label", threshold = 0.3)
        .orderBy("vec_a", "vec_b"),
    s"""SELECT label, vec_a, vec_b, cos_sim FROM (
       |  SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${sqlCosine("a.embedding", "b.embedding")} AS cos_sim
       |  FROM embeddings a JOIN embeddings b
       |    ON a.label = b.label AND a.vec_id < b.vec_id)
       |WHERE cos_sim >= 0.3 ORDER BY vec_a, vec_b""".stripMargin)

  /** Hyperplane-LSH approximate top-5 — oracle-green: the "random"
    * hyperplanes are PSEUDO-random (±1 signs from `xxhash64(bit, dim) & 1`,
    * VectorFunctions.hyperplaneBucket), so the whole operator is
    * deterministic and SQL-expressible once the sign matrix is a literal.
    * The oracle evaluates the SAME Catalyst XxHash64 expression on the
    * driver to materialize the 4×64 sign matrix, then DuckDB independently
    * replays bucketing (signed ascending-i dot folds — multiplying by ±1.0
    * is the exact sign flip the kernel's conditional negate performs),
    * the bucket equi-join, and the cosine top-5. Recall vs q51 stays
    * asserted in ScalaTest.
    */
  private val knnLsh = QueryDef(
    (s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      Similarity.knnLsh(corpus, corpus.filter(col("vec_id") < 10), k = 5, bits = 4)
        .orderBy("query_id", "rank")
    },
    {
      // the exact hash the kernel's executors compute: XxHash64 over two
      // INT literals (bit index, dim index), default seed — evaluated here
      // on the driver via the same expression class
      def sign(j: Int, d: Int): String = {
        import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
        // seed 42L = the SQL function's default (functions.xxhash64)
        val h = XxHash64(Seq(Literal(j), Literal(d)), 42L).eval(null).asInstanceOf[Long]
        if ((h & 1L) == 1L) "1.0" else "-1.0"
      }
      val dim = 64
      val signRows = (0 until 4).map(j =>
        s"($j, CAST([${(0 until dim).map(sign(j, _)).mkString(", ")}] AS DOUBLE[]))")
        .mkString(",\n  ")
      val sdot =
        "list_sum([CAST(e.embedding[i] AS DOUBLE) * s.sv[i] " +
          "for i in range(1, len(e.embedding)+1)])"
      Some(s"""WITH s(j, sv) AS (VALUES
         |  $signRows),
         |b AS (SELECT e.vec_id, e.embedding,
         |    CAST(SUM(CASE WHEN $sdot > 0 THEN (1 << s.j) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings e CROSS JOIN s GROUP BY e.vec_id, e.embedding)
         |SELECT query_id, vec_id AS neighbor_id, rank, cos_sim FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id,
         |    ${sqlCosine("q.embedding", "c.embedding")} AS cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlCosine("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM b q JOIN b c ON q.bucket = c.bucket
         |    AND q.vec_id < 10 AND q.vec_id <> c.vec_id)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
    })

  /** IVF approximate top-5 with k-means-trained cells (8 cells, 3 Lloyd
    * iterations, nprobe=3), quantizer-centroid probe (knnIvfWith).
    * Oracle-green via [[graft.core.DynamicOracle]], the q116 pattern: Lloyd
    * training stays driver state, but the trained centroids are a k×dim
    * literal — DuckDB independently replays the NearestCell assignment
    * argmax (dot × 1/|c|, score DESC / cell ASC first-wins), the per-query
    * top-nprobe probe ranking (full cosine, the `cosine` kernel's
    * dot/(√qq·√cc) shape), the probed-cell candidate join, and the cosine
    * top-5. Recall floor vs q51 stays asserted in ScalaTest.
    */
  private val knnIvf = QueryDef(
    (s, dir) => {
      val corpus = graft.core.Materialize.pin(Tables.embeddings(s, dir))
      val centsDf = Similarity.kmeansCentroids(corpus, k = 8, iters = 3)
      val centVals = centroidRowsSql(centsDf)
      graft.core.DynamicOracle.put("q54_knn_ivf",
        s"""WITH cents(cell, centroid, inv) AS (VALUES
           |  $centVals),
           |assigned AS (SELECT vec_id, embedding, cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${sqlDot("e.embedding", "c.centroid")} * c.inv DESC,
           |          c.cell ASC) AS rn
           |    FROM embeddings e CROSS JOIN cents c)
           |  WHERE rn = 1),
           |q AS (SELECT vec_id AS query_id, embedding AS q_emb
           |      FROM embeddings WHERE vec_id < 10),
           |probed AS (SELECT query_id, cell FROM (
           |    SELECT q.query_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.query_id
           |        ORDER BY ${sqlCosine("q.q_emb", "c.centroid")} DESC,
           |          c.cell ASC) AS rn
           |    FROM q CROSS JOIN cents c)
           |  WHERE rn <= 3)
           |SELECT query_id, vec_id AS neighbor_id, rank, cos_sim FROM (
           |  SELECT q.query_id, a.vec_id,
           |    ${sqlCosine("q.q_emb", "a.embedding")} AS cos_sim,
           |    ROW_NUMBER() OVER (PARTITION BY q.query_id
           |      ORDER BY ${sqlCosine("q.q_emb", "a.embedding")} DESC,
           |        a.vec_id ASC) AS rank
           |  FROM q JOIN probed p ON q.query_id = p.query_id
           |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> q.query_id)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
      Similarity.knnIvfWith(corpus, corpus.filter(col("vec_id") < 10),
        centsDf, k = 5, nprobe = 3)
        .orderBy("query_id", "rank")
    },
    None)

  /** Persisted IVF index lifecycle (build → save → load → query): the
    * production shape of q54 — train once, write centroids + cell-partitioned
    * corpus, and answer from the on-disk index with a partition-pruned probe
    * scan. Oracle-green via [[graft.core.DynamicOracle]]: the centroids
    * collected from the LOADED index (parquet float round-trip is bit-exact)
    * are the oracle's literals, and DuckDB replays the save-time NearestCell
    * assignment, the DRIVER-side probe ranking — IvfIndex.query's cos() fuses
    * the denominator as dot/√(qq·cc), one rounding fewer than the
    * distributed kernel's √qq·√cc, so the oracle mirrors THAT formula — and
    * the within-cell cosine top-5. Save/load identity, pruning, and recall
    * stay asserted in IvfIndexSpec.
    */
  private val ivfIndexQuery = QueryDef(
    (s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val tag = graft.core.Housekeeping.appTag(s)
      graft.core.Housekeeping.cleanStaleTmpDirs("graft_gate_ivf_", tag)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_gate_ivf_$tag"
      graft.operators.IvfIndex.save(
        graft.operators.IvfIndex.build(corpus, kCells = 8, iters = 3), path)
      // the on-disk index is self-contained after save: release the training
      // cache so it doesn't stay pinned for the rest of the session
      corpus.unpersist()
      val idx = graft.operators.IvfIndex.load(s, path)
      val centVals = centroidRowsSql(idx.centroids)
      // the driver probe's fused cosine: dot / sqrt(qq * cc)
      def fcos(a: String, b: String) =
        s"(${sqlDot(a, b)} / sqrt(${sqlDot(a, a)} * ${sqlDot(b, b)}))"
      graft.core.DynamicOracle.put("q80_ivf_index",
        s"""WITH cents(cell, centroid, inv) AS (VALUES
           |  $centVals),
           |assigned AS (SELECT vec_id, embedding, cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${sqlDot("e.embedding", "c.centroid")} * c.inv DESC,
           |          c.cell ASC) AS rn
           |    FROM embeddings e CROSS JOIN cents c)
           |  WHERE rn = 1),
           |q AS (SELECT vec_id AS query_id, embedding AS q_emb
           |      FROM embeddings WHERE vec_id < 10),
           |probed AS (SELECT query_id, cell FROM (
           |    SELECT q.query_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.query_id
           |        ORDER BY ${fcos("q.q_emb", "c.centroid")} DESC,
           |          c.cell ASC) AS rn
           |    FROM q CROSS JOIN cents c)
           |  WHERE rn <= 3)
           |SELECT query_id, vec_id AS neighbor_id, rank, cos_sim FROM (
           |  SELECT q.query_id, a.vec_id,
           |    ${sqlCosine("q.q_emb", "a.embedding")} AS cos_sim,
           |    ROW_NUMBER() OVER (PARTITION BY q.query_id
           |      ORDER BY ${sqlCosine("q.q_emb", "a.embedding")} DESC,
           |        a.vec_id ASC) AS rank
           |  FROM q JOIN probed p ON q.query_id = p.query_id
           |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> q.query_id)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
      graft.operators.IvfIndex.query(idx,
        corpus.filter(col("vec_id") < 10), k = 5, nprobe = 3)
        .orderBy("query_id", "rank")
    },
    None)

  /** Embedding-cosine near-duplicate clusters: q52's blocked cosine pairs
    * transitively closed into groups (DupGroups.embeddingDupGroups) — the
    * semantic-dedup path where near-dups are paraphrases, not shared
    * n-grams. Oracle closes the identical pair set with a recursive
    * reachability CTE.
    */
  private val embeddingDupGroups = QueryDef(
    (s, dir) =>
      graft.operators.DupGroups.embeddingDupGroups(
        Tables.embeddings(s, dir), "label", threshold = 0.3)
        .orderBy("vec_id"),
    s"""WITH RECURSIVE pairs AS (
       |  SELECT vec_a, vec_b FROM (
       |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |      ${sqlCosine("a.embedding", "b.embedding")} AS cos_sim
       |    FROM embeddings a JOIN embeddings b
       |      ON a.label = b.label AND a.vec_id < b.vec_id)
       |  WHERE cos_sim >= 0.3),
       |edges AS (SELECT vec_a u, vec_b v FROM pairs
       |          UNION ALL SELECT vec_b, vec_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u)
       |SELECT CAST(src AS BIGINT) AS vec_id, CAST(MIN(dst) AS BIGINT) AS group_id
       |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin)

  /** Uint8 scalar quantization (VectorFunctions.quantizeU8): per-vector
    * min-max range compression to int8 — the 4× storage shrink before ANN
    * indexing. The gate emits the reconstruction params (zero_point, scale)
    * and the quantized checksum; the oracle replays the identical
    * float32-subtract / double-scale / floor chain, so any drift in the
    * promotion order shows up as a hash mismatch. A zero-shuffle
    * projection — quantizing 100 TB of embeddings is a map-only job.
    */
  private val quantize = QueryDef(
    (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          array_min(col("embedding")).as("vmin"),
          array_max(col("embedding")).as("vmax"))
        .select(col("vec_id"),
          col("vmin").cast("double").as("zero_point"),
          ((col("vmax") - col("vmin")).cast("double") / 255.0).as("scale"),
          aggregate(
            quantizeU8(col("embedding"), col("vmin"), col("vmax")),
            lit(0L), (acc, q) => acc + q).as("q_sum"))
        .orderBy("vec_id"),
    s"""SELECT vec_id,
       |  CAST(vmin AS DOUBLE) AS zero_point,
       |  CAST(vmax - vmin AS DOUBLE) / CAST(255.0 AS DOUBLE) AS scale,
       |  CAST(list_sum(${sqlQuantizeU8("embedding", "vmin", "vmax")}) AS BIGINT) AS q_sum
       |FROM (SELECT vec_id, embedding,
       |        list_min(embedding) AS vmin, list_max(embedding) AS vmax
       |      FROM embeddings)
       |ORDER BY vec_id""".stripMargin)

  /** SemDeDup: k-means-blocked semantic dup clusters, keep-one applied.
    * Oracle-green via [[graft.core.DynamicOracle]] (the q116 pattern):
    * trained cell centroids become literals; DuckDB replays the NearestCell
    * assignment argmax, the intra-cell cosine pair generation, the
    * transitive closure (recursive reachability CTE, q69's pattern), and
    * the keep-one anti-join. Recall vs the exact all-pairs closure stays
    * asserted in SemDedupSpec.
    */
  private val semdedup = QueryDef(
    (s, dir) => {
      val corpus = graft.core.Materialize.pin(Tables.embeddings(s, dir))
      val centsDf = Similarity.kmeansCentroids(corpus, k = 4, iters = 3)
      val centVals = centroidRowsSql(centsDf)
      graft.core.DynamicOracle.put("q112_semdedup",
        s"""WITH RECURSIVE cents(cell, centroid, inv) AS (VALUES
           |  $centVals),
           |assigned AS (SELECT vec_id, embedding, cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${sqlDot("e.embedding", "c.centroid")} * c.inv DESC,
           |          c.cell ASC) AS rn
           |    FROM embeddings e CROSS JOIN cents c)
           |  WHERE rn = 1),
           |pairs AS (SELECT vec_a, vec_b FROM (
           |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |      ${sqlCosine("a.embedding", "b.embedding")} AS cos_sim
           |    FROM assigned a JOIN assigned b
           |      ON a.cell = b.cell AND a.vec_id < b.vec_id)
           |  WHERE cos_sim >= 0.3),
           |edges AS (SELECT vec_a u, vec_b v FROM pairs
           |          UNION ALL SELECT vec_b, vec_a FROM pairs),
           |reach(src, dst) AS (
           |  SELECT u, u FROM edges
           |  UNION
           |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
           |losers AS (SELECT src AS vec_id FROM reach
           |           GROUP BY src HAVING MIN(dst) <> src)
           |SELECT e.vec_id, e.label FROM embeddings e
           |WHERE e.vec_id NOT IN (SELECT vec_id FROM losers)
           |ORDER BY e.vec_id""".stripMargin)
      graft.operators.DupGroups.semanticDedupWith(corpus, centsDf,
          threshold = 0.3)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    },
    None)

  /** Prototypicality pruning signal: cosine to own k-means centroid.
    * Oracle-green via [[graft.core.DynamicOracle]]: the Lloyd ITERATIONS
    * aren't SQL-expressible, but the trained centroids are a k×dim driver
    * literal — the oracle embeds them (with each centroid's precomputed
    * 1/|c|, exactly the constant NearestCell multiplies by) and DuckDB
    * independently replays the assignment argmax (score DESC, cell ASC =
    * the kernel's strict-> first-wins tie-break) and the cosine fold. The
    * training itself stays pinned by SimilaritySpec's own-centroid-nearest
    * invariant.
    */
  private val prototypicality = QueryDef(
    (s, dir) => {
      val corpus = graft.core.Materialize.pin(Tables.embeddings(s, dir))
      val centsDf = Similarity.kmeansCentroids(corpus, k = 8, iters = 3)
      val centVals = centroidRowsSql(centsDf)
      graft.core.DynamicOracle.put("q116_prototypicality",
        s"""WITH cents(cell, centroid, inv) AS (VALUES
           |  $centVals),
           |scored AS (SELECT e.vec_id, c.cell,
           |    ${sqlDot("e.embedding", "c.centroid")} * c.inv AS score
           |  FROM embeddings e CROSS JOIN cents c),
           |best AS (SELECT vec_id, cell FROM (
           |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
           |      ORDER BY score DESC, cell ASC) AS rn FROM scored)
           |  WHERE rn = 1)
           |SELECT e.vec_id, b.cell,
           |  ${sqlCosine("e.embedding", "c.centroid")} AS proto_sim
           |FROM embeddings e JOIN best b USING (vec_id)
           |JOIN cents c ON b.cell = c.cell
           |ORDER BY e.vec_id""".stripMargin)
      Similarity.prototypicalityWith(corpus, centsDf)
        .select(col("vec_id"), col("cell"), col("proto_sim"))
        .orderBy("vec_id")
    },
    None)

  /** Product-quantized ANN, production query shape: train m=8 × 64-code
    * L2 codebooks, encode the corpus to 8-byte codes (32× compression),
    * shortlist by ADC table lookups, re-rank the shortlist at full
    * precision. Rows-only (Lloyd subquantizers aren't SQL-expressible);
    * exact code/norm/ADC arithmetic, determinism, recall and distortion are
    * asserted in ProductQuantizerSpec.
    */
  private val pqAdc = QueryDef(
    (s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      // codebooks train on a deterministic hash-sample (~half the corpus),
      // exactly as production PQ does — Lloyd iterations dominate the gate
      // and sample-trained codebooks lose nothing the spec's recall/
      // distortion assertions would catch
      val sample = corpus.filter(
        graft.operators.Sampling.hashBucket(col("vec_id"), 2) === 0)
      val cb = graft.operators.ProductQuantizer.train(sample, m = 8, kCodes = 64, iters = 3)
      // Oracle-green via DynamicOracle: the trained codebooks are
      // m × ≤kCodes × subDim driver doubles — embedded as literals, DuckDB
      // replays the ENTIRE compressed-search pipeline: the per-subspace
      // encode argmin (NearestCellL2's dot − |c|²/2 form — bias folds as
      // -0.5·nsq, exact since 0.5 is a power of two and nsq is the kernel's
      // own ascending ssq fold), the reconstructed norm √Σₛnsq (ordered
      // fold), the per-query ADC tables (same ascending dot folds the
      // driver computes), the top-`shortlist` ADC ranking, and the exact
      // cosine re-rank. Recall/distortion stay asserted in
      // ProductQuantizerSpec.
      locally {
        import graft.core.DynamicOracle.dbl
        val sd = cb.subDim
        val rows = (0 until cb.m).flatMap { sub =>
          cb.codebooks(sub).zipWithIndex.map { case (c, code) =>
            var ssq = 0.0
            var i = 0
            while (i < c.length) { ssq += c(i).toDouble * c(i).toDouble; i += 1 }
            val lst = c.map(x => dbl(x.toDouble)).mkString("[", ", ", "]")
            s"($sub, $code, $lst, ${dbl(ssq)})"
          }
        }.mkString(",\n  ")
        def sub(v: String) = s"($v[(cb.s * $sd + 1):(cb.s * $sd + $sd)])"
        graft.core.DynamicOracle.put("q130_pq_adc",
          s"""WITH cb(s, code, centroid, nsq) AS (VALUES
             |  $rows),
             |q AS (SELECT vec_id AS query_id, embedding AS q_emb,
             |        sqrt(${sqlDot("embedding", "embedding")}) AS q_norm
             |      FROM embeddings WHERE vec_id < 10),
             |codes AS (SELECT vec_id, s, code FROM (
             |    SELECT e.vec_id, cb.s, cb.code,
             |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.s
             |        ORDER BY ${sqlDot(sub("e.embedding"), "cb.centroid")}
             |          - 0.5 * cb.nsq DESC, cb.code ASC) AS rn
             |    FROM embeddings e CROSS JOIN cb) WHERE rn = 1),
             |recon AS (SELECT c.vec_id,
             |    sqrt(list_sum(list(cb.nsq ORDER BY c.s))) AS recon_norm
             |  FROM codes c JOIN cb ON cb.s = c.s AND cb.code = c.code
             |  GROUP BY c.vec_id),
             |adc AS (SELECT q.query_id, c.vec_id,
             |    list_sum(list(${sqlDot(sub("q.q_emb"), "cb.centroid")}
             |      ORDER BY c.s)) AS adc_dot
             |  FROM q CROSS JOIN codes c
             |  JOIN cb ON cb.s = c.s AND cb.code = c.code
             |  WHERE q.query_id <> c.vec_id
             |  GROUP BY q.query_id, c.vec_id),
             |shortlist AS (SELECT query_id, vec_id FROM (
             |    SELECT a.query_id, a.vec_id,
             |      ROW_NUMBER() OVER (PARTITION BY a.query_id
             |        ORDER BY a.adc_dot / (q.q_norm * r.recon_norm) DESC,
             |          a.vec_id ASC) AS rn
             |    FROM adc a JOIN q ON a.query_id = q.query_id
             |    JOIN recon r ON a.vec_id = r.vec_id) WHERE rn <= 50)
             |SELECT query_id, vec_id AS neighbor_id, rank, cos_sim FROM (
             |  SELECT sl.query_id, e.vec_id,
             |    ${sqlCosine("q.q_emb", "e.embedding")} AS cos_sim,
             |    ROW_NUMBER() OVER (PARTITION BY sl.query_id
             |      ORDER BY ${sqlCosine("q.q_emb", "e.embedding")} DESC,
             |        e.vec_id ASC) AS rank
             |  FROM shortlist sl JOIN embeddings e ON sl.vec_id = e.vec_id
             |  JOIN q ON sl.query_id = q.query_id)
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
      }
      // encoded feeds two plan branches (ADC shortlist + re-rank join)
      val encoded = graft.core.Materialize.pin(
        graft.operators.ProductQuantizer.encode(corpus, cb))
      graft.operators.ProductQuantizer.queryAdcRerank(encoded,
        corpus.filter(col("vec_id") < 10), cb, k = 5, shortlist = 50)
        .orderBy("query_id", "rank")
    },
    None)

  /** Seeded Rademacher random projection (Projections.randomProjection):
    * 64 → 16 dims, long-form output so every projected coordinate is under
    * the exact hash. The ±1 matrix derives from md5-parity of
    * "rp:seed:j:i", which the oracle regenerates in SQL — sign matrix,
    * fold order, and the √k divide all replay bit-for-bit.
    */
  private val randomProjection = QueryDef(
    (s, dir) =>
      graft.operators.Projections.randomProjection(
        Tables.embeddings(s, dir), "embedding", d = 64, k = 16, seed = 0)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("dim"),
          col("col").as("value"))
        .orderBy("vec_id", "dim"),
    """WITH ex AS (SELECT vec_id, u.i AS i, CAST(u.x AS DOUBLE) AS x
      |       FROM (SELECT vec_id,
      |               unnest([struct_pack(i := i - 1, x := embedding[i])
      |                       for i in range(1, len(embedding) + 1)]) u
      |             FROM embeddings)),
      |js AS (SELECT unnest(range(16)) AS j),
      |terms AS (SELECT vec_id, j, i,
      |           x * (CASE WHEN (strpos('0123456789abcdef',
      |                  substr(md5('rp:0:' || j || ':' || i), 1, 1)) - 1) % 2 = 0
      |                THEN 1.0 ELSE -1.0 END) AS t
      |          FROM ex CROSS JOIN js)
      |SELECT vec_id, CAST(j AS BIGINT) AS dim,
      |       list_sum(list(t ORDER BY i)) / sqrt(16.0) AS value
      |FROM terms GROUP BY vec_id, j ORDER BY vec_id, dim""".stripMargin)

  /** PCA whitening (Pca.fit + whiten): one-pass distributed moments, driver
    * Jacobi eigensolve, then a single affine kernel projection to the top 8
    * unit-variance components. Oracle-green via
    * [[graft.core.DynamicOracle]]: the EIGENSOLVE isn't SQL-expressible,
    * but the fitted (basis, divisors, offsets) triple is 8×64+16 driver
    * doubles — the oracle embeds them and DuckDB replays the kernel's
    * out[j] = Σxᵢwⱼᵢ/divⱼ − offⱼ with the identical ascending-i fold
    * (the q136 random-projection pattern, weights from the fit instead of
    * md5 parity). Orthonormality, variance capture, and the map-only apply
    * plan stay asserted in PcaSpec.
    */
  private val pcaWhiten = QueryDef(
    (s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val model = graft.operators.Pca.fit(corpus, "embedding", d = 64)
      val (rows, divs, offs) =
        graft.operators.Pca.affineParams(model, k = 8, whiten = true)
      import graft.core.DynamicOracle.dbl
      val wValues = rows.zipWithIndex.flatMap { case (r, j) =>
        r.zipWithIndex.map { case (wt, i) => s"($j, $i, ${dbl(wt)})" }
      }.mkString(",\n  ")
      val dvValues = divs.zip(offs).zipWithIndex
        .map { case ((d0, o0), j) => s"($j, ${dbl(d0)}, ${dbl(o0)})" }
        .mkString(", ")
      graft.core.DynamicOracle.put("q137_pca_whiten",
        s"""WITH ex AS (SELECT vec_id, u.i AS i, CAST(u.x AS DOUBLE) AS x
           |  FROM (SELECT vec_id,
           |          unnest([struct_pack(i := i - 1, x := embedding[i])
           |                  for i in range(1, len(embedding) + 1)]) u
           |        FROM embeddings)),
           |w(j, i, wt) AS (VALUES
           |  $wValues),
           |dv(j, d, o) AS (VALUES $dvValues),
           |terms AS (SELECT vec_id, w.j, ex.i, ex.x * w.wt AS tm
           |          FROM ex JOIN w ON ex.i = w.i)
           |SELECT t.vec_id, CAST(t.j AS BIGINT) AS dim,
           |  list_sum(list(t.tm ORDER BY t.i)) / dv.d - dv.o AS value
           |FROM terms t JOIN dv ON t.j = dv.j
           |GROUP BY t.vec_id, t.j, dv.d, dv.o
           |ORDER BY vec_id, dim""".stripMargin)
      graft.operators.Pca.whiten(corpus, "embedding", model, k = 8)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("dim"),
          col("col").as("value"))
        .orderBy("vec_id", "dim")
    },
    None)

  /** ANN accountability harness (RetrievalEval): recall@5 and top-1
    * reciprocal rank of the 16-dim random-projection KNN against the exact
    * 64-dim baseline — the evaluate-before-rollout step of any index
    * deployment. Both search paths AND the eval joins replay in SQL (the
    * projection regenerates from md5 parity, the float cast mirrors
    * Spark's array<float> storage, cosines fold positionally), so the
    * whole comparison is hash-exact.
    */
  /** Shared oracle CTE block for the retrieval-eval gates (q139/q162/
    * q211): the 64-dim corpus long-form, the seeded Rademacher projection
    * to 16 dims, and the two brute-force top-5 rankings — `exact` over
    * raw embeddings, `appr` over the projected ones. Every downstream
    * eval metric joins these two (queries × k) frames.
    */
  private lazy val rpKnnCtes: String =
    s"""ex AS (SELECT vec_id, u.i AS i, CAST(u.x AS DOUBLE) AS x
       |       FROM (SELECT vec_id, unnest([struct_pack(i := i - 1, x := embedding[i])
       |                                    for i in range(1, len(embedding) + 1)]) u
       |             FROM embeddings)),
       |js AS (SELECT unnest(range(16)) AS j),
       |tm AS (SELECT vec_id, j, i,
       |         x * (CASE WHEN (strpos('0123456789abcdef',
       |                substr(md5('rp:0:' || j || ':' || i), 1, 1)) - 1) % 2 = 0
       |              THEN 1.0 ELSE -1.0 END) AS t
       |       FROM ex CROSS JOIN js),
       |pv AS (SELECT vec_id, j, list_sum(list(t ORDER BY i)) / sqrt(16.0) AS value
       |       FROM tm GROUP BY vec_id, j),
       |pl AS (SELECT vec_id, list(CAST(CAST(value AS REAL) AS DOUBLE) ORDER BY j) AS p
       |       FROM pv GROUP BY vec_id),
       |exact AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlCosine("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
       |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |  WHERE rank <= 5),
       |appr AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlCosine("q.p", "c.p")} DESC, c.vec_id ASC) AS rank
       |  FROM pl q JOIN pl c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |  WHERE rank <= 5)""".stripMargin

  /** The two persisted brute-force KNN frames every retrieval-eval gate
    * compares: exact top-5 over the raw 64-dim corpus vs top-5 over the
    * seeded 16-dim random projection. Persisted because the eval joins
    * are broadcast — unpersisted inputs would re-run the searches inside
    * each broadcast exchange (the round-6 q162 blow-up).
    */
  private def evalRankings(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val corpus = Tables.embeddings(s, dir)
    val truth = graft.core.Materialize.pin(Similarity.knnBruteForce(
      corpus, corpus.filter(col("vec_id") < 10), k = 5))
    val proj = graft.operators.Projections.randomProjection(
      corpus, "embedding", d = 64, k = 16, seed = 0)
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val approx = graft.core.Materialize.pin(Similarity.knnBruteForce(
      proj, proj.filter(col("vec_id") < 10), k = 5))
    (truth, approx)
  }

  private val annRecall = QueryDef(
    (s, dir) => {
      val (truth, approx) = evalRankings(s, dir)
      graft.operators.RetrievalEval.compare(truth, approx, k = 5)
        .orderBy("query_id")
    },
    s"""WITH $rpKnnCtes,
       |hits AS (SELECT e.query_id, COUNT(*) AS n_hits
       |         FROM exact e JOIN appr a
       |           ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |         GROUP BY e.query_id),
       |rr AS (SELECT e.query_id,
       |         COALESCE(CAST(1.0 AS DOUBLE) / a.rank, CAST(0.0 AS DOUBLE)) AS top1_rr
       |       FROM exact e LEFT JOIN appr a
       |         ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |       WHERE e.rank = 1)
       |SELECT q.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(5.0 AS DOUBLE) AS recall,
       |       COALESCE(r.top1_rr, CAST(0.0 AS DOUBLE)) AS top1_rr
       |FROM (SELECT DISTINCT query_id FROM exact) q
       |LEFT JOIN hits h USING (query_id) LEFT JOIN rr r USING (query_id)
       |ORDER BY query_id""".stripMargin)

  /** nDCG@5 of the same projected-KNN-vs-exact comparison as q139 — the
    * position-sensitive rollout metric (a shortlist that finds the right
    * neighbors but ranks them low scores below one that ranks them where
    * exact search does). Discounts 1/log2(rank+1) are driver literals
    * replayed digit-for-digit in the oracle (Double.toString round-trips),
    * and the per-query DCG is an ordered fold — no bet on two engines'
    * transcendental log agreeing in the last ulp.
    */
  private val ndcgEval: QueryDef = {
    val disc = graft.operators.RetrievalEval.discounts(5)
    val discCase = disc.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN CAST('$d' AS DOUBLE)" }
      .mkString("CASE a.rank ", " ", " ELSE CAST(0.0 AS DOUBLE) END")
    val idcg = graft.operators.RetrievalEval.idcgConst(5)
    QueryDef(
      (s, dir) => {
        val (truth, approx) = evalRankings(s, dir)
        graft.operators.RetrievalEval.ndcg(truth, approx, k = 5)
          .orderBy("query_id")
      },
      s"""WITH $rpKnnCtes,
         |dj AS (SELECT e.query_id, a.rank AS rank, $discCase AS disc
         |       FROM exact e JOIN appr a
         |         ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id),
         |dcg AS (SELECT query_id,
         |          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |            list(disc ORDER BY rank)), (x, y) -> x + y) AS dcg
         |        FROM dj GROUP BY query_id)
         |SELECT q.query_id, COALESCE(d.dcg, CAST(0.0 AS DOUBLE)) AS dcg,
         |  COALESCE(d.dcg, CAST(0.0 AS DOUBLE)) / CAST('$idcg' AS DOUBLE) AS ndcg
         |FROM (SELECT DISTINCT query_id FROM exact) q
         |LEFT JOIN dcg d USING (query_id)
         |ORDER BY query_id""".stripMargin)
  }

  /** q191: hybrid retrieval — BM25 over each query document's text fused
    * with exact cosine KNN over its embedding by Reciprocal Rank Fusion
    * (RankFusion.rrf). The corpus carries aligned ids (doc_id ≡ vec_id),
    * so this is the real two-tower + lexical hybrid stack end-to-end, and
    * every stage (driver-ln idf, sorted-term float fold, sequential cosine
    * fold, 1/(60+rank) fusion in declared run order) is bitwise
    * oracle-replayable.
    */
  private val hybridRrf = QueryDef(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val qs = docs.filter(col("doc_id") < 3).select("doc_id", "text")
        .collect().map(r => (r.getLong(0).toString, r.getString(1))).toSeq
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("score"), col("doc_id"))
      val sparse = graft.operators.Bm25
        .scoreTopK(docs, "doc_id", "text", qs, topK = 20)
        .withColumn("rank", row_number().over(wq))
        .select(col("query_id"), col("doc_id").as("item_id"), col("rank"))
      val dense = Similarity
        .knnBruteForce(emb, emb.filter(col("vec_id") < 3), k = 20)
        .select(col("query_id").cast("string").as("query_id"),
          col("neighbor_id").as("item_id"), col("rank"))
      graft.core.QueryDef.orderedOut(
        graft.operators.RankFusion.rrf(Seq(sparse, dense), k = 60, topK = 10),
        "query_id", "rank")
    },
    s"""WITH d AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks
       |  FROM documents),
       |dl AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST(0 AS BIGINT)
      |    ELSE CAST(len(toks) AS BIGINT) END AS dl FROM d),
       |st AS (SELECT COUNT(*) AS n,
       |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
       |  FROM dl),
       |qd AS (SELECT CAST(doc_id AS VARCHAR) AS query_id,
       |    unnest(list_distinct(toks)) AS term
       |  FROM d WHERE doc_id < 3),
       |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM (
       |    SELECT doc_id, unnest(list_distinct(toks)) AS term FROM d)
       |  WHERE term IN (SELECT term FROM qd) GROUP BY term),
       |idf AS (SELECT qd.query_id, qd.term,
       |    ln((CAST(st.n - dfs.df AS DOUBLE) + CAST('0.5' AS DOUBLE))
       |      / (CAST(dfs.df AS DOUBLE) + CAST('0.5' AS DOUBLE)) + 1) AS idf,
       |    st.avgdl
       |  FROM qd JOIN dfs USING (term) CROSS JOIN st),
       |tf AS (SELECT e.doc_id, l.dl, e.term, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM d) e
       |  JOIN dl l USING (doc_id)
       |  WHERE e.term IN (SELECT term FROM qd)
       |  GROUP BY e.doc_id, l.dl, e.term),
       |contrib AS (SELECT i.query_id, tf.doc_id, tf.term,
       |    i.idf * (tf.tf * (CAST('1.2' AS DOUBLE) + 1))
       |      / (tf.tf + CAST('1.2' AS DOUBLE) * ((1 - CAST('0.75' AS DOUBLE))
       |        + CAST('0.75' AS DOUBLE) * CAST(tf.dl AS DOUBLE) / i.avgdl))
       |      AS contrib
       |  FROM tf JOIN idf i USING (term)),
       |scoredb AS (SELECT query_id, doc_id,
       |    list_sum(list(contrib ORDER BY term)) AS score
       |  FROM contrib GROUP BY query_id, doc_id),
       |sparse AS (SELECT query_id, doc_id AS item_id, rank FROM (
       |    SELECT query_id, doc_id, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS rank
       |    FROM scoredb)
       |  WHERE rank <= 20),
       |dense AS (SELECT CAST(query_id AS VARCHAR) AS query_id,
       |    vec_id AS item_id, rank FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${sqlCosine("q.embedding", "c.embedding")} DESC,
       |          c.vec_id ASC) AS rank
       |    FROM embeddings q JOIN embeddings c
       |      ON q.vec_id < 3 AND q.vec_id <> c.vec_id)
       |  WHERE rank <= 20),
       |fused AS (SELECT query_id, item_id,
       |    COALESCE(CAST('1.0' AS DOUBLE)
       |      / (CAST('60.0' AS DOUBLE) + CAST(s.rank AS DOUBLE)),
       |      CAST('0.0' AS DOUBLE))
       |    + COALESCE(CAST('1.0' AS DOUBLE)
       |      / (CAST('60.0' AS DOUBLE) + CAST(de.rank AS DOUBLE)),
       |      CAST('0.0' AS DOUBLE)) AS rrf
       |  FROM sparse s FULL JOIN dense de USING (query_id, item_id))
       |SELECT query_id, item_id, rrf, rank FROM (
       |  SELECT query_id, item_id, rrf, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY rrf DESC, item_id) AS rank
       |  FROM fused)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)

  /** Truncated rank-biased overlap @5 (Webber, Moffat & Zobel, TOIS'10;
    * p = 0.9) of the same exact-vs-projected comparison as q139/q162 —
    * the order-sensitive SYMMETRIC agreement number (recall ignores
    * order; nDCG needs a relevance side; RBO compares the two rankings
    * as rankings, weighting shallow depths most). The per-item weights
    * w(m) = Σ_{d=m..5} p^(d-1)(1-p)/d are driver doubles replayed
    * digit-for-digit via Double.toString; per-query sums fold in
    * worst-rank order on both engines.
    */
  private val rboEval: QueryDef = {
    val w = graft.operators.RetrievalEval.rboWeights(5, 0.9)
    val wCase = w.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN CAST('$v' AS DOUBLE)" }
      .mkString("CASE m ", " ", " ELSE CAST(0.0 AS DOUBLE) END")
    QueryDef(
      (s, dir) => {
        val (truth, approx) = evalRankings(s, dir)
        graft.core.QueryDef.orderedOut(
          graft.operators.RetrievalEval.rbo(truth, approx, k = 5, p = 0.9),
          "query_id")
      },
      s"""WITH $rpKnnCtes,
         |cm AS (SELECT e.query_id, greatest(e.rank, a.rank) AS m
         |       FROM exact e JOIN appr a
         |         ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id),
         |pq AS (SELECT query_id,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list($wCase ORDER BY m)), (x, y) -> x + y) AS rbo
         |       FROM cm GROUP BY query_id)
         |SELECT q.query_id, COALESCE(r.rbo, CAST(0.0 AS DOUBLE)) AS rbo
         |FROM (SELECT query_id FROM exact UNION SELECT query_id FROM appr) q
         |LEFT JOIN pq r USING (query_id)
         |ORDER BY q.query_id""".stripMargin)
  }

  val defs: Map[String, QueryDef] = Map(
    "q212_rbo_eval" -> rboEval,
    "q191_hybrid_rrf" -> hybridRrf,
    "q162_ndcg_eval" -> ndcgEval,
    "q139_ann_recall" -> annRecall,
    "q136_random_projection" -> randomProjection,
    "q137_pca_whiten" -> pcaWhiten,
    "q130_pq_adc" -> pqAdc,
    "q116_prototypicality" -> prototypicality,
    "q112_semdedup" -> semdedup,
    "q87_quantize" -> quantize,
    "q50_vector_norms" -> vectorNorms,
    "q80_ivf_index" -> ivfIndexQuery,
    "q69_embedding_dup_groups" -> embeddingDupGroups,
    "q51_knn_exact" -> knnExact,
    "q204_hard_negatives" -> hardNegatives,
    "q52_similar_pairs" -> similarPairs,
    "q53_knn_lsh" -> knnLsh,
    "q54_knn_ivf" -> knnIvf)
}
