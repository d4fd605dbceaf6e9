package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster formation. Pair lists (n-gram Jaccard, MinHash/LSH,
  * SimHash, embedding cosine) are only half of deduplication — a production
  * pipeline must transitively close the pairs into clusters and keep ONE
  * canonical document per cluster (A~B and B~C must not leave both A and C
  * in the corpus). Reference scope: extends the dedup contract of
  * tests/unit/test_ingestion.py:131-156 from key-equality to
  * similarity-closure semantics.
  *
  * Scale design: [[connectedComponents]] works over the EDGE list only —
  * pairs that already passed a similarity threshold, so orders of magnitude
  * smaller than the corpus — and the corpus itself is touched exactly twice
  * (once to generate pairs upstream, once for the final semi/anti join).
  * Strategy is size-adaptive like Spark's broadcast threshold: small edge
  * lists close on the driver with union-find (one job, no per-round
  * scheduler latency); larger ones run distributed min-label propagation,
  * one join + one aggregate per round, rounds = cluster diameter (dense
  * thresholded clusters: 2-4 in practice). For adversarial long-chain
  * graphs the alternating large-star/small-star algorithm (Kiveris et al.,
  * SoCC'14) bounds rounds at O(log n); similarity graphs don't need it, so
  * we keep the simpler propagation and fail loudly at `maxIter` rather than
  * return a non-fixpoint labeling.
  */
object DupGroups {

  /** Connected components of the undirected graph given as an edge list:
    * (vertex, component) where component = the minimum vertex id in the
    * component. Only vertices with at least one edge appear — an isolated
    * document is trivially its own group, and callers that need those rows
    * union them back (see [[dropNearDuplicates]]).
    *
    * Per round: propagate every vertex's current label across its edges,
    * then take the min of (own label, incoming labels). Labels start at
    * min(self, direct neighbors) and only ever decrease, so the sum of all
    * labels is a monotone convergence witness: an unchanged sum is a
    * fixpoint, checked with one tiny aggregate per round instead of a
    * change-count join.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25, maxDriverEdges: Long = 1000000L): DataFrame = {
    // pin, NOT cut: the edge projection is read twice (count + one
    // strategy) and must be released on exit — unpersist frees a pin but
    // not a cut
    val e = graft.core.Materialize.pin(
      edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v")))
    // Size-based strategy switch, the same philosophy as Spark's broadcast
    // threshold: a thresholded similarity pair list is usually orders of
    // magnitude smaller than its corpus, and below `maxDriverEdges` a driver
    // union-find beats a multi-round distributed loop where every round
    // costs scheduler latency + two shuffles. The default (1M edges) is
    // sized for REAL driver cost — collect() materializes boxed rows and
    // the result comes back as a local relation, so the transient footprint
    // is hundreds of bytes per edge, not 16 — comfortably inside a stock
    // driver heap while still covering every sane thresholded-pairs corpus.
    // Above the threshold, distributed min-label propagation takes over.
    try {
      if (e.count() <= maxDriverEdges) driverComponents(e)
      else distributedComponents(e, maxIter)
    } finally e.unpersist()
  }

  /** Union-find with path compression on the driver — exact same contract
    * as the distributed path: (vertex, label = component's min vertex id),
    * edge-touched vertices only.
    */
  private def driverComponents(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
      r
    }
    e.collect().foreach { row =>
      val (u, v) = (row.getLong(0), row.getLong(1))
      parent.putIfAbsent(u, u)
      parent.putIfAbsent(v, v)
      val (ru, rv) = (find(u), find(v))
      // union by min id keeps the root the component minimum for free
      if (ru < rv) parent.put(rv, ru) else if (rv < ru) parent.put(ru, rv)
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size())
    parent.keySet().forEach(v => out += ((v.toLong, find(v))))
    out.toSeq.toDF("vertex", "label")
  }

  private def distributedComponents(e: DataFrame, maxIter: Int): DataFrame = {
    // cut, not pin: each round references the previous label
    // frame TWICE (join + union), so an un-truncated logical plan doubles per
    // round — exponential analysis/optimization cost that dwarfs execution
    // after ~15 rounds. Checkpointing cuts the lineage to the materialized
    // partitions, keeping every round's plan constant-size. Edges are tiny
    // (already-thresholded pairs), so the materialization is cheap. The
    // round frames' checkpoints wait for the reclamation Materialize.cut
    // describes — bounded by rounds × label-frame size, label frames being
    // vertex-sized.
    val sym = graft.core.Materialize.cut(
      e.union(e.select(col("v").as("u"), col("u").as("v"))))

    // null-safe: an empty edge list yields a null SUM — treat as zero so the
    // clean-corpus case (no near-duplicate pairs at all) converges instead
    // of NPE-ing on compareTo
    def labelSum(labels: DataFrame): java.math.BigDecimal =
      Option(labels.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)

    var cur = graft.core.Materialize.cut(
      sym.groupBy(col("u").as("vertex"))
        .agg(min(least(col("u"), col("v"))).as("label")))
    var curSum = labelSum(cur)
    var converged = cur.isEmpty // no edges → no vertices → already a fixpoint
    var round = 0
    while (!converged && round < maxIter) {
      // one shuffle on edges (join by u) + one on vertices (groupBy) — the
      // corpus never appears; the eager cut truncates lineage so
      // each round reads the previous labels' materialized partitions, not
      // the whole chain of prior rounds
      val next = graft.core.Materialize.cut(
        sym.join(cur, sym("u") === cur("vertex"))
          .select(sym("v").as("vertex"), col("label"))
          .union(cur)
          .groupBy("vertex").agg(min(col("label")).as("label")))
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(curSum) == 0
      cur.unpersist()
      cur = next
      curSum = nextSum
      round += 1
    }
    sym.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — component " +
          s"diameter exceeds maxIter; raise maxIter (or use star-contraction " +
          s"for adversarial chain graphs)")
    cur
  }

  /** Near-duplicate clusters over a document corpus: exact n-gram Jaccard
    * pairs at `minJaccard`, transitively closed. Returns (idCol, group_id)
    * for every document that has at least one near-duplicate; group_id is
    * the minimum doc id of the cluster.
    */
  def nearDupGroups(df: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double, maxDocFreq: Long = 1000L): DataFrame = {
    val pairs = TextDedup.ngramJaccardPairs(
      df, idCol, textCol, n, minJaccard, maxDocFreq, materialize = true)
    connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("vertex").as(idCol), col("label").as("group_id"))
  }

  /** Keep one document per near-duplicate cluster (minimum id wins) plus
    * every document with no near-duplicate — the standard corpus-dedup
    * "closure then canonical" step. One anti-join against the (tiny)
    * non-canonical member list; the corpus is never shuffled.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double, maxDocFreq: Long = 1000L): DataFrame = {
    val losers = nearDupGroups(df, idCol, textCol, n, minJaccard, maxDocFreq)
      .filter(col(idCol) =!= col("group_id"))
      .select(idCol)
    df.join(broadcast(losers), Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-duplicate clusters: blocked cosine pairs at
    * `threshold`, transitively closed within the pair graph. Blocking means
    * clusters cannot span blocks unless a pair does — the block column is a
    * routing key (label, shard, LSH bucket), not a semantic boundary, so
    * choose it accordingly.
    */
  def embeddingDupGroups(corpus: DataFrame, blockCol: String,
      threshold: Double): DataFrame = {
    val pairs = Similarity.similarPairsBlocked(corpus, blockCol, threshold)
    connectedComponents(pairs, "vec_a", "vec_b")
      .select(col("vertex").as("vec_id"), col("label").as("group_id"))
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic near-duplicate
    * clusters with LEARNED blocking — when no natural block column exists,
    * k-means cells play that role, so candidate pairs are Σ cell² instead
    * of corpus². Training is [[Similarity.kmeansCentroids]] (one map-side-
    * combined groupBy per Lloyd iteration, centroids as driver state),
    * assignment a zero-shuffle codegen argmax, and the intra-cell pair
    * generation + closure reuse [[embeddingDupGroups]]'s machinery.
    *
    * Like all blocked dedup, pairs crossing a cell boundary are missed —
    * the paper's accepted trade-off; raise recall with fewer/looser cells.
    * The corpus is persisted for the duration (k-means scans it once per
    * iteration, pairing twice).
    */
  def semanticDupGroups(corpus: DataFrame, kCells: Int, threshold: Double,
      iters: Int = 3): DataFrame = {
    val cached = graft.core.Materialize.pin(corpus)
    // connectedComponents materializes its labels (driver union-find local
    // relation or eager cuts) before returning, so by the time
    // embeddingDupGroups comes back nothing lazy references the cache —
    // release it instead of pinning a corpus-sized block set per call
    try {
      val assigned = Similarity.assignCells(cached,
        Similarity.kmeansCentroids(cached, kCells, iters))
      embeddingDupGroups(assigned, "cell", threshold)
    } finally cached.unpersist()
  }

  /** SemDeDup applied: one canonical vector (minimum vec_id) per semantic
    * cluster plus all singletons — same keep-set contract as
    * [[dropNearDuplicates]], one broadcast anti-join of the loser list.
    */
  def semanticDedup(corpus: DataFrame, kCells: Int, threshold: Double,
      iters: Int = 3): DataFrame = {
    val losers = semanticDupGroups(corpus, kCells, threshold, iters)
      .filter(col("vec_id") =!= col("group_id"))
      .select("vec_id")
    corpus.join(broadcast(losers), Seq("vec_id"), "left_anti")
  }

  /** [[semanticDedup]] against ALREADY-TRAINED cell centroids (a
    * [[Similarity.kmeansCentroids]] frame) — the production split where the
    * blocking quantizer is a persisted model, and the seam that lets a gate
    * register the trained centroid literals with its oracle (assignment,
    * intra-cell pairs, closure, and the keep-set anti-join all replay in
    * SQL from those literals).
    */
  def semanticDedupWith(corpus: DataFrame, centroids: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = Similarity.assignCells(corpus, centroids)
    val losers = embeddingDupGroups(assigned, "cell", threshold)
      .filter(col("vec_id") =!= col("group_id"))
      .select("vec_id")
    corpus.join(broadcast(losers), Seq("vec_id"), "left_anti")
  }

  /** MinHash near-duplicate clusters — the full sketch-path composition
    * (signatures → LSH bands → estimated-Jaccard verify → closure) in one
    * call: the scale form of [[nearDupGroups]], which needs the exact
    * shingle-set join. Nothing all-pairs: candidates come from band-bucket
    * grouping, verification reads only candidate signature pairs.
    */
  def minHashDupGroups(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, minJaccard: Double,
      /** Use the md5-affine signature family + identity band buckets —
        * the SQL-replayable twin (TextDedup.minHashSignaturesMd5); the
        * default is the engine-fast one-pass xxhash kernel.
        */
      md5Parity: Boolean = false): DataFrame = {
    // minHashSignatures persists its result internally (it feeds both the
    // banding and the verify probe) — no second persist here; the closure's
    // labels are materialized by connectedComponents, so the signature
    // cache can be released before returning
    val sigs =
      if (md5Parity) TextDedup.minHashSignaturesMd5(df, idCol, textCol, n, k)
      else TextDedup.minHashSignatures(df, idCol, textCol, n, k)
    try {
      val cands =
        if (md5Parity) TextDedup.lshCandidatePairsIdentity(sigs, bands)
        else TextDedup.lshCandidatePairs(sigs, bands)
      val verified = TextDedup.minHashVerify(cands, sigs, minJaccard)
      connectedComponents(verified, "doc_a", "doc_b")
        .select(col("vertex").as(idCol), col("label").as("group_id"))
    } finally sigs.unpersist()
  }

  /** Incremental NEAR-dedup — the per-snapshot step of a rolling corpus
    * build (each new crawl dump deduped against everything already
    * ingested, then within itself — the CCNet/RefinedWeb shape, where most
    * of a dump's near-duplicate mass is against PRIOR dumps):
    *
    *  1. batch documents whose estimated Jaccard vs ANY ingested document
    *     clears `minJaccard` are dropped (asymmetric LSH probe — batch
    *     bands join corpus bands on (band, bucket), never all-pairs);
    *  2. the survivors are near-deduped among themselves (bands → verify →
    *     closure, keep the minimum id per cluster).
    *
    * [[TextDedup.dedupIncrement]] is the exact-fingerprint sibling; this
    * is the sketch path for content that is reworded rather than copied.
    * Documents too short to shingle (< n tokens) have no signature and
    * always survive — they cannot near-duplicate anything. At production
    * scale the corpus signatures would be a PERSISTED artifact maintained
    * across snapshots (signatures are append-only driver-free state);
    * computing them here keeps the operator self-contained.
    */
  def dedupIncrementNear(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int, k: Int, bands: Int,
      minJaccard: Double,
      /** md5-affine signatures + identity buckets (the SQL-replayable
        * twin) — see [[minHashDupGroups]].
        */
      md5Parity: Boolean = false): DataFrame = {
    def sigsOf(d: DataFrame) =
      if (md5Parity) TextDedup.minHashSignaturesMd5(d, idCol, textCol, n, k)
      else TextDedup.minHashSignatures(d, idCol, textCol, n, k)
    val bs = sigsOf(batch)
    val cs = sigsOf(corpus)
    try {
      // dup-mass-sized, read by two consumers (survivor signatures + the
      // final anti-join, which executes AFTER this method returns) — an
      // eager cut materializes it once and truncates lineage so the
      // returned plan reads its blocks instead of re-running the LSH probe
      // over the by-then-unpersisted signatures
      val flagged = TextDedup.minHashVerifyAgainst(
        TextDedup.lshCandidatePairsAgainst(bs, cs, bands, md5Parity),
        bs, cs, minJaccard)
        .select(col("doc_a").as("doc")).distinct()
        .transform(graft.core.Materialize.cut)
      // survivor signatures feed FOUR plan branches (both sides of the
      // in-batch band self-join + both probe sides of the verify) and the
      // closure executes after bs is unpersisted — checkpoint like flagged,
      // or the batch-vs-flagged anti-join re-runs once per branch over
      // by-then-cold signatures
      val freshSigs = graft.core.Materialize.cut(
        bs.join(flagged, Seq("doc"), "left_anti"))
      val verified = TextDedup.minHashVerify(
        if (md5Parity) TextDedup.lshCandidatePairsIdentity(freshSigs, bands)
        else TextDedup.lshCandidatePairs(freshSigs, bands),
        freshSigs, minJaccard)
      val losers = connectedComponents(verified, "doc_a", "doc_b")
        .filter(col("vertex") =!= col("label"))
        .select(col("vertex").as(idCol))
      batch
        .join(flagged.select(col("doc").as(idCol)), Seq(idCol), "left_anti")
        .join(broadcast(losers), Seq(idCol), "left_anti")
    } finally { bs.unpersist(); cs.unpersist() }
  }

  /** Quality-aware canonical selection: given a (idCol, group_id) cluster
    * assignment (from [[nearDupGroups]] / [[minHashDupGroups]] /
    * [[embeddingDupGroups]]) and the corpus, elect the highest-`scoreCol`
    * member of each cluster as canonical (ties to the smallest id) — the
    * keep-the-BEST-copy policy, vs the keep-the-first-seen policy the
    * drop* operators apply. When near-dup clusters mix a clean original
    * with truncated/boilerplate-wrapped copies, first-seen keeps whichever
    * id sorts lowest; this keeps the one a curator would.
    *
    * Output: (idCol, group_id, canonical_id, is_canonical) per cluster
    * member. Cost is cluster-membership-sized, not corpus-sized: one join
    * to fetch scores and one per-group window over the members (clusters
    * are tiny; the heap exec would be overkill).
    */
  def canonicalPerGroup(groups: DataFrame, df: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val joined = groups.join(df.select(col(idCol), col(scoreCol)), Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id").orderBy(desc(scoreCol), col(idCol))
    // running first() over the ordered window IS the partition's top row at
    // every position (default frame unboundedPreceding..currentRow) — one
    // window pass tags every member, no rank-filter + re-join round trip
    joined
      .withColumn("canonical_id", first(col(idCol)).over(w))
      .select(col(idCol), col("group_id"), col("canonical_id"),
        (col(idCol) === col("canonical_id")).as("is_canonical"))
  }
}
