package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank over an edge list — the graph-authority quality signal of
  * web-corpus curation (Page et al. 1999; harmonic/PageRank centrality over
  * the host graph is a standard seed-quality feature for crawl filtering,
  * e.g. Common Crawl's host-level rankings): rank mass flows along edges,
  * damped teleportation keeps it ergodic, and after a few iterations the
  * stationary mass ranks node importance.
  *
  * Scale design: state per iteration is one (node, rank) frame — node-
  * sized, not edge-sized; the edge list is persisted ONCE partitioned by
  * source and every iteration reuses it (the join key never changes, so
  * AQE reuses the exchange); each iteration is exactly one join + one
  * grouped aggregate, the minimal shuffle a mass-passing step needs.
  * Iterations are a driver loop over persisted frames with the previous
  * round unpersisted — lineage stays bounded.
  *
  * Determinism: the production path (`ordered = false`) sums contributions
  * in partition-arrival order (fast, ~ulp drift run to run). The audit
  * path (`ordered = true`) folds each node's in-contributions in sorted
  * source order — bit-reproducible on any partitioning and replayable in
  * a SQL oracle (q161 pins three iterations exactly), the same trade
  * [[UnigramLm.scoreJoinOrdered]] makes. Dangling nodes (no out-edges)
  * are rejected up front: the caller either symmetrizes the graph or
  * pre-prunes — silently leaking their mass would misrank everything
  * else.
  */
object PageRank {

  /** Ranks after `iters` iterations: (node, rank). `edges` is directed
    * (srcCol → dstCol); parallel edges should be pre-deduped (each
    * surviving edge carries weight 1/outdeg(src)).
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
      damping: Double = 0.85, ordered: Boolean = false,
      checkpointEvery: Int = 8): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    // the raw edge list feeds THREE consumers before the loop (the degree
    // aggregate, the degree join, and the dangling-node stats), and the
    // symmetrize shape upstream references its input TWICE (p ∪ swap(p)) —
    // an eager localCheckpoint materializes the derivation once and
    // TRUNCATES the plan to a LogicalRDD. persist+count did the same work
    // but left the full lineage in the plan: every downstream reference
    // re-inlined the edge derivation (the q161 gate's physical plan held
    // ~450 scan nodes — analysis alone was a per-action driver tax, guide
    // §3.3 "enormous plans: planning time itself becomes the bottleneck"),
    // and profiled iteration stages re-read the base parquet (12-14
    // CPU-s/stage at sf0.1) where checkpoint blocks are reused
    // unconditionally. Checkpoints are reclaimed when the frames drop out of
    // scope, under the conditions DupGroups.distributedComponents documents.
    // degree-annotated edges materialize ONCE, in ONE barrier: the
    // out-degree rides along as a window count over the source-partitioned
    // edges, so the degree aggregate + degree join (and their own edge-
    // sized checkpoint) disappear — at scale that is one edge-list
    // materialization instead of two, and locally it removes a barrier
    // job plus the join stages (the r10 shape checkpointed `e`, derived
    // `deg` by groupBy, joined, and checkpointed AGAIN)
    val withDeg: DataFrame = graft.core.Barriers.cut(
      edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
        .repartition(col("__s"))
        .withColumn("__od", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("__s"))))
    locally {
      val nodes = graft.core.Barriers.cut(
        withDeg.select(col("__s").as("node"))
          .union(withDeg.select(col("__d").as("node"))).distinct())
      // one driver action for BOTH the node count and the dangling check
      // (separate count() + anti-join count() jobs doubled the fixed cost)
      val srcs = withDeg.select(col("__s")).distinct()
      val stats = nodes
        .join(srcs, nodes("node") === srcs("__s"), "left")
        .agg(count(lit(1)).as("n"),
          sum(when(col("__s").isNull, 1L).otherwise(0L)).as("dangling"))
        .collect().head
      val n = stats.getLong(0)
      val dangling = stats.getLong(1)
      require(dangling == 0,
        s"$dangling dangling node(s) (no out-edges): symmetrize or prune first")
      val teleport = (1.0 - damping) / n
      // rank recurrences have LINEAR lineage (each iteration references the
      // previous exactly once), so a materialization barrier per iteration
      // is pure scheduling overhead at low iteration counts — barriers are
      // spaced `checkpointEvery` apart (bounding plan depth for long runs,
      // the DupGroupsSpec failure mode), and the FINAL frame is always
      // materialized so the result survives edge-frame reclamation
      var pr = nodes.select(col("node"), lit(1.0 / n).as("rank"))
      def materialize(df: DataFrame): DataFrame = graft.core.Barriers.cut(df)
      var it = 0
      while (it < iters) {
        val contrib = withDeg.join(pr, withDeg("__s") === pr("node"))
          .select(col("__d"), col("__s"), (col("rank") / col("__od")).as("__c"))
        val inMass =
          if (ordered)
            contrib.groupBy("__d").agg(
              aggregate(
                array_sort(collect_list(struct(col("__s"), col("__c")))),
                lit(0.0), (acc, x) => acc + x.getField("__c")).as("__m"))
          else contrib.groupBy("__d").agg(sum(col("__c")).as("__m"))
        val next = nodes
          .join(inMass, nodes("node") === inMass("__d"), "left")
          .select(col("node"),
            (lit(teleport) + lit(damping) * coalesce(col("__m"), lit(0.0)))
              .as("rank"))
        it += 1
        pr = if (it == iters || it % checkpointEvery == 0) materialize(next)
             else next
      }
      if (iters == 0) pr = materialize(pr)
      pr
    }
  }

  /** Undirected (symmetrized) edge set from a possibly-directed pair list:
    * both directions of every distinct pair, self-loops dropped — the
    * standard way to run PageRank on a bipartite affinity graph (e.g.
    * customer–supplier, doc–host) with no dangling mass by construction.
    */
  def symmetrize(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // canonicalize BEFORE distinct: an input already holding both
    // orientations of a pair would otherwise survive as two distinct rows
    // and re-emit duplicate edges (a multigraph that inflates out-degrees
    // and misweights every neighbor), violating run()'s own precondition
    val p = pairs.select(
        least(col(aCol), col(bCol)).as("src"),
        greatest(col(aCol), col(bCol)).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    p.union(p.select(col("dst").as("src"), col("src").as("dst")))
  }
}
