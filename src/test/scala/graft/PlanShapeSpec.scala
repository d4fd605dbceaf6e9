package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural plan regressions: the optimizations the scale story depends on
  * must stay visible in the physical plans — filters/projections at the
  * scan, broadcast for dimension joins, heap-based top-k, and no accidental
  * cartesian products anywhere in the gate.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** A gate's frame and its physical plan string. */
  private def gate(q: String): (org.apache.spark.sql.DataFrame, String) = {
    val df = SparkEntry.queries(q)(spark, SparkTestSession.sfDir)
    (df, df.queryExecution.executedPlan.toString)
  }

  private def plan(q: String): String = gate(q)._2

  private def scratch(stem: String): String =
    graft.core.Housekeeping.scratchDir(spark, stem)

  test("q2 filters and projection reach the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double"), p.take(2000))
  }

  test("dimension joins broadcast (q4, q5)") {
    assert(plan("q4_broadcast_join").contains("BroadcastHashJoin"))
    assert(plan("q5_star_join").contains("BroadcastHashJoin"))
  }

  test("q9 top-k plans as TakeOrderedAndProject, not a global sort") {
    assert(plan("q9_topk").contains("TakeOrderedAndProject"))
  }

  test("q1 aggregation is two-phase (map-side partial)") {
    assert(plan("q1_agg").contains("partial_sum"))
  }

  test("IVF cell assignment is a zero-shuffle projection") {
    // nearest-centroid assignment must stay a projection over the corpus:
    // the crossJoin+groupBy+join-back formulation it replaced put two
    // corpus-wide exchanges on every Lloyd iteration
    val emb = graft.core.Tables.embeddings(spark, SparkTestSession.sfDir)
    val cents = graft.operators.Similarity.ivfCentroids(emb, "label")
    val p = graft.operators.Similarity.assignCells(emb, cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("repetition signals are a zero-shuffle projection until the sort") {
    // NgramFreqStats is row-local: the only exchange allowed in q70's plan
    // is the final presentation orderBy — an explode→groupBy formulation
    // would add corpus×n-gram shuffles
    val p = plan("q70_repetition")
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 1, p.take(3000))
    assert(!p.contains("Generate"), p.take(3000)) // no explode anywhere
  }

  test("mixture sampling folds to a scan-level filter, no shuffle before the agg") {
    val p = plan("q73_mixture_sample")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(3000))
    // admission is a Filter over the scan, not a join against a rate table
    assert(!p.contains("Join"), p.take(3000))
  }

  test("sequence packing windows are sharded, never one global partition") {
    // the prefix sum must come from per-shard windows over range shards; a
    // Window with an empty partition spec would single-task the corpus
    val df = graft.operators.Packing.withGlobalOffsets(
      graft.core.Tables.documents(spark, SparkTestSession.sfDir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.lit(1L).as("w")),
      "doc_id", "w")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Window"), p.take(3000))
    assert(!p.contains("SinglePartition"), p.take(3000))
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning"),
      p.take(3000))
  }

  test("bloom decontamination prefilter is a filter over the scan, no join") {
    // the corpus side of the prefilter must stay a scan + compiled probe;
    // the only joins allowed belong to the candidate-verify + final anti
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, SparkTestSession.sfDir)
    val p = SparkEntry.queries("q96_bloom_decontaminate")(
      spark, SparkTestSession.sfDir).queryExecution.executedPlan.toString
    // exactly the verify semi-join + the anti-join reach a join operator —
    // a third join would mean the prefilter regressed to a join
    assert(p.sliding("Join".length).count(_ == "Join") <= 4, p.take(3000))
    assert(docs != null)
  }

  test("sorted-neighborhood rank windows are sharded, never one global partition") {
    val p = graft.operators.SortedNeighborhood.nearDupPairs(
      graft.core.Tables.documents(spark, SparkTestSession.sfDir),
      "doc_id", "text", sortCol = "text", window = 2, n = 3, minJaccard = 0.5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), p.take(3000))
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning"),
      p.take(3000))
  }

  test("prefix-filter candidate join is shuffled, never a static broadcast") {
    // the prefix frame is an expansion (explode of per-doc shingle sets)
    // whose stats inherit the compressed scan estimate — the exact shape
    // NoBroadcastOverExpansion exists for; the operator also pins
    // SHUFFLE_HASH on both sides. A static broadcast here OOMs the driver
    // at corpus scale.
    val p = plan("q239_prefix_filter_join")
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // every join side here grows with the corpus (vocab df aggregate,
    // |d|-long token-set arrays, pair frame) — a static broadcast of any
    // of them is a driver OOM at scale
    assert(!p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("fuzzy matching joins on the block key, no cartesian expansion") {
    val p = plan("q98_fuzzy_match")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("temperature mixture broadcasts the rate table onto a scan-side filter") {
    val p = plan("q100_temperature_mixture")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("heavy-hitter verify pass shuffles only after the sketch prefilter") {
    // the exact-count groupBy must sit above a Filter containing the probe,
    // so non-candidates never reach the exchange
    val p = plan("q104_heavy_tokens")
    assert(p.contains("partial_count"), p.take(3000))
    assert(p.contains("Filter"), p.take(3000))
  }

  test("span dedup: doc-frequency agg is two-phase, span merge never single-partition") {
    val p = plan("q110_dup_spans")
    // the corpus-×-windows expansion must partial-aggregate before its
    // exchange, and the interval-merge window must shard by document
    assert(p.contains("partial_"), p.take(3000))
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("span strip rebuild joins hash-wise, never nested-loop") {
    val p = plan("q111_strip_spans")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("unigram LM broadcast scoring is a zero-shuffle projection") {
    // the lexicon rides inside the TokenWeightSum kernel: scoring must stay
    // scan + project + filter — no exchange, no join
    val docs = graft.core.Tables.documents(spark, SparkTestSession.sfDir)
    val p = graft.operators.UnigramLm.scoreBroadcast(
      docs, "doc_id", "text", Seq("the"), Seq(-1.0), -2.0)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("DSIR scoring is a zero-shuffle projection") {
    // the weight table rides inside the ArrayWeightSum kernel and
    // featurization is per-row array construction: scoring must stay
    // scan + project + filter — no exchange, no join, no explode
    val docs = graft.core.Tables.documents(spark, SparkTestSession.sfDir)
    val w = Array.tabulate(1000)(b => b * 1e-4)
    val p = graft.operators.Dsir.score(docs, "doc_id", "text", w, maxN = 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Generate"), p.take(2000))
    // the featurization kernel must be evaluated ONCE per row — a collapsed
    // projection would digest every document twice (n_features + score)
    val kernels = "hashedngrambuckets".r.findAllIn(p.toLowerCase).length
    assert(kernels == 1, s"expected 1 kernel evaluation, got $kernels:\n${p.take(3000)}")
  }

  test("q15 JSON extraction prunes the events scan to the two used columns") {
    // from_json must not widen the scan: 100 TB of events has many columns,
    // and the aggregation touches only event_type + props
    val p = plan("q15_json")
    assert(p.contains("ReadSchema: struct<event_type:string,props:string>"),
      p.take(2000))
  }

  test("ordered LM join scoring: hash join + sharded aggregation, no global funnel") {
    val spark0 = spark
    import spark0.implicits._
    val docs = graft.core.Tables.documents(spark, SparkTestSession.sfDir)
    val lm = Seq(("the", -1.0)).toDF("term", "logp")
    val p = graft.operators.UnigramLm.scoreJoinOrdered(
      docs, "doc_id", "text", lm, -2.0)
      .queryExecution.executedPlan.toString
    // LM probe must be a hash join (broadcast at this size), and nothing in
    // the plan may collapse to one partition — the per-doc ordered fold is
    // a grouped aggregate, not a global window
    assert(p.contains("HashJoin"), p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("PQ encode is a zero-shuffle projection with one kernel per subspace") {
    // encode must stay map-only (scan + project): no exchange, no join. And
    // the recon_norm lookups must reference the pq_code ATTRIBUTE — a
    // collapsed projection would re-run every subspace argmax once per
    // lookup (m + m² kernels instead of m)
    val corpus = graft.core.Tables.embeddings(spark, SparkTestSession.sfDir)
    val cb = graft.operators.ProductQuantizer.train(corpus, m = 4, kCodes = 8, iters = 1)
    val p = graft.operators.ProductQuantizer.encode(corpus, cb)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    val kernels = "nearestcelll2".r.findAllIn(p.toLowerCase).length
    assert(kernels == 4, s"expected 4 kernel evaluations, got $kernels:\n${p.take(3000)}")
  }

  test("weighted sampling plans as TakeOrderedAndProject, not a global sort") {
    // the E-S race must cut via per-partition heaps + driver merge; a
    // Sort + GlobalLimit pair would materialize a full corpus sort
    val p = plan("q148_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("paragraph dedup: hash agg two-phase, rebuild joins hash-wise") {
    val p = plan("q146_paragraph_dedup")
    // canonical selection is a map-side-combining aggregate on the hash
    assert(p.contains("partial_min") || p.contains("partial_count"), p.take(3000))
    // dropped-position arrays reach the corpus via a hash/broadcast join,
    // never a nested loop over paragraphs
    assert(!p.contains("NestedLoop"), p.take(3000))
  }

  test("candidate-pair machinery never broadcasts the shingle expansion") {
    // Catalyst underestimates post-explode frames (Generate inherits the
    // compressed scan's stats) and would broadcast the corpus-sized
    // expansion — the 10x scaling probe measured 19-50x superlinear cost
    // from that (SCALING.md r8), and at real scale it is a driver OOM.
    // The SHUFFLE_HASH hints must hold across the whole candidate-pair /
    // span-dedup / LSH family: corpus-growing join sides shuffle; only
    // contract-bounded frames (blocklists, query sets) may broadcast.
    for (q <- Seq("q41_ngram_jaccard", "q175_containment_pairs",
        "q42_minhash_lsh", "q110_dup_spans", "q146_paragraph_dedup",
        "q164_ngram_novelty")) {
      val p = plan(q)
      assert(p.contains("ShuffledHashJoin"), s"$q: ${p.take(2000)}")
    }
  }

  test("URL canonicalization is one scan-side kernel into a two-phase agg, no join") {
    val p = plan("q163_url_canonical")
    assert(p.contains("partial_count"), p.take(2000))
    assert(!p.contains("Join"), "URL dedup must not join — the regex chain is a projection")
  }

  test("n-gram novelty probes the reference via a semi join, never materializing pairs") {
    val p = plan("q164_ngram_novelty")
    assert(p.contains("LeftSemi"), p.take(2000))
  }

  test("nDCG eval joins are broadcast (queries x k frames are tiny)") {
    assert(plan("q162_ndcg_eval").contains("BroadcastHashJoin"))
  }

  test("q219 actually runs the NATIVE as-of exec, not a window fallback") {
    val p = plan("q219_asof_native")
    assert(p.contains("AsOfJoin"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q221 forward/multi-key as-of: native exec, ONE hash exchange per side") {
    val p = plan("q221_asof_forward")
    assert(p.contains("AsOfJoin"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    // exactly three hash exchanges: one per join side on the multi-column
    // key, plus the right side's upstream (user, ts) dedup aggregation —
    // which keys on a different tuple and so cannot reuse the join's
    // partitioning. The join itself contributes ONE exchange per side; the
    // only other exchange in the plan is the presentation orderBy's range
    // partition.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 3, s"expected 3 hash exchanges, got $hashEx:\n${p.take(3000)}")
  }

  // scan paths are read off the plan's file relations (PlanScans), not
  // its string: Spark cuts a printed location at
  // spark.sql.maxMetadataStringLength, so a negative `contains` passes on
  // any cut path

  test("q247 answers the base-table aggregate FROM THE VIEW, no orders scan") {
    val (q, p) = gate("q247_mv_rewrite")
    assert(PlanScans.reads(q, scratch("mv_orders")), p.take(2000))
    assert(!PlanScans.reads(q, scratch("mv_base")), p.take(2000))
    assert(!PlanScans.reads(q, s"${SparkTestSession.sfDir}/orders.parquet"),
      p.take(2000))
  }

  test("q249 answers the join-aggregate FROM THE JOIN VIEW — no join executes") {
    val (q, p) = gate("q249_mv_join_rewrite")
    assert(PlanScans.reads(q, scratch("mvj_view")), p.take(2000))
    assert(!PlanScans.reads(q, scratch("mvj_cust")), p.take(2000))
    assert(!PlanScans.reads(q, scratch("mvj_ord")), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q250 WHERE+GROUP BY answers from the view under a pushed filter") {
    val (q, p) = gate("q250_mv_filter_rewrite")
    assert(PlanScans.reads(q, scratch("mvf_view")), p.take(2000))
    assert(!PlanScans.reads(q, scratch("mvf_base")), p.take(2000))
    // the group-column predicate rides the view scan
    assert(p.contains("o_orderstatus = F") || p.contains("(o_orderstatus = F)")
      || p.contains("o_orderstatus#"), p.take(2000))
  }

  test("q254 filtered join-aggregate: view scan only, filter pushed, no join") {
    val (q, p) = gate("q254_mv_join_filter")
    assert(PlanScans.reads(q, scratch("mvjf_view")), p.take(2000))
    assert(!PlanScans.reads(q, scratch("mvjf_cust")), p.take(2000))
    assert(!PlanScans.reads(q, scratch("mvjf_ord")), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q253 reads the NEWEST committed view version — not base, not v0") {
    val (q, p) = gate("q253_mv_versioned_read")
    val state = scratch("mvv_state")
    assert(PlanScans.reads(q, s"$state/v1"), p.take(2000))
    assert(!PlanScans.reads(q, s"$state/v0"), p.take(2000))
    assert(!PlanScans.reads(q, scratch("mvv_base")), p.take(2000))
  }

  test("q245 point-in-time enrichment rides the native as-of exec") {
    // the SCD2 interval-membership join must plan as the as-of merge —
    // no Window fallback, and above all no range/nested-loop join over
    // the (order, version) pairs
    val p = plan("q245_pit_enrich")
    assert(p.contains("AsOfJoin"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("nDCG eval reads PERSISTED KNN frames — the searches run once") {
    // the broadcast-wrapped eval joins must consume InMemoryTableScans,
    // not re-evaluate the projection + brute-force subtrees inside each
    // broadcast exchange (the round-6 26x blow-up vs the q139 twin)
    val p = plan("q162_ndcg_eval")
    assert(p.contains("InMemoryTableScan"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("CDC chunking joins hash-wise on the doc key, never nested-loop") {
    val p = plan("q167_cdc_chunks")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the windows expansion must be a generator over the scan, not a join
    assert(p.contains("Generate"), p.take(2000))
  }

  test("Gopher rule report is a zero-shuffle projection") {
    val p = plan("q174_gopher_rules")
    // every rule folds into the scan projection; the only allowed exchange
    // is the presentation orderBy's range partitioning
    assert(!p.contains("hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("source interleave: global rank is sharded, never one global partition") {
    val p = plan("q179_interleave")
    assert(!p.contains("SinglePartition"), p.take(3000))
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning"),
      p.take(3000))
  }

  test("vocab coverage prune: sharded prefix sum + broadcast total") {
    // the scalar corpus total legitimately funnels ONE row per partition
    // through a SinglePartition agg; the vocabulary-sized rank and prefix
    // windows must stay sharded (range/hash partitioned, partition-local)
    val p = plan("q181_vocab_coverage")
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning"),
      p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p.take(3000))
    // no window may run unpartitioned: every windowspecdefinition in the
    // plan carries the shard key
    val specs = "windowspecdefinition\\(".r.findAllIn(p).size
    val sharded = "windowspecdefinition\\(graft_\\w+_shard".r.findAllIn(p).size
    assert(specs > 0 && specs == sharded, s"$specs specs, $sharded sharded")
  }

  test("corpus overlap: distinct-set semi join, single-row frames broadcast") {
    val p = plan("q176_corpus_overlap")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(p.contains("BroadcastExchange"), p.take(3000))
  }

  test("C4 line filter and mojibake repair stay scan-level projections") {
    for (q <- Seq("q177_c4_line_filter", "q183_fix_mojibake")) {
      val p = plan(q)
      assert(!p.contains("hashpartitioning"), s"$q: ${p.take(2000)}")
      assert(!p.contains("Join"), s"$q: ${p.take(2000)}")
    }
  }

  test("privacy audit aggregates two-phase on the quasi-identifier") {
    val p = plan("q178_k_anonymity")
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("BM25: query frame broadcasts; top-k is the native heap, no corpus sort") {
    val p = plan("q190_bm25")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TopKPerGroup"), p.take(3000))
  }

  test("CDC apply: latest-change is one aggregate, no per-key window") {
    val p = plan("q193_cdc_apply")
    assert(p.contains("partial_max"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("histogram sketch: bins aggregate two-phase before any exchange") {
    val p = plan("q185_hist_quantiles")
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("lateness audit: running max windows are sharded, never global") {
    val p = plan("q188_late_events")
    assert(!p.contains("SinglePartition) windowspecdefinition"), p.take(3000))
    val specs = "windowspecdefinition\\(".r.findAllIn(p).size
    val sharded = "windowspecdefinition\\(graft_\\w+_shard".r.findAllIn(p).size
    assert(specs > 0 && specs == sharded, s"$specs specs, $sharded sharded")
  }

  test("AUC: two-phase level aggregate, rank-prefix windows sharded only") {
    val p = plan("q202_auc")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(3000))
    assert(!p.contains("SinglePartition) windowspecdefinition"), p.take(3000))
    val specs = "windowspecdefinition\\(".r.findAllIn(p).size
    val sharded = "windowspecdefinition\\(graft_\\w+_shard".r.findAllIn(p).size
    assert(specs == sharded, s"$specs specs, $sharded sharded")
  }

  test("hard negatives: anchors broadcast, corpus side never exchanges pre-join") {
    val p = plan("q204_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the plan tree prints top-down, so everything after the join line is
    // a join INPUT: the anchor side's BroadcastExchange is the intended
    // shape, but any shuffle exchange there means the corpus scan stopped
    // feeding the join map-side — the exact regression this guards
    val below = p.substring(p.indexOf("BroadcastNestedLoopJoin"))
    assert(!below.contains("Exchange hashpartitioning"), below.take(2000))
    assert(!below.contains("Exchange rangepartitioning"), below.take(2000))
  }

  test("filter agreement: one map-combining aggregate to group cardinality") {
    val p = plan("q205_filter_agreement")
    assert(p.contains("partial_count"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("sketch gates aggregate through native buffers, never corpus-wide state") {
    // TypedImperativeAggregate plans as ObjectHashAggregate: its presence
    // proves the 1 KB-buffer path is in the executed plan (a regression to
    // the relational build would show plain HashAggregate over register
    // rows — still correct, but a different wire shape than documented)
    val p223 = plan("q223_hll_exact_replay")
    assert(p223.contains("ObjectHashAggregate"), p223.take(3000))
    val p224 = plan("q224_kmv_overlap")
    assert(p224.contains("ObjectHashAggregate"), p224.take(3000))
    // the pair lift joins sketch rows against the broadcast pair list —
    // sketch-sized on both sides; a shuffle on the sketch side is fine,
    // but the LINEITEM scan must be consumed by the aggregate, not a join
    assert(!p224.contains("CartesianProduct"), p224.take(3000))
  }

  test("no gate query plans a cartesian product") {
    // knnBruteForce intentionally pairs a broadcast query set against the
    // corpus — BroadcastNestedLoopJoin is the intended plan there; an
    // unhinted CartesianProduct anywhere is always a bug
    SparkEntry.queries.keys.foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }
}
