"""Metric names and units the benchmark emits; BENCHMARK.json lists the same
names (test_perfbench.py checks that they agree)."""

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

KERNELS = [
    "vec_dot", "simhash64", "shingle_hashes", "minhash_match_frac", "minhash_sig",
    "winnow", "ngram_freq_stats", "token_set_hits", "long_set_jaccard",
    "aligned_token_count", "hll_md5_agg", "hll_md5_union_agg", "hll_md5_estimate",
    "kmv_md5_agg", "cms_md5_agg",
]

OPERATOR_CALLS = [
    "dropExactDuplicates", "filterPassing", "minHashDupGroups", "canonicalPerGroup",
    "collect",
]

PER_LAYER = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "plans.analysis_s": "s",
    "plans.optimize_s": "s",
    "plans.planning_s": "s",
    "plans.graft_rule_s": "s",
    "plans.graft_rule_effective_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.sched_delay_s": "s",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "core.storage_peak_bytes": "bytes",
    "core.persisted_rdds_left": "count",
    **{f"expressions.{k}.ns_per_row": "ns/row" for k in KERNELS},
    **{f"operators.{c}_s": "s" for c in OPERATOR_CALLS},
    "pipeline.ingestion_s": "s",
    "pipeline.transformations_s": "s",
    "ingest.rows_read": "count",
    "ingest.duplicates_removed": "count",
    "quality.violations": "count",
    "sources.bytes_written_per_input_byte": "ratio",
    "sources.files_written": "count",
    "trace.overhead_s": "s",
}

TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def tail_percentile(n):
    """Highest of TAIL_PERCENTILES with at least ten of n samples beyond it,
    or None when n < 20."""
    for q in TAIL_PERCENTILES:
        if n * (100 - q) // 100 >= 10:
            return q
    return None

