"""Metric names and units the benchmark prints (must equal
BENCHMARK.json; the tests check it). Importable without Spark."""

from __future__ import annotations

# --trace 0: what a user of the system sees. "Operation" and "step"
# are per workload: a crawl job and one of its waves (crawl_bfs), a
# pass over the headline queries and one query (analytics). Peak
# memory is a per-layer metric: the driver JVM's resident size moves
# by ~30% between identical runs with the timing of heap growth, too
# much for a bound.
END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "step_s_p50": "s",
}

# the headline analytic queries, by the module that does their work
QUERY_LAYERS = {
    "spark_sql": [
        "q1_lineitem_agg", "q3_revenue_by_nation", "q6_budget_cumsum",
        "q14_simhash16", "q15_embedding_topk", "q16_langid", "q18_token_counts",
    ],
    "operators.dedup": [
        "q11_minhash_signatures", "q12_minhash_dup_pairs",
        "q57_winnow_fingerprint", "q58_fingerprint_dup_pairs",
    ],
    "operators.curation": ["q46_boilerplate"],
    "operators.ranking": ["q47_bm25"],
    "operators.quality": ["q55_unigram_logprob"],
    "operators.graph": ["q54_pagerank"],
    "operators.temporal": ["q52_asof_join", "q53_range_join"],
    "functions.udfs": ["q20_url_normalize"],
}
HEADLINE = sorted(
    (q for qs in QUERY_LAYERS.values() for q in qs),
    key=lambda q: int(q.split("_")[0][1:]),
)

# crawl replay steps (job groups in the event log) and the analytics
# pass, each with Spark's task metrics summed over its jobs
REPLAY_STEPS = (
    "fetch_join", "page_features", "candidate_links", "relevant_seen",
    "dedup_budget_kernel", "schedule_wave",
)
EVENTLOG_GROUPS = REPLAY_STEPS + ("analytics",)
EVENTLOG_FIELDS = (
    "executor_run_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)
JOB_TABLES = ("fetches", "frontier", "seen", "tasks", "lineage")

# --trace 1: one layer each. A layer the workload does not exercise
# reads 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.peak_mem_mb": "MB",
    "trace.op_s": "s",
    "plans.crawl.init_job_s": "s",
    "plans.crawl.run_s": "s",
    "plans.crawl.add_seeds_s": "s",
    "plans.crawl.compact_s": "s",
    "plans.crawl.waves": "count",
    "plans.crawl.wave_floor_s": "s",
    "plans.crawl.fetch_join_s": "s",
    "plans.crawl.scheduled": "count",
    "plans.crawl.hits": "count",
    "plans.crawl.misses": "count",
    "plans.crawl.blocked": "count",
    "plans.crawl.found": "count",
    "plans.crawl.inserted": "count",
    "plans.crawl.hit_ratio": "ratio",
    "plans.crawl.inserted_per_found": "ratio",
    "plans.crawl.urls_per_s": "1/s",
    "plans.crawl.steady_urls_per_s": "1/s",
    "plans.crawl.job_bytes_per_url": "bytes",
    **{f"plans.crawl.bytes_written.{t}": "bytes" for t in JOB_TABLES},
    "plans.crawl.compact_bytes_rewritten": "bytes",
    "functions.udfs.page_features_links_s": "s",
    "functions.udfs.page_features_final_s": "s",
    "functions.udfs.us_per_page_links": "us",
    "functions.udfs.us_per_page_final": "us",
    "operators.scheduler.schedule_wave_s": "s",
    "operators.scheduler.granted": "count",
    "operators.scheduler.blocked": "count",
    "operators.seen.relevant_seen_s": "s",
    "operators.seen.seen_rows_in": "count",
    "operators.seen.seen_rows_out": "count",
    "operators.seen.bloom_pass_ratio": "ratio",
    "operators.seen.bloom_false_pos": "count",
    "operators.seen.bloom_semi_waves": "count",
    "operators.links.candidate_links_s": "s",
    "operators.links.dedup_budget_kernel_s": "s",
    "operators.links.candidates": "count",
    "analytics.warmup_s": "s",
    **{f"{layer}.{q}_s": "s" for layer, qs in QUERY_LAYERS.items() for q in qs},
    **{
        f"spark.{g}.{f}": ("s" if f.endswith("_s") else "bytes")
        for g in EVENTLOG_GROUPS
        for f in EVENTLOG_FIELDS
    },
}
