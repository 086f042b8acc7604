"""Names, units and directions of every metric the benchmark reports.

``BENCHMARK.json`` lists the same metrics; ``tests/test_logic.py`` checks
that the two agree.
"""

from __future__ import annotations

#: (name, unit, better, bound) — measured with tracing off. Every metric
#: carries a bound of 0.25, the largest BENCHMARK.json admits: on a shared
#: 4-core machine the run-to-run spread (quartile distance over median)
#: measured 10-23 % for wall time and 3-14 % for CPU time and peak RSS,
#: and the load of other tenants drifts both by 15-25 % within half an
#: hour.
END_TO_END = [
    ("job_p50_s", "s", "lower", 0.25),
    ("rows_per_s", "1/s", "higher", 0.25),
    ("cpu_s_per_mrow", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

#: the relational headline queries and LLM operators a pass runs. Five
#: further headline jobs (q3_shipping_priority, join_asof_events,
#: win_rank_topk, jaccard_pairs, topk_bruteforce) are left out to keep a
#: run inside the time budget.
QUERIES = [
    "q1_pricing_summary", "q5_regional_revenue", "join_range_events",
    "agg_rollup", "ev_session_window",
]
OPERATORS = [
    "functions.text.text_stats_arrow",
    "llm.dedup.minhash_near_dup_pairs",
    "llm.similarity.semantic_dedup_pairs",
    "llm.similarity.ivf_topk",
    "llm.similarity.pq_topk",
]

#: span name -> per-layer metric holding that span's self time
SELF_TIME = {
    "orchestration.poll": "orchestration.poll_s",
    "sources.inference.crawl": "sources.inference.crawl_s",
    "sources.incremental.run_once": "sources.incremental.run_once_s",
    "operators.projection.apply": "operators.projection.apply_s",
    "sources.snapshots.commit_append": "sources.snapshots.commit_append_s",
    "sources.snapshots.merge_mor": "sources.snapshots.merge_mor_s",
    "sources.snapshots.optimize": "sources.snapshots.optimize_s",
    "sources.snapshots.read_where_eq": "sources.snapshots.read_where_eq_s",
    "sinks.upsert.upsert": "sinks.upsert.stage_write_s",
    "sinks.upsert.warehouse": "sinks.upsert.warehouse_s",
}
SELF_TIME.update({f"queries.{q}": f"queries.{q}_s" for q in QUERIES})
SELF_TIME.update({op: f"{op}_s" for op in OPERATORS})

#: per-layer metrics that are not span self times: (name, unit, better)
COUNTERS = [
    ("orchestration.fires", "count", "lower"),
    ("orchestration.empty_polls", "count", "lower"),
    ("sources.inference.files_in_prefix", "count", "lower"),
    ("sources.incremental.batches", "count", "lower"),
    ("sources.incremental.files_new", "count", "higher"),
    ("sources.snapshots.merge.detect_matched_s", "s", "lower"),
    ("sources.snapshots.merge.sidecar_write_s", "s", "lower"),
    ("sources.snapshots.merge.post_insert_write_s", "s", "lower"),
    ("sources.snapshots.merge.publish_s", "s", "lower"),
    ("sources.snapshots.merge.files_scanned_ratio", "ratio", "lower"),
    ("sources.snapshots.files_live", "count", "lower"),
    ("sources.snapshots.versions", "count", "lower"),
    ("sources.snapshots.manifest_reads", "count", "lower"),
    ("sources.snapshots.listdir_scans", "count", "lower"),
    ("sources.snapshots.stored_bytes_per_input_byte", "ratio", "lower"),
    ("sinks.rows_loaded", "count", "higher"),
    ("llm.dedup.minhash_pairs_out", "count", "higher"),
    ("llm.dedup.candidate_yield", "ratio", "higher"),
    ("llm.similarity.semantic_pairs_out", "count", "higher"),
    ("llm.similarity.lloyd_rounds", "count", "lower"),
    ("llm.similarity.ivf_recall_at5", "ratio", "higher"),
    ("llm.similarity.pq_recall_at5", "ratio", "higher"),
]

SPARK = [
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("driver_s", "s", "lower"),
    ("executor_run_s", "s", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("shuffle_read_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("max_task_share", "ratio", "lower"),
    ("scan_time_s", "s", "lower"),
    ("agg_build_s", "s", "lower"),
    ("python_worker_s", "s", "lower"),
    ("python_bytes_sent", "bytes", "lower"),
    ("python_bytes_returned", "bytes", "lower"),
]
#: job families whose Python-boundary time is reported on its own, so the
#: traced run shows the relational queries never cross it
FAMILIES = ["queries", "curation", "etl"]

BENCH = [
    ("bench.failed_share", "ratio", "lower"),
    ("bench.unspanned_s", "s", "lower"),
    ("bench.span_gap_s", "s", "lower"),
    ("traced.job_p50_s", "s", "lower"),
    ("traced.rows_per_s", "1/s", "higher"),
]


def per_layer() -> list[tuple[str, str, str]]:
    out = [(m, "s", "lower") for m in SELF_TIME.values()]
    out += COUNTERS
    out += [(f"spark.{n}", u, b) for n, u, b in SPARK]
    out += [(f"spark.{f}.python_worker_s", "s", "lower") for f in FAMILIES]
    out += BENCH
    return out
