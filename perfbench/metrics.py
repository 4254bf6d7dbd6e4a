"""Names, units and directions of every metric the benchmark reports.

``BENCHMARK.json`` lists the same metrics; ``test_perfbench.py`` keeps the
two in step.  Every workload reports every metric: a layer that a
workload does not reach reports 0 (see README.md for the predictions).
"""

from __future__ import annotations

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("turns_per_s", "turns/s", "higher", 0.25),
]

STREAM_CELLS = ("rolling_stream", "sessionize_stream", "curation_stream")
_STREAM = [
    ("batches", "count", "higher"),
    ("batch_p50_ms", "ms", "lower"),
    ("planning_ms", "ms", "lower"),
    ("add_batch_ms", "ms", "lower"),
    ("commit_ms", "ms", "lower"),
    ("state_rows", "count", "lower"),
    ("state_mem_bytes", "B", "lower"),
    ("state_commit_ms", "ms", "lower"),
]

# the registry queries, in registry order; entry.q.<name>_s each
QUERIES = (
    "transcripts sessionize lag_lead rolling session_stats asof_backfill "
    "feature_vector dedup_exact minhash lsh_pairs ngram_jaccard simhash "
    "text_stats lang_id doc_fingerprint ann_cosine ann_lsh "
    "media_features q1_pricing_summary q3_shipping_priority events_daily "
    "q5_supplier_volume top_orders_per_customer dedup_embedding "
    "q6_forecast_revenue ann_ivf q4_order_priority_semi "
    "customers_without_orders_anti doc_sample curation media_frames "
    "dedup_clusters events_rollup events_pivot latency_quartiles "
    "sessionize_stream rolling_stream curation_stream tfidf_top bm25 "
    "repetition decontaminate pii_stats pii_scrub line_dedup "
    "corpus_stats domain_stats vocab_top dedup_incremental tfidf_vocab "
    "minhash_mix lsh_pairs_capped lsh_pairs_mix asof_backfill_pandas "
    "asof_backfill_chunked feature_vector_routed rolling_multi "
    "doc_sample_stratified latency_quartiles_approx"
).split()

# (name, unit, better)
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("sources.gen_s", "s", "lower"),
    ("sources.scan_bytes", "B", "lower"),
    ("sources.scan_amplification", "ratio", "lower"),
    ("entry.build_s", "s", "lower"),
    ("entry.self_s", "s", "lower"),
    ("entry.query_p50_s", "s", "lower"),
    ("entry.query_tail_s", "s", "lower"),
    ("operators.self_s", "s", "lower"),
    ("operators.sessionize.self_s", "s", "lower"),
    ("operators.lag_lead.self_s", "s", "lower"),
    ("operators.rolling.self_s", "s", "lower"),
    ("operators.asof.self_s", "s", "lower"),
    ("operators.skew.self_s", "s", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.busy_frac", "ratio", "higher"),
    ("exec.gc_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_skew", "ratio", "lower"),
    ("exec.peak_mem_bytes", "B", "lower"),
    ("exec.driver_rss_mb", "MB", "lower"),
    ("exec.heap_live_mb", "MB", "lower"),
    ("exec.scaling_eff", "ratio", "higher"),
    ("shuffle.write_bytes", "B", "lower"),
    ("shuffle.read_bytes", "B", "lower"),
    ("spill.bytes", "B", "lower"),
    ("checkpoint.bucket_p50_s", "s", "lower"),
    ("checkpoint.bucket_max_s", "s", "lower"),
    ("checkpoint.build_s", "s", "lower"),
    ("checkpoint.jobs_per_bucket", "count", "lower"),
    ("checkpoint.self_s", "s", "lower"),
    ("sinks.bytes_out", "B", "lower"),
    ("sinks.rows_out", "count", "higher"),
    ("sinks.files_out", "count", "lower"),
    ("sinks.bytes_per_turn", "B/turn", "lower"),
    ("sinks.self_s", "s", "lower"),
    ("python.worker_init_s", "s", "lower"),
    ("python.bytes_sent", "B", "lower"),
    ("python.bytes_recv", "B", "lower"),
    ("storage.held_after_cell_bytes", "B", "lower"),
    ("streaming.self_s", "s", "lower"),
    *[(f"streaming.{c}.{m}", u, b) for c in STREAM_CELLS for m, u, b in _STREAM],
    ("trace.overhead_s", "s", "lower"),
    *[(f"entry.q.{q}_s", "s", "lower") for q in QUERIES],
]
PER_LAYER_NAMES = [m[0] for m in PER_LAYER]

# span name -> layer whose self time it counts toward
_SPAN_LAYER = {
    "entry.build": "entry",
    "streaming.build": "streaming",
    "sinks.noop": "sinks",
    "sinks.collect": "sinks",
    "operators.feature_vector": "operators",
    "operators.skew.build": "operators.skew",
    "checkpoint.run": "checkpoint",
}


def layer_of(span_name: str) -> str | None:
    return _SPAN_LAYER.get(span_name)
