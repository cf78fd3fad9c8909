"""The benchmark's workloads: fixed query lists from the driver registry
(``__spark_entry__.queries()``), the dataset each runs on, and the
layers whose wrappers must see calls in a traced run.

Each workload is one client in one process on ``local[nproc]`` running
one registry query at a time and calling ``collect()`` (a closed loop).
The seed only shuffles the order. Both workloads run one list, trimmed
so one pass fits the run length on a 4-core host: a cold index cache at
sf0.01 against a warm one at sf0.1.

A few registry helpers memoize per session (an index handle, a
materialized metrics curve): the first query of a family pays the build
and the others reuse it, so whichever the seed puts first would be slow.
Each list therefore holds at most one query per memoized family.
"""
from __future__ import annotations

# The registry's index-cache families, each built by one query: the pq
# codebooks (ann_pq), the 8- and 16-hash minhash signature tables
# (minhash_signatures, minhash_lsh_groups), the dsir features and the span
# index (dup_spans). confusion_matrix builds the session's metrics curve.
CACHE_BUILDERS = ["ann_pq", "minhash_signatures", "minhash_lsh_groups",
                  "dsir_weights", "dup_spans"]

# The six memoized-family queries above plus the registry's 48 cheapest
# queries at sf0.01 that use no memoized family; together they cover
# TPC-H, streaming windows, ml metrics, functions, strata, eager probes
# and the text pipeline. 54 queries put the tail rule (at least 10
# above) at the 81st percentile: the 44th fastest.
QUERIES = CACHE_BUILDERS + ["confusion_matrix"] + [
    "shuffle_order", "normalize_text", "pii_redact", "pii_flags",
    "quality_logit", "hash_sample", "brier_score", "topk_orders",
    "embedding_centroids", "kfold_counts", "chunk_documents",
    "running_user_stats", "upsert_latest", "split_assign",
    "quality_score", "tpch_q14", "tpch_q6", "calibration_curve",
    "top_ngram_fraction", "set_ops", "dedup_exact",
    "dup_cluster_histogram", "sliding_window", "covariance_matrix",
    "json_extract", "temperature_mix", "strat_mean",
    "stream_band_join", "dt_ops", "token_df", "tumbling_window",
    "variant_props_stats", "strat_value_counts",
    "quantile_bucket_counts", "dedup_fingerprint", "zorder_keys",
    "gopher_quality", "pivot_priority", "scd2_history",
    "skew_report", "weighted_sample", "top_bigrams", "tpch_q4",
    "user_features", "event_transitions", "repetition_score",
    "tpch_q22", "tpch_q12",
]

LAYERS = ["sources", "core", "operators", "ml", "functions", "streaming",
          "pipeline"]

WORKLOADS = {
    # sf0.01: query construction, eager probe jobs and per-job fixed
    # cost dominate. The cache root is emptied before the pass, so every
    # index family is built cold (index-cache misses and writes).
    "registry_cold_sf0.01": {
        "scale": "0.01",
        "cold": True,
        "queries": QUERIES,
        "layers": LAYERS,
    },
    # The same queries on ten times the data, with the index cache warm:
    # the preparation step built it in this workload's own cache root by
    # constructing ``prebuilt``, so the index families are read, not
    # built (index-cache hits). Scans, shuffles, Python UDF batches and
    # result emits carry a larger share of each query than at sf0.01.
    "registry_warm_sf0.1": {
        "scale": "0.1",
        "cold": False,
        "queries": QUERIES,
        "prebuilt": CACHE_BUILDERS,
        "layers": LAYERS,
    },
}
