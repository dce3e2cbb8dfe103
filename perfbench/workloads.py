"""The benchmark's workloads.

Queries are picked by name, never by registry position: ``registry()``
reorders itself from the ``CORRECTNESS_r*.json`` records. Every listed
query has a DuckDB oracle.

BENCHMARK.json gates graph_shared and ep1_etl, which between them
reach every layer. eda_tail and dedup_text run the same way by hand
(``--workload eda_tail``) with the query lists the workloads were
defined with, but are not gated: the gate's time budget holds about
40 s a run on an idle host, and these take 100 s or more. README.md
gives the measured times behind the choice.
"""

from __future__ import annotations

# Sub-second EDA queries; none consumes ``shared_frames``.
EDA_TAIL = [
    # relational
    "pricing_summary", "freq_orderpriority", "null_census", "describe_lineitem",
    "topk_orders", "distinct_event_types", "join_regions", "join_revenue",
    "events_hourly", "events_sliding", "confusion_metrics", "salted_agg",
    "key_skew", "sql_view", "rollup", "grouping_sets", "pivot_priority", "cube",
    "intersect_parts", "except_suppliers", "distinct_counts", "window_medley",
    "calendar_features", "event_funnel", "winsorize", "topk_per_group",
    "returned_orders", "order_distribution",
    # cleaning
    "dropna_all", "dropna_subset", "fillna_dict", "label_decode",
    "replace_nullsafe", "bucketize", "isin_filter", "month_token",
    "validator_report", "union_bag", "minmax_normalize", "null_patterns",
    "collapse_rare", "impute_mean",
    # temporal_grouped
    "time_split", "cumulative_reach", "seasonal_adjust", "freshness_check",
    "holt_trend", "resample_ffill", "burstiness", "range_count", "daily_trend",
    # relational_ext
    "unpivot", "correlations", "merge_upsert", "k_anonymity", "skyline",
    "join_fanout", "percent_rank", "woe_iv",
]

# CPU-heavy text, dedup and similarity queries over documents/embeddings.
# bpe_merges, in the same family, has no DuckDB oracle.
DEDUP_TEXT = [
    "minhash_eval", "cluster_reps", "setsim_join", "simhash_pairs",
    "chunk_overlap", "substr_coverage", "char_entropy", "semantic_dedup",
    "mutual_nn", "span_dedup", "gopher_rules", "ngram_diversity",
    "containment_pairs", "embedding_near_dup",
]

# Co-purchase graph queries, all four on the shared co-purchase pair
# frame: one build and three hits a pass. k_core and k_truss peel in
# rounds with checkpoint cuts; triangle_count and degree_dist are
# single-shot. pagerank and hits_scores, also iterative, read lineitem
# directly and touch no shared frame.
GRAPH_SHARED = ["triangle_count", "k_core", "k_truss", "degree_dist"]

QUERY_WORKLOADS = {
    "eda_tail": EDA_TAIL,
    "dedup_text": DEDUP_TEXT,
    "graph_shared": GRAPH_SHARED,
}

EP1 = "ep1_etl"

NAMES = (*QUERY_WORKLOADS, EP1)

# Input sizes. The query tables are fixed (the seed only shuffles query
# order within each pass); the ep1_etl CSV is drawn from the seed.
TABLE_SF = 0.01
CORPUS_SF = 0.04
TABLE_SEED = 42
EP1_ROWS = 40_000
