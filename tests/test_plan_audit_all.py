"""Whole-registry plan audit: every registered query must be free of
the scale-killers, not just the 9 spot-checked in test_plans_quality.
A correct result from a bad plan fails here.

Every plan is built inside ``no_lineage_cuts()``, so the detectors see
below each lineage cut (shared frames, iterative rounds, rank
scaffolds) instead of ``Scan ExistingRDD``.

Checks per query (static optimized/physical plan, no execution):
- no CartesianProduct / BroadcastNestedLoopJoin (accidental cross)
- no BatchEvalPython (row-at-a-time Python UDF fell into the plan);
  Arrow nodes (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas /
  PythonMapInArrow) are the sanctioned Python paths
- no Window over a SinglePartition exchange of RAW (pre-aggregate)
  data; empty-frame windows are only allowed on post-aggregate frames,
  which show a HashAggregate below the single-partition exchange
"""

import pytest

from sparkprep.queries import registry
from tests.plan_util import no_lineage_cuts, simple_plan as _simple

QUERIES, _ = registry()


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.fixture(scope="module")
def _built_frames(spark, sf_dir):
    # ONE construction pass shared by both plan layers (several queries
    # execute bounded jobs at build time — don't pay that twice)
    with no_lineage_cuts():
        return {name: fn(spark, sf_dir) for name, fn in QUERIES.items()}


@pytest.fixture(scope="module")
def all_plans(_built_frames):
    return {n: _simple(df) for n, df in _built_frames.items()}


@pytest.fixture(scope="module")
def analyzed_plans(_built_frames):
    # analyzed (pre-optimizer) plans keep ResolvedHint nodes, which the
    # physical plan absorbs — the only layer where a FORCED broadcast
    # is distinguishable from one AQE chose by size
    return {n: _analyzed(df) for n, df in _built_frames.items()}


def test_no_cartesian_anywhere(all_plans):
    bad = [n for n, p in all_plans.items() if "CartesianProduct" in p]
    assert not bad, f"cartesian products in: {bad}"


# BNLJ is sanctioned ONLY as the tiny-broadcast cross-attach pattern:
# a <=5-row frame (scalar aggregate or the query-vector side) broadcast
# against the big side — no join key exists, and the broadcast side is
# O(1) rows by construction.
_TINY_BROADCAST_CROSS = {
    "cosine_topk",       # 5 query vectors broadcast x corpus (by design)
    "minmax_normalize",  # 1-row fused min/max scalar frame attach
    "ep1_prep",          # same scalar-attach inside the EP1 chain
    "hybrid_rrf",        # dense leg = 1 query vector broadcast x corpus
    "key_skew",          # 1-row totals frame attach to the top-k keys
    "revenue_concentration",  # 1-row totals x 1-row top-k sum attach
    "join_forecast",     # 1-row totals x (<=1)-row hottest-key attach
    "vocab_coverage",    # 1-row folded coverage x 1-row token total
    "quantile_normalize",  # 1-row reference-size scalar attach
    "retrieval_overlap",   # dense leg = 1 query vector broadcast x corpus
    "user_migration",    # 1-row stream min/max bounds attach
    "basket_size_dist",  # 1-row order-total attach for the share column
    "rfm_segments",      # 1-row max-order-day attach for recency
    "rfm_scale",         # same 1-row horizon attach as rfm_segments
    "important_parts",   # 1-row global-total attach to the per-part agg
    "join_fanout",       # 1-row Σfanout attach to the per-part agg
    "bootstrap_ci",      # 1-row CI frame attach to the 1-row point frame
    "kendall_tau",       # 1-row y-domain array + 1-row tie-term attaches
    "kmeans_assign",     # k=4 centroid rows broadcast x points, per Lloyd round
    "cohens_kappa",      # 1-row totals x 1-row marginal-product attach
    "resample_interp",   # |event_types|-row (5) type frame x hour grid
    "isotonic_fit",      # <=50-row bin frames, non-equi (j<=i<=k) by design
    "modularity",        # 1-row edge-count frame attach to the community fold
    "conformal_interval",  # 1-row model frame + 1-row q_hat frame attaches
    "ndcg_eval",         # 20 query vectors broadcast x corpus (cosine_topk's shape)
    "durbin_watson",     # 1-row OLS model frame attach to the daily frame
    "pit_snapshot",      # 4-row as-of probe panel x version frame (range predicate, no equi-key)
    "mmr_rerank",        # 10 query vectors broadcast x corpus (cosine_topk's shape)
    "eb_shrinkage",      # 1-row beta-prior frame attach to the per-part frame
    "budget_apportion",  # 1-row (N, k) totals attach to the per-source frame
    "journey_distance",  # 10-row journey panel broadcast self-join (45 pairs, fixed panel)
    "top_movers",        # 1-row period-totals frame attach to the per-brand frame
    "ltv_curve",         # 1-row max-year horizon attach for the age grid
    "krippendorff_alpha",  # 1-row totals x 1-row marginal-square attach
    "earth_movers",      # |priorities|-row (5) frame x ~60-row bin grid
    "silhouette_score",  # k=4 centroid rows broadcast x points (kmeans_assign's shape)
    "burrows_delta",     # 10-row source panel x 30-row word panel grid
}

# the one deliberate Python-row-path showcase: a Python UDTF (SURVEY
# extension); every other query must stay on the JVM/Arrow path.
_PYTHON_SHOWCASE = {"udtf_bigrams"}


def test_no_nested_loop_joins(all_plans):
    bad = [
        n for n, p in all_plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in _TINY_BROADCAST_CROSS
    ]
    assert not bad, f"nested-loop joins in: {bad}"
    # keep the allow-list honest: an entry whose plan has no nested-loop
    # join any more is stale documentation
    stale = sorted(
        n for n in _TINY_BROADCAST_CROSS
        if "BroadcastNestedLoopJoin" not in all_plans.get(n, "")
    )
    assert not stale, f"stale _TINY_BROADCAST_CROSS entries: {stale}"


def test_no_row_python_udfs_anywhere(all_plans):
    bad = [
        n for n, p in all_plans.items()
        if "BatchEvalPython" in p and n not in _PYTHON_SHOWCASE
    ]
    assert not bad, f"row-at-a-time Python UDFs in: {bad}"


def test_single_partition_windows_only_post_agg(all_plans):
    # Window fed by Exchange SinglePartition is fatal on raw data; it is
    # acceptable only when the exchanged frame is already an aggregate
    # (HashAggregate/ObjectHashAggregate/SortAggregate appears below the
    # exchange in the tree, i.e., later in the plan string).
    offenders = []
    for name, plan in all_plans.items():
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            above = "\n".join(lines[:i])
            below = "\n".join(lines[i:])
            if "Window" in above and "Aggregate" not in below:
                offenders.append(name)
                break
    assert not offenders, f"single-partition window over raw data in: {offenders}"


def _single_partition_window_queries(all_plans):
    hits = set()
    for name, plan in all_plans.items():
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" in line and "Window" in "\n".join(
                lines[:i]
            ):
                hits.add(name)
                break
    return hits


# "Post-agg" alone is NOT scale-safe (VERDICT r5 #2): an aggregate at
# ENTITY grain (per-customer, per-document) still grows with the data,
# so its global window single-task-sorts everything at 100x. Every
# query whose plan contains ANY single-partition window must therefore
# be registered here with a boundedness justification — either the
# exchanged frame has data-independent (or sublinear, cardinality-
# bounded) size, or the query is entity-grain and must name a
# registered scale twin in _ENTITY_GRAIN_TOGGLED. Adding a new global
# window without an entry fails this audit — that is the commit gate.
_BOUNDED_GLOBAL_WINDOW = {
    "auc_quality": "<=1000-row score-bin ROC frame",
    "benford": "9-row leading-digit frame",
    "bootstrap_ci": "32-row replicate-mean frame (B fixed, data-independent)",
    "chi_square": "|event_types| x 7 contingency frame",
    "freq_orderpriority": "5-row priority frame",
    "conformal_interval": "O(32) ranks.global_rank offsets frame only (residual rank itself distributed)",
    "cuped": "2-row arm frame (pooled-sufficient-stat fold)",
    "cumulative_reach": "per-day first-seen frame (~90 rows), bounded by horizon",
    "durbin_watson": "calendar-bounded daily-revenue frame (~2.4k rows at any fact scale)",
    "budget_apportion": "per-source frame (~20 rows, bounded by the source domain)",
    "equidepth_bins": "O(32) ranks.global_ntile offsets frame only (raw-fact ntile distributed)",
    "earth_movers": "SinglePartition is the 1-row bin-range (min/max) scalar; the cumulative-count window is priority-KEYED over the dense |priorities| x |bins| grid (~5 x 60)",
    "gains_table": "10-row decile frame + O(32) ranks.global_ntile offsets",
    "gini_revenue": "O(32) per-partition offsets frame of the shared customer_revenue_ranked scaffold only (rank itself distributed)",
    "gini_scale": "O(32) per-partition offsets frame of the shared customer_revenue_ranked scaffold only (rank itself distributed)",
    "hybrid_rrf": "bounded top-k retrieval legs",
    "isotonic_fit": "<=50-row bin-prefix window (fixed integer bin grid)",
    "resample_interp": "SinglePartition is the 1-row grid-bounds scalar; the fill windows are event_type-KEYED over the calendar-span-bounded grid",
    "ltv_curve": "SinglePartition is the 1-row max-year horizon scalar; the cumsum window is customer-KEYED over the <=8-age grid",
    "k_anonymity": "quasi-identifier cross-product frame (125 classes), bounded by QI domains not rows",
    "kendall_tau": "|X|x|Y| contingency grid (50x11), bounded by value domains not rows",
    "l_diversity": "same QI-class frame as k_anonymity",
    "length_histogram": "fixed length-bin frame",
    "lm_score": "score-bin frame",
    "lorenz_curve": "10-row decile cum/total frames + O(32) offsets frame of the shared customer_revenue_ranked scaffold",
    "lorenz_scale": "10-row decile cum/total frames + O(32) offsets frame of the shared customer_revenue_ranked scaffold",
    "mann_whitney": "50-row quantity value-frequency rank frame",
    "kruskal_wallis": "50-row quantity value-frequency rank frame",
    "markov_3step": "|event_types|^2 transition frame",
    "markov_stationary": "|event_types|^2 transition frame (markov_3step's init/normalize windows)",
    "mix_weights": "per-source frame (~5 langs)",
    "mom_growth": "~84-row month frame",
    "mutual_info": "|types| x 7 contingency frame",
    "null_patterns": "<=2^3-row null-bitmask pattern frame",
    "pr_auc": "<=1000-row score-bin PR frame (auc_quality's twin)",
    "quantile_normalize": "SinglePartition is the 1-row reference-size (n_ref) scalar; the rank/size windows are event_type-KEYED (per-group sort, numeric.quantile_normalize scale note)",
    "psi_drift": "2 x K-bin cohort frame",
    "repeat_purchase_curve": "distinct per-user purchase-count frame (10-24 values; canary-pinned <=512 in test_headroom_canaries)",
    "rfm_scale": "SinglePartition is the 1-row recency-horizon (max day) scalar in rfm_staged; the fused multi_order_global_ntile windows are (partition, dimension)-KEYED",
    "sample_ks": "ECDF over bounded value-frequency frame",
    "signed_rank": "|d| value-frequency rank frame (8-26 distinct values; canary-pinned <=512 in test_headroom_canaries)",
    "skyline": "per-level frame of the skyline lattice (bounded)",
    "spearman": "50/11 distinct-value frequency frames",
    "stump_split": "50-row quantity value-frequency frame (bounded by the value domain)",
    "survival_table": "|distinct lifetime days| frame, bounded by horizon",
    "t_closeness": "same QI-class frame as k_anonymity (125 classes)",
    "tail_quantiles": "O(32) ranks.global_rank offsets frame only (rank itself distributed)",
    "target_encode": "per-category prior frame, bounded by category domain",
    "theil_index": "25-row nation frame (bounded by the nation domain)",
    "token_budget": "20-row source frame",
    "token_js": "two-scan vocab panel (vocab-grain, sublinear)",
    "user_migration": "per-period argmax frames + 1-row bounds attach",
    "value_deciles": "O(32) per-partition offsets frame of the shared customer_revenue_ranked scaffold only (cumsum itself distributed)",
    "abc_classification": "O(32) ranks.global_cumsum offsets frame only (part-grain cumsum distributed)",
    # no pruning_sim entry: the fused multi_order_global_ntile keys its
    # offsets window by layout, so no single-partition window exists
    "vocab_growth": "O(32) offsets frames only (2 chained global_cumsum passes)",
    "vocab_coverage": "1-row folded coverage frames",
    "window_funnel": "per-step funnel frame (4 steps)",
    "woe_iv": "11-row discount-bucket frame (bounded by the value domain)",
}

# Entity-grain global windows: exact form kept for the oracle, with a
# bit-identical distributed twin registered for 100x (ranks.global_rank
# / global_ntile — range-partitioned parallel sort). The docstring of
# each exact query must NAME its twin.
_ENTITY_GRAIN_TOGGLED = {
    "rfm_segments": "rfm_scale",
}


def test_global_windows_bounded_or_toggled(all_plans):
    hits = _single_partition_window_queries(all_plans)
    allowed = set(_BOUNDED_GLOBAL_WINDOW) | set(_ENTITY_GRAIN_TOGGLED)
    unregistered = sorted(hits - allowed)
    assert not unregistered, (
        "queries with a single-partition window but no boundedness "
        f"justification: {unregistered} — add to _BOUNDED_GLOBAL_WINDOW "
        "(with a real bound) or register a scale twin in "
        "_ENTITY_GRAIN_TOGGLED"
    )
    stale = sorted(
        (set(_BOUNDED_GLOBAL_WINDOW) | set(_ENTITY_GRAIN_TOGGLED))
        - hits
        - set(_ENTITY_GRAIN_TOGGLED)  # the exact form may lose the window someday
    )
    # keep the registry honest: entries for queries that no longer have
    # a global window are stale documentation
    assert not stale, f"stale _BOUNDED_GLOBAL_WINDOW entries: {stale}"


def test_entity_grain_toggles_exist_and_are_named():
    for exact, twin in _ENTITY_GRAIN_TOGGLED.items():
        assert twin in QUERIES, f"scale twin {twin} not registered"
        doc = QUERIES[exact].__doc__ or ""
        assert twin in doc, (
            f"{exact}'s docstring must name its 100x twin {twin} "
            "(the documented-toggle convention, like stats_extended)"
        )


# --- forced-broadcast audit (round 9) --------------------------------------
# VERDICT r8 #2: a F.broadcast hint on an SF-scaling catalog-grain frame
# (part ~20M rows / supplier ~1M / customer ~15M at sf100) overrides
# AQE's size check and OOMs the build side at scale. A hint is only
# sanctioned on a frame the plan itself shows to be bounded: filtered,
# aggregated, or limited. This audit walks each ResolvedHint subtree in
# the ANALYZED plan (the physical plan absorbs hints, so it cannot
# distinguish forced from AQE-chosen broadcasts).

_CATALOG_KEYS = ("p_partkey", "s_suppkey", "c_custkey")
_BOUNDING_NODES = ("Filter", "Aggregate", "GlobalLimit", "Join")


def _node_depth(line: str) -> int:
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


def _forced_catalog_broadcasts(analyzed: str) -> list:
    lines = analyzed.splitlines()
    hits = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line:
            continue
        depth = _node_depth(line)
        subtree = []
        for nxt in lines[i + 1:]:
            if _node_depth(nxt) <= depth:
                break
            subtree.append(nxt)
        body = "\n".join(subtree)
        raw_catalog = any(
            k in rel for rel in subtree if "Relation" in rel for k in _CATALOG_KEYS
        )
        bounded = any(node in body for node in _BOUNDING_NODES)
        if raw_catalog and not bounded:
            hits.append(body.strip().splitlines()[0] if subtree else line)
    return hits


def test_no_forced_broadcast_of_unbounded_catalog_frames(analyzed_plans):
    bad = {
        n: hits
        for n, p in analyzed_plans.items()
        if (hits := _forced_catalog_broadcasts(p))
    }
    assert not bad, (
        "forced broadcast of an unfiltered/unaggregated part|supplier|"
        f"customer frame (OOMs at sf100): {bad} — drop the F.broadcast "
        "hint (AQE picks the build side) or bound the frame first"
    )


def test_forced_broadcast_detector_not_vacuous(spark, sf_dir):
    # the audit must actually fire on the regression class it guards
    # against, and stay quiet on the two sanctioned hint shapes
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    bad = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    assert _forced_catalog_broadcasts(_analyzed(bad))
    filtered = li.join(
        F.broadcast(part.filter(F.col("p_type") == "PROMO")),
        li.l_partkey == part.p_partkey,
    )
    assert not _forced_catalog_broadcasts(_analyzed(filtered))
    agg = part.groupBy("p_brand").count()
    assert not _forced_catalog_broadcasts(_analyzed(li.join(F.broadcast(agg), F.lit(True))))
