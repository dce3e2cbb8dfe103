"""Physical-plan assertions: the 100 TB story, checked.

Each key query's optimized/physical plan must have the shape you'd want
on a 1000-executor cluster — filters pushed to the scan, columns pruned,
dims broadcast, sort+limit as TakeOrdered, partial aggregation map-side,
no accidental cartesian products, whole-stage codegen in the hot paths.
A correct result from a bad plan fails these tests.
"""

import pytest

from sparkprep.plans import explain_formatted
from sparkprep.queries import registry
from tests.plan_util import no_lineage_cuts, simple_plan as _simple

QUERIES, _ = registry()

_NAMES = (
    "pricing_summary", "join_regions", "join_revenue", "topk_orders",
    "freq_orderpriority", "minhash_pairs", "window_dedup",
    "cosine_topk", "null_census",
)


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return {name: explain_formatted(QUERIES[name](spark, sf_dir)) for name in _NAMES}


@pytest.fixture(scope="module")
def simple_plans(spark, sf_dir):
    return {name: _simple(QUERIES[name](spark, sf_dir)) for name in _NAMES}


def test_flagship_filter_pushed_and_pruned(plans):
    plan = plans["pricing_summary"]
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read = plan.split("ReadSchema")[-1]
    assert "l_orderkey" not in read  # only the 7 needed columns scanned
    assert "l_partkey" not in read


def test_flagship_partial_aggregation(plans):
    # partial_ functions = map-side combine before the exchange
    assert "partial_sum" in plans["pricing_summary"]
    assert plans["pricing_summary"].count("HashAggregate") >= 2


def test_dim_joins_broadcast(plans):
    assert "BroadcastHashJoin" in plans["join_regions"]
    assert "SortMergeJoin" not in plans["join_regions"]


def test_q3_join_no_cartesian(plans):
    plan = plans["join_revenue"]
    assert "CartesianProduct" not in plan
    assert "PushedFilters" in plan  # date/segment filters reach the scans


def test_topk_is_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans["topk_orders"]
    assert "Exchange rangepartitioning" not in plans["topk_orders"]  # no global sort


def test_freq_single_shuffle(simple_plans):
    # one hashpartitioning exchange for the groupBy; percent via
    # broadcast, not a second data shuffle
    assert simple_plans["freq_orderpriority"].count("Exchange hashpartitioning") <= 1


def test_minhash_no_cartesian(plans):
    assert "CartesianProduct" not in plans["minhash_pairs"]


def test_window_dedup_single_exchange(simple_plans):
    # window partitionBy keys -> exactly one hash exchange
    assert simple_plans["window_dedup"].count("Exchange hashpartitioning") == 1


def test_cosine_topk_broadcasts_queries(plans):
    # corpus never shuffles: queries broadcast into a nested-loop join
    assert "BroadcastNestedLoopJoin" in plans["cosine_topk"]


def test_null_census_no_shuffle_of_rows(plans):
    # global aggregate: single-partition exchange of ONE combined row
    # per task, never a hashpartitioning of the data
    assert "Exchange hashpartitioning" not in plans["null_census"]


def test_codegen_in_hot_path(spark, sf_dir):
    # codegen stages only materialize in the EXECUTED plan under AQE
    # (pre-execution AdaptiveSparkPlan shows isFinalPlan=false, no stages)
    df = QUERIES["pricing_summary"](spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark WholeStageCodegen stages in the tree string
    assert "*(" in executed
    assert "BatchEvalPython" not in executed  # no Python UDFs


def test_no_python_udfs_anywhere(plans):
    for name, plan in plans.items():
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"

def test_q5_star_join_shape(spark, sf_dir):
    plan = _simple(QUERIES["local_supplier_volume"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan          # region->nation->customer dims
    assert "CartesianProduct" not in plan
    assert "partial_sum" in _or_formatted(spark, sf_dir, "local_supplier_volume")


def _or_formatted(spark, sf_dir, name):
    return explain_formatted(QUERIES[name](spark, sf_dir))


def test_quantile_bucket_no_global_window(spark, sf_dir):
    # the whole point: NO WindowExec anywhere — cutoffs via hash agg +
    # broadcast join back
    plan = _simple(QUERIES["quantile_buckets"](spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_pivot_single_aggregate(spark, sf_dir):
    # explicit pivot values -> one hash-agg pair (partial+final), no
    # distinct-discovery job, no extra shuffle
    plan = _simple(QUERIES["pivot_priority"](spark, sf_dir))
    assert plan.count("Exchange") <= 2  # one shuffle for agg + one for sort


def test_semi_join_prunes_and_pushes(spark, sf_dir):
    # returned_orders: lineitem side must scan only l_orderkey with the
    # returnflag filter pushed; the join must be LeftSemi (no row blowup)
    plan = explain_formatted(QUERIES["returned_orders"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "EqualTo(l_returnflag,R)" in plan  # pushed to parquet scan
    li_read = [s for s in plan.split("ReadSchema: ") if "l_orderkey" in s][0]
    assert "l_quantity" not in li_read.split("\n")[0]


def test_anti_join_shape(spark, sf_dir):
    plan = explain_formatted(QUERIES["quiet_rich_customers"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan  # pushed to scan


def test_priority_by_status_projects_before_shuffle(spark, sf_dir):
    # both join inputs scan exactly two columns
    plan = explain_formatted(QUERIES["priority_by_status"](spark, sf_dir))
    for frag in plan.split("ReadSchema: ")[1:]:
        schema_line = frag.split("\n")[0]
        assert schema_line.count(":") <= 2, schema_line


def test_returned_revenue_topk_shape(spark, sf_dir):
    # Q10 shape: top-20 compiles to TakeOrdered (no global sort), the
    # quarter filter reaches the orders scan, nation stays broadcast
    plan = explain_formatted(QUERIES["returned_revenue"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan  # pushed to lineitem scan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # pushed to orders scan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_discount_band_part_filter_prejoined(spark, sf_dir):
    # Q19 shape: the part-only disjunction (brand+size) must prune the
    # part side BEFORE the join — the part scan carries pushed Or
    # filters — and the pruned dim broadcasts
    plan = explain_formatted(QUERIES["discount_band_revenue"](spark, sf_dir))
    part_frag = [s for s in plan.split("PushedFilters: ")[1:] if "p_brand" in s]
    assert part_frag and "Or(" in part_frag[0].split("\n")[0]
    assert "BroadcastHashJoin" in plan


def test_small_qty_no_correlated_reexecution(spark, sf_dir):
    # Q17 shape: the per-part average is ONE aggregate joined back, not
    # a correlated per-row subquery; brand filter prunes the part scan
    plan = explain_formatted(QUERIES["small_qty_revenue"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EqualTo(p_brand,Brand#1)" in plan
    assert "BroadcastHashJoin" in plan


def test_product_profit_dims_broadcast(spark, sf_dir):
    # Q9 shape: part/supplier/nation broadcast; only the orders join may
    # shuffle; PROMO filter pushed to the part scan
    plan = explain_formatted(QUERIES["product_profit"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "EqualTo(p_type,PROMO)" in plan
    assert "CartesianProduct" not in plan


def test_important_parts_no_window_broadcast_attach(spark, sf_dir):
    # Q11 shape, round-7 form: the global total is a 1-row agg
    # broadcast-ATTACHED to the per-part aggregate — part grows with
    # the data, so the old empty-frame window over the per-part frame
    # would single-task it at 100x (VERDICT r6 #2). No Window node at
    # all; the only BNLJ is the sanctioned 1-row attach.
    plan = _simple(QUERIES["important_parts"](spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total attach
    assert "HashAggregate" in plan


def test_window_medley_single_window_exec(spark, sf_dir):
    # four ranking functions share ONE window spec -> exactly one
    # WindowExec (and its one sort), not four
    plan = _simple(QUERIES["window_medley"](spark, sf_dir))
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") <= 1


def test_fuzzy_linkage_blocked_not_cartesian(spark, sf_dir):
    # levenshtein runs only on block-join candidates, never all-pairs
    plan = _simple(QUERIES["fuzzy_linkage"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rolling_and_anomaly_single_window_exec(spark, sf_dir):
    # all RANGE-frame aggregates (avg/stddev/count) must share ONE
    # window spec -> one WindowExec, one keyed exchange
    for name in ("rolling_hourly", "anomaly_flags"):
        plan = _simple(QUERIES[name](spark, sf_dir))
        assert plan.count("Window") - plan.count("WindowGroupLimit") == 1, name
        assert plan.count("Exchange hashpartitioning") == 1, name


def test_grouping_sets_single_pass(spark, sf_dir):
    # one Expand + one partial/final aggregate pair: the sets must not
    # rescan lineitem per set
    plan = _simple(QUERIES["grouping_sets"](spark, sf_dir))
    assert plan.count("Expand") == 1
    assert plan.count("Scan parquet") == 1


def test_merge_scd2_single_join_history_bypass(spark, sf_dir):
    # current rows join ONCE (full outer); closed history unions in
    # without touching the join
    plan = _simple(QUERIES["merge_scd2"](spark, sf_dir))
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_outlier_fences_quartiles_share_exchange(spark, sf_dir):
    # window quartiles + rollup on the same key: one hash exchange for
    # the data; the orderBy range-exchange runs on the 5-row aggregate
    plan = _simple(QUERIES["outlier_fences"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_minhash_pairs_shuffle_volume_bounded(spark, sf_dir):
    # empirical scale evidence via the metric registry: the LSH path
    # must shuffle O(docs x (hashes + bands)) partial rows, never the
    # O(docs^2) pair space a naive all-pairs design would
    from sparkprep.operators.physical import plan_metrics

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    df = QUERIES["minhash_pairs"](spark, sf_dir)
    df.collect()
    m = plan_metrics(df)
    assert m["spill_bytes"] == 0
    assert 0 < m["shuffle_records_written"] < 80 * n_docs  # ~hashes+bands per doc, x partitions
    assert m["shuffle_records_written"] < n_docs * n_docs / 4


def test_runtime_filter_join_prunes_fact_before_shuffle(spark, sf_dir):
    # With auto-broadcast OFF (the 100 TB regime where neither side
    # broadcasts), the exact runtime key filter must still appear as a
    # broadcast LeftSemi BELOW the shuffle join, so the fact exchange
    # carries only matchable rows.
    from pyspark.sql import functions as F

    from sparkprep.operators import transform
    from sparkprep.queries import t as load_t

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = (
            load_t(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select(F.col("o_orderkey").alias("l_orderkey"))
        )
        li = load_t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        out = transform.runtime_filter_join(li, orders, "l_orderkey")
        plan = _simple(out)
        semi_pos = plan.find("BroadcastHashJoin [l_orderkey")
        assert semi_pos != -1 and "LeftSemi" in plan
        # the final join shuffles (SMJ) because nothing auto-broadcasts;
        # the semi filter sits on the fact leg underneath it
        assert "SortMergeJoin" in plan
        assert plan.find("SortMergeJoin") < plan.find("LeftSemi")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_topk_windows_get_window_group_limit(spark, sf_dir):
    """Per-key top-k windows (rank <= k filter) must compile to Spark's
    WindowGroupLimit: a map-side per-group limit BEFORE the shuffle, so
    each task ships at most k rows per key — what makes a 5-key top-3
    window scale-safe even though the key is low-cardinality. If this
    node disappears (optimizer regression, a filter rewrite that breaks
    the rank-predicate pattern), the window silently reverts to a
    full per-key sort-everything plan."""
    from sparkprep.queries.relational import q_topk_per_group
    from sparkprep.queries.textops import q_per_group_sample

    for fn in (q_topk_per_group, q_per_group_sample):
        plan = _simple(fn(spark, sf_dir))
        assert "WindowGroupLimit" in plan, f"{fn.__name__}:\n{plan}"


def test_bootstrap_ci_four_digests_not_thirtytwo(spark, sf_dir):
    # the weight path derives all 32 replicates from FOUR md5 calls per
    # row (one per (row, replicate) measured 3x slower); the plan must
    # not regress to per-replicate digests or re-evaluate the digest
    # per array element (the F.array literal-form HOF landmine)
    plan = _simple(QUERIES["bootstrap_ci"](spark, sf_dir))
    assert 1 <= plan.count("md5") <= 8  # 4 in the projection (+reuse)
    assert "CartesianProduct" not in plan
    assert "conv(" not in plan  # lexicographic hex compares, no hex->int


def test_interval_merge_one_exchange_for_both_windows(spark, sf_dir):
    # the running-max sweep and the island cumsum share ONE
    # (user_id)-partitioned exchange+sort — a second exchange means the
    # window specs drifted apart
    plan = _simple(QUERIES["interval_merge"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_degree_dist_uses_bit_length_not_log2(spark, sf_dir):
    # the log2 bucket must be the exact binary-string bit-length path;
    # floor(log2(double)) boundaries can flip cross-engine
    plan = _simple(QUERIES["degree_dist"](spark, sf_dir))
    assert "conv(" in plan
    assert "LOG2" not in plan.upper().replace("LOG2_BUCKET", "")


def test_kendall_no_allpairs_join(spark, sf_dir):
    # tau-b must come from the contingency grid, never an O(n^2)
    # row-stream self-join: no cartesian, and the only sort-merge joins
    # are on the aggregated cell frame
    plan = _simple(QUERIES["kendall_tau"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_cross_corr_equijoin_on_day_lag(spark, sf_dir):
    # the lag fan-out joins y on day+lag as an EQUI-join; a theta join
    # here would BNLJ the daily panel against itself
    plan = _simple(QUERIES["cross_corr"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kmeans_broadcast_centroids_not_shuffle(spark, sf_dir):
    # each Lloyd round must broadcast the k centroid rows across the
    # points — the points side may never hash-shuffle on a join key
    # (there is none); the cross is the sanctioned k-row BNLJ and the
    # per-point argmin window is keyed by point id, never global.
    from sparkprep.operators import clustering

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pts = clustering.quantize_points(emb, "vec_id", "embedding", dims=4)
    with no_lineage_cuts():
        plan = _simple(clustering.kmeans_lloyd(pts, k=4, dims=4, rounds=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the k-row centroid attach
    # the argmin window is keyed by point id — never a global sort
    assert "Exchange SinglePartition" not in plan


def test_communities_vote_is_aggregate_not_window(spark, sf_dir):
    # the per-node argmax label must be a map-combinable aggregate
    # (min(struct(-count,label))), not a row_number window over the
    # vote stream
    plan = _simple(QUERIES["communities"](spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_lpa_one_vote_exchange_per_round(spark):
    # the per-round vote: ONE hash(v) exchange feeds both the (v, lbl)
    # count and the per-node argmax; neither aggregate plans its own
    import re

    from sparkprep.operators import graph

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)] + [(0, 5), (3, 9)], "u long, v long"
    )
    with no_lineage_cuts():
        plan = _simple(graph.lpa_communities(edges, rounds=1))
    lines = plan.splitlines()
    join_at = next(i for i, ln in enumerate(lines) if "Join" in ln)
    above = "\n".join(lines[:join_at])
    assert above.count("HashAggregate") >= 2, plan
    exchanges = re.findall(r"Exchange (\w+)\((\w+)", above)
    assert [(kind, key.split("#")[0]) for kind, key in exchanges] == [
        ("hashpartitioning", "v")
    ], plan


def test_spell_pairs_equijoin_on_variant(spark, sf_dir):
    # SymSpell must hash-join deletion variants — never an all-pairs
    # theta join on the vocabulary
    plan = _simple(QUERIES["spell_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hits_keyed_joins_only(spark, sf_dir):
    # both HITS rounds are keyed equi-joins + partial aggregates
    plan = _simple(QUERIES["hits_scores"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-20 never global-sorts


def test_sprt_single_keyed_window_no_python(spark, sf_dir):
    # the LLR scan is one user-keyed window over raw events; no Python
    # evaluation anywhere (the ln constants were folded in Python)
    plan = _simple(QUERIES["sprt_stop"](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_position_attribution_no_interval_join(spark, sf_dir):
    # touches attach to their next purchase via a keyed window — an
    # interval join here would BNLJ touches x purchases per user
    plan = _simple(QUERIES["position_attribution"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_jaccard_histogram_equijoin_integer_bins(spark, sf_dir):
    # candidates come from the shingle equi-join; bins are integer div —
    # no float, no cross join
    plan = _simple(QUERIES["jaccard_histogram"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_conformal_interval_distributed_rank(spark, sf_dir):
    # q_hat selection must ride ranks.global_rank (range partition +
    # offsets); the registered query itself must stay cartesian-free
    from pyspark.sql import functions as F

    from sparkprep.operators import ranks

    plan = _simple(QUERIES["conformal_interval"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    cal = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_totalprice").alias("r")
    )
    with no_lineage_cuts():
        rk_plan = _simple(ranks.global_rank(cal, [F.asc("r")], rank_name="rk"))
    assert "rangepartitioning" in rk_plan.lower()


def test_multi_order_global_ntile_one_range_exchange(spark):
    # VERDICT r10 item 3: the fused multi-layout scaffold must show
    # exactly ONE range exchange (not one per layout) and ZERO
    # single-partition exchanges — its offsets window is layout-keyed.
    from pyspark.sql import functions as F

    from sparkprep.operators import ranks

    df = spark.createDataFrame(
        [(i, i % 7, i % 3) for i in range(50)], ["id", "v", "w"]
    )
    with no_lineage_cuts():
        fused = ranks.multi_order_global_ntile(
            df,
            4,
            {
                "a": [F.col("v"), F.col("id"), F.lit(0)],
                "b": [F.col("w"), F.col("v"), F.col("id")],
            },
            carry=["id"],
        )
    plan = _simple(fused)
    # the scaffold appears once per consumer (counts + final join) in
    # the un-checkpointed plan text; BOTH occurrences must be the SAME
    # layout-keyed pass (the unfused form had one range pass per layout
    # keyed WITHOUT the layout column). Production checkpoints the
    # pass, so it executes once.
    import re

    parts = re.findall(r"Exchange rangepartitioning\((\w+)", plan)
    assert len(parts) == 2 and all(p.startswith("__layout") for p in parts)
    assert "Exchange SinglePartition" not in plan


def test_customer_revenue_ranked_one_range_exchange(spark, sf_dir):
    # The shared rank+cumsum scaffold: ONE range pass for the whole
    # gini/lorenz/deciles family. The single-partition window over the
    # 32-row per-partition PARTIALS frame is the documented bounded
    # case (test_plan_audit_all._BOUNDED_GLOBAL_WINDOW) — exactly one
    # such exchange, and exactly one range exchange of the data.
    from sparkprep.queries import shared_frames

    with no_lineage_cuts():
        plan = _simple(shared_frames.customer_revenue_ranked(spark, sf_dir))
    # one shared (__rev, o_custkey) range pass, embedded once per
    # consumer (partials + final join) in the un-checkpointed text —
    # never one dedicated pass per family member
    import re

    parts = re.findall(r"Exchange rangepartitioning\((\w+)", plan)
    assert len(parts) == 2 and all(p.startswith("__rev") for p in parts)
    assert plan.count("Exchange SinglePartition") <= 1


def test_bfs_layers_keyed_joins_no_collect_loop(spark, sf_dir):
    # every BFS round is a keyed equi-join + min aggregate; the plan
    # must stay cartesian-free and never fall off the JVM path
    plan = _simple(QUERIES["bfs_layers"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
