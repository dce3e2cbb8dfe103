"""Round-5 operator semantics the oracles can't see: triangle census
hand math (K4, pendant edges, orientation invariance) and window-funnel
ordering/deadline edges (strict after, deadline anchored at stage 1,
out-of-order events don't advance)."""

import datetime

from pyspark.sql import functions as F

from sparkprep.operators.graph import degrees, edge_support, triangle_stats
from sparkprep.operators.temporal import window_funnel


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["item_a", "item_b"])


def _census(e):
    und = e.select(F.col("item_a").alias("u"), F.col("item_b").alias("v"))
    deg = degrees(und)
    return triangle_stats(edge_support(und, deg), deg)


def test_triangle_k4(spark):
    # K4: 4 nodes, 6 edges, 4 triangles, wedges = 4 * C(3,2) = 12,
    # clustering = 3*4/12 = 1.0
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    row = _census(_edges(spark, k4)).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        4, 6, 12, 4,
    )
    assert row.clustering == 1.0


def test_triangle_pendant_and_open_wedge(spark):
    # one triangle + a pendant edge off node 2: deg = (2,2,3,1)
    # wedges = 1+1+3+0 = 5, triangles = 1, clustering = 3/5
    row = _census(_edges(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        4, 4, 5, 1,
    )
    assert row.clustering == 0.6


def test_triangle_orientation_invariance(spark):
    # per-edge endpoint order must not matter (the operator re-orients
    # by (degree, id) internally)
    fwd = _census(_edges(spark, [(0, 1), (1, 2), (0, 2)])).collect()[0]
    rev = _census(_edges(spark, [(1, 0), (2, 1), (2, 0)])).collect()[0]
    assert fwd == rev
    assert fwd.n_triangles == 1


def test_triangle_no_triangles(spark):
    # path graph: wedge exists, no triangle, clustering 0.0
    row = _census(_edges(spark, [(0, 1), (1, 2)])).collect()[0]
    assert row.n_triangles == 0
    assert row.clustering == 0.0


def _ts(h, m=0):
    return datetime.datetime(2024, 1, 1, h, m)


def _funnel(spark, rows, window="1 hours"):
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    out = window_funnel(df, "user_id", "event_type", "ts", ["a", "b", "c"],
                        window=window)
    return {r.stage: r for r in out.collect()}


def test_funnel_strictly_after(spark):
    # b at the SAME instant as a does not advance (strict >)
    got = _funnel(spark, [
        (1, "a", _ts(1)), (1, "b", _ts(1)),
        (2, "a", _ts(1)), (2, "b", _ts(1, 30)),
    ])
    assert got["a"].users == 2
    assert got["b"].users == 1
    assert got["c"].users == 0


def test_funnel_deadline_anchored_at_stage1(spark):
    # user 1: b inside the 1h window, c outside it -> depth 2;
    # user 2: all inside -> depth 3
    got = _funnel(spark, [
        (1, "a", _ts(1)), (1, "b", _ts(1, 30)), (1, "c", _ts(3)),
        (2, "a", _ts(1)), (2, "b", _ts(1, 20)), (2, "c", _ts(1, 40)),
    ])
    assert (got["a"].users, got["b"].users, got["c"].users) == (2, 2, 1)


def test_funnel_out_of_order_does_not_count(spark):
    # user's only b happens BEFORE their first a -> stuck at stage 1
    got = _funnel(spark, [(1, "b", _ts(1)), (1, "a", _ts(2))])
    assert got["a"].users == 1
    assert got["b"].users == 0


def test_funnel_earliest_start_greedy(spark):
    # earliest-start semantics: the window anchors at the FIRST a even
    # if a later a would let the chain complete — documented greedy
    got = _funnel(spark, [
        (1, "a", _ts(1)), (1, "a", _ts(5)),
        (1, "b", _ts(5, 30)), (1, "c", _ts(5, 45)),
    ])
    assert got["a"].users == 1
    assert got["b"].users == 0


def test_funnel_pct_of_start(spark):
    got = _funnel(spark, [
        (1, "a", _ts(1)), (1, "b", _ts(1, 10)),
        (2, "a", _ts(1)),
        (3, "a", _ts(1)), (3, "b", _ts(1, 5)), (3, "c", _ts(1, 6)),
        (4, "a", _ts(1)),
    ])
    assert got["a"].pct_of_start == 1.0
    assert got["b"].pct_of_start == 0.5
    assert got["c"].pct_of_start == 0.25


def _iv(spark, rows):
    return spark.createDataFrame(rows, ["s", "e"])


def test_peak_concurrency_overlap_hand_math(spark):
    from sparkprep.operators.temporal import peak_concurrency

    # three intervals: [1:00,2:00], [1:30,3:00], [2:30,4:00]
    # peak = 2 (at 1:30-2:00 and 2:30-3:00), never 3
    rows = [(_ts(1), _ts(2)), (_ts(1, 30), _ts(3)), (_ts(2, 30), _ts(4))]
    out = peak_concurrency(_iv(spark, rows), "s", "e").collect()
    assert len(out) == 1
    assert (out[0].n_intervals, out[0].peak) == (3, 2)


def test_peak_concurrency_touching_endpoints_closed(spark):
    from sparkprep.operators.temporal import peak_concurrency

    # closed intervals: one ENDS exactly when another STARTS -> both
    # active at that instant, peak 2
    rows = [(_ts(1), _ts(2)), (_ts(2), _ts(3))]
    out = peak_concurrency(_iv(spark, rows), "s", "e").collect()[0]
    assert out.peak == 2
    # but 1µs later the first is gone
    rows = [
        (_ts(1), _ts(2)),
        (datetime.datetime(2024, 1, 1, 2, 0, 0, 1), _ts(3)),
    ]
    out = peak_concurrency(_iv(spark, rows), "s", "e").collect()[0]
    assert out.peak == 1


def test_peak_concurrency_midnight_split(spark):
    from sparkprep.operators.temporal import peak_concurrency

    # one interval spanning two midnights -> counted on all 3 days
    rows = [
        (datetime.datetime(2024, 1, 1, 22), datetime.datetime(2024, 1, 3, 2)),
        (datetime.datetime(2024, 1, 2, 10), datetime.datetime(2024, 1, 2, 11)),
    ]
    got = {
        r.day: r
        for r in peak_concurrency(_iv(spark, rows), "s", "e").collect()
    }
    assert set(got) == {"2024-01-01", "2024-01-02", "2024-01-03"}
    assert got["2024-01-01"].peak == 1
    assert got["2024-01-02"].peak == 2  # spanner + the 10-11am one
    assert got["2024-01-02"].n_intervals == 2
    assert got["2024-01-03"].peak == 1


def test_cohort_retention_day0_is_one(spark, sf_dir):
    from sparkprep.queries.temporal_grouped import q_cohort_retention

    out = q_cohort_retention(spark, sf_dir).filter("day_offset = 0").collect()
    assert out and all(r.retention == 1.0 for r in out)


def test_mutual_nn_suppresses_hub_chains(spark):
    import numpy as np

    from sparkprep.operators.similarity import mutual_nn_pairs

    # all three vectors sit in the +halfspace of the single seeded
    # plane (built from the SAME RandomState(42) the operator uses),
    # so they share one bucket and the test exercises pure mutuality:
    # cos(a,b) > cos(b,c) > cos(a,c)  ->  b's best is a, c's best is b,
    # but b is taken: only (a, b) is reciprocal.
    p = np.random.RandomState(42).normal(size=(1, 4))[0]
    p = p / np.linalg.norm(p)
    q = np.array([p[1], -p[0], p[3], -p[2]])  # orthogonal to p
    vecs = {
        1: p,
        2: p + 0.05 * q,
        3: p + 0.30 * q,
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        ["vec_id", "embedding"],
    )
    out = mutual_nn_pairs(df, num_planes=1, dim=4, seed=42).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]


def test_chi_square_uniform_grid_is_zero(spark):
    # perfectly independent grid -> chi2 == 0, cramers_v == 0
    import datetime as dt

    rows = []
    for day in range(4):  # 4 distinct epoch-dows
        for et in ("a", "b"):
            for _ in range(5):  # identical cell counts everywhere
                rows.append((et, dt.datetime(2024, 1, 1 + day, 12)))
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    # replicate the query's math directly on the frame
    from pyspark.sql.window import Window

    obs = df.groupBy(
        "event_type",
        F.expr("(unix_micros(ts) div 86400000000) % 7").alias("__dow"),
    ).agg(F.count(F.lit(1)).alias("__o"))
    e = (
        F.col("__rt").cast("double") * F.col("__ct").cast("double")
    ) / F.col("__n")
    staged = obs.select(
        "__o",
        F.sum("__o").over(Window.partitionBy("event_type")).alias("__rt"),
        F.sum("__o").over(Window.partitionBy("__dow")).alias("__ct"),
        F.sum("__o").over(Window.partitionBy()).alias("__n"),
    )
    chi2 = staged.select(
        (((F.col("__o") - e) * (F.col("__o") - e)) / e).alias("t")
    ).agg(F.sum("t").alias("chi2")).collect()[0].chi2
    assert chi2 == 0.0


def test_anova_f_hand_math(spark):
    from sparkprep.operators.stats import anova_f

    # g1=[1,2,3] (mean 2), g2=[4,5,6] (mean 5), grand mean 3.5
    # SSB = 3*(1.5)^2 * 2 = 13.5; SSW = 2 + 2 = 4
    # F = (13.5/1) / (4/4) = 13.5; eta^2 = 13.5/17.5
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0), ("b", 5.0), ("b", 6.0)],
        ["g", "v"],
    )
    row = anova_f(df, "v", "g").collect()[0]
    assert row.f_stat == 13.5
    assert (row.df_between, row.df_within, row.n_rows) == (1, 4, 6)
    assert row.eta_sq == round(13.5 / 17.5, 6)


def test_anova_f_null_values_drop(spark):
    from sparkprep.operators.stats import anova_f

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", 2.0), ("b", 3.0)], ["g", "v"]
    )
    row = anova_f(df, "v", "g").collect()[0]
    assert row.n_rows == 3


def test_spearman_monotone_with_ties(spark):
    from sparkprep.operators.stats import spearman

    # strictly increasing with tied middle values: rho == 1.0 exactly
    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 40.0)], ["x", "y"]
    )
    assert spearman(df, "x", "y").collect()[0].spearman_rho == 1.0
    # anti-monotone: -1.0
    df2 = spark.createDataFrame(
        [(1.0, 40.0), (2.0, 20.0), (3.0, 10.0)], ["x", "y"]
    )
    assert spearman(df2, "x", "y").collect()[0].spearman_rho == -1.0


def test_spearman_outlier_immune(spark):
    from sparkprep.operators.stats import spearman

    # a wild outlier doesn't move rank correlation off 1.0
    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (4.0, 1e9)], ["x", "y"]
    )
    assert spearman(df, "x", "y").collect()[0].spearman_rho == 1.0


def test_assortativity_star_is_negative_one(spark):
    from sparkprep.operators.graph import assortativity

    # star K1,3: every edge links deg-3 hub to deg-1 leaf -> r = -1
    df = _edges(spark, [(0, 1), (0, 2), (0, 3)])
    row = assortativity(df, "item_a", "item_b").collect()[0]
    assert row.assortativity == -1.0
    assert (row.n_nodes, row.n_edges) == (4, 3)


def test_assortativity_regular_graph_null(spark):
    from sparkprep.operators.graph import assortativity

    # cycle C4: all degrees equal -> zero variance -> NULL (try_divide)
    df = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    row = assortativity(df, "item_a", "item_b").collect()[0]
    assert row.assortativity is None


def test_association_rules_hand_math(spark):
    from sparkprep.operators.graph import association_rules

    # baskets: {A,B} x3, {A} x1, {B,C} x1  (N=5)
    # n(A)=4, n(B)=4, n(C)=1; sup(AB)=3
    # conf(A->B)=3/4, lift = 5*3/(4*4)=0.9375
    pairs = spark.createDataFrame(
        [("A", "B", 3), ("B", "C", 1)], ["item_a", "item_b", "n_keys"]
    )
    counts = spark.createDataFrame(
        [("A", 4), ("B", 4), ("C", 1)], ["item", "n"]
    )
    out = {
        (r.antecedent, r.consequent): r
        for r in association_rules(
            pairs, counts, n_baskets=5, top=10, min_support=2
        ).collect()
    }
    assert set(out) == {("A", "B"), ("B", "A")}  # BC below min_support
    assert out[("A", "B")].support == 3
    assert out[("A", "B")].confidence == 0.75
    assert out[("A", "B")].lift == 0.9375
    assert out[("B", "A")].confidence == 0.75


def test_cooccurrence_id_cap_binds_and_matches_freq_mode(spark):
    from sparkprep.operators.graph import cooccurrence_pairs

    # one key with 4 distinct items, cap 3: id-cap keeps the 3 smallest
    # ids {1,2,3} -> pairs (1,2),(1,3),(2,3)
    rows = [(1, i) for i in (4, 2, 1, 3)]
    df = spark.createDataFrame(rows, ["k", "item"])
    got = sorted(
        (r.item_a, r.item_b)
        for r in cooccurrence_pairs(
            df, "k", "item", max_items_per_key=3, cap_by="id"
        ).collect()
    )
    assert got == [(1, 2), (1, 3), (2, 3)]
    # when the cap can't bind, both modes emit identical pair counts
    rows2 = [(k, i) for k in range(5) for i in (10, 20, 30)] + [(0, 20)]
    df2 = spark.createDataFrame(rows2, ["k", "item"])
    a = sorted(map(tuple, cooccurrence_pairs(
        df2, "k", "item", max_items_per_key=16).collect()))
    b = sorted(map(tuple, cooccurrence_pairs(
        df2, "k", "item", max_items_per_key=16, cap_by="id").collect()))
    assert a == b


def test_funnel_no_stage1_events(spark):
    # nobody enters the funnel: every stage reports 0 users, pct NULL
    got = _funnel(spark, [(1, "b", _ts(1)), (2, "c", _ts(2))])
    assert {r for r in ((s, g.users) for s, g in got.items())} == {
        ("a", 0), ("b", 0), ("c", 0),
    }
    assert all(g.pct_of_start is None for g in got.values())


def test_spearman_constant_column_null(spark):
    from sparkprep.operators.stats import spearman

    df = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)], ["x", "y"]
    )
    row = spearman(df, "x", "y").collect()[0]
    assert row.spearman_rho is None  # zero rank variance -> try_divide NULL
    assert row.n_rows == 3


def test_peak_concurrency_single_interval(spark):
    from sparkprep.operators.temporal import peak_concurrency

    out = peak_concurrency(
        _iv(spark, [(_ts(1), _ts(1))]), "s", "e"
    ).collect()
    assert len(out) == 1
    assert (out[0].n_intervals, out[0].peak) == (1, 1)


def test_triangle_single_edge(spark):
    # no wedges at all: clustering NULL (0-wedge try_divide), not 0/0
    row = _census(_edges(spark, [(0, 1)])).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        2, 1, 0, 0,
    )
    assert row.clustering is None
