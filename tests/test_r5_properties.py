"""Property-based invariants for the round-5 operators: triangle census
vs a brute-force Python oracle on random graphs, funnel stage
monotonicity, Spearman bounds/invariances, assortativity bounds, and
ANOVA non-negativity. Example counts stay low (every example is a
Spark job)."""

import itertools

from hypothesis import given, settings, strategies as st

from sparkprep.operators.graph import assortativity, degrees, edge_support, triangle_stats
from sparkprep.operators.stats import anova_f, spearman

# random edge sets over up to 8 nodes (canonical a < b, deduped)
_edges_strategy = st.sets(
    st.tuples(
        st.integers(min_value=0, max_value=7),
        st.integers(min_value=0, max_value=7),
    ).map(lambda p: (min(p), max(p))).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=16,
)


def _brute_triangles(edges):
    es = set(edges)
    nodes = sorted({n for e in es for n in e})
    tri = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in es and (b, c) in es and (a, c) in es
    )
    deg = {n: 0 for n in nodes}
    for a, b in es:
        deg[a] += 1
        deg[b] += 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    return len(nodes), len(es), wedges, tri


@settings(max_examples=15, deadline=None)
@given(_edges_strategy)
def test_triangle_stats_matches_brute_force(spark, edges):
    df = spark.createDataFrame(sorted(edges), ["u", "v"])
    deg = degrees(df)
    row = triangle_stats(edge_support(df, deg), deg).collect()[0]
    n, m, w, t = _brute_triangles(edges)
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        n, m, w, t,
    )


@settings(max_examples=10, deadline=None)
@given(_edges_strategy)
def test_assortativity_bounded(spark, edges):
    df = spark.createDataFrame(sorted(edges), ["item_a", "item_b"])
    row = assortativity(df).collect()[0]
    # Pearson of degree pairs: in [-1, 1], or NULL on zero variance
    assert row.assortativity is None or -1.0 <= row.assortativity <= 1.0
    assert row.n_edges == len(edges)


_vals = st.lists(
    st.integers(min_value=-50, max_value=50), min_size=3, max_size=20
)


@settings(max_examples=15, deadline=None)
@given(_vals, _vals)
def test_spearman_bounds_and_shift_invariance(spark, xs, ys):
    n = min(len(xs), len(ys))
    rows = list(zip([float(x) for x in xs[:n]], [float(y) for y in ys[:n]]))
    df = spark.createDataFrame(rows, ["x", "y"])
    rho = spearman(df, "x", "y").collect()[0].spearman_rho
    assert rho is None or -1.0 <= rho <= 1.0
    # rank correlation is invariant under any strictly monotone
    # transform of either margin — shift+scale x, cube y
    df2 = spark.createDataFrame(
        [(3.0 * x + 7.0, y ** 3) for x, y in rows], ["x", "y"]
    )
    rho2 = spearman(df2, "x", "y").collect()[0].spearman_rho
    assert rho == rho2


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.floats(min_value=-100, max_value=100, allow_nan=False),
             min_size=2, max_size=12),
    st.lists(st.floats(min_value=-100, max_value=100, allow_nan=False),
             min_size=2, max_size=12),
)
def test_anova_f_nonnegative(spark, g1, g2):
    rows = [("a", float(v)) for v in g1] + [("b", float(v)) for v in g2]
    df = spark.createDataFrame(rows, ["g", "v"])
    row = anova_f(df, "v", "g").collect()[0]
    # F >= 0 whenever defined (NULL when SSW == 0, e.g. constant groups)
    assert row.f_stat is None or row.f_stat >= 0.0
    assert row.n_rows == len(rows)


def test_funnel_stage_monotonicity(spark, sf_dir):
    from sparkprep.queries.temporal_grouped import q_window_funnel

    rows = {
        r.stage_idx: r.users
        for r in q_window_funnel(spark, sf_dir).collect()
    }
    assert all(rows[i] >= rows[i + 1] for i in range(1, len(rows)))
