"""Graph peel loops read their fixpoint off the round's own aggregate.

``graph.k_core`` and ``graph.k_truss`` stop when the round's degree or
support aggregate has no value below the threshold, and
``graph.triangle_stats`` reads every counter from one aggregate. These
tests pin both halves of that:

- semantics: seeded differential checks against pure-Python peels,
  across ``k`` and ``max_rounds`` (the ``max_rounds`` exit included),
  plus the empty graph;
- cost: a chain of known peel depth launches a bounded number of Spark
  jobs, k_truss at k=3 computes support once whatever it peels, and no
  ``.count()`` call comes back into the three operators.

Inputs are ``VALUES`` frames: like a file source they carry size
statistics, so the planner broadcasts the small sides as it does on the
co-purchase graph, and the job counts match the registry queries'.
"""

import ast
import inspect
import random
from collections import Counter, defaultdict

import pytest

from pyspark.sql.types import LongType, StructField, StructType

from sparkprep.operators import graph
from sparkprep.session import tune_for_engine

_ROUNDS = (1, 2, 16)


def _values(spark, es):
    if not es:
        schema = StructType([StructField("u", LongType()), StructField("v", LongType())])
        return spark.createDataFrame([], schema)
    rows = ", ".join(f"({u}, {v})" for u, v in es)
    return spark.sql(
        "SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v "
        f"FROM VALUES {rows} AS t(u, v)"
    )


def _random_graph(seed, n=16, p=0.25):
    rng = random.Random(seed)
    return [(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < p]


def _tailed_triangle(r):
    # triangle {0,1,2} with a pendant chain of r edges hung off node 2:
    # at k=2 each round peels exactly one chain edge, so the peel depth
    # is r rounds plus the fixpoint round
    return [(0, 1), (0, 2), (1, 2)] + [(i, i + 1) for i in range(2, r + 2)]


def _core_ref(es, k, rounds):
    cur = set(es)
    for _ in range(rounds):
        deg = Counter(x for e in cur for x in e)
        nxt = {(u, v) for u, v in cur if deg[u] >= k and deg[v] >= k}
        if nxt == cur:
            break
        cur = nxt
    return sorted(Counter(x for e in cur for x in e).items())


def _supports(es):
    adj = defaultdict(set)
    for u, v in es:
        adj[u].add(v)
        adj[v].add(u)
    return {(u, v): len(adj[u] & adj[v]) for u, v in es}


def _truss_ref(es, k, rounds):
    cur = set(es)
    for _ in range(rounds):
        sup = _supports(cur)
        nxt = {e for e in cur if sup[e] >= k - 2}
        if nxt == cur:
            break
        cur = nxt
    # an edge in no triangle has no support row, on both sides
    return sorted((u, v, s) for (u, v), s in _supports(cur).items() if s > 0)


@pytest.mark.parametrize(
    "es", [_random_graph(2), _tailed_triangle(3)], ids=["random2", "tailed3"]
)
def test_k_core_matches_python_peel(spark, es):
    df = _values(spark, es)
    for k in (2, 3, 4):
        for rounds in _ROUNDS:
            got = sorted(tuple(r) for r in graph.k_core(df, k=k, max_rounds=rounds).collect())
            assert got == _core_ref(es, k, rounds), (k, rounds)


@pytest.mark.parametrize("seed", [2, 5])
def test_k_truss_matches_python_peel(spark, seed):
    es = _random_graph(seed)
    df = _values(spark, es)
    for k in (3, 4):
        for rounds in _ROUNDS:
            got = sorted(tuple(r) for r in graph.k_truss(df, k=k, max_rounds=rounds).collect())
            assert got == _truss_ref(es, k, rounds), (k, rounds)


def test_empty_graph(spark):
    df = _values(spark, [])
    assert graph.k_core(df, k=2).collect() == []
    assert graph.k_truss(df, k=3).collect() == []
    tri = df.withColumnRenamed("u", "item_a").withColumnRenamed("v", "item_b")
    assert tuple(graph.triangle_stats(tri).collect()[0]) == (0, 0, None, 0, None)


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "graph fixpoint job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_k_core_jobs_bounded_by_peel_depth(spark):
    # per peel round: the degree cut, its isEmpty and the survivor cut;
    # the fixpoint round adds the degree cut and isEmpty only
    tune_for_engine(spark)
    r = 3
    df = _values(spark, _tailed_triangle(r))
    n = _jobs(spark, "k-core-jobs", lambda: graph.k_core(df, k=2, max_rounds=16).collect())
    assert n <= 3 * r + 4, n


def test_k_truss_k3_computes_support_once(spark):
    # at k=3 the first round is the fixpoint whatever it peels: a tail
    # of triangle-free edges costs no extra round
    tune_for_engine(spark)
    bare = _values(spark, _tailed_triangle(0))
    tailed = _values(spark, _tailed_triangle(3))
    n_bare = _jobs(spark, "k-truss-bare", lambda: graph.k_truss(bare, k=3).collect())
    n_tailed = _jobs(spark, "k-truss-tailed", lambda: graph.k_truss(tailed, k=3).collect())
    assert n_tailed <= n_bare, (n_tailed, n_bare)


@pytest.mark.parametrize("name", ["k_core", "k_truss", "triangle_stats"])
def test_no_count_scalar_in_graph_peels(name):
    # DataFrame.count() takes no arguments; F.count(col) does
    tree = ast.parse(inspect.getsource(getattr(graph, name)))
    calls = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "count"
        and not node.args
    ]
    assert not calls, f"graph.{name} calls .count() (source lines {calls})"
