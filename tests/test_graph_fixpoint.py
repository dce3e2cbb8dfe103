"""Graph peel loops read their fixpoint off the round's own aggregate,
and the graph family spells each primitive once.

``graph.k_core`` and ``graph.k_truss`` stop when the round's degree or
support aggregate has no value below the threshold, and
``graph.triangle_stats`` reads every counter from one aggregate.
``triangle_stats`` and ``k_truss`` take the per-edge triangle support
(``graph.edge_support``) and degree frame, not edges. These tests pin
both halves of that:

- semantics: seeded differential checks against pure-Python peels,
  across ``k`` and ``max_rounds`` (the ``max_rounds`` exit included),
  plus the empty graph;
- cost: a chain of known peel depth launches a bounded number of Spark
  jobs, k_truss at k=3 computes support once whatever it peels, and no
  ``.count()`` call comes back into the three operators.

The shared kernels (``degrees``, the uncapped ``directed_ends_capped``,
the triangle enumeration, the BFS loop) get the same differential
treatment through ``edge_support``, ``triangle_stats``,
``assortativity``, ``bfs_hops`` and ``multi_bfs_hops``, and
``test_one_graph_vocabulary`` keeps their copies from coming back;
``test_queries_read_shared_graph_leaves`` keeps co-purchase queries on
the session's shared degree and support frames.

Inputs are ``VALUES`` frames: like a file source they carry size
statistics, so the planner broadcasts the small sides as it does on the
co-purchase graph, and the job counts match the registry queries'.
"""

import ast
import inspect
import pathlib
import random
from collections import Counter, defaultdict, deque

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


def _support(df):
    return graph.edge_support(df, graph.degrees(df))


def _census(df):
    deg = graph.degrees(df)
    return graph.triangle_stats(graph.edge_support(df, deg), deg)


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


def _adjacency(es):
    adj = defaultdict(set)
    for u, v in es:
        adj[u].add(v)
        adj[v].add(u)
    return adj


def _supports(es):
    adj = _adjacency(es)
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
            got = sorted(
                tuple(r) for r in graph.k_truss(_support(df), k=k, max_rounds=rounds).collect()
            )
            assert got == _truss_ref(es, k, rounds), (k, rounds)


def test_empty_graph(spark):
    df = _values(spark, [])
    assert graph.k_core(df, k=2).collect() == []
    assert graph.k_truss(_support(df), k=3).collect() == []
    assert tuple(_census(df).collect()[0]) == (0, 0, None, 0, None)


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
    n_bare = _jobs(spark, "k-truss-bare", lambda: graph.k_truss(_support(bare), k=3).collect())
    n_tailed = _jobs(
        spark, "k-truss-tailed", lambda: graph.k_truss(_support(tailed), k=3).collect()
    )
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


_GRAPHS = {
    "random2": _random_graph(2),
    "random5": _random_graph(5),
    "tailed3": _tailed_triangle(3),
}


def _bfs_ref(es, seed, rounds):
    adj, hop, todo = _adjacency(es), {seed: 0}, deque([seed])
    while todo:
        x = todo.popleft()
        if hop[x] == rounds:
            continue
        for y in adj[x]:
            if y not in hop:
                hop[y] = hop[x] + 1
                todo.append(y)
    return hop


@pytest.mark.parametrize("name", list(_GRAPHS))
def test_triangle_stats_matches_python(spark, name):
    es = _GRAPHS[name]
    adj = _adjacency(es)
    tri = sum(len(adj[u] & adj[v]) for u, v in es) // 3
    wedges = sum(len(n) * (len(n) - 1) // 2 for n in adj.values())
    row = _census(_values(spark, es)).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        len(adj), len(es), wedges, tri
    )
    assert row.clustering == pytest.approx(3 * tri / wedges, abs=1e-6)


@pytest.mark.parametrize("name", list(_GRAPHS))
def test_edge_support_matches_python(spark, name):
    # one row per edge in at least one triangle, with its triangle count
    es = _GRAPHS[name]
    got = sorted(tuple(r) for r in _support(_values(spark, es)).collect())
    assert got == sorted((u, v, s) for (u, v), s in _supports(es).items() if s > 0)


def test_census_truss_and_degree_dist_share_one_build(spark, sf_dir):
    # triangle_count builds the session's degree and support frames;
    # k_truss and degree_dist then read the leaves. Rebuilding either
    # costs more jobs than these bounds (9 for k_truss, 3 for
    # degree_dist at sf0.001)
    from sparkprep.queries import registry, shared_frames

    queries = registry()[0]
    shared_frames.reset()
    tune_for_engine(spark)
    runs = {
        name: _jobs(spark, f"shared-{name}", lambda n=name: queries[n](spark, sf_dir).collect())
        for name in ("triangle_count", "k_truss", "degree_dist")
    }
    assert runs["k_truss"] <= 2 and runs["degree_dist"] <= 2, runs


@pytest.mark.parametrize("name", list(_GRAPHS))
def test_assortativity_matches_python_pearson(spark, name):
    es = _GRAPHS[name]
    adj = _adjacency(es)
    ends = [(len(adj[a]), len(adj[b])) for u, v in es for a, b in ((u, v), (v, u))]
    n = len(ends)
    mx = sum(x for x, _ in ends) / n
    my = sum(y for _, y in ends) / n
    cov = sum((x - mx) * (y - my) for x, y in ends)
    var = sum((x - mx) ** 2 for x, _ in ends)
    df = _values(spark, es).withColumnRenamed("u", "item_a").withColumnRenamed("v", "item_b")
    row = graph.assortativity(df).collect()[0]
    assert (row.n_nodes, row.n_edges) == (len(adj), len(es))
    assert row.assortativity == pytest.approx(cov / var, abs=6e-5)


@pytest.mark.parametrize("name", list(_GRAPHS))
def test_bfs_hops_matches_python_bfs(spark, name):
    es = _GRAPHS[name]
    got = dict(tuple(r) for r in graph.bfs_hops(_values(spark, es), rounds=3).collect())
    assert got == _bfs_ref(es, min(x for e in es for x in e), 3)


@pytest.mark.parametrize("name", list(_GRAPHS))
def test_multi_bfs_hops_matches_python_bfs(spark, name):
    es = _GRAPHS[name]
    nodes = sorted({x for e in es for x in e})
    seeds = [nodes[0], nodes[len(nodes) // 2], nodes[-1]]
    seed_df = spark.sql(
        "SELECT CAST(node AS BIGINT) AS node FROM VALUES "
        + ", ".join(f"({s})" for s in seeds)
        + " AS t(node)"
    )
    got = sorted(
        tuple(r) for r in graph.multi_bfs_hops(_values(spark, es), seed_df, rounds=3).collect()
    )
    want = sorted((s, x, h) for s in seeds for x, h in _bfs_ref(es, s, 3).items())
    assert got == want


_VOCAB_FILES = (
    "sparkprep/operators/graph.py",
    "sparkprep/operators/dedup.py",
    "sparkprep/queries/advanced.py",
    "sparkprep/queries/relational_ext.py",
    "scripts/scale_smoke.py",
)


def _is_call(node, name):
    f = getattr(node, "func", None) if isinstance(node, ast.Call) else None
    return isinstance(f, ast.Attribute) and f.attr == name or isinstance(f, ast.Name) and f.id == name


def _union_of_selects(node):
    # X.select(...).union(X.select(...)): the re-execution trap
    if not (_is_call(node, "union") or _is_call(node, "unionAll")) or len(node.args) != 1:
        return False
    a, b = node.func.value, node.args[0]
    return (
        _is_call(a, "select") and _is_call(b, "select")
        and ast.dump(a.func.value) == ast.dump(b.func.value)
    )


def _swap_explode(node):
    # explode(array(struct(A as x, B as y), struct(B as x, A as y)))
    if not (_is_call(node, "explode") and node.args and _is_call(node.args[0], "array")):
        return False
    structs = node.args[0].args
    if len(structs) != 2 or not all(_is_call(s, "struct") and len(s.args) == 2 for s in structs):
        return False
    fields = [
        [(ast.dump(a.func.value), ast.dump(a.args[0])) if _is_call(a, "alias") else None for a in s.args]
        for s in structs
    ]
    if None in fields[0] + fields[1]:
        return False
    (a1, x1), (b1, y1) = fields[0]
    (b2, x2), (a2, y2) = fields[1]
    return (a1, b1, x1, y1) == (a2, b2, x2, y2)


def _endpoint_frame(expr, assigns, seen=frozenset()):
    """Is ``expr`` a frame of exploded or directed edge endpoints
    (before any join or aggregate)? Follows the method chain down to
    its base and local names back to their assignments."""
    while True:
        if isinstance(expr, ast.Call):
            if any(_is_call(expr, m) for m in ("join", "crossJoin", "agg")):
                return False
            if _is_call(expr, "directed_ends_capped") or _union_of_selects(expr):
                return True
            if _is_call(expr, "select") and any(
                _is_call(n, "explode") and n.args and _is_call(n.args[0], "array")
                for a in expr.args
                for n in ast.walk(a)
            ):
                return True
            if not isinstance(expr.func, ast.Attribute):
                return False
            expr = expr.func.value
        elif isinstance(expr, ast.Name) and expr.id in assigns and expr.id not in seen:
            return any(_endpoint_frame(v, assigns, seen | {expr.id}) for v in assigns[expr.id])
        else:
            return False


def test_one_graph_vocabulary():
    """The graph family spells each primitive once: the degree frame is
    ``graph.degrees``, the both-directions adjacency is the uncapped
    ``graph.directed_ends_capped``, and ``bfs_hops`` runs no loop of its
    own (it is ``multi_bfs_hops`` from one seed). Flags, in the three
    graph-family modules and ``operators/dedup.py`` (whose connected
    components symmetrize a near-dup pair graph), a union of two selects of one frame, a
    two-struct endpoint-swap explode outside ``directed_ends_capped``
    (a struct that carries a payload column, like association_rules'
    support, is not an adjacency), and a one-key ``groupBy(...).agg(count)``
    over exploded or directed endpoints outside ``degrees``. The scale
    panel script builds its graph inputs from the same vocabulary."""
    root = pathlib.Path(__file__).resolve().parents[1]
    found = []
    for rel in _VOCAB_FILES:
        tree = ast.parse((root / rel).read_text())
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            assigns = defaultdict(list)
            for node in ast.walk(fn):
                if isinstance(node, ast.Assign):
                    for tgt in node.targets:
                        if isinstance(tgt, ast.Name):
                            assigns[tgt.id].append(node.value)
            for node in ast.walk(fn):
                where = f"{rel}:{fn.name}:{getattr(node, 'lineno', '?')}"
                if _union_of_selects(node):
                    found.append(f"union of selects of one frame at {where}")
                if _swap_explode(node) and fn.name != "directed_ends_capped":
                    found.append(f"both-directions explode at {where}")
                if (
                    _is_call(node, "agg")
                    and _is_call(node.func.value, "groupBy")
                    and len(node.func.value.args) == 1
                    and any(_is_call(n, "count") for a in node.args for n in ast.walk(a))
                    and _endpoint_frame(node.func.value.func.value, assigns)
                    and fn.name != "degrees"
                ):
                    found.append(f"degree groupBy/count at {where}")
                if isinstance(node, ast.For) and fn.name == "bfs_hops":
                    found.append(f"BFS loop at {where}")
    assert not found, "graph primitives re-spelled:\n" + "\n".join(found)


def test_queries_read_shared_graph_leaves():
    """Co-purchase queries read the session's degree and support frames
    (``shared_frames.copurchase_degrees`` and ``copurchase_support``):
    no query module but ``shared_frames`` calls ``degrees`` or
    ``edge_support`` itself, so no query rebuilds either per run."""
    root = pathlib.Path(__file__).resolve().parents[1] / "sparkprep" / "queries"
    found = [
        f"{path.name}:{node.lineno}"
        for path in sorted(root.glob("*.py"))
        if path.name != "shared_frames.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if _is_call(node, "degrees") or _is_call(node, "edge_support")
    ]
    assert not found, "graph artifacts rebuilt in a query module: " + ", ".join(found)
