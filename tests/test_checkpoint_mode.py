"""Cluster-durable checkpoint mode (VERDICT r9 next-round #4).

Every iterative / shared-frame operator truncates lineage through
`sparkprep.checkpointing.lazy_checkpoint`, which routes on the session
conf `sparkprep.checkpoint.mode`:

- local (default): `localCheckpoint` — executor-local blocks, the
  single-node posture every prior round ran under.
- reliable: `checkpoint` under `setCheckpointDir` — survives executor
  loss on a real cluster.

The contract: identical results under both modes (checkpointing is a
physical materialization decision, never a semantic one).

Plan-shape tests see below the cuts through one seam,
`tests.plan_util.no_lineage_cuts`, never through a per-operator flag.
"""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from sparkprep import checkpointing as cp
from sparkprep.operators import dedup, graph
from tests.plan_util import no_lineage_cuts, simple_plan


@pytest.fixture
def reliable_mode(spark, tmp_path):
    old_dir = spark.sparkContext.getCheckpointDir()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(cp.MODE_KEY, "reliable")
    yield
    spark.conf.unset(cp.MODE_KEY)
    # restore (None → leave the tmp dir; harmless for a test session)
    if old_dir is not None:
        spark.sparkContext.setCheckpointDir(old_dir)


def test_reliable_mode_requires_checkpoint_dir(spark):
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("a prior test pinned a checkpoint dir on the shared session")
    spark.conf.set(cp.MODE_KEY, "reliable")
    try:
        with pytest.raises(RuntimeError, match="setCheckpointDir"):
            cp.lazy_checkpoint(spark.range(3))
    finally:
        spark.conf.unset(cp.MODE_KEY)


def _pair_graph(spark):
    # two components: a 5-chain (0-1-2-3-4) and a triangle (10,11,12)
    rows = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_connected_components_same_under_both_modes(spark, tmp_path, reliable_mode):
    pairs = _pair_graph(spark)
    reliable = sorted(
        dedup.connected_components(pairs).collect(), key=lambda r: r[0]
    )
    spark.conf.set(cp.MODE_KEY, "local")
    local = sorted(dedup.connected_components(pairs).collect(), key=lambda r: r[0])
    assert [tuple(r) for r in reliable] == [tuple(r) for r in local]
    comp = {r[0]: r[1] for r in reliable}
    assert comp[4] == 0 and comp[12] == 10


def test_k_core_same_under_both_modes(spark, tmp_path, reliable_mode):
    # triangle (core-3... actually 2-core) + pendant chain peeled at k=2
    rows = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(rows, "u long, v long")
    reliable = sorted(graph.k_core(edges, k=2).collect())
    spark.conf.set(cp.MODE_KEY, "local")
    local = sorted(graph.k_core(edges, k=2).collect())
    assert [tuple(r) for r in reliable] == [tuple(r) for r in local]
    nodes = {r[0] for r in reliable}
    assert nodes == {1, 2, 3}


def test_shared_graph_leaves_same_under_both_modes(spark, sf_dir, reliable_mode):
    # triangle_count, k_truss and degree_dist read the session's shared
    # co-purchase degree and support leaves; the leaves are memoized per
    # session, so reset before each mode or the first mode's leaf is
    # served to the second
    from sparkprep.queries import registry, shared_frames

    queries = registry()[0]

    def run():
        shared_frames.reset()
        return {
            n: sorted(tuple(r) for r in queries[n](spark, sf_dir).collect())
            for n in ("triangle_count", "k_truss", "degree_dist")
        }

    reliable = run()
    spark.conf.set(cp.MODE_KEY, "local")
    local = run()
    assert reliable == local
    assert all(reliable.values())



def test_bad_mode_rejected(spark):
    spark.conf.set(cp.MODE_KEY, "turbo")
    try:
        with pytest.raises(ValueError, match="local.*reliable|reliable.*local"):
            cp.lazy_checkpoint(spark.range(3))
    finally:
        spark.conf.unset(cp.MODE_KEY)


def test_reliable_lazy_checkpoint_materializes(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck2"))
    spark.conf.set(cp.MODE_KEY, "reliable")
    try:
        df = cp.lazy_checkpoint(
            spark.range(100).withColumn("x", F.col("id") * 2)
        )
        assert df.agg(F.sum("x")).collect()[0][0] == 9900
        # the checkpoint actually wrote durable blocks
        files = list((tmp_path / "ck2").rglob("*"))
        assert any(f.is_file() for f in files)
    finally:
        spark.conf.unset(cp.MODE_KEY)


def test_no_lineage_cuts_leaves_no_trace(spark, sf_dir):
    from sparkprep.queries import shared_frames

    original = cp._checkpoint
    # a cut frame cached before entry must not serve the uncut build
    before = simple_plan(shared_frames.customer_revenue_ranked(spark, sf_dir))
    with no_lineage_cuts():
        assert cp._checkpoint is not original
        uncut = simple_plan(shared_frames.customer_revenue_ranked(spark, sf_dir))
    assert cp._checkpoint is original
    # ...and the uncut frame must not outlive the block in the cache
    after = simple_plan(shared_frames.customer_revenue_ranked(spark, sf_dir))
    assert "ExistingRDD" in before and "ExistingRDD" in after
    assert "ExistingRDD" not in uncut
    with pytest.raises(RuntimeError, match="boom"):
        with no_lineage_cuts():
            raise RuntimeError("boom")
    assert cp._checkpoint is original


def test_no_bool_checkpoint_flag_in_engine():
    # one lineage-cut seam: plan tests use no_lineage_cuts(), so no
    # operator or query may grow a `checkpoint: bool` escape hatch again
    # (streaming `checkpoint=<path>` parameters are strings)
    pkg = pathlib.Path(cp.__file__).parent
    flagged = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            params = a.posonlyargs + a.args
            defaults = dict(zip(params[len(params) - len(a.defaults):], a.defaults))
            defaults.update(zip(a.kwonlyargs, a.kw_defaults))
            for arg in params + a.kwonlyargs:
                if arg.arg != "checkpoint":
                    continue
                default = defaults.get(arg)
                bool_default = isinstance(default, ast.Constant) and isinstance(
                    default.value, bool
                )
                bool_annotation = isinstance(arg.annotation, ast.Name) and (
                    arg.annotation.id == "bool"
                )
                if bool_default or bool_annotation:
                    flagged.append(f"{path.relative_to(pkg.parent)}:{node.name}")
    assert not flagged, f"bool checkpoint flags: {flagged}"


def test_no_engine_flag():
    # one vector path per operator: the Arrow kernels replay the
    # Catalyst left fold bit for bit, so no function in sparkprep/ takes
    # an `engine` selector and no caller anywhere passes one
    root = pathlib.Path(cp.__file__).parent.parent
    files = [p for d in ("sparkprep", "scripts", "examples") for p in sorted((root / d).rglob("*.py"))]
    files.append(root / "bench.py")
    flagged = []
    for path in files:
        in_engine = path.is_relative_to(root / "sparkprep")
        for node in ast.walk(ast.parse(path.read_text())):
            where = f"{path.relative_to(root)}:{getattr(node, 'lineno', '?')}"
            if in_engine and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                if any(x.arg == "engine" for x in a.posonlyargs + a.args + a.kwonlyargs):
                    flagged.append(f"{where} takes engine")
            if isinstance(node, ast.Call) and any(k.arg == "engine" for k in node.keywords):
                flagged.append(f"{where} passes engine=")
    assert not flagged, f"engine selectors: {flagged}"
