"""The benchmark's own tests, on sf0.001-sized inputs.

Run from the repository root:

    python -m pytest perfbench/tests -q

They check that the printed metrics are the ones BENCHMARK.json names,
that the input generators are deterministic, that Spark counters land
on the operation that launched the jobs, and that a failing operation
is counted without losing the other timings. Each Spark test starts
its own session (about 10 s).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import ep1_data  # noqa: E402
import harness  # noqa: E402
import tables  # noqa: E402
import workloads  # noqa: E402

CORES = 2


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture
def small(monkeypatch):
    """sf0.001 tables, a small CSV and one set-up per run."""
    monkeypatch.setattr(workloads, "TABLE_SF", 0.001)
    monkeypatch.setattr(workloads, "CORPUS_SF", 0.001)
    monkeypatch.setattr(workloads, "EP1_ROWS", 3_000)
    monkeypatch.setattr(harness, "SETUPS", 1)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(CORES))


def _run(tmp_path, workload: str, trace: bool, patch_queries=None) -> harness.Run:
    """A full run with no warm window: one cold and the minimum of warm passes."""
    run_dir = tmp_path / workload
    run_dir.mkdir()
    run = harness.Run(ROOT, str(tmp_path), str(run_dir), workload, 7, 0.0,
                      trace, CORES, harness.time.perf_counter())
    run.start()
    try:
        if patch_queries:
            patch_queries(run.queries)
        run.measure()
        run.check()
        run.peak = run.peak_rss_mb()
    finally:
        run.stop()
    return run


# -- generators (no Spark) ---------------------------------------------------

def test_ep1_csv_is_deterministic_per_seed(tmp_path):
    paths = [tmp_path / f"{i}.csv" for i in range(3)]
    exp = [ep1_data.write_loanstats_csv(str(p), 2_000, seed)
           for p, seed in zip(paths, (5, 5, 6))]
    assert paths[0].read_bytes() == paths[1].read_bytes()
    assert exp[0] == exp[1]
    assert paths[0].read_bytes() != paths[2].read_bytes()
    for e in exp:
        assert e["malformed_rows_dropped"] > 0
        assert e["staged_rows"] == e["steps"]["filter_status"] < e["steps"]["drop_any_null"]
        assert e["steps"]["drop_any_null"] < e["steps"]["select_working_cols"] == 2_000


def test_tables_are_deterministic():
    a = tables.build_tables(0.001, 0.001, 42)
    b = tables.build_tables(0.001, 0.001, 42)
    assert list(a) == list(tables.TABLES)
    for name in tables.TABLES:
        assert a[name].equals(b[name]), name


# -- full runs ---------------------------------------------------------------

@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_metrics_match_benchmark_json(small, tmp_path, workload):
    run = _run(tmp_path, workload, trace=True)
    assert not run.failed_ops(), [(op.name, op.error) for op in run.failed_ops()]
    spec = _spec()
    e2e = run.end_to_end()
    assert {k: u for k, (_, u) in e2e.items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert all(v > 0 for v, _ in e2e.values())
    layers = run.per_layer()
    assert {k: u for k, (_, u) in layers.items()} == {
        m["name"]: m["unit"] for m in spec["per_layer"]}


def test_counters_land_on_their_operation(small, tmp_path, monkeypatch):
    monkeypatch.setitem(workloads.QUERY_WORKLOADS, "eda_tail",
                        ["pricing_summary", "rollup", "dropna_all"])
    run = _run(tmp_path, "eda_tail", trace=True)
    traced = [run.ops[i] for p in run.passes if p["traced"] for i in p["ops"]]
    assert len(traced) == 3
    for op in traced:
        assert op.spark["jobs"] >= 1 and op.spark["stages"] >= 1, op
        assert op.spark["tasks"] >= op.spark["stages"]
    # the jobs of a traced op are exactly those launched while it ran:
    # job ids rise with operation order and never overlap
    seen = []
    for op in traced:
        ids = sorted(op.job_ids)
        assert len(ids) == op.spark["jobs"]
        assert not seen or ids[0] > seen[-1]
        seen += ids


def test_broken_operation_is_counted_not_fatal(small, tmp_path, monkeypatch):
    names = ["pricing_summary", "rollup", "dropna_all"]
    monkeypatch.setitem(workloads.QUERY_WORKLOADS, "eda_tail", names)

    def patch(queries):
        good = queries["rollup"]

        def raises(spark, sf_dir):
            raise RuntimeError("broken on purpose")

        def wrong(spark, sf_dir):
            return good(spark, sf_dir).limit(1)

        queries["pricing_summary"] = raises
        queries["rollup"] = wrong

    run = _run(tmp_path, "eda_tail", trace=False, patch_queries=patch)
    failed = {op.name for op in run.failed_ops()}
    assert failed == {"pricing_summary", "rollup"}
    assert "rollup" in run.failures
    assert len(run.failed_ops()) == 2 * len(run.passes)
    ok = [op for op in run.ops if op.name == "dropna_all"]
    assert len(ok) == len(run.passes) and all(op.seconds > 0 for op in ok)
    assert run.end_to_end()["pass_cpu_s"][0] > 0
    assert run.ungated(run.peak)["op_p50_s"] == statistics.median(
        op.seconds for op in ok if op.pass_no)
