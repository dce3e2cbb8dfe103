"""The engine's session contract (UTC session time zone, AQE on) has ONE
seam: ``sparkprep.queries.t`` applies it on every table read, so registry
queries are right on whatever session the caller built. These tests make
the shared session hostile and restore it in a ``finally`` (the ``spark``
fixture is session-scoped)."""

import ast
import os

import pytest

import __spark_entry__ as entry_mod
from sparkprep.queries import t
from sparkprep.session import default_parallelism, tune_for_engine
from tests.oracle_util import assert_matches_oracle

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()
QUERIES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "sparkprep", "queries"
)

# Queries whose answers change when the session is not pinned to UTC/AQE.
PIN_SENSITIVE = [
    "asof_rate", "burstiness", "changepoint", "chi_square", "churn_labels",
    "cross_corr", "croston", "events_hourly", "forecast_anomalies",
    "holt_trend", "holt_winters", "resample_ffill", "resample_interp",
    "seasonal_adjust", "weekday_effect",
]


def _make_hostile(spark):
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    spark.conf.set("spark.sql.adaptive.enabled", "false")


def test_t_pins_the_contract(spark, sf_dir):
    try:
        _make_hostile(spark)
        t(spark, sf_dir, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        tune_for_engine(spark)


def _tune_callers(path):
    """Names of the functions in ``path`` that call ``tune_for_engine``."""
    callers = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name == "tune_for_engine":
                callers.append(fn)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    with open(path) as fh:
        visit(ast.parse(fh.read()), None)
    return callers


def test_only_t_calls_tune_for_engine():
    callers = {
        f"{name}:{fn}"
        for name in sorted(os.listdir(QUERIES_DIR))
        if name.endswith(".py")
        for fn in _tune_callers(os.path.join(QUERIES_DIR, name))
    }
    assert callers == {"__init__.py:t"}


@pytest.mark.parametrize("name", PIN_SENSITIVE)
def test_pin_sensitive_query_on_hostile_session(spark, sf_dir, duck, name):
    try:
        _make_hostile(spark)
        df = QUERIES[name](spark, sf_dir)
        assert_matches_oracle(df, duck, ORACLES[name])
    finally:
        tune_for_engine(spark)


def test_default_parallelism_falls_back_to_host_cores(monkeypatch):
    # unset, the session sizes itself to the cores this process may use
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
