"""Drives every queries() entry against its oracle_sql() — the same
check the correctness driver performs at sf0.01, run here at sf0.001
so it stays fast enough for the inner loop."""

import pytest

import __spark_entry__ as entry_mod
from tests.oracle_util import assert_matches_oracle

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert len(df.schema.fields) > 0


def test_every_query_has_callable():
    for name, fn in QUERIES.items():
        assert callable(fn), name


# Registry names that share an oracle but keep two bodies, each with
# the reason one body cannot serve both. Measured costs are sf0.1 on a
# 4-core host: pair minima over 6 reps with the exact name routed to
# its scale body.
_TWIN_BODIES = {
    frozenset({"rfm_segments", "rfm_scale"}): "range-pass form costs +0.73 s",
    frozenset({"percent_rank", "percent_rank_scale"}): "range-pass form costs +0.79 s",
    frozenset({"token_packing", "token_packing_scale"}): "range-pass form costs +0.40 s",
    frozenset({"cosine_topk", "ann_ivf_exhaustive"}): (
        "a different operator (IVF with every cell probed) checked "
        "against the brute-force answer"
    ),
}


def test_one_body_per_oracle():
    # two registry names with one oracle answer one question, so they
    # are one function object unless _TWIN_BODIES says why not
    by_sql: dict = {}
    for name, sql in ORACLES.items():
        by_sql.setdefault(sql, set()).add(name)
    twins = {
        frozenset(names)
        for names in by_sql.values()
        if len({QUERIES[n] for n in names}) > 1
    }
    extra = sorted(sorted(g) for g in twins - set(_TWIN_BODIES))
    assert not extra, f"names sharing an oracle with two bodies: {extra}"
    stale = sorted(sorted(g) for g in set(_TWIN_BODIES) - twins)
    assert not stale, f"stale _TWIN_BODIES entries: {stale}"


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    df = QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, duck, ORACLES[name])


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    # non-SQL-expressible ops: driver records a weaker rows-only check
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
