"""Sketch aggregates: error-bound verification against exact answers
(the oracle the driver can't run — DuckDB's sketches differ), plus
quantization round-trip properties beyond what the oracle query sees.
"""

import pytest
from pyspark.sql import functions as F

from sparkprep.operators import quantize, sketches
from sparkprep.queries import t


def test_approx_distinct_within_rsd(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    approx = sketches.approx_distinct_counts(
        ev, ["user_id", "event_type"], rsd=0.02
    ).collect()[0]
    exact = ev.agg(
        F.countDistinct("user_id").alias("u"),
        F.countDistinct("event_type").alias("e"),
    ).collect()[0]
    # 3 sigma on the guaranteed relative standard deviation
    assert abs(approx["user_id_approx_distinct"] - exact["u"]) <= max(3, 0.06 * exact["u"])
    assert abs(approx["event_type_approx_distinct"] - exact["e"]) <= max(3, 0.06 * exact["e"])


def test_approx_quantiles_rank_error(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    vals = sorted(r[0] for r in orders.select("o_totalprice").collect())
    n = len(vals)
    approx = sketches.approx_quantiles(
        orders, "o_totalprice", (0.25, 0.5, 0.75, 0.95), accuracy=10000
    ).collect()[0]
    for p in (25, 50, 75, 95):
        got = approx[f"o_totalprice_p{p}"]
        # rank of the sketch answer must be within 1/accuracy of target
        import bisect

        lo = bisect.bisect_left(vals, got)
        hi = bisect.bisect_right(vals, got)
        target = p / 100 * n
        tol = n / 10000 + 1
        assert lo - tol <= target <= hi + tol, (p, got, lo, hi, target)


def test_frequent_items_no_false_negatives(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    res = sketches.frequent_items(ev, ["event_type"], support=0.1).collect()[0]
    found = set(res["event_type_freqItems"])
    total = ev.count()
    truly_frequent = {
        r["event_type"]
        for r in ev.groupBy("event_type")
        .count()
        .filter(F.col("count") > 0.1 * total)
        .collect()
    }
    # KPS contract: false positives allowed, false negatives are not
    assert truly_frequent <= found


def test_quantize_roundtrip_error_bound(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    stats = quantize.reconstruction_stats(emb, "embedding", levels=255)
    row = stats.agg(
        F.max("mean_abs_err").alias("worst_err"),
        F.min("cos_fidelity").alias("worst_cos"),
        F.max((F.col("q_max") - F.col("q_min")).alias("span")).alias("max_span"),
    ).collect()[0]
    # per-element error bound: span / (2 * levels)
    assert row["worst_err"] <= row["max_span"] / (2 * 255) + 1e-12
    assert row["worst_cos"] > 0.999


def test_quantize_constant_vector_exact(spark):
    df = spark.createDataFrame([(1, [2.5, 2.5, 2.5])], "id int, v array<double>")
    out = quantize.reconstruction_stats(df, "v", levels=255).collect()[0]
    assert out["codes"] == [0, 0, 0]
    assert out["mean_abs_err"] == 0.0
    # a zero vector has no direction: NULL fidelity, not an ANSI error
    zero = spark.createDataFrame([(2, [0.0, 0.0, 0.0])], "id int, v array<double>")
    out = quantize.reconstruction_stats(zero, "v", levels=255).collect()[0]
    assert out["codes"] == [0, 0, 0] and out["cos_fidelity"] is None


def test_quantize_codes_in_range(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    q = quantize.scalar_quantize(emb, "embedding", levels=255)
    bad = q.filter(
        F.exists(F.col("codes"), lambda c: (c < 0) | (c > 255))
    ).count()
    assert bad == 0


def test_cms_one_sided_bound_and_collisions(spark, sf_dir):
    from sparkprep.operators.sketches import cms_estimate

    ev = t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("uid")
    )
    out = cms_estimate(ev, "uid", depth=4, width=16).collect()
    # CMS never under-counts
    assert all(r.n_cms >= r.n_exact for r in out)
    # width 16 << key cardinality: collisions must actually occur
    assert any(r.n_cms > r.n_exact for r in out)
    # total mass conservation on the exact side
    assert sum(r.n_exact for r in out) == ev.count()


def test_cms_exact_when_width_dominates(spark):
    from sparkprep.operators.sketches import cms_estimate

    df = spark.createDataFrame(
        [(str(i % 7),) for i in range(70)], ["k"]
    )
    out = cms_estimate(df, "k", depth=4, width=4096).collect()
    # 7 keys in 4096 buckets across 4 independent rows: the min over
    # rows is collision-free with near-certainty for this fixed seed
    assert sorted((r.key, r.n_exact, r.n_cms) for r in out) == [
        (str(i), 10, 10) for i in range(7)
    ]
