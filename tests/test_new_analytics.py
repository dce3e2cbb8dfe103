"""Semantics the driver oracle can't see for the round-3 analytics ops:
RANGE-frame inclusivity/exclusivity at exact boundaries, Tukey-fence
classification on planted outliers (plus the one-exchange plan shape),
and keep-best dedup tie-breaking/determinism on planted groups.
"""

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sparkprep.functions import numeric
from sparkprep.operators import clean, temporal


def _ts(minute, second=0):
    return datetime.datetime(2024, 1, 1, 10, minute, second)


class TestRollingTimeAgg:
    def test_window_membership_at_boundaries(self, spark):
        # u1: events at 10:00, 10:30, 11:00, 11:00:01.
        # Closed frame [ts-1h, ts]: the 11:00 row still sees 10:00
        # (exactly one hour earlier); the 11:00:01 row no longer does.
        rows = [
            Row(event_id=1, user_id=1, ts=_ts(0), value=10.0),
            Row(event_id=2, user_id=1, ts=_ts(30), value=20.0),
            Row(event_id=3, user_id=1, ts=datetime.datetime(2024, 1, 1, 11, 0), value=30.0),
            Row(event_id=4, user_id=1, ts=datetime.datetime(2024, 1, 1, 11, 0, 1), value=40.0),
            Row(event_id=5, user_id=2, ts=_ts(15), value=99.0),
        ]
        out = temporal.rolling_time_agg(
            spark.createDataFrame(rows), "ts", "user_id", "value", window="1 hour"
        )
        got = {r.event_id: (r.value_roll_avg, r.n_in_window) for r in out.collect()}
        assert got[1] == (10.0, 1)
        assert got[2] == (15.0, 2)          # 10:00 + 10:30
        assert got[3] == (20.0, 3)          # inclusive lower bound: all three
        assert got[4] == (30.0, 3)          # 10:00 aged out, 10:30..11:00:01 remain
        assert got[5] == (99.0, 1)          # other key isolated

    def test_ties_share_frame(self, spark):
        # Two events at the identical timestamp are RANGE peers: each
        # sees the other (a ROWS frame would order them arbitrarily).
        rows = [
            Row(event_id=1, user_id=1, ts=_ts(0), value=10.0),
            Row(event_id=2, user_id=1, ts=_ts(0), value=30.0),
        ]
        out = temporal.rolling_time_agg(
            spark.createDataFrame(rows), "ts", "user_id", "value", window="1 hour"
        )
        assert {(r.value_roll_avg, r.n_in_window) for r in out.collect()} == {(20.0, 2)}


class TestIqrOutliers:
    def test_planted_outliers(self, spark):
        # 11 values 0..10 per key: q1=2.5, q3=7.5, IQR=5 -> fences
        # [-5, 15]. Plant 100.0 (out) and 14.9 (in, near the fence).
        base = [Row(k="a", v=float(i)) for i in range(11)]
        planted = [Row(k="a", v=100.0), Row(k="a", v=14.9)]
        df = spark.createDataFrame(base + planted)
        r = numeric.iqr_outlier_report(df, "k", "v").collect()[0]
        assert r.n == 13
        assert r.n_outliers == 1
        assert abs(r.lo_fence - (-5.6875)) < 1e-9 or r.lo_fence < r.q1  # fences below q1
        assert r.hi_fence > r.q3

    def test_nulls_ignored_by_quartiles_counted_in_n(self, spark):
        df = spark.createDataFrame(
            [Row(k="a", v=float(i)) for i in range(11)] + [Row(k="a", v=None)]
        )
        r = numeric.iqr_outlier_report(df, "k", "v").collect()[0]
        assert r.n == 12            # count(*) includes the null row
        assert r.n_outliers == 0    # null is not classified as an outlier
        assert abs(r.q1 - 2.5) < 1e-9 and abs(r.q3 - 7.5) < 1e-9

    def test_single_exchange_plan(self, spark):
        # Window quartiles + rollup share one hash partitioning: the
        # groupBy must not re-shuffle what the window already keyed.
        df = spark.createDataFrame([Row(k="a", v=1.0), Row(k="b", v=2.0)])
        plan = numeric.iqr_outlier_report(df, "k", "v")._jdf.queryExecution().executedPlan().toString()
        # one exchange for the window/groupBy key; orderBy adds a range
        # exchange over the tiny aggregated frame only
        assert plan.count("Exchange hashpartitioning") == 1


class TestKeepBestDedup:
    def test_best_wins_with_tiebreak(self, spark):
        rows = [
            Row(id=1, key="g1", q=5.0),
            Row(id=2, key="g1", q=9.0),   # winner: highest quality
            Row(id=3, key="g1", q=9.0),   # same quality, higher id loses
            Row(id=4, key="g2", q=1.0),   # singleton group
        ]
        out = clean.dedup_keep_best(spark.createDataFrame(rows), "key", "q", "id")
        got = {r.key: (r.id, r.dup_count) for r in out.collect()}
        assert got == {"g1": (2, 3), "g2": (4, 1)}

    def test_deterministic_across_runs(self, spark):
        rows = [Row(id=i, key=f"g{i % 7}", q=float(i % 3)) for i in range(200)]
        df = spark.createDataFrame(rows).repartition(8)
        a = sorted((r.key, r.id) for r in clean.dedup_keep_best(df, "key", "q", "id").collect())
        b = sorted((r.key, r.id) for r in clean.dedup_keep_best(df, "key", "q", "id").collect())
        assert a == b
        # winner per group is max-q then min-id, independent of layout
        expect = {}
        for r in rows:
            cur = expect.get(r.key)
            if cur is None or (r.q, -r.id) > (cur[0], -cur[1]):
                expect[r.key] = (r.q, r.id)
        assert dict(a) == {k: v[1] for k, v in expect.items()}


class TestQualityClassifier:
    @pytest.fixture(autouse=True)
    def _poison_observation_manager(self, spark):
        """Deterministically initialize the session's lazy
        ObservationManager before each test: a fitted model that still
        carries its training summary then fails EVERY ``transform`` with
        ``NotSerializableException: ObservationManager`` (the summary
        pins the session; the manager field is non-serializable once
        non-null). Without this the bug only reproduced when the
        Observation-API tests happened to run first in the suite —
        ``features.strip_training_summary`` is the fix under test."""
        from pyspark.sql import Observation

        o = Observation()
        spark.createDataFrame([Row(x=1)]).observe(
            o, F.count(F.lit(1)).alias("n")
        ).collect()

    def test_fit_separates_planted_labels(self, spark):
        from sparkprep.operators import features as ft

        # separable: good docs have high alpha_ratio & stop_hits
        rows = [
            Row(alpha_ratio=0.9 + (i % 5) * 0.01, stop_hits=5.0 + i % 3, label=1.0)
            for i in range(60)
        ] + [
            Row(alpha_ratio=0.2 + (i % 5) * 0.01, stop_hits=0.0 + i % 2, label=0.0)
            for i in range(60)
        ]
        df = spark.createDataFrame(rows)
        model = ft.fit_quality_classifier(df, ["alpha_ratio", "stop_hits"])
        scored = model.transform(df)
        acc = scored.filter(F.col("prediction") == F.col("label")).count() / df.count()
        assert acc >= 0.95

    def test_distilled_expr_matches_mllib_probability(self, spark):
        from sparkprep.operators import features as ft

        rows = [
            Row(alpha_ratio=float(i % 10) / 10, stop_hits=float(i % 7), label=float(i % 2))
            for i in range(100)
        ]
        df = spark.createDataFrame(rows)
        cols = ["alpha_ratio", "stop_hits"]
        model = ft.fit_quality_classifier(df, cols)
        from pyspark.ml.functions import vector_to_array

        mllib = model.transform(df).select(
            "alpha_ratio", "stop_hits",
            vector_to_array("probability")[1].alias("p_mllib"),
        )
        native = mllib.withColumn("p_native", ft.lr_scoring_expr(model, cols))
        bad = native.filter(F.abs(F.col("p_mllib") - F.col("p_native")) > 1e-9).count()
        assert bad == 0


class TestMergeScd2:
    def _target(self, spark):
        import datetime as dt

        rows = [
            # key 1: has closed history + a current row
            Row(k=1, v="a", valid_from=dt.date(2023, 1, 1), valid_to=dt.date(2024, 1, 1), is_current=False),
            Row(k=1, v="b", valid_from=dt.date(2024, 1, 1), valid_to=None, is_current=True),
            Row(k=2, v="x", valid_from=dt.date(2024, 1, 1), valid_to=None, is_current=True),
            Row(k=3, v=None, valid_from=dt.date(2024, 1, 1), valid_to=None, is_current=True),
        ]
        from pyspark.sql.types import (
            BooleanType, DateType, LongType, StringType, StructField, StructType,
        )

        schema = StructType([
            StructField("k", LongType()), StructField("v", StringType()),
            StructField("valid_from", DateType()), StructField("valid_to", DateType()),
            StructField("is_current", BooleanType()),
        ])
        return spark.createDataFrame(rows, schema)

    def test_change_noop_insert_history(self, spark):
        import datetime as dt

        from sparkprep.operators import transform as tr

        eff = dt.date(2024, 6, 1)
        updates = spark.createDataFrame(
            [
                Row(k=1, v="c", effective_ts=eff),     # changed -> close + open
                Row(k=2, v="x", effective_ts=eff),     # identical -> no-op
                Row(k=3, v="now", effective_ts=eff),   # null -> value IS a change
                Row(k=9, v="new", effective_ts=eff),   # brand-new key
            ]
        )
        out = tr.merge_scd2(self._target(spark), updates, key_cols=["k"]).collect()
        by = {}
        for r in out:
            by.setdefault(r.k, []).append(r)
        # key 1: closed 2023 history untouched + closed 'b' + current 'c'
        k1 = sorted(by[1], key=lambda r: (str(r.valid_from), str(r.v)))
        assert [(r.v, r.is_current, r.valid_to) for r in k1] == [
            ("a", False, dt.date(2024, 1, 1)),
            ("b", False, eff),
            ("c", True, None),
        ]
        # key 2: exactly one row, still current, untouched window
        assert [(r.v, r.is_current, r.valid_from, r.valid_to) for r in by[2]] == [
            ("x", True, dt.date(2024, 1, 1), None)
        ]
        # key 3: null -> 'now' is a CHANGE (null-safe compare)
        assert {(r.v, r.is_current) for r in by[3]} == {(None, False), ("now", True)}
        # key 9: inserted current with effective window
        assert [(r.v, r.is_current, r.valid_from, r.valid_to) for r in by[9]] == [
            ("new", True, eff, None)
        ]


def test_rotation_safety_net_reads_driver_verdicts():
    # the auto-promotion glob must actually find the repo-root
    # CORRECTNESS files (a dirname-depth bug once made it a no-op) and
    # leave no unverified query outside the driver's first-50 window
    import os

    from sparkprep.queries import _driver_verified_names, registry

    seen = _driver_verified_names()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if any(f.startswith("CORRECTNESS_r") for f in os.listdir(root)):
        assert seen, "driver verdict files exist but none were read"
    q = list(registry()[0])
    overflow = [n for n in q[50:] if n not in seen]
    if overflow:
        # more never-verified queries than window slots is legal ONLY
        # when every slot is itself spent on a never-verified query —
        # a verified query occupying a slot while one waits outside
        # means the rotation is broken
        wasted = [n for n in q[:50] if n in seen]
        assert not wasted, (
            f"verified {wasted} hold window slots while {overflow} wait"
        )


# the registry's module-merge order (sparkprep.queries.registry)
_MERGE_ORDER = (
    "textops", "llmprep", "temporal_grouped", "relational_ext", "cleaning",
    "relational", "scale_ops", "corpus", "governance", "advanced", "stat_tests",
)


@pytest.mark.parametrize("verdicts", ["recorded", "partial"])
def test_registry_order_fresh_then_stale_first(monkeypatch, verdicts):
    # the driver's adjudication window reads registry() order: names no
    # CORRECTNESS_r*.json has recorded come first in module-merge order,
    # then the rest by ascending last-verified round, ties in
    # module-merge order. "partial" forgets every third name and spreads
    # the others over three rounds, so both halves of the rule are hit.
    import importlib

    import sparkprep.queries as queries_pkg

    merged: dict = {}
    for mod in _MERGE_ORDER:
        merged.update(importlib.import_module(f"sparkprep.queries.{mod}").QUERIES)
    last = queries_pkg._last_verified_round()
    if verdicts == "partial":
        last = {n: 1 + i % 3 for i, n in enumerate(merged) if i % 3}
        monkeypatch.setattr(queries_pkg, "_last_verified_round", lambda: last)
    fresh = [n for n in merged if n not in last]
    stale = sorted((n for n in merged if n in last), key=last.__getitem__)
    assert list(queries_pkg.registry()[0]) == fresh + stale


class TestScd2NullKey:
    def test_null_keyed_target_row_passes_through(self, spark):
        # a NULL business key never joins; MERGE's NOT-MATCHED-BY-SOURCE
        # contract says it must pass through UNTOUCHED (a key-null
        # presence check once corrupted it into an all-NULL insert)
        import datetime as dt

        from pyspark.sql.types import (
            BooleanType, DateType, LongType, StringType, StructField, StructType,
        )

        from sparkprep.operators import transform as tr

        schema = StructType([
            StructField("k", LongType()), StructField("v", StringType()),
            StructField("valid_from", DateType()), StructField("valid_to", DateType()),
            StructField("is_current", BooleanType()),
        ])
        target = spark.createDataFrame(
            [Row(k=None, v="orphan", valid_from=dt.date(2024, 1, 1), valid_to=None, is_current=True)],
            schema,
        )
        updates = spark.createDataFrame(
            [Row(k=7, v="new", effective_ts=dt.date(2024, 6, 1))]
        )
        out = sorted(tr.merge_scd2(target, updates, key_cols=["k"]).collect(),
                     key=lambda r: str(r.k))
        assert [(r.k, r.v, r.is_current) for r in out] == [
            (7, "new", True), (None, "orphan", True),
        ]


class TestCdcExtract:
    def test_feed_classification(self, spark):
        from sparkprep.operators import transform as tr

        old = spark.createDataFrame(
            [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c"), Row(k=4, v=None)]
        )
        new = spark.createDataFrame(
            [Row(k=1, v="a"),          # unchanged -> dropped
             Row(k=2, v="B"),          # updated
             Row(k=4, v="now"),        # null -> value: null-safe change
             Row(k=5, v="fresh")]      # inserted
        )
        feed = tr.cdc_extract(old, new, key_cols=["k"])
        got = {r.k: (r.op, r.v) for r in feed.collect()}
        assert got == {2: ("U", "B"), 3: ("D", "c"), 4: ("U", "now"), 5: ("I", "fresh")}

    def test_apply_feed_reproduces_new_snapshot(self, spark):
        # the closure property: old + cdc_extract(old, new) == new,
        # applied with the same MERGE operators the feed is shaped for
        from pyspark.sql import functions as SF

        from sparkprep.operators import transform as tr

        old = spark.createDataFrame(
            [Row(k=i, v=f"v{i}") for i in range(30)]
        )
        new = spark.createDataFrame(
            [Row(k=i, v=(f"v{i}" if i % 3 else f"V{i}")) for i in range(5, 35)]
        )
        feed = tr.cdc_extract(old, new, key_cols=["k"])
        upserts = feed.filter(SF.col("op") != "D").drop("op")
        deletes = feed.filter(SF.col("op") == "D").select("k")
        rebuilt = tr.merge_upsert(old, upserts, key_cols=["k"]).join(
            deletes, "k", "left_anti"
        )
        assert sorted(map(tuple, rebuilt.collect())) == sorted(map(tuple, new.collect()))
