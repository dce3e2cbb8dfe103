"""Regression tests for the deep-review findings: multi-file header
accounting, chunked/out-of-order stateful updates, as-of name clashes,
LSH band validation."""

import pandas as pd
import pytest
from pyspark.sql import Row

from sparkprep.operators import dedup, temporal
from sparkprep.sources import readers


class _FakeState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_malformed_count_multi_file_headers(spark, tmp_path):
    # N header CSVs: the audit must subtract N header lines, not 1
    for i in range(3):
        (tmp_path / f"f{i}.csv").write_text("a,b\n1,2\n3,4\n")
    path = str(tmp_path)
    df = readers.read_csv(spark, path, schema="a INT, b INT")
    assert readers.malformed_drop_count(spark, path, df) == 0


class TestStatefulChunking:
    def _profile(self, chunk_lists):
        from sparkprep.streaming.stateful import _update_user_profile

        state = _FakeState()
        chunks = [
            pd.DataFrame(
                {"ts": pd.to_datetime(ts, unit="s"), "value": [1.0] * len(ts)}
            )
            for ts in chunk_lists
        ]
        out = list(_update_user_profile((7,), iter(chunks), state))
        return out[0].iloc[0]

    def test_cross_chunk_order(self):
        # one group split across two Arrow chunks, delivered out of
        # order: gaps must come from the merged sort, not per-chunk
        row = self._profile([[1000, 1010], [500, 505]])
        # sorted: 500,505,1000,1010 -> max gap 495
        assert row["max_gap_seconds"] == 495.0
        assert row["n_events"] == 4

    def test_late_event_does_not_regress_last_ts(self):
        from sparkprep.streaming.stateful import _update_user_profile

        state = _FakeState()
        def batch(ts):
            return [pd.DataFrame({"ts": pd.to_datetime(ts, unit="s"), "value": [1.0] * len(ts)})]

        list(_update_user_profile((7,), iter(batch([1000])), state))
        list(_update_user_profile((7,), iter(batch([500])), state))   # late replay
        out = list(_update_user_profile((7,), iter(batch([1010])), state))
        row = out[0].iloc[0]
        # true sorted gaps: (500->1000)=500, (1000->1010)=10; the late
        # event must NOT yield a phantom 510s gap
        assert row["max_gap_seconds"] <= 500.0

    def test_pattern_chain_across_chunks(self):
        from sparkprep.streaming.stateful import _detect_pattern_impl

        state = _FakeState()
        # click chunk delivered BEFORE view chunk: the chain must still
        # complete after the merged sort
        chunks = [
            pd.DataFrame({"ts": pd.to_datetime([2000], unit="s"), "event_type": ["click"]}),
            pd.DataFrame({"ts": pd.to_datetime([1000], unit="s"), "event_type": ["view"]}),
            pd.DataFrame({"ts": pd.to_datetime([3000], unit="s"), "event_type": ["purchase"]}),
        ]
        out = list(_detect_pattern_impl((5,), iter(chunks), state, within_sec=3600))
        assert len(out) == 1
        assert out[0].iloc[0]["duration_sec"] == 2000.0


def test_asof_join_name_clash_raises(spark):
    left = spark.createDataFrame([Row(k=1, ts=1, value=1.0)])
    right = spark.createDataFrame([Row(k=1, ts=1, value=9.0)])
    with pytest.raises(ValueError, match="collide with left columns"):
        temporal.asof_join(left, right, on="ts", by="k")


def test_lsh_bands_validation(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="a b c d")])
    sig = dedup.minhash_signatures(df, "text", "doc_id", num_hashes=16)
    with pytest.raises(ValueError, match="must divide"):
        dedup.minhash_candidate_pairs(sig, "doc_id", bands=32)
    with pytest.raises(ValueError, match="must divide"):
        dedup.minhash_candidate_pairs(sig, "doc_id", bands=5)
