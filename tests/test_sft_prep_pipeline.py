"""End-to-end SFT prep pipeline: funnel monotonicity, gate semantics,
deterministic replay, shard layout, chat-template integrity."""

import glob
import json
import os

from pyspark.sql import functions as F

from sparkprep.pipelines.sft_prep import prepare_sft_set


def _events(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        F.concat("event_type", F.lit("|"), "props").alias("msg"),
    )


def test_sft_prep_funnel_shards_and_template(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    out = str(tmp_path / "sft")
    manifest = prepare_sft_set(spark, ev, out, num_shards=4, min_turns=2)
    steps = {s["step"]: s["rows_out"] for s in manifest["steps"]}
    # funnel: conversations <= events; gate only removes
    assert manifest["events_in"] >= steps["assemble"] >= steps["turn_char_gate"]
    shard_dirs = sorted(glob.glob(os.path.join(out, "shard=*")))
    assert 1 <= len(shard_dirs) <= 4
    rows = []
    for path in glob.glob(os.path.join(out, "shard=*", "*.json")):
        with open(path) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    assert len(rows) == steps["turn_char_gate"]
    for r in rows:
        # gate held
        assert r["n_turns"] >= 2
        # template integrity: starts with the user role, turn count
        # matches the rendered markers
        assert r["conversation"].startswith("<|user|>")
        assert r["conversation"].count("<|") == r["n_turns"]


def test_sft_prep_deterministic_replay(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    a = prepare_sft_set(spark, ev, str(tmp_path / "a"), num_shards=2)
    b = prepare_sft_set(spark, ev, str(tmp_path / "b"), num_shards=2)

    def read(out):
        rows = []
        for path in glob.glob(os.path.join(out, "shard=*", "*.json")):
            shard = os.path.basename(os.path.dirname(path)).split("=")[1]
            with open(path) as fh:
                rows.extend(
                    (shard, json.loads(line)["user_id"],
                     json.loads(line)["conversation"])
                    for line in fh if line.strip()
                )
        return sorted(rows)

    assert read(a["out_dir"]) == read(b["out_dir"])


def test_sft_gate_drops_short_and_huge(spark):
    from sparkprep.pipelines.sft_prep import sft_prep_pipeline

    rows = (
        [(1, i, f"m{i}") for i in range(4)]       # 4 turns, small: kept
        + [(2, 0, "only")]                          # 1 turn: dropped
        + [(3, 0, "x" * 300), (3, 1, "y" * 300)]    # 2 turns, huge: dropped
    )
    df = spark.createDataFrame(rows, ["user_id", "pos", "msg"])
    pipe = sft_prep_pipeline(
        "user_id", ["pos"], "msg", min_turns=2, max_chars=200,
        count_rows=True,
    )
    kept, finish = pipe.run_observed(df)
    assert [r.user_id for r in kept.collect()] == [1]
    steps = {s["step"]: s["rows_out"] for s in finish().as_rows()}
    assert steps["assemble"] == 3 and steps["turn_char_gate"] == 1
