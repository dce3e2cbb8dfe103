"""End-to-end corpus-prep pipeline: funnel monotonicity, dedup
idempotence, deterministic replay, shard layout."""

import glob
import json
import os

from pyspark.sql import functions as F

from sparkprep.pipelines.corpus_prep import prepare_training_corpus


def _docs(spark, sf_dir):
    base = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # plant exact dups (id+50000) and near-dups (id+60000, first word
    # dropped) so both dedup stages have real work
    exact = base.select(
        (F.col("doc_id") + 50000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = base.select(
        (F.col("doc_id") + 60000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+ ", "").alias("text"),
        "lang", "source", "n_chars",
    )
    return base.unionByName(exact).unionByName(near)


def test_corpus_prep_funnel_and_shards(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "corpus")
    manifest = prepare_training_corpus(spark, docs, out, num_shards=4)
    steps = {s["step"]: s["rows_out"] for s in manifest["steps"]}
    assert manifest["rows_in"] >= steps["gopher_gate"] >= steps["exact_dedup"] >= steps["near_dedup"]
    # planted exact dups must be gone: every kept text unique
    assert steps["exact_dedup"] == steps["gopher_gate"] - _count_dup_texts_expected(spark, docs)
    shard_dirs = sorted(glob.glob(os.path.join(out, "shard=*")))
    assert len(shard_dirs) == 4
    # output rows = near_dedup survivors; shard comes back as a hive
    # partition column, pos/text from the lines
    rows = []
    for d in shard_dirs:
        for p in glob.glob(os.path.join(d, "part-*")):
            rows.extend(json.loads(line) for line in open(p))
    assert len(rows) == steps["near_dedup"]
    assert all("pos" in r and "text" in r for r in rows)
    back = spark.read.json(out)
    assert back.count() == steps["near_dedup"]
    assert back.select("shard").distinct().count() == 4


def _count_dup_texts_expected(spark, docs):
    from sparkprep.operators.text import EN_STOPWORDS, gopher_quality_flags

    gated = gopher_quality_flags(
        docs, "text", required_stopwords=EN_STOPWORDS
    ).filter(F.col("pass"))
    return (
        gated.groupBy("text").count().filter(F.col("count") > 1)
        .agg(F.sum(F.col("count") - 1)).collect()[0][0] or 0
    )


def test_corpus_prep_deterministic_replay(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir).limit(300)
    a = prepare_training_corpus(spark, docs, str(tmp_path / "a"), num_shards=2)
    b = prepare_training_corpus(spark, docs, str(tmp_path / "b"), num_shards=2)
    la = sorted(
        line
        for p in glob.glob(str(tmp_path / "a" / "shard=*" / "part-*"))
        for line in open(p)
    )
    lb = sorted(
        line
        for p in glob.glob(str(tmp_path / "b" / "shard=*" / "part-*"))
        for line in open(p)
    )
    assert la == lb and len(la) > 0


def test_observed_funnel_matches_counted_funnel(spark, sf_dir):
    # one-pass Observation accounting == the N-job count() accounting
    from sparkprep.pipelines.corpus_prep import corpus_prep_pipeline
    from sparkprep.queries import t as load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pipe_counted = corpus_prep_pipeline(count_rows=True)
    _, counted = pipe_counted.run(docs)

    pipe_obs = corpus_prep_pipeline(count_rows=True)
    out, finish = pipe_obs.run_observed(docs)
    out.write.format("noop").mode("overwrite").save()   # ONE action
    observed = finish()

    got = {s.name: s.rows_out for s in observed.steps}
    want = {s.name: s.rows_out for s in counted.steps}
    assert got == want and len(got) == 3
