"""LLM training-corpus preparation — the north-star extension pipeline,
composed entirely from the engine's first-class operators (the same ones
the driver oracle-checks individually):

    quality gate (Gopher rules) → exact dedup (keep-min-id) →
    MinHash-LSH near-dedup → deterministic shard/order → JSONL shards

Every stage is a shuffle-disciplined DataFrame op:
- the gate is map-only over the scan;
- exact dedup is one hash-partitioned window on md5(text);
- near-dedup is the banded-LSH equi-join (never all-pairs);
- ordering is per-shard (parallelism == num_shards, no global sort);
- the sink writes one file per shard.

At 100 TB this chain is 4 shuffles total (dedup window, LSH bands,
near-dup anti-join, shard exchange) — each keyed, each AQE-sized,
none driver-bound. The run report carries the funnel accounting the
reference only ever printed (mssql.ipynb:770-895 timing prints,
dedup.ipynb:2230 conservation counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkprep.operators import dedup, mix, text
from sparkprep.plans import Pipeline
from sparkprep.sources.writers import write_jsonl


def _gate(df: DataFrame) -> DataFrame:
    # EN stopword set: the rule list matching this corpus (see the
    # operator docstring — the canonical Gopher list is a constant
    # reject on non-English-web text)
    flagged = text.gopher_quality_flags(
        df, "text", required_stopwords=text.EN_STOPWORDS
    )
    # filter on the one boolean, then drop signal columns: the predicate
    # references only `pass`, so Catalyst keeps the cheap gate fused with
    # the scan and prunes the unused signal expressions
    signals = [
        "n_words", "mean_word_len", "symbol_ratio", "bullet_ratio",
        "ellipsis_ratio", "alpha_ratio", "stop_hits", "pass",
    ]
    return flagged.filter(F.col("pass")).drop(*signals)


def _exact_dedup(df: DataFrame, id_col: str) -> DataFrame:
    w = Window.partitionBy(F.md5("text")).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def corpus_prep_pipeline(
    id_col: str = "doc_id",
    est_threshold: float = 0.8,
    count_rows: bool = False,
) -> Pipeline:
    return (
        Pipeline()
        .add("gopher_gate", _gate, count_rows)
        .add("exact_dedup", lambda d: _exact_dedup(d, id_col), count_rows)
        .add(
            "near_dedup",
            lambda d: dedup.minhash_dedup(
                d, "text", id_col, est_threshold=est_threshold
            ),
            count_rows,
        )
    )


def prepare_training_corpus(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    num_shards: int = 8,
    salt: str = "",
    est_threshold: float = 0.8,
    count_rows: bool = True,
) -> dict:
    """End-to-end corpus prep: gate → dedup chain → deterministic
    (shard, pos) order → JSONL shards under ``out_dir``. Returns a
    manifest with the per-step funnel (rows in/out, seconds) and the
    shard layout. Fully deterministic: same corpus + salt → identical
    shards, any engine can replay the keep/drop decisions. The step
    row counts are observed on the shard write
    (``Pipeline.run_observed``), so the funnel adds no job per step."""
    total = docs.count() if count_rows else None
    kept, finish = corpus_prep_pipeline(
        id_col, est_threshold, count_rows
    ).run_observed(docs)
    order = mix.training_order(kept, id_col, num_shards=num_shards, salt=salt)
    ordered = kept.join(order, id_col)
    # hive-style shard directories (shard=K/part-*): hash repartition
    # collides distinct shard ids into one partition and range
    # partitioning's sampler merges small shards (both measured) — the
    # writer's partitionBy is the only layout that guarantees one
    # directory per shard, scales to 400k shards, and lets any reader
    # prune to a shard subset. Rows inside each shard file are
    # pos-ordered.
    write_jsonl(
        ordered.repartition(num_shards, "shard").sortWithinPartitions("shard", "pos"),
        out_dir,
        compression=None,
        partition_by=["shard"],
    )
    return {
        "rows_in": total,
        "steps": finish().as_rows(),
        "out_dir": out_dir,
        "num_shards": num_shards,
        "salt": salt,
    }
