"""Streaming corpus ingestion: documents arriving as files flow through
the SAME quality-gate and dedup expressions as the batch pipeline
(pipelines/corpus_prep) — Spark's unified API means the batch oracle
validates the streaming logic, exactly like streaming/events.

Stages:
- the Gopher gate is a stateless map, so it runs on the stream as-is;
- near-dedup against the existing corpus is per-micro-batch via
  ``foreachBatch`` + ``dedup.incremental_minhash_filter``
  (``events.foreach_batch_incremental_dedup``): the reference corpus's
  MinHash signature frame is built once, when the sink is made, and
  each batch sketches only itself, so cost ∝ batch — the only sane
  shape for a 100 TB reference corpus (stateful stream-internal dedup
  would hold corpus-sized state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a documents directory. Schema is pinned
    (streams must never infer), and ``maxFilesPerTrigger`` bounds
    micro-batch size so one trigger never bites off more than the
    cluster chews."""
    import os

    r = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if path.endswith(".parquet") and os.path.isfile(path):
        # file sources need a DIRECTORY; point at the parent and glob
        # the single file (same pattern as events.read_events_stream)
        r = r.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return r.parquet(path)


def gated_stream(
    stream: DataFrame, required_stopwords: list[str] | None = None
) -> DataFrame:
    """Quality gate on the stream — stateless map, identical expressions
    to the batch gate (text.gopher_quality_flags)."""
    from sparkprep.operators.text import gopher_quality_flags

    signals = [
        "n_words", "mean_word_len", "symbol_ratio", "bullet_ratio",
        "ellipsis_ratio", "alpha_ratio", "stop_hits", "pass",
    ]
    flagged = gopher_quality_flags(
        stream, "text", required_stopwords=required_stopwords
    )
    return flagged.filter(F.col("pass")).drop(*signals)
