"""Structured Streaming path (SURVEY.md §7 extension).

The reference has NO streaming; its closest construct is an Airflow DAG
re-running the whole batch every 15 minutes (dag_DataproctoBQ_scheduled.py:48
``schedule_interval=timedelta(minutes=15)``). Here that becomes a real
incremental pipeline: ``readStream`` → event-time windowed aggregation
with a watermark (bounded state, late data handled) → streaming dedup
(``dropDuplicates`` within the watermark = streaming SET4) →
``foreachBatch`` sink for JDBC/parquet.

The SAME ``F.window`` expressions run in batch mode (see
queries/relational.q_events_hourly) — Spark's unified API is the point:
the batch oracle validates the streaming logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)


def _ts_encoding(path: str) -> str:
    """Probe the physical encoding of ``ts`` from the parquet footer
    (pyarrow, no Spark job). Returns the arrow unit string ('ns'/'us').

    The streaming source needs an explicit schema, and that schema must
    match the file's PHYSICAL encoding — hard-coding it is how round 2
    silently divided microseconds by 1000 when the testdata regenerated
    ns→µs. Deriving it from the footer shares the batch loader's
    contract: whatever the file stores, ``ts`` comes out TimestampType.
    """
    import glob
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if not files:
            raise FileNotFoundError(f"no parquet files under {path}")
        path = files[0]
    field = pq.read_schema(path).field("ts")
    return field.type.unit  # 'ns' | 'us' | 'ms' | 's'


def events_raw_schema(ts_unit: str) -> StructType:
    """Streaming-source schema for the events table, parameterized by
    the file's physical ts encoding: ns → LONG (legacy nanosAsLong
    read), anything else → TIMESTAMP_NTZ (parquet without tz info)."""
    ts_type = LongType() if ts_unit == "ns" else TimestampNTZType()
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet (new files under
    ``path`` are discovered per micro-batch — the production shape for
    landing-zone ingest; at scale prefer a Kafka source, same plan
    otherwise). The ts column is normalized to TimestampType exactly
    like the batch reader (``sparkprep.queries._read``), with the
    physical encoding probed from the file footer rather than assumed."""
    import os

    unit = _ts_encoding(path)
    reader = spark.readStream.schema(events_raw_schema(unit))
    if path.endswith(".parquet") and os.path.isfile(path):
        # file sources need a DIRECTORY; point at the parent and glob
        # the single file (driver testdata keeps all tables in one dir)
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    if unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = reader.parquet(path)
        # exact int64 div — same truncation as DuckDB's ns→us
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = reader.parquet(path)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_agg_stream(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding, if ``slide`` given) event-time aggregation
    with a watermark: state for a window is dropped once the watermark
    passes its end, so memory is bounded no matter how long the stream
    runs — this is what the reference's 15-minute full re-run could
    never give (it recomputed ALL history every tick)."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(
    events: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Streaming SET4: exactly-once keyed dedup within the watermark
    horizon (``dropDuplicates`` keeps per-key state until the watermark
    expires it — the streaming form of the batch window-dedup)."""
    return events.withWatermark("ts", watermark).dropDuplicates(keys + ["ts"])


def dedup_stream_within_watermark(
    events: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Streaming dedup on the BUSINESS key alone: two arrivals of the
    same key collapse even when their event times differ (retries,
    at-least-once replays with re-stamped timestamps — the case
    ``dropDuplicates(keys + [ts])`` misses because the perturbed ts
    makes the composite key unique). ``dropDuplicatesWithinWatermark``
    keeps per-key state only within the watermark horizon, so state
    stays bounded; duplicates farther apart than the watermark are out
    of contract (lengthen the watermark or reconcile downstream in
    batch)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows (dynamic gap-based) per user — state closes a
    session once the gap passes, emitting one row per session."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    CURRENT state of the static side (Spark re-plans the batch side per
    micro-batch, so a dim table refreshed between batches is picked up
    without restarting the query). With ``broadcast_dim`` the static
    side ships to executors once per batch and the stream side never
    shuffles — the only viable shape when the stream is the big side,
    which it always is. Stateless: no watermark needed for inner/left
    joins against a static frame."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return events.join(d, on, how)


def join_streams(
    left: DataFrame,
    right: DataFrame,
    on: tuple[str, str],
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermarks: tuple[str, str] = ("2 hours", "2 hours"),
    how: str = "inner",
) -> DataFrame:
    """Stream-stream time-bounded join (attribution shape): a right-side
    event matches a left-side event with the same key when it lands in
    ``[left_ts, left_ts + within]``.

    Both sides carry watermarks and the join condition bounds event time
    on BOTH sides, so Spark can expire buffered rows: left state is held
    for watermark + ``within``, right state for its watermark — bounded
    memory for an unbounded stream, the property a batch re-run (the
    reference's 15-min Airflow loop, dag_DataproctoBQ_scheduled.py:48)
    cannot provide. Caller projects distinct column names on each side;
    ``on`` is the (left_key, right_key) pair.

    ``how='left_outer'`` is supported with the same state bounds, but
    emission timing differs: matched pairs emit as they match, while
    null-padded rows for unmatched left events emit only once the
    watermark proves no match can still arrive (left_ts + within <
    watermark). Downstream consumers must tolerate that lag; the
    reconcile test pins the semantics on the finalized horizon.
    """
    l_wm, r_wm = watermarks
    cond = (
        (F.col(on[0]) == F.col(on[1]))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return left.withWatermark(left_ts, l_wm).join(
        right.withWatermark(right_ts, r_wm), cond, how
    )


def run_available_now(
    stream_df: DataFrame,
    sink_format: str = "memory",
    query_name: str = "sparkprep_stream",
    output_mode: str = "append",
    checkpoint: str | None = None,
    path: str | None = None,
    foreach_batch=None,
):
    """Drain everything currently available and stop (Trigger.AvailableNow)
    — the test/backfill harness; production would run continuously.
    Returns the finished StreamingQuery."""
    writer = stream_df.writeStream.outputMode(output_mode).trigger(availableNow=True)
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    else:
        writer = writer.format(sink_format)
        if sink_format == "memory":
            writer = writer.queryName(query_name)
        if path:
            writer = writer.option("path", path)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q


def foreach_batch_jdbc(url: str, table: str, mode: str = "append", **jdbc_opts):
    """K2 as a streaming sink: the reference's batch JDBC load becomes an
    idempotent-enough micro-batch upsert hook (foreachBatch receives
    (DataFrame, batch_id); batch_id enables exactly-once bookkeeping)."""
    from sparkprep.sources.writers import write_jdbc

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_jdbc(batch_df, url=url, table=table, mode=mode, **jdbc_opts)

    return sink


def foreach_batch_incremental_dedup(
    ref_df: DataFrame,
    text_col: str,
    id_col: str,
    out_path: str,
    est_threshold: float = 0.8,
):
    """Streaming ingest dedup: each micro-batch of arriving documents is
    near-dup-filtered against the STATIC reference corpus
    (``dedup.incremental_minhash_filter`` — new-vs-ref band join, cost
    per batch ∝ batch) and survivors append to ``out_path``. The
    reference signature frame is built once, when the sink is made, and
    every micro-batch reuses it; each batch sketches only itself.
    Batches are independent by design (batch-vs-batch dups are the
    previous batch's job once it lands in the reference index);
    production rotates the reference snapshot between epochs."""
    from sparkprep.operators import dedup

    sig_ref = dedup.minhash_signatures(ref_df, text_col, id_col)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sig_new = dedup.minhash_signatures(batch_df, text_col, id_col)
        survivors = dedup.incremental_minhash_filter(
            batch_df, sig_new, sig_ref, id_col, est_threshold=est_threshold
        )
        survivors.write.mode("append").parquet(out_path)

    return sink
