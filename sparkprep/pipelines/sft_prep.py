"""SFT training-set preparation — the instruction-tuning sibling of
``corpus_prep``: an event log in, chat-template JSONL shards out,
composed entirely from first-class engine operators:

    message render (map-only) → conversation assembly
    (text.chat_assemble: one groupBy, per-key cost bounded by that
    conversation's length) → gate (turn/char bounds — a degenerate
    1-turn "conversation" or a context-window-busting transcript never
    reaches the trainer) → deterministic shard/order
    (mix.training_order: md5, engine-replayable) → JSONL shards.

At 100 TB of events this chain is 2 data-sized shuffles (the assembly
groupBy and the shard exchange); the gate runs over the already
conversation-sized frame. The run report carries the funnel accounting
(rows in, conversations kept/dropped and why).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkprep.operators import mix
from sparkprep.operators import text as tx
from sparkprep.plans import Pipeline
from sparkprep.sources.writers import write_jsonl


def _assemble(
    df: DataFrame, key_col: str, order_cols: list[str], msg_col: str
) -> DataFrame:
    return tx.chat_assemble(df, key_col, order_cols, msg_col)


def _gate(
    df: DataFrame, min_turns: int, max_chars: int
) -> DataFrame:
    # both signals already exist on the assembled frame (n_turns) or are
    # one cheap length() — map-only, fused with the assembly output
    return df.filter(
        (F.col("n_turns") >= min_turns)
        & (F.length("conversation") <= max_chars)
    )


def sft_prep_pipeline(
    key_col: str,
    order_cols: list[str],
    msg_col: str,
    min_turns: int = 2,
    max_chars: int = 100_000,
    count_rows: bool = False,
) -> Pipeline:
    return (
        Pipeline()
        .add(
            "assemble",
            lambda d: _assemble(d, key_col, order_cols, msg_col),
            count_rows,
        )
        .add(
            "turn_char_gate",
            lambda d: _gate(d, min_turns, max_chars),
            count_rows,
        )
    )


def prepare_sft_set(
    spark: SparkSession,
    events: DataFrame,
    out_dir: str,
    key_col: str = "user_id",
    order_cols: list[str] | None = None,
    msg_col: str = "msg",
    num_shards: int = 8,
    salt: str = "",
    min_turns: int = 2,
    max_chars: int = 100_000,
    count_rows: bool = True,
) -> dict:
    """End-to-end SFT prep: assemble → gate → deterministic (shard, pos)
    order → JSONL shards under ``out_dir``. Returns a manifest with the
    per-step funnel and shard layout. Fully deterministic: same events +
    salt → identical shards. The step row counts are observed on the
    shard write (``Pipeline.run_observed``): no job per counted step."""
    order_cols = order_cols or ["ts", "event_id"]
    total = events.count() if count_rows else None
    kept, finish = sft_prep_pipeline(
        key_col, order_cols, msg_col, min_turns, max_chars, count_rows
    ).run_observed(events)
    order = mix.training_order(kept, key_col, num_shards=num_shards, salt=salt)
    ordered = kept.join(order, key_col)
    # one hive directory per shard — the corpus_prep layout rationale
    # (hash repartition collides small distinct shard sets; range
    # partitioning merges sparse ones) applies unchanged
    write_jsonl(
        ordered.repartition(num_shards, "shard").sortWithinPartitions(
            "shard", "pos"
        ),
        out_dir,
        compression=None,
        partition_by=["shard"],
    )
    return {
        "events_in": total,
        "steps": finish().as_rows(),
        "out_dir": out_dir,
        "num_shards": num_shards,
        "salt": salt,
    }
