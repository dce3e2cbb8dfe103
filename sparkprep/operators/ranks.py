"""Distributed global ranking — the 100x-scale substitute for
``Window.orderBy(...)`` with no ``partitionBy`` (a single task sorting
the whole frame; Spark's WindowExec warns on every such plan).

VERDICT r5 flagged the entity-grain quantile queries (rfm_segments,
lorenz_curve, gini_revenue): their global ``ntile``/``row_number``
windows run over the per-CUSTOMER aggregate, which grows with the data
(hundreds of millions of rows at 100 TB) — one task sorts everything.

Every operator here is a projection over ONE scaffold,
:func:`range_prefix`, the classic two-phase range-sort:

1. ``repartitionByRange`` on the (group, sort) expressions — each
   partition holds a contiguous key range, ascending with partition id
   (Spark's RangePartitioner contract), data spread over
   ``_RANGE_PARTITIONS`` parallel tasks;
2. per-(partition, group) row counts and value sums → prefix offsets
   (one O(partitions + groups)-row frame, broadcast);
3. a per-PARTITION window (``partitionBy(spark_partition_id)``) local
   row_number / running sum, plus the broadcast offset = the exact
   per-group rank / cumsum.

The ranged frame is lazily localCheckpoint-ed between the range
shuffle and its two consumers (partials + final window) so partition
ids are frozen and the subtree runs once (the self-join/multi-consumer
re-execution landmine). Total cost: one range exchange + one pid-hash
exchange + an O(partitions) broadcast — every stage parallel, any
scale. ``group_cols`` covers LOW-CARDINALITY window keys too:
``Window.partitionBy(key)`` over 5 distinct keys sorts each key's whole
data in ONE task, while the range pass spreads every group over many
partitions.

``global_ntile`` derives the exact SQL ``ntile(k)`` bucket from that
rank with pure integer arithmetic (first ``n mod k`` buckets get one
extra row — the standard semantics both Spark and DuckDB implement),
so the scale form is bit-identical to the window form under the same
total ordering and shares its oracle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from sparkprep.checkpointing import lazy_checkpoint

_RANGE_PARTITIONS = 32


def range_prefix(
    df: DataFrame,
    order_exprs: list[Column],
    group_cols: Sequence[str] = (),
    value_col: str | None = None,
) -> DataFrame:
    """One range pass over ``df`` ordered by ``order_exprs`` within each
    ``group_cols`` group (no groups = the whole frame). The ordering must
    be TOTAL within a group, so include a tie-break key.

    Appends ``__rank`` (exact per-group row_number, BIGINT) and ``__n``
    (group row count); with ``value_col`` also ``__cum`` (exact running
    sum, value type kept) and ``__tot`` (group sum). Feed an exact value
    type (DECIMAL or integer units) — a double sum would reorder between
    engines (the CLAUDE.md money-sum landmine). Rows come back
    range-partitioned and locally sorted by (group, order)."""
    keys = ["__pid", *group_cols]
    parted = (
        df.repartitionByRange(
            _RANGE_PARTITIONS, *[F.asc(c) for c in group_cols], *order_exprs
        )
        .withColumn("__pid", F.spark_partition_id())
        .transform(lazy_checkpoint)
    )
    parts = [F.count(F.lit(1)).alias("__pc")]
    if value_col is not None:
        parts.append(F.sum(value_col).alias("__pv"))
    partials = parted.groupBy(*keys).agg(*parts)
    # prefix offsets over the <= partitions x groups partials frame:
    # the only group-wide window in the pass, bounded post-aggregate
    w_grp = Window.partitionBy(*group_cols)
    w_off = w_grp.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = [
        F.coalesce(F.sum("__pc").over(w_off), F.lit(0)).alias("__oc"),
        F.sum("__pc").over(w_grp).alias("__n"),
    ]
    if value_col is not None:
        offsets += [
            F.coalesce(F.sum("__pv").over(w_off), F.lit(0)).alias("__ov"),
            F.sum("__pv").over(w_grp).alias("__tot"),
        ]
    w_loc = Window.partitionBy(*keys).orderBy(*order_exprs)
    out = parted.join(F.broadcast(partials.select(*keys, *offsets)), keys)
    cols = [
        *df.columns,
        (F.row_number().over(w_loc) + F.col("__oc"))
        .cast("long")
        .alias("__rank"),
        F.col("__n"),
    ]
    if value_col is not None:
        w_cum = w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cols += [
            (F.sum(value_col).over(w_cum) + F.col("__ov")).alias("__cum"),
            F.col("__tot"),
        ]
    return out.select(*cols)


def global_rank(
    df: DataFrame,
    order_exprs: list[Column],
    rank_name: str = "rank",
    total_name: str | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact ``row_number`` over ``order_exprs`` (pass sort-order
    columns, e.g. ``[F.desc("x"), F.asc("id")]`` — the ordering must be
    TOTAL, so include a tie-break key) with no single-partition sort,
    per ``group_cols`` group when given.

    Appends ``rank_name`` (1-based BIGINT) and, when ``total_name`` is
    given, the group's row count on every row (free — the offsets
    frame already folds it). Either name may equal an internal one."""
    cols = [*df.columns, F.col("__rank").alias(rank_name)]
    if total_name is not None:
        cols.append(F.col("__n").alias(total_name))
    return range_prefix(df, order_exprs, group_cols).select(*cols)


def _idiv(a: Column, b: Column) -> Column:
    """Exact floor division for non-negative longs without a named-column
    ``div``: ``a - a % b`` is exactly divisible by ``b``, both sides are
    exact as doubles (< 2^53), and IEEE division returning a representable
    integer is exact — so the quotient is bit-exact, unlike
    ``floor(a / b)`` whose raw quotient can misround at the 2^53 edge."""
    return ((a - a % b) / b).cast("long")


def ntile_from_rank(rank: Column, total: Column, k: int) -> Column:
    """Exact SQL ``ntile(k)`` bucket from a 1-based global rank and the
    total row count — pure integer arithmetic, engine-identical: with
    q = n div k and r = n mod k, the first r buckets hold q+1 rows.
    (The q=0 division in the second branch is unreachable — rank is
    always <= r*(q+1) = n when q = 0 — and CASE branches evaluate
    lazily per-row, so ANSI mode cannot throw on it.)"""
    n = total.cast("long")
    kk = F.lit(k).cast("long")
    q = _idiv(n, kk)
    r = n % kk
    big = r * (q + 1)
    return (
        F.when(rank <= big, _idiv(rank - 1, q + 1) + 1)
        .otherwise(r + _idiv(rank - big - 1, q) + 1)
        .cast("long")
    )


def global_ntile(
    df: DataFrame,
    k: int,
    order_exprs: list[Column],
    bucket_name: str = "bucket",
) -> DataFrame:
    """Exact ``ntile(k) OVER (ORDER BY order_exprs)`` with no
    single-partition sort: :func:`range_prefix` + integer bucket math.
    Bit-identical to the window form under the same total ordering."""
    return range_prefix(df, order_exprs).select(
        *df.columns,
        ntile_from_rank(F.col("__rank"), F.col("__n"), k).alias(bucket_name),
    )


def global_cumsum(
    df: DataFrame,
    order_exprs: list[Column],
    value_col: str,
    cum_name: str = "cum",
    total_name: str | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact running total of ``value_col`` over a TOTAL ordering with
    no single-partition sort, per ``group_cols`` group when given — the
    distributed prefix-sum that unlocks weighted quantiles, exact
    Lorenz/ECDF curves, and cumulative-share bucketing at entity/fact
    grain.

    The value's type is preserved — feed an exact DECIMAL (or integer
    units) so the cumsum is order-independent and engine-exact.
    ``total_name`` attaches the group's total to every row for share /
    bucket math (free — the offsets frame already folds it). Either
    name may equal an internal one.
    """
    cols = [*df.columns, F.col("__cum").alias(cum_name)]
    if total_name is not None:
        cols.append(F.col("__tot").alias(total_name))
    return range_prefix(df, order_exprs, group_cols, value_col).select(*cols)


def multi_order_global_ntile(
    df: DataFrame,
    k: int,
    layouts: dict[str, list[Column]],
    carry: list[str],
    layout_name: str = "__layout",
    bucket_name: str = "bucket",
) -> DataFrame:
    """Exact ``ntile(k)`` under SEVERAL candidate orderings in ONE range
    pass — the layout-simulation primitive (layout_advisor, pruning_sim
    score |layouts| sort orders over the same frame; running
    :func:`global_ntile` per layout costs one sampling job + one range
    exchange + one checkpoint + one counts job PER LAYOUT — measured
    6.7s for 3 layouts at sf0.1 where this fused form runs the whole
    panel through a single :func:`range_prefix` grouped by layout).

    ``layouts``: name -> equal-width list of NUMERIC sort columns, all
    ascending (cast to long internally, which also aligns struct slot
    types across layouts — pad shorter key lists with ``F.lit(0)`` at a
    slot where every layout's preceding keys already totally order its
    rows). Each input row explodes into |layouts| (name, keys) rows, so
    the one exchange carries |layouts| x rows of keys only — at 100 TB
    this shuffles a few longs per row per layout, never the payload.
    ``carry``: column names to keep alongside (zone-map stat columns).
    Bit-identical per layout to ``ntile(k) OVER (ORDER BY keys)`` — the
    grouped rank is exact and :func:`ntile_from_rank` is pure integer
    math, so callers keep their window-form oracles.
    """
    widths = {len(v) for v in layouts.values()}
    if len(widths) != 1:
        raise ValueError(f"layout key lists must share one width, got {widths}")
    width = widths.pop()
    structs = [
        F.struct(
            F.lit(name).alias("__mlname"),
            *[c.cast("long").alias(f"__mk{i}") for i, c in enumerate(keys)],
        )
        for name, keys in layouts.items()
    ]
    ex = df.select(F.explode(F.array(*structs)).alias("__ml"), *carry).select(
        F.col("__ml.__mlname").alias(layout_name),
        *[F.col(f"__ml.__mk{i}").alias(f"__mk{i}") for i in range(width)],
        *carry,
    )
    ranked = range_prefix(
        ex, [F.asc(f"__mk{i}") for i in range(width)], [layout_name]
    )
    return ranked.select(
        layout_name,
        *carry,
        ntile_from_rank(F.col("__rank"), F.col("__n"), k).alias(bucket_name),
    )
