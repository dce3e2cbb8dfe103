"""Distributed global ranking — the 100x-scale substitute for
``Window.orderBy(...)`` with no ``partitionBy`` (a single task sorting
the whole frame; Spark's WindowExec warns on every such plan).

VERDICT r5 flagged the entity-grain quantile queries (rfm_segments,
lorenz_curve, gini_revenue): their global ``ntile``/``row_number``
windows run over the per-CUSTOMER aggregate, which grows with the data
(hundreds of millions of rows at 100 TB) — one task sorts everything.

``global_rank`` computes the EXACT same global ``row_number`` with no
single-partition stage, via the classic two-phase range-sort:

1. ``repartitionByRange`` on the sort expressions — each partition
   holds a contiguous key range, ascending with partition id (Spark's
   RangePartitioner contract), data spread over N parallel tasks;
2. per-partition row counts → cumulative offsets (one O(N)-row frame,
   N = shuffle partitions, driver-bounded);
3. a per-PARTITION window (``partitionBy(spark_partition_id)``) local
   row_number, plus the broadcast offset = the global rank.

The ranked frame is localCheckpoint-ed between the range shuffle and
its two consumers (counts + final window) so partition ids are frozen
and the subtree runs once (the self-join/multi-consumer re-execution
landmine). Total cost: one range exchange + one pid-hash exchange +
an O(N) broadcast — every stage parallel, any scale.

``global_ntile`` derives the exact SQL ``ntile(k)`` bucket from that
rank with pure integer arithmetic (first ``n mod k`` buckets get one
extra row — the standard semantics both Spark and DuckDB implement),
so the scale form is bit-identical to the window form under the same
total ordering and shares its oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from sparkprep.checkpointing import lazy_checkpoint


def global_rank(
    df: DataFrame,
    order_exprs: list[Column],
    rank_name: str = "rank",
    total_name: str | None = None,
    num_partitions: int = 32,
) -> DataFrame:
    """Exact global ``row_number`` over ``order_exprs`` (pass sort-order
    columns, e.g. ``[F.desc("x"), F.asc("id")]`` — the ordering must be
    TOTAL, so include a tie-break key) with no single-partition sort.

    Appends ``rank_name`` (1-based BIGINT) and, when ``total_name`` is
    given, the frame's total row count on every row (free — the offsets
    frame already folds it). Rows are returned range-partitioned and
    locally sorted by ``order_exprs``.
    """
    parted = df.repartitionByRange(num_partitions, *order_exprs).withColumn(
        "__pid", F.spark_partition_id()
    )
    # frozen pids + single execution of the range shuffle for BOTH
    # consumers (the counts agg and the final per-partition window)
    parted = parted.transform(lazy_checkpoint)
    counts = parted.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c"))
    # cumulative offsets over the <= num_partitions-row counts frame:
    # the only global window in the operator, bounded O(N) post-agg
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__c").over(Window.partitionBy()).alias("__tot"),
    )
    w_local = Window.partitionBy("__pid").orderBy(*order_exprs)
    out = parted.join(F.broadcast(offsets), "__pid").withColumn(
        rank_name,
        (F.row_number().over(w_local) + F.col("__off")).cast("long"),
    )
    if total_name is not None:
        out = out.withColumn(total_name, F.col("__tot").cast("long"))
    # a caller-requested name may coincide with an internal one
    # (total_name="__tot") — drop only the internals that remain internal
    keep = {rank_name, total_name}
    return out.drop(*[c for c in ("__pid", "__off", "__tot") if c not in keep])


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
    num_partitions: int = 32,
) -> DataFrame:
    """Exact ``ntile(k) OVER (ORDER BY order_exprs)`` with no
    single-partition sort: :func:`global_rank` + integer bucket math.
    Bit-identical to the window form under the same total ordering."""
    ranked = global_rank(
        df,
        order_exprs,
        rank_name="__grk",
        total_name="__gtot",
        num_partitions=num_partitions,
    )
    return ranked.withColumn(
        bucket_name, ntile_from_rank(F.col("__grk"), F.col("__gtot"), k)
    ).drop("__grk", "__gtot")


def global_cumsum(
    df: DataFrame,
    order_exprs: list[Column],
    value_col: str,
    cum_name: str = "cum",
    total_name: str | None = None,
    num_partitions: int = 32,
) -> DataFrame:
    """Exact running total of ``value_col`` over a global TOTAL ordering
    with no single-partition sort — the distributed prefix-sum that
    unlocks weighted quantiles, exact Lorenz/ECDF curves, and
    cumulative-share bucketing at entity/fact grain.

    Same two-phase scaffold as :func:`global_rank`: range partition on
    the sort expressions, per-partition PARTIAL sums → broadcast prefix
    offsets (sum of every earlier partition's partial), per-partition
    running-sum window + offset. The value's type is preserved — feed
    an exact DECIMAL (or integer units) so the cumsum is
    order-independent and engine-exact; a double value would reorder
    summation between engines (the CLAUDE.md money-sum landmine).
    ``total_name`` attaches the grand total to every row for share /
    bucket math (free — the offsets frame already folds it).
    """
    parted = df.repartitionByRange(num_partitions, *order_exprs).withColumn(
        "__pid", F.spark_partition_id()
    )
    parted = parted.transform(lazy_checkpoint)
    partials = parted.groupBy("__pid").agg(F.sum(value_col).alias("__c"))
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = partials.select(
        "__pid",
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__c").over(Window.partitionBy()).alias("__tot"),
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = parted.join(F.broadcast(offsets), "__pid").withColumn(
        cum_name, F.sum(value_col).over(w_local) + F.col("__off")
    )
    if total_name is not None:
        out = out.withColumn(total_name, F.col("__tot"))
    keep = {cum_name, total_name}
    return out.drop(*[c for c in ("__pid", "__off", "__tot") if c not in keep])


def multi_order_global_ntile(
    df: DataFrame,
    k: int,
    layouts: dict[str, list[Column]],
    carry: list[str],
    layout_name: str = "__layout",
    bucket_name: str = "bucket",
    num_partitions: int = 32,
) -> DataFrame:
    """Exact ``ntile(k)`` under SEVERAL candidate orderings in ONE range
    pass — the layout-simulation primitive (layout_advisor, pruning_sim
    score |layouts| sort orders over the same frame; running
    :func:`global_ntile` per layout costs one sampling job + one range
    exchange + one checkpoint + one counts job PER LAYOUT — measured
    6.7s for 3 layouts at sf0.1 where this fused form runs the whole
    panel through a single :func:`grouped_global_rank`).

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
    ranked = grouped_global_rank(
        ex,
        [layout_name],
        [F.asc(f"__mk{i}") for i in range(width)],
        rank_name="__mrk",
        group_total_name="__mtot",
        num_partitions=num_partitions,
    )
    return ranked.withColumn(
        bucket_name, ntile_from_rank(F.col("__mrk"), F.col("__mtot"), k)
    ).drop("__mrk", "__mtot", *[f"__mk{i}" for i in range(width)])


def grouped_global_rank(
    df: DataFrame,
    group_cols: list[str],
    order_exprs: list[Column],
    rank_name: str = "rank",
    group_total_name: str | None = None,
    num_partitions: int = 32,
) -> DataFrame:
    """Per-GROUP exact ``row_number`` for LOW-CARDINALITY group keys —
    the case the plan audit cannot even see: ``Window.partitionBy(key)``
    over 5 distinct keys is "keyed", but each key's whole data lands in
    ONE task (5 tasks sort 100 TB). Range-partitioning on
    ``(group_cols, order_exprs)`` spreads every group over many
    partitions while keeping each partition a contiguous slice of one
    group-ordering, so the same partial-counts + broadcast-offsets
    scaffold as :func:`global_rank` yields the exact per-group rank —
    offsets and totals are computed PER (partition, group), a frame
    bounded by num_partitions + |groups| rows. ``group_total_name``
    attaches each group's row count (for percent_rank-style math).
    ``order_exprs`` must totally order rows WITHIN a group (include a
    tie-break key)."""
    gexprs = [F.asc(c) for c in group_cols]
    parted = df.repartitionByRange(
        num_partitions, *gexprs, *order_exprs
    ).withColumn("__pid", F.spark_partition_id())
    parted = parted.transform(lazy_checkpoint)
    counts = parted.groupBy("__pid", *group_cols).agg(
        F.count(F.lit(1)).alias("__c")
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__pid",
        *group_cols,
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__c").over(Window.partitionBy(*group_cols)).alias("__tot"),
    )
    w_local = Window.partitionBy("__pid", *group_cols).orderBy(*order_exprs)
    out = parted.join(
        F.broadcast(offsets), ["__pid", *group_cols]
    ).withColumn(
        rank_name,
        (F.row_number().over(w_local) + F.col("__off")).cast("long"),
    )
    if group_total_name is not None:
        out = out.withColumn(group_total_name, F.col("__tot").cast("long"))
    keep = {rank_name, group_total_name}
    return out.drop(*[c for c in ("__pid", "__off", "__tot") if c not in keep])


def grouped_global_cumsum(
    df: DataFrame,
    group_cols: list[str],
    order_exprs: list[Column],
    value_col: str,
    cum_name: str = "cum",
    num_partitions: int = 32,
) -> DataFrame:
    """Per-GROUP exact running total for LOW-CARDINALITY group keys —
    :func:`global_cumsum`'s grouped form, completing the primitive
    family (rank / ntile / cumsum × global / grouped). Range-partition
    on (group, order) spreads each group over many partitions;
    per-(partition, group) partial sums → broadcast prefix offsets →
    per-(partition, group) running-sum window + offset. Feed an exact
    type (DECIMAL / integer) — double summation would reorder between
    engines."""
    gexprs = [F.asc(c) for c in group_cols]
    parted = df.repartitionByRange(
        num_partitions, *gexprs, *order_exprs
    ).withColumn("__pid", F.spark_partition_id())
    parted = parted.transform(lazy_checkpoint)
    partials = parted.groupBy("__pid", *group_cols).agg(
        F.sum(value_col).alias("__c")
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = partials.select(
        "__pid",
        *group_cols,
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"),
    )
    w_local = (
        Window.partitionBy("__pid", *group_cols)
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = parted.join(
        F.broadcast(offsets), ["__pid", *group_cols]
    ).withColumn(cum_name, F.sum(value_col).over(w_local) + F.col("__off"))
    keep = {cum_name}
    return out.drop(*[c for c in ("__pid", "__off") if c not in keep])
