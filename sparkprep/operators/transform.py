"""Transformation operators: cast contracts, fused withColumn chains,
class filtering/balancing, sampling/splitting (SURVEY.md §2.3, §2.4,
§2.9 SET1, §2.12).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cast_contract(df: DataFrame, contract: dict[str, str | Column]) -> DataFrame:
    """P2/P3 — the 'schema hardening' step: 13 chained
    ``withColumn(c, expr.cast(T))`` at loanStat.py:218, fused into a
    single ``select`` so Catalyst sees one projection node instead of a
    13-deep withColumn tower (identical plan after optimization, but
    analysis cost is linear not quadratic — matters with 144 columns).

    ``contract`` maps column name → either a type name ('double') or a
    full replacement Column expression.
    """
    exprs = []
    for name in df.columns:
        spec = contract.get(name)
        if spec is None:
            exprs.append(F.col(name))
        elif isinstance(spec, str):
            exprs.append(F.col(name).cast(spec).alias(name))
        else:
            exprs.append(spec.alias(name))
    return df.select(*exprs)


def filter_in(df: DataFrame, col: str, values) -> DataFrame:
    """F1+SET1 rewritten — the reference unions two single-value filters
    (``filter(a=='Fully Paid').union(filter(a=='Charged Off'))``,
    loanStat.py:301), which scans the source TWICE. ``isin`` is one scan
    with one pushed-down predicate (SURVEY §4)."""
    return df.filter(F.col(col).isin(*values))


def downsample_class(
    df: DataFrame, col: str, value, fraction: float, seed: int = 42, with_replacement: bool = True
) -> DataFrame:
    """SA1 + SET1 — class balancing: sample the majority class, keep the
    rest of the target classes intact (mlpc.py:344-356:
    ``filter(FP).sample(True, 0.3, 42).union(filter(CO))``)."""
    majority = df.filter(F.col(col) == value).sample(with_replacement, fraction, seed)
    rest = df.filter(F.col(col) != value)
    return majority.union(rest)


def train_test_split(df: DataFrame, weights=(0.8, 0.2), seed: int = 42):
    """SA2 — ``randomSplit`` (mlpc.py:362 — unseeded there; we seed for
    reproducibility, SURVEY §7 'Nondeterminism quarantine')."""
    return df.randomSplit(list(weights), seed=seed)


def bucketize(df: DataFrame, col: str, splits, out_col: str | None = None, as_long: bool = True) -> DataFrame:
    """M4 — manual binning (Bucketizer(splits=[-1,0,1,2,3,4,inf]) on dti,
    mlpc.py:434-435) as a native expression: bucket i iff
    splits[i] <= x < splits[i+1] (last bucket closed on +inf), null → null.
    Native CASE keeps it codegen'd and SQL-oracle-comparable; the ml
    Bucketizer is used in the features module where a Pipeline stage is
    needed.
    """
    out_col = out_col or f"{col}_bucket"
    x = F.col(col)
    expr = F.lit(None).cast("long" if as_long else "double")
    # build CASE from last bucket backwards
    n = len(splits) - 1
    cases = None
    for i in range(n):
        lo, hi = splits[i], splits[i + 1]
        cond = (x >= F.lit(lo)) if hi == float("inf") else ((x >= F.lit(lo)) & (x < F.lit(hi)))
        val = F.lit(i).cast("long") if as_long else F.lit(float(i))
        cases = F.when(cond, val) if cases is None else cases.when(cond, val)
    expr = cases.otherwise(expr) if cases is not None else expr
    return df.withColumn(out_col, expr)


def pivot_table(
    df: DataFrame,
    group_col: str,
    pivot_col: str,
    values: list[str],
    value_col: str,
    agg_builder,
    names: dict[str, str] | None = None,
) -> DataFrame:
    """Wide pivot as ONE hash aggregate of masked-input aggregates:
    `agg_builder(CASE WHEN pivot_col = v THEN value_col END)` per value.

    Why not `groupBy().pivot()`: without explicit values it runs an extra
    distinct-scan job over the full input to discover the column set
    (capped by spark.sql.pivotMaxValues); even WITH values it compiles
    to a two-level aggregate — a pre-agg shuffled on (group, pivot) keys
    feeding a `pivotfirst` shuffled on the group key. The conditional-
    aggregation form is a single shuffle on `group_col` with map-side
    partial aggregation, and each output cell is a codegen'd CASE.

    `agg_builder` receives the masked value column (null where the row's
    pivot value differs), e.g. `lambda c: F.round(F.sum(c), 2)` — so
    counting aggregates count MATCHING rows only, same as SQL pivot.
    `names` renames output cells (raw values like `4-NOT SPECIFIED` are
    hostile to downstream SQL).
    """
    names = names or {}
    return df.groupBy(group_col).agg(
        *[
            agg_builder(
                F.when(F.col(pivot_col) == v, F.col(value_col))
            ).alias(names.get(v, v))
            for v in values
        ]
    )


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """MERGE INTO semantics (SCD-type-1 upsert) as a DataFrame
    composition: matched keys take the update row's values, unmatched
    target rows pass through, unmatched update rows insert. Spark has no
    MERGE without a table format (Delta/Iceberg); this is the engine's
    format-free equivalent.

    Plan shape: ONE full-outer join on the key + per-column coalesce
    (update side wins). The join shuffles both sides on the key — at
    100 TB prefer the update side small (broadcast) or both sides
    bucketed by the key so the shuffle disappears; MERGE in table
    formats does the same thing with extra bookkeeping. Requires
    key-unique updates (enforce upstream with dedup_exact — duplicate
    update keys would fan out matched rows, same as SQL MERGE's
    cardinality error).
    """
    value_cols = [c for c in target.columns if c not in key_cols]
    u = updates.select(
        *[F.col(c).alias(f"__u_{c}") for c in key_cols],
        *[F.col(c).alias(f"__uv_{c}") for c in value_cols],
    )
    cond = None
    for c in key_cols:
        eq = target[c] == u[f"__u_{c}"]
        cond = eq if cond is None else cond & eq
    joined = target.join(u, cond, "full_outer")
    return joined.select(
        *[
            F.coalesce(u[f"__u_{c}"], target[c]).alias(c)
            for c in key_cols
        ],
        *[
            # update row wins WHOLESALE on key match (SQL MERGE UPDATE
            # SET *) — not per-column null-coalescing: an update row's
            # null must overwrite
            F.when(u[f"__u_{key_cols[0]}"].isNotNull(), u[f"__uv_{c}"])
            .otherwise(target[c])
            .alias(c)
            for c in value_cols
        ],
    )


def merge_scd2(
    target: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    effective_col: str = "effective_ts",
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """SCD-type-2 MERGE: history-preserving upsert. A matched update
    with CHANGED values closes the current row (``valid_to`` =
    effective time, ``is_current`` = false) and opens a new current
    version; an identical update is a no-op; new keys insert as
    current; closed history passes through untouched.

    Plan shape: closed history never enters the join — only CURRENT
    rows shuffle (one full-outer join on the key), then each match
    emits its 1-or-2 output versions via explode-over-struct-array
    (the union-of-selects form would re-execute the join per branch).
    Change detection is null-safe per value column (a value going
    null IS a change). Same 100 TB posture as :func:`merge_upsert`:
    broadcast small update batches, or bucket both sides by the key.
    Requires key-unique updates, like SQL MERGE.
    """
    meta = [from_col, to_col, current_col]
    value_cols = [c for c in target.columns if c not in key_cols + meta]
    cur = target.filter(F.col(current_col))
    hist = target.filter(~F.col(current_col))
    # presence markers, NOT key null-ness: a NULL business key on either
    # side never joins, and checking key.isNotNull() would misread such
    # a row as "absent" and corrupt it into an all-NULL insert (SQL
    # MERGE's NOT-MATCHED-BY-SOURCE rows must pass through untouched)
    cur = cur.withColumn("__t_present", F.lit(True))
    u = updates.select(
        *[F.col(c).alias(f"__u_{c}") for c in key_cols],
        *[F.col(c).alias(f"__uv_{c}") for c in value_cols],
        F.col(effective_col).alias("__eff"),
        F.lit(True).alias("__u_present"),
    )
    cond = None
    for c in key_cols:
        eq = cur[c] == u[f"__u_{c}"]
        cond = eq if cond is None else cond & eq
    j = cur.join(u, cond, "full_outer")

    t_matched = cur["__t_present"].isNotNull()
    u_matched = u["__u_present"].isNotNull()
    changed = None
    for c in value_cols:
        diff = ~cur[c].eqNullSafe(u[f"__uv_{c}"])
        changed = diff if changed is None else changed | diff

    def ver(keys_from_update: bool, closed: bool, new: bool):
        fields = []
        for c in key_cols:
            fields.append((u[f"__u_{c}"] if keys_from_update else cur[c]).alias(c))
        for c in value_cols:
            fields.append((u[f"__uv_{c}"] if new else cur[c]).alias(c))
        fields.append((u["__eff"] if new else cur[from_col]).alias(from_col))
        fields.append(
            (u["__eff"] if closed else (F.lit(None).cast(cur.schema[to_col].dataType) if new else cur[to_col])).alias(to_col)
        )
        fields.append(F.lit(not closed).alias(current_col))
        return F.struct(*fields)

    out_rows = (
        F.when(t_matched & u_matched & changed, F.array(ver(False, True, False), ver(True, False, True)))
        .when(t_matched & u_matched, F.array(ver(False, False, False)))
        .when(t_matched, F.array(ver(False, False, False)))
        .otherwise(F.array(ver(True, False, True)))
    )
    exploded = j.select(F.explode(out_rows).alias("__v")).select("__v.*")
    return exploded.unionByName(hist.select(*exploded.columns))


def cdc_extract(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    op_col: str = "op",
) -> DataFrame:
    """Row-level change-data-capture between two snapshots: emits one
    record per difference — ``I`` (insert, new-side values), ``U``
    (update, new-side values), ``D`` (delete, old-side values) —
    unchanged rows are dropped. The row-level companion to the
    snapshot_diff rollup, and exactly the feed :func:`merge_upsert` /
    :func:`merge_scd2` consume downstream.

    One full-outer join on the key; presence detected via constant
    markers, not key null-ness (a NULL key never joins and must still
    classify by which side carried it). Change detection is null-safe
    per compared column. At scale, both snapshots shuffle once on the
    key — bucket both by the key to make the diff exchange-free.
    """
    compare_cols = compare_cols or [c for c in old.columns if c not in key_cols]
    o = old.select(
        *[F.col(c).alias(f"__k_{c}") for c in key_cols],
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
        F.lit(True).alias("__o_present"),
    )
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in key_cols],
        *[F.col(c).alias(f"__nv_{c}") for c in compare_cols],
        F.lit(True).alias("__n_present"),
    )
    cond = None
    for c in key_cols:
        eq = o[f"__k_{c}"] == n[f"__n_{c}"]
        cond = eq if cond is None else cond & eq
    j = o.join(n, cond, "full_outer")
    has_old = j["__o_present"].isNotNull()
    has_new = j["__n_present"].isNotNull()
    changed = None
    for c in compare_cols:
        diff = ~j[f"__o_{c}"].eqNullSafe(j[f"__nv_{c}"])
        changed = diff if changed is None else changed | diff
    op = (
        F.when(has_old & has_new & changed, F.lit("U"))
        .when(has_new & ~has_old, F.lit("I"))
        .when(has_old & ~has_new, F.lit("D"))
    )
    out_val = {
        c: F.when(has_new, j[f"__nv_{c}"]).otherwise(j[f"__o_{c}"])
        for c in compare_cols
    }
    return (
        j.withColumn(op_col, op)
        .filter(F.col(op_col).isNotNull())
        .select(
            *[
                F.coalesce(n[f"__n_{c}"], o[f"__k_{c}"]).alias(c)
                for c in key_cols
            ],
            F.col(op_col),
            *[expr.alias(c) for c, expr in out_val.items()],
        )
    )


def merge_aggregates(
    base: DataFrame,
    delta: DataFrame,
    key_cols: list[str],
    measures: "dict[str, str]",
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: fold a delta's
    per-key partial aggregates into an existing aggregate table without
    rescanning the base fact data — the mergeable-measure property
    (count/sum/min/max; derive avg as merged sum ÷ merged count
    downstream) that keeps a 100 TB rollup maintainable at the cost of
    one day's delta. Both inputs are ALREADY-AGGREGATED frames with the
    same schema (aggregate the raw delta with the identical measure
    definitions first); the merge is one full-outer join on the key —
    the only shuffle is over the two aggregate tables, which are
    orders of magnitude smaller than the facts. Exactness: counts and
    DECIMAL sums merge exactly (addition is associative); double sums
    merge to within summation-order noise — use decimal measures when
    the maintained view must equal a full recompute bit-for-bit.

    ``measures`` maps column → kind: 'sum'/'count' add (NULL on a side
    means the key is absent there → identity 0; both NULL stays NULL,
    matching what a full recompute of an all-NULL group returns);
    'min'/'max' merge via least/greatest, whose NULL-skipping is
    exactly absent-side identity here.
    """
    kinds = {"sum", "count", "min", "max"}
    bad = {c: k for c, k in measures.items() if k not in kinds}
    if bad:
        raise ValueError(f"unknown measure kinds: {bad} (want {kinds})")
    d = delta.select(
        *[F.col(k).alias(f"__d_{k}") for k in key_cols],
        *[F.col(c).alias(f"__d_{c}") for c in measures],
    )
    cond = None
    for k in key_cols:
        eq = base[k].eqNullSafe(d[f"__d_{k}"])
        cond = eq if cond is None else cond & eq
    j = base.join(d, cond, "full_outer")
    out = [
        F.coalesce(base[k], d[f"__d_{k}"]).alias(k) for k in key_cols
    ]
    for c, kind in measures.items():
        a, b = base[c], d[f"__d_{c}"]
        if kind in ("sum", "count"):
            zero = F.lit(0).cast(base.schema[c].dataType)
            merged = F.when(a.isNull() & b.isNull(), F.lit(None)).otherwise(
                F.coalesce(a, zero) + F.coalesce(b, zero)
            )
        elif kind == "min":
            merged = F.least(a, b)
        else:
            merged = F.greatest(a, b)
        out.append(merged.alias(c))
    return j.select(*out)


def runtime_filter_join(
    fact: DataFrame, dim: DataFrame, on: str | list[str], how: str = "inner"
) -> DataFrame:
    """Big-big join with an EXACT runtime key filter: broadcast the
    (already filtered) dimension's distinct join keys and semi-join them
    onto the fact BEFORE the shuffle join, so the fact's exchange
    carries only rows that can match.

    This is the hand-rolled twin of Spark's runtime bloom filter
    (``bloom_filter_agg`` isn't SQL-registered in this build and the
    Python API has no ``df.stat.bloomFilter``) — exact instead of
    approximate, correct whenever the DISTINCT KEY SET fits in a
    broadcast. That's a much weaker condition than broadcasting the
    dimension itself: keys-only, payload width irrelevant. At 100 TB a
    1%-selective dimension predicate turns the fact-side shuffle from
    full-table into 1% of it; without the filter, every fact row crosses
    the wire just to be dropped by the join.

    ``on`` must name columns present on BOTH sides (rename the dim keys
    first). The semi-join is hinted broadcast explicitly, so it holds
    even with auto-broadcast disabled; the outer join is left to the
    planner (AQE picks SMJ/broadcast by actual size)."""
    cols = [on] if isinstance(on, str) else list(on)
    keys = dim.select(*cols).distinct()
    pruned = fact.join(F.broadcast(keys), cols, "left_semi")
    return pruned.join(dim, cols, how)


def collapse_rare(
    df: DataFrame,
    cat_col: str,
    min_count: int,
    other_label: str = "OTHER",
    out_col: str | None = None,
) -> DataFrame:
    """Collapse categories observed fewer than ``min_count`` times into
    one ``other_label`` bucket — the standard long-tail guard before
    one-hot/target encoding (every tail level otherwise becomes its own
    near-empty feature, and at 100 TB the tail of a web-scale
    categorical is millions of levels).

    One map-combined groupBy to |categories| rows, NULL-safe broadcast
    join-back. NULL stays NULL — a missing value is not a rare
    category, and folding it into OTHER would silently change
    missing-data semantics downstream."""
    from sparkprep.functions.numeric import _attach_group_scalars

    out_col = out_col or f"{cat_col}_collapsed"
    counts = df.groupBy(cat_col).agg(F.count(F.lit(1)).alias("__cnt"))
    joined = _attach_group_scalars(df, counts, cat_col)
    return joined.withColumn(
        out_col,
        F.when(F.col(cat_col).isNull(), F.lit(None).cast("string"))
        .when(F.col("__cnt") >= min_count, F.col(cat_col))
        .otherwise(F.lit(other_label)),
    ).drop("__cnt")


def pareto_frontier(
    df: DataFrame, minimize_col: str, maximize_col: str
) -> DataFrame:
    """Skyline / Pareto-frontier filter: rows not DOMINATED by any
    other row, where q dominates p iff q is ≤ on ``minimize_col`` and
    ≥ on ``maximize_col`` with at least one strict inequality (the
    multi-objective "best trade-offs" query — cheapest-for-its-size
    parts, fastest-for-its-cost configs).

    Not the naive O(n²) dominance join: aggregate to one row per
    ``minimize_col`` level (max of ``maximize_col``), run a running
    max + lag over that POST-AGG frame (|distinct minimize values|
    rows — the empty-partitionBy window is safe there, never on raw
    data per CLAUDE.md), and broadcast the level frame back. p is
    dominated iff the best maximize-value at strictly-lower levels
    already reaches p's (``__best_below >= p``), or p's own level holds
    a strictly better value (``__lvl_max > p``). Ties on BOTH
    dimensions survive — neither copy strictly dominates the other —
    matching the textbook NOT EXISTS formulation.

    Cost: one map-combined groupBy + a window over the tiny level
    frame + one broadcast join — no self-join anywhere. If the
    minimize column is continuous enough that its distinct count
    rivals the row count, pre-prune with a coarse bucketized pass of
    the same operator first (frontier-of-frontiers is a superset of
    the frontier), then run this on the survivors. Null measures are
    the caller's problem: filter them first (NULL comparisons would
    silently un-dominate rows).
    """
    from pyspark.sql.window import Window

    levels = df.groupBy(minimize_col).agg(
        F.max(maximize_col).alias("__lvl_max")
    )
    w = Window.orderBy(minimize_col)
    run = F.max("__lvl_max").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lv = levels.withColumn("__run", run).withColumn(
        "__best_below", F.lag("__run").over(w)
    )
    joined = df.join(F.broadcast(lv), minimize_col)
    dominated = (F.col("__best_below") >= F.col(maximize_col)) | (
        F.col("__lvl_max") > F.col(maximize_col)
    )
    return joined.filter(~F.coalesce(dominated, F.lit(False))).drop(
        "__lvl_max", "__run", "__best_below"
    )
