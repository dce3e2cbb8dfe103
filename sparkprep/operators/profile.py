"""EDA / profiling operators (SURVEY.md §2.6 A1-A10, §2.4 F5, §2.10 N7).

Everything is expressed as ONE aggregate plan per report — the reference
runs a separate job per statistic (4 collect()s for 4 scalars,
loanStat.py:241-266; per-column null loops). At 100 TB every extra pass
is a full scan, so fusing the profile into a single job is the design
center here. All aggregates are partial-aggregatable (map-side combine),
so the shuffle carries one row per partition, not data.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def shape(df: DataFrame) -> tuple[int, int]:
    """(rows, cols) — mssql.ipynb:238,211 (`count`, `len(df.columns)`)."""
    return df.count(), len(df.columns)


def null_count_exprs(cols) -> list[Column]:
    """A8 — ``count(when(isnull(c), c)).alias(c)`` per column
    (nulls.ipynb#cell5), as reusable expressions."""
    return [F.count(F.when(F.isnull(c), True)).alias(c) for c in cols]


def null_census(df: DataFrame, cols=None) -> DataFrame:
    """A8 — one-row frame of per-column null counts, single pass."""
    cols = cols or df.columns
    return df.select(null_count_exprs(cols))


def null_census_long(df: DataFrame, cols=None) -> DataFrame:
    """Null census in long form: (column, null_count, null_frac) — easier
    to sink/alert on than the one-row-wide form when there are 144 cols.
    Still one aggregation job (the unpivot happens on the 1-row result).
    """
    cols = cols or df.columns
    wide = df.agg(
        F.count(F.lit(1)).alias("__total"), *null_count_exprs(cols)
    )
    stack = F.expr(
        "stack({n}, {args}) as (column, null_count)".format(
            n=len(cols),
            args=", ".join(f"'{c}', `{c}`" for c in cols),
        )
    )
    return wide.select(stack, F.col("__total")).select(
        "column",
        F.col("null_count").cast("long").alias("null_count"),
        # try_divide: an EMPTY table profiles as null_frac NULL instead
        # of an ANSI DIVIDE_BY_ZERO crash
        F.try_divide(F.col("null_count"), F.col("__total")).alias("null_frac"),
    )


def any_null_predicate(df: DataFrame, cols=None) -> Column:
    """F5 — OR-reduction of ``isNull`` over columns (nulls.ipynb#cell6,
    bde4.ipynb#cell26): the 'any-null row' finder."""
    cols = cols or df.columns
    return reduce(lambda a, b: a | b, (F.col(c).isNull() for c in cols))


def rows_with_nulls(df: DataFrame, cols=None) -> DataFrame:
    """F5 applied — the rows the null census is counting."""
    return df.filter(any_null_predicate(df, cols))


def freq(df: DataFrame, *cols: str, with_percent: bool = False, total: int | None = None) -> DataFrame:
    """A2/A3 — frequency table: ``groupBy(cols).count().orderBy(count desc)``
    (bde4.ipynb#cell11,31; mlpc.ipynb:1037). With ``with_percent``, adds
    ``percent = count/total`` (bde4.ipynb#cell31) without a second job
    when ``total`` is supplied (else a window-based global sum is used —
    still one shuffle).
    """
    out = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("count"))
    if with_percent:
        if total is not None:
            out = out.withColumn("percent", F.col("count") / F.lit(total))
        else:
            # Global window over the AGGREGATED frame. An empty-frame
            # window does single-partition its input — but the input
            # here is one row per group, not the data; that's cheap at
            # any scale. The alternative (crossJoin(broadcast(agg)))
            # re-executes the whole upstream subtree: the plan showed
            # TWO full scans + two exchanges of the source table.
            from pyspark.sql.window import Window

            out = out.withColumn(
                "percent", F.col("count") / F.sum("count").over(Window.partitionBy())
            )
    return out.orderBy(F.desc("count"), *[F.asc(c) for c in cols])


def describe_long(df: DataFrame, cols=None, round_to: int | None = None) -> DataFrame:
    """A7 — ``df.describe()`` semantics (count/mean/stddev/min/max per
    column; nulls.ipynb#cell4, mssql.ipynb:575) but computed as ONE
    fused aggregate and returned long-form:
    (column, count, mean, stddev, min, max) — one row per column, typed
    double instead of describe()'s all-string output.

    Only numeric columns are profiled (describe()'s string-column
    lexicographic min/max is kept in :func:`describe_compat` for golden
    parity with the reference outputs).
    """
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString() in ("double", "float", "int", "bigint", "smallint", "tinyint", "decimal")
        or f.dataType.simpleString().startswith("decimal")
    }
    cols = [c for c in (cols or df.columns) if c in numeric]
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"__cnt_{c}"),
            F.avg(c).alias(f"__avg_{c}"),
            F.stddev(c).alias(f"__std_{c}"),
            F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    stack = F.expr(
        "stack({n}, {args}) as (column, count, mean, stddev, min, max)".format(
            n=len(cols),
            args=", ".join(
                f"'{c}', `__cnt_{c}`, `__avg_{c}`, `__std_{c}`, `__min_{c}`, `__max_{c}`"
                for c in cols
            ),
        )
    )
    out = wide.select(stack)
    if round_to is not None:
        out = out.select(
            "column",
            F.col("count").cast("long").alias("count"),
            F.round("mean", round_to).alias("mean"),
            F.round("stddev", round_to).alias("stddev"),
            F.round("min", round_to).alias("min"),
            F.round("max", round_to).alias("max"),
        )
    return out


def describe_compat(df: DataFrame, *cols: str) -> DataFrame:
    """Literal ``df.describe()`` (all-string, lexicographic min/max on
    string cols — bde4.ipynb#cell16 shows min '10+ years') for golden
    compatibility with reference outputs."""
    return df.describe(*cols) if cols else df.describe()


def distinct_values(df: DataFrame, col: str) -> DataFrame:
    """A10 — ``df.select([c]).distinct()`` (mlpc.ipynb:581)."""
    return df.select(col).distinct()


def profile_delta(before: dict, after: dict) -> dict:
    """Machine-readable diff of two :func:`profile_report` outputs — the
    reference's eyeballed before/after ``describe()`` comparisons
    (mssql.ipynb:575,1524; bde4 cells 16→44) as data. Keys:
    row_delta, per-column null_count deltas, and numeric-stat deltas for
    columns present in both profiles."""
    out = {
        "row_delta": after["rows"] - before["rows"],
        "columns_added": sorted(set(after["schema"]) - set(before["schema"])),
        "columns_removed": sorted(set(before["schema"]) - set(after["schema"])),
        "null_deltas": {},
        "stat_deltas": {},
    }
    for c in set(before["null_counts"]) & set(after["null_counts"]):
        d = after["null_counts"][c] - before["null_counts"][c]
        if d:
            out["null_deltas"][c] = d
    for c in set(before["numeric_profile"]) & set(after["numeric_profile"]):
        b, a = before["numeric_profile"][c], after["numeric_profile"][c]
        deltas = {
            k: (a[k] - b[k])
            for k in ("count", "mean", "stddev", "min", "max")
            if a[k] is not None and b[k] is not None and a[k] != b[k]
        }
        if deltas:
            out["stat_deltas"][c] = deltas
    return out


def profile_report(df: DataFrame, cols=None) -> dict:
    """The reference's interactive EDA opening moves (printSchema /
    count / describe / null census) as one machine-readable dict.
    Two jobs total: shape+nulls+describe fused, plus nothing else.
    """
    cols = cols or df.columns
    stats = describe_long(df, cols).collect()
    nulls_row = df.agg(F.count(F.lit(1)).alias("__n"), *null_count_exprs(cols)).collect()[0]
    total = nulls_row["__n"]
    return {
        "rows": total,
        "columns": len(df.columns),
        "schema": {f.name: f.dataType.simpleString() for f in df.schema.fields},
        "null_counts": {c: nulls_row[c] for c in cols},
        "numeric_profile": {
            r["column"]: {
                "count": r["count"],
                "mean": r["mean"],
                "stddev": r["stddev"],
                "min": r["min"],
                "max": r["max"],
            }
            for r in stats
        },
    }


def k_anonymity_report(df: DataFrame, quasi_cols: list[str], k: int = 5) -> DataFrame:
    """Privacy-risk audit for training/release data: group by the
    quasi-identifier combination and report each equivalence class with
    its size, an ``at_risk`` flag (size < k — those rows are
    re-identifiable), and the dataset-wide ``k_level`` (the min class
    size: the k for which the dataset IS k-anonymous).

    One map-combined groupBy; the k_level window runs over the already-
    aggregated class frame (|classes| rows, not data), so the
    empty-frame window is safe here and never touches raw rows. NULL QI
    values form their own class (groupBy null-keys semantics), which is
    what a release audit wants — an all-null combo is still a cohort.
    """
    from pyspark.sql.window import Window

    classes = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("class_size"))
    w = Window.partitionBy()
    return classes.select(
        *quasi_cols,
        F.col("class_size").cast("long").alias("class_size"),
        (F.col("class_size") < F.lit(k)).alias("at_risk"),
        F.min("class_size").over(w).cast("long").alias("k_level"),
    )


def mutual_information(
    df: DataFrame, col_a: str, col_b: str, round_to: int = 4
) -> DataFrame:
    """Mutual information between two categorical columns (the EDA
    dependence measure chi-square dashboards want): ONE data-sized
    exchange (the joint groupBy); margins, the grand total, and both
    entropies all come from windows over the AGGREGATED |a|·|b| frame
    (H(a) = -Σ_xy p_xy·ln p_x since Σ_y p_xy = p_x — no second scan).
    Returns one row: (mi, h_a, h_b, nmi) with nmi = MI/√(H(a)·H(b)).

    Cross-engine determinism: each ln term is rounded at 6 then summed
    as DECIMAL(18,6) (order-independent, the PSI/decayed-agg
    convention: libm ln differs in the last ulp between engines and
    double summation is order-dependent); outputs rounded at
    ``round_to``. ``try_divide`` guards the constant-column case
    (entropy 0 → NMI null, not DIVIDE_BY_ZERO)."""
    from pyspark.sql.window import Window

    joint = df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("__c"))
    w_all = Window.partitionBy()
    w_a = Window.partitionBy(col_a)
    w_b = Window.partitionBy(col_b)
    tot = F.sum("__c").over(w_all).cast("double")
    pxy = F.col("__c").cast("double") / tot
    px = F.sum("__c").over(w_a).cast("double") / tot
    py = F.sum("__c").over(w_b).cast("double") / tot

    def term(x):
        return F.round(x, 6).cast("decimal(18,6)")

    terms = joint.select(
        term(pxy * F.log(pxy / (px * py))).alias("__mi"),
        term(pxy * F.log(px)).alias("__ha"),
        term(pxy * F.log(py)).alias("__hb"),
    )
    agg = terms.agg(
        F.sum("__mi").cast("double").alias("__smi"),
        (-F.sum("__ha")).cast("double").alias("__sha"),
        (-F.sum("__hb")).cast("double").alias("__shb"),
    )
    return agg.select(
        F.round("__smi", round_to).alias("mi"),
        F.round("__sha", round_to).alias("h_a"),
        F.round("__shb", round_to).alias("h_b"),
        F.round(
            F.try_divide(F.col("__smi"), F.sqrt(F.col("__sha") * F.col("__shb"))),
            round_to,
        ).alias("nmi"),
    )


def fd_audit(
    df: DataFrame, dependencies: list[tuple[str, str]]
) -> DataFrame:
    """Functional-dependency audit (schema discovery / key inference):
    for each candidate ``a -> b``, how many determinant values map to
    more than one dependent value. ``holds`` = zero violations —
    candidate keys, denormalization safety, and "is this column
    derivable" all read off this table.

    One scan for ALL candidates: each row explodes to one
    (dependency, a, b) term per candidate (explode-over-struct — a
    per-pair groupBy would rescan the table k times), then two keyed
    exchanges: distinct dependents per (dep, a) via the two-phase
    count_distinct, and the violation rollup per dep. Values compare
    as strings so heterogeneous column types share one schema; NULL
    determinants are excluded (SQL FD semantics — NULL keys determine
    nothing), NULL dependents count as a distinct value.
    """
    terms = F.array(
        *[
            F.struct(
                F.lit(f"{a}->{b}").alias("dep"),
                F.col(a).cast("string").alias("a"),
                F.col(b).cast("string").alias("b"),
            )
            for a, b in dependencies
        ]
    )
    exploded = (
        df.select(F.explode(terms).alias("t"))
        .select("t.dep", "t.a", "t.b")
        .filter(F.col("a").isNotNull())
    )
    per_det = exploded.groupBy("dep", "a").agg(
        F.count_distinct("b").alias("__nb"),
        F.sum(F.col("b").isNull().cast("long")).alias("__null_b"),
    )
    nb = F.col("__nb") + (F.col("__null_b") > 0).cast("long")
    return (
        per_det.select("dep", "a", nb.alias("__vals"))
        .groupBy("dep")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum((F.col("__vals") > 1).cast("long")).alias("n_violating"),
        )
        .select(
            F.col("dep").alias("dependency"),
            "n_groups",
            "n_violating",
            (F.col("n_violating") == 0).alias("holds"),
        )
    )


def null_pattern_census(df: DataFrame, cols: list[str]) -> DataFrame:
    """Missing-data PATTERN census — which columns go null TOGETHER:
    one map-combined groupBy on the per-row null bitmask (a '0'/'1'
    character per column, in ``cols`` order), with each pattern's row
    count and share. The co-occurrence view null_census's per-column
    marginals can't show (MCAR vs systematic missingness looks
    identical in marginals). The share window runs over the ≤2^k-row
    pattern frame only.
    """
    from pyspark.sql.window import Window

    pattern = F.concat(
        *[
            F.when(F.col(c).isNull(), F.lit("1")).otherwise(F.lit("0"))
            for c in cols
        ]
    )
    counts = df.groupBy(pattern.alias("pattern")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    w = Window.partitionBy()
    return counts.select(
        "pattern",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(
            F.try_divide(
                F.col("n_rows").cast("double"),
                F.sum("n_rows").over(w).cast("double"),
            ),
            6,
        ).alias("share"),
    )
