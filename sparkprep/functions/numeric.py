"""Numeric transforms — min-max normalization done in ONE Spark job.

The reference (X9, loanStat.py:241-287) runs FOUR separate
``select(max(..)).collect()`` actions (4 full jobs over the cached frame)
and then normalizes through a Python UDF closing over the scalars. Here:
one ``agg`` computes every scalar in a single pass, and the normalization
is native column arithmetic (SURVEY §4 rows 5-6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from sparkprep.checkpointing import lazy_checkpoint


def minmax_normalize(df: DataFrame, *cols: str, suffix: str = "") -> DataFrame:
    """X9 — ``(x - mn) / (mx - mn)`` as native arithmetic, with no
    driver round-trip: the scalar aggregate is cross-joined back as a
    broadcast.

    ``suffix=''`` replaces in place like the reference
    (loanStat.py:287); pass e.g. ``'_norm'`` to keep the original.
    Degenerate columns (mx == mn) normalize to null, where the
    reference UDF would raise ZeroDivisionError (documented divergence).

    NOT implemented as ``min() over ()``: an empty-frame window moves ALL
    rows to a single partition (WindowExec warns exactly this), which is
    fatal at 100 TB. ``crossJoin(broadcast(agg))`` computes the scalars
    with a normal partial+final aggregate and streams them to every task;
    the normalize itself stays a narrow, codegen'd projection.
    """
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    scalars = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(scalars))
    for c in cols:
        mn, mx = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
        # degenerate column (mx == mn) -> null; a bare division trips
        # ANSI divide-by-zero
        denom = F.when(mx != mn, mx - mn)
        out = out.withColumn(c + suffix, (F.col(c) - mn) / denom)
    return out.drop(*[f"__{p}_{c}" for c in cols for p in ("mn", "mx")])


def quantile_bucket(
    df: DataFrame,
    value_col: str,
    probs: list[float] = (0.25, 0.5, 0.75),
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Quantile bucketing WITHOUT a global window.

    The naive formulation — ``ntile(k) OVER (PARTITION BY group)`` —
    funnels every row of a group through ONE task (3 statuses over a
    100 TB orders table = 3 tasks), which is the classic WindowExec
    scale trap. Instead: exact per-group percentile cutoffs in one
    hash aggregate (tiny result — one row per group), broadcast-joined
    back, bucket assigned by a codegen'd CASE. Two narrow passes over
    the data, no row ever leaves its partition for the assignment.

    Bucket b = number of cutoffs strictly below x's ``<=`` boundary:
    x <= q[0] -> 0, q[0] < x <= q[1] -> 1, ..., x > q[-1] -> len(probs).
    Nulls -> null bucket.
    """
    out_col = out_col or f"{value_col}_bucket"
    probs = list(probs)
    cuts = [
        F.expr(f"percentile({value_col}, {p})").alias(f"__q{i}")
        for i, p in enumerate(probs)
    ]
    x = F.col(value_col)
    cases = None
    for i in range(len(probs)):
        cond = x <= F.col(f"__q{i}")
        val = F.lit(i).cast("long")
        cases = F.when(cond, val) if cases is None else cases.when(cond, val)
    cases = cases.otherwise(
        F.when(x.isNotNull(), F.lit(len(probs)).cast("long"))
    )
    drop = [f"__q{i}" for i in range(len(probs))]
    if group_col is None:
        cutoffs = df.agg(*cuts)
        joined = df.join(F.broadcast(cutoffs))
    else:
        joined = _attach_group_scalars(df, df.groupBy(group_col).agg(*cuts), group_col)
    return joined.withColumn(out_col, cases).drop(*drop)


def _attach_group_scalars(df: DataFrame, cuts: DataFrame, group_col: str) -> DataFrame:
    """Broadcast-join per-group scalar cutoffs back NULL-SAFELY: a plain
    name join is an EqualTo where NULL never matches, so NULL-group
    rows would silently VANISH from the output (not pass through, not
    clip) — groupBy made them a cutoffs row, the join must reach it."""
    renamed = cuts.withColumnRenamed(group_col, "__g")
    return df.join(
        F.broadcast(renamed), F.col(group_col).eqNullSafe(F.col("__g")), "left"
    ).drop("__g")


def iqr_outlier_report(
    df: DataFrame, key_col: str, value_col: str, k: float = 1.5, round_to: int = 4
) -> DataFrame:
    """Per-key robust outlier census: Tukey fences at
    ``q1 - k·IQR`` / ``q3 + k·IQR`` with exact interpolated quartiles.

    ONE scan, one shuffle: the quartiles are window aggregates over the
    key partition (computed once per partition by WindowExec, not per
    row), and the follow-up groupBy reuses the same hash partitioning so
    Catalyst plans no second exchange. The join-back alternative scans
    the input twice. Classification happens on the UNROUNDED bounds —
    rounding is presentation only, so the census can't flip at a fence
    that rounds across a data point. At 100 TB swap the exact
    ``percentile`` for ``percentile_approx`` (same trade documented in
    ``profile.describe_long``); fences move by the sketch's rank error
    but the scan/shuffle shape is unchanged.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col)
    q1 = F.expr(f"percentile({value_col}, 0.25)").over(w)
    q3 = F.expr(f"percentile({value_col}, 0.75)").over(w)
    bounded = df.select(
        F.col(key_col),
        F.col(value_col),
        q1.alias("__q1"),
        q3.alias("__q3"),
        (q1 - k * (q3 - q1)).alias("__lo"),
        (q3 + k * (q3 - q1)).alias("__hi"),
    )
    return (
        bounded.groupBy(key_col)
        .agg(
            F.round(F.min("__q1"), round_to).alias("q1"),
            F.round(F.min("__q3"), round_to).alias("q3"),
            F.round(F.min("__lo"), round_to).alias("lo_fence"),
            F.round(F.min("__hi"), round_to).alias("hi_fence"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(
                    (F.col(value_col) < F.col("__lo")) | (F.col(value_col) > F.col("__hi")), 1
                ).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
        .orderBy(key_col)
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    lower: float = 0.01,
    upper: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Percentile clipping (winsorization) — the robust-scaling prep
    step that stops a handful of corrupt extremes from dominating
    normalization or model fits. Same shape as :func:`quantile_bucket`:
    exact per-group [p_lower, p_upper] cutoffs in ONE hash aggregate
    (one tiny row per group), broadcast-joined back, clip applied as a
    codegen'd expression — no row leaves its partition for the clip,
    and there is no global sort. At 100 TB switch ``percentile`` →
    ``percentile_approx`` (the exact form is a per-group sort; kept
    here because the oracle checks the cutoffs exactly).

    NULL values stay NULL and NULL-GROUP rows clip against their own
    group's cutoffs (null-safe join-back — a plain equi-join would
    silently drop them). The naive ``least(greatest(x, lo), hi)``
    would CLIP NULL to the lower bound, because least/greatest skip
    NULLs in both engines (the documented landmine).
    """
    out_col = out_col or f"{value_col}_wins"
    cuts = [
        F.expr(f"percentile({value_col}, {float(lower)})").alias("__lo"),
        F.expr(f"percentile({value_col}, {float(upper)})").alias("__hi"),
    ]
    x = F.col(value_col)
    clipped = F.when(
        x.isNull(), F.lit(None).cast("double")
    ).otherwise(F.least(F.greatest(x, F.col("__lo")), F.col("__hi")))
    if group_col is None:
        joined = df.join(F.broadcast(df.agg(*cuts)))
    else:
        joined = _attach_group_scalars(
            df, df.groupBy(group_col).agg(*cuts), group_col
        )
    return joined.withColumn(out_col, clipped).drop("__lo", "__hi")


def benford_report(
    df: DataFrame, value_col: str, round_to: int = 4
) -> DataFrame:
    """Benford first-digit fraud/quality screen: for each leading
    significant digit 1-9 of the positive values, the observed share vs
    Benford's expected ``log10(1 + 1/d)`` and the signed deviation.
    Fabricated or unit-mixed numeric columns jump off this table long
    before a model notices.

    The digit comes from the DECIMAL(18,2)-cast string (both engines
    format a decimal identically — a raw double's string form does
    not); the first ``[1-9]`` match IS the first significant digit
    (sub-1 values like 0.05 lead with zeros, so the match must not be
    anchored). One
    map-combined 9-group aggregate; the total for shares is a window
    over the 9-row aggregated frame, never the data. Deviation is
    computed from the ALREADY-ROUNDED share and expectation so both
    engines subtract identical doubles.
    """
    from pyspark.sql.window import Window

    dec = df.filter(F.col(value_col) > 0).select(
        F.col(value_col).cast("decimal(18,2)").alias("__d")
    )
    # values in (0, 0.005) round to DECIMAL 0.00 — drop them BEFORE the
    # regex so the match can never come back empty (ANSI '' -> int
    # cast throws); anything left is >= 0.01 and must contain a [1-9]
    digit = F.regexp_extract(
        F.col("__d").cast("string"), r"([1-9])", 1
    ).cast("int")
    counts = (
        dec.filter(F.col("__d") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy()
    share = F.round(F.try_divide(F.col("n"), F.sum("n").over(w)), round_to)
    expected = F.round(F.log10(1 + 1 / F.col("digit")), round_to)
    return counts.select(
        "digit",
        F.col("n").cast("long").alias("n"),
        share.alias("share"),
        expected.alias("expected"),
        F.round(share - expected, round_to).alias("deviation"),
    )


def mad_scores(
    df: DataFrame,
    value_col: str,
    group_col: str,
    c: float = 0.6745,
    out_col: str = "mad_z",
    round_to: int = 4,
) -> DataFrame:
    """Robust per-group outlier scores via the median absolute
    deviation: ``c * (x - median) / MAD`` (c=0.6745 makes the score
    read like a z-score under normality). Mean/stddev z-scores
    (``grouped.grouped_zscore``) move with the outliers they hunt;
    median/MAD don't — this is the screen for corrupt extremes in a
    column whose tails are the interesting part.

    ONE exchange on the group key: both the group median and the MAD
    (median of |x - median|) are ``percentile`` window aggregates over
    the same partition — WindowExec computes each once per partition,
    and the second window reuses the first's partitioning (no second
    shuffle; same shape as ``iqr_outlier_report``). A constant column
    (all-identical group) has MAD 0 -> NULL score (``try_divide``),
    never a division error. At 100 TB swap ``percentile`` for
    ``percentile_approx`` (documented exactness trade, as in
    ``profile.describe_long``).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col)
    with_med = df.withColumn(
        "__med", F.expr(f"percentile({value_col}, 0.5)").over(w)
    )
    with_mad = with_med.withColumn(
        "__mad",
        F.expr(f"percentile(abs({value_col} - __med), 0.5)").over(w),
    )
    score = F.round(
        F.lit(c)
        * F.try_divide(
            F.col(value_col) - F.col("__med"),
            F.nullif(F.col("__mad"), F.lit(0.0)),
        ),
        round_to,
    )
    return with_mad.withColumn(out_col, score).drop("__med", "__mad")


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    ref_group: str,
    out_col: str = "qnorm",
    round_to: int = 4,
) -> DataFrame:
    """Quantile normalization: map every group's values onto the
    REFERENCE group's empirical distribution (the batch-effect
    correction used when feature scales drift across sources/sites —
    after it, every group has the reference's exact distribution
    shape, preserving only within-group order).

    Rank-based and interpolation-exact: value at within-group rank i
    of n maps to reference position i*(n_ref-1)/(n-1), linearly
    interpolated between the two bracketing reference order statistics.
    ``id_col`` breaks ties so the rank — and therefore the output — is
    layout-independent.

    Cross-engine exactness: the position splits into an INTEGER
    quotient/remainder (i*(n_ref-1) div/mod (n-1) — all int64-exact;
    the product overflows only past ~1e9-row groups, where you'd
    sample anyway) so the only float ops are one correctly-rounded
    IEEE division for the fraction and one multiply-add for the
    interpolation — bit-identical on both engines where the naive
    p*(n_ref-1) double chain drifts a ulp and flips round() at the
    boundary (observed 3/10k rows).

    Shape: ranks and group sizes come from ONE window exchange on
    ``group_col``; the ranked frame is lazily localCheckpointed because
    it feeds both the target rows and the reference lookup (different
    downstream keys — ReusedExchange can't cover them). The two
    bracketing lookups are equi-joins on the integer rank index; n_ref
    attaches as a tiny broadcast off the checkpointed frame. NULL
    values are EXCLUDED up front (Spark sorts NULL first, DuckDB last —
    ranking them would silently diverge) rather than passed through.

    Single-member groups map to the reference minimum (p pinned to 0
    — the p = i/(n-1) form would divide by zero, an ANSI job-kill).

    Scale note: exact ranks mean a per-group sort, so parallelism is
    bounded by the number of groups. At 100 TB with few huge groups,
    swap the exact rank for a percentile_approx CDF lookup against a
    few thousand reference quantiles (the approximate form of the same
    map) — kept exact here because the oracle checks the interpolation
    bit-for-bit.
    """
    from pyspark.sql.window import Window

    nn = df.filter(F.col(value_col).isNotNull()).select(
        id_col, group_col, value_col
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    wn = Window.partitionBy(group_col)
    ranked = nn.select(
        id_col,
        group_col,
        value_col,
        (F.row_number().over(w) - 1).cast("long").alias("__i"),
        F.count(F.lit(1)).over(wn).cast("long").alias("__n"),
    ).transform(lazy_checkpoint)
    ref = ranked.filter(F.col(group_col) == ref_group).select(
        F.col("__i").alias("__ridx"), F.col(value_col).alias("__rval")
    )
    n_ref = ref.agg(F.count(F.lit(1)).cast("long").alias("__n_ref"))
    num = F.col("__i") * (F.col("__n_ref") - 1)
    den = F.when(F.col("__n") > 1, F.col("__n") - 1).otherwise(F.lit(1))
    staged = (
        ranked.join(F.broadcast(n_ref))
        .withColumn("__num", num)
        .withColumn("__den", den)
        .withColumn("__lo", F.expr("__num div __den"))
        .withColumn("__rem", F.col("__num") % F.col("__den"))
        .withColumn(
            "__hi",
            F.col("__lo") + (F.col("__rem") > 0).cast("long"),
        )
        .withColumn("__frac", F.col("__rem") / F.col("__den"))
    )
    rl = ref.select(F.col("__ridx").alias("__lo"), F.col("__rval").alias("__vlo"))
    rh = ref.select(F.col("__ridx").alias("__hi"), F.col("__rval").alias("__vhi"))
    # DECIMAL(18,8) before the round: interpolations land on EXACT
    # decimal halves (2-decimal data x small-int fracs — 135.38875),
    # where Spark HALF_UPs the double's shortest decimal repr but
    # DuckDB rounds the binary product down (flips 4/10k rows). The
    # per-row double->decimal cast is engine-identical; decimal
    # rounding is exact. 0.0 + x then normalizes any -0.0.
    raw = F.col("__vlo") + F.col("__frac") * (F.col("__vhi") - F.col("__vlo"))
    mapped = F.lit(0.0) + F.round(
        raw.cast("decimal(18,8)"), round_to
    ).cast("double")
    return (
        staged.join(rl, "__lo")
        .join(rh, "__hi")
        .select(id_col, group_col, value_col, mapped.alias(out_col))
    )
