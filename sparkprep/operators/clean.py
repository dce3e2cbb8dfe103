"""Cleaning operators: null handling (N1-N7), duplicate detection/removal
with audit (W1/W2, SET2-SET4, A4), and the declarative validator+repair
(X5-X7/F6) — SURVEY.md §2.7, §2.9, §2.10 and EP2.

Scale notes:
- The reference's dedup (dedup.ipynb:2156-2166) windows over ALL 22
  columns with ``orderBy('loan_amnt')`` — a full-width shuffle + sort per
  partition. We keep that form for audit parity (`dedup_window`) but also
  provide `dedup_exact` (groupBy-based, no sort, map-side partial agg)
  which is what you run at 100 TB when you don't need per-row occur_ids.
- The validator generates native `when(rlike)` expressions from a rule
  table (the most engine-like artifact in the corpus,
  dedup+invalid.ipynb:9322,9588) — all rules evaluate in ONE pass.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from sparkprep.checkpointing import lazy_checkpoint

# ---------------------------------------------------------------------------
# Null handling (N1-N5; N6 imputation lives in impute())
# ---------------------------------------------------------------------------


def drop_nulls(df: DataFrame, how: str = "any", subset=None, thresh: int | None = None) -> DataFrame:
    """N1/N2/N3 — ``df.dropna('all'|'any'[, subset])``
    (nulls.ipynb#cell7-8, loanStat.py:143)."""
    return df.na.drop(how=how, thresh=thresh, subset=subset)


def fill_nulls(df: DataFrame, value, subset=None) -> DataFrame:
    """N4 — ``df.fillna(v[, cols])`` / dict form (nulls.ipynb#cell10-12).

    Coercion divergence from the reference era: on Spark 3.1.2 a STRING
    fill value was silently IGNORED for numeric columns (so the
    reference's ``fillna({'WeekInMonth': '2'})`` was a no-op); Spark 4
    casts parseable numeric strings and applies them. We follow current
    Spark semantics (verified in tests) rather than emulating the 3.1
    quirk.
    """
    return df.na.fill(value, subset)


def impute(
    df: DataFrame,
    cols,
    strategy: str = "mean",
    fit_filter=None,
    relative_error: float = 1e-4,
) -> DataFrame:
    """N5/N6 — mean/median imputation, fit on an optional sub-population
    and applied globally (nulls.ipynb#cell13-15 fits the median on
    ``Store == 'Store 1'`` only; bde4.ipynb#cell43 mean-imputes from a
    precomputed scalar).

    All fill scalars are computed in ONE aggregate job (vs. one
    ``collect()`` per column in the reference), then applied with
    ``coalesce`` — no Python UDF, no ml.Imputer model object needed.
    Median uses ``percentile_approx`` (single-pass sketch; exact
    percentile at 100 TB is a full sort — never do that).
    """
    if isinstance(cols, str):
        cols = [cols]
    fit_df = df.filter(fit_filter) if fit_filter is not None else df
    if strategy == "mean":
        aggs = [F.avg(c).alias(c) for c in cols]
    elif strategy == "median":
        aggs = [F.percentile_approx(c, 0.5, int(1.0 / relative_error)).alias(c) for c in cols]
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    scalars = fit_df.agg(*aggs).collect()[0].asDict()
    out = df
    for c in cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(scalars[c])))
    return out


# ---------------------------------------------------------------------------
# Duplicates (SET2-SET4, W1/W2, A4 conservation)
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, subset=None) -> DataFrame:
    """SET2/SET3 — ``distinct()`` / ``drop_duplicates()``
    (dedup.ipynb:8944, dropdup.ipynb#cell4). Hash-aggregate based:
    map-side partial dedup before the shuffle, no sort. This is the
    100 TB-safe form."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def add_occurrence_id(
    df: DataFrame, keys=None, order_by=None, occur_col: str = "occur_id"
) -> DataFrame:
    """W1/W2 — occurrence numbering:
    ``row_number().over(Window.partitionBy(keys).orderBy(order_by))``
    (dedup.ipynb:2156-2166 over all 22 cols; dupwin.ipynb#cell3 per-key).

    Reference quirk kept: ordering by a column constant within the
    partition (they order by 'loan_amnt' while partitioning by all
    columns) makes row IDENTITY nondeterministic but COUNTS deterministic
    — tests must compare multisets, not row order (SURVEY §7).
    """
    keys = keys or df.columns
    order_by = order_by if order_by is not None else keys[0]
    if isinstance(order_by, str):
        order_by = [order_by]
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn(occur_col, F.row_number().over(w))


def dup_audit(df: DataFrame, keys=None, order_by=None) -> DataFrame:
    """The dedup audit trail (dedup.ipynb:2208-2271): histogram of
    occurrence ids — ``groupBy(occur_id).count()``. Row conservation
    (``sum(count) == total``, A4) is checkable downstream; see
    :func:`conservation_check`."""
    withid = add_occurrence_id(df, keys, order_by)
    return withid.groupBy("occur_id").agg(F.count(F.lit(1)).alias("count")).orderBy("occur_id")


def conservation_check(audit_df: DataFrame, expected_total: int) -> bool:
    """A4 — ``agg(sum('count')) == df.count()`` (dedup.ipynb:2230-2271)."""
    got = audit_df.agg(F.sum("count").alias("s")).collect()[0]["s"]
    return got == expected_total


def dedup_window(
    df: DataFrame, keys=None, order_by=None, keep_occurrences: int = 1
) -> DataFrame:
    """SET4 — keep-first dedup via occur_id ≤ k (dedup.ipynb:8904).
    Reference outcome on LoanStats: 1,432,466 → 1,142,104 rows.

    Use when you need the audit trail / keep-k semantics; use
    :func:`dedup_exact` when you don't (cheaper: no per-partition sort).
    """
    return (
        add_occurrence_id(df, keys, order_by)
        .filter(F.col("occur_id") <= keep_occurrences)
        .drop("occur_id")
    )


# ---------------------------------------------------------------------------
# Validator + repair (EP2's rule table — dedup+invalid.ipynb:9322,9588-9628)
# ---------------------------------------------------------------------------


@dataclass
class Rule:
    """One validity rule: column + label + Java regex (F6 ``rlike``).

    Reference rule-table rows look like ``('int_rate', 'int_rate_label',
    r'\\d+.\\d+%')`` (dedup+invalid.ipynb:9322-9323). Keep regexes in the
    Java/POSIX-shared subset if DuckDB-oracle parity matters (SURVEY §7).
    """

    column: str
    regex: str
    label: str | None = None

    @property
    def label_col(self) -> str:
        return self.label or f"{self.column}_validity"


@dataclass
class ValidationReport:
    """Machine-readable validator output (the reference eyeballed
    ``groupBy(label).count().show()`` — we return the numbers)."""

    total: int
    counts: dict[str, dict[str, int]] = field(default_factory=dict)  # col -> {valid,invalid,null}

    def is_clean(self) -> bool:
        return all(v.get("invalid", 0) == 0 for v in self.counts.values())


class Validator:
    """X7/F6 — data-driven validity labeling.

    ``labeled = v.apply(df)`` adds one ``when(rlike, 'valid')
    .otherwise('invalid')`` label column per rule (nulls label 'null' —
    rlike on null yields null, which the reference's ``otherwise``
    silently lumped into 'invalid'; we keep a distinct bucket and fold it
    into invalid in counts for parity).

    ``v.report(df)`` computes every rule's valid/invalid/null counts in
    ONE aggregate pass over the data — the reference loops rule-by-rule,
    one job per rule (dedup+invalid.ipynb:9588-9607).
    """

    def __init__(self, rules: list[Rule]):
        self.rules = rules

    def apply(self, df: DataFrame) -> DataFrame:
        out = df
        for r in self.rules:
            col = F.col(r.column)
            out = out.withColumn(
                r.label_col,
                F.when(col.isNull(), F.lit("invalid"))
                .when(col.rlike(r.regex), F.lit("valid"))
                .otherwise(F.lit("invalid")),
            )
        return out

    def report_df(self, df: DataFrame) -> DataFrame:
        """Long-form validity counts as a DataFrame:
        (col_name, valid, invalid) — ONE aggregate pass for all rules,
        vs. the reference's one job per rule (dedup+invalid.ipynb:9588).
        Nulls count as invalid (matching the reference's ``otherwise``).
        """
        aggs = [F.count(F.lit(1)).alias("__total")]
        for i, r in enumerate(self.rules):
            aggs.append(
                F.count(F.when(F.col(r.column).rlike(r.regex), True)).alias(f"__valid_{i}")
            )
        wide = df.agg(*aggs)
        stack = F.expr(
            "stack({n}, {args}) as (col_name, valid)".format(
                n=len(self.rules),
                args=", ".join(
                    f"'{r.column}', `__valid_{i}`" for i, r in enumerate(self.rules)
                ),
            )
        )
        return wide.select(stack, F.col("__total")).select(
            "col_name",
            F.col("valid").cast("long").alias("valid"),
            (F.col("__total") - F.col("valid")).cast("long").alias("invalid"),
        )

    def report(self, df: DataFrame) -> ValidationReport:
        aggs = [F.count(F.lit(1)).alias("__total")]
        for i, r in enumerate(self.rules):
            col = F.col(r.column)
            aggs.append(
                F.count(F.when(col.rlike(r.regex), True)).alias(f"__valid_{i}")
            )
            aggs.append(F.count(F.when(col.isNull(), True)).alias(f"__null_{i}"))
        row = df.agg(*aggs).collect()[0]
        rep = ValidationReport(total=row["__total"])
        for i, r in enumerate(self.rules):
            valid = row[f"__valid_{i}"]
            nulls = row[f"__null_{i}"]
            rep.counts[r.column] = {
                "valid": valid,
                "invalid": rep.total - valid,
                "null": nulls,
            }
        return rep


def repair_percent_column(df: DataFrame, col: str) -> DataFrame:
    """X5 repair — ``regexp_replace(c,'%','')`` then double cast
    (dedup+invalid.ipynb:9624)."""
    return df.withColumn(col, F.regexp_replace(F.col(col), "%", "").cast("double"))


def dedup_keep_best(
    df: DataFrame, keys, quality_col: str, tiebreak_col: str, dup_count_col: str = "dup_count"
) -> DataFrame:
    """Keep-BEST dedup: one canonical row per key group, chosen by
    highest ``quality_col`` (ties broken deterministically by ascending
    ``tiebreak_col``), annotated with the group size.

    :func:`dedup_window` keeps the first *occurrence* — fine when rows
    are interchangeable; corpus canonicalization wants the best
    *version* (longest text, highest quality score). Same physical
    shape either way: one shuffle on the keys, one per-partition sort,
    ``row_number`` + a group-frame ``count`` sharing the single
    WindowExec partitioning. Deterministic given a total tiebreak —
    never order by quality alone.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    w = Window.partitionBy(*keys).orderBy(F.col(quality_col).desc(), F.col(tiebreak_col).asc())
    wg = Window.partitionBy(*keys)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .withColumn(dup_count_col, F.count(F.lit(1)).over(wg).cast("long"))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def impute_mode(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Categorical imputation by the (per-group) MODE — the
    string-column sibling of :func:`impute`'s mean/median: NULLs fill
    with the most frequent non-NULL value of their group. The mode is
    DETERMINISTIC (count desc, value asc tiebreak) — never the
    engine's arbitrary ``mode()`` pick, which is layout-dependent on
    ties and would flake every oracle and rerun.

    One map-combined (group, value) count; the per-group argmax is a
    row_number over the AGGREGATED count frame (|groups x values|
    rows, never data); fills join back broadcast and NULL-SAFELY on
    the group key (a plain equi-join silently drops NULL-group rows —
    the numeric._attach_group_scalars lesson). A group whose values
    are ALL NULL has no mode and keeps its NULLs — imputation invents
    no categories.
    """
    out_col = out_col or col
    groups = list(group_cols or [])
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(*groups, F.col(col).alias("__v"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    w = Window.partitionBy(*[F.col(g) for g in groups]).orderBy(
        F.desc("__n"), F.asc("__v")
    )
    modes = (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*groups, F.col("__v").alias("__mode"))
    )
    if groups:
        cond = None
        renamed = modes
        for g in groups:
            renamed = renamed.withColumnRenamed(g, f"__g_{g}")
            c = F.col(g).eqNullSafe(F.col(f"__g_{g}"))
            cond = c if cond is None else cond & c
        joined = df.join(F.broadcast(renamed), cond, "left").drop(
            *[f"__g_{g}" for g in groups]
        )
    else:
        # left join on TRUE, not a cross join: an all-NULL column yields an
        # EMPTY modes frame, and a cross join with an empty frame would drop
        # every input row — the contract says all-NULL keeps its NULLs
        joined = df.join(F.broadcast(modes), F.lit(True), "left")
    return joined.withColumn(
        out_col, F.coalesce(F.col(col), F.col("__mode"))
    ).drop("__mode")


def fd_repair(
    df: DataFrame,
    key_col: str,
    value_col: str,
    repaired_name: str = "repaired",
) -> DataFrame:
    """Majority-vote repair of a SHOULD-BE-functional dependency
    key → value (the fix for what profile.fd_audit detects in a
    denormalized table): every row's value is replaced by its key's
    MODAL value, ties broken by the smallest value — deterministic,
    engine-portable, no RNG. One map-combined (key, value) count, a
    keyed row_number over that aggregated frame (per-key group size =
    the key's distinct corrupted values, bounded by corruption
    multiplicity, never raw rows), and one shuffle LEFT join back on
    the key (entity-grain — never broadcast at scale; left, so
    NULL-key rows survive with a NULL repair instead of silently
    dropping). NULL values never win the vote: they are excluded from
    the modal frame, and the tie-break is ``asc_nulls_last`` (Spark
    sorts NULLs first under plain ``asc``, DuckDB last — a latent
    oracle divergence if a NULL ever reached a count tie). A key whose
    values are ALL NULL gets a NULL repair. Keys where the corruption
    OUTVOTES the truth stay wrong — majority repair is honest about
    that; report residuals, don't hide them.
    """
    from pyspark.sql.window import Window

    # df anchors two consumers (the count fold and the join-back) —
    # truncate lineage or the upstream subtree executes twice
    df = df.transform(lazy_checkpoint)
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(key_col, value_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy(key_col).orderBy(
        F.desc("__c"), F.asc_nulls_last(value_col)
    )
    modal = (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(key_col, F.col(value_col).alias(repaired_name))
    )
    return df.join(modal, [key_col], "left")
