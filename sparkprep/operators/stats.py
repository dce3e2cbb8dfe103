"""Inferential statistics with exact cross-engine arithmetic: one-way
ANOVA F, Spearman rank correlation, and the rank-based nonparametric
tests (Mann-Whitney U, Kruskal-Wallis H) built on the same
value-frequency rank table.

Both follow the repo's decimal-sum discipline (CLAUDE.md): every
order-sensitive accumulation happens in exact DECIMAL on per-row-cast
values, so the only float operations are a handful of IEEE ops on
deterministic inputs at the very end — the same contract that keeps
autocorr/chi_square hash-identical across engines.

Neither operator ever sorts raw data: ANOVA is one map-combined
groupBy + a one-row fold over the k-group frame; Spearman derives
average ranks FROM THE VALUE-FREQUENCY TABLE (2·rank_avg(v) =
2·cum_count(≤v) − count(v) + 1 — an integer), so the ranking window
runs over the aggregated |distinct-values| frame, never a global sort
of the corpus. That makes this Spearman exact for discrete/low-
cardinality columns (the common case for ratings, counts, buckets);
for near-continuous columns, quantize first (e.g. ``F.round(x, 2)``)
or sample — the global-sort alternative single-partitions the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from sparkprep.checkpointing import lazy_checkpoint


def anova_f(
    df: DataFrame,
    value_col: str,
    group_col: str,
    round_to: int = 6,
) -> DataFrame:
    """One-way ANOVA F-statistic of ``value_col`` across ``group_col``
    levels, plus effect size (eta²). NULL values drop (pairwise-
    complete, matching SQL aggregate semantics).

    Sums-of-squares identities on exact decimals:
      SSB = Σ_g S_g²/n_g − S²/N,  SSW = Q − Σ_g S_g²/n_g
    with S_g = Σx (DECIMAL(18,6) per-row cast), Q = Σx² (the square of
    a decimal is exact; its sum is exact). Per-group float terms
    (S_g²/n_g — 2 IEEE ops on deterministic inputs) are re-cast to
    DECIMAL(30,8) before the k-row fold so the final sum is
    order-independent too. Returns one row:
    ``(f_stat, df_between, df_within, n_rows, eta_sq)``.
    """
    x = F.col(value_col).cast("decimal(18,6)")
    per = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(x).alias("__s"),
            F.sum(x * x).alias("__q"),
        )
    )
    # S_g²/n_g: deterministic per group (single double conversion, one
    # multiply, one divide), then exact decimal for the cross-group sum
    g_term = (
        (F.col("__s").cast("double") * F.col("__s").cast("double"))
        / F.col("__n")
    ).cast("decimal(30,8)")
    folded = per.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__n").alias("__N"),
        F.sum("__s").alias("__S"),
        F.sum("__q").alias("__Q"),
        F.sum(g_term).alias("__G"),
    )
    # SSB and SSW are mathematically non-negative; the DECIMAL(30,8)
    # quantization of the per-group terms can push a near-zero value a
    # hair below 0 (hypothesis-found: constant-ish groups → F = -0.5).
    # Clamp at 0 — identical on both engines since the quantized
    # inputs are identical (the oracle mirrors the greatest()).
    S = F.col("__S").cast("double")
    ssb = F.greatest(
        F.col("__G").cast("double") - (S * S) / F.col("__N"), F.lit(0.0)
    )
    ssw = F.greatest(
        F.col("__Q").cast("double") - F.col("__G").cast("double"), F.lit(0.0)
    )
    df1 = (F.col("__k") - 1).cast("long")
    df2 = (F.col("__N") - F.col("__k")).cast("long")
    f_stat = F.try_divide(
        F.try_divide(ssb, df1.cast("double")),
        F.try_divide(ssw, df2.cast("double")),
    )
    return folded.select(
        F.round(f_stat, round_to).alias("f_stat"),
        df1.alias("df_between"),
        df2.alias("df_within"),
        F.col("__N").cast("long").alias("n_rows"),
        F.round(F.try_divide(ssb, ssb + ssw), round_to).alias("eta_sq"),
    )


def _doubled_rank_map(
    df: DataFrame, col: str, keep_count: bool = False
) -> DataFrame:
    """(value, 2·average-rank) from the value-frequency table: with
    c(v) the count of v and cum(v) the running count through v in
    value order, 2·r_avg(v) = 2·cum(v) − c(v) + 1 — an exact integer
    (mid-rank ties are always whole or half). The window runs over the
    AGGREGATED counts frame (|distinct| rows, HashAggregate below the
    single-partition exchange — the sanctioned shape), never raw data.
    ``keep_count`` also emits c(v) so callers can fold tie terms from
    the joined row stream (Σ_rows(c²−1) = Σ_v(c³−c)) without consuming
    the map twice.
    """
    counts = df.groupBy(F.col(col).alias("__v")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cols = ["__v", (2 * F.sum("__c").over(w) - F.col("__c") + 1).alias("__r2")]
    if keep_count:
        cols.append(F.col("__c"))
    return counts.select(*cols)


def spearman(
    df: DataFrame,
    x_col: str,
    y_col: str,
    round_to: int = 4,
) -> DataFrame:
    """Spearman rank correlation (mid-rank tie convention) without a
    global sort: per-column doubled-average-rank maps come from the
    value-frequency tables (:func:`_doubled_rank_map`), join back as
    tiny broadcast dimensions, and ρ is Pearson over the exact-integer
    doubled ranks — every sum is DECIMAL(38,0)-exact, the finish is 5
    IEEE ops on deterministic inputs. Rows with a NULL in either
    column drop (pairwise-complete). Returns one row
    ``(spearman_rho, n_rows)``.
    """
    staged = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
    rx = _doubled_rank_map(staged, "__x").withColumnsRenamed(
        {"__v": "__x", "__r2": "__rx"}
    )
    ry = _doubled_rank_map(staged, "__y").withColumnsRenamed(
        {"__v": "__y", "__r2": "__ry"}
    )
    ranked = staged.join(F.broadcast(rx), "__x").join(F.broadcast(ry), "__y")
    d38 = "decimal(38,0)"
    sums = ranked.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__rx").cast(d38)).alias("__sx"),
        F.sum(F.col("__ry").cast(d38)).alias("__sy"),
        F.sum((F.col("__rx") * F.col("__ry")).cast(d38)).alias("__sxy"),
        F.sum((F.col("__rx") * F.col("__rx")).cast(d38)).alias("__sxx"),
        F.sum((F.col("__ry") * F.col("__ry")).cast(d38)).alias("__syy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    num = n * F.col("__sxy").cast("double") - sx * sy
    dx = n * F.col("__sxx").cast("double") - sx * sx
    dy = n * F.col("__syy").cast("double") - sy * sy
    rho = F.try_divide(num, F.sqrt(dx) * F.sqrt(dy))
    return sums.select(
        F.round(rho, round_to).alias("spearman_rho"),
        F.col("__n").cast("long").alias("n_rows"),
    )


def mann_whitney(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) of ``value_col`` between the
    ``group_a`` and ``group_b`` levels of ``group_col`` — the
    nonparametric companion of ab_test's Welch compare. No global
    sort: pooled mid-ranks come from the value-frequency table
    (:func:`_doubled_rank_map`, window over the |distinct| frame), so
    every accumulated quantity is an exact integer in DECIMAL(38,0) —
    2·R_a (doubled rank sum), the tie term T = Σ(c³−c) — and the
    normal-approximation z is a handful of IEEE ops on deterministic
    inputs at the end:

      2·U_a = 2·R_a − n_a(n_a+1)
      z = (2·U_a − n_a·n_b) / (2·σ),
      σ² = n_a·n_b/12 · ((N+1) − T/(N(N−1)))

    Returns one row ``(n_a, n_b, u_a, z, round_to'd)``. NULL values
    drop; degenerate inputs (all ties → σ=0) yield NULL z on both
    engines via try_divide.
    """
    pooled = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin([group_a, group_b])
    ).select(
        F.col(value_col).alias("__v"),
        (F.col(group_col) == F.lit(group_a)).alias("__a"),
    )
    rmap = _doubled_rank_map(pooled, "__v", keep_count=True)
    d38 = "decimal(38,0)"
    # the tie term folds from the SAME joined row stream — each row of
    # a value v carries c(v), and Σ_rows(c²−1) = Σ_v c(c²−1) = Σ(c³−c)
    # — so the rank map is consumed exactly once (no second scan, no
    # 1-row cross-attach)
    folded = pooled.join(F.broadcast(rmap), "__v").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).alias("__na"),
        F.sum(F.when(F.col("__a"), 0).otherwise(1)).alias("__nb"),
        F.sum(
            F.when(F.col("__a"), F.col("__r2")).otherwise(0).cast(d38)
        ).alias("__r2a"),
        F.sum(
            (F.col("__c").cast(d38) * F.col("__c") - 1).cast(d38)
        ).alias("__t"),
    )
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    n = na + nb
    u2 = F.col("__r2a").cast("double") - na * (na + 1)  # 2·U_a
    var = (
        na
        * nb
        / 12.0
        * ((n + 1) - F.col("__t").cast("double") / (n * (n - 1)))
    )
    z = F.try_divide(u2 - na * nb, 2.0 * F.sqrt(var))
    # Cliff's delta (the rank-test's effect size): δ = 2U_a/(n_a·n_b) − 1
    # ∈ [−1, 1] — P(a > b) − P(b > a) under the mid-rank tie convention;
    # exact integers in, one division
    delta = F.try_divide(u2, na * nb) - 1.0
    return folded.select(
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        F.round(u2 / 2.0, round_to).alias("u_a"),
        F.round(z, round_to).alias("z"),
        F.round(delta, round_to).alias("cliffs_d"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Kruskal-Wallis H of ``value_col`` across every ``group_col``
    level — the k-group rank analogue of :func:`anova_f`. Pooled
    mid-ranks from the value-frequency table (no global sort); per-
    group doubled rank sums accumulate DECIMAL(38,0)-exact; the
    per-group float term R2_g²/n_g (2 IEEE ops on deterministic
    inputs) re-casts to DECIMAL(38,6) for the k-row fold, exactly the
    anova_f g_term discipline. With R2_g = 2·R_g:

      H = 3/(N(N+1)) · Σ_g R2_g²/n_g − 3(N+1)
      H_corrected = H / (1 − T/(N³−N)),  T = Σ(c³−c)

    Returns one row ``(h_stat, df, n_rows)``; h_stat is the
    tie-corrected H (NULL when every value ties via try_divide).
    """
    pooled = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("__v"), F.col(group_col).alias("__g")
    )
    rmap = _doubled_rank_map(pooled, "__v", keep_count=True)
    d38 = "decimal(38,0)"
    # per-group rank sums AND the per-group share of the global tie
    # term fold from one joined stream (Σ_rows(c²−1) = Σ(c³−c) after
    # the k-row re-fold) — the rank map is consumed exactly once
    per = (
        pooled.join(F.broadcast(rmap), "__v")
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col("__r2").cast(d38)).alias("__r2g"),
            F.sum(
                (F.col("__c").cast(d38) * F.col("__c") - 1).cast(d38)
            ).alias("__tg"),
        )
    )
    g_term = (
        (F.col("__r2g").cast("double") * F.col("__r2g").cast("double"))
        / F.col("__n")
    ).cast("decimal(38,6)")
    folded = per.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__n").alias("__N"),
        F.sum(g_term).alias("__G"),
        F.sum("__tg").alias("__t"),
    )
    n = F.col("__N").cast("double")
    h = 3.0 / (n * (n + 1)) * F.col("__G").cast("double") - 3.0 * (n + 1)
    tie = 1.0 - F.col("__t").cast("double") / (n * n * n - n)
    return folded.select(
        F.round(F.try_divide(h, tie), round_to).alias("h_stat"),
        (F.col("__k") - 1).cast("long").alias("df"),
        F.col("__N").cast("long").alias("n_rows"),
    )


def wilcoxon_signed_rank(
    df: DataFrame,
    diff_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Wilcoxon signed-rank test over a column of PAIRED differences —
    the nonparametric companion of a paired t-test (is the typical
    within-subject change nonzero?). Zeros drop (the standard
    convention); |d| mid-ranks come from the value-frequency table
    (:func:`_doubled_rank_map` on ABS — no global sort), the tie term
    folds from the same joined row stream, and with doubled ranks
    everything accumulated is an exact DECIMAL(38,0) integer:

      2·W⁺ = Σ_{d>0} 2·rank(|d|)
      z = (4·W⁺ − n(n+1)) / (4·σ),
      σ² = n(n+1)(2n+1)/24 − T/48,  T = Σ(t³−t)

    (the z numerator/denominator are scaled ×4 so both stay integer-
    exact until one division). Returns one row
    ``(n_nonzero, w_plus, z)``; all-tied inputs yield NULL z via
    try_divide.
    """
    nz = df.filter(
        F.col(diff_col).isNotNull() & (F.col(diff_col) != 0)
    ).select(
        F.abs(F.col(diff_col)).alias("__v"),
        (F.col(diff_col) > 0).alias("__pos"),
    )
    rmap = _doubled_rank_map(nz, "__v", keep_count=True)
    d38 = "decimal(38,0)"
    folded = nz.join(F.broadcast(rmap), "__v").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.when(F.col("__pos"), F.col("__r2")).otherwise(0).cast(d38)
        ).alias("__r2p"),
        F.sum(
            (F.col("__c").cast(d38) * F.col("__c") - 1).cast(d38)
        ).alias("__t"),
    )
    n = F.col("__n").cast("double")
    w2 = F.col("__r2p").cast("double")  # 2·W+
    var = n * (n + 1) * (2 * n + 1) / 24.0 - F.col("__t").cast("double") / 48.0
    z = F.try_divide(2.0 * w2 - n * (n + 1), 4.0 * F.sqrt(var))
    return folded.select(
        F.col("__n").cast("long").alias("n_nonzero"),
        F.round(w2 / 2.0, round_to).alias("w_plus"),
        F.round(z, round_to).alias("z"),
    )


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
    round_to: int = 4,
) -> DataFrame:
    """Kendall's τ-b rank correlation WITHOUT enumerating pairs: over
    bounded value domains (|X|·|Y| contingency cells — quantity x
    discount is 50x11) the concordant/discordant pair counts fold from
    2-D prefix sums of the contingency table:

      C = Σ_cells n(x,y) · P(x,y),  P = Σ_{x'<x, y'<y} n
      D = Σ_cells n(x,y) · Q(x,y),  Q = Σ_{x'<x, y'>y} n
      τ-b = (C − D) / √((n₀ − n₁)(n₀ − n₂)),
      n₀ = n(n−1)/2, n₁ = Σ_x t_x(t_x−1)/2, n₂ = Σ_y u_y(u_y−1)/2

    The naive formulation self-joins the row stream (O(n²) — the
    all-pairs blowup every CLAUDE.md join discipline exists to avoid);
    here the only joins are over the aggregated cell frame. The dense
    grid comes from exploding a 1-row sorted y-domain array against
    the x-domain frame (the sanctioned 1-row broadcast attach), the
    prefix sums are two keyed windows over the |X|·|Y| grid (bounded by
    the value domains, NOT the data — scale-safe by construction), and
    every accumulated term is exact int64/DECIMAL(38,0); the finish is
    one IEEE division. Ties follow the τ-b convention. Returns one row
    ``(kendall_tau, concordant, discordant, n_rows)``.
    """
    staged = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
    # cells feeds four consumers (grid x-side, y-domain, dense join,
    # tie terms) — truncate lineage or the scan executes per consumer
    cells = (
        staged.groupBy("__x", "__y")
        .agg(F.count(F.lit(1)).alias("__n"))
        .transform(lazy_checkpoint)
    )
    ydom = cells.select("__y").distinct().agg(
        F.sort_array(F.collect_list("__y")).alias("__ys")
    )
    grid = (
        cells.select("__x")
        .distinct()
        .join(F.broadcast(ydom))
        .select("__x", F.explode("__ys").alias("__y"))
    )
    dense = grid.join(cells, ["__x", "__y"], "left").select(
        "__x", "__y", F.coalesce(F.col("__n"), F.lit(0)).alias("__n")
    )
    w_lt = (
        Window.partitionBy("__x")
        .orderBy(F.asc("__y"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_gt = (
        Window.partitionBy("__x")
        .orderBy(F.desc("__y"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stage1 = dense.select(
        "__x",
        "__y",
        "__n",
        F.coalesce(F.sum("__n").over(w_lt), F.lit(0)).alias("__clt"),
        F.coalesce(F.sum("__n").over(w_gt), F.lit(0)).alias("__cgt"),
    )
    w_x = (
        Window.partitionBy("__y")
        .orderBy(F.asc("__x"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d19 = "decimal(19,0)"
    d38 = "decimal(38,0)"
    stage2 = stage1.select(
        "__n",
        F.coalesce(F.sum("__clt").over(w_x), F.lit(0)).alias("__P"),
        F.coalesce(F.sum("__cgt").over(w_x), F.lit(0)).alias("__Q"),
    )
    # operands cast DECIMAL(19,0) BEFORE the multiply: n·P can pass
    # int64 at warehouse row counts while the oracle auto-promotes
    folded = stage2.agg(
        F.sum("__n").alias("__nr"),
        F.sum(F.col("__n").cast(d19) * F.col("__P").cast(d19)).alias("__C"),
        F.sum(F.col("__n").cast(d19) * F.col("__Q").cast(d19)).alias("__D"),
    )
    tx = cells.groupBy("__x").agg(F.sum("__n").alias("__t"))
    n1 = tx.agg(
        F.sum(
            F.col("__t").cast(d19) * (F.col("__t") - 1).cast(d19) / 2
        ).cast(d38).alias("__n1")
    )
    uy = cells.groupBy("__y").agg(F.sum("__n").alias("__t"))
    n2 = uy.agg(
        F.sum(
            F.col("__t").cast(d19) * (F.col("__t") - 1).cast(d19) / 2
        ).cast(d38).alias("__n2")
    )
    all_sums = folded.join(F.broadcast(n1)).join(F.broadcast(n2))
    n = F.col("__nr").cast("double")
    n0 = n * (n - 1.0) / 2.0
    num = F.col("__C").cast("double") - F.col("__D").cast("double")
    den = F.sqrt(n0 - F.col("__n1").cast("double")) * F.sqrt(
        n0 - F.col("__n2").cast("double")
    )
    return all_sums.select(
        F.round(F.try_divide(num, den), round_to).alias("kendall_tau"),
        F.col("__C").cast("long").alias("concordant"),
        F.col("__D").cast("long").alias("discordant"),
        F.col("__nr").cast("long").alias("n_rows"),
    )


def isotonic_bins(
    bins: DataFrame,
    bin_col: str,
    cnt_col: str,
    pos_col: str,
) -> DataFrame:
    """Weighted isotonic regression on an AGGREGATED bin frame
    ``(bin, cnt, pos)`` — returns ``(bin, iso)`` with ``iso`` the
    monotone-nondecreasing least-squares fit of ``pos/cnt`` weighted by
    ``cnt``, computed CLOSED-FORM via the minimax identity

        iso(i) = min_{k≥i} max_{j≤i} (P_k − P_{j−1}) / (C_k − C_{j−1})

    (prefix sums P/C of positives/counts) instead of iterative
    pool-adjacent-violators — no collect, no loop, replayable in plain
    SQL. Intended for FIXED bin grids (scores quantized to ≤~100 integer
    bins): the pair frame is O(bins²) and the (j,i,k) triple O(bins³)/6,
    trivial at that size; the prefix window is the only single-partition
    exchange and runs over the bin frame, never raw data. Each weighted
    average is ONE IEEE division of exact int64 prefix differences, so
    every max/min compares identical doubles on any engine.

    Exactness caveat shared with its oracle: bin stats must be integer
    counts. The prefix frame is localCheckpoint-ed (three self-join
    consumers — CLAUDE.md discipline).
    """
    wc = Window.orderBy(bin_col).rowsBetween(Window.unboundedPreceding, 0)
    prefix = bins.select(
        F.col(bin_col).alias("__b"),
        F.col(cnt_col).alias("__c"),
        F.col(pos_col).alias("__p"),
        F.sum(cnt_col).over(wc).alias("__cc"),
        F.sum(pos_col).over(wc).alias("__cp"),
    ).transform(lazy_checkpoint)
    pj = prefix.select(
        F.col("__b").alias("jb"),
        (F.col("__cc") - F.col("__c")).alias("jpc"),
        (F.col("__cp") - F.col("__p")).alias("jpp"),
    )
    pk = prefix.select(
        F.col("__b").alias("kb"), F.col("__cc").alias("kcc"), F.col("__cp").alias("kcp")
    )
    pairs = pj.join(pk, pj["jb"] <= pk["kb"]).select(
        "jb",
        "kb",
        (
            (F.col("kcp") - F.col("jpp")).cast("double")
            / (F.col("kcc") - F.col("jpc")).cast("double")
        ).alias("avgjk"),
    )
    ib = prefix.select(F.col("__b").alias("ib"))
    ik = (
        pairs.join(ib, (F.col("jb") <= F.col("ib")) & (F.col("ib") <= F.col("kb")))
        .groupBy("ib", "kb")
        .agg(F.max("avgjk").alias("mx"))
    )
    return (
        ik.groupBy("ib")
        .agg(F.min("mx").alias("iso"))
        .select(F.col("ib").alias(bin_col), "iso")
    )
