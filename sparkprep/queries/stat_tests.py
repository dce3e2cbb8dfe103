"""Round-8 statistical-test block: Brown-Forsythe variance homogeneity,
Jarque-Bera normality, Cramér's V association panel, and the
Durbin-Watson residual-autocorrelation readout on the daily revenue
series. Companions of anova_f / mann_whitney / chi_square — each fills
a hole in the test battery (variance equality, distribution shape,
categorical effect size, serial correlation).

Engine-exactness conventions (CLAUDE.md): every accumulation is an
exact DECIMAL sum (per-row double→decimal casts are engine-identical);
float math happens only in short deterministic expression trees over
those exact sums (IEEE ops on identical inputs are bit-identical on
both engines — the anova_f discipline); every emitted float goes
through the DECIMAL(18,8)-recast round.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkprep.queries import _D18, _dec_round, t
from sparkprep.checkpointing import lazy_checkpoint


QUERIES: dict = {}
ORACLES: dict = {}


# ---------------------------------------------------------------------------
# Brown-Forsythe (median-based Levene) variance homogeneity
# ---------------------------------------------------------------------------


def q_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test: is quantity VARIANCE homogeneous across
    return flags? (anova_f compares means; this is the spread
    companion — the robust Levene variant with group MEDIANS as
    centers, the form scipy.stats.levene(center='median') computes.)

    No raw-data re-scan for the deviations: quantity has a 50-value
    integer domain, so the (flag, value) frequency frame (≤150 rows)
    carries everything — lower medians come from a cumsum over it
    (keyed window, value-domain-bounded like mann_whitney's), |x−med|
    is integer, and the one-way-ANOVA fold on the deviations runs as
    WEIGHTED sufficient statistics over the same tiny frame (the
    anova_f identities; per-group S²/n terms DECIMAL(30,8)-recast so
    the k-row fold is order-independent)."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity").isNotNull())
    freq = (
        li.groupBy(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("long").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("g")
    ranked = freq.select(
        "g", "v", "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wtot).alias("n_g"),
    )
    # lower median: smallest v with cum >= (n_g + 1) div 2
    med = (
        ranked.filter(F.col("cum") >= F.expr("(n_g + 1) div 2"))
        .groupBy("g")
        .agg(F.min("v").alias("med"))
    )
    dev = freq.join(F.broadcast(med), "g").select(
        "g", "c", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    z = F.col("z").cast("decimal(18,6)")
    per = dev.groupBy("g").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * z).alias("s"),
        F.sum(F.col("c") * z * z).alias("q"),
    )
    g_term = (
        (F.col("s").cast("double") * F.col("s").cast("double")) / F.col("n")
    ).cast("decimal(30,8)")
    folded = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("ss"),
        F.sum("q").alias("qq"),
        F.sum(g_term).alias("gg"),
    )
    S = F.col("ss").cast("double")
    ssb = F.greatest(
        F.col("gg").cast("double") - (S * S) / F.col("nn"), F.lit(0.0)
    )
    ssw = F.greatest(
        F.col("qq").cast("double") - F.col("gg").cast("double"), F.lit(0.0)
    )
    df1 = (F.col("k") - 1).cast("long")
    df2 = (F.col("nn") - F.col("k")).cast("long")
    f_stat = F.try_divide(
        F.try_divide(ssb, df1.cast("double")),
        F.try_divide(ssw, df2.cast("double")),
    )
    return folded.select(
        _dec_round(f_stat, 6).alias("f_stat"),
        df1.alias("df_between"),
        df2.alias("df_within"),
        F.col("nn").cast("long").alias("n_rows"),
    )


_LEVENE_BF_SQL = """
WITH lv_freq AS (
  SELECT l_returnflag AS g, l_quantity::BIGINT AS v, count(*) AS c
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2
),
lv_rk AS (
  SELECT g, v, c,
         sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY g) AS n_g
  FROM lv_freq
),
lv_med AS (
  SELECT g, min(v) AS med FROM lv_rk WHERE cum >= (n_g + 1) // 2 GROUP BY 1
),
lv_dev AS (
  SELECT f.g, f.c, abs(f.v - m.med)::DECIMAL(18,6) AS z
  FROM lv_freq f JOIN lv_med m ON f.g = m.g
),
lv_per AS (
  SELECT g, sum(c) AS n, sum(c * z) AS s, sum(c * z * z) AS q
  FROM lv_dev GROUP BY 1
),
lv_fold AS (
  SELECT count(*) AS k, sum(n) AS nn, sum(s) AS ss, sum(q) AS qq,
         sum(((s::DOUBLE * s::DOUBLE) / n)::DECIMAL(30,8)) AS gg
  FROM lv_per
)
SELECT round(((greatest(gg::DOUBLE - (ss::DOUBLE * ss::DOUBLE) / nn, 0)
               / (k - 1))
              / (greatest(qq::DOUBLE - gg::DOUBLE, 0)
                 / (nn - k)))::DECIMAL(18,8), 6)::DOUBLE AS f_stat,
       (k - 1)::BIGINT AS df_between,
       (nn - k)::BIGINT AS df_within,
       nn::BIGINT AS n_rows
FROM lv_fold
"""


# ---------------------------------------------------------------------------
# Jarque-Bera normality (per group, from exact power sums)
# ---------------------------------------------------------------------------


def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality statistic of quantity per return flag:
    skewness, excess kurtosis, and JB = n/6·(g1² + g2²/4) — the "is
    this column even close to Gaussian" profile check that decides
    whether z-score outlier fences (outlier_fences) are meaningful.

    One map-combined groupBy accumulates the four power sums
    Σx..Σx⁴ as exact DECIMAL(38,0) integers (quantity is an integer
    1..50, so x⁴ ≤ 6.25e6 — no overflow until ~1e31 rows); the central
    moments, g1 = m3/(m2·√m2) and g2 = m4/m2² − 3 are ONE fixed
    IEEE expression tree over those exact sums (√ is correctly rounded
    — bit-identical both engines), then DECIMAL-recast rounds."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity").isNotNull())
    x = F.col("l_quantity").cast("long")
    d38 = "decimal(38,0)"
    per = li.groupBy(F.col("l_returnflag").alias("g")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(d38)).alias("s1"),
        F.sum((x * x).cast(d38)).alias("s2"),
        F.sum((x * x * x).cast(d38)).alias("s3"),
        F.sum((x * x * x * x).cast(d38)).alias("s4"),
    )
    n = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m2 = r2 - m1 * m1
    m3 = r3 - F.lit(3.0) * m1 * r2 + F.lit(2.0) * m1 * m1 * m1
    m4 = (
        r4
        - F.lit(4.0) * m1 * r3
        + F.lit(6.0) * m1 * m1 * r2
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    g1 = F.try_divide(m3, m2 * F.sqrt(m2))
    g2 = F.try_divide(m4, m2 * m2) - F.lit(3.0)
    jb = n / F.lit(6.0) * (g1 * g1 + g2 * g2 / F.lit(4.0))
    return per.select(
        F.col("g").alias("l_returnflag"),
        F.col("n").cast("long").alias("n_rows"),
        _dec_round(g1, 6).alias("skewness"),
        _dec_round(g2, 6).alias("excess_kurtosis"),
        _dec_round(jb, 4).alias("jarque_bera"),
    ).orderBy("l_returnflag")


_JARQUE_BERA_SQL = """
WITH jb_per AS (
  SELECT l_returnflag AS g, count(*) AS n,
         sum((l_quantity::BIGINT)::DECIMAL(38,0)) AS s1,
         sum((l_quantity::BIGINT * l_quantity::BIGINT)::DECIMAL(38,0)) AS s2,
         sum((l_quantity::BIGINT * l_quantity::BIGINT
              * l_quantity::BIGINT)::DECIMAL(38,0)) AS s3,
         sum((l_quantity::BIGINT * l_quantity::BIGINT * l_quantity::BIGINT
              * l_quantity::BIGINT)::DECIMAL(38,0)) AS s4
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1
),
jb_m AS (
  SELECT g, n,
         s1::DOUBLE / n::DOUBLE AS m1,
         s2::DOUBLE / n::DOUBLE AS r2,
         s3::DOUBLE / n::DOUBLE AS r3,
         s4::DOUBLE / n::DOUBLE AS r4
  FROM jb_per
),
jb_c AS (
  SELECT g, n, m1,
         r2 - m1 * m1 AS m2,
         r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
         r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
            - 3.0 * m1 * m1 * m1 * m1 AS m4
  FROM jb_m
),
jb_g AS (
  SELECT g, n,
         m3 / (m2 * sqrt(m2)) AS g1,
         m4 / (m2 * m2) - 3.0 AS g2
  FROM jb_c
)
SELECT g AS l_returnflag, n::BIGINT AS n_rows,
       round(g1::DECIMAL(18,8), 6)::DOUBLE AS skewness,
       round(g2::DECIMAL(18,8), 6)::DOUBLE AS excess_kurtosis,
       round((n::DOUBLE / 6.0 * (g1 * g1 + g2 * g2 / 4.0))::DECIMAL(18,8),
             4)::DOUBLE AS jarque_bera
FROM jb_g ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Cramér's V association panel
# ---------------------------------------------------------------------------


def _cramers_pair(df: DataFrame, a: str, b: str, label: str) -> DataFrame:
    """χ² + Cramér's V for one categorical pair via the expanded
    identity χ² = N·(Σ O²/(rᵢ·cⱼ) − 1): cell counts, row totals and
    column totals are exact integers; each cell contributes ONE IEEE
    division (O² exact ÷ rᵢ·cⱼ exact) recast DECIMAL(18,12) so the
    ≤|A|·|B|-cell sum is order-independent."""
    cells = (
        df.filter(F.col(a).isNotNull() & F.col(b).isNotNull())
        .groupBy(F.col(a).alias("ra"), F.col(b).alias("cb"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rows = cells.groupBy("ra").agg(F.sum("o").alias("rt"))
    cols = cells.groupBy("cb").agg(F.sum("o").alias("ct"))
    term = (
        (F.col("o").cast("double") * F.col("o").cast("double"))
        / (F.col("rt") * F.col("ct")).cast("double")
    ).cast("decimal(18,12)")
    joined = cells.join(F.broadcast(rows), "ra").join(F.broadcast(cols), "cb")
    folded = joined.agg(
        F.sum("o").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.countDistinct("ra").alias("r"),
        F.countDistinct("cb").alias("c"),
        F.sum(term).alias("t"),
    )
    chi2 = F.col("n").cast("double") * (
        F.col("t").cast("double") - F.lit(1.0)
    )
    dof = ((F.col("r") - 1) * (F.col("c") - 1)).cast("long")
    v = F.sqrt(
        F.try_divide(
            chi2,
            (
                F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1)
            ).cast("double"),
        )
    )
    return folded.select(
        F.lit(label).alias("pair"),
        F.col("n").cast("long").alias("n_rows"),
        dof.alias("dof"),
        _dec_round(chi2, 4).alias("chi2"),
        _dec_round(v, 6).alias("cramers_v"),
    )


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association panel: the normalized effect size
    ([0,1]) behind chi_square's raw statistic, for three categorical
    pairs across three tables — the column-pair dependence profile a
    feature-selection pass reads before one-hot-encoding correlated
    categoricals. Each pair is an independent bounded-contingency
    pipeline (cells ≤ |A|·|B|, totals broadcast); the union is of
    three DISTINCT aggregated subtrees (no shared-scan re-execution)."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    cn = cust.join(
        F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
    )
    return (
        _cramers_pair(orders, "o_orderpriority", "o_orderstatus", "orders:priority~status")
        .unionByName(_cramers_pair(li, "l_returnflag", "l_linestatus", "lineitem:flag~status"))
        .unionByName(_cramers_pair(cn, "c_mktsegment", "n_name", "customer:segment~nation"))
        .orderBy("pair")
    )


def _cramers_pair_sql(src: str, a: str, b: str, label: str) -> str:
    return f"""
SELECT '{label}' AS pair, n::BIGINT AS n_rows,
       ((r - 1) * (c - 1))::BIGINT AS dof,
       round((n::DOUBLE * (t::DOUBLE - 1.0))::DECIMAL(18,8), 4)::DOUBLE AS chi2,
       round(sqrt((n::DOUBLE * (t::DOUBLE - 1.0))
                  / (n * least(r - 1, c - 1))::DOUBLE)::DECIMAL(18,8),
             6)::DOUBLE AS cramers_v
FROM (
  SELECT sum(o) AS n, count(*) AS n_cells,
         count(DISTINCT ra) AS r, count(DISTINCT cb) AS c,
         sum(((o::DOUBLE * o::DOUBLE) / (rt * ct)::DOUBLE)::DECIMAL(18,12)) AS t
  FROM (
    SELECT ra, cb, o,
           sum(o) OVER (PARTITION BY ra) AS rt,
           sum(o) OVER (PARTITION BY cb) AS ct
    FROM (
      SELECT {a} AS ra, {b} AS cb, count(*) AS o
      FROM {src}
      WHERE {a} IS NOT NULL AND {b} IS NOT NULL
      GROUP BY 1, 2
    )
  )
)"""


_CRAMERS_V_SQL = (
    _cramers_pair_sql("orders", "o_orderpriority", "o_orderstatus", "orders:priority~status")
    + "\nUNION ALL\n"
    + _cramers_pair_sql("lineitem", "l_returnflag", "l_linestatus", "lineitem:flag~status")
    + "\nUNION ALL\n"
    + _cramers_pair_sql(
        "(SELECT c_mktsegment, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey) cn",
        "c_mktsegment", "n_name", "customer:segment~nation",
    )
    + "\nORDER BY pair"
)


# ---------------------------------------------------------------------------
# Durbin-Watson on the daily-revenue trend residuals
# ---------------------------------------------------------------------------


def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson serial-correlation statistic of the residuals from
    an OLS linear trend on daily order revenue — the "are the trend
    model's errors independent" diagnostic that decides whether
    daily_trend's OLS standard errors can be believed (DW ≈ 2 → fine;
    → 0 positive autocorrelation; → 4 negative).

    Daily revenue is an exact integer (per-row cents via the
    DECIMAL(18,8)-recast round, summed as int64); the OLS fit is the
    conformal_interval/ols_elasticity closed form on DECIMAL(38,4)
    sufficient statistics; per-day residuals are one fixed IEEE
    expression on those exact inputs. The lag runs over the
    CALENDAR-BOUNDED daily frame (~2.4k rows regardless of fact-table
    scale — registered in _BOUNDED_GLOBAL_WINDOW), and both
    quadratic-form sums recast each per-day double term to
    DECIMAL(38,6) so the accumulation is order-independent. The 1-row
    model frame is a sanctioned broadcast attach."""
    orders = t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.expr(
                "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
            ).alias("x"),
            F.round((F.col("o_totalprice") * 100).cast(_D18))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("x")
        .agg(F.sum("cents").alias("y"))
    )
    d38 = "decimal(38,4)"
    sums = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    model = sums.select(
        F.col("n").cast("long").alias("n_days"),
        slope.alias("b"),
        ((sy - slope * sx) / n).alias("a"),
    )
    resid = daily.crossJoin(F.broadcast(model)).select(
        "n_days",
        "x",
        (
            F.col("y").cast("double")
            - (F.col("a") + F.col("b") * F.col("x").cast("double"))
        ).alias("e"),
        F.col("b"),
    )
    w = Window.orderBy("x")
    lagged = resid.select(
        "n_days",
        "b",
        "e",
        F.lag("e").over(w).alias("ep"),
    )
    d = F.col("e") - F.col("ep")
    folded = lagged.agg(
        F.min("n_days").alias("n_days"),
        F.min("b").alias("b"),
        F.sum((F.col("e") * F.col("e")).cast("decimal(38,6)")).alias("den"),
        F.sum(
            F.when(F.col("ep").isNotNull(), (d * d).cast("decimal(38,6)"))
        ).alias("num"),
    )
    return folded.select(
        F.col("n_days"),
        _dec_round(F.col("b") / F.lit(100.0), 6).alias("slope_dollars_per_day"),
        _dec_round(
            F.try_divide(F.col("num").cast("double"), F.col("den").cast("double")),
            6,
        ).alias("durbin_watson"),
    )


_DURBIN_WATSON_SQL = """
WITH dw_daily AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS x,
         sum(round((o_totalprice * 100)::DECIMAL(18,8))::BIGINT) AS y
  FROM orders GROUP BY 1
),
dw_s AS (
  SELECT count(*) AS n,
         sum(x::DECIMAL(38,4)) AS sx, sum(y::DECIMAL(38,4)) AS sy,
         sum((x * y)::DECIMAL(38,4)) AS sxy,
         sum((x * x)::DECIMAL(38,4)) AS sxx
  FROM dw_daily
),
dw_m AS (
  SELECT n::BIGINT AS n_days,
         (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
           / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) AS b,
         (sy::DOUBLE - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
           / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)) * sx::DOUBLE)
           / n::DOUBLE AS a
  FROM dw_s
),
dw_e AS (
  SELECT n_days, b, x,
         y::DOUBLE - (a + b * x::DOUBLE) AS e
  FROM dw_daily CROSS JOIN dw_m
),
dw_l AS (
  SELECT n_days, b, e, lag(e) OVER (ORDER BY x) AS ep FROM dw_e
)
SELECT min(n_days) AS n_days,
       round((min(b) / 100.0)::DECIMAL(18,8), 6)::DOUBLE AS slope_dollars_per_day,
       round((sum(CASE WHEN ep IS NOT NULL
                       THEN ((e - ep) * (e - ep))::DECIMAL(38,6) END)::DOUBLE
              / sum((e * e)::DECIMAL(38,6))::DOUBLE)::DECIMAL(18,8),
             6)::DOUBLE AS durbin_watson
FROM dw_l
"""


QUERIES.update(
    {
        "levene_bf": q_levene_bf,
        "jarque_bera": q_jarque_bera,
        "cramers_v": q_cramers_v,
        "durbin_watson": q_durbin_watson,
    }
)

ORACLES.update(
    {
        "levene_bf": _LEVENE_BF_SQL,
        "jarque_bera": _JARQUE_BERA_SQL,
        "cramers_v": _CRAMERS_V_SQL,
        "durbin_watson": _DURBIN_WATSON_SQL,
    }
)


# ---------------------------------------------------------------------------
# group-sequential A/B monitoring (O'Brien-Fleming bounds)
# ---------------------------------------------------------------------------

# Two-sided O'Brien-Fleming z boundaries for K=5 equally-spaced looks at
# overall alpha = 0.05: z_k = z_OBF · sqrt(K / k) with z_OBF = 2.0310
# (Lan-DeMets / standard GSD tables). Precomputed in PYTHON as double
# literals (the SPRT-constants discipline) — no inverse normal CDF ever
# runs inside either engine.
_GS_LOOKS = ["2024-01-07", "2024-01-13", "2024-01-19", "2024-01-25", "2024-01-31"]
_GS_ZOBF = 2.0310
_GS_BOUNDS = [_GS_ZOBF * math.sqrt(len(_GS_LOOKS) / k) for k in range(1, len(_GS_LOOKS) + 1)]


def q_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitor: the purchase-rate two-proportion
    z-statistic at 5 interim looks with O'Brien-Fleming stopping
    boundaries — the frequentist peeking-safe companion of sprt_stop
    (which is the Wald/Bayesian-flavored scan). Arms are the md5
    parity of user_id (deterministic, RNG-free); each look is a
    CUMULATIVE cutoff, so ONE aggregate pass with per-look conditional
    sums feeds all five rows (explode of a 5-struct literal — no
    unions-of-selects re-executing the scan). z is a short IEEE tree
    over exact int64 counts; the boundaries are Python double
    literals; crossed = |z| > bound is an exact comparison of
    engine-identical doubles."""
    ev = t(spark, sf_dir, "events").select(
        (
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8"
        ).alias("arm_a"),
        (F.col("event_type") == "purchase").cast("long").alias("x"),
        "ts",
    )
    aggs = []
    for k, cut in enumerate(_GS_LOOKS, start=1):
        in_look = F.col("ts") < F.to_timestamp(F.lit(cut))
        aggs += [
            F.sum(F.when(in_look & F.col("arm_a"), 1).otherwise(0)).alias(f"na{k}"),
            F.sum(F.when(in_look & F.col("arm_a"), F.col("x")).otherwise(0)).alias(f"xa{k}"),
            F.sum(F.when(in_look & ~F.col("arm_a"), 1).otherwise(0)).alias(f"nb{k}"),
            F.sum(F.when(in_look & ~F.col("arm_a"), F.col("x")).otherwise(0)).alias(f"xb{k}"),
        ]
    wide = ev.agg(*aggs)
    looks = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("look"),
                F.lit(_GS_LOOKS[k - 1]).alias("cutoff"),
                F.col(f"na{k}").cast("long").alias("n_a"),
                F.col(f"xa{k}").cast("long").alias("x_a"),
                F.col(f"nb{k}").cast("long").alias("n_b"),
                F.col(f"xb{k}").cast("long").alias("x_b"),
                F.lit(_GS_BOUNDS[k - 1]).alias("bound"),
            )
            for k in range(1, len(_GS_LOOKS) + 1)
        ]
    )
    rows = wide.select(F.explode(looks).alias("l")).select("l.*")
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("x_a").cast("double") / na
    pb = F.col("x_b").cast("double") / nb
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (na + nb)
    z = F.try_divide(
        pa - pb,
        F.sqrt(pp * (F.lit(1.0) - pp) * (F.lit(1.0) / na + F.lit(1.0) / nb)),
    )
    return rows.select(
        "look",
        "cutoff",
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        _dec_round(pa, 6).alias("rate_a"),
        _dec_round(pb, 6).alias("rate_b"),
        _dec_round(z, 4).alias("z"),
        _dec_round(F.col("bound"), 4).alias("bound"),
        (F.abs(z) > F.col("bound")).alias("crossed"),
    ).orderBy("look")


def _group_sequential_sql() -> str:
    cases = []
    for k, cut in enumerate(_GS_LOOKS, start=1):
        c = f"ts < TIMESTAMP '{cut}'"
        cases += [
            f"sum(CASE WHEN {c} AND arm_a THEN 1 ELSE 0 END) AS na{k}",
            f"sum(CASE WHEN {c} AND arm_a THEN x ELSE 0 END) AS xa{k}",
            f"sum(CASE WHEN {c} AND NOT arm_a THEN 1 ELSE 0 END) AS nb{k}",
            f"sum(CASE WHEN {c} AND NOT arm_a THEN x ELSE 0 END) AS xb{k}",
        ]
    look_rows = "\nUNION ALL\n".join(
        f"SELECT {k}::BIGINT AS look, '{_GS_LOOKS[k - 1]}' AS cutoff, "
        f"na{k}::BIGINT AS n_a, xa{k}::BIGINT AS x_a, "
        f"nb{k}::BIGINT AS n_b, xb{k}::BIGINT AS x_b, "
        f"{_GS_BOUNDS[k - 1]!r} AS bound FROM gs_w"
        for k in range(1, len(_GS_LOOKS) + 1)
    )
    return f"""
WITH gs_e AS (
  SELECT substring(md5(user_id::VARCHAR), 1, 1) < '8' AS arm_a,
         (event_type = 'purchase')::BIGINT AS x, ts
  FROM events
),
gs_w AS MATERIALIZED (
  SELECT {', '.join(cases)} FROM gs_e
),
gs_l AS ({look_rows}),
gs_z AS (
  SELECT *,
         x_a::DOUBLE / n_a::DOUBLE AS pa,
         x_b::DOUBLE / n_b::DOUBLE AS pb,
         (x_a + x_b)::DOUBLE / (n_a::DOUBLE + n_b::DOUBLE) AS pp
  FROM gs_l
)
SELECT look, cutoff, n_a, x_a, n_b, x_b,
       round(pa::DECIMAL(18,8), 6)::DOUBLE AS rate_a,
       round(pb::DECIMAL(18,8), 6)::DOUBLE AS rate_b,
       round(((pa - pb) / sqrt(pp * (1.0 - pp)
              * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)))::DECIMAL(18,8),
             4)::DOUBLE AS z,
       round(bound::DECIMAL(18,8), 4)::DOUBLE AS bound,
       abs((pa - pb) / sqrt(pp * (1.0 - pp)
           * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE))) > bound AS crossed
FROM gs_z ORDER BY look
"""


QUERIES["group_sequential"] = q_group_sequential
ORACLES["group_sequential"] = _group_sequential_sql()


# ---------------------------------------------------------------------------
# empirical-Bayes shrinkage of per-part return rates
# ---------------------------------------------------------------------------

_EB_TOP = 20
_EB_MIN_N = 2


def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrunk return rates: fit a Beta prior to the
    per-part return-rate distribution by method of moments, then rank
    parts by the posterior-mean rate (x+α)/(n+α+β) — the standard fix
    for "this part has a 100% return rate (n=1)" leaderboards; raw
    rates overrank tiny samples, the shrunk ranking doesn't.

    Engine-exactness: each per-part rate is ONE IEEE division of exact
    int64 counts, recast DECIMAL(18,12) before the parts-wide moment
    sums (order-independent); μ, v, α, β are a short identical float
    tree on both engines, broadcast back as a 1-row prior frame (the
    sanctioned scalar attach); every posterior mean is then the same
    deterministic expression per part. Top-20 by (shrunk desc, part)
    is a TakeOrdered — no global sort."""
    li = t(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("x"),
    ).filter(F.col("n") >= _EB_MIN_N)
    rate = F.col("x").cast("double") / F.col("n").cast("double")
    staged = per.select(
        "part", "n", "x",
        rate.cast("decimal(18,12)").alias("r1"),
        (rate * rate).cast("decimal(18,12)").alias("r2"),
    )
    mom = staged.agg(
        F.count(F.lit(1)).alias("p"),
        F.sum("r1").alias("s1"),
        F.sum("r2").alias("s2"),
    )
    p = F.col("p").cast("double")
    mu = F.col("s1").cast("double") / p
    v = F.col("s2").cast("double") / p - mu * mu
    # method of moments: c = μ(1−μ)/v − 1; α = μc, β = (1−μ)c
    c = mu * (F.lit(1.0) - mu) / v - F.lit(1.0)
    prior = mom.select(
        (mu * c).alias("alpha"), ((F.lit(1.0) - mu) * c).alias("beta")
    )
    scored = staged.crossJoin(F.broadcast(prior)).select(
        F.col("part").cast("long").alias("part"),
        F.col("n").cast("long").alias("n"),
        F.col("x").cast("long").alias("x_returned"),
        _dec_round(F.col("r1").cast("double"), 6).alias("raw_rate"),
        (
            (F.col("x").cast("double") + F.col("alpha"))
            / (F.col("n").cast("double") + F.col("alpha") + F.col("beta"))
        ).alias("__shrunk"),
        F.col("alpha"),
        F.col("beta"),
    )
    return (
        scored.orderBy(F.desc("__shrunk"), F.asc("part"))
        .limit(_EB_TOP)
        .select(
            "part", "n", "x_returned", "raw_rate",
            _dec_round(F.col("__shrunk"), 6).alias("shrunk_rate"),
            _dec_round(F.col("alpha"), 4).alias("prior_alpha"),
            _dec_round(F.col("beta"), 4).alias("prior_beta"),
        )
    )


_EB_SHRINKAGE_SQL = f"""
WITH eb_per AS (
  SELECT l_partkey AS part, count(*) AS n,
         sum((l_returnflag = 'R')::BIGINT) AS x
  FROM lineitem GROUP BY 1 HAVING count(*) >= {_EB_MIN_N}
),
eb_st AS MATERIALIZED (
  SELECT part, n, x,
         (x::DOUBLE / n::DOUBLE)::DECIMAL(18,12) AS r1,
         ((x::DOUBLE / n::DOUBLE) * (x::DOUBLE / n::DOUBLE))::DECIMAL(18,12) AS r2
  FROM eb_per
),
eb_m AS (
  SELECT count(*) AS p, sum(r1) AS s1, sum(r2) AS s2 FROM eb_st
),
eb_pr AS (
  SELECT (s1::DOUBLE / p::DOUBLE)
           * ((s1::DOUBLE / p::DOUBLE) * (1.0 - s1::DOUBLE / p::DOUBLE)
              / (s2::DOUBLE / p::DOUBLE
                 - (s1::DOUBLE / p::DOUBLE) * (s1::DOUBLE / p::DOUBLE)) - 1.0)
           AS alpha,
         (1.0 - s1::DOUBLE / p::DOUBLE)
           * ((s1::DOUBLE / p::DOUBLE) * (1.0 - s1::DOUBLE / p::DOUBLE)
              / (s2::DOUBLE / p::DOUBLE
                 - (s1::DOUBLE / p::DOUBLE) * (s1::DOUBLE / p::DOUBLE)) - 1.0)
           AS beta
  FROM eb_m
),
eb_sc AS (
  SELECT part::BIGINT AS part, n::BIGINT AS n, x::BIGINT AS x_returned,
         round((r1::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS raw_rate,
         (x::DOUBLE + alpha) / (n::DOUBLE + alpha + beta) AS shrunk,
         alpha, beta
  FROM eb_st CROSS JOIN eb_pr
)
SELECT part, n, x_returned, raw_rate,
       round(shrunk::DECIMAL(18,8), 6)::DOUBLE AS shrunk_rate,
       round(alpha::DECIMAL(18,8), 4)::DOUBLE AS prior_alpha,
       round(beta::DECIMAL(18,8), 4)::DOUBLE AS prior_beta
FROM eb_sc ORDER BY shrunk DESC, part LIMIT {_EB_TOP}
"""


QUERIES["eb_shrinkage"] = q_eb_shrinkage
ORACLES["eb_shrinkage"] = _EB_SHRINKAGE_SQL


# ---------------------------------------------------------------------------
# capture-recapture (Chapman) population estimate
# ---------------------------------------------------------------------------


def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the active-user
    population from two observation windows (first vs second half of
    the event stream): N̂ = (n1+1)(n2+1)/(m+1) − 1 with m the users
    seen in BOTH windows — the census trick for "how many users do we
    actually have" when any single window undercounts, and the same
    estimator dedup pipelines use to size a population from overlap.

    One aggregate over the per-user presence frame (exact int64
    counts); the estimate and its Seber variance are a short IEEE
    tree; √ is correctly rounded, so the CI bounds agree bit-for-bit
    across engines."""
    ev = t(spark, sf_dir, "events")
    cut = "2024-01-16"
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("ts") < F.to_timestamp(F.lit(cut))).cast("long")).alias("w1"),
        F.max((F.col("ts") >= F.to_timestamp(F.lit(cut))).cast("long")).alias("w2"),
    )
    folded = per_user.agg(
        F.sum("w1").alias("n1"),
        F.sum("w2").alias("n2"),
        F.sum(F.col("w1") * F.col("w2")).alias("m"),
        F.count(F.lit(1)).alias("truth"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    m = F.col("m").cast("double")
    nhat = (n1 + 1) * (n2 + 1) / (m + 1) - F.lit(1.0)
    var = (
        (n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)
        / ((m + 1) * (m + 1) * (m + 2))
    )
    se = F.sqrt(var)
    return folded.select(
        F.col("n1").cast("long").alias("n_window1"),
        F.col("n2").cast("long").alias("n_window2"),
        F.col("m").cast("long").alias("n_both"),
        F.col("truth").cast("long").alias("n_true_users"),
        _dec_round(nhat, 2).alias("chapman_estimate"),
        _dec_round(nhat - F.lit(1.96) * se, 2).alias("ci_low"),
        _dec_round(nhat + F.lit(1.96) * se, 2).alias("ci_high"),
    )


_CAPTURE_RECAPTURE_SQL = """
WITH cr_u AS (
  SELECT user_id,
         max((ts < TIMESTAMP '2024-01-16')::BIGINT) AS w1,
         max((ts >= TIMESTAMP '2024-01-16')::BIGINT) AS w2
  FROM events GROUP BY 1
),
cr_f AS (
  SELECT sum(w1) AS n1, sum(w2) AS n2, sum(w1 * w2) AS m,
         count(*) AS truth
  FROM cr_u
),
cr_e AS (
  SELECT n1, n2, m, truth,
         (n1::DOUBLE + 1) * (n2::DOUBLE + 1) / (m::DOUBLE + 1) - 1.0 AS nhat,
         sqrt((n1::DOUBLE + 1) * (n2::DOUBLE + 1)
              * (n1::DOUBLE - m::DOUBLE) * (n2::DOUBLE - m::DOUBLE)
              / ((m::DOUBLE + 1) * (m::DOUBLE + 1) * (m::DOUBLE + 2))) AS se
  FROM cr_f
)
SELECT n1::BIGINT AS n_window1, n2::BIGINT AS n_window2,
       m::BIGINT AS n_both, truth::BIGINT AS n_true_users,
       round(nhat::DECIMAL(18,8), 2)::DOUBLE AS chapman_estimate,
       round((nhat - 1.96 * se)::DECIMAL(18,8), 2)::DOUBLE AS ci_low,
       round((nhat + 1.96 * se)::DECIMAL(18,8), 2)::DOUBLE AS ci_high
FROM cr_e
"""


# ---------------------------------------------------------------------------
# Good-Turing missing mass + Chao1 unseen-vocabulary estimate
# ---------------------------------------------------------------------------


def q_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much vocabulary has the corpus NOT seen yet? Good-Turing
    missing mass P₀ = N₁/N (probability the next token is novel) and
    the bias-corrected Chao1 richness estimate
    S_obs + N₁(N₁−1)/(2(N₂+1)) — defined even when no token occurs
    exactly twice — from the token
    frequency-of-frequencies — the coverage planner's answer to "is
    more data still buying new vocabulary" (vocab_growth shows the
    curve; this is its asymptote estimate).

    Two map-combined aggregates (token counts → count-of-counts →
    1-row fold), every statistic exact-int division or one IEEE op."""
    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    fof = counts.groupBy("c").agg(F.count(F.lit(1)).alias("fc"))
    folded = fof.agg(
        F.sum(F.col("c") * F.col("fc")).alias("n_tokens"),
        F.sum("fc").alias("s_obs"),
        F.sum(F.when(F.col("c") == 1, F.col("fc")).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("c") == 2, F.col("fc")).otherwise(0)).alias("n2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    p0 = F.try_divide(n1, F.col("n_tokens").cast("double"))
    chao1 = F.col("s_obs").cast("double") + n1 * (n1 - 1) / (
        F.lit(2.0) * (n2 + 1)
    )
    return folded.select(
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("s_obs").cast("long").alias("vocab_observed"),
        F.col("n1").cast("long").alias("hapaxes"),
        F.col("n2").cast("long").alias("dis_legomena"),
        _dec_round(p0, 6).alias("missing_mass"),
        _dec_round(chao1, 2).alias("chao1_vocab"),
    )


_UNSEEN_MASS_SQL = """
WITH um_t AS (
  SELECT unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text IS NOT NULL
),
um_c AS (SELECT w, count(*) AS c FROM um_t WHERE w != '' GROUP BY 1),
um_f AS (SELECT c, count(*) AS fc FROM um_c GROUP BY 1),
um_x AS (
  SELECT sum(c * fc) AS n_tokens, sum(fc) AS s_obs,
         sum(CASE WHEN c = 1 THEN fc ELSE 0 END) AS n1,
         sum(CASE WHEN c = 2 THEN fc ELSE 0 END) AS n2
  FROM um_f
)
SELECT n_tokens::BIGINT AS n_tokens, s_obs::BIGINT AS vocab_observed,
       n1::BIGINT AS hapaxes, n2::BIGINT AS dis_legomena,
       round((n1::DOUBLE / n_tokens::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS missing_mass,
       round((s_obs::DOUBLE + n1::DOUBLE * (n1::DOUBLE - 1)
              / (2.0 * (n2::DOUBLE + 1)))::DECIMAL(18,8),
             2)::DOUBLE AS chao1_vocab
FROM um_x
"""


QUERIES.update(
    {
        "capture_recapture": q_capture_recapture,
        "unseen_mass": q_unseen_mass,
    }
)
ORACLES.update(
    {
        "capture_recapture": _CAPTURE_RECAPTURE_SQL,
        "unseen_mass": _UNSEEN_MASS_SQL,
    }
)


# ---------------------------------------------------------------------------
# Yuen's trimmed-mean two-sample test
# ---------------------------------------------------------------------------

_YUEN_A = "R"
_YUEN_B = "N"


def q_yuen_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen's 20%-trimmed-mean test of quantity between returned ('R')
    and clean ('N') line items — the robust companion of ab_test/
    mann_whitney: outlier-insensitive like ranks, but still an
    interpretable difference of (trimmed) means.

    Entirely from the ≤50-row per-group value-frequency frame (the
    mann_whitney machinery): trim counts, the two winsorization
    boundary values (rank selection on the cumsum), the retained-mass
    overlap per value row, and the trimmed/winsorized sums are ALL
    exact integers; Yuen's t = (m̄t₁−m̄t₂)/√(d₁+d₂) with
    dᵢ = (Q_w − S_w²/n)/(h(h−1)) is one short IEEE tree at the end."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull()
        & F.col("l_returnflag").isin(_YUEN_A, _YUEN_B)
    )
    freq = li.groupBy(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("long").alias("v"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("g").orderBy("v").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    wtot = Window.partitionBy("g")
    rk = freq.select(
        "g", "v", "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wtot).alias("n"),
    ).withColumn("trim", F.expr("n div 5"))
    bounds = rk.groupBy("g", "n", "trim").agg(
        F.min(F.when(F.col("cum") >= F.col("trim") + 1, F.col("v"))).alias("vlo"),
        F.min(F.when(F.col("cum") >= F.col("n") - F.col("trim"), F.col("v"))).alias("vhi"),
    )
    mid = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), F.col("n") - F.col("trim"))
        - F.greatest(F.col("cum") - F.col("c"), F.col("trim")),
    )
    sums = rk.groupBy("g").agg(
        F.sum(mid * F.col("v")).alias("st"),
        F.sum(mid * F.col("v") * F.col("v")).alias("qt"),
    )
    per = bounds.join(sums, "g").select(
        "g", "n", "trim", "vlo", "vhi",
        (F.col("n") - 2 * F.col("trim")).alias("h"),
        (F.col("st") + F.col("trim") * (F.col("vlo") + F.col("vhi"))).alias("sw"),
        (
            F.col("qt")
            + F.col("trim")
            * (F.col("vlo") * F.col("vlo") + F.col("vhi") * F.col("vhi"))
        ).alias("qw"),
        F.col("st"),
    )
    nn = F.col("n").cast("double")
    h = F.col("h").cast("double")
    sw = F.col("sw").cast("double")
    qw = F.col("qw").cast("double")
    mt = F.col("st").cast("double") / h
    d = (qw - sw * sw / nn) / (h * (h - F.lit(1.0)))
    wide = per.select(
        "g",
        F.col("n").cast("long").alias("n"),
        F.col("h").cast("long").alias("h_retained"),
        mt.alias("__mt"),
        d.alias("__d"),
    )
    folded = wide.agg(
        F.min(F.when(F.col("g") == _YUEN_A, F.col("n"))).cast("long").alias("n_a"),
        F.min(F.when(F.col("g") == _YUEN_B, F.col("n"))).cast("long").alias("n_b"),
        F.min(F.when(F.col("g") == _YUEN_A, F.col("h_retained"))).cast("long").alias("h_a"),
        F.min(F.when(F.col("g") == _YUEN_B, F.col("h_retained"))).cast("long").alias("h_b"),
        F.min(F.when(F.col("g") == _YUEN_A, F.col("__mt"))).alias("mta"),
        F.min(F.when(F.col("g") == _YUEN_B, F.col("__mt"))).alias("mtb"),
        F.min(F.when(F.col("g") == _YUEN_A, F.col("__d"))).alias("da"),
        F.min(F.when(F.col("g") == _YUEN_B, F.col("__d"))).alias("db"),
    )
    tstat = (F.col("mta") - F.col("mtb")) / F.sqrt(F.col("da") + F.col("db"))
    return folded.select(
        "n_a", "n_b", "h_a", "h_b",
        _dec_round(F.col("mta"), 6).alias("trimmed_mean_a"),
        _dec_round(F.col("mtb"), 6).alias("trimmed_mean_b"),
        _dec_round(tstat, 4).alias("yuen_t"),
    )


_YUEN_SQL = f"""
WITH yu_f AS (
  SELECT l_returnflag AS g, l_quantity::BIGINT AS v, count(*) AS c
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_returnflag IN ('{_YUEN_A}', '{_YUEN_B}')
  GROUP BY 1, 2
),
yu_r AS (
  SELECT g, v, c,
         sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY g) AS n
  FROM yu_f
),
yu_k AS (SELECT *, n // 5 AS trim FROM yu_r),
yu_b AS (
  SELECT g, n, trim,
         min(CASE WHEN cum >= trim + 1 THEN v END) AS vlo,
         min(CASE WHEN cum >= n - trim THEN v END) AS vhi
  FROM yu_k GROUP BY 1, 2, 3
),
yu_s AS (
  SELECT g,
         sum(greatest(0, least(cum, n - trim) - greatest(cum - c, trim)) * v) AS st,
         sum(greatest(0, least(cum, n - trim) - greatest(cum - c, trim)) * v * v) AS qt
  FROM yu_k GROUP BY 1
),
yu_p AS (
  SELECT b.g, b.n, b.trim, (b.n - 2 * b.trim) AS h,
         s.st + b.trim * (b.vlo + b.vhi) AS sw,
         s.qt + b.trim * (b.vlo * b.vlo + b.vhi * b.vhi) AS qw,
         s.st
  FROM yu_b b JOIN yu_s s ON b.g = s.g
),
yu_w AS (
  SELECT g, n, h,
         st::DOUBLE / h::DOUBLE AS mt,
         (qw::DOUBLE - sw::DOUBLE * sw::DOUBLE / n::DOUBLE)
           / (h::DOUBLE * (h::DOUBLE - 1.0)) AS d
  FROM yu_p
),
yu_x AS (
  SELECT min(CASE WHEN g = '{_YUEN_A}' THEN n END)::BIGINT AS n_a,
         min(CASE WHEN g = '{_YUEN_B}' THEN n END)::BIGINT AS n_b,
         min(CASE WHEN g = '{_YUEN_A}' THEN h END)::BIGINT AS h_a,
         min(CASE WHEN g = '{_YUEN_B}' THEN h END)::BIGINT AS h_b,
         min(CASE WHEN g = '{_YUEN_A}' THEN mt END) AS mta,
         min(CASE WHEN g = '{_YUEN_B}' THEN mt END) AS mtb,
         min(CASE WHEN g = '{_YUEN_A}' THEN d END) AS da,
         min(CASE WHEN g = '{_YUEN_B}' THEN d END) AS db
  FROM yu_w
)
SELECT n_a, n_b, h_a, h_b,
       round(mta::DECIMAL(18,8), 6)::DOUBLE AS trimmed_mean_a,
       round(mtb::DECIMAL(18,8), 6)::DOUBLE AS trimmed_mean_b,
       round(((mta - mtb) / sqrt(da + db))::DECIMAL(18,8), 4)::DOUBLE AS yuen_t
FROM yu_x
"""


QUERIES["yuen_test"] = q_yuen_test
ORACLES["yuen_test"] = _YUEN_SQL


# ---------------------------------------------------------------------------
# binned 1-D Wasserstein (earth mover's) distance panel — round 10
# ---------------------------------------------------------------------------

_EMD_BIN = 10_000


def q_earth_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise earth-mover's (1-D Wasserstein-1) distances between the
    order-price distributions of the five order priorities — the
    drift metric that reports HOW FAR mass must move (in dollars),
    where KS reports only the largest CDF gap and PSI/JS blow up on
    empty bins. Binned at $10k (the sample_ks convention: a binned W1
    lower-bounds the true one; bin width is the resolution statement).

    Exactness: per-bin cumulative counts are integer window sums over
    the DENSE (priority × bin) grid (a sparse grid would misalign the
    pair join); the CDF gap is cross-multiplied — |cumA·NB − cumB·NA|
    — so the only float ops are the final scale-and-divide on exact
    sums (terms DECIMAL(38,0)-recast: at petabyte row counts the int64
    product overflows ANSI — the cohens_kappa discipline). The counts
    frame is localCheckpoint-ed (FOUR consumers: range, priority list,
    grid join, totals); the cum frame too (both pair-join sides — the
    self-join ReusedExchange landmine). Scale shape: everything after
    the one groupBy over orders lives on ≤|priorities|·|bins| rows."""
    o = t(spark, sf_dir, "orders")
    cnt = (
        o.groupBy(
            F.col("o_orderpriority").alias("pr"),
            F.floor(F.col("o_totalprice") / _EMD_BIN).cast("long").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(lazy_checkpoint)
    )
    rng = cnt.agg(F.min("bin").alias("lo"), F.max("bin").alias("hi"))
    grid = rng.select(F.explode(F.sequence("lo", "hi")).alias("bin"))
    prs = cnt.select("pr").distinct()
    dense = prs.crossJoin(F.broadcast(grid))
    cum = dense.join(cnt, ["pr", "bin"], "left").select(
        "pr",
        "bin",
        F.sum(F.coalesce("c", F.lit(0)))
        .over(
            Window.partitionBy("pr")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cum"),
    )
    tot = cnt.groupBy("pr").agg(F.sum("c").alias("n"))
    cumf = (
        cum.join(tot, "pr")
        .select("pr", "bin", "cum", "n")
        .transform(lazy_checkpoint)
    )
    a = cumf.select(
        F.col("pr").alias("pr_a"), "bin",
        F.col("cum").alias("cum_a"), F.col("n").alias("na"),
    )
    b = cumf.select(
        F.col("pr").alias("pr_b"), F.col("bin").alias("bin_b"),
        F.col("cum").alias("cum_b"), F.col("n").alias("nb"),
    )
    j = a.join(
        b,
        (F.col("bin") == F.col("bin_b")) & (F.col("pr_a") < F.col("pr_b")),
    )
    agg = j.groupBy("pr_a", "pr_b", "na", "nb").agg(
        F.sum(
            F.abs(
                F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")
            ).cast("decimal(38,0)")
        ).alias("S")
    )
    return agg.select(
        "pr_a",
        "pr_b",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        _dec_round(
            F.try_divide(
                F.col("S").cast("double") * F.lit(float(_EMD_BIN)),
                (F.col("na").cast("decimal(38,0)") * F.col("nb")).cast(
                    "double"
                ),
            ),
            4,
        ).alias("emd"),
    ).orderBy("pr_a", "pr_b")


_EARTH_MOVERS_SQL = f"""
WITH em_cnt AS (
  SELECT o_orderpriority AS pr, floor(o_totalprice / {_EMD_BIN})::BIGINT AS bin,
         count(*)::BIGINT AS c
  FROM orders GROUP BY 1, 2
),
em_rng AS (SELECT min(bin) AS lo, max(bin) AS hi FROM em_cnt),
em_grid AS (SELECT unnest(generate_series(lo, hi)) AS bin FROM em_rng),
em_dense AS (SELECT p.pr, g.bin
  FROM (SELECT DISTINCT pr FROM em_cnt) p CROSS JOIN em_grid g),
em_tot AS (SELECT pr, sum(c) AS n FROM em_cnt GROUP BY 1),
em_cum AS MATERIALIZED (
  SELECT d.pr, d.bin,
         sum(coalesce(c.c, 0)) OVER (PARTITION BY d.pr ORDER BY d.bin) AS cum
  FROM em_dense d LEFT JOIN em_cnt c ON d.pr = c.pr AND d.bin = c.bin
),
em_j AS (
  SELECT a.pr AS pr_a, b.pr AS pr_b, ta.n AS na, tb.n AS nb,
         sum(abs(a.cum * tb.n - b.cum * ta.n)) AS S
  FROM em_cum a JOIN em_cum b ON a.bin = b.bin AND a.pr < b.pr
  JOIN em_tot ta ON a.pr = ta.pr JOIN em_tot tb ON b.pr = tb.pr
  GROUP BY 1, 2, 3, 4
)
SELECT pr_a, pr_b, na::BIGINT AS n_a, nb::BIGINT AS n_b,
       round(((S::DOUBLE * {float(_EMD_BIN)!r}) / (na * nb)::DOUBLE)::DECIMAL(18,8),
             4)::DOUBLE AS emd
FROM em_j ORDER BY pr_a, pr_b
"""


QUERIES["earth_movers"] = q_earth_movers
ORACLES["earth_movers"] = _EARTH_MOVERS_SQL
