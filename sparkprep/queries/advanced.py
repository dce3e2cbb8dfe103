"""Round-7 advanced analytics block: iterative ML/graph operators in
engine-replayable exact arithmetic (k-means, label propagation, HITS),
a SymSpell spelling-variant join, agreement/impurity/calibration
statistics (Cohen's kappa, transition Gini, isotonic regression), a
linear-interpolation gap fill, and a Wald SPRT early-stopping scan.

Every oracle follows the repo conventions: iterative operators unroll
to fixed-depth MATERIALIZED CTE chains (the pagerank/k_core
convention); every emitted float is either a single IEEE division of
exact integers or a DECIMAL(18,8)-recast round; CTE names are
module-prefixed so fragments can never collide.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkprep.operators import clustering, dedup, graph
from sparkprep.operators import text as tx
from sparkprep.queries import _D18, _dec_round, t
from sparkprep.checkpointing import lazy_checkpoint

_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# k-means (distributed Lloyd, integer-exact)
# ---------------------------------------------------------------------------

_KM_K = 4
_KM_DIMS = 8
_KM_SCALE = 1000
_KM_ROUNDS = 3
_KM_OUT_DIMS = 4


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embeddings table (k=4, first
    8 dims, 3 fixed rounds) with the per-cluster profile readout: size,
    within-cluster sum of squares, leading centroid means.

    Scale shape (operators/clustering.py): each round is one
    map-combined groupBy to k rows + one broadcast of those k centroid
    rows back across the points — the points side never shuffles, and
    the per-point argmin fans out exactly k candidate rows under a
    point-id-keyed window. The integer-exact distance (cross-multiplied
    by n² so the only float op is ONE division of exact int64s) is what
    makes a fixed-depth unrolled-CTE oracle replay every argmin
    bit-identically; headroom: q ≤ dims·(n·scale·max|x|)² ≈ 5·10¹¹ at
    sf0.1 against int64's 9.2·10¹⁸ (at extreme corpus scale the same
    plan runs with double centroid means like any production k-means —
    the integer form is the oracle-exact variant, not a different
    algorithm)."""
    from sparkprep.queries import shared_frames

    asg = shared_frames.kmeans_assignment(
        spark, sf_dir, k=_KM_K, dims=_KM_DIMS, scale=_KM_SCALE,
        rounds=_KM_ROUNDS,
    )
    prof = clustering.cluster_profile(asg, dims=_KM_DIMS, out_dims=_KM_OUT_DIMS)
    return prof.select(
        F.col("cluster").cast("long").alias("cluster"),
        "n_points",
        "wss",
        *[f"mean_{j}" for j in range(_KM_OUT_DIMS)],
    )


def _km_rounds_parts(k: int, dims: int, scale: int, rounds: int):
    """Shared unrolled-Lloyd CTE chain (through the final-assignment
    frame ``km_a{rounds}`` and final centroid state ``km_cf``) — used
    verbatim by the kmeans_assign AND silhouette_score oracles so the
    two replays can never drift. Returns (parts, qexpr, xcols)."""
    xs = ", ".join(
        f"floor(embedding[{j + 1}]::DOUBLE * {scale} + 0.5)::BIGINT AS x{j}"
        for j in range(dims)
    )
    xcols = ", ".join(f"x{j}" for j in range(dims))
    pxcols = ", ".join(f"p.x{j}" for j in range(dims))
    sums = ", ".join(f"sum(x{j})::BIGINT AS s{j}" for j in range(dims))
    qexpr = " + ".join(
        f"(t.n * p.x{j} - t.s{j}) * (t.n * p.x{j} - t.s{j})" for j in range(dims)
    )
    parts = [
        f"km_a0 AS MATERIALIZED (SELECT vec_id AS id, {xs}, "
        f"vec_id % {k} AS c FROM embeddings)"
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"km_c{r} AS MATERIALIZED (SELECT c, count(*)::BIGINT AS n, {sums} "
            f"FROM km_a{r - 1} GROUP BY c)"
        )
        parts.append(
            f"km_d{r} AS MATERIALIZED (SELECT p.id, {pxcols}, t.c, "
            f"({qexpr})::DOUBLE / (t.n * t.n)::DOUBLE AS dist "
            f"FROM km_a{r - 1} p CROSS JOIN km_c{r} t)"
        )
        parts.append(
            f"km_a{r} AS MATERIALIZED (SELECT id, {xcols}, c FROM "
            f"(SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist, c) "
            f"AS rn FROM km_d{r}) WHERE rn = 1)"
        )
    parts.append(
        f"km_cf AS MATERIALIZED (SELECT c, count(*)::BIGINT AS n, {sums} "
        f"FROM km_a{rounds} GROUP BY c)"
    )
    return parts, qexpr, xcols


def _kmeans_sql(k: int, dims: int, scale: int, rounds: int, out_dims: int) -> str:
    parts, qexpr, _xcols = _km_rounds_parts(k, dims, scale, rounds)
    scols = ", ".join(f"t.s{j}" for j in range(out_dims))
    parts.append(
        f"km_q AS (SELECT t.c, t.n, {scols}, "
        f"sum(({qexpr})::HUGEINT) AS qsum "
        f"FROM km_a{rounds} p JOIN km_cf t ON p.c = t.c "
        f"GROUP BY t.c, t.n, {scols})"
    )
    means = ", ".join(
        f"round((s{j}::DOUBLE / n::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS mean_{j}"
        for j in range(out_dims)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT c::BIGINT AS cluster, n::BIGINT AS n_points, "
        "round((qsum::DOUBLE / (n * n)::DOUBLE)::DECIMAL(18,8), 4)::DOUBLE AS wss, "
        + means
        + " FROM km_q"
    )


_KMEANS_SQL = _kmeans_sql(_KM_K, _KM_DIMS, _KM_SCALE, _KM_ROUNDS, _KM_OUT_DIMS)


# ---------------------------------------------------------------------------
# label-propagation communities
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 4


def q_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community structure of the co-purchase graph via deterministic
    synchronous label propagation (4 fixed rounds, most-frequent
    neighbor label, min-label tie-break — operators/graph.py
    ``lpa_communities``), reported as community sizes. Same edge
    construction as k_core/triangle_count (co-purchase pairs supported
    by ≥2 orders; basket cap 64 vs observed max 17, canary-pinned)."""
    from sparkprep.queries import shared_frames

    lbl = shared_frames.lpa_labels(spark, sf_dir, rounds=_LPA_ROUNDS)
    return (
        lbl.groupBy(F.col("community").cast("long").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .orderBy("community")
    )


def _communities_cte_parts(rounds: int) -> list:
    """The LPA CTE chain shared by the communities and modularity
    oracles — returned as a parts LIST (not a rendered string) so
    consumers compose structurally instead of string surgery."""
    parts = [
        "cm_op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        "cm_e AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v "
        "FROM cm_op a JOIN cm_op b ON a.l_orderkey = b.l_orderkey "
        "AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2)",
        "cm_adj AS MATERIALIZED (SELECT u, v FROM cm_e "
        "UNION ALL SELECT v, u FROM cm_e)",
        "cm_l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM cm_adj)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"cm_v{r} AS MATERIALIZED (SELECT a.v AS node, l.lbl, count(*) AS c "
            f"FROM cm_adj a JOIN cm_l{r - 1} l ON a.u = l.node GROUP BY 1, 2)"
        )
        parts.append(
            f"cm_l{r} AS MATERIALIZED (SELECT node, lbl FROM "
            f"(SELECT node, lbl, row_number() OVER "
            f"(PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM cm_v{r}) "
            f"WHERE rn = 1)"
        )
    return parts


def _communities_sql(rounds: int) -> str:
    return (
        "WITH "
        + ",\n".join(_communities_cte_parts(rounds))
        + f"\nSELECT lbl::BIGINT AS community, count(*)::BIGINT AS n_members "
        f"FROM cm_l{rounds} GROUP BY 1 ORDER BY 1"
    )


_COMMUNITIES_SQL = _communities_sql(_LPA_ROUNDS)


# ---------------------------------------------------------------------------
# SymSpell spelling-variant pairs
# ---------------------------------------------------------------------------


def q_spell_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spelling-variant pairs in the part-name vocabulary (Levenshtein
    ≤ 2) via the SymSpell deletion-neighborhood equi-join
    (operators/dedup.py ``symspell_pairs``) — the scale-correct shape:
    candidate cost is Σ|word|² variants per word hash-joined on the
    variant string, never vocabulary²; the oracle brute-forces the
    same answer because the DISTINCT vocabulary is tiny at any SF
    (the data point is the pair list; the plan shape is the point)."""
    part = t(spark, sf_dir, "part")
    words = part.select(
        F.explode(F.split("p_name", " ")).alias("word")
    ).filter(F.length("word") >= 4)
    return dedup.symspell_pairs(words, "word", max_edits=2).orderBy(
        "word_a", "word_b"
    )


_SPELL_PAIRS_SQL = """
WITH sp_w AS (
  SELECT DISTINCT unnest(string_split(p_name, ' ')) AS w FROM part
),
sp_f AS (SELECT w FROM sp_w WHERE length(w) BETWEEN 4 AND 30)
SELECT a.w AS word_a, b.w AS word_b,
       levenshtein(a.w, b.w)::BIGINT AS distance
FROM sp_f a JOIN sp_f b ON a.w < b.w AND levenshtein(a.w, b.w) <= 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Cohen's kappa (heuristic lang-id vs gold label)
# ---------------------------------------------------------------------------


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-rater agreement between the stopword-evidence language
    classifier (textops lang_id, the exact classifier the lang_id
    query ships) and the gold ``lang`` column: observed agreement po,
    chance agreement pe from the marginal products, and Cohen's
    κ = (N·diag − Σ_c row_c·col_c) / (N² − Σ_c row_c·col_c) — every
    ratio is ONE division of exact integers (products carried in
    DECIMAL(38,0): at multi-billion-doc N the int64 N² would overflow
    under ANSI — the t_closeness discipline). The confusion frame is
    ≤|langs|² rows, localCheckpoint-ed because three marginal
    aggregates consume it (self-join/reuse discipline)."""
    docs = t(spark, sf_dir, "documents")
    c = (
        tx.with_lang_id(docs.select("lang", "text"), "text", "guess")
        .groupBy("lang", "guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(lazy_checkpoint)
    )
    tot = c.agg(
        F.sum("n").alias("N"),
        F.sum(
            F.when(F.col("lang") == F.col("guess"), F.col("n")).otherwise(F.lit(0))
        ).alias("diag"),
    )
    rowm = c.groupBy(F.col("lang").alias("cls")).agg(F.sum("n").alias("rn"))
    colm = c.groupBy(F.col("guess").alias("cls")).agg(F.sum("n").alias("cn"))
    s = rowm.join(colm, "cls").agg(
        F.sum(F.col("rn").cast(_D38) * F.col("cn")).alias("S")
    )
    out = tot.crossJoin(F.broadcast(s))
    n38 = F.col("N").cast(_D38)
    return out.select(
        F.col("N").cast("long").alias("n_docs"),
        _dec_round(F.col("diag").cast("double") / F.col("N").cast("double"), 6).alias(
            "po"
        ),
        _dec_round(
            F.col("S").cast("double") / (n38 * F.col("N")).cast("double"), 6
        ).alias("pe"),
        _dec_round(
            F.try_divide(
                (n38 * F.col("diag") - F.col("S")).cast("double"),
                (n38 * F.col("N") - F.col("S")).cast("double"),
            ),
            6,
        ).alias("kappa"),
    )


# classifier fragment mirrors textops._LANG_ID_SQL exactly (same
# stopword lists, same CASE priority); CTE names kp_-prefixed so the
# fragments can never collide with textops' when both interpolate.
_KP_DE = "'der', 'die', 'und', 'das', 'ist', 'nicht', 'ein', 'mit'"
_KP_EN = "'the', 'a', 'and', 'of', 'to', 'in', 'is', 'it'"
_KP_ES = "'el', 'los', 'las', 'una', 'y', 'que', 'por', 'con'"
_KP_FR = "'le', 'les', 'et', 'des', 'une', 'est', 'dans', 'pour'"

_COHENS_KAPPA_SQL = f"""
WITH kp_s AS (
  SELECT lang,
         len(list_filter(string_split(text, ' '), x -> x IN ({_KP_DE}))) AS s_de,
         len(list_filter(string_split(text, ' '), x -> x IN ({_KP_EN}))) AS s_en,
         len(list_filter(string_split(text, ' '), x -> x IN ({_KP_ES}))) AS s_es,
         len(list_filter(string_split(text, ' '), x -> x IN ({_KP_FR}))) AS s_fr
  FROM documents
), kp_g AS (
  SELECT lang,
         CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
              WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
              WHEN s_es >= s_fr THEN 'es'
              ELSE 'fr' END AS guess
  FROM kp_s
), kp_c AS (
  SELECT lang, guess, count(*)::BIGINT AS n FROM kp_g GROUP BY 1, 2
), kp_tot AS (
  SELECT sum(n) AS N, coalesce(sum(n) FILTER (lang = guess), 0) AS diag FROM kp_c
), kp_r AS (SELECT lang AS cls, sum(n) AS rn FROM kp_c GROUP BY 1),
kp_col AS (SELECT guess AS cls, sum(n) AS cn FROM kp_c GROUP BY 1),
kp_e AS (SELECT sum(rn * cn) AS S FROM kp_r JOIN kp_col USING (cls))
SELECT N::BIGINT AS n_docs,
       round((diag::DOUBLE / N::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS po,
       round((S::DOUBLE / (N * N)::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS pe,
       round(((N * diag - S)::DOUBLE / (N * N - S)::DOUBLE)::DECIMAL(18,8),
             6)::DOUBLE AS kappa
FROM kp_tot CROSS JOIN kp_e
"""


# ---------------------------------------------------------------------------
# next-event transition impurity (Gini)
# ---------------------------------------------------------------------------


def q_transition_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Gini impurity of the NEXT-event distribution
    (per-user consecutive pairs): how predictable the follow-up action
    is. Impurity = 1 − Σp² = (tot² − Σn²)/tot² — exact integer algebra
    in DECIMAL(38,0) (entropy would need per-row ln, whose cross-engine
    libm drift is the reason this panel is Gini), ONE division per
    type. One user-keyed lag window over raw events (high-cardinality
    key), one map-combined count, one 5-row fold."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    cnt = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    g = cnt.groupBy("src").agg(
        F.sum("n").alias("tot"),
        F.sum(F.col("n").cast(_D38) * F.col("n")).alias("ss"),
    )
    tot38 = F.col("tot").cast(_D38)
    return g.select(
        F.col("src").alias("event_type"),
        F.col("tot").cast("long").alias("n_transitions"),
        _dec_round(
            F.try_divide(
                (tot38 * F.col("tot") - F.col("ss")).cast("double"),
                (tot38 * F.col("tot")).cast("double"),
            ),
            6,
        ).alias("next_gini"),
    ).orderBy("event_type")


_TRANSITION_GINI_SQL = """
WITH tg_p AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
), tg_c AS (
  SELECT src, dst, count(*)::BIGINT AS n FROM tg_p WHERE dst IS NOT NULL
  GROUP BY 1, 2
), tg_g AS (
  SELECT src, sum(n) AS tot, sum(n::DECIMAL(38,0) * n) AS ss FROM tg_c GROUP BY 1
)
SELECT src AS event_type, tot::BIGINT AS n_transitions,
       round(((tot::DECIMAL(38,0) * tot - ss)::DOUBLE
              / (tot::DECIMAL(38,0) * tot)::DOUBLE)::DECIMAL(18,8),
             6)::DOUBLE AS next_gini
FROM tg_g ORDER BY 1
"""


# ---------------------------------------------------------------------------
# linear-interpolation gap fill
# ---------------------------------------------------------------------------


def q_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly count series densified by LINEAR INTERPOLATION
    (resample_ffill's twin for signals where a gap means 'missing
    reading', not 'zero'): every hour in the global span gets a value;
    missing hours take v_prev + (v_next − v_prev)·(h − h_prev)/(h_next
    − h_prev), edges nearest-fill. Counts and hour indexes are exact
    int64, the fraction is ONE IEEE division and the fill one
    multiply-add — engine-identical. The per-type window runs over the
    GRID frame (hours in the calendar span × |types| — bounded by
    wall-clock time, not data volume; 720×5 here), never raw events;
    the observed aggregate is localCheckpoint-ed because the grid
    bounds, the type list and the fill join all consume it."""
    ev = t(spark, sf_dir, "events")
    obs = (
        ev.groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(lazy_checkpoint)
    )
    bounds = obs.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = bounds.select(F.explode(F.sequence("h0", "h1")).alias("h"))
    types = obs.select("event_type").distinct()
    g = grid.crossJoin(F.broadcast(types))
    j = g.join(obs, ["event_type", "h"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("n").isNotNull(), F.col("h"))
    staged = j.select(
        "event_type",
        "h",
        "n",
        F.last("n", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(wp).alias("ph"),
        F.first("n", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_h, ignorenulls=True).over(wn).alias("nh"),
    )
    filled = (
        F.when(F.col("n").isNotNull(), F.col("n").cast("double"))
        .when(F.col("pv").isNull(), F.col("nv").cast("double"))
        .when(F.col("nv").isNull(), F.col("pv").cast("double"))
        .otherwise(
            F.col("pv").cast("double")
            + (F.col("nv") - F.col("pv")).cast("double")
            * (
                (F.col("h") - F.col("ph")).cast("double")
                / (F.col("nh") - F.col("ph")).cast("double")
            )
        )
    )
    return staged.select(
        "event_type",
        F.col("h").cast("long").alias("h"),
        _dec_round(filled, 4).alias("filled"),
        F.col("n").isNotNull().cast("long").alias("observed"),
    )


_RESAMPLE_INTERP_SQL = """
WITH ri_obs AS MATERIALIZED (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
ri_b AS (SELECT min(h) AS h0, max(h) AS h1 FROM ri_obs),
ri_grid AS (SELECT unnest(generate_series(h0, h1)) AS h FROM ri_b),
ri_types AS (SELECT DISTINCT event_type FROM ri_obs),
ri_g AS (SELECT ty.event_type, g.h FROM ri_grid g CROSS JOIN ri_types ty),
ri_j AS (
  SELECT g.event_type, g.h, o.n FROM ri_g g
  LEFT JOIN ri_obs o ON g.event_type = o.event_type AND g.h = o.h
),
ri_w AS (
  SELECT event_type, h, n,
    last_value(n IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN n IS NOT NULL THEN h END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY h
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
    first_value(n IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN n IS NOT NULL THEN h END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY h
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM ri_j
)
SELECT event_type, h::BIGINT AS h,
  round((CASE WHEN n IS NOT NULL THEN n::DOUBLE
       WHEN pv IS NULL THEN nv::DOUBLE
       WHEN nv IS NULL THEN pv::DOUBLE
       ELSE pv::DOUBLE + (nv - pv)::DOUBLE
            * ((h - ph)::DOUBLE / (nh - ph)::DOUBLE)
   END)::DECIMAL(18,8), 4)::DOUBLE AS filled,
  (n IS NOT NULL)::BIGINT AS observed
FROM ri_w
"""


# ---------------------------------------------------------------------------
# isotonic regression (PAV via the minimax identity)
# ---------------------------------------------------------------------------

_ISO_BINS = 50
_ISO_MULT = 200


def q_isotonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression of P(lang = 'en') against the
    English-stopword-ratio score, on fixed integer score bins: the
    monotone calibration curve (what an sklearn IsotonicRegression
    would fit), computed CLOSED-FORM via the minimax identity
    iso(i) = min_{k≥i} max_{j≤i} avg(y over bins j..k) — no iterative
    pooling, no collect. The bin is pure integer math ((hits·200) div
    n_tokens, capped — both engines truncate identically on
    non-negatives); prefix sums run over the ≤50-row bin frame (the
    ONLY single-partition window, bounded by the fixed bin grid); the
    (j,k) pair frame is ≤ 50·51/2 rows and each weighted average is
    ONE IEEE division of exact int64 prefix differences, so every
    max/min compares identical doubles on both engines."""
    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split("text", " ")
    hits = F.size(F.filter(toks, lambda x: x.isin(*tx.EN_STOPWORDS)))
    bin_col = F.least(
        F.expr(f"({_ISO_MULT} * __hits) div __ntok"), F.lit(_ISO_BINS - 1)
    ).cast("long")
    staged = docs.select(
        hits.alias("__hits"),
        F.size(toks).alias("__ntok"),
        (F.col("lang") == "en").cast("long").alias("__y"),
    )
    from sparkprep.operators import stats

    bins = (
        staged.select(bin_col.alias("bin"), "__y")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("__y").alias("pos"))
        .transform(lazy_checkpoint)
    )
    iso = stats.isotonic_bins(bins, "bin", "cnt", "pos").withColumnRenamed(
        "bin", "ib"
    )
    return (
        bins.join(iso, bins["bin"] == iso["ib"])
        .select(
            F.col("bin"),
            F.col("cnt").cast("long").alias("n"),
            F.col("pos").cast("long").alias("pos"),
            _dec_round(
                F.col("pos").cast("double") / F.col("cnt").cast("double"), 6
            ).alias("rate_raw"),
            _dec_round(F.col("iso"), 6).alias("rate_iso"),
        )
        .orderBy("bin")
    )


_ISOTONIC_SQL = f"""
WITH iso_d AS (
  SELECT least(({_ISO_MULT} * len(list_filter(string_split(text, ' '),
                               x -> x IN ({_KP_EN}))))
               // len(string_split(text, ' ')), {_ISO_BINS - 1})::BIGINT AS bin,
         (lang = 'en')::BIGINT AS y
  FROM documents WHERE text IS NOT NULL
),
iso_b AS MATERIALIZED (
  SELECT bin, count(*)::BIGINT AS cnt, sum(y)::BIGINT AS pos FROM iso_d GROUP BY 1
),
iso_p AS MATERIALIZED (
  SELECT bin, cnt, pos,
         sum(cnt) OVER (ORDER BY bin)::BIGINT AS ccnt,
         sum(pos) OVER (ORDER BY bin)::BIGINT AS cpos
  FROM iso_b
),
iso_pairs AS MATERIALIZED (
  SELECT j.bin AS jb, k.bin AS kb,
         (k.cpos - j.cpos + j.pos)::DOUBLE
           / (k.ccnt - j.ccnt + j.cnt)::DOUBLE AS avgjk
  FROM iso_p j JOIN iso_p k ON j.bin <= k.bin
),
iso_ik AS (
  SELECT i.bin AS ib, p.kb, max(p.avgjk) AS mx
  FROM iso_pairs p JOIN iso_p i ON p.jb <= i.bin AND i.bin <= p.kb
  GROUP BY 1, 2
),
iso_i AS (SELECT ib AS bin, min(mx) AS iso FROM iso_ik GROUP BY 1)
SELECT b.bin, b.cnt AS n, b.pos,
       round((b.pos::DOUBLE / b.cnt::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS rate_raw,
       round(i.iso::DECIMAL(18,8), 6)::DOUBLE AS rate_iso
FROM iso_b b JOIN iso_i i USING (bin) ORDER BY bin
"""


# ---------------------------------------------------------------------------
# HITS (bipartite, exact integer)
# ---------------------------------------------------------------------------

_HITS_TOP = 20


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top authority parts under two unnormalized HITS rounds on the
    order⊃part bipartite graph (operators/graph.py ``hits_bipartite``):
    parts score high when LARGE orders that contain POPULAR parts
    contain them — the mutual-reinforcement ranking degree alone
    misses. Scores after a fixed round count are exact int64 (the norm
    is deliberately skipped: it's a positive per-round scalar, so the
    ranking is identical and the floats — and their cross-engine sqrt
    drift — never exist). Top-k via TakeOrdered on the total order
    (score DESC, part)."""
    li = t(spark, sf_dir, "lineitem")
    auth = graph.hits_bipartite(li, "l_orderkey", "l_partkey", rounds=2)
    return (
        auth.select(F.col("auth").cast("long").alias("p_partkey"), "score")
        .orderBy(F.desc("score"), "p_partkey")
        .limit(_HITS_TOP)
    )


_HITS_SQL = f"""
WITH ht_e AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
ht_a1 AS MATERIALIZED (SELECT p, count(*)::BIGINT AS s FROM ht_e GROUP BY 1),
ht_h1 AS MATERIALIZED (
  SELECT o, sum(s)::BIGINT AS s FROM ht_e JOIN ht_a1 USING (p) GROUP BY 1
),
ht_a2 AS (
  SELECT p, sum(s)::BIGINT AS s FROM ht_e JOIN ht_h1 USING (o) GROUP BY 1
)
SELECT p::BIGINT AS p_partkey, s AS score FROM ht_a2
ORDER BY s DESC, p LIMIT {_HITS_TOP}
"""


# ---------------------------------------------------------------------------
# Wald SPRT early stopping
# ---------------------------------------------------------------------------

_SPRT_P0 = 0.15
_SPRT_P1 = 0.30
_SPRT_ALPHA = 0.05
# log-likelihood increments and Wald boundaries, scaled to exact
# integer micro-nats ONCE here (both engines consume the same int
# literals — no ln() ever runs inside either engine, so there is no
# libm to drift)
_SPRT_AS = round(math.log(_SPRT_P1 / _SPRT_P0) * 1_000_000)
_SPRT_AF = round(math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1_000_000)
_SPRT_ACC = round(math.log((1 - _SPRT_ALPHA) / _SPRT_ALPHA) * 1_000_000)
_SPRT_REJ = round(math.log(_SPRT_ALPHA / (1 - _SPRT_ALPHA)) * 1_000_000)


def q_sprt_stop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Wald sequential probability ratio test on the purchase
    rate (H0: p = 0.15 vs H1: p = 0.30, α = β = 0.05), replayed over
    each user's ordered event stream: the cumulative log-likelihood
    ratio is s·ln(p1/p0) + f·ln(q1/q0) with the increments pre-scaled
    to integer micro-nats, so the whole scan is int64 multiply-adds
    under one user-keyed window. Readout: how many users the monitor
    would stop early for H1 / for H0 / leave running, and the average
    stopping time of each group (sum/count — ONE division)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = ev.select(
        "user_id",
        F.row_number().over(w).alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .over(w)
        .alias("s"),
    ).select(
        "user_id",
        "n",
        (
            F.col("s") * F.lit(_SPRT_AS)
            + (F.col("n") - F.col("s")) * F.lit(_SPRT_AF)
        ).alias("llr"),
    )
    crossed = cum.filter(
        (F.col("llr") >= _SPRT_ACC) | (F.col("llr") <= _SPRT_REJ)
    )
    first = crossed.groupBy("user_id").agg(
        F.min("n").alias("n_stop"), F.min_by("llr", "n").alias("llr_stop")
    )
    users = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_tot"))
    j = users.join(first, "user_id", "left").select(
        F.when(F.col("llr_stop").isNull(), F.lit("continue"))
        .when(F.col("llr_stop") >= _SPRT_ACC, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
        F.coalesce(F.col("n_stop"), F.col("n_tot")).alias("steps"),
    )
    return (
        j.groupBy("decision")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            _dec_round(
                F.sum("steps").cast("double") / F.count(F.lit(1)).cast("double"), 4
            ).alias("avg_steps"),
        )
        .orderBy("decision")
    )


_SPRT_SQL = f"""
WITH sq_c AS (
  SELECT user_id,
         row_number() OVER w AS n,
         sum((event_type = 'purchase')::BIGINT) OVER w AS s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), sq_l AS (
  SELECT user_id, n, s * {_SPRT_AS} + (n - s) * ({_SPRT_AF}) AS llr FROM sq_c
), sq_f AS (
  SELECT user_id, min(n) AS n_stop, min_by(llr, n) AS llr_stop
  FROM sq_l WHERE llr >= {_SPRT_ACC} OR llr <= {_SPRT_REJ} GROUP BY 1
), sq_u AS (
  SELECT user_id, count(*)::BIGINT AS n_tot FROM events GROUP BY 1
), sq_j AS (
  SELECT CASE WHEN f.llr_stop IS NULL THEN 'continue'
              WHEN f.llr_stop >= {_SPRT_ACC} THEN 'accept_h1'
              ELSE 'accept_h0' END AS decision,
         coalesce(f.n_stop, u.n_tot) AS steps
  FROM sq_u u LEFT JOIN sq_f f USING (user_id)
)
SELECT decision, count(*)::BIGINT AS n_users,
       round((sum(steps)::DOUBLE / count(*)::DOUBLE)::DECIMAL(18,8),
             4)::DOUBLE AS avg_steps
FROM sq_j GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "kmeans_assign": q_kmeans_assign,
    "communities": q_communities,
    "spell_pairs": q_spell_pairs,
    "cohens_kappa": q_cohens_kappa,
    "transition_gini": q_transition_gini,
    "resample_interp": q_resample_interp,
    "isotonic_fit": q_isotonic_fit,
    "hits_scores": q_hits_scores,
    "sprt_stop": q_sprt_stop,
}

ORACLES = {
    "kmeans_assign": _KMEANS_SQL,
    "communities": _COMMUNITIES_SQL,
    "spell_pairs": _SPELL_PAIRS_SQL,
    "cohens_kappa": _COHENS_KAPPA_SQL,
    "transition_gini": _TRANSITION_GINI_SQL,
    "resample_interp": _RESAMPLE_INTERP_SQL,
    "isotonic_fit": _ISOTONIC_SQL,
    "hits_scores": _HITS_SQL,
    "sprt_stop": _SPRT_SQL,
}


# ---------------------------------------------------------------------------
# modularity of the LPA partition
# ---------------------------------------------------------------------------


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 4-round LPA partition over the
    co-purchase graph — the quality number that says whether the
    communities are real structure or noise. Exact integer algebra:
    Q·4m² = Σ_c (4m·e_c − d_c²) with e_c = intra-community edges and
    d_c = community degree sum, every product in DECIMAL(38,0)
    (billion-edge m² overflows int64 under ANSI), ONE division at the
    end. The edge set is the shared pair leaf (it feeds the intra-edge
    join AND the m count) and the degrees are the session's shared
    degree frame; the 1-row m frame is a sanctioned broadcast cross."""
    from sparkprep.queries import shared_frames

    # the shared pair frame is already a materialized leaf, so its two
    # consumers (intra-edge join, m count) re-scan it cheaply; degrees
    # are the session's shared degree frame
    edges = shared_frames.copurchase_edges(spark, sf_dir)
    lbl = shared_frames.lpa_labels(spark, sf_dir, rounds=_LPA_ROUNDS)
    m_row = edges.agg(F.count(F.lit(1)).alias("m"))
    deg = shared_frames.copurchase_degrees(spark, sf_dir)
    dc = (
        deg.join(lbl, "node")
        .groupBy("community")
        .agg(F.sum("d").alias("dc"))
    )
    la = lbl.select(F.col("node").alias("u"), F.col("community").alias("ca"))
    lb = lbl.select(F.col("node").alias("v"), F.col("community").alias("cb"))
    ec = (
        edges.join(la, "u")
        .join(lb, "v")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("ec"))
    )
    folded = (
        dc.join(ec, "community", "left")
        .crossJoin(F.broadcast(m_row))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.min("m").cast("long").alias("n_edges"),
            F.sum(
                F.lit(4).cast(_D38) * F.col("m") * F.coalesce(F.col("ec"), F.lit(0))
                - F.col("dc").cast(_D38) * F.col("dc")
            ).alias("num"),
        )
    )
    m38 = F.col("n_edges").cast(_D38)
    return folded.select(
        "n_communities",
        "n_edges",
        _dec_round(
            F.try_divide(
                F.col("num").cast("double"),
                (F.lit(4).cast(_D38) * m38 * F.col("n_edges")).cast("double"),
            ),
            6,
        ).alias("modularity"),
    )


def _modularity_sql(rounds: int) -> str:
    # reuses the communities CTE chain (same names — separate statement),
    # composed from the parts list (no string surgery on a rendered SQL)
    base = "WITH " + ",\n".join(_communities_cte_parts(rounds))
    return (
        base
        + f""",
md_deg AS (SELECT u AS node, count(*) AS d FROM cm_adj GROUP BY 1),
md_m AS (SELECT count(*)::BIGINT AS m FROM cm_e),
md_dc AS (SELECT l.lbl AS c, sum(d)::BIGINT AS dc
          FROM md_deg g JOIN cm_l{rounds} l ON g.node = l.node GROUP BY 1),
md_ec AS (SELECT la.lbl AS c, count(*)::BIGINT AS ec
          FROM cm_e e JOIN cm_l{rounds} la ON e.u = la.node
          JOIN cm_l{rounds} lb ON e.v = lb.node
          WHERE la.lbl = lb.lbl GROUP BY 1),
md_t AS (
  SELECT count(*)::BIGINT AS n_communities, min(mm.m)::BIGINT AS n_edges,
         sum(4::DECIMAL(38,0) * mm.m * coalesce(e.ec, 0)
             - d.dc::DECIMAL(38,0) * d.dc) AS num
  FROM md_dc d LEFT JOIN md_ec e ON d.c = e.c CROSS JOIN md_m mm
)
SELECT n_communities, n_edges,
       round((num::DOUBLE
              / (4::DECIMAL(38,0) * n_edges * n_edges)::DOUBLE)::DECIMAL(18,8),
             6)::DOUBLE AS modularity
FROM md_t"""
    )


_MODULARITY_SQL = _modularity_sql(_LPA_ROUNDS)


# ---------------------------------------------------------------------------
# U-shaped (position-based) multi-touch attribution
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 7 * 86400 * 1_000_000


def q_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every
    non-purchase touch is assigned to the user's NEXT purchase within
    7 days via ONE forward-looking keyed window (never an interval
    join — per-user fan-out would be touches x purchases); per journey
    the first and last touch take 4000 basis points each and the
    middle touches split 2000 (n=1 -> 10000, n=2 -> 5000/5000).
    Basis points are exact ints except the middle split — ONE division
    of exact ints, recast DECIMAL(18,8) per row so the per-channel
    credit sums are order-independent (the decayed_value discipline).
    last-touch attribution is the asof-join sibling (q_attribution)."""
    ev = t(spark, sf_dir, "events")
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    is_p = F.col("event_type") == "purchase"
    staged = ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.first(
            F.when(is_p, F.struct(F.unix_micros("ts").alias("pus"), F.col("event_id").alias("pid"))),
            ignorenulls=True,
        )
        .over(w_next)
        .alias("np"),
    )
    touches = staged.filter(
        (~(F.col("event_type") == "purchase"))
        & F.col("np").isNotNull()
        & ((F.col("np.pus") - F.col("us")) <= F.lit(_ATTR_WINDOW_US))
    ).select(
        "user_id",
        "event_type",
        "us",
        "event_id",
        F.col("np.pid").alias("pid"),
    )
    wj = Window.partitionBy("user_id", "pid").orderBy("us", "event_id")
    wn = Window.partitionBy("user_id", "pid")
    pos = touches.select(
        "event_type",
        F.row_number().over(wj).alias("pos"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bp = (
        F.when(F.col("n") == 1, F.lit(10000.0))
        .when(F.col("n") == 2, F.lit(5000.0))
        .when(F.col("pos") == 1, F.lit(4000.0))
        .when(F.col("pos") == F.col("n"), F.lit(4000.0))
        .otherwise(
            F.lit(2000).cast("double") / (F.col("n") - 2).cast("double")
        )
    )
    return (
        pos.select("event_type", bp.cast(_D18).alias("__bp"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.round(F.sum("__bp"), 4).cast("double").alias("credit_bp"),
        )
        .orderBy("event_type")
    )


_POSITION_ATTRIBUTION_SQL = f"""
WITH pa_s AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
         first_value(CASE WHEN event_type = 'purchase'
                          THEN {{'pus': epoch_us(ts), 'pid': event_id}} END
                     IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np
  FROM events
), pa_t AS (
  SELECT user_id, event_type, us, event_id, np.pid AS pid
  FROM pa_s
  WHERE event_type <> 'purchase' AND np IS NOT NULL
    AND np.pus - us <= {_ATTR_WINDOW_US}
), pa_p AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY user_id, pid ORDER BY us, event_id) AS pos,
         count(*) OVER (PARTITION BY user_id, pid) AS n
  FROM pa_t
)
SELECT event_type, count(*)::BIGINT AS n_touches,
       round(sum((CASE WHEN n = 1 THEN 10000.0
                       WHEN n = 2 THEN 5000.0
                       WHEN pos = 1 THEN 4000.0
                       WHEN pos = n THEN 4000.0
                       ELSE 2000::DOUBLE / (n - 2)::DOUBLE
                  END)::DECIMAL(18,8)), 4)::DOUBLE AS credit_bp
FROM pa_p GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# exact Jaccard histogram over candidate pairs
# ---------------------------------------------------------------------------


def q_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-threshold sweep for dedup tuning: the distribution of
    EXACT 3-gram Jaccard over candidate pairs of the planted near-dup
    sub-corpus, binned by (10·|A∩B|) div |A∪B| — pure integer math, no
    float anywhere in the whole query. At corpus scale the candidate
    stream comes from the LSH bands (minhash_pairs); the bounded
    sub-corpus here is the exact-verifier configuration, same as
    q_jaccard_pairs. Tells you where the j-threshold should sit before
    committing a full dedup pass."""
    from sparkprep.operators import dedup as dd
    from sparkprep.queries.llmprep import _corpus_near

    corpus = _corpus_near(spark, sf_dir).filter((F.col("doc_id") % 10000) < 60)
    sh = dd.explode_shingles(corpus, "text", "doc_id", 3).transform(lazy_checkpoint)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    binned = (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            F.least(
                F.expr("(10 * n_inter) div (n_a + n_b - n_inter)"), F.lit(9)
            )
            .cast("long")
            .alias("j_bin")
        )
    )
    return (
        binned.groupBy("j_bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("j_bin")
    )


def _jaccard_histogram_sql() -> str:
    from sparkprep.queries.llmprep import _CORPUS_NEAR_SQL

    return f"""
WITH {_CORPUS_NEAR_SQL},
jh_sub AS (SELECT * FROM corpus WHERE doc_id % 10000 < 60),
jh_tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM jh_sub),
jh_sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
          FROM jh_tok, UNNEST(range(1, len(tk) - 1)) AS u(i)),
jh_sz AS (SELECT doc_id, count(*) AS n FROM jh_sh GROUP BY 1),
jh_in AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM jh_sh a JOIN jh_sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT least((10 * n_inter) // (na.n + nb.n - n_inter), 9)::BIGINT AS j_bin,
       count(*)::BIGINT AS n_pairs
FROM jh_in
JOIN jh_sz na ON na.doc_id = id_a
JOIN jh_sz nb ON nb.doc_id = id_b
GROUP BY 1 ORDER BY 1
"""


_JACCARD_HISTOGRAM_SQL = _jaccard_histogram_sql()


# ---------------------------------------------------------------------------
# split-conformal prediction interval
# ---------------------------------------------------------------------------

_CONF_ALPHA_NUM = 9  # coverage 1 - alpha = 9/10


def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for a linear model of order
    totalprice on order-date day index: fit on the md5-50% train
    split (closed-form OLS on DECIMAL-exact sufficient statistics —
    the ols_elasticity discipline, no ln so no libm anywhere), take
    q_hat = the ⌈(n_cal+1)·0.9⌉-th smallest absolute calibration
    residual via ``ranks.global_rank`` (range-partitioned — the
    calibration frame is entity-grain and must never single-partition
    sort), and report the finite-sample coverage of pred ± q_hat on
    the held-out test split. The k-th order statistic is tie-safe:
    both engines select the same VALUE at rank k however ties split.
    The 1-row model/q_hat frames are sanctioned broadcast crosses."""
    from sparkprep.operators import ranks

    # o_orderdate arrives TIMESTAMP_NTZ (the loader only normalizes
    # `ts`); cast to session-TZ TIMESTAMP first (identity under the
    # pinned-UTC session — the reorder_gaps convention)
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
        ).alias("x"),
        # DECIMAL(18,8) recast before round (CLAUDE.md round-on-double
        # discipline): safe even if a future testdata generation emits
        # >2-decimal prices whose ×100 product lands on an exact half
        F.round((F.col("o_totalprice") * 100).cast("decimal(18,8)"))
        .cast("long")
        .alias("y_cents"),
    )
    # deterministic md5 3-way split: 0-7 train, 8-b calib, c-f test
    nib = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    staged = orders.select(
        "x",
        "y_cents",
        F.when(nib < "8", F.lit("train"))
        .when(nib < "c", F.lit("calib"))
        .otherwise(F.lit("test"))
        .alias("split"),
    ).transform(lazy_checkpoint)
    d38 = "decimal(38,4)"
    sums = staged.filter(F.col("split") == "train").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y_cents").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("y_cents")).cast(d38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    model = sums.select(
        F.col("n").cast("long").alias("n_train"),
        slope.alias("b"),
        ((sy - slope * sx) / n).alias("a"),
    )
    scored = staged.filter(F.col("split") != "train").crossJoin(
        F.broadcast(model)
    )
    resid = scored.select(
        "split",
        "n_train",
        F.abs(
            F.col("y_cents").cast("double")
            - (F.col("a") + F.col("b") * F.col("x").cast("double"))
        ).alias("r"),
    ).transform(lazy_checkpoint)
    cal = resid.filter(F.col("split") == "calib")
    ranked = ranks.global_rank(
        cal.select("r"), [F.asc("r")], rank_name="rk", total_name="nc"
    )
    # k = ceil((n_cal + 1) * 9 / 10) in exact integers
    qhat = ranked.filter(
        F.col("rk")
        == F.expr(f"((nc + 1) * {_CONF_ALPHA_NUM} + 9) div 10")
    ).agg(F.min("r").alias("q_hat"), F.min("nc").alias("n_cal"))
    test = resid.filter(F.col("split") == "test").crossJoin(F.broadcast(qhat))
    return test.agg(
        F.min("n_train").alias("n_train"),
        F.min("n_cal").cast("long").alias("n_cal"),
        F.count(F.lit(1)).cast("long").alias("n_test"),
        _dec_round(F.min("q_hat") / F.lit(100.0), 4).alias("q_hat"),
        _dec_round(
            F.sum((F.col("r") <= F.col("q_hat")).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("coverage"),
    )


_CONFORMAL_SQL = f"""
WITH cf_o AS (
  SELECT o_orderkey,
         epoch_us(o_orderdate) // 86400000000 AS x,
         round((o_totalprice * 100)::DECIMAL(18,8))::BIGINT AS y_cents,
         CASE WHEN substring(md5(o_orderkey::VARCHAR), 1, 1) < '8' THEN 'train'
              WHEN substring(md5(o_orderkey::VARCHAR), 1, 1) < 'c' THEN 'calib'
              ELSE 'test' END AS split
  FROM orders
), cf_s AS (
  SELECT count(*) AS n,
         sum(x::DECIMAL(38,4)) AS sx, sum(y_cents::DECIMAL(38,4)) AS sy,
         sum((x * y_cents)::DECIMAL(38,4)) AS sxy,
         sum((x * x)::DECIMAL(38,4)) AS sxx
  FROM cf_o WHERE split = 'train'
), cf_m AS (
  SELECT n::BIGINT AS n_train,
         (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
           / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) AS b,
         (sy::DOUBLE - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
           / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)) * sx::DOUBLE)
           / n::DOUBLE AS a
  FROM cf_s
), cf_r AS (
  SELECT split, n_train,
         abs(y_cents::DOUBLE - (a + b * x::DOUBLE)) AS r
  FROM cf_o CROSS JOIN cf_m WHERE split <> 'train'
), cf_rk AS (
  SELECT r, row_number() OVER (ORDER BY r) AS rk, count(*) OVER () AS nc
  FROM cf_r WHERE split = 'calib'
), cf_q AS (
  SELECT min(r) AS q_hat, min(nc)::BIGINT AS n_cal FROM cf_rk
  WHERE rk = ((nc + 1) * {_CONF_ALPHA_NUM} + 9) // 10
)
SELECT min(n_train)::BIGINT AS n_train,
       min(q.n_cal) AS n_cal,
       count(*)::BIGINT AS n_test,
       round((min(q.q_hat) / 100.0)::DECIMAL(18,8), 4)::DOUBLE AS q_hat,
       round((sum((r <= q.q_hat)::BIGINT)::DOUBLE
              / count(*)::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS coverage
FROM cf_r CROSS JOIN cf_q q WHERE split = 'test'
"""


QUERIES.update(
    {
        "modularity": q_modularity,
        "position_attribution": q_position_attribution,
        "jaccard_histogram": q_jaccard_histogram,
        "conformal_interval": q_conformal_interval,
    }
)

ORACLES.update(
    {
        "modularity": _MODULARITY_SQL,
        "position_attribution": _POSITION_ATTRIBUTION_SQL,
        "jaccard_histogram": _JACCARD_HISTOGRAM_SQL,
        "conformal_interval": _CONFORMAL_SQL,
    }
)


# ---------------------------------------------------------------------------
# nDCG@k retrieval evaluation
# ---------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_QUERIES = 20
# log2 discounts precomputed in PYTHON once and embedded as identical
# double literals on both engines (the SPRT-constants discipline) — no
# log2() ever runs inside either engine, so there is no libm to drift.
# repr() round-trips doubles exactly; both parsers bind the same bits.
_NDCG_W = [1.0 / math.log2(i + 1) for i in range(1, _NDCG_K + 1)]
_NDCG_IDCG = [0.0] + [sum(_NDCG_W[: r + 1]) for r in range(_NDCG_K)]


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of brute-force cosine retrieval against the label
    column (binary relevance: neighbor shares the query's label) — the
    ranking-quality companion of retrieval_overlap/recall tests. The
    cosine leg is cosine_topk's exact shape (queries broadcast across
    the corpus, per-query keyed window top-k — the corpus never
    shuffles); the discount weights AND the ideal-DCG prefix table are
    Python-precomputed double literals, per-term products recast
    DECIMAL(18,12) so the per-query DCG sum is order-independent;
    nDCG is ONE division, NULL when a query has no relevant neighbor
    in its top-k (R=0 → ideal DCG 0, try_divide ↔ DuckDB /0)."""
    from sparkprep.operators.similarity import cosine_from_norms, norm_native

    emb = t(spark, sf_dir, "embeddings")
    # norms per join side: the per-pair cosine is one dot fold
    # (bit-identical — cosine_from_norms)
    q = emb.filter(F.col("vec_id") < _NDCG_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.col("label").alias("__ql"),
        norm_native(F.col("embedding")).alias("__qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        F.col("label").alias("__nl"),
        norm_native(F.col("embedding")).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "__ql",
            "__nl",
            cosine_from_norms(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ).alias("__cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__cos"), F.asc("neighbor_id")
    )
    ranked = (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= _NDCG_K)
        .select(
            "query_id",
            (F.col("__ql") == F.col("__nl")).cast("long").alias("__rel"),
            F.element_at(
                F.array(*[F.lit(x) for x in _NDCG_W]), F.col("__rk").cast("int")
            ).alias("__w"),
        )
    )
    per_q = ranked.groupBy("query_id").agg(
        F.sum(
            (F.col("__rel").cast("double") * F.col("__w")).cast("decimal(18,12)")
        ).alias("__dcg"),
        F.sum("__rel").alias("__r"),
    )
    idcg = F.lit(None).cast("double")
    expr = None
    for r, v in enumerate(_NDCG_IDCG):
        branch = F.when(F.col("__r") == r, F.lit(v))
        expr = branch if expr is None else expr.when(F.col("__r") == r, F.lit(v))
    idcg = expr.otherwise(F.lit(None))
    return per_q.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("__r").cast("long").alias("n_rel"),
        _dec_round(
            F.try_divide(F.col("__dcg").cast("double"), idcg), 6
        ).alias("ndcg"),
    ).orderBy("query_id")


def _ndcg_sql() -> str:
    from sparkprep.queries.llmprep import _cos_sql

    w_case = " ".join(
        f"WHEN {i + 1} THEN {w!r}" for i, w in enumerate(_NDCG_W)
    )
    idcg_case = " ".join(
        f"WHEN {r} THEN {v!r}" for r, v in enumerate(_NDCG_IDCG)
    )
    return f"""
WITH nd_q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS ql
  FROM embeddings WHERE vec_id < {_NDCG_QUERIES}
),
nd_c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS nl
         FROM embeddings),
nd_s AS (
  SELECT query_id, ql, neighbor_id, nl, {_cos_sql('qv', 'cv')} AS cos
  FROM nd_q, nd_c WHERE neighbor_id != query_id
),
nd_r AS (
  SELECT query_id, ql, nl,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rk
  FROM nd_s
),
nd_t AS (
  SELECT query_id, (ql = nl)::BIGINT AS rel,
         CASE rk {w_case} END AS w
  FROM nd_r WHERE rk <= {_NDCG_K}
),
nd_p AS (
  SELECT query_id, sum((rel::DOUBLE * w)::DECIMAL(18,12)) AS dcg,
         sum(rel) AS r
  FROM nd_t GROUP BY 1
)
SELECT query_id::BIGINT AS query_id, r::BIGINT AS n_rel,
       round((dcg::DOUBLE / (CASE r {idcg_case} END))::DECIMAL(18,8),
             6)::DOUBLE AS ndcg
FROM nd_p ORDER BY 1
"""


_NDCG_SQL = _ndcg_sql()

QUERIES["ndcg_eval"] = q_ndcg_eval
ORACLES["ndcg_eval"] = _NDCG_SQL


# ---------------------------------------------------------------------------
# BFS hop census
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 4


def q_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance census from the minimum part id over the
    co-purchase graph (operators/graph.py ``bfs_hops``, 4 fixed
    rounds): how much of the catalog is within k referral hops of the
    seed — the reachability readout beside two_hop_reach's per-node
    panel. Nodes beyond the horizon (or outside the component) are
    reported as hop −1 via one anti-join of the node set. All exact
    integers."""
    from sparkprep.queries import shared_frames

    edges = shared_frames.copurchase_edges(spark, sf_dir)
    dist = graph.bfs_hops(edges, rounds=_BFS_ROUNDS)
    nodes = (
        edges.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    )
    unreached = nodes.join(dist, "node", "anti").select(
        "node", F.lit(-1).cast("long").alias("hop")
    )
    return (
        dist.select("node", F.col("hop").cast("long").alias("hop"))
        .union(unreached)
        .groupBy("hop")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("hop")
    )


def _bfs_sql(rounds: int) -> str:
    parts = [
        "bf_op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        "bf_e AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v "
        "FROM bf_op a JOIN bf_op b ON a.l_orderkey = b.l_orderkey "
        "AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2)",
        "bf_adj AS MATERIALIZED (SELECT u, v FROM bf_e "
        "UNION ALL SELECT v, u FROM bf_e)",
        "bf_l0 AS MATERIALIZED (SELECT min(u) AS node, 0::BIGINT AS hop "
        "FROM bf_adj)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"bf_l{r} AS MATERIALIZED (SELECT node, min(hop)::BIGINT AS hop "
            f"FROM (SELECT node, hop FROM bf_l{r - 1} "
            f"UNION ALL SELECT a.v AS node, l.hop + 1 AS hop "
            f"FROM bf_adj a JOIN bf_l{r - 1} l ON a.u = l.node) GROUP BY 1)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
bf_n AS (SELECT DISTINCT u AS node FROM bf_adj),
bf_all AS (
  SELECT node, hop FROM bf_l{rounds}
  UNION ALL
  SELECT node, -1::BIGINT AS hop FROM bf_n
  WHERE node NOT IN (SELECT node FROM bf_l{rounds})
)
SELECT hop::BIGINT AS hop, count(*)::BIGINT AS n_nodes
FROM bf_all GROUP BY 1 ORDER BY 1"""
    )


_BFS_SQL = _bfs_sql(_BFS_ROUNDS)

QUERIES["bfs_layers"] = q_bfs_layers
ORACLES["bfs_layers"] = _BFS_SQL


# ---------------------------------------------------------------------------
# sampled closeness centrality (multi-source BFS landmarks) — round 8
# ---------------------------------------------------------------------------

_CLOSENESS_SEEDS = 8
_CLOSENESS_ROUNDS = 4


def q_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled closeness centrality over the co-purchase graph: for 8
    landmark seeds (smallest part ids — deterministic), BFS to hop 4
    via ONE multi-source pass (``graph.multi_bfs_hops`` — the
    Eppstein-Wang estimation shape: landmarks, never all-pairs), then
    per seed the classic closeness (n_reached−1)/Σhop and harmonic
    centrality Σ 1/hop. Hops are exact integers; each 1/hop is ONE
    IEEE division recast DECIMAL(18,12) so the per-seed harmonic sum
    is order-independent; closeness is ONE division of exact int64s."""
    from sparkprep.queries import shared_frames

    edges = shared_frames.copurchase_edges(spark, sf_dir)
    nodes = edges.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    seeds = nodes.orderBy("node").limit(_CLOSENESS_SEEDS)
    dist = graph.multi_bfs_hops(edges, seeds, rounds=_CLOSENESS_ROUNDS)
    per = dist.groupBy("seed").agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.sum("hop").alias("total_hops"),
        F.sum(
            F.when(
                F.col("hop") > 0,
                (F.lit(1.0) / F.col("hop").cast("double")).cast(
                    "decimal(18,12)"
                ),
            )
        ).alias("harm"),
    )
    return per.select(
        F.col("seed").cast("long").alias("seed"),
        (F.col("n_reached") - 1).cast("long").alias("n_reached"),
        F.col("total_hops").cast("long").alias("total_hops"),
        _dec_round(
            F.try_divide(
                (F.col("n_reached") - 1).cast("double"),
                F.col("total_hops").cast("double"),
            ),
            6,
        ).alias("closeness"),
        _dec_round(F.col("harm").cast("double"), 6).alias("harmonic"),
    ).orderBy("seed")


def _closeness_sql(rounds: int, n_seeds: int) -> str:
    parts = [
        "cl_op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        "cl_e AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v "
        "FROM cl_op a JOIN cl_op b ON a.l_orderkey = b.l_orderkey "
        "AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2)",
        "cl_adj AS MATERIALIZED (SELECT u, v FROM cl_e "
        "UNION ALL SELECT v, u FROM cl_e)",
        f"cl_seed AS MATERIALIZED (SELECT node FROM "
        f"(SELECT DISTINCT u AS node FROM cl_adj) ORDER BY node LIMIT {n_seeds})",
        "cl_l0 AS MATERIALIZED (SELECT node AS seed, node, 0::BIGINT AS hop "
        "FROM cl_seed)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"cl_l{r} AS MATERIALIZED (SELECT seed, node, min(hop)::BIGINT AS hop "
            f"FROM (SELECT seed, node, hop FROM cl_l{r - 1} "
            f"UNION ALL SELECT l.seed, a.v AS node, l.hop + 1 AS hop "
            f"FROM cl_adj a JOIN cl_l{r - 1} l ON a.u = l.node) GROUP BY 1, 2)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
cl_per AS (
  SELECT seed, count(*) AS n_reached, sum(hop) AS total_hops,
         sum(CASE WHEN hop > 0
                  THEN (1.0::DOUBLE / hop::DOUBLE)::DECIMAL(18,12) END) AS harm
  FROM cl_l{rounds} GROUP BY 1
)
SELECT seed::BIGINT AS seed,
       (n_reached - 1)::BIGINT AS n_reached,
       total_hops::BIGINT AS total_hops,
       round(((n_reached - 1)::DOUBLE / total_hops::DOUBLE)::DECIMAL(18,8),
             6)::DOUBLE AS closeness,
       round((harm::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS harmonic
FROM cl_per ORDER BY 1"""
    )


QUERIES["closeness_centrality"] = q_closeness_centrality
ORACLES["closeness_centrality"] = _closeness_sql(
    _CLOSENESS_ROUNDS, _CLOSENESS_SEEDS
)


# ---------------------------------------------------------------------------
# local clustering coefficients (top-degree nodes) — round 8
# ---------------------------------------------------------------------------

_LCC_TOP = 20


def q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient for the 20 highest-degree
    co-purchase nodes: lcc(v) = 2·T(v) / (d(v)·(d(v)−1)) with T(v) the
    closed neighbor-pair (triangle) count — the node-level companion of
    triangle_count's global census, and the standard "is this hub a
    community or a star" probe.

    Scale shape: the neighbor-pair fan-out is restricted to the TOP-K
    selection (broadcast), so the wedge frame is Σ d(v)² over 20 nodes
    — bounded by the co-occurrence degree cap, never the graph size;
    closure is one hash equi-join of wedges against the canonical
    (a<b) edge list. Degree ties break by node id for a deterministic
    panel. All counts exact int64; lcc is ONE division."""
    from sparkprep.queries import shared_frames

    edges = shared_frames.copurchase_edges(spark, sf_dir, a="ea", b="eb")
    adj = graph.directed_ends_capped(edges, a_col="ea", b_col="eb")
    deg = shared_frames.copurchase_degrees(spark, sf_dir).select(
        F.col("node").alias("u"), F.col("d").alias("degree")
    )
    top = deg.orderBy(F.desc("degree"), F.asc("u")).limit(_LCC_TOP)
    nbrs = adj.join(F.broadcast(top.select("u", "degree")), "u")
    n1 = nbrs.select("u", "degree", F.col("v").alias("a"))
    n2 = nbrs.select("u", F.col("v").alias("b"))
    wedges = (
        n1.join(n2, "u")
        .filter(F.col("a") < F.col("b"))
        .select("u", "degree", "a", "b")
    )
    tri = (
        wedges.join(
            edges, (F.col("a") == F.col("ea")) & (F.col("b") == F.col("eb"))
        )
        .groupBy("u", "degree")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = top.join(tri, ["u", "degree"], "left").select(
        F.col("u").cast("long").alias("node"),
        F.col("degree").cast("long").alias("degree"),
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        _dec_round(
            F.try_divide(
                (F.lit(2) * F.coalesce("triangles", F.lit(0))).cast("double"),
                (F.col("degree") * (F.col("degree") - 1)).cast("double"),
            ),
            6,
        ).alias("lcc"),
    )
    return out.orderBy(F.desc("degree"), F.asc("node"))


_LOCAL_CLUSTERING_SQL = f"""
WITH lc_op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
lc_e AS MATERIALIZED (SELECT a.l_partkey AS ea, b.l_partkey AS eb
  FROM lc_op a JOIN lc_op b ON a.l_orderkey = b.l_orderkey
  AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2),
lc_adj AS MATERIALIZED (SELECT ea AS u, eb AS v FROM lc_e
  UNION ALL SELECT eb AS u, ea AS v FROM lc_e),
lc_deg AS (SELECT u, count(*) AS degree FROM lc_adj GROUP BY 1),
lc_top AS MATERIALIZED (SELECT u, degree FROM lc_deg
  ORDER BY degree DESC, u LIMIT {_LCC_TOP}),
lc_n AS MATERIALIZED (SELECT a.u, t.degree, a.v
  FROM lc_adj a JOIN lc_top t ON a.u = t.u),
lc_w AS (SELECT x.u, x.degree, x.v AS a, y.v AS b
  FROM lc_n x JOIN lc_n y ON x.u = y.u AND x.v < y.v),
lc_t AS (SELECT w.u, w.degree, count(*) AS triangles
  FROM lc_w w JOIN lc_e e ON w.a = e.ea AND w.b = e.eb GROUP BY 1, 2)
SELECT t.u::BIGINT AS node, t.degree::BIGINT AS degree,
       coalesce(tr.triangles, 0)::BIGINT AS triangles,
       round(((2 * coalesce(tr.triangles, 0))::DOUBLE
              / (t.degree * (t.degree - 1))::DOUBLE)::DECIMAL(18,8),
             6)::DOUBLE AS lcc
FROM lc_top t LEFT JOIN lc_t tr ON t.u = tr.u AND t.degree = tr.degree
ORDER BY degree DESC, node
"""


QUERIES["local_clustering"] = q_local_clustering
ORACLES["local_clustering"] = _LOCAL_CLUSTERING_SQL


# ---------------------------------------------------------------------------
# chi²-significant co-purchases — round 8
# ---------------------------------------------------------------------------

_CP_CHI2_TOP = 20
_CP_MIN_PAIR = 3


def q_copurchase_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Significance-filtered co-purchase pairs: the 2×2 chi² statistic
    of each part pair against independence — assoc_rules ranks by
    lift, which overranks rare coincidences; chi² weighs the same
    evidence by sample size (the classic market-basket noise filter).

    chi² = N·(O·N − r·c)² / (r·c·(N−r)·(N−c)) over exact int64 counts
    (pair support O from ONE self-join of the distinct order-part
    frame, part supports broadcast) — a single identical IEEE tree per
    pair, so ranking and the rounded statistic agree across engines.
    Support floor + top-20 TakeOrdered keep the output bounded."""
    from sparkprep.queries import shared_frames

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    n_orders = op.select("l_orderkey").distinct().count()
    supp = op.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("s")
    )
    # pair support = n_keys on the session-shared co-purchase frame
    # (the same (item_a, item_b, #shared orders) aggregate this query
    # re-derived via its own self-join before sharing)
    pairs = (
        shared_frames.copurchase_pairs(spark, sf_dir)
        .filter(F.col("n_keys") >= _CP_MIN_PAIR)
        .select(
            F.col("item_a").alias("part_a"),
            F.col("item_b").alias("part_b"),
            F.col("n_keys").alias("o"),
        )
    )
    # per-part support is catalog grain (one row per part) — no forced
    # broadcast; the support-filtered pair frame is the small side and
    # AQE's runtime size check picks the build side
    joined = (
        pairs.join(
            supp.select(F.col("pk").alias("part_a"), F.col("s").alias("ra")),
            "part_a",
        )
        .join(
            supp.select(F.col("pk").alias("part_b"), F.col("s").alias("rb")),
            "part_b",
        )
    )
    N = F.lit(int(n_orders)).cast("double")
    o = F.col("o").cast("double")
    ra = F.col("ra").cast("double")
    rb = F.col("rb").cast("double")
    dev = o * N - ra * rb
    chi2 = F.try_divide(
        N * dev * dev, ra * rb * (N - ra) * (N - rb)
    )
    out = joined.select(
        F.col("part_a").cast("long").alias("part_a"),
        F.col("part_b").cast("long").alias("part_b"),
        F.col("o").cast("long").alias("n_copurchases"),
        F.col("ra").cast("long").alias("support_a"),
        F.col("rb").cast("long").alias("support_b"),
        chi2.alias("__chi2"),
    )
    return (
        out.orderBy(F.desc("__chi2"), F.asc("part_a"), F.asc("part_b"))
        .limit(_CP_CHI2_TOP)
        .select(
            "part_a", "part_b", "n_copurchases", "support_a", "support_b",
            _dec_round(F.col("__chi2"), 4).alias("chi2"),
        )
    )


_COPURCHASE_CHI2_SQL = f"""
WITH cp_op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cp_n AS (SELECT count(DISTINCT l_orderkey) AS n FROM cp_op),
cp_s AS (SELECT l_partkey AS pk, count(*) AS s FROM cp_op GROUP BY 1),
cp_p AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS o
  FROM cp_op a JOIN cp_op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_CP_MIN_PAIR}
),
cp_j AS (
  SELECT part_a, part_b, o, sa.s AS ra, sb.s AS rb, n.n
  FROM cp_p
  JOIN cp_s sa ON sa.pk = part_a
  JOIN cp_s sb ON sb.pk = part_b
  CROSS JOIN cp_n n
),
cp_c AS (
  SELECT part_a::BIGINT AS part_a, part_b::BIGINT AS part_b,
         o::BIGINT AS n_copurchases, ra::BIGINT AS support_a,
         rb::BIGINT AS support_b,
         n::DOUBLE * (o::DOUBLE * n::DOUBLE - ra::DOUBLE * rb::DOUBLE)
           * (o::DOUBLE * n::DOUBLE - ra::DOUBLE * rb::DOUBLE)
           / (ra::DOUBLE * rb::DOUBLE * (n::DOUBLE - ra::DOUBLE)
              * (n::DOUBLE - rb::DOUBLE)) AS chi2
  FROM cp_j
)
SELECT part_a, part_b, n_copurchases, support_a, support_b,
       round(chi2::DECIMAL(18,8), 4)::DOUBLE AS chi2
FROM cp_c ORDER BY cp_c.chi2 DESC, part_a, part_b LIMIT {_CP_CHI2_TOP}
"""


QUERIES["copurchase_chi2"] = q_copurchase_chi2
ORACLES["copurchase_chi2"] = _COPURCHASE_CHI2_SQL


# ---------------------------------------------------------------------------
# link prediction (common neighbors / resource allocation / Jaccard) — round 10
# ---------------------------------------------------------------------------

_LP_TOP = 50


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top non-edges of the co-purchase graph most likely to close,
    scored by the three classic neighborhood predictors (Zhou/Lü/Zhang
    2009): common-neighbor count, resource-allocation index
    RA = Σ_z 1/deg(z), and neighborhood Jaccard — the "which
    cross-sells are we one campaign away from" readout on top of the
    graph family. RA is chosen over Adamic-Adar deliberately: 1/deg is
    ONE division of exact int64s (IEEE-identical on both engines) where
    AA's 1/ln(deg) inherits libm-vs-Math.log ulp drift; per-candidate
    terms recast to DECIMAL(38,12) so the sum is exact and
    order-independent.

    Scale shape: candidates come from the wedge fan-out (adj ⋈ adj on
    the shared mid-node, a<b) — Σ deg(z)² rows, bounded by the
    co-occurrence degree cap (max degree 51/13 across testdata
    generations, canary-pinned), never |V|²; existing edges leave via
    one hash left-anti join on the canonical (a,b) key; deg lookups are
    node-count-sized hash joins. At a 100 TB graph the identical plan
    runs behind ``graph.directed_ends_capped``'s hub guard (the
    journey_distance convention) — top-k-neighbor approximation at hubs
    instead of a deg² blow-up."""
    from sparkprep.queries import shared_frames

    edges = shared_frames.copurchase_edges(spark, sf_dir, a="ea", b="eb")
    adj = graph.directed_ends_capped(edges, a_col="ea", b_col="eb")
    deg = shared_frames.copurchase_degrees(spark, sf_dir).select(
        F.col("node").alias("u"), F.col("d").alias("degree")
    )
    n1 = adj.select(F.col("u").alias("z"), F.col("v").alias("a"))
    n2 = adj.select(F.col("u").alias("z"), F.col("v").alias("b"))
    cand = n1.join(n2, "z").filter(F.col("a") < F.col("b"))
    sc = (
        cand.join(deg.select(F.col("u").alias("z"), "degree"), "z")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(
                (F.lit(1.0) / F.col("degree").cast("double")).cast(
                    "decimal(38,12)"
                )
            ).alias("ra"),
        )
    )
    new = sc.join(
        edges, (F.col("a") == F.col("ea")) & (F.col("b") == F.col("eb")),
        "left_anti",
    )
    da = deg.select(F.col("u").alias("a"), F.col("degree").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("degree").alias("db"))
    out = (
        new.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").cast("long").alias("part_a"),
            F.col("b").cast("long").alias("part_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.col("ra"),
            _dec_round(
                F.try_divide(
                    F.col("cn").cast("double"),
                    (F.col("da") + F.col("db") - F.col("cn")).cast("double"),
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return (
        out.orderBy(
            F.desc("common_neighbors"), F.desc("ra"),
            F.asc("part_a"), F.asc("part_b"),
        )
        .limit(_LP_TOP)
        .select(
            "part_a", "part_b", "common_neighbors",
            F.round(F.col("ra").cast("double"), 6).alias("ra_index"),
            "jaccard",
        )
    )


_LINK_PREDICTION_SQL = f"""
WITH lp_op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
lp_e AS MATERIALIZED (SELECT a.l_partkey AS ea, b.l_partkey AS eb
  FROM lp_op a JOIN lp_op b ON a.l_orderkey = b.l_orderkey
  AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2),
lp_adj AS MATERIALIZED (SELECT ea AS u, eb AS v FROM lp_e
  UNION ALL SELECT eb AS u, ea AS v FROM lp_e),
lp_deg AS MATERIALIZED (SELECT u, count(*) AS degree FROM lp_adj GROUP BY 1),
lp_cand AS (SELECT x.u AS z, x.v AS a, y.v AS b
  FROM lp_adj x JOIN lp_adj y ON x.u = y.u AND x.v < y.v),
lp_sc AS MATERIALIZED (SELECT c.a, c.b, count(*) AS cn,
  sum((1.0 / d.degree::DOUBLE)::DECIMAL(38,12)) AS ra
  FROM lp_cand c JOIN lp_deg d ON c.z = d.u GROUP BY 1, 2),
lp_new AS (SELECT s.* FROM lp_sc s
  WHERE NOT EXISTS (SELECT 1 FROM lp_e e WHERE s.a = e.ea AND s.b = e.eb)),
lp_out AS (SELECT n.a, n.b, n.cn, n.ra,
  round((n.cn::DOUBLE / (da.degree + db.degree - n.cn)::DOUBLE)::DECIMAL(18,8),
        6)::DOUBLE AS jaccard
  FROM lp_new n JOIN lp_deg da ON n.a = da.u JOIN lp_deg db ON n.b = db.u)
SELECT a::BIGINT AS part_a, b::BIGINT AS part_b,
       cn::BIGINT AS common_neighbors,
       round(ra::DOUBLE, 6) AS ra_index, jaccard
FROM lp_out ORDER BY cn DESC, ra DESC, a, b LIMIT {_LP_TOP}
"""


QUERIES["link_prediction"] = q_link_prediction
ORACLES["link_prediction"] = _LINK_PREDICTION_SQL


# ---------------------------------------------------------------------------
# k-truss decomposition — round 10
# ---------------------------------------------------------------------------

_KT_K = 3
_KT_DEPTH = 8


def q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the co-purchase graph: every surviving edge is
    embedded in at least one triangle after iterative peeling — the
    edge-grain cohesion standard beside k_core's node-grain one
    (bridges and star spokes that survive coring are peeled here), with
    each edge's final triangle support as the readout.
    ``graph.k_truss`` starts from the session's shared per-edge
    triangle support (``shared_frames.copurchase_support``, the leaf
    triangle_count also reads), peels distributively (per-round wedge
    fan-out + close join + map-combined support groupBy, survivor set
    lazily checkpoint-ed) and reads its fixpoint off the round's
    support, never a ``count()``: at k=3 no supported edge is below
    the threshold, so the round-0 supports are final and the query
    runs no triangle enumeration of its own. Early exit at the fixpoint is result-identical to
    the oracle's fixed-depth unrolled-CTE replay because edge-peeling
    is monotone (k_core's convention). One peel round on every testdata
    generation vs depth 8 — canary-pinned in
    tests/test_headroom_canaries.py."""
    from sparkprep.queries import shared_frames

    sup = shared_frames.copurchase_support(spark, sf_dir)
    out = graph.k_truss(sup, k=_KT_K, max_rounds=_KT_DEPTH)
    return out.select(
        F.col("u").cast("long").alias("part_a"),
        F.col("v").cast("long").alias("part_b"),
        "support",
    )


def _k_truss_sql(depth: int, k: int) -> str:
    thr = k - 2
    parts = [
        "kt_op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        "kt_e0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v "
        "FROM kt_op a JOIN kt_op b ON a.l_orderkey = b.l_orderkey "
        "AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2)",
    ]
    for i in range(depth):
        # wedge fan-out closed against the current edge list: each
        # triangle {x<y<z} is found once per CENTER, so the (a,b)
        # group count IS that edge's triangle support (AS MATERIALIZED:
        # the chain landmine, CLAUDE.md)
        parts.append(
            f"kt_a{i} AS MATERIALIZED (SELECT u AS z, v AS w FROM kt_e{i} "
            f"UNION ALL SELECT v AS z, u AS w FROM kt_e{i})"
        )
        parts.append(
            f"kt_s{i} AS MATERIALIZED (SELECT w.a AS u, w.b AS v, "
            f"count(*) AS sup FROM "
            f"(SELECT x.w AS a, y.w AS b FROM kt_a{i} x JOIN kt_a{i} y "
            f"ON x.z = y.z AND x.w < y.w) w "
            f"JOIN kt_e{i} e ON w.a = e.u AND w.b = e.v GROUP BY 1, 2)"
        )
        parts.append(
            f"kt_e{i + 1} AS MATERIALIZED (SELECT u, v FROM kt_s{i} "
            f"WHERE sup >= {thr})"
        )
    # honest final supports recomputed on the surviving edge set
    parts.append(
        f"kt_af AS MATERIALIZED (SELECT u AS z, v AS w FROM kt_e{depth} "
        f"UNION ALL SELECT v AS z, u AS w FROM kt_e{depth})"
    )
    parts.append(
        f"kt_sf AS (SELECT w.a AS u, w.b AS v, count(*) AS sup FROM "
        f"(SELECT x.w AS a, y.w AS b FROM kt_af x JOIN kt_af y "
        f"ON x.z = y.z AND x.w < y.w) w "
        f"JOIN kt_e{depth} e ON w.a = e.u AND w.b = e.v GROUP BY 1, 2)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT u::BIGINT AS part_a, v::BIGINT AS part_b, "
        "sup::BIGINT AS support FROM kt_sf"
    )


_K_TRUSS_SQL = _k_truss_sql(_KT_DEPTH, _KT_K)


QUERIES["k_truss"] = q_k_truss
ORACLES["k_truss"] = _K_TRUSS_SQL


# ---------------------------------------------------------------------------
# Krippendorff's alpha (nominal, two raters) — round 10
# ---------------------------------------------------------------------------


def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha between the two language HEURISTICS — the
    stopword-evidence rater (lang_id) and the char-trigram rater
    (lang_id_ngram) — the genuine inter-annotator setting (two
    imperfect raters, no gold) that complements cohens_kappa's
    gold-vs-rater readout. Nominal data, both raters label every unit,
    so the coincidence matrix closes over the ≤|langs|² confusion
    frame: with n = 2U total judgments, Σ_{c≠k} o_ck = 2·(disagreeing
    units) and D_e's numerator is n² − Σ_k n_k², giving
    α = 1 − (n−1)·2D / (n² − Σ n_k²) — ONE division of exact integers
    (marginal products carried in DECIMAL(38,0): cohens_kappa's
    ANSI-overflow discipline). The confusion frame is
    localCheckpoint-ed because the marginal and disagreement
    aggregates both consume it."""
    docs = t(spark, sf_dir, "documents")
    # both raters' scores staged as columns in ONE projection so the
    # argmax CASE chains read attributes instead of re-evaluating each
    # interpreted score expression up to 3x (tx.argmax_lang)
    sw = tx.lang_scores(F.col("text"))
    ng = tx.lang_ngram_scores(F.col("text"))
    staged = docs.select(
        *[sw[lang].alias(f"__sw_{lang}") for lang in sw],
        *[ng[lang].alias(f"__ng_{lang}") for lang in ng],
    )
    conf = (
        staged.select(
            tx.argmax_lang({lang: F.col(f"__sw_{lang}") for lang in sw}).alias("a"),
            tx.argmax_lang({lang: F.col(f"__ng_{lang}") for lang in ng}).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(lazy_checkpoint)
    )
    tot = conf.agg(
        F.sum("n").alias("U"),
        F.sum(
            F.when(F.col("a") != F.col("b"), F.col("n")).otherwise(F.lit(0))
        ).alias("D"),
    )
    marg = (
        conf.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("k"), F.col("n")),
                    F.struct(F.col("b").alias("k"), F.col("n")),
                )
            ).alias("e")
        )
        .select("e.k", "e.n")
        .groupBy("k")
        .agg(F.sum("n").alias("nk"))
        .agg(F.sum(F.col("nk").cast(_D38) * F.col("nk")).alias("SK2"))
    )
    out = tot.crossJoin(F.broadcast(marg))
    return out.select(
        F.col("U").cast("long").alias("n_units"),
        F.col("D").cast("long").alias("n_disagree"),
        _dec_round(
            F.lit(1.0)
            - F.try_divide(
                ((F.col("U").cast(_D38) * 2 - 1) * 2 * F.col("D")).cast(
                    "double"
                ),
                (
                    (F.col("U").cast(_D38) * 2) * (F.col("U").cast(_D38) * 2)
                    - F.col("SK2")
                ).cast("double"),
            ),
            6,
        ).alias("alpha"),
    )


_KRIPPENDORFF_SQL = f"""
WITH ka_s AS (
  SELECT text,
         len(list_filter(string_split(text, ' '), x -> x IN ({_KP_DE}))) AS w_de,
         len(list_filter(string_split(text, ' '), x -> x IN ({_KP_EN}))) AS w_en,
         len(list_filter(string_split(text, ' '), x -> x IN ({_KP_ES}))) AS w_es,
         len(list_filter(string_split(text, ' '), x -> x IN ({_KP_FR}))) AS w_fr
  FROM documents
), ka_g AS (
  SELECT CASE WHEN w_de >= w_en AND w_de >= w_es AND w_de >= w_fr THEN 'de'
              WHEN w_en >= w_es AND w_en >= w_fr THEN 'en'
              WHEN w_es >= w_fr THEN 'es'
              ELSE 'fr' END AS a,
         {{NGRAM_CASE}} AS b
  FROM ka_s
), ka_c AS (
  SELECT a, b, count(*)::BIGINT AS n FROM ka_g GROUP BY 1, 2
), ka_tot AS (
  SELECT sum(n) AS U, coalesce(sum(n) FILTER (a <> b), 0) AS D FROM ka_c
), ka_m AS (
  SELECT k, sum(n) AS nk FROM (
    SELECT a AS k, n FROM ka_c UNION ALL SELECT b AS k, n FROM ka_c
  ) GROUP BY 1
), ka_mm AS (SELECT sum(nk * nk) AS SK2 FROM ka_m)
SELECT U::BIGINT AS n_units, D::BIGINT AS n_disagree,
       round((1.0 - ((2 * U - 1) * 2 * D)::DOUBLE
              / ((2 * U) * (2 * U) - SK2)::DOUBLE)::DECIMAL(18,8),
             6)::DOUBLE AS alpha
FROM ka_tot CROSS JOIN ka_mm
"""


def _krippendorff_sql() -> str:
    score = {
        lang: " + ".join(
            f"(length(lower(text)) - length(replace(lower(text), '{g}', ''))) // 3"
            for g in grams
        )
        for lang, grams in tx._LANG_TRIGRAMS.items()
    }
    ngram_case = (
        f"CASE WHEN ({score['de']}) >= ({score['en']}) "
        f"AND ({score['de']}) >= ({score['es']}) "
        f"AND ({score['de']}) >= ({score['fr']}) THEN 'de' "
        f"WHEN ({score['en']}) >= ({score['es']}) "
        f"AND ({score['en']}) >= ({score['fr']}) THEN 'en' "
        f"WHEN ({score['es']}) >= ({score['fr']}) THEN 'es' "
        f"ELSE 'fr' END"
    )
    return _KRIPPENDORFF_SQL.replace("{NGRAM_CASE}", ngram_case)


QUERIES["krippendorff_alpha"] = q_krippendorff_alpha
ORACLES["krippendorff_alpha"] = _krippendorff_sql()


# ---------------------------------------------------------------------------
# simplified silhouette over the k-means assignment — round 10
# ---------------------------------------------------------------------------


def q_silhouette_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette of the kmeans_assign fit —
    s(p) = (b−a)/max(a,b) with a = distance to the OWN centroid and
    b = the nearest OTHER centroid (the centroid-based silhouette:
    O(n·k), where the classic pairwise form is O(n²) — the only
    honest variant at corpus scale) — the cluster-quality readout
    that says whether k-means found structure or just partitioned
    noise, plus the misassigned count (s < 0: a foreign centroid is
    closer than the point's own).

    Exactness: the same cross-multiplied integer-exact distance as
    kmeans_lloyd (the only float op per candidate is ONE division of
    exact int64s), so a and b are bit-identical on both engines;
    (b−a)/greatest(a,b) is two more IEEE ops on identical doubles;
    per-point s recast DECIMAL(38,12) for the order-independent
    cluster mean. The oracle replays Lloyd through the SHARED
    `_km_rounds_parts` CTE chain — kmeans_assign and this oracle can
    never drift. Scale shape: one broadcast of k centroid rows, one
    map-combined conditional-min groupBy on the point id, one k-row
    output fold; the points never shuffle."""
    from sparkprep.queries import shared_frames

    asg = shared_frames.kmeans_assignment(
        spark, sf_dir, k=_KM_K, dims=_KM_DIMS, scale=_KM_SCALE,
        rounds=_KM_ROUNDS,
    )
    cent = asg.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.element_at("xi", j + 1)).alias(f"__s{j}")
            for j in range(_KM_DIMS)
        ],
    )
    cent = cent.select(
        F.col("cluster").alias("__c"),
        "__n",
        F.array(*[F.col(f"__s{j}") for j in range(_KM_DIMS)]).alias("__s"),
    )
    scored = (
        asg.select("id", "xi", F.col("cluster").alias("own"))
        .crossJoin(F.broadcast(cent))
        .select(
            "id",
            "own",
            "__c",
            (
                F.aggregate(
                    F.zip_with(
                        "xi",
                        "__s",
                        lambda x, s: (F.col("__n") * x - s)
                        * (F.col("__n") * x - s),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ).cast("double")
                / (F.col("__n") * F.col("__n")).cast("double")
            ).alias("dist"),
        )
    )
    ab = scored.groupBy("id", "own").agg(
        F.min(F.when(F.col("__c") == F.col("own"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("__c") != F.col("own"), F.col("dist"))).alias("b"),
    )
    s = ab.select(
        F.col("own").alias("cluster"),
        F.try_divide(
            F.col("b") - F.col("a"), F.greatest("a", "b")
        ).alias("s"),
    )
    return (
        s.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            _dec_round(
                F.try_divide(
                    F.sum(F.col("s").cast("decimal(38,12)")).cast("double"),
                    F.count(F.lit(1)).cast("double"),
                ),
                6,
            ).alias("mean_silhouette"),
            F.sum(
                F.when(F.col("s") < 0, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_negative"),
        )
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            "n_points",
            "mean_silhouette",
            "n_negative",
        )
    )


def _silhouette_sql(k: int, dims: int, scale: int, rounds: int) -> str:
    parts, qexpr, _xcols = _km_rounds_parts(k, dims, scale, rounds)
    parts.append(
        f"sl_d AS MATERIALIZED (SELECT p.id, p.c AS own, t.c, "
        f"({qexpr})::DOUBLE / (t.n * t.n)::DOUBLE AS dist "
        f"FROM km_a{rounds} p CROSS JOIN km_cf t)"
    )
    parts.append(
        "sl_ab AS (SELECT id, own, "
        "min(CASE WHEN c = own THEN dist END) AS a, "
        "min(CASE WHEN c <> own THEN dist END) AS b "
        "FROM sl_d GROUP BY 1, 2)"
    )
    parts.append(
        "sl_s AS (SELECT own AS cluster, (b - a) / greatest(a, b) AS s "
        "FROM sl_ab)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT cluster::BIGINT AS cluster, count(*)::BIGINT AS n_points, "
        "round((sum((s)::DECIMAL(38,12))::DOUBLE / count(*)::DOUBLE)"
        "::DECIMAL(18,8), 6)::DOUBLE AS mean_silhouette, "
        "coalesce(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END), 0)::BIGINT "
        "AS n_negative FROM sl_s GROUP BY 1"
    )


_SILHOUETTE_SQL = _silhouette_sql(_KM_K, _KM_DIMS, _KM_SCALE, _KM_ROUNDS)


QUERIES["silhouette_score"] = q_silhouette_score
ORACLES["silhouette_score"] = _SILHOUETTE_SQL
