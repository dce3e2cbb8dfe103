"""Temporal-join and Arrow-grouped-operator queries.

- asof_rate: AS-OF join (union-and-window composition, one keyed
  shuffle) vs DuckDB's native ASOF JOIN — the strongest possible oracle
  for an operator Spark lacks as a built-in.
- range_count: interval join via bucket-binning equi-join vs the plain
  inequality join DuckDB can afford at this scale.
- grouped_zscore / gmean: pandas-path operators pinned by native-SQL
  oracles (the Python path must equal the declarative form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkprep.functions import numeric
from sparkprep.operators import graph, grouped, skew, temporal
from sparkprep.queries import t
from sparkprep.checkpointing import lazy_checkpoint


def q_asof_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event joined to the most recent hourly per-type average at
    or before its timestamp (feature-store point-in-time-correct join)."""
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    rates = (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.round(F.avg("value"), 4).alias("rate"))
        .select(F.col("w.start").alias("ts"), "event_type", "rate")
    )
    joined = temporal.asof_join(
        ev, rates, on="ts", by="event_type", value_cols=["rate"]
    )
    return joined.select("event_id", "event_type", "rate")


_ASOF_SQL = """
WITH rates AS (
  SELECT date_trunc('hour', ts) AS rts, event_type, round(avg(value), 4) AS rate
  FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.event_type, r.rate
FROM events e
ASOF JOIN rates r ON e.event_type = r.event_type AND e.ts >= r.rts
"""


def q_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events inside each user's first-24h interval, via the binned
    equi-join (a naive inequality join would be a nested-loop over
    |events| x |intervals|)."""
    ev = t(spark, sf_dir, "events")
    intervals = (
        ev.filter(F.col("user_id") < 20)
        .groupBy(F.col("user_id").alias("iv_user"))
        .agg(F.min("ts").alias("start_ts"))
        .withColumn("end_ts", F.col("start_ts") + F.expr("INTERVAL 1 DAY"))
    )
    joined = temporal.range_join(
        ev.select("event_id", "ts"), intervals,
        ts_col="ts", start_col="start_ts", end_col="end_ts", bucket="6 hours",
    )
    return (
        joined.groupBy("iv_user")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("iv_user")
    )


_RANGE_SQL = """
WITH iv AS (
  SELECT user_id AS iv_user, min(ts) AS start_ts, min(ts) + INTERVAL 1 DAY AS end_ts
  FROM events WHERE user_id < 20 GROUP BY 1
)
SELECT iv_user, count(*) AS n_events
FROM events e JOIN iv ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
GROUP BY 1 ORDER BY 1
"""


def q_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas per-type z-scores, pinned by the native window-
    function oracle (Python path == declarative path)."""
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = grouped.grouped_zscore(ev, ["event_type"], "value")
    return out.select("event_id", "event_type", F.round("zscore", 4).alias("zscore"))


_ZSCORE_SQL = """
SELECT event_id, event_type,
       round((value - avg(value) OVER (PARTITION BY event_type))
             / stddev(value) OVER (PARTITION BY event_type), 4) AS zscore
FROM events
"""


def q_pandas_gmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF (geometric mean of price per return flag)
    vs the native exp(avg(ln)) composition."""
    li = t(spark, sf_dir, "lineitem")
    out = grouped.grouped_geometric_mean(li, ["l_returnflag"], "l_extendedprice")
    return out.select(
        "l_returnflag", F.round("gmean", 2).alias("gmean")
    ).orderBy("l_returnflag")


_GMEAN_SQL = """
SELECT l_returnflag,
       round(exp(avg(ln(l_extendedprice)) FILTER (WHERE l_extendedprice > 0)), 2) AS gmean
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-step gap-fill: per-user hourly grid over each user's
    observed span, forward-filled (timeseries resample — the feature-
    store densification step). Bucket math on epoch seconds keeps it
    session-TZ-independent; ts reconstructed for the output."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    return temporal.resample_ffill(ev, "ts", "user_id", "value", step="1 hour")


_RESAMPLE_SQL = """
WITH b AS (
  SELECT user_id, floor(epoch(ts) / 3600)::BIGINT AS bkt, value
  FROM events WHERE user_id < 20
),
obs AS (SELECT user_id, bkt, round(avg(value), 4) AS v FROM b GROUP BY 1, 2),
bounds AS (SELECT user_id, min(bkt) AS b0, max(bkt) AS b1 FROM b GROUP BY 1),
grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bkt FROM bounds),
f AS (
  SELECT g.user_id, g.bkt, o.v,
         last_value(o.v IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bkt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vf
  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.bkt = o.bkt
)
SELECT user_id, to_timestamp(bkt * 3600)::TIMESTAMP AS ts,
       vf AS value_ff, (v IS NULL) AS is_gap
FROM f
"""


def q_rolling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour per-user rolling mean — a RANGE (time-interval)
    window frame, not a ROWS frame: each event sees exactly the events
    in its user's last hour regardless of how many there are. Frame
    bounds ride on exact int64 ``unix_micros`` (see
    temporal.rolling_time_agg for why not a double epoch)."""
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = temporal.rolling_time_agg(ev, "ts", "user_id", "value", window="1 hour")
    return out.select("event_id", "user_id", "value_roll_avg", "n_in_window")


_ROLLING_SQL = """
SELECT event_id, user_id,
       round(avg(value) OVER w, 4) AS value_roll_avg,
       (count(*) OVER w)::BIGINT AS n_in_window
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


def q_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend of daily volume: ordinary
    least-squares slope/intercept via the built-in ``regr_slope`` /
    ``regr_intercept`` aggregates (grouped regression without MLlib —
    two map-combined shuffles, day counts first, then the 5-row fit).
    x is days since a fixed epoch so the intercept is interpretable and
    the doubles stay small."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    d2 = daily.select(
        "event_type",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")).cast("double").alias("x"),
        "n",
    )
    return (
        d2.groupBy("event_type")
        .agg(
            F.round(F.expr("regr_slope(n, x)"), 4).alias("slope"),
            F.round(F.expr("regr_intercept(n, x)"), 4).alias("intercept"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
        .orderBy("event_type")
    )


_DAILY_TREND_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day, count(*)::DOUBLE AS n
  FROM events GROUP BY 1, 2
),
d2 AS (
  SELECT event_type, date_diff('day', DATE '2024-01-01', day)::DOUBLE AS x, n
  FROM daily
)
SELECT event_type,
       round(regr_slope(n, x), 4) AS slope,
       round(regr_intercept(n, x), 4) AS intercept,
       count(*)::BIGINT AS n_days
FROM d2 GROUP BY 1 ORDER BY 1
"""


def q_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Tukey-fence outlier census over event values: exact
    interpolated quartiles, k=1.5 fences, outliers counted against the
    UNROUNDED bounds. One scan — quartiles as partition-frame window
    aggregates, the rollup reusing the same hash partitioning (no
    second exchange; asserted in tests/test_new_analytics.py)."""
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    return numeric.iqr_outlier_report(ev, "event_type", "value", k=1.5)


_OUTLIER_SQL = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY 1
),
f AS (
  SELECT event_type, q1, q3,
         q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
  FROM b
)
SELECT e.event_type,
       round(min(f.q1), 4) AS q1, round(min(f.q3), 4) AS q3,
       round(min(f.lo), 4) AS lo_fence, round(min(f.hi), 4) AS hi_fence,
       count(*)::BIGINT AS n,
       sum(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM events e JOIN f USING (event_type)
GROUP BY 1 ORDER BY 1
"""


def q_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped anomaly detection in batch: each event scored
    against its user's trailing 1-hour mean/stddev (RANGE frame), flagged
    when it sits more than 2σ out with ≥5 supporting points. All three
    window aggregates share ONE spec → one WindowExec, one keyed
    shuffle. mean/σ are rounded THEN compared so the flag decision
    replays bit-identically on both engines (the gopher rounded-ratio
    pattern)."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    mean_r = F.round(F.avg("value").over(w), 4)
    std_r = F.round(F.stddev("value").over(w), 4)
    n = F.count(F.lit(1)).over(w)
    return ev.select(
        "event_id",
        "user_id",
        mean_r.alias("roll_mean"),
        std_r.alias("roll_std"),
        n.cast("long").alias("n_in_window"),
        F.coalesce(
            (F.abs(F.col("value") - mean_r) > 2 * std_r) & (n >= 5), F.lit(False)
        ).alias("is_anomaly"),
    )


_ANOMALY_SQL = """
WITH w0 AS (
  SELECT event_id, user_id, value,
         round(avg(value) OVER w, 4) AS roll_mean,
         round(stddev_samp(value) OVER w, 4) AS roll_std,
         (count(*) OVER w)::BIGINT AS n_in_window
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, roll_mean, roll_std, n_in_window,
       coalesce(abs(value - roll_mean) > 2 * roll_std AND n_in_window >= 5,
                false) AS is_anomaly
FROM w0
"""


def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, minutes from FIRST click
    to the first purchase at-or-after it, rolled up to p50/p90/max.
    Both stages shuffle on user_id (the join and the per-user min reuse
    one partitioning); latency math on exact int64 ``unix_micros``.
    The product-analytics companion to event_funnel — the funnel says
    how many convert, this says how long conversion takes."""
    ev = t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .join(clicks, "user_id")
        .filter(F.col("ts") >= F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"), F.min("tc").alias("tc"))
    )
    mins = (F.unix_micros("tp") - F.unix_micros("tc")) / F.lit(60_000_000.0)
    lat = conv.select(mins.alias("mins"))
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.expr("percentile(mins, 0.5)"), 4).alias("p50_min"),
        F.round(F.expr("percentile(mins, 0.9)"), 4).alias("p90_min"),
        F.round(F.max("mins"), 4).alias("max_min"),
    )


_CONVERSION_LATENCY_SQL = """
WITH c AS (
  SELECT user_id, min(ts) AS tc FROM events
  WHERE event_type = 'click' GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS tp, min(c.tc) AS tc
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= c.tc
  GROUP BY e.user_id
),
l AS (
  SELECT (epoch_us(tp) - epoch_us(tc)) / 60000000.0 AS mins FROM p
)
SELECT count(*)::BIGINT AS n_converted,
       round(quantile_cont(mins, 0.5), 4) AS p50_min,
       round(quantile_cont(mins, 0.9), 4) AS p90_min,
       round(max(mins), 4) AS max_min
FROM l
"""


def q_pattern_completions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming CEP operator
    (streaming/stateful.funnel_pattern_stream): per user the FIRST
    view, first click after it, first purchase after that, kept when
    the chain completes within 24h. Three keyed aggregates — the
    min-based chain needs no per-step self-join over raw events beyond
    the two stage filters, and the streaming reconcile test pins the
    stateful path to THIS definition."""
    ev = t(spark, sf_dir, "events")
    views = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    ).filter(F.col("t_view").isNotNull())
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    c = (
        views.join(clicks, "user_id")
        .filter(F.col("cts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t_view").alias("t_view"), F.min("cts").alias("t_click"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    return (
        c.join(purch, "user_id")
        .filter(F.col("pts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(
            F.min("t_view").alias("t_view"),
            F.min("t_click").alias("t_click"),
            F.min("pts").alias("t_purchase"),
        )
        .withColumn(
            "__dur_raw",
            (F.unix_micros("t_purchase") - F.unix_micros("t_view")) / 1e6,
        )
        .filter(F.col("__dur_raw") <= 86400.0)  # filter UNROUNDED, like the oracle
        .withColumn("duration_sec", F.round("__dur_raw", 1))
        .drop("__dur_raw")
        .orderBy("user_id")
    )


_PATTERN_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(v.t_view) AS t_view, min(e.ts) AS t_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY 1
),
p AS (
  SELECT e.user_id, min(c.t_view) AS t_view, min(c.t_click) AS t_click,
         min(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY 1
)
SELECT user_id, t_view, t_click, t_purchase,
       round((epoch_us(t_purchase) - epoch_us(t_view)) / 1000000.0, 1) AS duration_sec
FROM p
WHERE (epoch_us(t_purchase) - epoch_us(t_view)) / 1000000.0 <= 86400.0
ORDER BY user_id
"""


def q_sequence_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event-type sequences capped at 20 — the
    sequence-model training export (operators/temporal.event_sequences:
    cap applied BEFORE any array state exists, one exchange for window
    + agg). Sample: users 0..199 keep the compare payload bounded."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    out = temporal.event_sequences(
        ev, "user_id", ["ts", "event_id"], "event_type", max_len=20
    )
    return out.orderBy("user_id")


_SEQUENCE_SQL = """
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events WHERE user_id < 200
)
SELECT user_id,
       max(n)::BIGINT AS n_events,
       string_agg(event_type, ',' ORDER BY rn) FILTER (WHERE rn <= 20) AS seq
FROM ranked GROUP BY user_id ORDER BY user_id
"""

_MARKOV_STEPS = 3


def q_markov_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey Markov model: event_type transition probabilities
    fit from each user's (ts, event_id)-ordered sequence, then a 3-step
    power iteration from the uniform start — "where does a typical
    session sit after three clicks". The heavy work (keyed lag window +
    transition count aggregate) runs once; the three iterations are
    broadcast joins over the |states|^2 matrix (operators/graph)."""
    ev = t(spark, sf_dir, "events")
    trans = graph.transition_matrix(
        ev, "user_id", "event_type", [F.col("ts"), F.col("event_id")]
    )
    states = ev.select(F.col("event_type").alias("state")).distinct()
    dist = graph.power_iteration(trans, states, steps=_MARKOV_STEPS)
    return dist.select(
        F.col("state").alias("event_type"),
        F.round("p", 6).alias("p3"),
    )


def _markov_sql(steps: int) -> str:
    """Unrolled k-step oracle: one CTE per iteration, per-step round(12)
    matching graph.power_iteration's cross-engine drift pin."""
    iters = []
    for i in range(1, steps + 1):
        iters.append(
            f"d{i} AS (\n"
            f"  SELECT t.dst AS state, round(sum(t.p * d.p), 12) AS p\n"
            f"  FROM trans t JOIN d{i - 1} d ON t.src = d.state GROUP BY 1\n"
            f")"
        )
    return (
        "WITH seq AS (\n"
        "  SELECT event_type AS dst,\n"
        "         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src\n"
        "  FROM events\n"
        "),\n"
        "edges AS (\n"
        "  SELECT src, dst, count(*) AS n FROM seq WHERE src IS NOT NULL GROUP BY 1, 2\n"
        "),\n"
        "trans AS (\n"
        "  SELECT src, dst, n::DOUBLE / sum(n) OVER (PARTITION BY src) AS p FROM edges\n"
        "),\n"
        "states AS (SELECT DISTINCT event_type AS state FROM events),\n"
        "d0 AS (\n"
        "  SELECT state, round(1.0::DOUBLE / (SELECT count(*) FROM states), 12) AS p\n"
        "  FROM states\n"
        "),\n"
        + ",\n".join(iters)
        + f"\nSELECT state AS event_type, round(p, 6) AS p3 FROM d{steps}"
    )


_MARKOV_SQL = _markov_sql(_MARKOV_STEPS)


def q_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst collapse (operators/temporal.debounce): consecutive
    events of the same (user, type) within 1 hour form one burst — one
    row per burst with its start and size, all in ONE keyed exchange
    (lag boundary + running burst id + per-burst agg share the
    partitioning). The accounting that separates '40 retry spasms' from
    '40 independent actions' before rate features are built."""
    ev = t(spark, sf_dir, "events")
    out = temporal.debounce(
        ev, ["user_id", "event_type"], "ts",
        gap="1 hour", order_cols=["ts", "event_id"],
    )
    return out.select(
        "user_id", "event_type", "burst_id", "burst_start", "n_events"
    )


_DEBOUNCE_SQL = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
              THEN 1 ELSE 0 END AS newb
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
),
bursts AS (
  SELECT user_id, event_type, ts,
         sum(newb) OVER (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING)::BIGINT AS burst_id
  FROM marked
)
SELECT user_id, event_type, burst_id,
       min(ts)::TIMESTAMP AS burst_start,
       count(*)::BIGINT AS n_events
FROM bursts GROUP BY user_id, event_type, burst_id
"""


def q_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed per-user value (operators/temporal.decayed_agg):
    Σ value · 0.5^(age_days / 7), age from the user's newest event.
    Weight rounded at 6 (libm pow ulp drift) and each term summed as
    DECIMAL(18,6) so the total is order-independent across engines."""
    ev = t(spark, sf_dir, "events")
    return temporal.decayed_agg(
        ev, "user_id", "ts", "value", half_life="7 days"
    ).orderBy("user_id")


_EWMA_ALPHA = 0.3


def q_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (users < 50 bound the compare
    payload) — the linear-recurrence showcase for the Arrow grouped-map
    path (operators/grouped.grouped_ewma). The oracle replays the SAME
    recurrence with a recursive CTE, same float op order, same
    constants — bit parity, not approximate agreement."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 50).select(
        "event_id", "user_id", "ts", "value"
    )
    out = grouped.grouped_ewma(
        ev, ["user_id"], ["ts", "event_id"], "value", alpha=_EWMA_ALPHA
    )
    return out.select(
        "event_id", "user_id", F.round("ewma", 6).alias("ewma")
    )


def _ewma_sql() -> str:
    a, b = _EWMA_ALPHA, 1.0 - _EWMA_ALPHA
    # repr(), not a hand-written literal: SQL 0.7 is a DIFFERENT double
    # than Python's 1 - 0.3; the recurrence amplifies the difference
    return f"""
WITH RECURSIVE ordered AS (
  SELECT event_id, user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id < 50
),
ew(user_id, rn, event_id, y) AS (
  SELECT user_id, rn, event_id, value FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn, o.event_id,
         {a!r} * o.value + {b!r} * e.y
  FROM ew e JOIN ordered o ON o.user_id = e.user_id AND o.rn = e.rn + 1
)
SELECT event_id, user_id, round(y, 6) AS ewma FROM ew
"""


_CUSUM_TARGET = 50.0
_CUSUM_SLACK = 5.0
_CUSUM_H = 200.0


def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user one-sided CUSUM over event values (users < 50): the
    sequential drift detector (operators/grouped.grouped_cusum), alarm
    at s > 200. Second recurrence on the Arrow path, pinned bit-exact
    by the same recursive-CTE oracle technique as user_ewma."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 50).select(
        "event_id", "user_id", "ts", "value"
    )
    out = grouped.grouped_cusum(
        ev, ["user_id"], ["ts", "event_id"], "value",
        target=_CUSUM_TARGET, slack=_CUSUM_SLACK, threshold=_CUSUM_H,
    )
    return out.select(
        "event_id", "user_id", F.round("cusum", 6).alias("cusum"), "alarm"
    )


def _cusum_sql() -> str:
    t_, k, h = _CUSUM_TARGET, _CUSUM_SLACK, _CUSUM_H
    return f"""
WITH RECURSIVE ordered AS (
  SELECT event_id, user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id < 50
),
cs(user_id, rn, event_id, y) AS (
  SELECT user_id, rn, event_id,
         greatest(0.0::DOUBLE, value - {t_!r} - {k!r}) FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn, o.event_id,
         greatest(0.0::DOUBLE, c.y + (o.value - {t_!r} - {k!r}))
  FROM cs c JOIN ordered o ON o.user_id = c.user_id AND o.rn = c.rn + 1
)
SELECT event_id, user_id, round(y, 6) AS cusum, y > {h!r} AS alarm FROM cs
"""


_DECAYED_SQL = """
WITH aged AS (
  SELECT user_id, value,
         ((max(epoch_us(ts)) OVER (PARTITION BY user_id) - epoch_us(ts))
          // 1000000) AS age_s
  FROM events
),
terms AS (
  SELECT user_id,
         CAST(value * round(pow(0.5, age_s / 604800.0), 6)
              AS DECIMAL(18,6)) AS t
  FROM aged
)
SELECT user_id,
       round(sum(t)::DOUBLE, 2) AS decayed_value,
       count(*)::BIGINT AS n_events
FROM terms GROUP BY user_id ORDER BY user_id
"""


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path analysis: top-20 session-opening event paths
    (first 5 event types per 30-minute-gap session). Composition of
    sessionize_ids (per-row session membership, one user-keyed
    exchange) and event_sequences (cap-before-collect, one session-
    keyed exchange); the final path rollup aggregates a frame with one
    row per SESSION, not per event."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    sess = temporal.sessionize_ids(
        ev, ["user_id"], "ts", gap="30 minutes", order_cols=["ts", "event_id"]
    ).withColumn("skey", F.concat_ws("#", "user_id", "session_id"))
    seqs = temporal.event_sequences(
        sess, "skey", ["ts", "event_id"], "event_type", max_len=5
    )
    return (
        seqs.groupBy(F.col("seq").alias("path"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


_SESSION_PATHS_SQL = """
WITH o AS (
  SELECT user_id, event_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events
),
s AS (
  SELECT *,
         sum(CASE WHEN pts IS NULL
                    OR epoch_us(ts) - epoch_us(pts) > 1800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
),
r AS (
  SELECT user_id, sess, event_type,
         row_number() OVER (PARTITION BY user_id, sess
                            ORDER BY ts, event_id) AS rk
  FROM s
),
p AS (
  SELECT user_id, sess, string_agg(event_type, ',' ORDER BY rk) AS path
  FROM r WHERE rk <= 5 GROUP BY 1, 2
)
SELECT path, count(*)::BIGINT AS n_sessions
FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20
"""


def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is behavior day-of-week dependent? MI between event_type and
    weekday (profile.mutual_information): one joint groupBy, everything
    else windows over the aggregated contingency frame."""
    from sparkprep.operators import profile

    ev = t(spark, sf_dir, "events").select(
        "event_type", F.expr("weekday(ts)").cast("long").alias("dow")
    )
    return profile.mutual_information(ev, "event_type", "dow")


_MUTUAL_INFO_SQL = """
WITH joint AS (
  SELECT event_type, (isodow(ts) - 1)::BIGINT AS dow, count(*) AS c
  FROM events GROUP BY 1, 2
),
p AS (
  SELECT c::DOUBLE / (sum(c) OVER ())::DOUBLE AS pxy,
         (sum(c) OVER (PARTITION BY event_type))::DOUBLE / (sum(c) OVER ())::DOUBLE AS px,
         (sum(c) OVER (PARTITION BY dow))::DOUBLE / (sum(c) OVER ())::DOUBLE AS py
  FROM joint
),
terms AS (
  SELECT round(pxy * ln(pxy / (px * py)), 6)::DECIMAL(18,6) AS tmi,
         round(pxy * ln(px), 6)::DECIMAL(18,6) AS tha,
         round(pxy * ln(py), 6)::DECIMAL(18,6) AS thb
  FROM p
),
s AS (
  SELECT sum(tmi)::DOUBLE AS smi, (-sum(tha))::DOUBLE AS sha,
         (-sum(thb))::DOUBLE AS shb
  FROM terms
)
SELECT round(smi, 4) AS mi, round(sha, 4) AS h_a, round(shb, 4) AS h_b,
       round(smi / sqrt(sha * shb), 4) AS nmi
FROM s
"""


def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence across users (which behaviors share an
    audience): graph.cooccurrence_pairs over (user_id, event_type) with
    the hot-key cap exercised at 10. Pair emitted once in sorted order;
    see the operator for the cap-before-collect rationale."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type")
    return (
        graph.cooccurrence_pairs(ev, "user_id", "event_type", max_items_per_key=10)
        .orderBy("item_a", "item_b")
    )


_COOCCURRENCE_SQL = """
WITH per AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
cap AS (
  SELECT user_id, event_type FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY n DESC, event_type) AS rk
    FROM per
  ) WHERE rk <= 10
)
SELECT a.event_type AS item_a, b.event_type AS item_b,
       count(*)::BIGINT AS n_keys
FROM cap a JOIN cap b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal split over events: train before Jan 20,
    test from Jan 22, a 2-day embargo between (sized for the trailing
    windows the feature queries use). Map-only labeling; see
    mix.time_split for the look-ahead-leakage rationale."""
    from sparkprep.operators import mix

    ev = t(spark, sf_dir, "events").select("event_id", "ts")
    return mix.time_split(
        ev, "ts", "2024-01-20 00:00:00", "2024-01-22 00:00:00"
    ).select("event_id", "split")


_TIME_SPLIT_SQL = """
SELECT event_id,
       CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
            WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 'test'
            ELSE 'embargo' END AS split
FROM events
"""



def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: every purchase credits the
    user's most recent view/click/signup within a 7-day lookback (or
    '(none)'), rolled up per channel with attributed revenue. Rides
    temporal.asof_join — one keyed exchange, no inequality join."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    touches = ev.filter(
        F.col("event_type").isin("view", "click", "signup")
    ).select("user_id", "ts", "event_type")
    attributed = temporal.last_touch_attribution(
        purchases, touches, "user_id", "ts", "event_type", lookback="7 days"
    )
    return (
        attributed.groupBy(F.col("attributed_channel").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("attributed_value"),
        )
        .orderBy("channel")
    )


_ATTRIBUTION_SQL = """
WITH p AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
),
tch AS (
  SELECT user_id, ts AS tts, event_type AS ch FROM events
  WHERE event_type IN ('view', 'click', 'signup')
),
j AS (
  SELECT p.user_id, p.ts, p.value, t.tts, t.ch
  FROM p ASOF LEFT JOIN tch t
    ON p.user_id = t.user_id AND p.ts >= t.tts
),
lab AS (
  SELECT CASE WHEN tts IS NOT NULL
              AND epoch_us(ts) - epoch_us(tts) <= 604800000000
         THEN ch ELSE '(none)' END AS channel, value
  FROM j
)
SELECT channel, count(*)::BIGINT AS n_conversions,
       round(sum(CAST(value AS DECIMAL(18,4))), 2)::DOUBLE AS attributed_value
FROM lab GROUP BY channel ORDER BY channel
"""



def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust outlier scores: c*(x-median)/MAD — the screen
    whose fences DON'T move with the outliers (unlike z-scores). One
    keyed exchange; both medians are window aggregates over it."""
    from sparkprep.functions import numeric as fnumeric

    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = fnumeric.mad_scores(ev, "value", "event_type")
    return out.select("event_id", "event_type", "mad_z")


_MAD_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
),
mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY 1
)
SELECT e.event_id, e.event_type,
       round(0.6745 * ((e.value - m.med) / NULLIF(d.mad, 0)), 4) AS mad_z
FROM events e
JOIN med m USING (event_type)
JOIN mad d USING (event_type)
"""



def q_join_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight equi-join cardinality forecast (events x purchase
    events on user_id): per-side key counts, exact predicted output
    rows, and the hottest key's share — the diagnostic you run BEFORE
    the join that would melt an executor. Count frames only; the data
    join itself never runs."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return skew.join_size_estimate(ev, purchases, "user_id")


_JOIN_FORECAST_SQL = """
WITH cl AS (SELECT user_id AS key, count(*) AS nl FROM events GROUP BY 1),
cr AS (SELECT user_id AS key, count(*) AS nr FROM events
       WHERE event_type = 'purchase' GROUP BY 1),
m AS (
  SELECT coalesce(cl.key, cr.key) AS key, nl, nr,
         CASE WHEN nl IS NOT NULL AND nr IS NOT NULL THEN nl * nr END AS rows_out
  FROM cl FULL JOIN cr ON cl.key = cr.key
),
tot AS (
  SELECT sum(CASE WHEN nl IS NOT NULL THEN 1 ELSE 0 END) AS n_keys_left,
         sum(CASE WHEN nr IS NOT NULL THEN 1 ELSE 0 END) AS n_keys_right,
         sum(CASE WHEN rows_out IS NOT NULL THEN 1 ELSE 0 END) AS n_matching_keys,
         sum(rows_out) AS predicted_rows
  FROM m
),
top AS (
  SELECT key AS top_key, rows_out AS top_key_rows FROM m
  WHERE rows_out IS NOT NULL ORDER BY rows_out DESC, key ASC LIMIT 1
)
SELECT n_keys_left::BIGINT AS n_keys_left,
       n_keys_right::BIGINT AS n_keys_right,
       n_matching_keys::BIGINT AS n_matching_keys,
       predicted_rows::BIGINT AS predicted_rows,
       top_key, top_key_rows::BIGINT AS top_key_rows,
       round(top_key_rows::DOUBLE / predicted_rows::DOUBLE, 6) AS top_share
FROM tot LEFT JOIN top ON TRUE
"""


def q_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue: exact decimal monthly sums, then lag
    pct-change over the AGGREGATED ~7-year month frame (the sanctioned
    post-agg empty-frame window — never over raw rows)."""
    from pyspark.sql.window import Window

    orders = t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("__rev"))
    w = Window.orderBy("month")
    prev = F.lag("__rev").over(w)
    return monthly.select(
        "month",
        F.round(F.col("__rev"), 2).cast("double").alias("revenue"),
        F.round(
            F.try_divide(
                (F.col("__rev") - prev).cast("double"), prev.cast("double")
            )
            * 100,
            4,
        ).alias("mom_pct"),
    ).orderBy("month")


_MOM_SQL = """
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders GROUP BY 1
)
SELECT month, round(rev, 2)::DOUBLE AS revenue,
       round(((rev - lag(rev) OVER (ORDER BY month))::DOUBLE
              / (lag(rev) OVER (ORDER BY month))::DOUBLE) * 100, 4) AS mom_pct
FROM monthly ORDER BY month
"""



def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B conversion readout: users split by id parity, conversion =
    any purchase event. One keyed exchange to the per-user frame, then
    a single map-only 1-row aggregate (features.ab_test_report)."""
    from sparkprep.operators import features

    ev = t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("__c")
    ).select(
        (F.col("user_id") % 2 == 1).alias("arm"),
        (F.col("__c") == 1).alias("converted"),
    )
    return features.ab_test_report(users, "arm", "converted")


_AB_TEST_SQL = """
WITH users AS (
  SELECT user_id % 2 = 1 AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1 AS conv
  FROM events GROUP BY user_id
),
agg AS (
  SELECT sum(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN arm THEN 1 ELSE 0 END) AS n_b,
         sum(CASE WHEN NOT arm AND conv THEN 1 ELSE 0 END) AS conv_a,
         sum(CASE WHEN arm AND conv THEN 1 ELSE 0 END) AS conv_b
  FROM users
)
SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
       conv_a::BIGINT AS conv_a, conv_b::BIGINT AS conv_b,
       round(conv_a / n_a, 6) AS rate_a,
       round(conv_b / n_b, 6) AS rate_b,
       round(conv_b / n_b - conv_a / n_a, 6) AS lift,
       round((conv_b / n_b - conv_a / n_a)
             / nullif(sqrt(((conv_a + conv_b) / (n_a + n_b))
                           * (1 - (conv_a + conv_b) / (n_a + n_b))
                           * (1.0 / n_a + 1.0 / n_b)), 0), 4) AS z_score
FROM agg
"""



def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the rolling
    DISTINCT no range frame can express: dedup to the daily grain,
    explode each (day,user) into the 7 window ends it serves, dedup,
    count (cost ∝ daily grain x 7, independent of raw event volume)."""
    ev = t(spark, sf_dir, "events")
    return temporal.active_users(ev, "ts", "user_id", window_days=7).orderBy(
        "day"
    )


_ACTIVE_USERS_SQL = """
WITH daily AS (
  SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
),
dau AS (SELECT d, count(*) AS dau FROM daily GROUP BY 1),
expl AS (
  SELECT DISTINCT d + x * INTERVAL 1 DAY AS w, user_id
  FROM daily, UNNEST(range(7)) t(x)
),
wau AS (SELECT w, count(*) AS wau FROM expl GROUP BY 1)
SELECT strftime(dau.d, '%Y-%m-%d') AS day,
       dau::BIGINT AS dau, wau::BIGINT AS wau,
       round(dau::DOUBLE / wau::DOUBLE, 4) AS stickiness
FROM dau JOIN wau ON wau.w = dau.d
ORDER BY day
"""


_ROLL_W_US = 3_600_000_000  # trailing-hour frame, µs


def q_rolling_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour EXACT p50/p90 per event type (RANGE frame) — the
    robust twin of anomaly_flags' mean/sigma: rolling medians don't
    chase a single spike. Both quantiles and the support count share
    ONE window spec -> one WindowExec. Exact ``percentile`` == DuckDB
    ``quantile_cont`` (same linear interpolation); at 100 TB swap in
    percentile_approx over the same frame (documented
    exactness-for-oracle trade, as stats_extended).

    BUCKET-OVERLAP spread for bounded time frames: keyed by event_type
    alone (~5 keys) the window would sort each type's whole stream in
    one task. Because the frame is BOUNDED (trailing hour), every row
    only ever needs history from its own hour-bucket and the previous
    one — so each row is emitted into bucket b (as itself) and b+1 (as
    borrowed history), the window partitions by (type, bucket) —
    high-cardinality, fully parallel — and borrowed copies are dropped
    from the output. Frame membership is provably identical (t−W ≥
    (b−1)·W bounds history to one bucket back), so the output is
    bit-identical to the (type)-keyed window. Cost: 2x the rows.
    ``rolling_quantiles_scale`` is the same function under a second
    registry name."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts")).alias("__us"),
    )
    copies = (
        ev.withColumn("__b", F.expr(f"__us div {_ROLL_W_US}"))
        .select(
            "event_id",
            "event_type",
            "value",
            "__us",
            F.explode(
                F.array(
                    F.struct(
                        F.col("__b").alias("pb"), F.lit(True).alias("own")
                    ),
                    F.struct(
                        (F.col("__b") + 1).alias("pb"),
                        F.lit(False).alias("own"),
                    ),
                )
            ).alias("__c"),
        )
        .select(
            "event_id",
            "event_type",
            "value",
            "__us",
            F.col("__c.pb").alias("__pb"),
            F.col("__c.own").alias("__own"),
        )
    )
    w = (
        Window.partitionBy("event_type", "__pb")
        .orderBy("__us")
        .rangeBetween(-_ROLL_W_US, 0)
    )
    return (
        copies.select(
            "event_id",
            "event_type",
            F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias(
                "roll_p50"
            ),
            F.round(F.expr("percentile(value, 0.9)").over(w), 4).alias(
                "roll_p90"
            ),
            F.count("value").over(w).cast("long").alias("n_in_window"),
            "__own",
        )
        .filter(F.col("__own"))
        .drop("__own")
    )


_ROLLING_QUANTILES_SQL = """
SELECT event_id, event_type,
       round(quantile_cont(value, 0.5) OVER w, 4) AS roll_p50,
       round(quantile_cont(value, 0.9) OVER w, 4) AS roll_p90,
       (count(value) OVER w)::BIGINT AS n_in_window
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


def q_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing from batch history: how late would each event
    have been, measured against the RUNNING MAX event time of its
    user's stream (event_id = arrival order)? The lateness quantiles
    ARE the watermark decision — `withWatermark("ts", p99_lateness)`
    keeps 99% of events out of the late bin. Per-user running max is a
    keyed window (parallel — a global running max would single-
    partition the stream); the rollup is one exact-percentile
    aggregate over int64-µs lateness."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = ev.select(
        (
            F.max(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
        ).alias("__late_us")
    )
    sec = F.col("__late_us") / 1_000_000.0
    staged = late.select(sec.alias("__late_s"))
    return staged.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("__late_s") > 0).cast("long")).alias("n_disordered"),
        F.round(F.expr("percentile(__late_s, 0.5)"), 4).alias("late_p50"),
        F.round(F.expr("percentile(__late_s, 0.95)"), 4).alias("late_p95"),
        F.round(F.expr("percentile(__late_s, 0.99)"), 4).alias("late_p99"),
        F.round(F.max("__late_s"), 4).alias("late_max"),
    )


_WATERMARK_SQL = """
WITH late AS (
  SELECT (max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - epoch_us(ts)) / 1000000.0 AS late_s
  FROM events
)
SELECT count(*)::BIGINT AS n_events,
       sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END)::BIGINT AS n_disordered,
       round(quantile_cont(late_s, 0.5), 4) AS late_p50,
       round(quantile_cont(late_s, 0.95), 4) AS late_p95,
       round(quantile_cont(late_s, 0.99), 4) AS late_p99,
       round(max(late_s), 4) AS late_max
FROM late
"""


def q_did_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences launch readout (features.did_report):
    treated = odd user ids, launch = Jan 16; effect on event value.
    One conditional map-only aggregate; DECIMAL cell sums make the
    four means and the effect engine-exact."""
    from sparkprep.operators import features

    ev = t(spark, sf_dir, "events").select(
        (F.col("user_id") % 2 == 1).alias("treated"),
        (F.col("ts") >= F.lit("2024-01-16").cast("timestamp")).alias("after"),
        "value",
    )
    return features.did_report(ev, "treated", "after", "value")


_DID_SQL = """
WITH src AS (
  SELECT user_id % 2 = 1 AS a,
         ts >= TIMESTAMP '2024-01-16' AS p,
         value::DECIMAL(18,4) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
c AS (
  SELECT
    sum(CASE WHEN a AND NOT p THEN 1 END) AS n_tb,
    sum(CASE WHEN a AND p THEN 1 END) AS n_ta,
    sum(CASE WHEN NOT a AND NOT p THEN 1 END) AS n_cb,
    sum(CASE WHEN NOT a AND p THEN 1 END) AS n_ca,
    sum(CASE WHEN a AND NOT p THEN v END)::DOUBLE / n_tb AS m_tb,
    sum(CASE WHEN a AND p THEN v END)::DOUBLE / n_ta AS m_ta,
    sum(CASE WHEN NOT a AND NOT p THEN v END)::DOUBLE / n_cb AS m_cb,
    sum(CASE WHEN NOT a AND p THEN v END)::DOUBLE / n_ca AS m_ca
  FROM src
)
SELECT (coalesce(n_tb, 0) + coalesce(n_ta, 0))::BIGINT AS n_treated,
       (coalesce(n_cb, 0) + coalesce(n_ca, 0))::BIGINT AS n_control,
       round(m_tb, 4) AS treated_before,
       round(m_ta, 4) AS treated_after,
       round(m_cb, 4) AS control_before,
       round(m_ca, 4) AS control_after,
       round((m_ta - m_tb) - (m_ca - m_cb), 4) AS did_effect
FROM c
"""


def q_freshness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-completeness monitor: each day's event count vs the
    MEDIAN of its own weekday's prior 4 occurrences (weekly
    seasonality baked into the baseline — Mondays compare to Mondays).
    completeness < 0.9 with >= 2 priors flags a short partition before
    a downstream job trains on it. One day-grain groupBy (30 rows at
    any SF), windows over the aggregated frame only; day emitted as a
    string (DATE hash-drift landmine), Spark dayofweek == DuckDB
    dayofweek + 1."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.dayofweek("ts")).cast("long").alias("weekday"),
    )
    w = (
        Window.partitionBy("weekday")
        .orderBy("day")
        .rowsBetween(-4, -1)
    )
    baseline = F.round(F.expr("percentile(n_events, 0.5)").over(w), 4)
    n_prior = F.count("n_events").over(w)
    staged = daily.select(
        "day",
        "weekday",
        "n_events",
        n_prior.cast("long").alias("n_prior"),
        baseline.alias("baseline"),
    )
    completeness = F.round(F.try_divide(F.col("n_events"), F.col("baseline")), 4)
    return staged.select(
        "day",
        "weekday",
        "n_events",
        "n_prior",
        "baseline",
        completeness.alias("completeness"),
        F.coalesce(
            (completeness < 0.9) & (F.col("n_prior") >= 2), F.lit(False)
        ).alias("short_partition"),
    )


_FRESHNESS_SQL = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         count(*) AS n_events,
         (min(dayofweek(ts)) + 1)::BIGINT AS weekday
  FROM events GROUP BY 1
),
w0 AS (
  SELECT day, weekday, n_events::BIGINT AS n_events,
         (count(n_events) OVER w)::BIGINT AS n_prior,
         round(quantile_cont(n_events, 0.5) OVER w, 4) AS baseline
  FROM daily
  WINDOW w AS (PARTITION BY weekday ORDER BY day
               ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
)
SELECT day, weekday, n_events, n_prior, baseline,
       round(n_events::DOUBLE / baseline, 4) AS completeness,
       coalesce(round(n_events::DOUBLE / baseline, 4) < 0.9 AND n_prior >= 2,
                false) AS short_partition
FROM w0
"""


def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type autocorrelation of daily volume at lags 1-3
    (``temporal.autocorrelation``) — the seasonality/trend probe that
    decides whether daily_trend's linear fit is even the right model.
    One daily groupBy, keyed lag window over the |days|-per-key frame,
    one grouped corr pass; round(4) pins summation-order drift exactly
    as q_correlations does."""
    ev = t(spark, sf_dir, "events")
    return temporal.autocorrelation(
        ev, "event_type", "ts", lags=(1, 2, 3)
    ).orderBy("event_type")


def _autocorr_lag_sql(k: int) -> str:
    """Exact-int64-moment Pearson for lag k, mirroring
    temporal.autocorrelation: integer moments (exact), two sqrts of
    exact ints, one division — bit-identical to Spark. NOT DuckDB's
    corr(): the Spark side can't use F.corr (ANSI throws on zero
    variance), so the oracle replays the identical moment formula."""
    return (
        f"count(l{k}) AS c{k},"
        f" sum(CASE WHEN l{k} IS NOT NULL THEN n END) AS sx{k},"
        f" sum(l{k}) AS sy{k},"
        f" sum(CASE WHEN l{k} IS NOT NULL THEN n * n END) AS sxx{k},"
        f" sum(l{k} * l{k}) AS syy{k},"
        f" sum(n * l{k}) AS sxy{k}"
    )


def _autocorr_out_sql(k: int) -> str:
    num = f"(c{k} * sxy{k} - sx{k} * sy{k})::DOUBLE"
    den = (
        f"sqrt((c{k} * sxx{k} - sx{k} * sx{k})::DOUBLE)"
        f" * sqrt((c{k} * syy{k} - sy{k} * sy{k})::DOUBLE)"
    )
    return f"round(({num} / ({den}))::DECIMAL(18,8), 4)::DOUBLE AS acf_{k}"


_AUTOCORR_SQL = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day, count(*) AS n
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, n,
         lag(n, 1) OVER w AS l1,
         lag(n, 2) OVER w AS l2,
         lag(n, 3) OVER w AS l3
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
mom AS (
  SELECT event_type,
         {_autocorr_lag_sql(1)},
         {_autocorr_lag_sql(2)},
         {_autocorr_lag_sql(3)}
  FROM lagged GROUP BY event_type
)
SELECT event_type,
       {_autocorr_out_sql(1)},
       {_autocorr_out_sql(2)},
       {_autocorr_out_sql(3)}
FROM mom ORDER BY event_type
"""


def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline-bounded ordered funnel signup → view → click →
    purchase: a user advances a stage only with an event strictly
    after their previous stage and within 7 days of their first
    signup (``temporal.window_funnel``'s earliest-start greedy
    chain). The step-count companion of conversion_latency — how MANY
    reach each stage in order, not just how fast the converters are.
    The oracle replays the identical sequential-min CTE chain."""
    ev = t(spark, sf_dir, "events")
    return temporal.window_funnel(
        ev, "user_id", "event_type", "ts",
        ["signup", "view", "click", "purchase"], window="7 days",
    )


_WINDOW_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS tk, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS tk, min(s1.t1) AS t1
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > s1.tk
    AND e.ts <= s1.t1 + INTERVAL 7 DAY
  GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS tk, min(s2.t1) AS t1
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s2.tk
    AND e.ts <= s2.t1 + INTERVAL 7 DAY
  GROUP BY 1
),
s4 AS (
  SELECT e.user_id, min(e.ts) AS tk
  FROM events e JOIN s3 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s3.tk
    AND e.ts <= s3.t1 + INTERVAL 7 DAY
  GROUP BY 1
),
c AS (
  SELECT 1::BIGINT AS stage_idx, 'signup' AS stage, count(*)::BIGINT AS users FROM s1
  UNION ALL SELECT 2, 'view', count(*) FROM s2
  UNION ALL SELECT 3, 'click', count(*) FROM s3
  UNION ALL SELECT 4, 'purchase', count(*) FROM s4
)
SELECT stage_idx, stage, users,
       round(users / (max(users) OVER ()), 4) AS pct_of_start
FROM c
"""


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of event_type × day-of-week (is
    traffic mix stable across the week?) with Cramér's V effect size —
    the categorical-drift companion of mutual_info. One map-combined
    groupBy builds the contingency grid; the three marginal windows run
    over the AGGREGATED ≤|types|·7-row frame. Day-of-week is exact
    int64 epoch-day arithmetic ((epoch_us div 86400000000) % 7 — no
    locale/day-name dependence); each χ² term is 3 IEEE ops on exact
    ints cast to DECIMAL(18,8) per-row so the cross-engine sum is
    order-independent (CLAUDE.md decimal-sum contract)."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type",
        F.expr("(unix_micros(ts) div 86400000000) % 7").alias("__dow"),
    ).agg(F.count(F.lit(1)).alias("__o"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("__dow")
    wall = Window.partitionBy()
    staged = obs.select(
        "event_type",
        "__dow",
        F.col("__o"),
        F.sum("__o").over(wr).alias("__rt"),
        F.sum("__o").over(wc).alias("__ct"),
        F.sum("__o").over(wall).alias("__n"),
    )
    e = (F.col("__rt").cast("double") * F.col("__ct").cast("double")) / F.col(
        "__n"
    )
    term = (
        ((F.col("__o") - e) * (F.col("__o") - e)) / e
    ).cast("decimal(18,8)")
    dof = (
        (F.count_distinct("event_type") - 1) * (F.count_distinct("__dow") - 1)
    ).cast("long")
    k = F.least(
        F.count_distinct("event_type") - 1, F.count_distinct("__dow") - 1
    )
    return staged.select("event_type", "__dow", "__n", term.alias("__term")).agg(
        F.round(F.sum("__term"), 4).cast("double").alias("chi2"),
        dof.alias("dof"),
        F.max("__n").cast("long").alias("n"),
        F.round(
            F.sqrt(
                # try_divide: degenerate data (single event type OR single
                # day-of-week) makes k = 0; DuckDB's x/0 yields NULL while
                # ANSI `/` would throw DIVIDE_BY_ZERO — NULL matches.
                F.try_divide(
                    F.sum("__term").cast("double"),
                    (F.max("__n") * k).cast("double"),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


_CHI_SQUARE_SQL = """
WITH obs AS (
  SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow, count(*) AS o
  FROM events GROUP BY 1, 2
),
staged AS (
  SELECT event_type, dow, o,
         sum(o) OVER (PARTITION BY event_type) AS rt,
         sum(o) OVER (PARTITION BY dow) AS ct,
         sum(o) OVER () AS n
  FROM obs
),
terms AS (
  SELECT event_type, dow, n,
         (((o - (rt::DOUBLE * ct::DOUBLE) / n)
           * (o - (rt::DOUBLE * ct::DOUBLE) / n))
          / ((rt::DOUBLE * ct::DOUBLE) / n))::DECIMAL(18,8) AS term
  FROM staged
)
SELECT round(sum(term), 4)::DOUBLE AS chi2,
       ((count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1))::BIGINT AS dof,
       max(n)::BIGINT AS n,
       round(sqrt(sum(term)::DOUBLE /
                  (max(n) * least(count(DISTINCT event_type) - 1,
                                  count(DISTINCT dow) - 1))), 6) AS cramers_v
FROM terms
"""


def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean event value differ across event types?
    (The k-group generalization of ab_test's two-sample compare.) One
    map-combined groupBy builds the k per-group sufficient statistics;
    the F fold runs on the k-row frame. All accumulation decimal-exact
    (``stats.anova_f``); the oracle replays the identical
    sums-of-squares identities."""
    from sparkprep.operators.stats import anova_f

    ev = t(spark, sf_dir, "events")
    return anova_f(ev, "value", "event_type")


_ANOVA_F_SQL = """
WITH per AS (
  SELECT event_type, count(*) AS n,
         sum(value::DECIMAL(18,6)) AS s,
         sum(value::DECIMAL(18,6) * value::DECIMAL(18,6)) AS q
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
folded AS (
  SELECT count(*) AS k, sum(n) AS nn, sum(s) AS ss, sum(q) AS qq,
         sum(((s::DOUBLE * s::DOUBLE) / n)::DECIMAL(30,8)) AS g
  FROM per
)
SELECT round((greatest(g::DOUBLE - (ss::DOUBLE * ss::DOUBLE) / nn, 0) / (k - 1))
             / (greatest(qq::DOUBLE - g::DOUBLE, 0) / (nn - k)), 6) AS f_stat,
       (k - 1)::BIGINT AS df_between,
       (nn - k)::BIGINT AS df_within,
       nn::BIGINT AS n_rows,
       round(greatest(g::DOUBLE - (ss::DOUBLE * ss::DOUBLE) / nn, 0)
             / (greatest(g::DOUBLE - (ss::DOUBLE * ss::DOUBLE) / nn, 0)
                + greatest(qq::DOUBLE - g::DOUBLE, 0)), 6) AS eta_sq
FROM folded
"""


def q_reorder_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: the distribution of day gaps between a
    customer's consecutive orders — ONE keyed lag window (partitioned
    by customer, (date, orderkey)-ordered for tie determinism) feeding
    a global exact-percentile aggregate. Gap days are exact int64
    epoch-day differences; the mean is one division of an exact sum.
    The inter-purchase twin of user_event_gaps' intra-session view."""
    from pyspark.sql.window import Window

    # o_orderdate arrives TIMESTAMP_NTZ (the loader only normalizes
    # `ts`); Spark 4 forbids NTZ epoch math — cast to session-TZ
    # TIMESTAMP first (identity under the pinned-UTC session)
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    day = F.expr("unix_micros(o_orderdate) div 86400000000")
    gaps = (
        orders.select(day.alias("__d"), F.lag(day).over(w).alias("__prev"))
        .filter(F.col("__prev").isNotNull())
        .select((F.col("__d") - F.col("__prev")).alias("__gap"))
    )
    return gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(F.sum("__gap") / F.count(F.lit(1)), 4).alias("mean_days"),
        F.round(F.expr("percentile(__gap, 0.25)"), 4).alias("p25_days"),
        F.round(F.expr("percentile(__gap, 0.5)"), 4).alias("p50_days"),
        F.round(F.expr("percentile(__gap, 0.75)"), 4).alias("p75_days"),
        F.round(F.expr("percentile(__gap, 0.9)"), 4).alias("p90_days"),
    )


_REORDER_GAPS_SQL = """
WITH g AS (
  SELECT (epoch_us(o_orderdate) // 86400000000)
         - lag(epoch_us(o_orderdate) // 86400000000)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           AS gap
  FROM orders
)
SELECT count(*)::BIGINT AS n_gaps,
       round(sum(gap) / count(*), 4) AS mean_days,
       round(quantile_cont(gap, 0.25), 4) AS p25_days,
       round(quantile_cont(gap, 0.5), 4) AS p50_days,
       round(quantile_cont(gap, 0.75), 4) AS p75_days,
       round(quantile_cont(gap, 0.9), 4) AS p90_days
FROM g WHERE gap IS NOT NULL
"""


def q_weekday_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend-vs-weekday value lift per event type — the calendar
    segmentation chi_square's count grid can't see (it tests MIX, this
    tests MAGNITUDE). Weekend = epoch-day-of-week ∈ {2,3} (epoch day 0
    = Thursday, so Sat=2/Sun=3 — pure int math, no locale). Per-row
    DECIMAL(18,6) casts make both conditional sums exact; each mean is
    ONE double division, the lift one more, re-cast DECIMAL(18,8)
    before the display round (half-round landmine)."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    is_we = F.expr("(unix_micros(ts) div 86400000000) % 7").isin(2, 3)
    x = F.col("value").cast("decimal(18,6)")
    agg = ev.groupBy("event_type").agg(
        F.sum(F.when(is_we, 1).otherwise(0)).cast("long").alias("n_weekend"),
        F.sum(F.when(~is_we, 1).otherwise(0)).cast("long").alias("n_weekday"),
        F.sum(F.when(is_we, x)).alias("__swe"),
        F.sum(F.when(~is_we, x)).alias("__swd"),
    )
    m_we = F.try_divide(F.col("__swe").cast("double"), F.col("n_weekend"))
    m_wd = F.try_divide(F.col("__swd").cast("double"), F.col("n_weekday"))
    return agg.select(
        "event_type",
        "n_weekend",
        "n_weekday",
        F.round(m_we.cast("decimal(18,8)"), 4).cast("double").alias("mean_weekend"),
        F.round(m_wd.cast("decimal(18,8)"), 4).cast("double").alias("mean_weekday"),
        F.round(F.try_divide(m_we, m_wd).cast("decimal(18,8)"), 4)
        .cast("double")
        .alias("weekend_lift"),
    )


_WEEKDAY_EFFECT_SQL = """
WITH staged AS (
  SELECT event_type,
         ((epoch_us(ts) // 86400000000) % 7) IN (2, 3) AS is_we,
         value::DECIMAL(18,6) AS x
  FROM events WHERE value IS NOT NULL
),
agg AS (
  SELECT event_type,
         sum(CASE WHEN is_we THEN 1 ELSE 0 END)::BIGINT AS n_weekend,
         sum(CASE WHEN NOT is_we THEN 1 ELSE 0 END)::BIGINT AS n_weekday,
         sum(CASE WHEN is_we THEN x END) AS swe,
         sum(CASE WHEN NOT is_we THEN x END) AS swd
  FROM staged GROUP BY 1
)
SELECT event_type, n_weekend, n_weekday,
       round((swe::DOUBLE / n_weekend)::DECIMAL(18,8), 4)::DOUBLE AS mean_weekend,
       round((swd::DOUBLE / n_weekday)::DECIMAL(18,8), 4)::DOUBLE AS mean_weekday,
       round(((swe::DOUBLE / n_weekend) / (swd::DOUBLE / n_weekday))::DECIMAL(18,8), 4)::DOUBLE
         AS weekend_lift
FROM agg
"""


def q_user_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-segment migration matrix: each user's DOMINANT event
    type in the stream's first week vs its last week (count-desc,
    type-asc argmax — deterministic under ties), counted as a
    from→to transition for users active in both windows. The cohort
    question retention can't answer: not WHETHER users stay, but what
    they turn into. Period bounds are relative to the stream's own
    min/max ts (no hard-coded dates — testdata regenerates between
    rounds); the argmax windows run over the aggregated (user, period,
    type) frame."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    week_us = 7 * 86_400_000_000
    # 1-row min/max frame broadcast-attached (the sanctioned scalar
    # pattern — a Window.partitionBy() here would single-partition the
    # RAW stream, the fatal version of the empty-frame window)
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("__lo"),
        F.max(F.unix_micros("ts")).alias("__hi"),
    )
    staged = (
        ev.select("user_id", "event_type", F.unix_micros("ts").alias("__us"))
        .crossJoin(F.broadcast(bounds))
        .withColumn(
            "__period",
            F.when(
                F.col("__us") < F.col("__lo") + F.lit(week_us), "first"
            ).when(
                F.col("__us") >= F.col("__hi") - F.lit(week_us), "last"
            ),
        )
        .filter(F.col("__period").isNotNull())
    )
    counts = staged.groupBy("user_id", "__period", "event_type").agg(
        F.count(F.lit(1)).alias("__n")
    )
    w = Window.partitionBy("user_id", "__period").orderBy(
        F.desc("__n"), F.asc("event_type")
    )
    dom = counts.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") == 1
    )
    a = dom.filter(F.col("__period") == "first").select(
        "user_id", F.col("event_type").alias("from_type")
    )
    b = dom.filter(F.col("__period") == "last").select(
        "user_id", F.col("event_type").alias("to_type")
    )
    return (
        a.join(b, "user_id")
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


_USER_MIGRATION_SQL = """
WITH bounds AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events),
staged AS (
  SELECT user_id, event_type,
         CASE WHEN epoch_us(ts) < bounds.lo + 604800000000 THEN 'first'
              WHEN epoch_us(ts) >= bounds.hi - 604800000000 THEN 'last'
         END AS period
  FROM events CROSS JOIN bounds
),
counts AS (
  SELECT user_id, period, event_type, count(*) AS n
  FROM staged WHERE period IS NOT NULL
  GROUP BY 1, 2, 3
),
dom AS (
  SELECT user_id, period, event_type FROM (
    SELECT user_id, period, event_type,
           row_number() OVER (PARTITION BY user_id, period
                              ORDER BY n DESC, event_type) AS rk
    FROM counts
  ) WHERE rk = 1
)
SELECT a.event_type AS from_type, b.event_type AS to_type,
       count(*)::BIGINT AS n_users
FROM dom a JOIN dom b ON a.user_id = b.user_id
WHERE a.period = 'first' AND b.period = 'last'
GROUP BY 1, 2
"""


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-quality panel over 30-minute-gap sessions: volume,
    bounce rate (single-event sessions), events-per-session, and the
    exact p50/p90/max duration — the summary screen peak_concurrency's
    sweep and session_paths' journeys both hang off. Durations are
    exact int64 µs differences with ONE division; the percentile runs
    over the AGGREGATED per-session frame (|sessions| rows)."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    sess = temporal.sessionize_ids(
        ev, ["user_id"], "ts", gap="30 minutes",
        order_cols=["ts", "event_id"],
    )
    iv = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("__n"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1_000_000.0)
        ).alias("__dur"),
    )
    return iv.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.round(F.avg(F.when(F.col("__n") == 1, 1.0).otherwise(0.0)), 4).alias(
            "bounce_rate"
        ),
        F.round(F.sum("__n") / F.count(F.lit(1)), 4).alias("events_per_session"),
        F.round(F.expr("percentile(__dur, 0.5)"), 4).alias("p50_dur_s"),
        F.round(F.expr("percentile(__dur, 0.9)"), 4).alias("p90_dur_s"),
        F.round(F.max("__dur"), 4).alias("max_dur_s"),
    )


_SESSION_STATS_SQL = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
iv AS (
  SELECT user_id, session_id, count(*) AS n,
         (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS dur
  FROM sess GROUP BY 1, 2
)
SELECT count(*)::BIGINT AS n_sessions,
       round(avg(CASE WHEN n = 1 THEN 1.0 ELSE 0.0 END), 4) AS bounce_rate,
       round(sum(n) / count(*), 4) AS events_per_session,
       round(quantile_cont(dur, 0.5), 4) AS p50_dur_s,
       round(quantile_cont(dur, 0.9), 4) AS p90_dur_s,
       round(max(dur), 4) AS max_dur_s
FROM iv
"""


def q_survival_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier LIFE TABLE for user engagement lifetime (first
    event → last event, integer seconds): per distinct event time,
    the at-risk count, deaths, censored exits, and the exact hazard
    d/n. Users whose last event falls in the observation window's
    final 12 hours are right-censored (still active). Everything is
    exact int64 arithmetic plus ONE division per row; the survival
    curve itself is the client-side cumulative product of (1 − hazard)
    over this (|distinct lifetimes|)-row table — kept OUT of the
    distributed result deliberately: a cross-engine exp/ln cumulative
    product drifts a ulp per factor and cannot hash-match (CLAUDE.md
    float-chain landmine), while the life table is the part that
    actually needs the cluster. All windows run over aggregated
    per-user / per-lifetime frames."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("__first"), F.max("ts").alias("__last")
    )
    horizon = F.max(F.unix_micros("__last")).over(Window.partitionBy())
    staged = per_user.select(
        F.expr(
            "(unix_micros(__last) - unix_micros(__first)) div 1000000"
        ).alias("t_sec"),
        (
            F.unix_micros("__last")
            <= horizon - F.lit(43_200_000_000)
        ).alias("__obs"),
    )
    grid = staged.groupBy("t_sec").agg(
        F.sum(F.when(F.col("__obs"), 1).otherwise(0)).alias("n_events"),
        F.sum(F.when(F.col("__obs"), 0).otherwise(1)).alias("n_censored"),
    )
    w = Window.orderBy(F.desc("t_sec")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risked = grid.withColumn(
        "n_at_risk", F.sum(F.col("n_events") + F.col("n_censored")).over(w)
    )
    return risked.filter(F.col("n_events") > 0).select(
        F.col("t_sec").cast("long").alias("t_sec"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_censored").cast("long").alias("n_censored"),
        F.round(F.col("n_events") / F.col("n_at_risk"), 6).alias("hazard"),
    )


_SURVIVAL_TABLE_SQL = """
WITH per_user AS (
  SELECT user_id, min(ts) AS f, max(ts) AS l FROM events GROUP BY 1
),
staged AS (
  SELECT (epoch_us(l) - epoch_us(f)) // 1000000 AS t_sec,
         epoch_us(l) <= (SELECT max(epoch_us(l)) FROM per_user)
                        - 43200000000 AS obs
  FROM per_user
),
grid AS (
  SELECT t_sec,
         sum(CASE WHEN obs THEN 1 ELSE 0 END) AS n_events,
         sum(CASE WHEN obs THEN 0 ELSE 1 END) AS n_censored
  FROM staged GROUP BY 1
),
risked AS (
  SELECT t_sec, n_events, n_censored,
         sum(n_events + n_censored)
           OVER (ORDER BY t_sec DESC ROWS UNBOUNDED PRECEDING) AS n_at_risk
  FROM grid
)
SELECT t_sec::BIGINT AS t_sec, n_at_risk::BIGINT AS n_at_risk,
       n_events::BIGINT AS n_events, n_censored::BIGINT AS n_censored,
       round(n_events / n_at_risk, 6) AS hazard
FROM risked WHERE n_events > 0
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle: users grouped by first-active
    day, counted on each later active day, as a share of the cohort's
    day-0 size. One dropDuplicates exchange on (user, day) feeds BOTH
    the first-day aggregate and the join back (same user_id hash
    partitioning — AQE reuses the exchange); the retention divisor is
    a window over the AGGREGATED (cohort, offset) frame (≤ days² rows).
    Day emitted as a yyyy-MM-dd string (cross-engine date-hash
    contract, CLAUDE.md)."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("__d")
    )
    ud = ev.dropDuplicates(["user_id", "__d"])
    first = ud.groupBy("user_id").agg(F.min("__d").alias("__c"))
    agg = (
        ud.join(first, "user_id")
        .groupBy(
            F.date_format("__c", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("__d", "__c").cast("long").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("users"))
    )
    from pyspark.sql.window import Window

    per_cohort = Window.partitionBy("cohort_day")
    base = F.max(
        F.when(F.col("day_offset") == 0, F.col("users"))
    ).over(per_cohort)
    return agg.select(
        "cohort_day",
        "day_offset",
        "users",
        F.round(F.try_divide(F.col("users"), base), 4).alias("retention"),
    )


_COHORT_RETENTION_SQL = """
WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS d FROM events),
f AS (SELECT user_id, min(d) AS c FROM ud GROUP BY 1),
a AS (
  SELECT strftime(f.c, '%Y-%m-%d') AS cohort_day,
         (ud.d - f.c)::BIGINT AS day_offset,
         count(*)::BIGINT AS users
  FROM ud JOIN f USING (user_id)
  GROUP BY 1, 2
)
SELECT cohort_day, day_offset, users,
       round(users / (max(CASE WHEN day_offset = 0 THEN users END)
                      OVER (PARTITION BY cohort_day)), 4) AS retention
FROM a
"""


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent user sessions per calendar day: 30-minute-gap
    sessions (``temporal.sessionize_ids``, exact int64-µs gap math)
    collapsed to [first, last] intervals, then the exact sweep-line of
    ``temporal.peak_concurrency`` — midnight-spanning sessions split
    at day boundaries so the running-sum window partitions by day,
    never a global sweep. The oracle replays the identical
    sessionize → clip → sweep chain in SQL windows."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    sess = temporal.sessionize_ids(
        ev, ["user_id"], "ts", gap="30 minutes",
        order_cols=["ts", "event_id"],
    )
    iv = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    return temporal.peak_concurrency(iv, "s", "e")


_PEAK_CONCURRENCY_SQL = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
iv AS (
  SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
  FROM sess GROUP BY 1, 2
),
clipped AS (
  SELECT d::DATE AS d,
         greatest(epoch_us(s), epoch_us(d::DATE::TIMESTAMP)) AS cs,
         least(epoch_us(e), epoch_us(d::DATE::TIMESTAMP) + 86399999999) + 1 AS ce
  FROM iv, UNNEST(generate_series(s::DATE, e::DATE, INTERVAL 1 DAY)) AS u(d)
),
deltas AS (
  SELECT d, cs AS at, 1 AS delta FROM clipped
  UNION ALL
  SELECT d, ce AS at, -1 AS delta FROM clipped
),
swept AS (
  SELECT d, sum(delta) OVER (PARTITION BY d ORDER BY at, delta
                             ROWS UNBOUNDED PRECEDING) AS run
  FROM deltas
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       (count(*) // 2)::BIGINT AS n_intervals,
       max(run)::BIGINT AS peak
FROM swept GROUP BY d
"""


def q_seasonal_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal adjustment of the daily value stream — the
    detrending step every traffic/revenue monitor needs before its
    anomaly thresholds (a Sunday dip is seasonality, not an incident).
    One map-combined groupBy to the ~30-row daily frame; the per-dow
    expected value is a keyed window over that bounded frame (7
    partitions), computed as exact-decimal sum / count with ONE IEEE
    division; residual = actual − expected, DECIMAL-recast before the
    display round (half-round landmine). Day-of-week is exact int64
    epoch-day arithmetic, no locale dependence (chi_square's idiom)."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("__v"))
    st = daily.select(
        "day", (F.col("day") % 7).alias("dow"), "__v"
    )
    w = Window.partitionBy("dow")
    sv = F.sum("__v").over(w)
    cv = F.count(F.lit(1)).over(w)
    expected = sv.cast("double") / cv
    return st.select(
        F.col("day").cast("long").alias("day"),
        F.col("dow").cast("long").alias("dow"),
        F.round("__v", 2).cast("double").alias("total"),
        F.round(expected.cast("decimal(18,8)"), 4).cast("double").alias(
            "expected"
        ),
        F.round(
            (F.col("__v").cast("double") - expected).cast("decimal(18,8)"), 4
        ).cast("double").alias("resid"),
    )


_SEASONAL_ADJUST_SQL = """
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         sum(value::DECIMAL(18,6)) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
st AS (
  SELECT day, day % 7 AS dow, v,
         sum(v) OVER (PARTITION BY day % 7) AS sv,
         count(*) OVER (PARTITION BY day % 7) AS cv
  FROM daily
)
SELECT day::BIGINT AS day, dow::BIGINT AS dow,
       round(v, 2)::DOUBLE AS total,
       round((sv::DOUBLE / cv)::DECIMAL(18,8), 4)::DOUBLE AS expected,
       round((v::DOUBLE - sv::DOUBLE / cv)::DECIMAL(18,8), 4)::DOUBLE AS resid
FROM st
"""


def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct churn-label construction — the supervised
    training-set builder: per (user, active week), this-week behavior
    features (events, purchases, value) and the LABEL "was the user
    active next week", taken strictly from the FOLLOWING week via a
    keyed lead window — no feature can see label-period data, the
    leakage mistake naive joins make. The final week has no label
    horizon and is dropped (not labeled 0 — that would fabricate
    churners at the observation edge). Keyed on user_id (entity-grain
    key, scales with users); weeks are exact int64 epoch-week
    numbers."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    week = F.expr("unix_micros(ts) div 604800000000")
    weekly = ev.groupBy(
        "user_id", week.alias("week")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("__val"),
    )
    # label horizon = last observed week, ONE bounded min/max-style
    # driver scalar (A6 pattern) — a global max window over the
    # user-week frame would single-partition an entity-grain frame.
    # ADVICE r6: an EMPTY events table makes the scalar None — short-
    # circuit to the (empty) labeled frame instead of int(None).
    horizon = ev.agg(F.max(week)).first()[0]
    if horizon is None:
        horizon = 0  # weekly is empty too; the < filter matches nothing
    w = Window.partitionBy("user_id").orderBy("week")
    labeled = weekly.select(
        "user_id",
        "week",
        "n_events",
        "n_purchases",
        F.round(F.col("__val").cast("double"), 4).alias("week_value"),
        F.lead("week").over(w).alias("__nxt"),
    )
    return (
        labeled.filter(F.col("week") < F.lit(int(horizon)))
        .select(
            "user_id",
            F.col("week").cast("long").alias("week"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_purchases").cast("long").alias("n_purchases"),
            "week_value",
            F.coalesce(
                F.col("__nxt") == F.col("week") + 1, F.lit(False)
            ).alias("active_next_week"),
        )
    )


_CHURN_LABELS_SQL = """
WITH weekly AS (
  SELECT user_id, (epoch_us(ts) // 604800000000) AS week,
         count(*) AS n_events,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS n_purchases,
         sum(value::DECIMAL(18,6)) AS val
  FROM events GROUP BY 1, 2
),
labeled AS (
  SELECT user_id, week, n_events, n_purchases,
         round(val::DOUBLE, 4) AS week_value,
         lead(week) OVER (PARTITION BY user_id ORDER BY week) AS nxt,
         max(week) OVER () AS horizon
  FROM weekly
)
SELECT user_id, week::BIGINT AS week,
       n_events::BIGINT AS n_events, n_purchases::BIGINT AS n_purchases,
       week_value,
       coalesce(nxt = week + 1, FALSE) AS active_next_week
FROM labeled WHERE week < horizon
"""


_HOLT_ALPHA = 0.3
_HOLT_BETA = 0.1


def q_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing of daily event volume per
    type — level + trend + one-step forecast, the drift-aware upgrade
    of the EWMA (``grouped.grouped_holt``, Arrow grouped map over the
    BOUNDED per-type daily panel, ~90 rows/group). The oracle replays
    the exact recurrence as a recursive CTE with repr-interpolated
    constants — bit parity, not approximate agreement (user_ewma's
    convention). Day emitted as the int64 epoch-day."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(date_trunc('day', ts)) div 86400000000").alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    out = grouped.grouped_holt(
        daily, ["event_type"], ["day"], "y",
        alpha=_HOLT_ALPHA, beta=_HOLT_BETA,
    )
    return out.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        F.col("y").cast("long").alias("n_events"),
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round(F.col("level") + F.col("trend"), 6).alias("forecast_next"),
    )


def _holt_sql() -> str:
    a, b = _HOLT_ALPHA, _HOLT_BETA
    ia, ib = 1.0 - a, 1.0 - b
    lexpr = f"{a!r} * o.y + {ia!r} * (e.l + e.b)"
    return f"""
WITH RECURSIVE daily AS (
  SELECT event_type,
         (epoch_us(date_trunc('day', ts)) // 86400000000) AS day,
         count(*)::DOUBLE AS y
  FROM events GROUP BY 1, 2
),
ordered AS (
  SELECT event_type, day, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
),
h(event_type, rn, day, y, l, b) AS (
  -- 0.0::DOUBLE, not 0.0: DuckDB types recursive-CTE columns from the
  -- ANCHOR, and a bare 0.0 is DECIMAL(1,1) — every b would quantize
  -- to one decimal through the whole recursion (observed: -0.06 -> -0.1)
  SELECT event_type, rn, day, y, y, 0.0::DOUBLE FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.rn, o.day, o.y,
         {lexpr},
         {b!r} * (({lexpr}) - e.l) + {ib!r} * e.b
  FROM h e JOIN ordered o
    ON o.event_type = e.event_type AND o.rn = e.rn + 1
)
SELECT event_type, day::BIGINT AS day, y::BIGINT AS n_events,
       round(l, 6) AS level, round(b, 6) AS trend,
       round(l + b, 6) AS forecast_next
FROM h
"""


_HW_M = 7
_HW_GAMMA = 0.2


def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + 7-day seasonal) over the
    per-type daily event panel — the seasonality-aware upgrade of
    holt_trend for series with a weekly cycle the double-exponential
    model aliases into trend (``grouped.grouped_holt_winters``, Arrow
    grouped map over the bounded ~90-row-per-type panel; init l=mean,
    s_p=y_p−mean over the first week, recursion from day 8).
    ``forecast`` is the honest one-step-ahead prediction made BEFORE
    seeing that day. The oracle replays the recurrence as a recursive
    CTE whose 7-slot seasonal ring unrolls to 7 state columns updated
    via CASE on the row's phase — bit parity (holt_trend's
    convention), with the final round run through DECIMAL(18,8) on
    both engines (exact-half round() divergence, CLAUDE.md)."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(date_trunc('day', ts)) div 86400000000").alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    out = grouped.grouped_holt_winters(
        daily, ["event_type"], ["day"], "y",
        m=_HW_M, alpha=_HOLT_ALPHA, beta=_HOLT_BETA, gamma=_HW_GAMMA,
    )

    def dec6(c: str):
        return F.round(F.col(c).cast("decimal(18,8)"), 6).cast("double")

    return out.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        F.col("y").cast("long").alias("n_events"),
        dec6("level").alias("level"),
        dec6("trend").alias("trend"),
        dec6("seasonal").alias("seasonal"),
        dec6("forecast").alias("forecast"),
    )


def _holt_winters_sql() -> str:
    m = _HW_M
    a, bt, g = _HOLT_ALPHA, _HOLT_BETA, _HW_GAMMA
    ia, ib, ig = 1.0 - a, 1.0 - bt, 1.0 - g
    phase = f"((o.rn - 1) % {m})"
    sprev = (
        f"CASE {phase} "
        + " ".join(f"WHEN {p} THEN e.s{p}" for p in range(m))
        + " END"
    )
    # float-op order mirrors grouped_holt_winters textually; l_t is
    # repeated inside b_t and s_t (same expression -> same IEEE result)
    lexpr = f"{a!r} * (o.y - ({sprev})) + {ia!r} * (e.l + e.b)"
    bexpr = f"{bt!r} * (({lexpr}) - e.l) + {ib!r} * e.b"
    sexprs = ", ".join(
        f"CASE WHEN {phase} = {p} THEN {g!r} * (o.y - ({lexpr})) "
        f"+ {ig!r} * e.s{p} ELSE e.s{p} END"
        for p in range(m)
    )
    scols = ", ".join(f"s{p}" for p in range(m))
    inits = ", ".join(
        f"max(CASE WHEN rn = {p + 1} THEN y END) AS y{p}" for p in range(m)
    )
    anchor_s = ", ".join(f"i.y{p} - i.mbar" for p in range(m))
    out_phase = f"((rn - 1) % {m})"
    out_seasonal = (
        f"CASE {out_phase} "
        + " ".join(f"WHEN {p} THEN s{p}" for p in range(m))
        + " END"
    )
    return f"""
WITH RECURSIVE hw_daily AS (
  SELECT event_type,
         (epoch_us(date_trunc('day', ts)) // 86400000000) AS day,
         count(*)::DOUBLE AS y
  FROM events GROUP BY 1, 2
),
hw_ordered AS (
  SELECT event_type, day, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM hw_daily
),
hw_init AS (
  -- integral counts: the week sum is exact in any order, then ONE division
  SELECT event_type, sum(CASE WHEN rn <= {m} THEN y END) / {float(m)!r} AS mbar,
         {inits}
  FROM hw_ordered GROUP BY 1
),
hw(event_type, rn, day, y, l, b, fc, {scols}) AS (
  -- anchor = state after consuming the init week (emitted rows filtered)
  SELECT o.event_type, o.rn, o.day, o.y, i.mbar, 0.0::DOUBLE, 0.0::DOUBLE,
         {anchor_s}
  FROM hw_ordered o JOIN hw_init i USING (event_type) WHERE o.rn = {m}
  UNION ALL
  SELECT o.event_type, o.rn, o.day, o.y,
         {lexpr},
         {bexpr},
         e.l + e.b + ({sprev}),
         {sexprs}
  FROM hw e JOIN hw_ordered o
    ON o.event_type = e.event_type AND o.rn = e.rn + 1
)
SELECT event_type, day::BIGINT AS day, y::BIGINT AS n_events,
       round((l)::DECIMAL(18,8), 6)::DOUBLE AS level,
       round((b)::DECIMAL(18,8), 6)::DOUBLE AS trend,
       round(({out_seasonal})::DECIMAL(18,8), 6)::DOUBLE AS seasonal,
       round((fc)::DECIMAL(18,8), 6)::DOUBLE AS forecast
FROM hw WHERE rn > {m}
"""


def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the Holt one-step forecast: per event type, MAE and
    sMAPE of f_t = l_t + b_t against the NEXT day's actual (aligned by
    a keyed lead over the bounded daily panel — the same
    point-in-time discipline as churn_labels: each forecast is scored
    only on data it could not see). Per-pair |error| terms re-cast to
    DECIMAL(38,12) so the per-type sums are order-independent; one
    division per metric at the end. The honest-accuracy readout that
    should gate any forecast op before anyone trusts it."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(date_trunc('day', ts)) div 86400000000").alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    h = grouped.grouped_holt(
        daily, ["event_type"], ["day"], "y",
        alpha=_HOLT_ALPHA, beta=_HOLT_BETA,
    )
    w = Window.partitionBy("event_type").orderBy("day")
    scored = h.select(
        "event_type",
        (F.col("level") + F.col("trend")).alias("__f"),
        F.lead("y").over(w).alias("__nxt"),
    ).filter(F.col("__nxt").isNotNull())
    err = F.abs(F.col("__nxt") - F.col("__f"))
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_forecasts"),
        F.round(
            F.try_divide(
                F.sum(err.cast("decimal(38,12)")).cast("double"),
                F.count(F.lit(1)).cast("double"),
            ),
            6,
        ).alias("mae"),
        F.round(
            F.try_divide(
                F.sum(
                    (
                        2.0 * err
                        / (F.abs(F.col("__nxt")) + F.abs(F.col("__f")))
                    ).cast("decimal(38,12)")
                ).cast("double"),
                F.count(F.lit(1)).cast("double"),
            ),
            6,
        ).alias("smape"),
    )


def _forecast_eval_sql() -> str:
    a, b = _HOLT_ALPHA, _HOLT_BETA
    ia, ib = 1.0 - a, 1.0 - b
    lexpr = f"{a!r} * o.y + {ia!r} * (e.l + e.b)"
    return f"""
WITH RECURSIVE daily AS (
  SELECT event_type,
         (epoch_us(date_trunc('day', ts)) // 86400000000) AS day,
         count(*)::DOUBLE AS y
  FROM events GROUP BY 1, 2
),
ordered AS (
  SELECT event_type, day, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
),
h(event_type, rn, day, y, l, b) AS (
  SELECT event_type, rn, day, y, y, 0.0::DOUBLE FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.rn, o.day, o.y,
         {lexpr},
         {b!r} * (({lexpr}) - e.l) + {ib!r} * e.b
  FROM h e JOIN ordered o
    ON o.event_type = e.event_type AND o.rn = e.rn + 1
),
scored AS (
  SELECT event_type, l + b AS f,
         lead(y) OVER (PARTITION BY event_type ORDER BY day) AS nxt
  FROM h
)
SELECT event_type, count(*)::BIGINT AS n_forecasts,
       round(sum((abs(nxt - f))::DECIMAL(38,12))::DOUBLE
             / count(*)::DOUBLE, 6) AS mae,
       round(sum((2.0 * abs(nxt - f) / (abs(nxt) + abs(f)))::DECIMAL(38,12))::DOUBLE
             / count(*)::DOUBLE, 6) AS smape
FROM scored WHERE nxt IS NOT NULL GROUP BY 1
"""


def q_forecast_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based anomaly days: flag every (type, day) whose Holt
    one-step forecast residual exceeds 2σ of that type's residuals
    (a screening threshold — review-queue recall over precision) —
    the forecast-aware upgrade of threshold rules (a Monday spike that
    the trend predicted is NOT an anomaly; a flat day during a climb
    is). Residuals align by keyed lag (each day scored against the
    forecast made BEFORE it); σ comes from DECIMAL-exact sum/sum-of-
    squares accumulation (population σ, one sqrt at the end — a plain
    double stddev would be summation-order-dependent), broadcast back
    over the bounded per-type panel."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(date_trunc('day', ts)) div 86400000000").alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    h = grouped.grouped_holt(
        daily, ["event_type"], ["day"], "y",
        alpha=_HOLT_ALPHA, beta=_HOLT_BETA,
    )
    w = Window.partitionBy("event_type").orderBy("day")
    res = h.select(
        "event_type",
        "day",
        "y",
        (
            F.col("y")
            - F.lag(F.col("level") + F.col("trend")).over(w)
        ).alias("__e"),
    ).filter(F.col("__e").isNotNull())
    stats_ = res.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__e").cast("decimal(38,12)")).alias("__s"),
        F.sum(
            (F.col("__e") * F.col("__e")).cast("decimal(38,12)")
        ).alias("__q"),
    )
    n = F.col("__n").cast("double")
    mean = F.col("__s").cast("double") / n
    sigma = F.sqrt(
        F.greatest(
            F.col("__q").cast("double") / n - mean * mean, F.lit(0.0)
        )
    )
    flagged = res.join(F.broadcast(stats_), "event_type").filter(
        F.abs(F.col("__e") - mean) > 2.0 * sigma
    )
    return flagged.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        F.col("y").cast("long").alias("n_events"),
        F.round("__e", 6).alias("residual"),
        F.round(sigma, 6).alias("sigma"),
    )


def _forecast_anomalies_sql() -> str:
    a, b = _HOLT_ALPHA, _HOLT_BETA
    ia, ib = 1.0 - a, 1.0 - b
    lexpr = f"{a!r} * o.y + {ia!r} * (e.l + e.b)"
    return f"""
WITH RECURSIVE daily AS (
  SELECT event_type,
         (epoch_us(date_trunc('day', ts)) // 86400000000) AS day,
         count(*)::DOUBLE AS y
  FROM events GROUP BY 1, 2
),
ordered AS (
  SELECT event_type, day, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
),
h(event_type, rn, day, y, l, b) AS (
  SELECT event_type, rn, day, y, y, 0.0::DOUBLE FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.rn, o.day, o.y,
         {lexpr},
         {b!r} * (({lexpr}) - e.l) + {ib!r} * e.b
  FROM h e JOIN ordered o
    ON o.event_type = e.event_type AND o.rn = e.rn + 1
),
res AS (
  SELECT event_type, day, y,
         y - lag(l + b) OVER (PARTITION BY event_type ORDER BY day) AS err
  FROM h
),
nz AS (SELECT * FROM res WHERE err IS NOT NULL),
st AS (
  SELECT event_type, count(*) AS n,
         sum(err::DECIMAL(38,12)) AS s,
         sum((err * err)::DECIMAL(38,12)) AS q
  FROM nz GROUP BY 1
)
SELECT nz.event_type, day::BIGINT AS day, y::BIGINT AS n_events,
       round(err, 6) AS residual,
       round(sqrt(greatest(q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n),
                           0.0)), 6) AS sigma
FROM nz JOIN st ON nz.event_type = st.event_type
WHERE abs(err - s::DOUBLE / n)
      > 2.0 * sqrt(greatest(q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n),
                            0.0))
"""


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013):
    per arm (user-id parity, as ab_test), the post-period value mean
    before and after subtracting the pre-period-covariate projection
    θ·(X − E[X]) — the standard trick that shrinks experiment CIs by
    the covariate's R². NEVER materializes per-row adjusted values
    (a double sum of them would be summation-order-dependent — the
    money-sum landmine): mean_adj = ȳ_arm − θ(x̄_arm − x̄), and
    var_adj = var_y − 2θ·cov + θ²·var_x, all from per-arm exact
    DECIMAL sufficient statistics (x int64, y/yy/xy per-row decimal
    casts), θ pooled from the same sums; the only floats are
    deterministic IEEE ops on those exact sums. The corpus-midpoint
    split timestamp is one bounded min/max driver scalar (A6
    pattern); the pooled fold is a window over the 2-row arm frame.
    Note the pooled-θ guarantee is POOLED variance reduction — a
    single arm's var_y_adj can exceed its var_y when that arm's own
    cov/var ratio disagrees with the pooled fit (observed at
    sf0.001)."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    if lo is None:  # empty events: every downstream frame is empty too
        lo = hi = 0
    split = (lo + hi) // 2
    tm = F.unix_micros("ts")
    users = ev.groupBy("user_id").agg(
        F.sum(F.when(tm < split, 1).otherwise(0)).alias("__x"),
        F.coalesce(
            F.sum(
                F.when(tm >= split, F.col("value")).cast("decimal(18,6)")
            ),
            F.lit(0).cast("decimal(18,6)"),
        ).alias("__y"),
    )
    arms = users.groupBy(
        (F.col("user_id") % 2 == 1).alias("arm")
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    w = Window.partitionBy()
    pooled = arms.select(
        "*",
        F.sum("__n").over(w).alias("__pn"),
        F.sum("__sx").over(w).alias("__psx"),
        F.sum("__sy").over(w).alias("__psy"),
        F.sum("__sxx").over(w).alias("__psxx"),
        F.sum("__sxy").over(w).alias("__psxy"),
    )
    pn = F.col("__pn").cast("double")
    psx = F.col("__psx").cast("double")
    theta = F.try_divide(
        pn * F.col("__psxy").cast("double") - psx * F.col("__psy").cast("double"),
        pn * F.col("__psxx").cast("double") - psx * psx,
    )
    n = F.col("__n").cast("double")
    mx = F.col("__sx").cast("double") / n
    my = F.col("__sy").cast("double") / n
    pmx = psx / pn
    var_y = F.col("__syy").cast("double") / n - my * my
    var_x = F.col("__sxx").cast("double") / n - mx * mx
    cov = F.col("__sxy").cast("double") / n - mx * my
    var_adj = var_y - 2.0 * theta * cov + theta * theta * var_x
    return pooled.select(
        "arm",
        F.col("__n").cast("long").alias("n_users"),
        F.round(my, 6).alias("mean_y"),
        F.round(my - theta * (mx - pmx), 6).alias("mean_y_adj"),
        F.round(var_y, 6).alias("var_y"),
        F.round(var_adj, 6).alias("var_y_adj"),
        F.round(
            F.try_divide(var_y - var_adj, var_y) * 100.0, 4
        ).alias("var_reduction_pct"),
    )


_CUPED_SQL = """
WITH bounds AS (
  SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS split FROM events
),
users AS (
  SELECT user_id,
         sum(CASE WHEN epoch_us(ts) < (SELECT split FROM bounds)
                  THEN 1 ELSE 0 END) AS x,
         coalesce(sum(CASE WHEN epoch_us(ts) >= (SELECT split FROM bounds)
                           THEN value END::DECIMAL(18,6)),
                  0::DECIMAL(18,6)) AS y
  FROM events GROUP BY user_id
),
arms AS (
  SELECT user_id % 2 = 1 AS arm, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM users GROUP BY 1
),
pooled AS (
  SELECT *, sum(n) OVER () AS pn, sum(sx) OVER () AS psx,
         sum(sy) OVER () AS psy, sum(sxx) OVER () AS psxx,
         sum(sxy) OVER () AS psxy
  FROM arms
)
SELECT arm, n::BIGINT AS n_users,
       round(sy::DOUBLE / n, 6) AS mean_y,
       round(sy::DOUBLE / n
             - ((pn::DOUBLE * psxy::DOUBLE - psx::DOUBLE * psy::DOUBLE)
                / (pn::DOUBLE * psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE))
               * (sx::DOUBLE / n - psx::DOUBLE / pn), 6) AS mean_y_adj,
       round(syy::DOUBLE / n - (sy::DOUBLE / n) * (sy::DOUBLE / n), 6)
         AS var_y,
       round((syy::DOUBLE / n - (sy::DOUBLE / n) * (sy::DOUBLE / n))
             - 2.0 * ((pn::DOUBLE * psxy::DOUBLE - psx::DOUBLE * psy::DOUBLE)
                      / (pn::DOUBLE * psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE))
                   * (sxy::DOUBLE / n - (sx::DOUBLE / n) * (sy::DOUBLE / n))
             + ((pn::DOUBLE * psxy::DOUBLE - psx::DOUBLE * psy::DOUBLE)
                / (pn::DOUBLE * psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE))
               * ((pn::DOUBLE * psxy::DOUBLE - psx::DOUBLE * psy::DOUBLE)
                  / (pn::DOUBLE * psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE))
               * (sxx::DOUBLE / n - (sx::DOUBLE / n) * (sx::DOUBLE / n)), 6)
         AS var_y_adj,
       round(((syy::DOUBLE / n - (sy::DOUBLE / n) * (sy::DOUBLE / n))
              - ((syy::DOUBLE / n - (sy::DOUBLE / n) * (sy::DOUBLE / n))
                 - 2.0 * ((pn::DOUBLE * psxy::DOUBLE - psx::DOUBLE * psy::DOUBLE)
                          / (pn::DOUBLE * psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE))
                       * (sxy::DOUBLE / n - (sx::DOUBLE / n) * (sy::DOUBLE / n))
                 + ((pn::DOUBLE * psxy::DOUBLE - psx::DOUBLE * psy::DOUBLE)
                    / (pn::DOUBLE * psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE))
                   * ((pn::DOUBLE * psxy::DOUBLE - psx::DOUBLE * psy::DOUBLE)
                      / (pn::DOUBLE * psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE))
                   * (sxx::DOUBLE / n - (sx::DOUBLE / n) * (sx::DOUBLE / n))))
             / (syy::DOUBLE / n - (sy::DOUBLE / n) * (sy::DOUBLE / n))
             * 100.0, 4) AS var_reduction_pct
FROM pooled
"""


def q_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank: did per-user activity SHIFT between the
    first and second half of the observation window? Paired
    differences (2nd-half − 1st-half event count per user, the same
    corpus-midpoint split as cuped) through
    ``stats.wilcoxon_signed_rank`` — |d| mid-ranks from the
    value-frequency table, every accumulated term an exact
    DECIMAL(38,0) integer, one division at the end."""
    from sparkprep.operators.stats import wilcoxon_signed_rank

    ev = t(spark, sf_dir, "events")
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    if lo is None:  # empty events: every downstream frame is empty too
        lo = hi = 0
    split = (lo + hi) // 2
    tm = F.unix_micros("ts")
    # checkpoint: the operator consumes diffs twice (rank-map fold +
    # join-back) — without truncation the events scan + user fold
    # execute per consumer
    diffs = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(tm >= split, 1).otherwise(0))
            - F.sum(F.when(tm < split, 1).otherwise(0))
        ).alias("__diff")
    ).transform(lazy_checkpoint)
    return wilcoxon_signed_rank(diffs, "__diff")


_SIGNED_RANK_SQL = """
WITH bounds AS (
  SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS split FROM events
),
diffs AS (
  SELECT user_id,
         sum(CASE WHEN epoch_us(ts) >= (SELECT split FROM bounds)
                  THEN 1 ELSE 0 END)
         - sum(CASE WHEN epoch_us(ts) < (SELECT split FROM bounds)
                    THEN 1 ELSE 0 END) AS d
  FROM events GROUP BY user_id
),
nz AS (SELECT abs(d) AS v, d > 0 AS pos FROM diffs WHERE d IS NOT NULL AND d <> 0),
c AS (SELECT v, count(*) AS c FROM nz GROUP BY 1),
r AS (SELECT v, c,
             2 * sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c + 1 AS r2
      FROM c),
folded AS (
  SELECT count(*) AS n,
         sum((CASE WHEN pos THEN r2 ELSE 0 END)::DECIMAL(38,0)) AS r2p,
         sum((c::DECIMAL(38,0) * c - 1)::DECIMAL(38,0)) AS t
  FROM nz JOIN r USING (v)
)
SELECT n::BIGINT AS n_nonzero,
       round(r2p::DOUBLE / 2.0, 6) AS w_plus,
       round((2.0 * r2p::DOUBLE - n::DOUBLE * (n::DOUBLE + 1))
             / (4.0 * sqrt(n::DOUBLE * (n::DOUBLE + 1) * (2 * n::DOUBLE + 1)
                           / 24.0 - t::DOUBLE / 48.0)), 6) AS z
FROM folded
"""


def q_trend_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend per event type: Theil-Sen slope (median of the
    pairwise daily-count slopes — outlier days can't drag it the way
    they drag daily_trend's OLS fit) plus the Mann-Kendall monotonic-
    trend test (S = Σ sign(nⱼ−nᵢ), tie-corrected variance, continuity-
    corrected z). The pair frame is the self-join of the BOUNDED
    per-(type, day) aggregate (~90 days × 5 types — localCheckpoint-ed:
    a self-join's sides never hit ReusedExchange, CLAUDE.md), never raw
    events. Every slope is ONE IEEE division of exact int64s; the
    median is LOWER-median row selection (no interpolation — the
    cross-engine quantile-interpolation landmine); S, the tie term and
    Var(S)'s numerator are exact integers."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.expr(
                "unix_micros(date_trunc('day', ts)) div 86400000000"
            ).alias("__d"),
        )
        .agg(F.count(F.lit(1)).alias("__n"))
        .transform(lazy_checkpoint)
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("a.__d") < F.col("b.__d"))
        .select(
            "event_type",
            (
                (F.col("b.__n") - F.col("a.__n"))
                / (F.col("b.__d") - F.col("a.__d"))
            ).alias("__slope"),
            F.signum(
                (F.col("b.__n") - F.col("a.__n")).cast("double")
            ).cast("long").alias("__sgn"),
            F.col("a.__d").alias("__da"),
            F.col("b.__d").alias("__db"),
        )
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        "__slope", "__da", "__db"
    )
    w_m = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "__slope",
        "__sgn",
        F.row_number().over(w_rank).alias("__rn"),
        F.count(F.lit(1)).over(w_m).alias("__mm"),
    )
    # tie term over the VALUE multiset: Σ t(t−1)(2t+5) per type —
    # and Σt IS the day count, so one leg serves both (no separate
    # days aggregate + join)
    ties = (
        daily.groupBy("event_type", "__n")
        .agg(F.count(F.lit(1)).alias("__t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("__t") * (F.col("__t") - 1) * (2 * F.col("__t") + 5)
            ).alias("__tt"),
            F.sum("__t").alias("__nd"),
        )
    )
    per = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__m"),
        F.sum("__sgn").alias("__s"),
        F.min(
            F.when(
                F.col("__rn") == F.expr("(__mm + 1) div 2"),
                F.col("__slope"),
            )
        ).alias("__med"),
    )
    nd = F.col("__nd").cast("double")
    var = (
        nd * (nd - 1) * (2 * nd + 5) - F.col("__tt").cast("double")
    ) / 18.0
    s = F.col("__s").cast("double")
    z = (
        F.when(F.col("__s") > 0, F.try_divide(s - 1, F.sqrt(var)))
        .when(F.col("__s") < 0, F.try_divide(s + 1, F.sqrt(var)))
        .otherwise(F.lit(0.0))
    )
    return per.join(ties, "event_type").select(
        "event_type",
        F.col("__nd").cast("long").alias("n_days"),
        F.col("__m").cast("long").alias("n_pairs"),
        F.round("__med", 6).alias("ts_slope"),
        F.col("__s").cast("long").alias("mk_s"),
        F.round(z, 6).alias("mk_z"),
    )


_TREND_ROBUST_SQL = """
WITH daily AS (
  SELECT event_type,
         (epoch_us(date_trunc('day', ts)) // 86400000000) AS d,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         (b.n - a.n)::DOUBLE / (b.d - a.d) AS slope,
         CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END AS sgn,
         a.d AS da, b.d AS db
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
),
ranked AS (
  SELECT event_type, slope, sgn,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope, da, db) AS rn,
         count(*) OVER (PARTITION BY event_type) AS m
  FROM pairs
),
per AS (
  SELECT event_type, max(m) AS m, sum(sgn) AS s,
         min(CASE WHEN rn = ((m + 1) // 2) THEN slope END) AS med
  FROM ranked GROUP BY 1
),
ties AS (
  SELECT event_type, sum(t * (t - 1) * (2 * t + 5)) AS tt
  FROM (SELECT event_type, n, count(*) AS t FROM daily GROUP BY 1, 2)
  GROUP BY 1
),
days AS (SELECT event_type, count(*) AS nd FROM daily GROUP BY 1)
SELECT per.event_type,
       nd::BIGINT AS n_days, m::BIGINT AS n_pairs,
       round(med, 6) AS ts_slope, s::BIGINT AS mk_s,
       round(CASE
         WHEN s > 0 THEN (s::DOUBLE - 1)
           / sqrt((nd::DOUBLE * (nd::DOUBLE - 1) * (2 * nd::DOUBLE + 5)
                   - tt::DOUBLE) / 18.0)
         WHEN s < 0 THEN (s::DOUBLE + 1)
           / sqrt((nd::DOUBLE * (nd::DOUBLE - 1) * (2 * nd::DOUBLE + 5)
                   - tt::DOUBLE) / 18.0)
         ELSE 0.0 END, 6) AS mk_z
FROM per JOIN ties ON per.event_type = ties.event_type
JOIN days ON per.event_type = days.event_type
"""


def q_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-reach curve: per day, how many users touched the
    product for the FIRST time, the running total, and the share of
    the final audience — the growth companion of active_users' DAU/WAU
    engagement view. One groupBy folds each user to a first-seen day
    (map-combined min), a second folds days; the running-sum window
    runs over the bounded per-day frame (~90 rows), never raw events.
    Day emitted as a string (DATE-dtype hash divergence, CLAUDE.md)."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("__d")
    )
    per_day = first.groupBy("__d").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w_cum = Window.orderBy("__d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = F.sum("new_users").over(w_cum)
    tot = F.sum("new_users").over(w_all)
    return per_day.select(
        F.date_format("__d", "yyyy-MM-dd").alias("day"),
        F.col("new_users").cast("long").alias("new_users"),
        cum.cast("long").alias("cum_users"),
        F.round(
            F.try_divide(cum.cast("double"), tot.cast("double")), 4
        ).alias("pct_reach"),
    )


_CUMULATIVE_REACH_SQL = """
WITH first AS (
  SELECT user_id, min(date_trunc('day', ts)) AS d FROM events GROUP BY 1
),
per AS (SELECT d, count(*) AS nu FROM first GROUP BY 1),
c AS (
  SELECT d, nu,
         sum(nu) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum,
         sum(nu) OVER () AS tot
  FROM per
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       nu::BIGINT AS new_users,
       cum::BIGINT AS cum_users,
       round(cum::DOUBLE / tot::DOUBLE, 4) AS pct_reach
FROM c
"""


def q_user_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-weighted average event value: each observation
    holds until the user's next event (right-open step function), so
    TWA = Σ vᵢ·Δtᵢ / Σ Δtᵢ — the correct mean for irregularly sampled
    signals, where the plain avg over-weights bursts. Keyed lag/lead
    window on user_id (entity-grain key — scales with users, never a
    global sort); Δt is exact int64 epoch-micros math (Spark 4 NTZ
    landmine); the per-interval product re-casts to DECIMAL(38,6) so
    the per-user sum is order-independent; one IEEE division at the
    end. Users with one non-null observation drop (no interval)."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tmicro = F.unix_micros(F.col("ts"))
    obs = ev.select(
        "user_id",
        "value",
        tmicro.alias("__t"),
        F.lead(tmicro).over(w).alias("__nxt"),
    ).filter(F.col("__nxt").isNotNull())
    iv = obs.select(
        "user_id",
        (F.col("value") * (F.col("__nxt") - F.col("__t")))
        .cast("decimal(38,6)")
        .alias("__wv"),
        (F.col("__nxt") - F.col("__t")).alias("__dt"),
    )
    per = iv.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__wv").alias("__swv"),
        F.sum("__dt").alias("__span"),
    )
    return per.select(
        "user_id",
        (F.col("__n") + 1).cast("long").alias("n_events"),
        F.expr("__span div 1000000").cast("long").alias("span_s"),
        F.round(
            F.try_divide(
                F.col("__swv").cast("double"), F.col("__span").cast("double")
            ),
            6,
        ).alias("twa"),
    )


_USER_TWA_SQL = """
WITH obs AS (
  SELECT user_id, value, epoch_us(ts) AS t,
         lead(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events WHERE value IS NOT NULL
),
iv AS (
  SELECT user_id, (value * (nxt - t))::DECIMAL(38,6) AS wv, nxt - t AS dt
  FROM obs WHERE nxt IS NOT NULL
),
per AS (
  SELECT user_id, count(*) AS n, sum(wv) AS swv, sum(dt) AS span
  FROM iv GROUP BY 1
)
SELECT user_id, (n + 1)::BIGINT AS n_events,
       (span // 1000000)::BIGINT AS span_s,
       round(swv::DOUBLE / span::DOUBLE, 6) AS twa
FROM per
"""



_MERGE_DUR_US = 300_000_000  # each event spans [ts, ts + 5 min)


def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user merged activity intervals: each event opens a 5-minute
    window [ts, ts+300s); overlapping/touching windows coalesce into
    islands (the classic gaps-and-islands sweep, the building block
    under uptime/SLA coverage and ad-exposure dedup). New island iff
    start > max(end) over ALL preceding intervals (a plain lag is
    WRONG when an early long interval swallows later short ones —
    running-max is the correct sweep). Everything stays exact int64
    microseconds (no float seconds, no date-type hash landmine); two
    same-key windows share one exchange+sort; keyed by user_id —
    entity-parallel at any scale."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("__s"),
        (F.unix_micros("ts") + _MERGE_DUR_US).alias("__e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("__s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("__s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = ev.select(
        "user_id",
        "event_id",
        "__s",
        "__e",
        F.when(
            F.col("__s") > F.coalesce(F.max("__e").over(w_prev), F.lit(-1)),
            1,
        ).otherwise(0).alias("__new"),
    )
    # the island cumsum MUST use the same total order as the sweep
    # (s, event_id): a tied-start row ordered before its coverer would
    # attach to the PREVIOUS island
    isl = marked.select(
        "user_id", "__s", "__e", F.sum("__new").over(w_cum).alias("__isl")
    )
    per_isl = isl.groupBy("user_id", "__isl").agg(
        F.min("__s").alias("__a"),
        F.max("__e").alias("__b"),
        F.count(F.lit(1)).alias("__n"),
    )
    return per_isl.groupBy("user_id").agg(
        F.sum("__n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
        F.sum(F.col("__b") - F.col("__a")).cast("long").alias("covered_us"),
        F.max(F.col("__b") - F.col("__a")).cast("long").alias("longest_us"),
    )


_INTERVAL_MERGE_SQL = f"""
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + {_MERGE_DUR_US} AS e
  FROM events
),
marked AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY user_id
                ORDER BY s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_i
  FROM iv
),
isl AS (
  SELECT user_id, s, e,
         sum(new_i) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
),
per_isl AS (
  SELECT user_id, island, min(s) AS a, max(e) AS b, count(*) AS n
  FROM isl GROUP BY 1, 2
)
SELECT user_id,
       sum(n)::BIGINT AS n_events,
       count(*)::BIGINT AS n_merged,
       sum(b - a)::BIGINT AS covered_us,
       max(b - a)::BIGINT AS longest_us
FROM per_isl GROUP BY 1
"""


_XCORR_MAX_LAG = 3


def q_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the click and purchase daily
    series: Pearson r of (clicks on day d, purchases on day d+lag) for
    lags −3..+3 — the panel that answers "do clicks LEAD purchases,
    and by how many days?". Day index is exact integer µs-div; the
    lag fan-out explodes a 7-element literal array against the
    ~90-row daily panel (bounded by horizon); the y side equi-joins on
    day+lag; every sum is exact int64/DECIMAL with products cast
    DECIMAL(19,0) first, finish = one IEEE division per lag. The daily
    panel feeds both join sides — lazily checkpointed (the CLAUDE.md
    both-sides discipline)."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    daily = (
        ev.groupBy(
            F.expr("unix_micros(ts) div 86400000000").alias("__d")
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("__x"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("__y"),
        )
        .transform(lazy_checkpoint)
    )
    lags = F.array(
        *[F.lit(l) for l in range(-_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1)]
    )
    xl = daily.select("__d", "__x", F.explode(lags).alias("lag"))
    yr = daily.select(F.col("__d").alias("__d2"), "__y")
    joined = xl.join(yr, F.col("__d2") == F.col("__d") + F.col("lag"))
    d19 = "decimal(19,0)"
    s = joined.groupBy("lag").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x").cast(d19) * F.col("__y").cast(d19)).alias("__sxy"),
        F.sum(F.col("__x").cast(d19) * F.col("__x").cast(d19)).alias("__sxx"),
        F.sum(F.col("__y").cast(d19) * F.col("__y").cast(d19)).alias("__syy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    num = n * F.col("__sxy").cast("double") - sx * sy
    den = F.sqrt(n * F.col("__sxx").cast("double") - sx * sx) * F.sqrt(
        n * F.col("__syy").cast("double") - sy * sy
    )
    return s.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("__n").cast("long").alias("n_days"),
        F.round(F.try_divide(num, den), 4).alias("xcorr"),
    )


_CROSS_CORR_SQL = f"""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS d,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1
),
lags AS (SELECT unnest(range(-{_XCORR_MAX_LAG}, {_XCORR_MAX_LAG + 1})) AS lag),
j AS (
  SELECT l.lag, a.x, b.y
  FROM daily a CROSS JOIN lags l
  JOIN daily b ON b.d = a.d + l.lag
),
s AS (
  SELECT lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x::DECIMAL(19,0) * y::DECIMAL(19,0)) AS sxy,
         sum(x::DECIMAL(19,0) * x::DECIMAL(19,0)) AS sxx,
         sum(y::DECIMAL(19,0) * y::DECIMAL(19,0)) AS syy
  FROM j GROUP BY 1
)
SELECT lag::BIGINT AS lag, n::BIGINT AS n_days,
       round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
             4) AS xcorr
FROM s
"""



def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single best changepoint per event_type daily series (binary
    segmentation, step 1): the split day minimizing total two-segment
    SSE. Minimizing SSE = maximizing h(i) = S1_l²/n_l + S1_r²/n_r over
    prefix sums, so the scan is ONE cumulative window over the
    day-grain panel (bounded by horizon, keyed by type) and every h is
    built from exact int64 prefix sums — the only floats are two
    divisions and one add of IEEE-identical operands, so the argmax is
    engine-deterministic (day asc tie-break). No per-candidate rescan:
    the naive form recomputes both segment means per split (O(days²)
    work and a correlated-subquery shape); prefix sums make it one
    pass."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("__d"),
    ).agg(F.count(F.lit(1)).alias("__c"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("__d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    staged = daily.select(
        "event_type",
        "__d",
        F.sum("__c").over(w_cum).alias("__s1"),
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("__d")
        ).alias("__i"),
        F.sum("__c").over(w_all).alias("__st"),
        F.count(F.lit(1)).over(w_all).alias("__N"),
    )
    cand = staged.filter(F.col("__i") < F.col("__N"))
    nl = F.col("__i").cast("double")
    nr = (F.col("__N") - F.col("__i")).cast("double")
    s1l = F.col("__s1").cast("double")
    s1r = (F.col("__st") - F.col("__s1")).cast("double")
    scored = cand.select(
        "event_type",
        "__d",
        "__N",
        (s1l * s1l / nl + s1r * s1r / nr).alias("__h"),
        (s1l / nl).alias("__mb"),
        (s1r / nr).alias("__ma"),
    )
    best = scored.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.desc("__h"), F.asc("__d")
            )
        ),
    ).filter(F.col("__rn") == 1)
    return best.select(
        "event_type",
        F.col("__d").cast("long").alias("split_day"),
        F.round(F.col("__mb").cast("decimal(18,8)"), 4)
        .cast("double")
        .alias("mean_before"),
        F.round(F.col("__ma").cast("decimal(18,8)"), 4)
        .cast("double")
        .alias("mean_after"),
        F.col("__N").cast("long").alias("n_days"),
    )


_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS d, count(*) AS c
  FROM events GROUP BY 1, 2
),
staged AS (
  SELECT event_type, d,
         sum(c) OVER (PARTITION BY event_type ORDER BY d
                      ROWS UNBOUNDED PRECEDING) AS s1,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS i,
         sum(c) OVER (PARTITION BY event_type) AS st,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
scored AS (
  SELECT event_type, d, n,
         s1::DOUBLE * s1::DOUBLE / i::DOUBLE
           + (st - s1)::DOUBLE * (st - s1)::DOUBLE / (n - i)::DOUBLE AS h,
         s1::DOUBLE / i::DOUBLE AS mb,
         (st - s1)::DOUBLE / (n - i)::DOUBLE AS ma
  FROM staged WHERE i < n
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY h DESC, d) AS rn
  FROM scored
)
SELECT event_type,
       d::BIGINT AS split_day,
       round(mb::DECIMAL(18,8), 4)::DOUBLE AS mean_before,
       round(ma::DECIMAL(18,8), 4)::DOUBLE AS mean_after,
       n::BIGINT AS n_days
FROM best WHERE rn = 1
"""



def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic burstiness per event_type: Fano factor (var/mean of
    hourly counts, 1 = Poisson, >1 = bursty) and squared coefficient
    of variation — the dispersion screen that decides whether rate
    limits / partition sizing can assume smooth arrivals. ZERO floats
    until one division: missing hours (count 0) enter the variance
    WITHOUT densification, because over the per-type hour span H,
    Fano = (H·S2 − S1²)/(H·S1) and CV² = (H·S2 − S1²)/S1² with
    S1 = Σc, S2 = Σc² over observed hours only — exact int64 algebra
    (products cast DECIMAL(19,0) for warehouse headroom). One
    map-combined (type, hour) count, one per-type fold."""
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("__h"),
    ).agg(F.count(F.lit(1)).alias("__c"))
    d19 = "decimal(19,0)"
    per = hourly.groupBy("event_type").agg(
        F.sum("__c").alias("__s1"),
        F.sum(F.col("__c").cast(d19) * F.col("__c").cast(d19)).alias("__s2"),
        (F.max("__h") - F.min("__h") + 1).alias("__hh"),
    )
    d38 = "decimal(38,0)"
    num = (
        F.col("__hh").cast(d38) * F.col("__s2").cast(d38)
        - F.col("__s1").cast(d38) * F.col("__s1").cast(d38)
    )
    d18 = "decimal(18,8)"
    return per.select(
        "event_type",
        F.col("__s1").cast("long").alias("n_events"),
        F.col("__hh").cast("long").alias("n_hours"),
        F.round(
            F.try_divide(
                num.cast("double"),
                (F.col("__hh").cast(d38) * F.col("__s1").cast(d38)).cast(
                    "double"
                ),
            ).cast(d18),
            6,
        ).cast("double").alias("fano"),
        F.round(
            F.try_divide(
                num.cast("double"),
                (F.col("__s1").cast(d38) * F.col("__s1").cast(d38)).cast(
                    "double"
                ),
            ).cast(d18),
            6,
        ).cast("double").alias("cv2"),
    )


_BURSTINESS_SQL = """
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS c
  FROM events GROUP BY 1, 2
),
per AS (
  SELECT event_type,
         sum(c) AS s1,
         sum(c::DECIMAL(19,0) * c::DECIMAL(19,0)) AS s2,
         max(h) - min(h) + 1 AS hh
  FROM hourly GROUP BY 1
)
SELECT event_type,
       s1::BIGINT AS n_events,
       hh::BIGINT AS n_hours,
       round(((hh::DECIMAL(38,0) * s2::DECIMAL(38,0)
               - s1::DECIMAL(38,0) * s1::DECIMAL(38,0))::DOUBLE
              / (hh::DECIMAL(38,0) * s1::DECIMAL(38,0))::DOUBLE)::DECIMAL(18,8),
             6)::DOUBLE AS fano,
       round(((hh::DECIMAL(38,0) * s2::DECIMAL(38,0)
               - s1::DECIMAL(38,0) * s1::DECIMAL(38,0))::DOUBLE
              / (s1::DECIMAL(38,0) * s1::DECIMAL(38,0))::DOUBLE)::DECIMAL(18,8),
             6)::DOUBLE AS cv2
FROM per
"""



def q_repeat_purchase_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase survival curve: for each observed purchase count
    k, how many users made EXACTLY k and AT LEAST k purchases — the
    loyalty readout behind every "what % of buyers come back" question
    (cohort_retention is the time-sliced sibling; this is the depth
    slice). NO per-user k-explosion: one per-user count, one groupBy
    over the DISTINCT-count frame (10-24 rows across testdata
    generations — value-frequency-bounded like signed_rank's |d| map,
    not user-grain), survival = reverse cumulative sum over that tiny
    frame. share = one division of exact ints per row."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("__c"))
    dist = per_user.groupBy("__c").agg(
        F.count(F.lit(1)).alias("__nu")
    )
    w_rev = Window.orderBy(F.desc("__c")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    staged = dist.select(
        "__c",
        "__nu",
        F.sum("__nu").over(w_rev).alias("__ge"),
        F.sum("__nu").over(w_all).alias("__tot"),
    )
    d18 = "decimal(18,8)"
    return staged.select(
        F.col("__c").cast("long").alias("k_purchases"),
        F.col("__nu").cast("long").alias("n_users_exact"),
        F.col("__ge").cast("long").alias("n_users_ge"),
        F.round(
            F.try_divide(F.col("__ge"), F.col("__tot")).cast(d18), 6
        ).cast("double").alias("share_ge"),
    )


_REPEAT_PURCHASE_SQL = """
WITH per_user AS (
  SELECT user_id, count(*) AS c FROM events
  WHERE event_type = 'purchase' GROUP BY 1
),
dist AS (SELECT c, count(*) AS nu FROM per_user GROUP BY 1),
staged AS (
  SELECT c, nu,
         sum(nu) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING) AS ge,
         sum(nu) OVER () AS tot
  FROM dist
)
SELECT c::BIGINT AS k_purchases,
       nu::BIGINT AS n_users_exact,
       ge::BIGINT AS n_users_ge,
       round((ge / tot::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS share_ge
FROM staged
"""


QUERIES = {
    "autocorr": q_autocorr,
    "seasonal_adjust": q_seasonal_adjust,
    "window_funnel": q_window_funnel,
    "chi_square": q_chi_square,
    "anova_f": q_anova_f,
    "cuped": q_cuped,
    "holt_trend": q_holt_trend,
    "holt_winters": q_holt_winters,
    "churn_labels": q_churn_labels,
    "forecast_eval": q_forecast_eval,
    "forecast_anomalies": q_forecast_anomalies,
    "signed_rank": q_signed_rank,
    "trend_robust": q_trend_robust,
    "cumulative_reach": q_cumulative_reach,
    "user_twa": q_user_twa,
    "session_stats": q_session_stats,
    "reorder_gaps": q_reorder_gaps,
    "user_migration": q_user_migration,
    "weekday_effect": q_weekday_effect,
    "survival_table": q_survival_table,
    "cohort_retention": q_cohort_retention,
    "peak_concurrency": q_peak_concurrency,
    "asof_rate": q_asof_rate,
    "attribution": q_attribution,
    "mad_outliers": q_mad_outliers,
    "join_forecast": q_join_forecast,
    "mom_growth": q_mom_growth,
    "ab_test": q_ab_test,
    "active_users": q_active_users,
    "conversion_latency": q_conversion_latency,
    "pattern_completions": q_pattern_completions,
    "range_count": q_range_count,
    "resample_ffill": q_resample_ffill,
    "grouped_zscore": q_grouped_zscore,
    "pandas_gmean": q_pandas_gmean,
    "rolling_hourly": q_rolling_hourly,
    "daily_trend": q_daily_trend,
    "outlier_fences": q_outlier_fences,
    "anomaly_flags": q_anomaly_flags,
    "rolling_quantiles": q_rolling_quantiles,
    "watermark_audit": q_watermark_audit,
    "did_readout": q_did_readout,
    "freshness_check": q_freshness_check,
    "sequence_export": q_sequence_export,
    "markov_3step": q_markov_3step,
    "debounce": q_debounce,
    "decayed_value": q_decayed_value,
    "user_ewma": q_user_ewma,
    "cusum_drift": q_cusum_drift,
    "time_split": q_time_split,
    "session_paths": q_session_paths,
    "cooccurrence": q_cooccurrence,
    "mutual_info": q_mutual_info,
    "interval_merge": q_interval_merge,
    "cross_corr": q_cross_corr,
    "changepoint": q_changepoint,
    "burstiness": q_burstiness,
    "repeat_purchase_curve": q_repeat_purchase_curve,
}

ORACLES = {
    "autocorr": _AUTOCORR_SQL,
    "seasonal_adjust": _SEASONAL_ADJUST_SQL,
    "window_funnel": _WINDOW_FUNNEL_SQL,
    "chi_square": _CHI_SQUARE_SQL,
    "anova_f": _ANOVA_F_SQL,
    "cuped": _CUPED_SQL,
    "holt_trend": _holt_sql(),
    "holt_winters": _holt_winters_sql(),
    "churn_labels": _CHURN_LABELS_SQL,
    "forecast_eval": _forecast_eval_sql(),
    "forecast_anomalies": _forecast_anomalies_sql(),
    "signed_rank": _SIGNED_RANK_SQL,
    "trend_robust": _TREND_ROBUST_SQL,
    "cumulative_reach": _CUMULATIVE_REACH_SQL,
    "user_twa": _USER_TWA_SQL,
    "session_stats": _SESSION_STATS_SQL,
    "reorder_gaps": _REORDER_GAPS_SQL,
    "user_migration": _USER_MIGRATION_SQL,
    "weekday_effect": _WEEKDAY_EFFECT_SQL,
    "survival_table": _SURVIVAL_TABLE_SQL,
    "cohort_retention": _COHORT_RETENTION_SQL,
    "peak_concurrency": _PEAK_CONCURRENCY_SQL,
    "asof_rate": _ASOF_SQL,
    "attribution": _ATTRIBUTION_SQL,
    "mad_outliers": _MAD_SQL,
    "join_forecast": _JOIN_FORECAST_SQL,
    "mom_growth": _MOM_SQL,
    "ab_test": _AB_TEST_SQL,
    "active_users": _ACTIVE_USERS_SQL,
    "conversion_latency": _CONVERSION_LATENCY_SQL,
    "pattern_completions": _PATTERN_SQL,
    "range_count": _RANGE_SQL,
    "resample_ffill": _RESAMPLE_SQL,
    "grouped_zscore": _ZSCORE_SQL,
    "pandas_gmean": _GMEAN_SQL,
    "rolling_hourly": _ROLLING_SQL,
    "daily_trend": _DAILY_TREND_SQL,
    "outlier_fences": _OUTLIER_SQL,
    "anomaly_flags": _ANOMALY_SQL,
    "rolling_quantiles": _ROLLING_QUANTILES_SQL,
    "watermark_audit": _WATERMARK_SQL,
    "did_readout": _DID_SQL,
    "freshness_check": _FRESHNESS_SQL,
    "sequence_export": _SEQUENCE_SQL,
    "markov_3step": _MARKOV_SQL,
    "debounce": _DEBOUNCE_SQL,
    "decayed_value": _DECAYED_SQL,
    "user_ewma": _ewma_sql(),
    "cusum_drift": _cusum_sql(),
    "time_split": _TIME_SPLIT_SQL,
    "session_paths": _SESSION_PATHS_SQL,
    "cooccurrence": _COOCCURRENCE_SQL,
    "mutual_info": _MUTUAL_INFO_SQL,
    "interval_merge": _INTERVAL_MERGE_SQL,
    "cross_corr": _CROSS_CORR_SQL,
    "changepoint": _CHANGEPOINT_SQL,
    "burstiness": _BURSTINESS_SQL,
    "repeat_purchase_curve": _REPEAT_PURCHASE_SQL,
}


# ---------------------------------------------------------------------------
# bounce rate by session entry type — round 8
# ---------------------------------------------------------------------------


def q_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate segmented by session ENTRY event type: which
    doorway loses users immediately — the per-entry breakdown of
    session_stats' single bounce number (the first product-analytics
    question after "what's our bounce rate"). Sessions are the same
    30-minute-gap assignment (operators/temporal.sessionize_ids); the
    entry row and per-session size come from two window functions over
    ONE keyed exchange; the readout groupBy runs on |sessions| rows.
    Rates are exact-int divisions, DECIMAL-recast rounds."""
    from pyspark.sql.window import Window

    from sparkprep.operators import temporal

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    sess = temporal.sessionize_ids(
        ev, ["user_id"], "ts", gap="30 minutes", order_cols=["ts", "event_id"]
    )
    w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    wa = Window.partitionBy("user_id", "session_id")
    pers = sess.select(
        "event_type",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wa).alias("__n_ev"),
    )
    entry = pers.filter(F.col("__rn") == 1)
    return (
        entry.groupBy(F.col("event_type").alias("entry_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum((F.col("__n_ev") == 1).cast("long"))
            .cast("long")
            .alias("n_bounced"),
            F.round(
                (
                    F.sum((F.col("__n_ev") == 1).cast("long")).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).cast("decimal(18,8)"),
                6,
            )
            .cast("double")
            .alias("bounce_rate"),
            F.round(
                (
                    F.sum("__n_ev").cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).cast("decimal(18,8)"),
                4,
            )
            .cast("double")
            .alias("events_per_session"),
        )
        .orderBy("entry_type")
    )


_BOUNCE_RATE_SQL = """
WITH br_m AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
br_s AS (
  SELECT user_id, event_id, ts, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM br_m
),
br_p AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id, session_id) AS n_ev
  FROM br_s
)
SELECT event_type AS entry_type,
       count(*)::BIGINT AS n_sessions,
       sum((n_ev = 1)::BIGINT)::BIGINT AS n_bounced,
       round((sum((n_ev = 1)::BIGINT)::DOUBLE / count(*)::DOUBLE)::DECIMAL(18,8),
             6)::DOUBLE AS bounce_rate,
       round((sum(n_ev)::DOUBLE / count(*)::DOUBLE)::DECIMAL(18,8),
             4)::DOUBLE AS events_per_session
FROM br_p WHERE rn = 1
GROUP BY 1 ORDER BY 1
"""


QUERIES["bounce_rate"] = q_bounce_rate
ORACLES["bounce_rate"] = _BOUNCE_RATE_SQL


# ---------------------------------------------------------------------------
# Markov stationary distribution + convergence readout — round 8
# ---------------------------------------------------------------------------

_STATIONARY_STEPS = 6


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-run (stationary) event-type distribution of the user-
    journey Markov chain with a convergence certificate: 6 power
    steps from uniform, reporting each state's limiting probability
    AND the per-state movement in the final step (≈0 ⇒ converged) —
    markov_3step answers "after three clicks"; this answers "in the
    long run, where do journeys live, and has the chain actually
    mixed".

    Six steps suffice: a ~uniform 5-state chain contracts ~1e-2 per
    step (measured delta 4e-12 at step 6 — far below the round(6)
    output grain), and the last-step delta in the OUTPUT certifies it
    per run, so a slower-mixing future generation shows up in the
    result rather than silently under-iterating.

    The transition fit runs ONCE (checkpointed — both the
    ``_STATIONARY_STEPS - 1``-step and final-step consumers read the
    leaf); every iteration is a broadcast join over the |states|²
    matrix with the per-step round(12) drift pin power_iteration
    documents."""
    ev = t(spark, sf_dir, "events")
    # |states|² ≈ 25 rows: transition_matrix ends in an exchange, so AQE
    # has already sized the loop's working set when the cut is built
    # (the loop-sizing rule in operators/physical.py)
    trans = graph.transition_matrix(
        ev, "user_id", "event_type", [F.col("ts"), F.col("event_id")]
    ).transform(lazy_checkpoint)
    states = ev.select(F.col("event_type").alias("state")).distinct()
    d_prev = graph.power_iteration(trans, states, steps=_STATIONARY_STEPS - 1)
    d_last = (
        trans.withColumnRenamed("src", "__src")
        .join(
            d_prev.select(F.col("state").alias("__src"), F.col("p").alias("pp")),
            "__src",
        )
        .groupBy(F.col("dst").alias("state"))
        .agg(F.round(F.sum(F.col("p") * F.col("pp")), 12).alias("p"))
    )
    joined = d_last.join(
        d_prev.select("state", F.col("p").alias("p_prev")), "state", "left"
    )
    return joined.select(
        F.col("state").alias("event_type"),
        F.round("p", 6).alias("p_stationary"),
        F.round(F.abs(F.col("p") - F.col("p_prev")), 6).alias("last_step_delta"),
    ).orderBy("event_type")


def _markov_stationary_sql(steps: int) -> str:
    iters = []
    for i in range(1, steps + 1):
        iters.append(
            f"md{i} AS (\n"
            f"  SELECT t.dst AS state, round(sum(t.p * d.p), 12) AS p\n"
            f"  FROM ms_trans t JOIN md{i - 1} d ON t.src = d.state GROUP BY 1\n"
            f")"
        )
    return (
        "WITH ms_seq AS (\n"
        "  SELECT event_type AS dst,\n"
        "         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src\n"
        "  FROM events\n"
        "),\n"
        "ms_edges AS (\n"
        "  SELECT src, dst, count(*) AS n FROM ms_seq WHERE src IS NOT NULL GROUP BY 1, 2\n"
        "),\n"
        "ms_trans AS MATERIALIZED (\n"
        "  SELECT src, dst, n::DOUBLE / sum(n) OVER (PARTITION BY src) AS p FROM ms_edges\n"
        "),\n"
        "ms_states AS (SELECT DISTINCT event_type AS state FROM events),\n"
        "md0 AS (\n"
        "  SELECT state, round(1.0::DOUBLE / (SELECT count(*) FROM ms_states), 12) AS p\n"
        "  FROM ms_states\n"
        "),\n"
        + ",\n".join(iters)
        + f"""
SELECT l.state AS event_type, round(l.p, 6) AS p_stationary,
       round(abs(l.p - pv.p), 6) AS last_step_delta
FROM md{steps} l LEFT JOIN md{steps - 1} pv ON l.state = pv.state
ORDER BY 1"""
    )


QUERIES["markov_stationary"] = q_markov_stationary
ORACLES["markov_stationary"] = _markov_stationary_sql(_STATIONARY_STEPS)


# ---------------------------------------------------------------------------
# Croston intermittent-demand forecast — round 8
# ---------------------------------------------------------------------------

_CROSTON_ALPHA = 0.25  # exact binary fraction — identical bits both engines
_CROSTON_MIN_DEMANDS = 5


def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method per part: the standard forecaster for
    INTERMITTENT demand (most parts ship in a few scattered weeks —
    holt_trend's dense-series smoothing is the wrong model there).
    Weekly demand occurrences per part feed two coupled SES
    recurrences — smoothed demand size z and smoothed inter-demand
    interval p — and the forecast rate is z/p per week.

    The weekly aggregate + lag interval are native (exact int64 week
    arithmetic); the per-part recursion runs on the Arrow grouped-map
    path (operators/grouped.grouped_croston — the user_ewma regime:
    no window function expresses a linear recurrence) with α = 0.25,
    an exact binary fraction, so every float step is bit-identical to
    the oracle's keyed recursive-CTE replay. Parts below
    5 demand-weeks are excluded (Croston state is noise there)."""
    from pyspark.sql.window import Window

    from sparkprep.operators import grouped as gr

    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(
            "unix_micros(cast(l_shipdate as timestamp)) div 604800000000"
        ).alias("wk"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    weekly = li.groupBy("l_partkey", "wk").agg(F.sum("qty").alias("d"))
    w = Window.partitionBy("l_partkey").orderBy("wk")
    occ = weekly.select(
        "l_partkey",
        "wk",
        "d",
        F.coalesce(
            (F.col("wk") - F.lag("wk").over(w)).cast("double"), F.lit(1.0)
        ).alias("q"),
        F.count(F.lit(1)).over(Window.partitionBy("l_partkey")).alias("__n"),
    ).filter(F.col("__n") >= _CROSTON_MIN_DEMANDS)
    state = gr.grouped_croston(
        occ, ["l_partkey"], ["wk"], "d", "q", alpha=_CROSTON_ALPHA
    )
    return state.select(
        F.col("l_partkey").cast("long").alias("part"),
        F.col("n_demands").cast("long").alias("n_demand_weeks"),
        F.round("z", 6).alias("smoothed_size"),
        F.round("p", 6).alias("smoothed_interval"),
        F.round(F.col("z") / F.col("p"), 6).alias("weekly_rate"),
    ).orderBy("part")


def _croston_sql() -> str:
    a = _CROSTON_ALPHA
    return f"""
WITH RECURSIVE cr_w AS (
  SELECT l_partkey,
         epoch_us(l_shipdate) // 604800000000 AS wk,
         sum(l_quantity::BIGINT) AS d
  FROM lineitem GROUP BY 1, 2
),
cr_o AS (
  SELECT l_partkey, wk, d,
         coalesce((wk - lag(wk) OVER (PARTITION BY l_partkey ORDER BY wk))::DOUBLE,
                  1.0) AS q,
         row_number() OVER (PARTITION BY l_partkey ORDER BY wk) AS rn,
         count(*) OVER (PARTITION BY l_partkey) AS n
  FROM cr_w
),
cr_f AS MATERIALIZED (
  SELECT * FROM cr_o WHERE n >= {_CROSTON_MIN_DEMANDS}
),
cr_s(l_partkey, rn, n, z, p) AS (
  SELECT l_partkey, rn, n, d::DOUBLE, q FROM cr_f WHERE rn = 1
  UNION ALL
  SELECT o.l_partkey, o.rn, o.n,
         s.z + {a!r} * (o.d::DOUBLE - s.z),
         s.p + {a!r} * (o.q - s.p)
  FROM cr_s s JOIN cr_f o ON o.l_partkey = s.l_partkey AND o.rn = s.rn + 1
)
SELECT l_partkey::BIGINT AS part, n::BIGINT AS n_demand_weeks,
       round(z, 6) AS smoothed_size,
       round(p, 6) AS smoothed_interval,
       round(z / p, 6) AS weekly_rate
FROM cr_s WHERE rn = n ORDER BY part
"""


QUERIES["croston"] = q_croston
ORACLES["croston"] = _croston_sql()


# ---------------------------------------------------------------------------
# journey edit-distance panel — round 8
# ---------------------------------------------------------------------------

_JOURNEY_USERS = 10
_JOURNEY_MAX_EVENTS = 50


def q_journey_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise edit distance between user journeys: each user's
    (ts, event_id)-ordered event types collapse to an initial-letter
    string (first 50 events), and every pair among the 10 smallest
    user ids gets a Levenshtein distance plus a length-normalized
    similarity — the distance matrix behind journey clustering /
    "which users behave alike" (session_paths shows individual routes;
    this compares them).

    The journey fold is one map-combined groupBy (slice bounds the
    string); the pair frame is a broadcast self-join of the FIXED
    10-row panel (45 pairs, never users²) — the bounded-panel contract
    is what scales: at 100 TB you compare cohort exemplars, not every
    user pair. Levenshtein is exact-integer native in both engines;
    the similarity is ONE division."""
    ev = t(spark, sf_dir, "events")
    journeys = (
        ev.filter(F.col("user_id") < _JOURNEY_USERS)
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "ts", "event_id",
                                    F.substring("event_type", 1, 1).alias("c"),
                                )
                            )
                        ),
                        lambda s: s["c"],
                    ),
                    1,
                    _JOURNEY_MAX_EVENTS,
                ),
            ).alias("j")
        )
    )
    a = journeys.select(F.col("user_id").alias("user_a"), F.col("j").alias("ja"))
    b = journeys.select(F.col("user_id").alias("user_b"), F.col("j").alias("jb"))
    pairs = a.join(F.broadcast(b), F.col("user_a") < F.col("user_b"))
    dist = F.levenshtein("ja", "jb").cast("long")
    maxlen = F.greatest(F.length("ja"), F.length("jb"))
    return pairs.select(
        "user_a",
        "user_b",
        F.length("ja").cast("long").alias("len_a"),
        F.length("jb").cast("long").alias("len_b"),
        dist.alias("edit_distance"),
        F.round(
            (F.lit(1.0) - F.try_divide(dist.cast("double"), maxlen.cast("double")))
            .cast("decimal(18,8)"),
            6,
        )
        .cast("double")
        .alias("similarity"),
    ).orderBy("user_a", "user_b")


_JOURNEY_DISTANCE_SQL = f"""
WITH jd_o AS (
  SELECT user_id, substring(event_type, 1, 1) AS c,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id < {_JOURNEY_USERS}
),
jd_j AS (
  SELECT user_id, string_agg(c, '' ORDER BY rn) AS j
  FROM jd_o WHERE rn <= {_JOURNEY_MAX_EVENTS} GROUP BY 1
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       length(a.j)::BIGINT AS len_a, length(b.j)::BIGINT AS len_b,
       levenshtein(a.j, b.j)::BIGINT AS edit_distance,
       round((1.0 - levenshtein(a.j, b.j)::DOUBLE
              / greatest(length(a.j), length(b.j))::DOUBLE)::DECIMAL(18,8),
             6)::DOUBLE AS similarity
FROM jd_j a JOIN jd_j b ON a.user_id < b.user_id
ORDER BY 1, 2
"""


QUERIES["journey_distance"] = q_journey_distance
ORACLES["journey_distance"] = _JOURNEY_DISTANCE_SQL


# ---------------------------------------------------------------------------
# cohort LTV curve — round 8
# ---------------------------------------------------------------------------


def q_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers cohorted by first-order
    year, average CUMULATIVE revenue per customer at each cohort age —
    the curve whose flattening says when a cohort stops paying back
    (cohort_retention counts activity; this follows the money).

    Every (customer, age) cell exists — a customer quiet in a year
    still carries their prior cumulative value (the census trap naive
    group-bys hit: averaging only active customers inflates the tail).
    The dense grid is a row-local ``sequence`` explode bounded by the
    order calendar (≤8 ages), never a join against a generated
    calendar; cumulative sums are keyed (per customer) over exact
    int64 cents; the horizon is a 1-row broadcast attach; the readout
    averages per (cohort, age) with ONE exact-int division."""
    from pyspark.sql.window import Window

    orders = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year(F.col("o_orderdate").cast("timestamp")).alias("yr"),
        F.round((F.col("o_totalprice") * 100).cast("decimal(18,8)"))
        .cast("long")
        .alias("cents"),
    )
    yearly = orders.groupBy("o_custkey", "yr").agg(
        F.sum("cents").alias("ycents")
    )
    firsts = yearly.groupBy("o_custkey").agg(F.min("yr").alias("cohort"))
    horizon = orders.agg(F.max("yr").alias("max_yr"))
    grid = (
        firsts.crossJoin(F.broadcast(horizon))
        .select(
            "o_custkey",
            "cohort",
            F.explode(F.sequence(F.col("cohort"), F.col("max_yr"))).alias("yr"),
        )
    )
    filled = grid.join(yearly, ["o_custkey", "yr"], "left").select(
        "o_custkey",
        "cohort",
        (F.col("yr") - F.col("cohort")).alias("age"),
        F.coalesce("ycents", F.lit(0)).alias("ycents"),
    )
    wc = (
        Window.partitionBy("o_custkey")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = filled.select(
        "cohort", "age", F.sum("ycents").over(wc).alias("cum")
    )
    return (
        cum.groupBy("cohort", "age")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(
                (
                    F.sum("cum").cast("double")
                    / (F.count(F.lit(1)) * 100).cast("double")
                ).cast("decimal(18,8)"),
                2,
            )
            .cast("double")
            .alias("avg_cum_revenue"),
        )
        .orderBy("cohort", "age")
    )


_LTV_CURVE_SQL = """
WITH lv_o AS (
  SELECT o_custkey, year(o_orderdate) AS yr,
         round((o_totalprice * 100)::DECIMAL(18,8))::BIGINT AS cents
  FROM orders
),
lv_y AS (
  SELECT o_custkey, yr, sum(cents) AS ycents FROM lv_o GROUP BY 1, 2
),
lv_f AS (SELECT o_custkey, min(yr) AS cohort FROM lv_y GROUP BY 1),
lv_h AS (SELECT max(yr) AS max_yr FROM lv_o),
lv_g AS (
  SELECT f.o_custkey, f.cohort, u.yr
  FROM lv_f f CROSS JOIN lv_h h,
       UNNEST(range(f.cohort, h.max_yr + 1)) AS u(yr)
),
lv_fill AS (
  SELECT g.o_custkey, g.cohort, g.yr - g.cohort AS age,
         coalesce(y.ycents, 0) AS ycents
  FROM lv_g g LEFT JOIN lv_y y ON g.o_custkey = y.o_custkey AND g.yr = y.yr
),
lv_c AS (
  SELECT cohort, age,
         sum(ycents) OVER (PARTITION BY o_custkey ORDER BY age
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM lv_fill
)
SELECT cohort::BIGINT AS cohort, age::BIGINT AS age,
       count(*)::BIGINT AS n_customers,
       round((sum(cum)::DOUBLE / (count(*) * 100)::DOUBLE)::DECIMAL(18,8),
             2)::DOUBLE AS avg_cum_revenue
FROM lv_c GROUP BY 1, 2 ORDER BY 1, 2
"""


QUERIES["ltv_curve"] = q_ltv_curve
ORACLES["ltv_curve"] = _LTV_CURVE_SQL
