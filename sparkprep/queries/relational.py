"""Relational / EDA queries: aggregation, frequency, profiling, sorts,
joins, windows over the TPC-H-ish tables (SURVEY.md §2.6-2.8; joins are
reference-absent but engine-supported, §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkprep.functions import numeric
from sparkprep.operators import profile, transform
from sparkprep.queries import t


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary. One shuffle on the
    group keys; every aggregate partial-aggregates map-side."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_freq_orderpriority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 — frequency table + derived percent (bde4.ipynb#cell31)."""
    orders = t(spark, sf_dir, "orders")
    return profile.freq(orders, "o_orderpriority", with_percent=True).select(
        "o_orderpriority",
        F.col("count").cast("long").alias("count"),
        F.round("percent", 6).alias("percent"),
    )


_FREQ_SQL = """
SELECT o_orderpriority, count(*) AS count,
       round(count(*)::DOUBLE / (SELECT count(*) FROM orders), 6) AS percent
FROM orders GROUP BY o_orderpriority ORDER BY count DESC, o_orderpriority
"""


_LINEITEM_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
]


def q_null_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/N7 — per-column null counts, single pass (nulls.ipynb#cell5)."""
    li = t(spark, sf_dir, "lineitem")
    return profile.null_census_long(li).select(
        F.col("column").alias("col_name"),
        "null_count",
        F.round("null_frac", 6).alias("null_frac"),
    )


_NULL_CENSUS_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS col_name, "
    f"count(*) FILTER (WHERE {c} IS NULL)::BIGINT AS null_count, "
    f"round(count(*) FILTER (WHERE {c} IS NULL)::DOUBLE / count(*), 6) AS null_frac "
    f"FROM lineitem"
    for c in _LINEITEM_COLS
)


_DESCRIBE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_describe_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — describe() as ONE fused aggregate, long form (SURVEY §4)."""
    li = t(spark, sf_dir, "lineitem")
    return profile.describe_long(li, _DESCRIBE_COLS, round_to=4).select(
        F.col("column").alias("col_name"), "count", "mean", "stddev", "min", "max"
    )


_DESCRIBE_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS col_name, count({c})::BIGINT AS count, "
    f"round(avg({c}), 4) AS mean, round(stddev({c}), 4) AS stddev, "
    f"round(min({c})::DOUBLE, 4) AS min, round(max({c})::DOUBLE, 4) AS max "
    f"FROM lineitem"
    for c in _DESCRIBE_COLS
)


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O3 — sort + limit. Catalyst turns this into TakeOrderedAndProject
    (per-partition top-k, then k*partitions rows to one reducer — no
    global sort). Tie-broken on the key for determinism."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


_TOPK_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — distinct values of a column (mlpc.ipynb:581)."""
    return profile.distinct_values(t(spark, sf_dir, "events"), "event_type")


_DISTINCT_SQL = "SELECT DISTINCT event_type FROM events"


def q_join_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join through two broadcast dims (nation, region): zero
    shuffle on the fact side until the final small groupBy."""
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("num_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
        .orderBy("r_name")
    )


_JOIN_REGIONS_SQL = """
SELECT r_name, count(*) AS num_customers, round(avg(c_acctbal), 4) AS avg_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def q_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join + agg + top-k. Filters are pushed to
    each scan; customer (small side after filter) broadcasts under AQE;
    ordering on the raw (unrounded) revenue keeps the top-10 set
    engine-independent."""
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey).join(
        li, orders.o_orderkey == li.l_orderkey
    )
    rev = joined.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev")
    )
    return (
        rev.orderBy(F.desc("__rev"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", F.round("__rev", 2).alias("revenue"), "o_orderdate")
    )


_JOIN_REVENUE_SQL = """
WITH rev AS (
  SELECT l_orderkey, o_orderdate,
         sum(l_extendedprice * (1 - l_discount)) AS raw_rev
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-01-01'
    AND l_shipdate  > TIMESTAMP '1998-01-01'
  GROUP BY l_orderkey, o_orderdate
)
SELECT l_orderkey, round(raw_rev, 2) AS revenue, o_orderdate
FROM rev ORDER BY raw_rev DESC, l_orderkey LIMIT 10
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the events table — the batch
    equivalent of the streaming path (sparkprep.streaming); the same
    ``F.window`` expression runs under readStream with a watermark."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("hour_start", "event_type")
    )


_EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user, batch mode — the same
    ``F.session_window`` the streaming module uses (unified API). State
    note for streaming: sessions close when the watermark passes the
    gap. Oracle is the classic gaps-and-islands rewrite (lag + cumsum),
    proving the operator's semantics, not just its plumbing.

    Boundary convention: Spark merges an event into a session while
    ts < last_ts + gap (end-exclusive); the oracle's ``> INTERVAL``
    matches. Exact-boundary events (gap of precisely 30:00.000000) would
    diverge — microsecond event times make that measure-zero.
    """
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


_EVENTS_SESSIONIZE_SQL = """
WITH o AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
), f AS (
  SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM o
), s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM f
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def q_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 — confusion matrix + derived rates as ONE aggregate, under the
    oracle: a deterministic rule stands in for a model (label =
    status 'F', prediction = totalprice below threshold), so both
    engines score identical 'predictions'. The reference computed these
    by collecting the whole scored set to pandas (mlpc.py:519)."""
    orders = t(spark, sf_dir, "orders")
    lbl = F.col("o_orderstatus") == "F"
    prd = F.col("o_totalprice") < 150000.0
    return orders.agg(
        F.count(F.when(lbl & prd, True)).alias("tp"),
        F.count(F.when(lbl & ~prd, True)).alias("fn"),
        F.count(F.when(~lbl & ~prd, True)).alias("tn"),
        F.count(F.when(~lbl & prd, True)).alias("fp"),
        F.round(
            F.count(F.when(lbl & prd, True)) / F.count(F.when(prd, True)), 6
        ).alias("ppv"),
        F.round(
            F.count(F.when(lbl & prd, True)) / F.count(F.when(lbl, True)), 6
        ).alias("sensitivity"),
        F.round(
            (F.count(F.when(lbl & prd, True)) + F.count(F.when(~lbl & ~prd, True)))
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
    )


_CONFUSION_SQL = """
SELECT count(*) FILTER (WHERE o_orderstatus = 'F' AND o_totalprice < 150000)::BIGINT AS tp,
       count(*) FILTER (WHERE o_orderstatus = 'F' AND o_totalprice >= 150000)::BIGINT AS fn,
       count(*) FILTER (WHERE o_orderstatus != 'F' AND o_totalprice >= 150000)::BIGINT AS tn,
       count(*) FILTER (WHERE o_orderstatus != 'F' AND o_totalprice < 150000)::BIGINT AS fp,
       round(count(*) FILTER (WHERE o_orderstatus = 'F' AND o_totalprice < 150000)::DOUBLE
             / count(*) FILTER (WHERE o_totalprice < 150000), 6) AS ppv,
       round(count(*) FILTER (WHERE o_orderstatus = 'F' AND o_totalprice < 150000)::DOUBLE
             / count(*) FILTER (WHERE o_orderstatus = 'F'), 6) AS sensitivity,
       round((count(*) FILTER (WHERE o_orderstatus = 'F' AND o_totalprice < 150000)
              + count(*) FILTER (WHERE o_orderstatus != 'F' AND o_totalprice >= 150000))::DOUBLE
             / count(*), 6) AS accuracy
FROM orders
"""


def q_stats_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended statistical profile beyond describe(): exact interpolated
    percentiles (p50/p90) + correlation + sample covariance per group.
    At 100 TB switch percentile -> percentile_approx (single-pass
    sketch; exact percentile is a per-group sort) — profile.describe_long
    documents the same trade."""
    li = t(spark, sf_dir, "lineitem")
    # ONE percentile buffer for both percentages (array form): two
    # separate percentile() calls each kept their own per-group
    # value-count map through partial agg + exchange + merge — the
    # array form buffers and sorts once and reads both interpolation
    # points from it, same exact interpolated values (r10; 3.7s -> ~2.3s
    # measured at sf0.1)
    pcts = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)))
    return (
        li.groupBy("l_returnflag")
        .agg(
            pcts.alias("__pcts"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("__pcts", 1), 4).alias("p50_price"),
            F.round(F.element_at("__pcts", 2), 4).alias("p90_price"),
            "corr_qty_price",
            "covar_qty_price",
        )
        .orderBy("l_returnflag")
    )


_STATS_EXTENDED_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (skew mitigation): results must be
    IDENTICAL to a plain groupBy — which is exactly what the oracle
    checks. The hot-key win only shows at scale; the semantics contract
    is checkable at any scale."""
    from sparkprep.operators.skew import salted_agg

    ev = t(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n": "count(*)",
            "total": "sum(value)",
            "avg_value": "avg(value)",
            "max_value": "max(value)",
        },
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        "n",
        F.round("total", 2).alias("total"),
        F.round("avg_value", 4).alias("avg_value"),
        "max_value",
    ).orderBy("event_type")


_SALTED_AGG_SQL = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS total,
       round(avg(value), 4) AS avg_value, max(value) AS max_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-key diagnosis on orders.o_custkey: the 10 hottest keys
    with share-of-table and skew factor (count ÷ mean per-key load) —
    the report that decides whether a join needs salting or AQE skew
    handling BEFORE it runs (operators/skew.key_skew_report: one count
    aggregate, TakeOrdered top-k, 1-row totals attach with the count
    exchange reused)."""
    orders = t(spark, sf_dir, "orders")
    from sparkprep.operators.skew import key_skew_report

    return key_skew_report(orders, "o_custkey", top=10)


_KEY_SKEW_SQL = """
WITH counts AS (
  SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY 1
),
tot AS (SELECT sum(n) AS total, count(*) AS nkeys FROM counts)
SELECT key, n::BIGINT AS n,
       round(n / total, 6) AS share,
       round(n * nkeys / total, 4) AS skew_factor
FROM counts, tot
ORDER BY n DESC, key LIMIT 10
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h width, 30 min slide): every event lands in
    two overlapping windows. Oracle mirrors via a union of the two
    aligned bucketings."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
        .orderBy("window_start", "event_type")
    )


_EVENTS_SLIDING_SQL = """
WITH assigned AS (
  -- ::TIMESTAMP strips DuckDB's to_timestamp TIMESTAMPTZ back to naive
  SELECT to_timestamp(floor(epoch(ts) / 1800) * 1800)::TIMESTAMP - INTERVAL 30 MINUTE AS window_start,
         event_type
  FROM events
  UNION ALL
  SELECT to_timestamp(floor(epoch(ts) / 1800) * 1800)::TIMESTAMP AS window_start, event_type
  FROM events
)
SELECT window_start, event_type, count(*) AS n_events
FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_sql_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 — the SQL front door the reference registered but never used
    (loanStat.py:161 ``registerTempTable``): temp view + ``spark.sql``.
    Same Catalyst plan as the DataFrame form — proven by sharing an
    oracle with an equivalent aggregate."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, count(*) AS count,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem_v GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


_SQL_VIEW_SQL = """
SELECT l_returnflag, count(*) AS count, round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets capability (reference-absent, SURVEY §2.6 'free via
    df.cube/rollup'): hierarchical subtotals in one pass."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS count, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the non-hierarchical case rollup/cube
    can't express: ((flag, status), (status), ()) skips the (flag)
    subtotal a rollup would force. One pass, still map-side partial-
    aggregated per set; ``grouping_id`` disambiguates subtotal NULLs
    from data NULLs (bit order: first column = MSB in both engines)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("count"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
       count(*) AS count, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
ORDER BY gid, l_returnflag, l_linestatus
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped six-table star join: two broadcast dims
    (region→nation), two shuffle joins on the fact chain
    (customer⋈orders⋈lineitem), supplier joined on BOTH suppkey and the
    customer's nation (the 'local supplier' predicate). Shape notes for
    scale: region/nation broadcast (KBs), supplier broadcasts under AQE
    at any SF where it fits, and the only large shuffles are the two
    fact-chain joins on their natural keys — the same keys a bucketed
    layout (writers.write_bucketed) would co-locate to zero-exchange."""
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    return (
        cust.join(F.broadcast(asia_nations), cust.c_nationkey == F.col("n_nationkey"))
        .join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


_LOCAL_SUPPLIER_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped conditional-ratio aggregate: promo revenue share
    per month. part (small dim) broadcasts; the ratio is two conditional
    sums in ONE aggregate — no second pass, no self-join. ANSI-safe:
    denominator guarded (a month with zero revenue yields null)."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
    total_rev = F.sum(rev)
    return (
        # part is unfiltered catalog grain — no forced broadcast
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.round(
                F.when(total_rev != 0, 100.0 * promo_rev / total_rev), 4
            ).alias("promo_share"),
            F.round(total_rev, 2).alias("total_revenue"),
        )
    )


_PROMO_SHARE_SQL = """
SELECT date_trunc('month', l_shipdate)::TIMESTAMP AS ship_month,
       round(CASE WHEN sum(l_extendedprice * (1 - l_discount)) <> 0
                  THEN 100.0 * sum(CASE WHEN p_type = 'PROMO'
                                        THEN l_extendedprice * (1 - l_discount)
                                        ELSE 0.0 END)
                       / sum(l_extendedprice * (1 - l_discount)) END, 4) AS promo_share,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY date_trunc('month', l_shipdate)
"""


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped having-semi-join: orders whose total lineitem
    quantity exceeds a threshold, rejoined to orders+customer. The
    groupBy-HAVING side reduces lineitem to a tiny key set FIRST (one
    shuffle on l_orderkey, map-combined), which then broadcasts into
    the orders join under AQE — the anti-pattern it replaces is joining
    full lineitem to orders and aggregating after."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


_BIG_ORDERS_SQL = """
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 150
)
SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-flavored decorrelation: for each part, the supplier
    offering its minimum line price. The correlated-subquery phrasing
    ('price = (SELECT min(price) ... WHERE same part)') becomes a
    window-min over the part key — one shuffle, no subquery re-scan,
    then a broadcast join to supplier names. Ties kept (same as the
    SQL EXISTS form); min_price carried for the oracle hash."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    supp = t(spark, sf_dir, "supplier")
    w = Window.partitionBy("l_partkey")
    cheapest = (
        li.withColumn("__min_price", F.min("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("__min_price"))
        .select(
            "l_partkey", "l_suppkey",
            F.round("l_extendedprice", 2).alias("min_price"),
        )
        .dropDuplicates(["l_partkey", "l_suppkey"])
    )
    # supplier is unfiltered catalog grain — no forced broadcast
    return cheapest.join(
        supp, cheapest.l_suppkey == supp.s_suppkey
    ).select("l_partkey", "l_suppkey", "s_name", "min_price")


_CHEAPEST_SUPPLIER_SQL = """
WITH cheapest AS (
  SELECT DISTINCT l_partkey, l_suppkey, round(l_extendedprice, 2) AS min_price
  FROM (
    SELECT l_partkey, l_suppkey, l_extendedprice,
           min(l_extendedprice) OVER (PARTITION BY l_partkey) AS mn
    FROM lineitem
  ) WHERE l_extendedprice = mn
)
SELECT l_partkey, l_suppkey, s_name, min_price
FROM cheapest JOIN supplier ON l_suppkey = s_suppkey
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): per-user
    min-timestamp per step in ONE conditional aggregate (no per-step
    self-joins — the naive funnel is k-1 joins over the full event
    stream), then step-ordering comparisons and a single global count.
    Scales as one shuffle on user_id + a scalar rollup."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    did_view = F.col("t_view").isNotNull()
    did_click = did_view & (F.col("t_click") > F.col("t_view"))
    did_purchase = did_click & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count(F.when(did_view, 1)).alias("n_view"),
        F.count(F.when(did_click, 1)).alias("n_view_click"),
        F.count(F.when(did_purchase, 1)).alias("n_view_click_purchase"),
    )


_EVENT_FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(*) FILTER (WHERE t_view IS NOT NULL) AS n_view,
       count(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view) AS n_view_click,
       count(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click) AS n_view_click_purchase
FROM per_user
"""


def q_user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 frames + lag: per-user inter-event gaps (lag over event
    time) and a 3-row rolling value sum (rowsBetween frame), rolled up
    to one row per user. The window partitions on user_id — max
    parallelism |users|, no global sort — and (ts, event_id) ordering
    makes lag/frame results deterministic under ties."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-2, 0)
    # Gap via unix_micros (exact int64 epoch µs) — Spark 4 forbids a
    # direct NTZ/timestamp→double cast; the µs difference divided by 1e6
    # is exact for any realistic gap and matches DuckDB's
    # date_part('epoch', ts) fractional seconds.
    mic = F.unix_micros(F.col("ts"))
    staged = ev.select(
        "user_id",
        "value",
        ((mic - F.lag(mic).over(w)) / F.lit(1000000.0)).alias("__gap"),
        F.sum("value").over(wf).alias("__roll3"),
    )
    return staged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("__gap"), 2).alias("avg_gap_sec"),
        F.round(F.max("__roll3"), 2).alias("max_roll3"),
    )


_USER_EVENT_GAPS_SQL = """
WITH s AS (
  SELECT user_id, value,
         date_part('epoch', ts) - lag(date_part('epoch', ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap,
         sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll3
  FROM events
)
SELECT user_id, count(*) AS n_events,
       round(avg(gap), 2) AS avg_gap_sec,
       round(max(roll3), 2) AS max_roll3
FROM s GROUP BY user_id
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over the events stream: users bucketed by
    first-touch day, distinct actives per (cohort, day-offset). Two
    shuffles — the cohort fit (groupBy user, map-combined) and the
    cohort join (user-keyed; the cohort frame is |users| rows so AQE
    broadcasts it at any realistic fan-out) — then one distinct-count
    aggregate. The standard product-analytics rollup, expressed so no
    stage ever sees more than |events| rows."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("__day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("__day").alias("cohort_day"))
    return (
        ev.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("__day"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


_RETENTION_SQL = """
WITH e AS (SELECT user_id, date_trunc('day', ts)::TIMESTAMP AS day FROM events),
f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
SELECT f.cohort_day, date_diff('day', f.cohort_day, e.day)::BIGINT AS day_offset,
       count(DISTINCT e.user_id) AS n_users
FROM e JOIN f USING (user_id)
GROUP BY f.cohort_day, day_offset
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: typed JSON extraction from the
    events.props payload (from_json with explicit schema — JVM-side
    Jackson parse, no Python) feeding a grouped aggregate. The schema-
    on-read pattern for landing-zone event payloads."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.from_json(F.col("props"), "k BIGINT")["k"].alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


_JSON_PROPS_SQL = """
SELECT event_type, count(*) AS n,
       sum(CAST(props->>'k' AS BIGINT))::BIGINT AS sum_k,
       round(avg(CAST(props->>'k' AS BIGINT)), 4) AS avg_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quartile bucketing via numeric.quantile_bucket — the
    scale-sane replacement for ntile() OVER (PARTITION BY status), which
    would funnel each status's full 100 TB slice through one task. Exact
    percentile cutoffs (one row per group) broadcast back; oracle uses
    DuckDB percentile_cont, which shares Spark percentile's linear
    interpolation. Bucket counts + per-bucket avg pin the assignment."""
    orders = t(spark, sf_dir, "orders")
    bucketed = numeric.quantile_bucket(
        orders, "o_totalprice", group_col="o_orderstatus", out_col="bucket"
    )
    return bucketed.groupBy("o_orderstatus", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


_QUANTILE_BUCKETS_SQL = """
WITH cuts AS (
  SELECT o_orderstatus,
         percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS q0,
         percentile_cont(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS q1,
         percentile_cont(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS q2
  FROM orders GROUP BY o_orderstatus
)
SELECT o.o_orderstatus,
       CAST(CASE WHEN o_totalprice <= q0 THEN 0
                 WHEN o_totalprice <= q1 THEN 1
                 WHEN o_totalprice <= q2 THEN 2
                 ELSE 3 END AS BIGINT) AS bucket,
       count(*) AS n,
       round(avg(o_totalprice), 2) AS avg_price
FROM orders o JOIN cuts c ON o.o_orderstatus = c.o_orderstatus
GROUP BY o.o_orderstatus, bucket
"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type percentile clipping of events.value at [p05, p95]
    (numeric.winsorize): robust-scaling prep with the same broadcast-
    back shape as quantile_buckets — cutoffs are one tiny aggregate,
    the clip is a codegen'd expression, no global sort. The oracle
    re-derives the cutoffs with quantile_cont (same linear
    interpolation as Spark's percentile) and re-applies the clip."""
    ev = t(spark, sf_dir, "events")
    out = numeric.winsorize(
        ev, "value", group_col="event_type", lower=0.05, upper=0.95
    )
    return out.select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.round("value_wins", 4).alias("value_wins"),
    )


_WINSORIZE_SQL = """
WITH cuts AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type,
       round(value, 4) AS value,
       round(CASE WHEN value IS NULL THEN NULL
                  ELSE least(greatest(value, lo), hi) END, 4) AS value_wins
FROM events e JOIN cuts USING (event_type)
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of every event type's value distribution
    onto the 'view' type's (numeric.quantile_normalize): rank-exact,
    interpolated between bracketing reference order statistics —
    batch-effect correction for cross-source feature drift. The oracle
    replays the identical rank/interpolation arithmetic."""
    ev = t(spark, sf_dir, "events")
    out = numeric.quantile_normalize(
        ev, "value", "event_type", "event_id", ref_group="view"
    )
    return out.select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        "qnorm",
    )


_QUANTILE_NORMALIZE_SQL = """
WITH nn AS (
  SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL
),
ranked AS (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM nn
),
ref AS (SELECT i AS ridx, value AS rval FROM ranked WHERE event_type = 'view'),
staged AS (
  SELECT event_id, event_type, value,
         i * ((SELECT count(*) FROM ref) - 1) AS num,
         CASE WHEN n > 1 THEN n - 1 ELSE 1 END AS den
  FROM ranked
),
m AS (
  SELECT event_id, event_type, value, den,
         num // den AS lo, num % den AS rem
  FROM staged
)
SELECT event_id, event_type, round(value, 4) AS value,
       0.0 + round((rl.rval + (rem::DOUBLE / den) * (rh.rval - rl.rval))::DECIMAL(18,8), 4)::DOUBLE AS qnorm
FROM m
JOIN ref rl ON rl.ridx = lo
JOIN ref rh ON rh.ridx = lo + CASE WHEN rem > 0 THEN 1 ELSE 0 END
"""


def q_pivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot (reference-absent): order revenue by status ×
    priority, compiled as conditional aggregation — ONE hash aggregate
    (sum(CASE WHEN ...) per value), single shuffle on the group key, no
    distinct-discovery pass and no pivotfirst second level (which is
    what `groupBy().pivot()` would plan)."""
    orders = t(spark, sf_dir, "orders")
    return (
        transform.pivot_table(
            orders,
            "o_orderstatus",
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            "o_totalprice",
            lambda c: F.round(F.sum(c), 2),
            names={
                "1-URGENT": "urgent",
                "2-HIGH": "high",
                "3-MEDIUM": "medium",
                "4-NOT SPECIFIED": "not_specified",
                "5-LOW": "low",
            },
        )
        .orderBy("o_orderstatus")
    )


_PIVOT_SQL = """
SELECT o_orderstatus,
       round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2)        AS urgent,
       round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 2)          AS high,
       round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2)        AS medium,
       round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 2) AS not_specified,
       round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 2)           AS low
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_except_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (reference-absent; `exceptAll`/`intersect` free in
    Spark): parts that appear in lineitem but have no supplier-1 rows."""
    li = t(spark, sf_dir, "lineitem")
    all_parts = li.select("l_partkey")
    s1_parts = li.filter(F.col("l_suppkey") == 1).select("l_partkey")
    return all_parts.exceptAll(s1_parts).groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("count")
    )


_EXCEPT_SQL = """
WITH diff AS (
  SELECT l_partkey FROM lineitem
  EXCEPT ALL
  SELECT l_partkey FROM lineitem WHERE l_suppkey = 1
)
SELECT l_partkey, count(*) AS count FROM diff GROUP BY l_partkey
"""


def q_intersect_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (distinct semantics): parts supplied by BOTH
    supplier 1 and supplier 2."""
    li = t(spark, sf_dir, "lineitem")
    s1 = li.filter(F.col("l_suppkey") == 1).select("l_partkey")
    s2 = li.filter(F.col("l_suppkey") == 2).select("l_partkey")
    return s1.intersect(s2).orderBy("l_partkey")


_INTERSECT_SQL = """
SELECT l_partkey FROM lineitem WHERE l_suppkey = 1
INTERSECT
SELECT l_partkey FROM lineitem WHERE l_suppkey = 2
ORDER BY l_partkey
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (rank window): top-3 orders by price within each
    priority — the grouped form of O1/O3. The rank<=k filter compiles
    to WindowGroupLimit (map-side per-group limit BEFORE the shuffle:
    each task ships <=3 rows per key), which is what keeps a 5-key
    window scale-safe — plan-asserted in test_plans_quality."""
    from pyspark.sql.window import Window

    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "o_orderpriority", F.col("rank").cast("long").alias("rank"),
            "o_orderkey", "o_totalprice",
        )
    )


_TOPK_PER_GROUP_SQL = """
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
)
SELECT o_orderpriority, rank::BIGINT AS rank, o_orderkey, o_totalprice
FROM ranked WHERE rank <= 3
"""


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — exact + HyperLogLog distinct counts side by side. At 100 TB
    the exact form shuffles every distinct value; the HLL sketch is one
    pass, no row shuffle — shown here with its exact twin so the oracle
    pins the exact column (HLL is Spark-internal, rows-only by nature,
    so the oracle only covers n_exact)."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count_distinct(F.col("l_partkey")).alias("n_exact"),
    )


_DISTINCT_COUNTS_SQL = "SELECT count(DISTINCT l_partkey) AS n_exact FROM lineitem"


def q_returned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped existence check: orders with at least one
    returned lineitem, counted by priority. LEFT SEMI join keeps the
    probe side narrow (no lineitem columns survive, no row blowup for
    multi-match orders); the returned-only filter prunes the build side
    before the shuffle, and only l_orderkey is scanned from lineitem."""
    orders = t(spark, sf_dir, "orders")
    returned = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_RETURNED_ORDERS_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped big-big join + conditional counts: lineitem
    joined to orders on the order key, high- vs low-priority line
    counts per linestatus in ONE aggregate pass. Both sides project to
    two columns before the shuffle; at cluster scale the join is a
    sort-merge on l_orderkey/o_orderkey — bucketing both tables on the
    order key (writers.write_bucketed) makes it zero-exchange."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linestatus")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_PRIORITY_BY_STATUS_SQL = """
SELECT l_linestatus,
       count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
         AS high_line_count,
       count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q_quiet_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped scalar subquery + anti-join: customers with an
    above-average (positive) balance and no urgent orders. The average
    is ONE distributed agg collected as a scalar (the A6 pattern,
    loanStat.py:241-266, fused to a single job) — not a
    crossJoin(broadcast(agg)), which re-executes the upstream subtree.
    The urgent-customer build side is filtered then deduped map-side
    (distinct partial-aggregates) before the LEFT ANTI shuffle."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    # rounded to 6dp BOTH here and in the oracle subquery: engine
    # summation order differs at ~1e-12, and a balance inside that
    # window of the raw mean would be kept by one engine and dropped by
    # the other — the threshold must be bit-identical on both sides.
    avg_bal = round(
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("a"))
        .first()[0],
        6,
    )
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.filter(F.col("c_acctbal") > F.lit(avg_bal))
        .join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .select(
            "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal")
        )
    )


_QUIET_RICH_SQL = """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
FROM customer c
WHERE c_acctbal > (SELECT round(avg(c_acctbal), 6) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over (returnflag, linestatus): all 2^2 grouping sets in
    ONE pass (Spark expands the sets and still partial-aggregates
    map-side — no per-set rescan of lineitem)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_CUBE_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS count, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


def q_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped outer-join distribution: how many customers
    placed 0, 1, 2, ... orders. orders pre-aggregates to one row per
    custkey BEFORE the left join (shuffle carries |custkeys| rows, not
    |orders|), unmatched customers surface as count 0 via coalesce, and
    the histogram is a second tiny agg. The naive shape — left-join raw
    orders then double-aggregate — shuffles the full orders table."""
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce("__n", F.lit(0).cast("long")).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_ORDER_DISTRIBUTION_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped conditional-ratio: NATION_1 suppliers' share of
    ECONOMY-part revenue sold to ASIA customers, by order year. The
    share is a conditional sum over the SAME joined frame (one pass,
    no second scan); all dims broadcast before the fact joins."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    cust_region = (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region), nation.n_regionkey == region.r_regionkey
                ).select("n_nationkey")
            ),
            cust.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    supp_nation = supp.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    money = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_region, orders.o_custkey == cust_region.c_custkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == supp_nation.s_suppkey)
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            money.alias("volume"),
            F.col("supp_nation"),
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(
                        F.lit(0).cast("decimal(18,4)")
                    )
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_MARKET_SHARE_SQL = """
SELECT year(o_orderdate) AS o_year,
       round(
         sum(CASE WHEN n_s.n_name = 'NATION_1'
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END)::DOUBLE
         / sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))::DOUBLE,
         6) AS mkt_share
FROM lineitem
JOIN part       ON l_partkey = p_partkey
JOIN orders     ON l_orderkey = o_orderkey
JOIN customer   ON o_custkey = c_custkey
JOIN nation n_c ON c_nationkey = n_c.n_nationkey
JOIN region     ON n_c.n_regionkey = r_regionkey
JOIN supplier   ON l_suppkey = s_suppkey
JOIN nation n_s ON s_nationkey = n_s.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
GROUP BY year(o_orderdate)
ORDER BY o_year
"""


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier-relationship count: distinct suppliers
    per (brand, type, size) bucket, excluding one brand and suppliers
    with negative balances (the schema has no partsupp/comment, so
    lineitem is the bridge — deduped to distinct pairs FIRST so order
    multiplicity can't inflate the count — and negative ``s_acctbal``
    proxies the complaint filter)."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 10, 15, 20)
    )
    bad_supp = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .dropDuplicates()
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == bad_supp.s_suppkey,
            "left_anti",
        )
    )
    return (
        # part is unfiltered catalog grain — no forced broadcast
        pairs.join(part, pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_SUPPLIER_PART_COUNTS_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON ps.l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 10, 15, 20)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped nested semi-join: suppliers in one nation who
    shipped an above-average 1997 volume of some 'red' part. The
    per-(part,supplier) 1997 totals aggregate once; the threshold (half
    the part's mean per-supplier volume) joins back broadcast — the
    whole 'exists part with heavy availability' predicate collapses to
    aggregate -> join -> semi-join, no correlated subquery."""
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    red_parts = t(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red")
    ).select("p_partkey")
    shipped = (
        li.join(F.broadcast(red_parts), li.l_partkey == red_parts.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("qty"))
    )
    heavy = shipped.withColumn(
        "avg_qty", F.avg("qty").over(Window.partitionBy("l_partkey"))
    ).filter(F.col("qty") > F.col("avg_qty") * 0.5)
    nat_supp = (
        t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        nat_supp.join(
            heavy.select("l_suppkey").dropDuplicates(),
            nat_supp.s_suppkey == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_PROMO_SUPPLIERS_SQL = """
WITH shipped AS (
  SELECT l_partkey, l_suppkey, round(sum(l_quantity), 2) AS qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
),
heavy AS (
  SELECT DISTINCT l_suppkey FROM (
    SELECT l_suppkey, qty, avg(qty) OVER (PARTITION BY l_partkey) AS avg_qty
    FROM shipped
  ) WHERE qty > avg_qty * 0.5
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_2' AND s_suppkey IN (SELECT l_suppkey FROM heavy)
ORDER BY s_suppkey
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped sole-blame analysis: suppliers who were the ONLY
    late shipper in a finished multi-supplier order ('late' adapted to
    shipdate > orderdate + 60 days; the schema has no commit/receipt
    dates). The exists/not-exists pair collapses to ONE per-order
    aggregate (distinct suppliers, distinct late suppliers) joined back
    to the late rows — two shuffles total, no correlated subqueries."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = t(spark, sf_dir, "supplier")
    rows = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("is_late"),
        )
    )
    per_order = rows.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    blamed = (
        rows.filter(F.col("is_late"))
        .join(
            per_order.filter(
                (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
            ).select("l_orderkey"),
            "l_orderkey",
        )
        .select("l_orderkey", "l_suppkey")
        .dropDuplicates()
    )
    return (
        # supplier is unfiltered catalog grain — no forced broadcast
        blamed.join(supp, blamed.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_WAITING_SUPPLIERS_SQL = """
WITH rows_f AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
  FROM rows_f GROUP BY l_orderkey
),
blamed AS (
  SELECT DISTINCT r.l_orderkey, r.l_suppkey
  FROM rows_f r
  JOIN per_order p ON r.l_orderkey = p.l_orderkey
  WHERE r.is_late AND p.n_supp > 1 AND p.n_late_supp = 1
)
SELECT s_name, count(*) AS numwait
FROM blamed JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q_window_medley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window surface in one keyed pass: ntile quartiles,
    cume_dist, lead-gap and first-value anchor per order-priority
    group. ONE window spec (same partition+order) so Catalyst computes
    all four in a single WindowExec, no repeated sorts."""
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("bigint").alias("price_quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.round(
            F.lead("o_totalprice", 1).over(w) - F.col("o_totalprice"), 2
        ).alias("gap_to_next"),
        F.round(F.first("o_totalprice").over(w), 2).alias("group_min_price"),
    )


_WINDOW_MEDLEY_SQL = """
SELECT o_orderkey, o_orderpriority,
       ntile(4)     OVER w AS price_quartile,
       round(cume_dist() OVER w, 6) AS cdist,
       round(lead(o_totalprice, 1) OVER w - o_totalprice, 2) AS gap_to_next,
       round(first_value(o_totalprice) OVER w, 2) AS group_min_price
FROM orders
WHERE o_orderkey < 3000
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


def q_calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar feature extraction (the date-dimension projection every
    warehouse pipeline derives): y/q/m/dow/doy + month-end flag from
    o_orderdate — pure projection, zero shuffles beyond the final
    group count."""
    orders = t(spark, sf_dir, "orders")
    feats = orders.select(
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.quarter("o_orderdate").cast("bigint").alias("q"),
        F.month("o_orderdate").cast("bigint").alias("m"),
        (F.dayofweek("o_orderdate").cast("bigint") - 1).alias("dow"),
        (F.col("o_orderdate") == F.last_day("o_orderdate")).alias("is_month_end"),
    )
    return (
        feats.groupBy("y", "q", "m", "dow")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("is_month_end"), 1).otherwise(0)).alias(
                "n_month_end"
            ),
        )
        .orderBy("y", "q", "m", "dow")
    )


_CALENDAR_SQL = """
SELECT year(o_orderdate) AS y, quarter(o_orderdate) AS q,
       month(o_orderdate) AS m, dayofweek(o_orderdate) AS dow,
       count(*) AS n,
       sum(CASE WHEN o_orderdate = last_day(o_orderdate) + INTERVAL 0 DAY
                THEN 1 ELSE 0 END)::BIGINT AS n_month_end
FROM orders
GROUP BY 1, 2, 3, 4
ORDER BY y, q, m, dow
"""


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "freq_orderpriority": q_freq_orderpriority,
    "null_census": q_null_census,
    "describe_lineitem": q_describe_lineitem,
    "topk_orders": q_topk_orders,
    "distinct_event_types": q_distinct_event_types,
    "join_regions": q_join_regions,
    "join_revenue": q_join_revenue,
    "events_hourly": q_events_hourly,
    "events_sessionize": q_events_sessionize,
    "events_sliding": q_events_sliding,
    "stats_extended": q_stats_extended,
    "confusion_metrics": q_confusion_metrics,
    "salted_agg": q_salted_agg,
    "key_skew": q_key_skew,
    "sql_view": q_sql_view,
    "rollup": q_rollup,
    "grouping_sets": q_grouping_sets,
    "pivot_priority": q_pivot_priority,
    "local_supplier_volume": q_local_supplier_volume,
    "quantile_buckets": q_quantile_buckets,
    "winsorize": q_winsorize,
    "quantile_normalize": q_quantile_normalize,
    "json_props": q_json_props,
    "promo_share": q_promo_share,
    "big_orders": q_big_orders,
    "cheapest_supplier": q_cheapest_supplier,
    "retention_cohorts": q_retention_cohorts,
    "user_event_gaps": q_user_event_gaps,
    "event_funnel": q_event_funnel,
    "except_suppliers": q_except_suppliers,
    "intersect_parts": q_intersect_parts,
    "topk_per_group": q_topk_per_group,
    "distinct_counts": q_distinct_counts,
    "returned_orders": q_returned_orders,
    "priority_by_status": q_priority_by_status,
    "quiet_rich_customers": q_quiet_rich_customers,
    "order_distribution": q_order_distribution,
    "cube": q_cube,
    "market_share": q_market_share,
    "supplier_part_counts": q_supplier_part_counts,
    "promo_suppliers": q_promo_suppliers,
    "waiting_suppliers": q_waiting_suppliers,
    "window_medley": q_window_medley,
    "calendar_features": q_calendar_features,
}

ORACLES = {
    "pricing_summary": _PRICING_SQL,
    "freq_orderpriority": _FREQ_SQL,
    "null_census": _NULL_CENSUS_SQL,
    "describe_lineitem": _DESCRIBE_SQL,
    "topk_orders": _TOPK_SQL,
    "distinct_event_types": _DISTINCT_SQL,
    "join_regions": _JOIN_REGIONS_SQL,
    "join_revenue": _JOIN_REVENUE_SQL,
    "events_hourly": _EVENTS_HOURLY_SQL,
    "events_sessionize": _EVENTS_SESSIONIZE_SQL,
    "events_sliding": _EVENTS_SLIDING_SQL,
    "stats_extended": _STATS_EXTENDED_SQL,
    "confusion_metrics": _CONFUSION_SQL,
    "salted_agg": _SALTED_AGG_SQL,
    "key_skew": _KEY_SKEW_SQL,
    "sql_view": _SQL_VIEW_SQL,
    "rollup": _ROLLUP_SQL,
    "grouping_sets": _GROUPING_SETS_SQL,
    "pivot_priority": _PIVOT_SQL,
    "local_supplier_volume": _LOCAL_SUPPLIER_SQL,
    "quantile_buckets": _QUANTILE_BUCKETS_SQL,
    "winsorize": _WINSORIZE_SQL,
    "quantile_normalize": _QUANTILE_NORMALIZE_SQL,
    "json_props": _JSON_PROPS_SQL,
    "promo_share": _PROMO_SHARE_SQL,
    "big_orders": _BIG_ORDERS_SQL,
    "cheapest_supplier": _CHEAPEST_SUPPLIER_SQL,
    "retention_cohorts": _RETENTION_SQL,
    "user_event_gaps": _USER_EVENT_GAPS_SQL,
    "event_funnel": _EVENT_FUNNEL_SQL,
    "except_suppliers": _EXCEPT_SQL,
    "intersect_parts": _INTERSECT_SQL,
    "topk_per_group": _TOPK_PER_GROUP_SQL,
    "distinct_counts": _DISTINCT_COUNTS_SQL,
    "returned_orders": _RETURNED_ORDERS_SQL,
    "priority_by_status": _PRIORITY_BY_STATUS_SQL,
    "quiet_rich_customers": _QUIET_RICH_SQL,
    "order_distribution": _ORDER_DISTRIBUTION_SQL,
    "cube": _CUBE_SQL,
    "market_share": _MARKET_SHARE_SQL,
    "supplier_part_counts": _SUPPLIER_PART_COUNTS_SQL,
    "promo_suppliers": _PROMO_SUPPLIERS_SQL,
    "waiting_suppliers": _WAITING_SUPPLIERS_SQL,
    "window_medley": _WINDOW_MEDLEY_SQL,
    "calendar_features": _CALENDAR_SQL,
}
