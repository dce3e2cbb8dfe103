"""Round-2 relational extensions: MERGE-INTO upsert semantics,
correlation matrix EDA, and unpivot/melt reshaping — operators a
reference user reaches for next once the §2 surface is covered, each
with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkprep.operators import graph, ranks, transform
from sparkprep.queries import t
from sparkprep.checkpointing import lazy_checkpoint


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 MERGE: every 10th customer gets an updated balance +
    segment (update rows win wholesale, nulls included), five brand-new
    keys insert — one full-outer join + coalesce, the format-free
    MERGE INTO."""
    cust = t(spark, sf_dir, "customer")
    updates = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.concat(F.lit("UPD-"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        F.round(F.col("c_acctbal") + 1000.0, 2).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    inserts = cust.filter(F.col("c_custkey") < 5).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.lit("NEW CUSTOMER").alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    return transform.merge_upsert(
        cust, updates.unionByName(inserts), key_cols=["c_custkey"]
    )


_MERGE_UPSERT_SQL = """
WITH updates AS (
  SELECT c_custkey, 'UPD-' || c_name AS c_name, c_nationkey,
         round(c_acctbal + 1000.0, 2) AS c_acctbal, 'UPDATED' AS c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NEW CUSTOMER', c_nationkey, 0.0, 'NEW'
  FROM customer WHERE c_custkey < 5
)
SELECT coalesce(u.c_custkey, t.c_custkey) AS c_custkey,
       CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE t.c_name END AS c_name,
       CASE WHEN u.c_custkey IS NOT NULL THEN u.c_nationkey ELSE t.c_nationkey END AS c_nationkey,
       CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
       CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment
FROM customer t FULL OUTER JOIN updates u ON t.c_custkey = u.c_custkey
"""


def q_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem numerics in ONE
    fused aggregate job (the EDA correlation matrix — the reference
    eyeballed scatter relationships column by column; A7-adjacent)."""
    li = t(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_extendedprice", "l_discount"),
        ("l_extendedprice", "l_tax"),
    ]
    return li.agg(
        *[
            F.round(F.corr(a, b), 4).alias(f"corr_{a[2:]}_{b[2:]}")
            for a, b in pairs
        ]
    )


_CORRELATIONS_SQL = """
SELECT round(corr(l_quantity, l_extendedprice), 4) AS corr_quantity_extendedprice,
       round(corr(l_quantity, l_discount), 4) AS corr_quantity_discount,
       round(corr(l_extendedprice, l_discount), 4) AS corr_extendedprice_discount,
       round(corr(l_extendedprice, l_tax), 4) AS corr_extendedprice_tax
FROM lineitem
"""


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshaping (``DataFrame.unpivot`` / melt): lineitem
    measure columns to (metric, value) rows — the inverse of the pivot
    query, a projection-only operator (no shuffle at all)."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_discount").cast("double").alias("l_discount"),
        F.col("l_tax").cast("double").alias("l_tax"),
    ).unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )


_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, metric, value
FROM (
  SELECT l_orderkey, l_linenumber,
         l_quantity::DOUBLE AS l_quantity,
         l_discount::DOUBLE AS l_discount,
         l_tax::DOUBLE AS l_tax
  FROM lineitem WHERE l_orderkey < 100
)
UNPIVOT (value FOR metric IN (l_quantity, l_discount, l_tax))
"""


def q_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-rank feature scaling per event type (rank-based
    normalization is outlier-immune where min-max isn't) — one keyed
    window, deterministic under ties by definition.

    100x toggle: the window key has only ~5 distinct values, so each
    type's whole data sorts in ONE task at scale — use
    ``percent_rank_scale`` (scale_ops.q_percent_rank_scale:
    ranks.global_rank grouped by type, range-spread, bit-identical
    output, same oracle) beyond driver SFs."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 4).alias("value_pr"),
    )


_PERCENT_RANK_SQL = """
SELECT event_id, event_type,
       round(percent_rank() OVER (PARTITION BY event_type ORDER BY value), 4) AS value_pr
FROM events
"""


def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: top-20 customers by
    revenue lost to returns in one quarter. Quarter + returnflag
    filters push to the scans; nation broadcasts; top-k compiles to
    TakeOrderedAndProject (no global sort). ``c_custkey`` tie-break
    keeps the limit deterministic for the oracle."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = t(spark, sf_dir, "nation")
    money = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    revenue = F.sum(money)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(revenue, 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_RETURNED_REVENUE_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped argmax: supplier(s) with the maximum quarterly
    revenue. The global max is a 1-row ``agg(max)`` over the per-supplier
    aggregate, broadcast-attached (the key_skew/minmax_normalize
    pattern): supplier is a dim that GROWS with the data, so an
    empty-frame window here would funnel the whole per-supplier frame
    through one task at 100x. The per-supplier aggregate is consumed by
    BOTH the max-agg and the equality join (which Catalyst compiles to
    a BroadcastHashJoin on the revenue value) — the join-side
    ``isnotnull`` filter de-canonicalizes the exchanges, so a lazy
    localCheckpoint materializes the aggregate once (the CLAUDE.md
    both-join-sides discipline)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    money = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    per_supp = li.groupBy("l_suppkey").agg(
        F.round(F.sum(money), 2).cast("double").alias("total_revenue")
    ).transform(lazy_checkpoint)
    mx = per_supp.agg(F.max("total_revenue").alias("__max_rev"))
    best = (
        per_supp.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__max_rev"))
        .drop("__max_rev")
    )
    supp = t(spark, sf_dir, "supplier")
    # broadcast the argmax row(s), never the SF-scaling supplier table
    return (
        F.broadcast(best).join(supp, best.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


_TOP_SUPPLIER_SQL = """
WITH revenue AS (
  SELECT l_suppkey, round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped avg-threshold scalar: yearly revenue lost if
    small-quantity orders (below 20%% of the part's average quantity)
    for one brand went unfilled. Aggregate-then-join: the per-part
    average is computed once on the brand-pruned lineitem slice and
    broadcast back — never a correlated per-row subquery."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select(
        "p_partkey"
    )
    brand_li = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    avg_qty = brand_li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        # avg_qty is per-part over the brand slice — SF-scaling; let
        # AQE's runtime size check pick the build side
        brand_li.join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


_SMALL_QTY_SQL = """
SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,4)))::DOUBLE / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity)
    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
  )
"""


def q_discount_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped OR-of-ANDs predicate: revenue from three
    disjunctive brand/size/quantity bands. The part-only disjunction
    (brand+size) is applied BEFORE the join so the scan prunes; the
    full cross-table predicate runs post-join. At scale this keeps the
    shuffled part side ~3 brands instead of all parts."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#21")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    part_only = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 25))
        | ((F.col("p_brand") == "Brand#21") & F.col("p_size").between(1, 35))
    )
    return (
        li.join(F.broadcast(part.filter(part_only)), li.l_partkey == part.p_partkey)
        .filter(band)
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


_DISCOUNT_BAND_SQL = """
SELECT round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped profit rollup by nation and order year over a
    5-way join. Adapted: no partsupp table exists at this schema, so
    supply cost is proxied as 10%% of ``p_retailprice`` per unit
    (documented, oracle uses the same formula). PROMO parts prune the
    part scan before the big join; dims broadcast."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    orders = t(spark, sf_dir, "orders")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * 0.1 * F.col("l_quantity")
    ).cast("decimal(18,4)")
    return (
        # part is PROMO-pruned (sanctioned pre-filtered hint); supplier
        # is unfiltered catalog grain (~1M rows at sf100) — no forced
        # broadcast, AQE's runtime size check picks the build side
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_PRODUCT_PROFIT_SQL = """
SELECT n_name AS nation,
       year(o_orderdate) AS o_year,
       round(sum(CAST(l_extendedprice * (1 - l_discount) - p_retailprice * 0.1 * l_quantity AS DECIMAL(18,4))), 2)::DOUBLE AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_type = 'PROMO'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


def q_nation_trade_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade: shipped revenue between two
    nations (both directions) by ship year. Nation filters broadcast
    into both legs BEFORE the lineitem join, so the big fact only
    joins rows that can survive the pair predicate."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    pair = ["NATION_1", "NATION_2"]
    n1 = nation.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    supp_leg = supp.join(F.broadcast(n1), supp.s_nationkey == n1.s_nkey).select(
        "s_suppkey", "supp_nation"
    )
    cust_leg = cust.join(F.broadcast(n2), cust.c_nationkey == n2.c_nkey).select(
        "c_custkey", "cust_nation"
    )
    return (
        li.join(F.broadcast(supp_leg), li.l_suppkey == supp_leg.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_leg, orders.o_custkey == cust_leg.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_NATION_TRADE_SQL = """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE ns.n_name IN ('NATION_1', 'NATION_2')
  AND nc.n_name IN ('NATION_1', 'NATION_2')
  AND ns.n_name <> nc.n_name
GROUP BY ns.n_name, nc.n_name, year(l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
"""


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped HAVING-vs-global-scalar: parts whose shipped
    value (from one nation's suppliers) exceeds 0.1%% of the total.
    Adapted: no partsupp table, value = discounted lineitem revenue.
    The global total is a 1-row ``agg(sum)`` over the per-part
    aggregate, broadcast-attached: part is a dim that grows with the
    data, so a global window over the per-part frame would
    single-partition it at 100x. AQE ReusedExchange computes the
    per-part sum once (both consumers share the un-aliased groupBy
    exchange)."""
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    nat_supp = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey")
    per_part = (
        li.join(F.broadcast(nat_supp), li.l_suppkey == nat_supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("raw_value")
        )
    )
    tot = per_part.agg(F.sum("raw_value").alias("__total"))
    return (
        per_part.join(F.broadcast(tot))
        .filter(F.col("raw_value") > F.col("__total") * 0.001)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("raw_value"), 2).cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


_IMPORTANT_PARTS_SQL = """
WITH per_part AS (
  SELECT l_partkey AS p_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS raw_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT p_partkey, round(raw_value, 2)::DOUBLE AS part_value
FROM per_part
WHERE raw_value > (SELECT sum(raw_value) FROM per_part) * 0.001
ORDER BY part_value DESC, p_partkey
"""


def q_merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 MERGE over a customer snapshot seeded as all-current
    history: every 10th key arrives changed (closes the old version,
    opens a new one), every key ≡3 (mod 10) arrives IDENTICAL (no-op —
    must stay one current row), five new keys insert. History rows
    never join; matches explode to their 1-or-2 output versions."""
    cust = t(spark, sf_dir, "customer")
    target = cust.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.to_date(F.lit("2024-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            F.concat(F.lit("UPD-"), F.col("c_name")).alias("c_name"),
            (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 3).select(
                "c_custkey", "c_name", "c_acctbal"
            )
        )
        .unionByName(
            cust.filter(F.col("c_custkey") < 5).select(
                (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                F.lit("NEW CUSTOMER").alias("c_name"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
        .withColumn("effective_ts", F.to_date(F.lit("2024-06-01")))
    )
    merged = transform.merge_scd2(target, updates, key_cols=["c_custkey"])
    # validity window as STRINGS with the standard 9999-12-31 open-end
    # sentinel: a typed DATE column round-trips differently through the
    # two engines' pandas bridges (datetime.date vs datetime64), and a
    # NULL stringifies as 'None' vs 'nan' — both flip the value hash
    return merged.select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(
            F.coalesce(F.col("valid_to"), F.to_date(F.lit("9999-12-31"))), "yyyy-MM-dd"
        ).alias("valid_to"),
        "is_current",
    )


_MERGE_SCD2_SQL = """
WITH target AS (
  SELECT c_custkey, c_name, c_acctbal,
         DATE '2024-01-01' AS valid_from,
         CAST(NULL AS DATE) AS valid_to, true AS is_current
  FROM customer
),
upd AS (
  SELECT c_custkey, 'UPD-' || c_name AS c_name, c_acctbal + 1000.0 AS c_acctbal,
         DATE '2024-06-01' AS eff
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal, DATE '2024-06-01'
  FROM customer WHERE c_custkey % 10 = 3
  UNION ALL
  SELECT c_custkey + 1000000, 'NEW CUSTOMER', 0.0, DATE '2024-06-01'
  FROM customer WHERE c_custkey < 5
),
j AS (
  SELECT t.c_custkey AS tk, t.c_name AS tn, t.c_acctbal AS tb,
         t.valid_from AS tvf, t.valid_to AS tvt,
         u.c_custkey AS uk, u.c_name AS un, u.c_acctbal AS ub, u.eff
  FROM target t FULL OUTER JOIN upd u ON t.c_custkey = u.c_custkey
),
flags AS (
  SELECT *,
         (tk IS NOT NULL AND uk IS NOT NULL
          AND (tn IS DISTINCT FROM un OR tb IS DISTINCT FROM ub)) AS chg
  FROM j
)
SELECT tk AS c_custkey, tn AS c_name, round(tb, 2) AS c_acctbal,
       strftime(tvf, '%Y-%m-%d') AS valid_from,
       strftime(coalesce(CASE WHEN chg THEN eff ELSE tvt END, DATE '9999-12-31'),
                '%Y-%m-%d') AS valid_to,
       NOT chg AS is_current
FROM flags WHERE tk IS NOT NULL
UNION ALL
SELECT uk, un, round(ub, 2), strftime(eff, '%Y-%m-%d'),
       strftime(DATE '9999-12-31', '%Y-%m-%d'), true
FROM flags WHERE uk IS NOT NULL AND (tk IS NULL OR chg)
"""


def q_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective big-big join through the exact runtime key filter
    (transform.runtime_filter_join): one month of urgent orders prunes
    the lineitem shuffle via a broadcast keys-only semi-join before the
    join proper. Result is identical to the plain join (the oracle IS
    the plain join); the plan shape is the point — asserted in
    tests/test_plans_quality.py with auto-broadcast disabled."""
    orders = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-02-01").cast("timestamp"))
        )
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    joined = transform.runtime_filter_join(li, orders, "l_orderkey")
    money = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        joined.groupBy("l_orderkey")
        .agg(
            F.round(F.sum(money), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("l_orderkey")
    )


_FILTERED_JOIN_SQL = """
SELECT l_orderkey,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-02-01'
GROUP BY l_orderkey ORDER BY l_orderkey
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit on a quasi-identifier combination (nation x
    market segment): every equivalence class with its size, an at-risk
    flag (size < k), and the dataset-wide k_level — the release-gate
    number for training data carrying personal attributes. The global
    min window runs over the aggregated |classes|-row frame only."""
    from sparkprep.operators import profile

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"), "c_mktsegment"
    )
    return profile.k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment"], k=10
    ).orderBy("c_nationkey", "c_mktsegment")


_K_ANONYMITY_SQL = """
WITH cls AS (
  SELECT c_nationkey::BIGINT AS c_nationkey, c_mktsegment,
         count(*) AS class_size
  FROM customer GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, class_size::BIGINT AS class_size,
       (class_size < 10) AS at_risk,
       (min(class_size) OVER ())::BIGINT AS k_level
FROM cls ORDER BY c_nationkey, c_mktsegment
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part↔supplier bipartite graph induced by
    lineitem (who supplies what): 3 keyed-shuffle iterations of
    ``graph.pagerank`` in integer fixed-point, so the ranks are
    bit-exact against the oracle's unrolled-CTE replay of the SAME
    integer recurrence — no float drift, no rounding contract needed.
    Node ids interleave the two key spaces (part → 2k, supplier →
    2k+1) to keep one BIGINT node column. The doubled edge list is the
    uncapped ``graph.directed_ends_capped`` (ONE row-local explode, not
    a union of selects, which would re-execute the distinct-pairs
    shuffle per side — CLAUDE.md re-execution trap)."""
    li = t(spark, sf_dir, "lineitem")
    pairs = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).dropDuplicates()
    edges = graph.directed_ends_capped(pairs, a_col="src", b_col="dst").select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    nodes = t(spark, sf_dir, "part").select(
        (F.col("p_partkey") * 2).alias("node")
    ).unionByName(
        t(spark, sf_dir, "supplier").select(
            (F.col("s_suppkey") * 2 + 1).alias("node")
        )
    )
    ranks = graph.pagerank(edges, nodes, iterations=3)
    return ranks.select("node", F.col("rank").cast("long").alias("pr"))


def _pagerank_sql(iterations: int = 3, scale: int = 10**12, damping: int = 85) -> str:
    """Unrolled-CTE mirror of graph.pagerank's integer recurrence:
    r0 = scale//n everywhere; each step sums pr//deg over in-edges and
    applies teleport + damped mass in the identical integer ops
    (DuckDB ``//`` truncates like Spark ``div`` on these positive
    values; the sum widens to HUGEINT and is cast back at the end)."""
    lines = [
        "WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS src,"
        " l_suppkey * 2 + 1 AS dst FROM lineitem),",
        "edges AS (SELECT src, dst FROM pairs"
        " UNION ALL SELECT dst AS src, src AS dst FROM pairs),",
        "nodes AS (SELECT p_partkey * 2 AS node FROM part"
        " UNION ALL SELECT s_suppkey * 2 + 1 AS node FROM supplier),",
        "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),",
        "params AS (SELECT count(*) AS n FROM nodes),",
        f"r0 AS (SELECT node, ({scale} // n) AS pr FROM nodes CROSS JOIN params),",
    ]
    for i in range(iterations):
        lines.append(
            f"c{i + 1} AS (SELECT e.dst AS node, sum(r.pr // deg.d) AS s"
            f" FROM edges e JOIN deg ON e.src = deg.src"
            f" JOIN r{i} r ON r.node = e.src GROUP BY e.dst),"
        )
        lines.append(
            f"r{i + 1} AS (SELECT nodes.node,"
            f" (({scale} // params.n) * {100 - damping}) // 100"
            f" + (coalesce(c.s, 0) * {damping}) // 100 AS pr"
            f" FROM nodes CROSS JOIN params"
            f" LEFT JOIN c{i + 1} c ON nodes.node = c.node),"
        )
    lines[-1] = lines[-1].rstrip(",")
    lines.append(f"SELECT node, pr::BIGINT AS pr FROM r{iterations}")
    return "\n".join(lines)


_PAGERANK_SQL = _pagerank_sql()


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of the part catalog — cheapest-for-its-size
    trade-offs (minimize retail price, maximize size): the windowed
    O(n log n) ``transform.pareto_frontier`` vs the oracle's textbook
    O(n²) NOT EXISTS dominance scan. Identical survivor sets prove the
    level-frame running-max formulation handles ties and strictness
    exactly."""
    part = t(spark, sf_dir, "part")
    return transform.pareto_frontier(part, "p_retailprice", "p_size").select(
        "p_partkey", "p_retailprice", "p_size"
    )


_SKYLINE_SQL = """
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""


def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs discount WITHOUT a
    global sort: mid-rank average ranks come from the value-frequency
    tables (50 and 11 distinct values — the ranking window runs over
    those aggregated frames, never the corpus), join back as broadcast
    dimensions, and ρ is Pearson over exact-integer doubled ranks
    (``stats.spearman``). The outlier-immune companion of the Pearson
    ``correlations`` panel."""
    from sparkprep.operators.stats import spearman

    li = t(spark, sf_dir, "lineitem")
    return spearman(li, "l_quantity", "l_discount")


_SPEARMAN_SQL = """
WITH staged AS (
  SELECT l_quantity AS x, l_discount AS y FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
),
cx AS (SELECT x AS v, count(*) AS c FROM staged GROUP BY 1),
rx AS (SELECT v, 2 * sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c + 1 AS r2 FROM cx),
cy AS (SELECT y AS v, count(*) AS c FROM staged GROUP BY 1),
ry AS (SELECT v, 2 * sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c + 1 AS r2 FROM cy),
ranked AS (
  SELECT rx.r2 AS rxv, ry.r2 AS ryv
  FROM staged JOIN rx ON staged.x = rx.v JOIN ry ON staged.y = ry.v
),
sums AS (
  SELECT count(*) AS n,
         sum(rxv::DECIMAL(38,0)) AS sx, sum(ryv::DECIMAL(38,0)) AS sy,
         sum((rxv * ryv)::DECIMAL(38,0)) AS sxy,
         sum((rxv * rxv)::DECIMAL(38,0)) AS sxx,
         sum((ryv * ryv)::DECIMAL(38,0)) AS syy
  FROM ranked
)
SELECT round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 4)
         AS spearman_rho,
       n::BIGINT AS n_rows
FROM sums
"""


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b of quantity vs discount WITHOUT enumerating pairs:
    concordant/discordant counts fold from 2-D prefix sums of the
    50x11 value-domain contingency table (``stats.kendall_tau`` — the
    dense grid is a 1-row y-domain array exploded against the x-domain
    frame, prefix sums are keyed windows over the |X|·|Y| cell frame,
    every accumulated term exact int64/DECIMAL). The pair-count
    companion of ``spearman``'s rank-moment ρ — τ's O(n²) naive form
    is exactly the all-pairs self-join this engine's join disciplines
    exist to avoid."""
    from sparkprep.operators.stats import kendall_tau

    li = t(spark, sf_dir, "lineitem")
    return kendall_tau(li, "l_quantity", "l_discount")


_KENDALL_TAU_SQL = """
WITH staged AS (
  SELECT l_quantity AS x, l_discount AS y FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
),
cells AS (SELECT x, y, count(*) AS n FROM staged GROUP BY 1, 2),
grid AS (
  SELECT xs.x, ys.y
  FROM (SELECT DISTINCT x FROM cells) xs
  CROSS JOIN (SELECT DISTINCT y FROM cells) ys
),
dense AS (
  SELECT g.x, g.y, coalesce(c.n, 0) AS n
  FROM grid g LEFT JOIN cells c ON g.x = c.x AND g.y = c.y
),
s1 AS (
  SELECT x, y, n,
         coalesce(sum(n) OVER (PARTITION BY x ORDER BY y
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clt,
         coalesce(sum(n) OVER (PARTITION BY x ORDER BY y DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cgt
  FROM dense
),
s2 AS (
  SELECT n,
         coalesce(sum(clt) OVER (PARTITION BY y ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p,
         coalesce(sum(cgt) OVER (PARTITION BY y ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS q
  FROM s1
),
folded AS (
  SELECT sum(n) AS nr,
         sum(n::DECIMAL(19,0) * p::DECIMAL(19,0)) AS c,
         sum(n::DECIMAL(19,0) * q::DECIMAL(19,0)) AS d
  FROM s2
),
t1 AS (SELECT sum(t::DECIMAL(19,0) * (t - 1)::DECIMAL(19,0) / 2)::DECIMAL(38,0) AS n1
       FROM (SELECT sum(n) AS t FROM cells GROUP BY x)),
t2 AS (SELECT sum(t::DECIMAL(19,0) * (t - 1)::DECIMAL(19,0) / 2)::DECIMAL(38,0) AS n2
       FROM (SELECT sum(n) AS t FROM cells GROUP BY y))
SELECT round((c::DOUBLE - d::DOUBLE)
             / (sqrt(nr::DOUBLE * (nr::DOUBLE - 1) / 2 - n1::DOUBLE)
                * sqrt(nr::DOUBLE * (nr::DOUBLE - 1) / 2 - n2::DOUBLE)), 4)
         AS kendall_tau,
       c::BIGINT AS concordant, d::BIGINT AS discordant, nr::BIGINT AS n_rows
FROM folded, t1, t2
"""


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information Value panel — THE feature-
    screening table of the reference's credit-risk domain (LoanStats
    EDA): per discount bucket, WoE = ln(pct_good/pct_bad) against the
    returned-item target, and the bucket's IV contribution
    (pct_g − pct_b)·WoE with the total IV attached. One map-combined
    groupBy to the 11-row bucket frame; totals and the IV fold are
    windows over that bounded frame; WoE = ONE ln of one division of
    exact-int products (cast double first — products can pass int64 at
    warehouse counts); the cross-bucket IV sum is DECIMAL(38,12)-recast
    per term so it is order-independent (the pr_auc discipline).
    Zero-class buckets get NULL WoE explicitly (Spark ln(0) is NULL,
    DuckDB -inf — never rely on the engines' defaults)."""
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_discount").alias("bucket"),
        (F.col("l_returnflag") == "R").alias("__bad"),
    )
    per = li.groupBy("bucket").agg(
        F.sum(F.when(F.col("__bad"), 0).otherwise(1)).alias("__ng"),
        F.sum(F.when(F.col("__bad"), 1).otherwise(0)).alias("__nb"),
    )
    w = Window.partitionBy()
    staged = per.select(
        "bucket",
        "__ng",
        "__nb",
        F.sum("__ng").over(w).alias("__tg"),
        F.sum("__nb").over(w).alias("__tb"),
    )
    ngd = F.col("__ng").cast("double")
    nbd = F.col("__nb").cast("double")
    tgd = F.col("__tg").cast("double")
    tbd = F.col("__tb").cast("double")
    woe = F.when(
        (F.col("__ng") > 0) & (F.col("__nb") > 0),
        F.log((ngd * tbd) / (nbd * tgd)),
    )
    iv_term = (ngd / tgd - nbd / tbd) * woe
    terms = staged.select(
        "bucket", "__ng", "__nb", woe.alias("__woe"), iv_term.alias("__t")
    )
    d18 = "decimal(18,8)"
    return terms.select(
        "bucket",
        F.col("__ng").cast("long").alias("n_good"),
        F.col("__nb").cast("long").alias("n_bad"),
        F.round(F.col("__woe").cast(d18), 6).cast("double").alias("woe"),
        F.round(F.col("__t").cast(d18), 6).cast("double").alias("iv_term"),
        F.round(
            F.sum(F.col("__t").cast("decimal(38,12)")).over(w).cast("double"),
            6,
        ).alias("iv_total"),
    )


_WOE_IV_SQL = """
WITH per AS (
  SELECT l_discount AS bucket,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS ng,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nb
  FROM lineitem GROUP BY 1
),
staged AS (
  SELECT bucket, ng, nb,
         sum(ng) OVER () AS tg, sum(nb) OVER () AS tb
  FROM per
),
terms AS (
  SELECT bucket, ng, nb,
         CASE WHEN ng > 0 AND nb > 0
              THEN ln((ng::DOUBLE * tb::DOUBLE) / (nb::DOUBLE * tg::DOUBLE))
         END AS woe,
         (ng::DOUBLE / tg::DOUBLE - nb::DOUBLE / tb::DOUBLE)
           * CASE WHEN ng > 0 AND nb > 0
                  THEN ln((ng::DOUBLE * tb::DOUBLE) / (nb::DOUBLE * tg::DOUBLE))
             END AS t
  FROM staged
)
SELECT bucket,
       ng::BIGINT AS n_good,
       nb::BIGINT AS n_bad,
       round(woe::DECIMAL(18,8), 6)::DOUBLE AS woe,
       round(t::DECIMAL(18,8), 6)::DOUBLE AS iv_term,
       round(sum(t::DECIMAL(38,12)) OVER ()::DOUBLE, 6) AS iv_total
FROM terms
"""


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U: does quantity rank differently between returned
    ('R') and delivered-clean ('N') line items? The nonparametric
    companion of ab_test — no distributional assumption, no global
    sort: pooled mid-ranks come from the 50-row value-frequency table
    (``stats.mann_whitney``), the tie term folds from the same joined
    row stream, and the z normal approximation is a handful of IEEE
    ops on exact DECIMAL(38,0) integers."""
    from sparkprep.operators.stats import mann_whitney

    li = t(spark, sf_dir, "lineitem")
    return mann_whitney(li, "l_quantity", "l_returnflag", "R", "N")


_MANN_WHITNEY_SQL = """
WITH pooled AS (
  SELECT l_quantity AS v, (l_returnflag = 'R') AS a
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_returnflag IN ('R', 'N')
),
c AS (SELECT v, count(*) AS c FROM pooled GROUP BY 1),
r AS (SELECT v, c,
             2 * sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c + 1 AS r2
      FROM c),
folded AS (
  SELECT sum(CASE WHEN a THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN a THEN 0 ELSE 1 END) AS nb,
         sum((CASE WHEN a THEN r2 ELSE 0 END)::DECIMAL(38,0)) AS r2a,
         sum((c::DECIMAL(38,0) * c - 1)::DECIMAL(38,0)) AS t
  FROM pooled JOIN r USING (v)
)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       round((r2a::DOUBLE - na::DOUBLE * (na::DOUBLE + 1)) / 2.0, 6) AS u_a,
       round(((r2a::DOUBLE - na::DOUBLE * (na::DOUBLE + 1)) - na::DOUBLE * nb::DOUBLE)
             / (2.0 * sqrt(na::DOUBLE * nb::DOUBLE / 12.0
                           * (((na::DOUBLE + nb::DOUBLE) + 1)
                              - t::DOUBLE / ((na::DOUBLE + nb::DOUBLE)
                                             * ((na::DOUBLE + nb::DOUBLE) - 1))))),
             6) AS z,
       round((r2a::DOUBLE - na::DOUBLE * (na::DOUBLE + 1))
             / (na::DOUBLE * nb::DOUBLE) - 1.0, 6) AS cliffs_d
FROM folded
"""


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H: does line-item quantity rank differently
    across the five order priorities? The k-group rank analogue of
    anova_f (``stats.kruskal_wallis``) over the lineitem⋈orders join —
    pooled mid-ranks from the 50-row value-frequency table, per-group
    DECIMAL(38,0)-exact doubled rank sums, tie-corrected H."""
    from sparkprep.operators.stats import kruskal_wallis

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    # the operator consumes its input twice (rank-map fold + join-back);
    # a raw-parquet input re-scans cheaply, but a JOINED input would
    # re-execute the join per consumer — truncate lineage first
    pooled = li.join(orders, "l_orderkey").transform(lazy_checkpoint)
    return kruskal_wallis(pooled, "l_quantity", "o_orderpriority")


_KRUSKAL_WALLIS_SQL = """
WITH pooled AS (
  SELECT l_quantity AS v, o_orderpriority AS g
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_quantity IS NOT NULL
),
c AS (SELECT v, count(*) AS c FROM pooled GROUP BY 1),
r AS (SELECT v, c,
             2 * sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c + 1 AS r2
      FROM c),
per AS (
  SELECT g, count(*) AS n,
         sum(r2::DECIMAL(38,0)) AS r2g,
         sum((c::DECIMAL(38,0) * c - 1)::DECIMAL(38,0)) AS tg
  FROM pooled JOIN r USING (v) GROUP BY g
),
folded AS (
  SELECT count(*) AS k, sum(n) AS nn,
         sum(((r2g::DOUBLE * r2g::DOUBLE) / n)::DECIMAL(38,6)) AS g,
         sum(tg) AS t
  FROM per
)
SELECT round((3.0 / (nn::DOUBLE * (nn::DOUBLE + 1)) * g::DOUBLE
              - 3.0 * (nn::DOUBLE + 1))
             / (1.0 - t::DOUBLE
                / (nn::DOUBLE * nn::DOUBLE * nn::DOUBLE - nn::DOUBLE)),
             6) AS h_stat,
       (k - 1)::BIGINT AS df,
       nn::BIGINT AS n_rows
FROM folded
"""


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the co-purchase graph: iteratively peel pendant
    parts (degree < 2) until only cycle-supported structure remains —
    the densest-substructure readout beside triangle_count's census.
    ``graph.k_core`` peels distributively (per-round degree groupBy +
    two endpoint semi-joins, working set repartitioned on (u, v) with
    no count before the loop so AQE sizes it, degree aggregate and
    survivor set localCheckpoint-ed per round) and stops at the first
    round whose degree aggregate has no node below k — that aggregate
    is the answer, so no confirming round and no ``count()``. Early
    exit at the fixpoint is result-identical to the oracle's
    fixed-depth unrolled-CTE replay because peeling is monotone
    (pagerank's oracle convention). Peel depth 16 vs 5 rounds observed worst-case across
    testdata generations — canary-pinned in
    tests/test_headroom_canaries.py."""
    from sparkprep.queries import shared_frames

    edges = shared_frames.copurchase_edges(spark, sf_dir)
    core = graph.k_core(edges, k=2, max_rounds=16)
    return core.select(F.col("node").cast("long").alias("node"), "core_degree")


def _k_core_sql(rounds: int, k: int) -> str:
    parts = [
        "op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        "e0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v FROM op a "
        "JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
        "GROUP BY 1, 2 HAVING count(*) >= 2)",
    ]
    for i in range(rounds):
        # AS MATERIALIZED: each round references its predecessor five
        # times (degree fold + two IN-subqueries x two columns); without
        # materialization DuckDB INLINES the chain -> 5^rounds parquet
        # re-opens ("Too many open files" observed at depth 16)
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT n, count(*) AS d FROM "
            f"(SELECT u AS n FROM e{i} UNION ALL SELECT v AS n FROM e{i}) "
            f"GROUP BY 1)"
        )
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT u, v FROM e{i} "
            f"WHERE u IN (SELECT n FROM d{i} WHERE d >= {k}) "
            f"AND v IN (SELECT n FROM d{i} WHERE d >= {k}))"
        )
    return (
        "WITH " + ",\n".join(parts) + "\n"
        f"SELECT node::BIGINT AS node, count(*)::BIGINT AS core_degree FROM "
        f"(SELECT u AS node FROM e{rounds} UNION ALL SELECT v AS node FROM e{rounds}) "
        f"GROUP BY 1"
    )


_K_CORE_SQL = _k_core_sql(16, 2)


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted quantity quartiles per return flag: "half the
    REVENUE ships in lines of quantity ≤ X" — the weighted companion
    of the count-based percentile panels. Weights are exact integer
    cents (round(price·100) — engine-identical since a double can
    never land exactly on .5 cents); the cumulative-weight window runs
    over the 3×50-row (flag, quantity) frequency frame, never raw
    data; the lower weighted quantile (smallest v with cum·k ≥ q·k·W)
    is pure int64 comparisons — no float in the whole query."""
    li = t(spark, sf_dir, "lineitem")
    from pyspark.sql.window import Window

    wf = li.groupBy("l_returnflag", "l_quantity").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("__w")
    )
    w_cum = Window.partitionBy("l_returnflag").orderBy("l_quantity").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy("l_returnflag").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = wf.select(
        "l_returnflag",
        "l_quantity",
        F.sum("__w").over(w_cum).alias("__cum"),
        F.sum("__w").over(w_all).alias("__tot"),
    )
    pick = lambda k_num, k_den: F.min(  # noqa: E731
        F.when(
            F.col("__cum") * k_den >= F.col("__tot") * k_num,
            F.col("l_quantity"),
        )
    )
    return cum.groupBy("l_returnflag").agg(
        pick(1, 4).alias("w_p25"),
        pick(1, 2).alias("w_median"),
        pick(3, 4).alias("w_p75"),
        F.max("__tot").cast("long").alias("total_cents"),
    )


_WEIGHTED_MEDIAN_SQL = """
WITH wf AS (
  SELECT l_returnflag, l_quantity,
         sum(round(l_extendedprice * 100)::BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
c AS (
  SELECT l_returnflag, l_quantity,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM wf
)
SELECT l_returnflag,
       min(CASE WHEN cum * 4 >= tot * 1 THEN l_quantity END) AS w_p25,
       min(CASE WHEN cum * 2 >= tot * 1 THEN l_quantity END) AS w_median,
       min(CASE WHEN cum * 4 >= tot * 3 THEN l_quantity END) AS w_p75,
       max(tot)::BIGINT AS total_cents
FROM c GROUP BY 1
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join, adjudicated by EQUIVALENCE: revenue
    by supplier nation computed through ``skew.salted_join`` (left
    salted with rand(seed), right replicated across all salt buckets)
    must hash-equal the oracle's plain join — salt only ROUTES rows,
    the (key, salt) equi-join preserves the multiset exactly, and the
    decimal revenue sum is order-independent, so the check is
    salt-value-agnostic. At this dim size a broadcast would win; the
    operator targets the regime where the right side exceeds the
    broadcast threshold but a few left keys are hot enough to stall
    AQE's skew splitting. Nation (25 rows) broadcasts on top."""
    from sparkprep.operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,4)")
        .alias("__rev"),
    )
    sup = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    nat = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = salted_join(li, sup, on="suppkey", salt_buckets=8)
    return (
        joined.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(F.sum("__rev"), 2).cast("double").alias("revenue"),
        )
    )


_SALTED_JOIN_SQL = """
SELECT n_name, count(*)::BIGINT AS n_items,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)), 2)::DOUBLE AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase affinity graph: parts are
    linked when they appear together in ≥2 orders (the support
    threshold that turns a random co-occurrence hairball — 1.2M pairs
    at sf0.1 — into a ~3.5k-edge affinity graph, the standard
    market-basket construction). Edge building reuses
    ``graph.cooccurrence_pairs`` (one groupBy + row-local pair
    explode, fan-out capped per order); the census is
    ``graph.triangle_stats`` over the session's shared per-edge
    triangle support (``shared_frames.copurchase_support``, the
    degree-oriented enumeration that bounds the wedge join by
    Σ out-deg² = O(m^1.5) even when a hub part dominates; k_truss
    reads the same leaf) and shared degree frame; all five counters
    come out of one global aggregate (the triangle count is
    Σ support / 3, the edge count Σ degree / 2), with no cross join of
    1-row frames. The oracle replays the textbook unoriented 3-way
    self-join — feasible at sf0.01, exactly the plan the oriented
    version exists to avoid at scale. The 64-part fan-out cap never
    binds on driver data (max basket 17; canary-pinned with 2x headroom
    in tests/test_headroom_canaries.py so the all-pairs oracle can't
    silently diverge)."""
    from sparkprep.queries import shared_frames

    return graph.triangle_stats(
        shared_frames.copurchase_support(spark, sf_dir),
        shared_frames.copurchase_degrees(spark, sf_dir),
    )


_TRIANGLE_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT pa AS node FROM e UNION ALL SELECT pb AS node FROM e
  ) GROUP BY 1
),
w AS (SELECT count(*) AS n_nodes, sum((d * (d - 1)) // 2) AS n_wedges FROM deg),
tri AS (
  SELECT count(*) AS n_triangles
  FROM e e1
  JOIN e e2 ON e1.pb = e2.pa
  JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
)
SELECT w.n_nodes::BIGINT AS n_nodes,
       (SELECT count(*) FROM e)::BIGINT AS n_edges,
       w.n_wedges::BIGINT AS n_wedges,
       tri.n_triangles::BIGINT AS n_triangles,
       CASE WHEN w.n_wedges = 0 THEN NULL
            ELSE round(3.0 * tri.n_triangles / w.n_wedges, 6) END AS clustering
FROM w, tri
"""


def q_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLA panel per order priority: exact p50 /
    p90 / max day delays plus the share breaching a 30-day SLA — the
    operational fulfilment readout. One keyed join (lineitem ⋈ orders
    on the order key) feeding one map-combined groupBy; delays are
    exact int64 epoch-day differences (both date columns cast NTZ →
    session-TZ TIMESTAMP first — the loader only normalizes `ts`);
    the breach share is an exact 0/1 average."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"
        ).alias("__ship"),
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
        ).alias("__ord"),
    )
    delays = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority", (F.col("__ship") - F.col("__ord")).alias("__d")
    )
    return delays.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(F.expr("percentile(__d, 0.5)"), 4).alias("p50_days"),
        F.round(F.expr("percentile(__d, 0.9)"), 4).alias("p90_days"),
        F.max("__d").cast("long").alias("max_days"),
        F.round(
            F.avg(F.when(F.col("__d") > 30, 1.0).otherwise(0.0)), 4
        ).alias("sla_breach_rate"),
    )


_SHIP_DELAY_SQL = """
WITH delays AS (
  SELECT o_orderpriority,
         (epoch_us(l_shipdate) // 86400000000)
           - (epoch_us(o_orderdate) // 86400000000) AS d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority,
       count(*)::BIGINT AS n_lines,
       round(quantile_cont(d, 0.5), 4) AS p50_days,
       round(quantile_cont(d, 0.9), 4) AS p90_days,
       max(d)::BIGINT AS max_days,
       round(avg(CASE WHEN d > 30 THEN 1.0 ELSE 0.0 END), 4) AS sla_breach_rate
FROM delays GROUP BY 1
"""


def per_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared staging for theil_index and for
    ``shared_frames.customer_revenue_ranked`` (the rank scaffold that
    gini_revenue, lorenz_curve and value_deciles read):
    per-customer exact-decimal revenue off one keyed join. ONE code
    path — the money formula must not live in two hand-synced copies.

    Session-shared + lazily checkpointed (r10): the revenue-family
    queries each re-ran the lineitem⋈orders join + 150k-customer
    wide-decimal aggregate; the shared_frames discipline materializes
    it once per (session, sf_dir) — the computed-once artifact a
    100 TB pipeline would persist anyway."""
    from sparkprep.checkpointing import lazy_checkpoint
    from sparkprep.queries import shared_frames

    def build() -> DataFrame:
        li = t(spark, sf_dir, "lineitem")
        orders = t(spark, sf_dir, "orders")
        money = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(18,4)"
        )
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_custkey")
            .agg(F.sum(money).alias("__rev"))
            .transform(lazy_checkpoint)
        )

    return shared_frames.session_frame(
        spark, "per_customer_revenue", sf_dir, build
    )


def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality decomposition of per-customer revenue by
    nation — the DECOMPOSABLE companion of gini_revenue (Gini does not
    split into within+between; Theil does exactly:
    T = T_between + Σ_g s_g·T_g). Per-nation panel: customer count,
    revenue share, within-group T_g = (1/n_g)Σ r·ln r (r = x·n_g/X_g,
    ONE multiply + ONE division of exact-cast operands, per-row terms
    DECIMAL(38,12)-recast before the group sum — the pr_auc
    order-independence discipline), the nation's between-group term
    s_g·ln(s_g/(n_g/n)), and the folded within/between/total indices
    attached from a window over the 25-row nation frame (bounded by
    the nation domain). Customer→nation attach is a keyed join;
    per-row work is map-local; the per-nation sums map-combine —
    entity-parallel at any scale."""
    from pyspark.sql.window import Window

    per_cust = per_customer_revenue(spark, sf_dir)
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    staged = per_cust.join(
        cust, per_cust.o_custkey == cust.c_custkey
    ).join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    grp = staged.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("__ng"),
        F.sum("__rev").alias("__xg"),
    )
    with_g = staged.join(F.broadcast(grp), "n_name")
    xd = F.col("__rev").cast("double")
    ngd = F.col("__ng").cast("double")
    xgd = F.col("__xg").cast("double")
    r = xd * ngd / xgd
    term = (r * F.log(r)).cast("decimal(38,12)")
    per_nation = with_g.groupBy("n_name").agg(
        F.max("__ng").alias("__ng"),
        F.max("__xg").alias("__xg"),
        F.sum(term).alias("__tsum"),
    )
    w = Window.partitionBy()
    folded = per_nation.select(
        "n_name",
        "__ng",
        "__xg",
        "__tsum",
        F.sum("__ng").over(w).alias("__n"),
        F.sum("__xg").over(w).alias("__x"),
    )
    ngd2 = F.col("__ng").cast("double")
    nd = F.col("__n").cast("double")
    xgd2 = F.col("__xg").cast("double")
    xdt = F.col("__x").cast("double")
    s_g = xgd2 / xdt
    t_g = F.col("__tsum").cast("double") / ngd2
    btw = s_g * F.log(s_g * nd / ngd2)
    scored = folded.select(
        "n_name",
        "__ng",
        s_g.alias("__sg"),
        t_g.alias("__tg"),
        btw.alias("__btw"),
        (s_g * t_g).alias("__wterm"),
    )
    d18 = "decimal(18,8)"
    d38 = "decimal(38,12)"
    return scored.select(
        F.col("n_name").alias("nation"),
        F.col("__ng").cast("long").alias("n_cust"),
        F.round(F.col("__sg").cast(d18), 6).cast("double").alias("rev_share"),
        F.round(F.col("__tg").cast(d18), 6).cast("double").alias("theil_g"),
        F.round(F.col("__btw").cast(d18), 6).cast("double").alias("between_term"),
        F.round(
            F.sum(F.col("__wterm").cast(d38)).over(w).cast("double"), 6
        ).alias("theil_within"),
        F.round(
            F.sum(F.col("__btw").cast(d38)).over(w).cast("double"), 6
        ).alias("theil_between"),
    )


_THEIL_INDEX_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
),
staged AS (
  SELECT n_name, rev
  FROM per_cust
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
),
grp AS (
  SELECT n_name, count(*) AS ng, sum(rev) AS xg FROM staged GROUP BY 1
),
per_nation AS (
  SELECT s.n_name, max(g.ng) AS ng, max(g.xg) AS xg,
         sum(((s.rev::DOUBLE * g.ng::DOUBLE / g.xg::DOUBLE)
              * ln(s.rev::DOUBLE * g.ng::DOUBLE / g.xg::DOUBLE))::DECIMAL(38,12))
           AS tsum
  FROM staged s JOIN grp g USING (n_name)
  GROUP BY 1
),
folded AS (
  SELECT n_name, ng, xg, tsum,
         sum(ng) OVER () AS n, sum(xg) OVER () AS x
  FROM per_nation
),
scored AS (
  SELECT n_name, ng,
         xg::DOUBLE / x::DOUBLE AS sg,
         tsum::DOUBLE / ng::DOUBLE AS tg,
         (xg::DOUBLE / x::DOUBLE)
           * ln((xg::DOUBLE / x::DOUBLE) * n::DOUBLE / ng::DOUBLE) AS btw,
         (xg::DOUBLE / x::DOUBLE) * (tsum::DOUBLE / ng::DOUBLE) AS wterm
  FROM folded
)
SELECT n_name AS nation,
       ng::BIGINT AS n_cust,
       round(sg::DECIMAL(18,8), 6)::DOUBLE AS rev_share,
       round(tg::DECIMAL(18,8), 6)::DOUBLE AS theil_g,
       round(btw::DECIMAL(18,8), 6)::DOUBLE AS between_term,
       round(sum(wterm::DECIMAL(38,12)) OVER ()::DOUBLE, 6) AS theil_within,
       round(sum(btw::DECIMAL(38,12)) OVER ()::DOUBLE, 6) AS theil_between
FROM scored
"""


def q_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump induction on l_quantity predicting the returned
    flag — the CART/credit-scorecard primitive beside woe_iv: the
    split value minimizing weighted two-leaf Gini impurity. Same
    prefix-sum algebra as ``changepoint``: minimizing weighted Gini ⇔
    maximizing h(s) = (g_l²+b_l²)/n_l + (g_r²+b_r²)/n_r over class
    prefix sums in value order — ONE cumulative window over the
    50-row value-frequency frame (bounded by the quantity domain,
    never raw rows), every h from exact int64 sums, two divisions +
    one add of IEEE-identical operands → engine-deterministic argmax
    (value-asc tie-break)."""
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("__v"),
        (F.col("l_returnflag") == "R").alias("__bad"),
    )
    cells = li.groupBy("__v").agg(
        F.sum(F.when(F.col("__bad"), 0).otherwise(1)).alias("__g"),
        F.sum(F.when(F.col("__bad"), 1).otherwise(0)).alias("__b"),
    )
    w_cum = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    staged = cells.select(
        "__v",
        F.sum("__g").over(w_cum).alias("__gl"),
        F.sum("__b").over(w_cum).alias("__bl"),
        F.sum("__g").over(w_all).alias("__gt"),
        F.sum("__b").over(w_all).alias("__bt"),
        F.row_number().over(Window.orderBy("__v")).alias("__i"),
        F.count(F.lit(1)).over(w_all).alias("__k"),
    )
    cand = staged.filter(F.col("__i") < F.col("__k"))
    gl = F.col("__gl").cast("double")
    bl = F.col("__bl").cast("double")
    gr = (F.col("__gt") - F.col("__gl")).cast("double")
    br = (F.col("__bt") - F.col("__bl")).cast("double")
    nl = gl + bl
    nr = gr + br
    h = (gl * gl + bl * bl) / nl + (gr * gr + br * br) / nr
    n = (F.col("__gt") + F.col("__bt")).cast("double")
    gini_before = 1.0 - (
        (F.col("__gt").cast("double") / n) ** 2
        + (F.col("__bt").cast("double") / n) ** 2
    )
    gini_after = (n - h) / n
    scored = cand.select(
        "__v",
        nl.cast("long").alias("n_left"),
        nr.cast("long").alias("n_right"),
        (bl / nl).alias("__brl"),
        (br / nr).alias("__brr"),
        gini_before.alias("__g0"),
        gini_after.alias("__g1"),
        F.row_number().over(
            Window.orderBy(
                F.desc((gl * gl + bl * bl) / nl + (gr * gr + br * br) / nr),
                F.asc("__v"),
            )
        ).alias("__rn"),
    )
    d18 = "decimal(18,8)"
    return scored.filter(F.col("__rn") == 1).select(
        F.col("__v").alias("split_value"),
        "n_left",
        "n_right",
        F.round(F.col("__brl").cast(d18), 6).cast("double").alias(
            "bad_rate_left"
        ),
        F.round(F.col("__brr").cast(d18), 6).cast("double").alias(
            "bad_rate_right"
        ),
        F.round(F.col("__g0").cast(d18), 6).cast("double").alias(
            "gini_before"
        ),
        F.round(F.col("__g1").cast(d18), 6).cast("double").alias(
            "gini_after"
        ),
    )


_STUMP_SPLIT_SQL = """
WITH cells AS (
  SELECT l_quantity AS v,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS g,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS b
  FROM lineitem GROUP BY 1
),
staged AS (
  SELECT v,
         sum(g) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS gl,
         sum(b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS bl,
         sum(g) OVER () AS gt, sum(b) OVER () AS bt,
         row_number() OVER (ORDER BY v) AS i,
         count(*) OVER () AS k
  FROM cells
),
scored AS (
  SELECT v,
         (gl + bl)::BIGINT AS n_left,
         ((gt - gl) + (bt - bl))::BIGINT AS n_right,
         bl::DOUBLE / (gl + bl)::DOUBLE AS brl,
         (bt - bl)::DOUBLE / ((gt - gl) + (bt - bl))::DOUBLE AS brr,
         1.0 - ((gt::DOUBLE / (gt + bt)::DOUBLE) * (gt::DOUBLE / (gt + bt)::DOUBLE)
                + (bt::DOUBLE / (gt + bt)::DOUBLE) * (bt::DOUBLE / (gt + bt)::DOUBLE))
           AS g0,
         ((gt + bt)::DOUBLE
          - ((gl::DOUBLE * gl::DOUBLE + bl::DOUBLE * bl::DOUBLE)
               / (gl + bl)::DOUBLE
             + ((gt - gl)::DOUBLE * (gt - gl)::DOUBLE
                + (bt - bl)::DOUBLE * (bt - bl)::DOUBLE)
               / ((gt - gl) + (bt - bl))::DOUBLE))
           / (gt + bt)::DOUBLE AS g1,
         row_number() OVER (ORDER BY
           (gl::DOUBLE * gl::DOUBLE + bl::DOUBLE * bl::DOUBLE)
             / (gl + bl)::DOUBLE
           + ((gt - gl)::DOUBLE * (gt - gl)::DOUBLE
              + (bt - bl)::DOUBLE * (bt - bl)::DOUBLE)
             / ((gt - gl) + (bt - bl))::DOUBLE DESC, v) AS rn
  FROM staged WHERE i < k
)
SELECT v AS split_value,
       n_left, n_right,
       round(brl::DECIMAL(18,8), 6)::DOUBLE AS bad_rate_left,
       round(brr::DECIMAL(18,8), 6)::DOUBLE AS bad_rate_right,
       round(g0::DECIMAL(18,8), 6)::DOUBLE AS gini_before,
       round(g1::DECIMAL(18,8), 6)::DOUBLE AS gini_after
FROM scored WHERE rn = 1
"""


def q_ols_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log OLS demand slope per brand: regress ln(quantity) on
    ln(unit price) over the lineitem⋈part slice — the price-
    elasticity screen, and the registry's closed-form OLS primitive
    (trend_robust is the rank-based sibling). Sufficient statistics
    only: per-row ln terms and their products are DECIMAL(38,12)-
    recast before the map-combined per-brand sums (order-independent,
    the pr_auc discipline); slope/intercept/R² are a handful of IEEE
    ops on those exact sums, one row per brand (25 — bounded by the
    brand domain)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    staged = li.join(part, "l_partkey").select(
        "p_brand",
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("__x"),
        F.log("l_quantity").alias("__y"),
    )
    d38 = "decimal(38,12)"
    sums = staged.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__x").cast(d38)).alias("__sx"),
        F.sum(F.col("__y").cast(d38)).alias("__sy"),
        F.sum((F.col("__x") * F.col("__y")).cast(d38)).alias("__sxy"),
        F.sum((F.col("__x") * F.col("__x")).cast(d38)).alias("__sxx"),
        F.sum((F.col("__y") * F.col("__y")).cast(d38)).alias("__syy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    num = n * sxy - sx * sy
    slope = F.try_divide(num, dx)
    intercept = (sy - slope * sx) / n
    r2 = F.try_divide(num * num, dx * dy)
    d18 = "decimal(18,8)"
    return sums.select(
        F.col("p_brand").alias("brand"),
        F.col("__n").cast("long").alias("n_rows"),
        F.round(slope.cast(d18), 6).cast("double").alias("slope"),
        F.round(intercept.cast(d18), 6).cast("double").alias("intercept"),
        F.round(r2.cast(d18), 6).cast("double").alias("r2"),
    )


_OLS_ELASTICITY_SQL = """
WITH staged AS (
  SELECT p_brand,
         ln(l_extendedprice / l_quantity) AS x,
         ln(l_quantity) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
sums AS (
  SELECT p_brand, count(*) AS n,
         sum(x::DECIMAL(38,12)) AS sx, sum(y::DECIMAL(38,12)) AS sy,
         sum((x * y)::DECIMAL(38,12)) AS sxy,
         sum((x * x)::DECIMAL(38,12)) AS sxx,
         sum((y * y)::DECIMAL(38,12)) AS syy
  FROM staged GROUP BY 1
)
SELECT p_brand AS brand,
       n::BIGINT AS n_rows,
       round(((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
              / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE))::DECIMAL(18,8),
             6)::DOUBLE AS slope,
       round(((sy::DOUBLE
               - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                  / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE))
                 * sx::DOUBLE)
              / n::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS intercept,
       round((((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
               * (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE))
              / ((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                 * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)))::DECIMAL(18,8),
             6)::DOUBLE AS r2
FROM sums
"""


def q_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the co-purchase graph —
    the structure screen that says whether pagerank/k_core/two_hop
    face a power-law hub problem (it is also the input to every
    "should this join be salted" decision). Same capped edge builder
    as k_core (support >= 2, cap-64 canary-pinned); degrees are the
    session's shared ``graph.degrees`` frame
    (``shared_frames.copurchase_degrees``); the log2 bucket
    is EXACT integer arithmetic on both engines — bit-length via
    binary-string length (Spark ``conv(d,10,2)``, DuckDB ``bin(d)``),
    never floor(log2(double)) whose boundary ulp can flip the bucket
    cross-engine."""
    from sparkprep.queries import shared_frames

    deg = shared_frames.copurchase_degrees(spark, sf_dir)
    bucket = (F.length(F.conv(F.col("d"), 10, 2)) - 1).cast("long")
    return (
        deg.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("d").cast("long").alias("min_degree"),
            F.max("d").cast("long").alias("max_degree"),
            F.sum("d").cast("long").alias("sum_degree"),
        )
    )


_DEGREE_DIST_SQL = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
  ) GROUP BY 1
)
SELECT (length(bin(d)) - 1)::BIGINT AS log2_bucket,
       count(*)::BIGINT AS n_nodes,
       min(d)::BIGINT AS min_degree,
       max(d)::BIGINT AS max_degree,
       sum(d)::BIGINT AS sum_degree
FROM deg GROUP BY 1
"""


def q_tail_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tail order statistics of order value at scale: p50/p90/
    p99/p99.9 WITHOUT a global sort or a single-partition percentile —
    ``ranks.global_rank`` (range partition + broadcast prefix offsets)
    assigns every order a unique rank, and each target index is pure
    integer math (ceil(p·n) = (p_num·n + p_den − 1) div p_den — no
    float ceil whose half-boundary could flip cross-engine). The
    tail-to-median ratio is the skew headline: stats_extended's
    percentile() documents "per-group sort" as its 100 TB trade; this
    is the exact global form that scales."""
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = ranks.global_rank(
        orders,
        [F.asc("o_totalprice"), F.asc("o_orderkey")],
        rank_name="__r",
        total_name="__n",
    )
    n = F.col("__n")
    idx50 = F.expr("(__n + 1) div 2")
    idx90 = F.expr("(9 * __n + 9) div 10")
    idx99 = F.expr("(99 * __n + 99) div 100")
    idx999 = F.expr("(999 * __n + 999) div 1000")
    hits = ranked.filter(
        (F.col("__r") == idx50)
        | (F.col("__r") == idx90)
        | (F.col("__r") == idx99)
        | (F.col("__r") == idx999)
    )
    folded = hits.agg(
        F.max(F.when(F.col("__r") == idx50, F.col("o_totalprice"))).alias(
            "p50"
        ),
        F.max(F.when(F.col("__r") == idx90, F.col("o_totalprice"))).alias(
            "p90"
        ),
        F.max(F.when(F.col("__r") == idx99, F.col("o_totalprice"))).alias(
            "p99"
        ),
        F.max(F.when(F.col("__r") == idx999, F.col("o_totalprice"))).alias(
            "p999"
        ),
        F.max("__n").cast("long").alias("n_orders"),
    )
    d18 = "decimal(18,8)"
    return folded.select(
        "n_orders",
        "p50",
        "p90",
        "p99",
        "p999",
        F.round(
            F.try_divide(F.col("p99"), F.col("p50")).cast(d18), 6
        ).cast("double").alias("tail_ratio_99_50"),
    )


_TAIL_QUANTILES_SQL = """
WITH ranked AS (
  SELECT o_totalprice,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS r,
         count(*) OVER () AS n
  FROM orders
),
folded AS (
  SELECT max(CASE WHEN r = (n + 1) // 2 THEN o_totalprice END) AS p50,
         max(CASE WHEN r = (9 * n + 9) // 10 THEN o_totalprice END) AS p90,
         max(CASE WHEN r = (99 * n + 99) // 100 THEN o_totalprice END) AS p99,
         max(CASE WHEN r = (999 * n + 999) // 1000 THEN o_totalprice END) AS p999,
         max(n)::BIGINT AS n_orders
  FROM ranked
)
SELECT n_orders, p50, p90, p99, p999,
       round((p99 / p50)::DECIMAL(18,8), 6)::DOUBLE AS tail_ratio_99_50
FROM folded
"""


def rfm_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared RFM staging for rfm_segments and scale_ops.q_rfm_scale
    (same oracle): per-customer (recency, frequency, monetary) with the
    recency horizon attached via the broadcast 1-row max-day frame.
    The TZ-sensitive date cast relies on the UTC pin ``t`` applies.

    Session-shared + lazily checkpointed (r10): rfm_segments and
    rfm_scale each re-ran the orders scan + per-customer aggregate —
    and the horizon crossJoin re-executes that aggregate a second time
    per consumer (the crossJoin(broadcast(df.agg(...))) re-execution
    landmine); the shared frame pays all of it once per session."""
    from sparkprep.checkpointing import lazy_checkpoint
    from sparkprep.queries import shared_frames

    def build() -> DataFrame:
        orders = t(spark, sf_dir, "orders").select(
            "o_custkey",
            F.expr(
                "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
            ).alias("__day"),
            F.col("o_totalprice").cast("decimal(18,4)").alias("__m"),
        )
        per_cust = orders.groupBy("o_custkey").agg(
            F.max("__day").alias("__last"),
            F.count(F.lit(1)).alias("__f"),
            F.sum("__m").alias("__mon"),
        ).transform(lazy_checkpoint)
        horizon = per_cust.agg(F.max("__last").alias("__h"))
        return per_cust.crossJoin(F.broadcast(horizon)).select(
            "o_custkey",
            (F.col("__h") - F.col("__last")).alias("__rec"),
            "__f",
            "__mon",
        )

    return shared_frames.session_frame(spark, "rfm_staged", sf_dir, build)


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the canonical customer-value grid: per
    customer, Recency (days since last order, vs the stream's own max
    day via a broadcast 1-row attach), Frequency (order count) and
    Monetary (exact-decimal total spend) are quintile-scored with
    ntile(5) windows over the AGGREGATED per-customer frame
    (custkey tie-breaks pin bucket boundaries for the oracle; score 5
    = most recent / most frequent / biggest spender), then rolled up
    to segment counts + average spend per (r, f, m) cell.

    100x toggle: the per-customer frame is ENTITY-grain, so these
    global ntile windows single-task-sort everything at scale — use
    ``rfm_scale`` (scale_ops.q_rfm_scale: chained ranks.global_ntile
    passes, bit-identical output, same oracle) beyond driver SFs."""
    from pyspark.sql.window import Window

    staged = rfm_staged(spark, sf_dir)
    # most recent = highest r_score: order recency DESC so ntile 5 is
    # the freshest quintile; same polarity for f and m
    wr = Window.orderBy(F.desc("__rec"), F.asc("o_custkey"))
    wf = Window.orderBy(F.asc("__f"), F.asc("o_custkey"))
    wm = Window.orderBy(F.asc("__mon"), F.asc("o_custkey"))
    scored = staged.select(
        F.ntile(5).over(wr).cast("long").alias("r_score"),
        F.ntile(5).over(wf).cast("long").alias("f_score"),
        F.ntile(5).over(wm).cast("long").alias("m_score"),
        "__mon",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        # exact decimal sum -> ONE double conversion -> one IEEE
        # division (decimal/decimal division rounds at engine-specific
        # result scales and cannot hash-match); the quotient re-casts
        # to DECIMAL(18,8) BEFORE the display round — a double sitting
        # on an exact decimal half rounds differently per engine
        # (CLAUDE.md round-divergence landmine, hit at sf0.001)
        F.round(
            (F.sum("__mon").cast("double") / F.count(F.lit(1))).cast(
                "decimal(18,8)"
            ),
            2,
        ).cast("double").alias("avg_spend"),
    )


_RFM_SQL = """
WITH o AS (
  SELECT o_custkey,
         epoch_us(o_orderdate) // 86400000000 AS day,
         o_totalprice::DECIMAL(18,4) AS m
  FROM orders
),
per_cust AS (
  SELECT o_custkey, max(day) AS last_day, count(*) AS f, sum(m) AS mon
  FROM o GROUP BY 1
),
staged AS (
  SELECT o_custkey,
         (SELECT max(last_day) FROM per_cust) - last_day AS rec,
         f, mon
  FROM per_cust
),
scored AS (
  SELECT ntile(5) OVER (ORDER BY rec DESC, o_custkey) AS r_score,
         ntile(5) OVER (ORDER BY f ASC, o_custkey) AS f_score,
         ntile(5) OVER (ORDER BY mon ASC, o_custkey) AS m_score,
         mon
  FROM staged
)
SELECT r_score::BIGINT AS r_score, f_score::BIGINT AS f_score,
       m_score::BIGINT AS m_score,
       count(*)::BIGINT AS n_customers,
       round((sum(mon)::DOUBLE / count(*))::DECIMAL(18,8), 2)::DOUBLE AS avg_spend
FROM scored GROUP BY 1, 2, 3
"""


def q_basket_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size histogram: how many distinct parts each order holds
    — the profile that VALIDATES the bounded-fan-out assumption every
    co-purchase graph query builds on (pair explode is k² per order;
    the cooccurrence cap of 64 only stays a no-op while this table's
    max — 13 at sf0.01 — stays far below it). Two map-combined groupBys sharing
    nothing heavier than the order key; share = one division of exact
    counts over a broadcast 1-row total."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per_order = li.dropDuplicates().groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("basket_size")
    )
    dist = per_order.groupBy("basket_size").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    total = dist.agg(F.sum("n_orders").alias("__t"))
    return (
        dist.crossJoin(F.broadcast(total))
        .select(
            F.col("basket_size").cast("long").alias("basket_size"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.round(F.col("n_orders") / F.col("__t"), 4).alias("share"),
        )
    )


_BASKET_SIZE_SQL = """
WITH per_order AS (
  SELECT l_orderkey, count(DISTINCT l_partkey) AS basket_size
  FROM lineitem GROUP BY 1
),
dist AS (SELECT basket_size, count(*) AS n_orders FROM per_order GROUP BY 1)
SELECT basket_size::BIGINT AS basket_size, n_orders::BIGINT AS n_orders,
       round(n_orders / (SELECT sum(n_orders) FROM dist), 4) AS share
FROM dist
"""


def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration risk per part: top-20 parts (≥3 suppliers)
    by the Herfindahl index of supplier quantity shares — which SKUs
    depend on one vendor. HHI is computed as Σq_i² / Q² (ONE division
    of exact int64 sums — never a float share per row, so the sum is
    order-independent by construction); two map-combined groupBys
    sharing the l_partkey shuffle key, then TakeOrdered."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", F.col("l_quantity").cast("long").alias("__q")
    )
    per_supp = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("__q").alias("__sq")
    )
    per_part = per_supp.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("__ns"),
        F.sum("__sq").alias("__tot"),
        F.sum(F.col("__sq") * F.col("__sq")).alias("__sq2"),
    )
    hhi = F.col("__sq2") / (F.col("__tot") * F.col("__tot"))
    return (
        per_part.filter(F.col("__ns") >= 3)
        .select(
            "l_partkey",
            F.col("__ns").cast("long").alias("n_suppliers"),
            F.col("__tot").cast("long").alias("total_qty"),
            F.round(hhi, 6).alias("hhi"),
        )
        .orderBy(F.desc("hhi"), "l_partkey")
        .limit(20)
    )


_SUPPLIER_HHI_SQL = """
WITH per_supp AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity::BIGINT) AS sq
  FROM lineitem GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey, count(*) AS ns, sum(sq) AS tot, sum(sq * sq) AS sq2
  FROM per_supp GROUP BY 1
)
SELECT l_partkey, ns::BIGINT AS n_suppliers, tot::BIGINT AS total_qty,
       round(sq2 / (tot * tot), 6) AS hhi
FROM per_part WHERE ns >= 3
ORDER BY hhi DESC, l_partkey
LIMIT 20
"""


def q_price_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-part price dispersion across suppliers: top-20 parts by
    relative unit-price spread (max−min)/mean among parts sold by ≥3
    suppliers — the catalog-integrity screen for inconsistent pricing.
    Unit price is ONE division of two exact doubles per row, re-cast to
    DECIMAL(18,6) so the per-part mean is an order-independent exact
    sum; min/max are exact selections; the spread is 3 IEEE ops. One
    map-combined groupBy + TakeOrdered."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    unit = (
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity"))
    ).cast("decimal(18,6)")
    per_part = (
        li.select("l_partkey", unit.alias("__u"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min("__u").alias("__lo"),
            F.max("__u").alias("__hi"),
            F.sum("__u").alias("__s"),
        )
        .filter(F.col("__n") >= 3)
    )
    mean = F.col("__s").cast("double") / F.col("__n")
    spread = F.try_divide(
        F.col("__hi").cast("double") - F.col("__lo").cast("double"), mean
    )
    return (
        per_part.select(
            "l_partkey",
            F.col("__n").cast("long").alias("n_sales"),
            F.round(F.col("__lo"), 2).cast("double").alias("min_unit"),
            F.round(F.col("__hi"), 2).cast("double").alias("max_unit"),
            F.round(spread, 4).alias("rel_spread"),
        )
        .orderBy(F.desc("rel_spread"), "l_partkey")
        .limit(20)
    )


_PRICE_SPREAD_SQL = """
WITH u AS (
  SELECT l_partkey,
         (l_extendedprice / l_quantity)::DECIMAL(18,6) AS unit
  FROM lineitem WHERE l_quantity > 0
),
per_part AS (
  SELECT l_partkey, count(*) AS n, min(unit) AS lo, max(unit) AS hi,
         sum(unit) AS s
  FROM u GROUP BY 1 HAVING count(*) >= 3
)
SELECT l_partkey, n::BIGINT AS n_sales,
       round(lo, 2)::DOUBLE AS min_unit,
       round(hi, 2)::DOUBLE AS max_unit,
       round((hi::DOUBLE - lo::DOUBLE) / (s::DOUBLE / n), 4) AS rel_spread
FROM per_part
ORDER BY rel_spread DESC, l_partkey
LIMIT 20
"""


def q_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by 2-hop neighborhood size in the support-≥2
    co-purchase graph — the 'influence radius' readout beside
    pagerank's stationary view. Directed ends come from
    ``graph.directed_ends_capped`` with a 256-neighbor HUB GUARD
    (VERDICT r5 watch-item): the 2-hop self-join fans out Σ deg², so
    one celebrity part at 100x would dominate without the cap. Max
    degree is 51 on driver data (sf0.001, the densest generation;
    canary-pinned with >=2x headroom in tests/test_headroom_canaries.py),
    so the cap never binds and the all-pairs oracle stays exact (at a
    true 100x deployment, tighten the cap to taste — results then
    become top-k-neighbor approximations). The capped ends are CHECKPOINTED
    (multi-consumer: the 1-hop leg and both sides of the 2-hop
    self-join); one distinct-count aggregate with a conditional
    distinct for the direct-degree column. TakeOrdered top-k."""
    from sparkprep.queries import shared_frames

    edges = shared_frames.copurchase_edges(spark, sf_dir, a="item_a", b="item_b")
    dirs = graph.directed_ends_capped(
        edges, max_degree=256
    ).transform(lazy_checkpoint)
    one = dirs.select("u", "v", F.lit(1).alias("hop"))
    two = (
        dirs.alias("d1")
        .join(dirs.alias("d2"), F.col("d1.v") == F.col("d2.u"))
        .filter(F.col("d2.v") != F.col("d1.u"))
        .select(F.col("d1.u").alias("u"), F.col("d2.v").alias("v"),
                F.lit(2).alias("hop"))
    )
    reach = one.unionByName(two).groupBy("u").agg(
        F.count_distinct(
            F.when(F.col("hop") == 1, F.col("v"))
        ).cast("long").alias("n_direct"),
        F.count_distinct("v").cast("long").alias("n_reach2"),
    )
    return (
        reach.select(F.col("u").alias("node"), "n_direct", "n_reach2")
        .orderBy(F.desc("n_reach2"), "node")
        .limit(20)
    )


_TWO_HOP_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
dirs AS (
  SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb AS u, pa AS v FROM e
),
hops AS (
  SELECT u, v, 1 AS hop FROM dirs
  UNION ALL
  SELECT d1.u, d2.v, 2 AS hop
  FROM dirs d1 JOIN dirs d2 ON d1.v = d2.u
  WHERE d2.v != d1.u
)
SELECT u AS node,
       count(DISTINCT CASE WHEN hop = 1 THEN v END)::BIGINT AS n_direct,
       count(DISTINCT v)::BIGINT AS n_reach2
FROM hops
GROUP BY u
ORDER BY n_reach2 DESC, node
LIMIT 20
"""


def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the classic inequality
    number beside revenue_concentration's HHI/top-10 share. Identity
    G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over revenues sorted ascending:
    per-customer revenue is an exact DECIMAL sum off one keyed join;
    the rank i is the ``__rank`` of the session-shared
    ``customer_revenue_ranked`` scaffold (one ``ranks.range_prefix``
    pass: range partition + per-partition window + broadcast offsets,
    so no task sorts every customer), with (revenue, custkey) ordering
    so ties are deterministic (equal values make Σ i·xᵢ order-invariant
    anyway). Σ i·xᵢ is decimal-exact (bigint × decimal); the finish is
    4 IEEE ops. ``gini_scale`` is the same function under a second
    registry name."""
    from sparkprep.queries import shared_frames

    ranked = shared_frames.customer_revenue_ranked(spark, sf_dir).select(
        "__rev", F.col("__rank").alias("__i")
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__rev").alias("__sx"),
        F.sum(F.col("__i") * F.col("__rev")).alias("__six"),
    )
    n = F.col("__n").cast("double")
    gini = (
        F.lit(2.0) * F.col("__six").cast("double")
        / (n * F.col("__sx").cast("double"))
        - (n + F.lit(1.0)) / n
    )
    return sums.select(
        F.round(gini, 6).alias("gini"),
        F.col("__n").cast("long").alias("n_customers"),
        F.round(F.col("__sx"), 2).cast("double").alias("total_revenue"),
    )


_GINI_REVENUE_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
),
ranked AS (
  SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS i FROM per_cust
),
sums AS (
  SELECT count(*) AS n, sum(rev) AS sx, sum(i * rev) AS six FROM ranked
)
SELECT round(2.0 * six::DOUBLE / (n::DOUBLE * sx::DOUBLE)
             - (n::DOUBLE + 1.0) / n::DOUBLE, 6) AS gini,
       n::BIGINT AS n_customers,
       round(sx, 2)::DOUBLE AS total_revenue
FROM sums
"""


def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-level Lorenz table behind gini_revenue: customers sorted
    by revenue into ntile(10) buckets, each decile's exact-decimal
    revenue, share of total, and the running (Lorenz) cumulative
    share. The deciles come row-locally from the session-shared
    ``customer_revenue_ranked`` scaffold through
    ``ranks.ntile_from_rank`` (SQL ntile's integer math, bit-identical
    to ``ntile(10) OVER (ORDER BY rev, custkey)``), so no task sorts
    every customer; only the cumulative and total windows stay global,
    over the 10-row decile frame. Shares are single double divisions
    of exact decimal sums. ``lorenz_scale`` is the same function under
    a second registry name."""
    from pyspark.sql.window import Window

    from sparkprep.queries import shared_frames

    ranked = shared_frames.customer_revenue_ranked(spark, sf_dir)
    deciles = ranked.select(
        "__rev",
        ranks.ntile_from_rank(F.col("__rank"), F.col("__n"), 10).alias(
            "decile"
        ),
    )
    agg = deciles.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("__rev").alias("__drev"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = F.sum("__drev").over(Window.partitionBy())
    return agg.select(
        "decile",
        "n_customers",
        F.round("__drev", 2).cast("double").alias("revenue"),
        F.round(
            F.col("__drev").cast("double") / total.cast("double"), 6
        ).alias("rev_share"),
        F.round(
            F.sum("__drev").over(w_cum).cast("double") / total.cast("double"),
            6,
        ).alias("cum_share"),
    )


_LORENZ_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
),
deciles AS (
  SELECT rev, ntile(10) OVER (ORDER BY rev, o_custkey) AS decile FROM per_cust
),
agg AS (
  SELECT decile, count(*) AS n_customers, sum(rev) AS drev
  FROM deciles GROUP BY 1
)
SELECT decile::BIGINT AS decile, n_customers::BIGINT AS n_customers,
       round(drev, 2)::DOUBLE AS revenue,
       round(drev::DOUBLE / (sum(drev) OVER ())::DOUBLE, 6) AS rev_share,
       round((sum(drev) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING))::DOUBLE
             / (sum(drev) OVER ())::DOUBLE, 6) AS cum_share
FROM agg
"""


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the support-≥2 co-purchase graph (the
    triangle_count graph): do frequently-bundled parts attach to other
    hubs or to one-off partners? ``graph.assortativity`` — exact
    int64 degree Pearson with decimal sums; the oracle replays the
    directed-ends join."""
    from sparkprep.queries import shared_frames

    edges = shared_frames.copurchase_edges(spark, sf_dir, a="item_a", b="item_b")
    return graph.assortativity(edges)


_ASSORTATIVITY_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT pa AS node FROM e UNION ALL SELECT pb AS node FROM e
  ) GROUP BY 1
),
dirs AS (
  SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb AS u, pa AS v FROM e
),
j AS (
  SELECT d1.d AS du, d2.d AS dv
  FROM dirs JOIN deg d1 ON dirs.u = d1.node JOIN deg d2 ON dirs.v = d2.node
),
sums AS (
  SELECT count(*) AS m,
         sum(du::DECIMAL(38,0)) AS sx, sum(dv::DECIMAL(38,0)) AS sy,
         sum((du * dv)::DECIMAL(38,0)) AS sxy,
         sum((du * du)::DECIMAL(38,0)) AS sxx,
         sum((dv * dv)::DECIMAL(38,0)) AS syy
  FROM j
)
SELECT round((m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / (sqrt(m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                * sqrt(m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 4)
         AS assortativity,
       (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
       (m // 2)::BIGINT AS n_edges
FROM sums
"""


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 association rules by lift over the order→part baskets
    (support ≥ 2): the actionable read of the co-purchase graph —
    confidence = sup/n(antecedent), lift = N·sup/(n(a)·n(b)), every
    metric a single IEEE division of exact int64 counts. Pair stream
    reuses ``graph.cooccurrence_pairs``; both rule directions explode
    row-locally; the top-k compiles to TakeOrderedAndProject."""
    from sparkprep.queries import shared_frames

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.dropDuplicates()
    pairs = shared_frames.copurchase_pairs(spark, sf_dir)
    item_counts = op.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("n")
    )
    n_baskets = op.select("l_orderkey").distinct().count()
    return graph.association_rules(
        pairs, item_counts, n_baskets, top=20, min_support=2
    )


_ASSOC_RULES_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS sup
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
ic AS (SELECT l_partkey AS item, count(*) AS n FROM op GROUP BY 1),
nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM op),
dirs AS (
  SELECT pa AS antecedent, pb AS consequent, sup FROM e
  UNION ALL
  SELECT pb AS antecedent, pa AS consequent, sup FROM e
)
SELECT antecedent, consequent, sup::BIGINT AS support,
       round(sup / ca.n, 4) AS confidence,
       round((nb.n * sup) / (ca.n * cb.n), 4) AS lift
FROM dirs
JOIN ic ca ON dirs.antecedent = ca.item
JOIN ic cb ON dirs.consequent = cb.item
CROSS JOIN nb
ORDER BY lift DESC, antecedent, consequent
LIMIT 20
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity revenue totals in ONE pass — ``ROLLUP(year,
    priority)`` gives (year, priority), per-year, and grand-total rows
    together, the classic OLAP drill-down surface Spark compiles to an
    Expand (3 duplicate streams) feeding one map-combined hash
    aggregate — one shuffle for all three granularities, vs three
    separate scans. Group labels are pre-cast to STRING and the rolled-
    up NULLs coalesced to an 'ALL' sentinel on BOTH engines (a NULL
    int column comes back NaN via fetchdf and hashes differently);
    revenue is the standard exact-decimal money sum."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.year("o_orderdate").cast("string").alias("__y"),
        F.col("o_orderpriority").alias("__p"),
        rev.alias("__r"),
    )
    return (
        j.rollup("__y", "__p")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(F.sum("__r"), 2).cast("double").alias("revenue"),
        )
        .select(
            F.coalesce("__y", F.lit("ALL")).alias("o_year"),
            F.coalesce("__p", F.lit("ALL")).alias("priority"),
            "n_lines",
            "revenue",
        )
    )


_ROLLUP_REVENUE_SQL = """
WITH j AS (
  SELECT year(o_orderdate)::VARCHAR AS y, o_orderpriority AS p,
         (l_extendedprice * (1 - l_discount))::DECIMAL(18,4) AS r
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT coalesce(y, 'ALL') AS o_year, coalesce(p, 'ALL') AS priority,
       count(*)::BIGINT AS n_lines,
       round(sum(r), 2)::DOUBLE AS revenue
FROM j GROUP BY ROLLUP (y, p)
"""


def q_cube_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ``CUBE(returnflag, linestatus)`` quantity/line panel — all
    four granularities (both, each-alone, grand total) in one Expand +
    map-combined aggregate, the cross-tab companion of rollup_revenue's
    hierarchy. Same 'ALL'-sentinel convention; quantity sums are exact
    decimal."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("__f"),
        F.col("l_linestatus").alias("__s"),
        F.col("l_quantity").cast("decimal(18,4)").alias("__q"),
    )
    return (
        li.cube("__f", "__s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(F.sum("__q"), 2).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce("__f", F.lit("ALL")).alias("returnflag"),
            F.coalesce("__s", F.lit("ALL")).alias("linestatus"),
            "n_lines",
            "sum_qty",
        )
    )


_CUBE_MIX_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*)::BIGINT AS n_lines,
       round(sum(l_quantity::DECIMAL(18,4)), 2)::DOUBLE AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_region_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent hierarchy readout: each nation's share of its
    REGION's order revenue — the drill-path companion of the rollup
    (share-of-parent is what dashboards overlay on drill-down levels).
    One keyed join chain (customer/nation/region dims broadcast), one
    map-combined groupBy to the 25-nation frame; the region total is a
    keyed window over that bounded frame (5 regions); share = ONE
    IEEE division of exact decimal sums, DECIMAL-recast before the
    display round (half-round landmine)."""
    from pyspark.sql.window import Window

    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(18,4)").alias("__m")
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per_nation = (
        # customer is unfiltered catalog grain — no forced broadcast
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("__m").alias("__rev"))
    )
    w = Window.partitionBy("r_name")
    total = F.sum("__rev").over(w)
    return per_nation.select(
        F.col("r_name").alias("region"),
        F.col("n_name").alias("nation"),
        F.round("__rev", 2).cast("double").alias("revenue"),
        F.round(
            (F.col("__rev").cast("double") / total.cast("double")).cast(
                "decimal(18,8)"
            ),
            6,
        ).cast("double").alias("region_share"),
    )


_REGION_SHARE_SQL = """
WITH per_nation AS (
  SELECT r_name, n_name,
         sum(o_totalprice::DECIMAL(18,4)) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT r_name AS region, n_name AS nation,
       round(rev, 2)::DOUBLE AS revenue,
       round((rev::DOUBLE / (sum(rev) OVER (PARTITION BY r_name))::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS region_share
FROM per_nation
"""


def q_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join fan-out profile on l_partkey — the cost model behind
    every self-join family in this engine (co-purchase pairs, 2-hop,
    shingle/LSH buckets): an A⋈A equi-join emits cnt(k)² rows per key,
    so Σ cnt² is the join's true size and the top keys are the skew
    that salting/capping exists for. One map-combined groupBy; the
    join-share denominator is a 1-row ``agg(sum)`` over the per-PART
    aggregate, broadcast-attached (key_skew's sanctioned tiny-broadcast
    cross — part is a dim that grows with the data, so a global window
    here would single-partition the whole per-part frame at 100x);
    share = ONE IEEE division of exact int64s; TakeOrdered top-20 with
    partkey tie-break. Pairs with key_skew (group-key imbalance) as the
    join-side lens of the skew toolkit."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey")
    per = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("__n"))
    fan = per.select(
        "l_partkey",
        F.col("__n").cast("long").alias("n_rows"),
        (F.col("__n") * F.col("__n")).cast("long").alias("fanout"),
    )
    tot = fan.agg(F.sum("fanout").alias("__tot"))
    return (
        fan.join(F.broadcast(tot))
        .select(
            "l_partkey",
            "n_rows",
            "fanout",
            # DECIMAL(18,8) re-cast before the display round (half-round
            # landmine) — quotient of exact ints is engine-identical, the
            # round of it is not
            F.round(
                (
                    F.col("fanout").cast("double")
                    / F.col("__tot").cast("double")
                ).cast("decimal(18,8)"),
                6,
            ).cast("double").alias("join_share"),
        )
        .orderBy(F.desc("fanout"), "l_partkey")
        .limit(20)
    )


_JOIN_FANOUT_SQL = """
WITH per AS (
  SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1
),
f AS (SELECT l_partkey, n, n * n AS fanout FROM per)
SELECT l_partkey,
       n::BIGINT AS n_rows,
       fanout::BIGINT AS fanout,
       round((fanout::DOUBLE / (sum(fanout) OVER ())::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS join_share
FROM f
ORDER BY fanout DESC, l_partkey
LIMIT 20
"""


QUERIES = {
    "pagerank": q_pagerank,
    "join_fanout": q_join_fanout,
    "rollup_revenue": q_rollup_revenue,
    "cube_mix": q_cube_mix,
    "region_share": q_region_share,
    "triangle_count": q_triangle_count,
    "assortativity": q_assortativity,
    "assoc_rules": q_assoc_rules,
    "gini_revenue": q_gini_revenue,
    "two_hop_reach": q_two_hop_reach,
    "price_spread": q_price_spread,
    "supplier_hhi": q_supplier_hhi,
    "basket_size_dist": q_basket_size_dist,
    "rfm_segments": q_rfm_segments,
    "ship_delay": q_ship_delay,
    "lorenz_curve": q_lorenz_curve,
    "salted_join": q_salted_join,
    "spearman": q_spearman,
    "kendall_tau": q_kendall_tau,
    "woe_iv": q_woe_iv,
    "theil_index": q_theil_index,
    "stump_split": q_stump_split,
    "ols_elasticity": q_ols_elasticity,
    "degree_dist": q_degree_dist,
    "tail_quantiles": q_tail_quantiles,
    "mann_whitney": q_mann_whitney,
    "kruskal_wallis": q_kruskal_wallis,
    "weighted_median": q_weighted_median,
    "k_core": q_k_core,
    "skyline": q_skyline,
    "merge_upsert": q_merge_upsert,
    "merge_scd2": q_merge_scd2,
    "correlations": q_correlations,
    "unpivot": q_unpivot,
    "percent_rank": q_percent_rank,
    "returned_revenue": q_returned_revenue,
    "top_supplier": q_top_supplier,
    "small_qty_revenue": q_small_qty_revenue,
    "discount_band_revenue": q_discount_band_revenue,
    "product_profit": q_product_profit,
    "nation_trade_flow": q_nation_trade_flow,
    "important_parts": q_important_parts,
    "k_anonymity": q_k_anonymity,
    "filtered_join": q_filtered_join,
}

ORACLES = {
    "pagerank": _PAGERANK_SQL,
    "join_fanout": _JOIN_FANOUT_SQL,
    "rollup_revenue": _ROLLUP_REVENUE_SQL,
    "cube_mix": _CUBE_MIX_SQL,
    "region_share": _REGION_SHARE_SQL,
    "triangle_count": _TRIANGLE_SQL,
    "assortativity": _ASSORTATIVITY_SQL,
    "assoc_rules": _ASSOC_RULES_SQL,
    "gini_revenue": _GINI_REVENUE_SQL,
    "two_hop_reach": _TWO_HOP_SQL,
    "price_spread": _PRICE_SPREAD_SQL,
    "supplier_hhi": _SUPPLIER_HHI_SQL,
    "basket_size_dist": _BASKET_SIZE_SQL,
    "rfm_segments": _RFM_SQL,
    "ship_delay": _SHIP_DELAY_SQL,
    "lorenz_curve": _LORENZ_SQL,
    "salted_join": _SALTED_JOIN_SQL,
    "spearman": _SPEARMAN_SQL,
    "kendall_tau": _KENDALL_TAU_SQL,
    "woe_iv": _WOE_IV_SQL,
    "theil_index": _THEIL_INDEX_SQL,
    "stump_split": _STUMP_SPLIT_SQL,
    "ols_elasticity": _OLS_ELASTICITY_SQL,
    "degree_dist": _DEGREE_DIST_SQL,
    "tail_quantiles": _TAIL_QUANTILES_SQL,
    "mann_whitney": _MANN_WHITNEY_SQL,
    "kruskal_wallis": _KRUSKAL_WALLIS_SQL,
    "weighted_median": _WEIGHTED_MEDIAN_SQL,
    "k_core": _K_CORE_SQL,
    "skyline": _SKYLINE_SQL,
    "k_anonymity": _K_ANONYMITY_SQL,
    "filtered_join": _FILTERED_JOIN_SQL,
    "merge_upsert": _MERGE_UPSERT_SQL,
    "merge_scd2": _MERGE_SCD2_SQL,
    "correlations": _CORRELATIONS_SQL,
    "unpivot": _UNPIVOT_SQL,
    "percent_rank": _PERCENT_RANK_SQL,
    "returned_revenue": _RETURNED_REVENUE_SQL,
    "top_supplier": _TOP_SUPPLIER_SQL,
    "small_qty_revenue": _SMALL_QTY_SQL,
    "discount_band_revenue": _DISCOUNT_BAND_SQL,
    "product_profit": _PRODUCT_PROFIT_SQL,
    "nation_trade_flow": _NATION_TRADE_SQL,
    "important_parts": _IMPORTANT_PARTS_SQL,
}


# ---------------------------------------------------------------------------
# point-in-time (as-of) SCD2 snapshot census — round 8
# ---------------------------------------------------------------------------

_PIT_DATES = ["1993-01-01", "1995-01-01", "1996-06-01", "1998-01-01"]


def q_pit_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension reconstruction: treat each customer's
    order stream as an SCD2 attribute history (the priority of their
    latest order is the customer's "current state", valid until their
    next order) and answer "what did the dimension look like AS OF
    date T" for a fixed probe panel — the time-travel read every
    warehouse bolts onto merge_scd2's history table.

    Validity intervals come from ONE keyed lead window (per customer,
    (day, orderkey)-ordered so same-day versions collapse to the last
    order deterministically — the earlier one's interval is empty and
    matches no probe); day arithmetic is exact int64 epoch-day. The
    4-row probe panel broadcast against the version frame is the
    sanctioned tiny cross-attach (validity is a range predicate — no
    equi-key exists); the census groupBy is the only data shuffle."""
    from pyspark.sql.window import Window

    orders = t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
        ).alias("vfrom"),
        "o_orderpriority",
    )
    w = Window.partitionBy("o_custkey").orderBy("vfrom", "o_orderkey")
    hist = orders.select(
        "o_custkey",
        "o_orderpriority",
        "vfrom",
        F.coalesce(
            F.lead("vfrom").over(w), F.lit(2**62).cast("long")
        ).alias("vto"),
    )
    probes = spark.createDataFrame(
        [(d,) for d in _PIT_DATES], "as_of string"
    ).select(
        "as_of",
        F.expr(
            "unix_micros(cast(to_date(as_of) as timestamp)) div 86400000000"
        ).alias("pd"),
    )
    return (
        hist.join(
            F.broadcast(probes),
            (F.col("vfrom") <= F.col("pd")) & (F.col("pd") < F.col("vto")),
        )
        .groupBy("as_of", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("as_of", "o_orderpriority")
    )


def _pit_snapshot_sql() -> str:
    dates = ", ".join(f"('{d}')" for d in _PIT_DATES)
    return f"""
WITH pit_h AS (
  SELECT o_custkey, o_orderpriority,
         epoch_us(o_orderdate) // 86400000000 AS vfrom,
         coalesce(lead(epoch_us(o_orderdate) // 86400000000)
                    OVER (PARTITION BY o_custkey
                          ORDER BY epoch_us(o_orderdate) // 86400000000,
                                   o_orderkey),
                  4611686018427387904) AS vto
  FROM orders
),
pit_p AS (
  SELECT as_of, epoch_us(as_of::TIMESTAMP) // 86400000000 AS pd
  FROM (VALUES {dates}) AS v(as_of)
)
SELECT as_of, o_orderpriority, count(*)::BIGINT AS n_customers
FROM pit_h JOIN pit_p ON vfrom <= pd AND pd < vto
GROUP BY 1, 2 ORDER BY 1, 2
"""


QUERIES["pit_snapshot"] = q_pit_snapshot
ORACLES["pit_snapshot"] = _pit_snapshot_sql()


# ---------------------------------------------------------------------------
# growth decomposition (volume vs price effects) — round 8
# ---------------------------------------------------------------------------


def q_growth_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-bridge decomposition per customer nation, 1995 → 1996:
    ΔRevenue split into a VOLUME effect (quantity change at old unit
    price, (q2−q1)·p1) and a PRICE effect (new volume times unit-price
    change, q2·(p2−p1)) — the Laspeyres/Paasche bridge every BI
    review opens with, and by construction the two effects telescope
    EXACTLY to ΔR (the test asserts the identity).

    Revenue accumulates as per-row DECIMAL(18,4) cents-exact sums;
    quantities are int64; unit prices are ONE IEEE division each of
    exact aggregates, so every effect is a short identical float tree
    on both engines. One fact-table aggregate (conditional sums per
    year), dimensions broadcast."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.year(F.col("o_orderdate").cast("timestamp")).alias("yr"),
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    qty = F.col("l_quantity").cast("long")
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("yr").isin(1995, 1996))
        # customer is unfiltered catalog grain — no forced broadcast
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    per = joined.groupBy("n_name").agg(
        F.sum(F.when(F.col("yr") == 1995, rev)).alias("r1"),
        F.sum(F.when(F.col("yr") == 1995, qty)).alias("q1"),
        F.sum(F.when(F.col("yr") == 1996, rev)).alias("r2"),
        F.sum(F.when(F.col("yr") == 1996, qty)).alias("q2"),
    )
    r1 = F.col("r1").cast("double")
    r2 = F.col("r2").cast("double")
    q1 = F.col("q1").cast("double")
    q2 = F.col("q2").cast("double")
    p1 = F.try_divide(r1, q1)
    p2 = F.try_divide(r2, q2)
    dec2 = lambda c: F.round(c.cast("decimal(38,8)"), 2).cast("double")  # noqa: E731
    return per.select(
        F.col("n_name").alias("nation"),
        dec2(r1).alias("rev_1995"),
        dec2(r2).alias("rev_1996"),
        dec2(r2 - r1).alias("delta"),
        dec2((q2 - q1) * p1).alias("volume_effect"),
        dec2(q2 * (p2 - p1)).alias("price_effect"),
    ).orderBy("nation")


_GROWTH_DECOMP_SQL = """
WITH gd_per AS (
  SELECT n_name AS nation,
         sum(CASE WHEN year(o_orderdate) = 1995
                  THEN (l_extendedprice * (1.0 - l_discount))::DECIMAL(18,4) END) AS r1,
         sum(CASE WHEN year(o_orderdate) = 1995 THEN l_quantity::BIGINT END) AS q1,
         sum(CASE WHEN year(o_orderdate) = 1996
                  THEN (l_extendedprice * (1.0 - l_discount))::DECIMAL(18,4) END) AS r2,
         sum(CASE WHEN year(o_orderdate) = 1996 THEN l_quantity::BIGINT END) AS q2
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE year(o_orderdate) IN (1995, 1996)
  GROUP BY 1
)
SELECT nation,
       round((r1::DOUBLE)::DECIMAL(38,8), 2)::DOUBLE AS rev_1995,
       round((r2::DOUBLE)::DECIMAL(38,8), 2)::DOUBLE AS rev_1996,
       round((r2::DOUBLE - r1::DOUBLE)::DECIMAL(38,8), 2)::DOUBLE AS delta,
       round(((q2::DOUBLE - q1::DOUBLE) * (r1::DOUBLE / q1::DOUBLE))::DECIMAL(38,8),
             2)::DOUBLE AS volume_effect,
       round((q2::DOUBLE * (r2::DOUBLE / q2::DOUBLE - r1::DOUBLE / q1::DOUBLE))::DECIMAL(38,8),
             2)::DOUBLE AS price_effect
FROM gd_per ORDER BY nation
"""


QUERIES["growth_decomposition"] = q_growth_decomposition
ORACLES["growth_decomposition"] = _GROWTH_DECOMP_SQL


# ---------------------------------------------------------------------------
# frequent 3-itemsets — round 8
# ---------------------------------------------------------------------------

_TRIPLE_TOP = 10
_TRIPLE_MIN_SUP = 2


def q_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-itemsets by basket support — one step beyond assoc_rules'
    pair lattice (the "customers who bought A and B also bought C"
    level). The a<b<c self-join chain is bounded by the basket-size
    cap cubed, never the catalog (same contract as the co-purchase
    pair build; observed max basket 17 vs cap 64, canary-pinned), and
    the Apriori prefix prune rides the session-shared pair frame: only
    (a,b) pairs that already clear the support floor fan out to a
    third item. Lift vs independent pair·item support is ONE IEEE
    division of exact int64 counts; top-k compiles to TakeOrdered."""
    from sparkprep.queries import shared_frames

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct().transform(lazy_checkpoint)  # basket side x2 + supports
    n_baskets = op.select("l_orderkey").distinct().count()
    pairs = (
        shared_frames.copurchase_pairs(spark, sf_dir)
        .filter(F.col("n_keys") >= _TRIPLE_MIN_SUP)
        .select(
            F.col("item_a").alias("pa"),
            F.col("item_b").alias("pb"),
            F.col("n_keys").alias("sup_ab"),
        )
    )
    ab_baskets = (
        op.select(F.col("l_orderkey"), F.col("l_partkey").alias("pa"))
        .join(
            op.select(F.col("l_orderkey"), F.col("l_partkey").alias("pb")),
            "l_orderkey",
        )
        .join(pairs, ["pa", "pb"])  # Apriori prune: only frequent pairs
    )
    triples = (
        ab_baskets.join(
            op.select(F.col("l_orderkey"), F.col("l_partkey").alias("pc")),
            "l_orderkey",
        )
        .filter(F.col("pc") > F.col("pb"))
        .groupBy("pa", "pb", "pc", "sup_ab")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= _TRIPLE_MIN_SUP)
    )
    supp_c = op.groupBy(F.col("l_partkey").alias("pc")).agg(
        F.count(F.lit(1)).alias("sup_c")
    )
    # supp_c is CATALOG-grain (one row per part — ~20M at sf100): never
    # force-broadcast an SF-scaling frame (VERDICT r8 #2). The triples
    # side is support-filtered and small; leave the build-side choice
    # to AQE's runtime size check, which broadcasts whichever side fits.
    scored = triples.join(supp_c, "pc")
    conf = F.col("sup").cast("double") / F.col("sup_ab").cast("double")
    lift = (
        F.col("sup").cast("double") * F.lit(float(n_baskets))
    ) / (F.col("sup_ab").cast("double") * F.col("sup_c").cast("double"))
    out = scored.select(
        F.col("pa").cast("long").alias("part_a"),
        F.col("pb").cast("long").alias("part_b"),
        F.col("pc").cast("long").alias("part_c"),
        F.col("sup").cast("long").alias("support"),
        F.round(conf.cast("decimal(18,8)"), 4).cast("double").alias("confidence"),
        F.round(lift.cast("decimal(18,8)"), 4).cast("double").alias("lift"),
    )
    return out.orderBy(
        F.desc("support"), F.asc("part_a"), F.asc("part_b"), F.asc("part_c")
    ).limit(_TRIPLE_TOP)


_FREQUENT_TRIPLES_SQL = f"""
WITH ft_op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ft_n AS (SELECT count(DISTINCT l_orderkey) AS n FROM ft_op),
ft_pairs AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS sup_ab
  FROM ft_op a JOIN ft_op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_TRIPLE_MIN_SUP}
),
ft_t AS (
  SELECT p.pa, p.pb, c.l_partkey AS pc, p.sup_ab, count(*) AS sup
  FROM ft_pairs p
  JOIN ft_op a ON a.l_partkey = p.pa
  JOIN ft_op b ON b.l_orderkey = a.l_orderkey AND b.l_partkey = p.pb
  JOIN ft_op c ON c.l_orderkey = a.l_orderkey AND c.l_partkey > p.pb
  GROUP BY 1, 2, 3, 4 HAVING count(*) >= {_TRIPLE_MIN_SUP}
),
ft_sc AS (SELECT l_partkey AS pc, count(*) AS sup_c FROM ft_op GROUP BY 1)
SELECT t.pa::BIGINT AS part_a, t.pb::BIGINT AS part_b, t.pc::BIGINT AS part_c,
       t.sup::BIGINT AS support,
       round((t.sup::DOUBLE / t.sup_ab::DOUBLE)::DECIMAL(18,8), 4)::DOUBLE AS confidence,
       round((t.sup::DOUBLE * n.n::DOUBLE
              / (t.sup_ab::DOUBLE * s.sup_c::DOUBLE))::DECIMAL(18,8), 4)::DOUBLE AS lift
FROM ft_t t JOIN ft_sc s ON t.pc = s.pc CROSS JOIN ft_n n
ORDER BY support DESC, part_a, part_b, part_c LIMIT {_TRIPLE_TOP}
"""


QUERIES["frequent_triples"] = q_frequent_triples
ORACLES["frequent_triples"] = _FREQUENT_TRIPLES_SQL


# ---------------------------------------------------------------------------
# top movers (period-over-period share shift) — round 8
# ---------------------------------------------------------------------------

_MOVERS_TOP = 15


def q_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top revenue-share movers, 1995 → 1996, by part brand: the
    period-over-period "what changed" screen (growth_decomposition
    explains WHY a segment moved; this ranks WHICH moved most). Share
    per period is an exact-decimal revenue sum over the period total
    (ONE IEEE division each); the shift in basis points is a short
    identical float tree, so the |Δbps| ranking and the TakeOrdered
    top-15 agree across engines. Brand dimension joined under AQE's
    size check (part is unfiltered catalog grain); one conditional-sum
    fact aggregate; the 1-row period-totals frame is a sanctioned
    broadcast attach."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year(F.col("o_orderdate").cast("timestamp")).alias("yr"),
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("yr").isin(1995, 1996))
        # part is unfiltered catalog grain — no forced broadcast
        .join(part, li["l_partkey"] == part["p_partkey"])
    )
    per = joined.groupBy("p_brand").agg(
        F.sum(F.when(F.col("yr") == 1995, rev)).alias("r1"),
        F.sum(F.when(F.col("yr") == 1996, rev)).alias("r2"),
    )
    tot = per.agg(
        F.sum("r1").alias("t1"), F.sum("r2").alias("t2")
    )
    scored = per.crossJoin(F.broadcast(tot))
    s1 = F.try_divide(F.col("r1").cast("double"), F.col("t1").cast("double"))
    s2 = F.try_divide(F.col("r2").cast("double"), F.col("t2").cast("double"))
    shift_bps = (s2 - s1) * F.lit(10000.0)
    out = scored.select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("r1").cast("double").cast("decimal(38,8)"), 2)
        .cast("double")
        .alias("rev_1995"),
        F.round(F.col("r2").cast("double").cast("decimal(38,8)"), 2)
        .cast("double")
        .alias("rev_1996"),
        shift_bps.alias("__shift"),
    )
    return (
        out.orderBy(F.desc(F.abs(F.col("__shift"))), F.asc("brand"))
        .limit(_MOVERS_TOP)
        .select(
            "brand",
            "rev_1995",
            "rev_1996",
            F.round(F.col("__shift").cast("decimal(18,8)"), 2)
            .cast("double")
            .alias("share_shift_bps"),
        )
    )


_TOP_MOVERS_SQL = f"""
WITH tm_per AS (
  SELECT p_brand AS brand,
         sum(CASE WHEN year(o_orderdate) = 1995
                  THEN (l_extendedprice * (1.0 - l_discount))::DECIMAL(18,4) END) AS r1,
         sum(CASE WHEN year(o_orderdate) = 1996
                  THEN (l_extendedprice * (1.0 - l_discount))::DECIMAL(18,4) END) AS r2
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE year(o_orderdate) IN (1995, 1996)
  GROUP BY 1
),
tm_tot AS (SELECT sum(r1) AS t1, sum(r2) AS t2 FROM tm_per),
tm_s AS (
  SELECT brand,
         round((r1::DOUBLE)::DECIMAL(38,8), 2)::DOUBLE AS rev_1995,
         round((r2::DOUBLE)::DECIMAL(38,8), 2)::DOUBLE AS rev_1996,
         (r2::DOUBLE / t2::DOUBLE - r1::DOUBLE / t1::DOUBLE) * 10000.0 AS shift
  FROM tm_per CROSS JOIN tm_tot
)
SELECT brand, rev_1995, rev_1996,
       round(shift::DECIMAL(18,8), 2)::DOUBLE AS share_shift_bps
FROM tm_s ORDER BY abs(shift) DESC, brand LIMIT {_MOVERS_TOP}
"""


QUERIES["top_movers"] = q_top_movers
ORACLES["top_movers"] = _TOP_MOVERS_SQL


# ---------------------------------------------------------------------------
# revenue growth accounting (new / churned / retained bridge) — round 8
# ---------------------------------------------------------------------------


def q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-accounting revenue bridge, 1995 → 1996: ΔRevenue split
    into NEW customers (active only in 1996), CHURNED (only 1995,
    negative), and the retained cohort's EXPANSION vs CONTRACTION
    (per-customer delta, split by sign) — the SaaS-style "where did
    growth come from" ledger that growth_decomposition's price/volume
    view can't answer. The five components telescope EXACTLY to ΔR
    (asserted in the test): all sums are per-customer cents-exact
    DECIMAL; the sign split is row-local on the per-customer frame."""
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year(F.col("o_orderdate").cast("timestamp")).alias("yr"),
        F.round((F.col("o_totalprice") * 100).cast("decimal(18,8)"))
        .cast("long")
        .alias("cents"),
    ).filter(F.col("yr").isin(1995, 1996))
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("yr") == 1995, F.col("cents")).otherwise(0)).alias("r1"),
        F.sum(F.when(F.col("yr") == 1996, F.col("cents")).otherwise(0)).alias("r2"),
    )
    d = F.col("r2") - F.col("r1")
    bridge = per.agg(
        F.sum("r1").alias("rev_1995"),
        F.sum("r2").alias("rev_1996"),
        F.sum(F.when(F.col("r1") == 0, F.col("r2")).otherwise(0)).alias("new_rev"),
        F.sum(F.when(F.col("r2") == 0, -F.col("r1")).otherwise(0)).alias("churned_rev"),
        F.sum(
            F.when((F.col("r1") > 0) & (F.col("r2") > 0) & (d > 0), d).otherwise(0)
        ).alias("expansion_rev"),
        F.sum(
            F.when((F.col("r1") > 0) & (F.col("r2") > 0) & (d < 0), d).otherwise(0)
        ).alias("contraction_rev"),
        F.sum(F.when(F.col("r1") == 0, 1).otherwise(0)).cast("long").alias("n_new"),
        F.sum(F.when(F.col("r2") == 0, 1).otherwise(0)).cast("long").alias("n_churned"),
        F.sum(F.when((F.col("r1") > 0) & (F.col("r2") > 0), 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
    )
    cents2d = lambda c: F.round(  # noqa: E731
        # DECIMAL(38,8): a year of revenue is ~1e10 dollars at sf0.1
        # already — (18,8) overflows under ANSI (hit by abc at sf0.1)
        (F.col(c).cast("double") / F.lit(100.0)).cast("decimal(38,8)"), 2
    ).cast("double")
    return bridge.select(
        cents2d("rev_1995").alias("rev_1995"),
        cents2d("rev_1996").alias("rev_1996"),
        cents2d("new_rev").alias("new_rev"),
        cents2d("churned_rev").alias("churned_rev"),
        cents2d("expansion_rev").alias("expansion_rev"),
        cents2d("contraction_rev").alias("contraction_rev"),
        "n_new",
        "n_churned",
        "n_retained",
    )


_REVENUE_BRIDGE_SQL = """
WITH rb_o AS (
  SELECT o_custkey, year(o_orderdate) AS yr,
         round((o_totalprice * 100)::DECIMAL(18,8))::BIGINT AS cents
  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
),
rb_p AS (
  SELECT o_custkey,
         sum(CASE WHEN yr = 1995 THEN cents ELSE 0 END) AS r1,
         sum(CASE WHEN yr = 1996 THEN cents ELSE 0 END) AS r2
  FROM rb_o GROUP BY 1
),
rb_b AS (
  SELECT sum(r1) AS rev_1995, sum(r2) AS rev_1996,
         sum(CASE WHEN r1 = 0 THEN r2 ELSE 0 END) AS new_rev,
         sum(CASE WHEN r2 = 0 THEN -r1 ELSE 0 END) AS churned_rev,
         sum(CASE WHEN r1 > 0 AND r2 > 0 AND r2 - r1 > 0 THEN r2 - r1 ELSE 0 END) AS expansion_rev,
         sum(CASE WHEN r1 > 0 AND r2 > 0 AND r2 - r1 < 0 THEN r2 - r1 ELSE 0 END) AS contraction_rev,
         sum(CASE WHEN r1 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_new,
         sum(CASE WHEN r2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_churned,
         sum(CASE WHEN r1 > 0 AND r2 > 0 THEN 1 ELSE 0 END)::BIGINT AS n_retained
  FROM rb_p
)
SELECT round((rev_1995::DOUBLE / 100.0)::DECIMAL(38,8), 2)::DOUBLE AS rev_1995,
       round((rev_1996::DOUBLE / 100.0)::DECIMAL(38,8), 2)::DOUBLE AS rev_1996,
       round((new_rev::DOUBLE / 100.0)::DECIMAL(38,8), 2)::DOUBLE AS new_rev,
       round((churned_rev::DOUBLE / 100.0)::DECIMAL(38,8), 2)::DOUBLE AS churned_rev,
       round((expansion_rev::DOUBLE / 100.0)::DECIMAL(38,8), 2)::DOUBLE AS expansion_rev,
       round((contraction_rev::DOUBLE / 100.0)::DECIMAL(38,8), 2)::DOUBLE AS contraction_rev,
       n_new, n_churned, n_retained
FROM rb_b
"""


QUERIES["revenue_bridge"] = q_revenue_bridge
ORACLES["revenue_bridge"] = _REVENUE_BRIDGE_SQL


# ---------------------------------------------------------------------------
# ABC inventory classification — round 8
# ---------------------------------------------------------------------------


def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC classification of the part catalog by cumulative revenue
    share — A-parts up to 80% of revenue, B to 95%, C the tail — the
    Pareto screen inventory/assortment reviews start from (the
    part-grain sibling of value_deciles' order-value curve).

    Part-grain cumulative shares must never single-partition sort:
    the running total rides ``ranks.global_cumsum`` (range partition +
    broadcast prefix offsets — the entity-grain scale discipline) over
    cents-exact int64 revenue, ordered (revenue desc, part) for a
    total order. The class boundary compares exact integers
    (100·cum ≥ 80·total), so bucketing is engine-identical; the
    readout aggregates the |parts| frame down to three rows."""
    li = t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    per = (
        li.groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.round((F.sum(rev) * 100).cast("decimal(38,8)"))
            .cast("long")
            .alias("cents")
        )
    )
    cum = ranks.global_cumsum(
        per,
        [F.desc("cents"), F.asc("part")],
        "cents",
        cum_name="cum",
        total_name="tot",
    )
    cls = cum.select(
        "part",
        "cents",
        F.when(F.lit(100) * F.col("cum") <= F.lit(80) * F.col("tot"), "A")
        .when(F.lit(100) * F.col("cum") <= F.lit(95) * F.col("tot"), "B")
        .otherwise("C")
        .alias("abc"),
    )
    return (
        cls.groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.round(
                (F.sum("cents").cast("double") / F.lit(100.0)).cast(
                    "decimal(38,8)"
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("abc")
    )


_ABC_CLASSIFICATION_SQL = """
WITH abc_p AS (
  SELECT l_partkey AS part,
         round((sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(18,4))
                * 100)::DECIMAL(38,8))::BIGINT AS cents
  FROM lineitem GROUP BY 1
),
abc_c AS (
  SELECT part, cents,
         sum(cents) OVER (ORDER BY cents DESC, part
                          ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cents) OVER () AS tot
  FROM abc_p
),
abc_l AS (
  SELECT part, cents,
         CASE WHEN 100 * cum <= 80 * tot THEN 'A'
              WHEN 100 * cum <= 95 * tot THEN 'B'
              ELSE 'C' END AS abc
  FROM abc_c
)
SELECT abc, count(*)::BIGINT AS n_parts,
       round((sum(cents)::DOUBLE / 100.0)::DECIMAL(38,8), 2)::DOUBLE AS revenue
FROM abc_l GROUP BY 1 ORDER BY 1
"""


QUERIES["abc_classification"] = q_abc_classification
ORACLES["abc_classification"] = _ABC_CLASSIFICATION_SQL
