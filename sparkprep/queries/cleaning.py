"""Cleaning / validation / transform queries: dedup with audit,
validator+repair, null handling, normalization, casts, sampling-adjacent
ops (SURVEY.md §2.9-2.12, EP1/EP2).

Dirty data is SYNTHESIZED deterministically from the clean TPC-H columns
(the driver tables have no nulls/dups/format dirt), with the same
expressions on the DuckDB side, so the repair semantics are what's
actually under test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkprep.functions import numeric as npx
from sparkprep.functions import strings as sx
from sparkprep.operators import clean, transform
from sparkprep.queries import t


def q_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+A2/A4 — occurrence-id histogram (dedup.ipynb:2208). Counts are
    deterministic even where row identity inside a tie is not."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    audit = clean.dup_audit(li, keys=["l_partkey", "l_suppkey"], order_by="l_partkey")
    return audit.select(
        F.col("occur_id").cast("long").alias("occur_id"),
        F.col("count").cast("long").alias("count"),
    )


_DEDUP_AUDIT_SQL = """
WITH t AS (
  SELECT row_number() OVER (PARTITION BY l_partkey, l_suppkey ORDER BY l_partkey) AS occur_id
  FROM lineitem
)
SELECT occur_id::BIGINT AS occur_id, count(*) AS count
FROM t GROUP BY occur_id ORDER BY occur_id
"""


def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET4 — keep-first dedup via occur_id <= 1 (dedup.ipynb:8904),
    projected to the partition keys (≡ DISTINCT, deterministic)."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return clean.dedup_window(li, keys=["l_partkey", "l_suppkey"], order_by="l_partkey")


_WINDOW_DEDUP_SQL = "SELECT DISTINCT l_partkey, l_suppkey FROM lineitem"


def q_minmax_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 — min-max normalize via broadcast scalar join (vs. the
    reference's 4 collect()s + Python UDF, loanStat.py:241-287)."""
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    out = npx.minmax_normalize(cust, "c_acctbal", suffix="_norm")
    return out.select("c_custkey", F.round("c_acctbal_norm", 6).alias("acctbal_norm"))


_MINMAX_SQL = """
SELECT c_custkey,
       round((c_acctbal - (SELECT min(c_acctbal) FROM customer))
             / ((SELECT max(c_acctbal) FROM customer) - (SELECT min(c_acctbal) FROM customer)),
             6) AS acctbal_norm
FROM customer
"""


def q_validator_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7/F6 — declarative rule table → validity counts in ONE pass
    (dedup+invalid.ipynb:9322,9588). '4-NOT SPECIFIED' fails the
    priority rule, giving a real invalid bucket."""
    orders = t(spark, sf_dir, "orders")
    v = clean.Validator(
        [
            clean.Rule("o_orderpriority", r"^[0-9]-[A-Z]+$"),
            clean.Rule("o_orderstatus", r"^[OFP]$"),
        ]
    )
    return v.report_df(orders).orderBy("col_name")


_VALIDATOR_SQL = """
SELECT 'o_orderpriority' AS col_name,
       count(*) FILTER (WHERE regexp_matches(o_orderpriority, '^[0-9]-[A-Z]+$'))::BIGINT AS valid,
       count(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[0-9]-[A-Z]+$'))::BIGINT AS invalid
FROM orders
UNION ALL
SELECT 'o_orderstatus' AS col_name,
       count(*) FILTER (WHERE regexp_matches(o_orderstatus, '^[OFP]$'))::BIGINT AS valid,
       count(*) FILTER (WHERE NOT regexp_matches(o_orderstatus, '^[OFP]$'))::BIGINT AS invalid
FROM orders
ORDER BY col_name
"""


def q_repair_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X5 + X6 — synthesize LoanStats-style dirty strings
    ('12.7%' int_rate, 'dti-ish' mixed), then repair: strip trailing %
    → double (loanStat.py:218) and regexp_extract digit run
    (dedup+invalid.ipynb:9626). Dirty values built from integer columns
    so string formatting is engine-independent."""
    li = t(spark, sf_dir, "lineitem")
    dirty = li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat(
            F.col("l_linenumber").cast("string"),
            F.lit("."),
            (F.col("l_partkey") % 10).cast("string"),
            F.lit("%"),
        ).alias("rate_str"),
        F.concat(
            F.lit("x"), (F.col("l_suppkey") % 100).cast("string"), F.lit("y")
        ).alias("dti_str"),
    )
    repaired = dirty.select(
        "l_orderkey",
        "l_linenumber",
        sx.pct_to_double("rate_str").alias("rate"),
        F.regexp_extract("dti_str", r"(\d+)", 1).alias("dti_digits"),
    )
    return repaired


_REPAIR_PERCENT_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(regexp_replace(l_linenumber::VARCHAR || '.' || (l_partkey % 10)::VARCHAR || '%',
                           '%+$', '') AS DOUBLE) AS rate,
       regexp_extract('x' || (l_suppkey % 100)::VARCHAR || 'y', '(\\d+)', 1) AS dti_digits
FROM lineitem
"""


def q_repair_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — ' 36 months' → 36.0: remove literal, cast trims whitespace
    (loanStat.py:206,218)."""
    li = t(spark, sf_dir, "lineitem")
    dirty = li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat(
            F.lit(" "), (F.col("l_linenumber") * 12).cast("string"), F.lit(" months")
        ).alias("term_str"),
    )
    return dirty.select(
        "l_orderkey", "l_linenumber", sx.term_to_double("term_str").alias("term")
    )


_REPAIR_TERM_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(replace(' ' || (l_linenumber * 12)::VARCHAR || ' months', 'months', '') AS DOUBLE) AS term
FROM lineitem
"""


def q_month_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 — 'Apr-2001' → 'Apr' (split('-')[0], loanStat.py:193-200),
    over date-formatted order dates; frequency per token."""
    orders = t(spark, sf_dir, "orders")
    tokens = orders.select(
        sx.month_token(F.date_format("o_orderdate", "MMM-yyyy")).alias("month_token")
    )
    return (
        tokens.groupBy("month_token")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("month_token")
    )


_MONTH_TOKEN_SQL = """
SELECT split_part(strftime(o_orderdate, '%b-%Y'), '-', 1) AS month_token, count(*) AS count
FROM orders GROUP BY 1 ORDER BY 1
"""


def q_isin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+SET1 rewritten as isin — ONE scan with a pushed predicate
    instead of the reference's union of two filters (SURVEY §4)."""
    orders = t(spark, sf_dir, "orders")
    return (
        transform.filter_in(orders, "o_orderstatus", ["O", "F"])
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("o_orderstatus")
    )


_ISIN_SQL = """
SELECT o_orderstatus, count(*) AS count FROM orders
WHERE o_orderstatus IN ('O', 'F') GROUP BY 1 ORDER BY 1
"""


def q_impute_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5 — mean imputation: nulls synthesized (quantity < 5 → null),
    fill scalar computed in one agg job, applied via coalesce
    (bde4.ipynb#cell39,43)."""
    li = t(spark, sf_dir, "lineitem")
    with_nulls = li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_quantity") < 5, F.lit(None))
        .otherwise(F.col("l_extendedprice"))
        .alias("val"),
    )
    imputed = clean.impute(with_nulls, "val", strategy="mean")
    return imputed.select(
        "l_orderkey", "l_linenumber", F.round("val", 2).alias("val_imputed")
    )


_IMPUTE_SQL = """
WITH t AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_quantity < 5 THEN NULL ELSE l_extendedprice END AS val
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       round(coalesce(val, (SELECT avg(val) FROM t)), 2) AS val_imputed
FROM t
"""


def q_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 — manual binning as a native CASE (Bucketizer semantics:
    splits=[lo, ...); last bucket closed; mlpc.py:434-435)."""
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    splits = [float("-inf"), 0.0, 2000.0, 4000.0, 6000.0, 8000.0, float("inf")]
    return transform.bucketize(cust, "c_acctbal", splits, out_col="acctbal_bucket").select(
        "c_custkey", "acctbal_bucket"
    )


_BUCKETIZE_SQL = """
SELECT c_custkey,
       CASE WHEN c_acctbal >= 8000 THEN 5
            WHEN c_acctbal >= 6000 THEN 4
            WHEN c_acctbal >= 4000 THEN 3
            WHEN c_acctbal >= 2000 THEN 2
            WHEN c_acctbal >= 0    THEN 1
            ELSE 0 END::BIGINT AS acctbal_bucket
FROM customer
"""


def q_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11/S3 — the Apache log parser, fully native (vs. nasa.py's
    Python-re RDD pipeline). Log lines synthesized from events so both
    engines parse identical text."""
    from sparkprep.functions.logs import parse_apache_log

    ev = t(spark, sf_dir, "events")
    lines = ev.select(
        F.concat(
            F.lit("10.0.0."),
            (F.col("user_id") % 256).cast("string"),
            F.lit(" - - ["),
            F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss"),
            F.lit(" -0400]"),
        ).alias("value")
    )
    parsed = parse_apache_log(lines)
    return parsed.select(
        "ip_addr", "month", "year",
        F.col("hour").cast("long").alias("hour"),
        F.col("minute").cast("long").alias("minute"),
        F.col("second").cast("long").alias("second"),
        "datetime_stamp",
    )


_LOG_PARSE_SQL = r"""
WITH lines AS (
  SELECT '10.0.0.' || (user_id % 256)::VARCHAR || ' - - [' ||
         strftime(ts, '%d/%b/%Y:%H:%M:%S') || ' -0400]' AS value
  FROM events
), parsed AS (
  SELECT regexp_extract(value, '(\S*) - - \[(\d{2})/(\S*)/(\d{4}):(\d{2}):(\d{2}):(\d{2}) (\S*)\]', 1) AS ip_addr,
         regexp_extract(value, '(\S*) - - \[(\d{2})/(\S*)/(\d{4}):(\d{2}):(\d{2}):(\d{2}) (\S*)\]', 2) AS day_of_month,
         regexp_extract(value, '(\S*) - - \[(\d{2})/(\S*)/(\d{4}):(\d{2}):(\d{2}):(\d{2}) (\S*)\]', 3) AS month,
         regexp_extract(value, '(\S*) - - \[(\d{2})/(\S*)/(\d{4}):(\d{2}):(\d{2}):(\d{2}) (\S*)\]', 4) AS year,
         regexp_extract(value, '(\S*) - - \[(\d{2})/(\S*)/(\d{4}):(\d{2}):(\d{2}):(\d{2}) (\S*)\]', 5) AS hour,
         regexp_extract(value, '(\S*) - - \[(\d{2})/(\S*)/(\d{4}):(\d{2}):(\d{2}):(\d{2}) (\S*)\]', 6) AS minute,
         regexp_extract(value, '(\S*) - - \[(\d{2})/(\S*)/(\d{4}):(\d{2}):(\d{2}):(\d{2}) (\S*)\]', 7) AS second
  FROM lines
)
SELECT ip_addr, month, year,
       hour::BIGINT AS hour, minute::BIGINT AS minute, second::BIGINT AS second,
       strptime(year || '-' || month || '-' || day_of_month || ' ' || hour || ':' || minute || ':' || second,
                '%Y-%b-%d %H:%M:%S') AS datetime_stamp
FROM parsed
"""


def q_ep1_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL production prep chain (EP1, loanStat.py:
    select → dropna → UDF-repairs → casts → min-max normalize → status
    filter) as ONE oracle-checked query over LoanStats-shaped dirty
    strings synthesized from lineitem. This is the direct BASELINE.md
    comparison point: the reference spent ~100s on 1.43M rows with
    Python row UDFs; this plan is pure Catalyst expressions."""
    li = t(spark, sf_dir, "lineitem")
    raw = li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat((F.col("l_partkey") % 40000).cast("string")).alias("loan_amnt"),
        F.concat(F.lit(" "), ((F.col("l_linenumber") % 2 + 1) * 36).cast("string"), F.lit(" months")).alias("term"),
        F.concat((F.col("l_suppkey") % 20).cast("string"), F.lit("."),
                 (F.col("l_partkey") % 100).cast("string"), F.lit("%")).alias("int_rate"),
        # floor, not a double->int cast: DuckDB's ::INT rounds while
        # Spark's cast truncates — floor is identical in both
        F.when(F.col("l_quantity") < 3, F.lit(None)).otherwise(
            F.floor("l_extendedprice").cast("string")
        ).alias("annual_inc"),
        F.when(F.col("l_returnflag") == "A", "Fully Paid")
        .when(F.col("l_returnflag") == "R", "Charged Off")
        .otherwise("Current").alias("loan_status"),
        F.concat(F.date_format("l_shipdate", "MMM-yyyy")).alias("earliest_cr_line"),
    )
    from sparkprep.functions import numeric as npx

    prepped = (
        raw.na.drop(how="any")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("loan_amnt").cast("double").alias("loan_amnt"),
            sx.term_to_double("term").alias("term"),
            sx.pct_to_double("int_rate").alias("int_rate"),
            F.col("annual_inc").cast("double").alias("annual_inc"),
            "loan_status",
            sx.month_token("earliest_cr_line").alias("cr_month"),
        )
    )
    # NOTE (r10): minmax_normalize's crossJoin(broadcast(agg))
    # does re-execute the synth+parse subtree for the min/max side, but an
    # interleaved A/B measured a lazy checkpoint of `prepped` as a WASH at
    # sf0.1 (2.55s vs 2.51s min) — the double execution is a codegen'd
    # projection; a checkpoint trades it for a full write+read of the
    # prepped table, which only gets worse at 100 TB. Deliberately left.
    normalized = npx.minmax_normalize(prepped, "annual_inc", suffix="_norm")
    out = transform.filter_in(normalized, "loan_status", ["Fully Paid", "Charged Off"])
    return out.select(
        "l_orderkey", "l_linenumber", "loan_amnt", "term", "int_rate",
        F.round("annual_inc_norm", 6).alias("annual_inc_norm"),
        "loan_status", "cr_month",
    )


_EP1_PREP_SQL = """
WITH raw AS (
  SELECT l_orderkey, l_linenumber,
         (l_partkey % 40000)::VARCHAR AS loan_amnt,
         ' ' || ((l_linenumber % 2 + 1) * 36)::VARCHAR || ' months' AS term,
         (l_suppkey % 20)::VARCHAR || '.' || (l_partkey % 100)::VARCHAR || '%' AS int_rate,
         CASE WHEN l_quantity < 3 THEN NULL ELSE floor(l_extendedprice)::BIGINT::VARCHAR END AS annual_inc,
         CASE WHEN l_returnflag = 'A' THEN 'Fully Paid'
              WHEN l_returnflag = 'R' THEN 'Charged Off'
              ELSE 'Current' END AS loan_status,
         strftime(l_shipdate, '%b-%Y') AS earliest_cr_line
  FROM lineitem
), dropped AS (
  SELECT * FROM raw
  WHERE loan_amnt IS NOT NULL AND term IS NOT NULL AND int_rate IS NOT NULL
    AND annual_inc IS NOT NULL AND loan_status IS NOT NULL AND earliest_cr_line IS NOT NULL
), prepped AS (
  SELECT l_orderkey, l_linenumber,
         loan_amnt::DOUBLE AS loan_amnt,
         CAST(replace(term, 'months', '') AS DOUBLE) AS term,
         CAST(regexp_replace(int_rate, '%+$', '') AS DOUBLE) AS int_rate,
         annual_inc::DOUBLE AS annual_inc,
         loan_status,
         split_part(earliest_cr_line, '-', 1) AS cr_month
  FROM dropped
)
SELECT l_orderkey, l_linenumber, loan_amnt, term, int_rate,
       round((annual_inc - (SELECT min(annual_inc) FROM prepped))
             / ((SELECT max(annual_inc) FROM prepped) - (SELECT min(annual_inc) FROM prepped)), 6)
         AS annual_inc_norm,
       loan_status, cr_month
FROM prepped
WHERE loan_status IN ('Fully Paid', 'Charged Off')
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which corpus documents share an
    8-token shingle with the 'benchmark set' (doc_id < 20 stands in) —
    the n-gram-overlap check every LLM training pipeline runs before
    training. Shingle equi-join, never doc x doc."""
    from sparkprep.operators import dedup as dd

    docs = t(spark, sf_dir, "documents")
    corpus_sh = dd.explode_shingles(docs.filter(F.col("doc_id") >= 20), "text", "doc_id", k=8)
    bench_sh = dd.explode_shingles(
        docs.filter(F.col("doc_id") < 20).select(
            F.col("doc_id").alias("bench_id"), "text"
        ),
        "text", "bench_id", k=8,
    )
    hits = corpus_sh.join(bench_sh, "shingle").select("doc_id", "bench_id").dropDuplicates()
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_benchmarks_hit"))
        .orderBy("doc_id")
    )


_CONTAMINATION_SQL = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id,
              t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
              t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS s
       FROM tk, UNNEST(range(1, len(t) - 6)) AS u(i)),
hits AS (SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
         FROM sh c JOIN sh b ON c.s = b.s
         WHERE c.doc_id >= 20 AND b.doc_id < 20)
SELECT doc_id, count(*) AS n_benchmarks_hit
FROM hits GROUP BY doc_id ORDER BY doc_id
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SA1 extension — per-stratum sampling fractions (``sampleBy``),
    seeded. Rows-only (Spark's stratified sampler RNG has no SQL
    equivalent); determinism is pinned in unit tests."""
    orders = t(spark, sf_dir, "orders")
    sampled = orders.sampleBy(
        "o_orderstatus", fractions={"O": 0.1, "F": 0.5, "P": 1.0}, seed=42
    )
    return (
        sampled.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("o_orderstatus")
    )


def q_union_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET1 — union keeps bag semantics (both copies of overlapping
    rows), the property the reference's union-of-filters relied on
    (loanStat.py:301). Overlap engineered: statuses ('O','F') ∪ ('F','P')
    double-counts 'F'."""
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    a = orders.filter(F.col("o_orderstatus").isin("O", "F"))
    b = orders.filter(F.col("o_orderstatus").isin("F", "P"))
    return (
        a.union(b)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("o_orderstatus")
    )


_UNION_BAG_SQL = """
WITH u AS (
  SELECT o_orderstatus FROM orders WHERE o_orderstatus IN ('O', 'F')
  UNION ALL
  SELECT o_orderstatus FROM orders WHERE o_orderstatus IN ('F', 'P')
)
SELECT o_orderstatus, count(*) AS count FROM u GROUP BY 1 ORDER BY 1
"""


def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SA1+SET1 — seeded majority-class downsampling (mlpc.py:344-356:
    ``filter(FP).sample(True, 0.3, 42).union(filter(CO))``).

    No oracle: Spark's Bernoulli/Poisson sampler RNG has no DuckDB
    equivalent — the driver records rows-only; determinism (same seed →
    same rows) is pinned by the unit tests instead.
    """
    orders = t(spark, sf_dir, "orders")
    balanced = transform.downsample_class(
        orders, "o_orderstatus", "O", fraction=0.3, seed=42
    )
    return (
        balanced.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("o_orderstatus")
    )


def _dirty_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically planted nulls over customer (the TPC-H tables
    are clean; null-handling semantics need actual nulls): phone nulled
    every 7th key, acctbal every 11th, segment every 13th — so
    'all-null' rows exist exactly at multiples of 1001."""
    cust = t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 != 0, F.col("c_name")).alias("phone"),
        F.when(F.col("c_custkey") % 11 != 0, F.col("c_acctbal")).alias("acctbal"),
        F.when(F.col("c_custkey") % 13 != 0, F.col("c_mktsegment")).alias("segment"),
    )


_DIRTY_CUST_CTE = """
dirty AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 != 0 THEN c_name END AS phone,
         CASE WHEN c_custkey % 11 != 0 THEN c_acctbal END AS acctbal,
         CASE WHEN c_custkey % 13 != 0 THEN c_mktsegment END AS segment
  FROM customer
)
"""


def q_dropna_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 — ``dropna(how='all', subset)``: a row survives if ANY of the
    subset columns is present (nulls.ipynb#cell7)."""
    dirty = _dirty_customers(spark, sf_dir)
    return clean.drop_nulls(dirty, how="all", subset=["phone", "acctbal", "segment"])


_DROPNA_ALL_SQL = f"""
WITH {_DIRTY_CUST_CTE}
SELECT * FROM dirty
WHERE NOT (phone IS NULL AND acctbal IS NULL AND segment IS NULL)
"""


def q_dropna_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 — ``dropna(how='any', subset=[phone, acctbal])``: segment may
    stay null, the subset columns may not (nulls.ipynb#cell8)."""
    dirty = _dirty_customers(spark, sf_dir)
    return clean.drop_nulls(dirty, how="any", subset=["phone", "acctbal"])


_DROPNA_SUBSET_SQL = f"""
WITH {_DIRTY_CUST_CTE}
SELECT * FROM dirty
WHERE phone IS NOT NULL AND acctbal IS NOT NULL
"""


def q_fillna_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 — dict-form fillna incl. the Spark-4 coercion change: the
    numeric-STRING fill value '123.5' is cast and applied to the double
    column (on Spark 3.1 it was silently ignored — nulls.ipynb#cell12
    relied on that; the oracle pins current semantics)."""
    dirty = _dirty_customers(spark, sf_dir)
    filled = clean.fill_nulls(
        clean.fill_nulls(dirty, {"phone": "N/A", "segment": "UNKNOWN"}),
        {"acctbal": "123.5"},
    )
    return filled


_FILLNA_DICT_SQL = f"""
WITH {_DIRTY_CUST_CTE}
SELECT c_custkey,
       coalesce(phone, 'N/A') AS phone,
       coalesce(acctbal, 123.5) AS acctbal,
       coalesce(segment, 'UNKNOWN') AS segment
FROM dirty
"""


def q_replace_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 — null-safe ``replace('%','')`` on mid-string percents (the
    reference's py_replaceNull UDF, bde4.ipynb#cell18-20): nulls pass
    through, every '%' goes, not just trailing runs."""
    cust = t(spark, sf_dir, "customer")
    staged = cust.select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 11 != 0,
            F.concat(
                (F.col("c_custkey") % 100).cast("string"),
                F.lit("%"),
                F.col("c_mktsegment"),
                F.lit("%"),
            ),
        ).alias("raw"),
    )
    return staged.select(
        "c_custkey", sx.remove_all_percent("raw").alias("cleaned")
    )


_REPLACE_NULLSAFE_SQL = """
WITH staged AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 11 != 0
              THEN (c_custkey % 100)::VARCHAR || '%' || c_mktsegment || '%'
         END AS raw
  FROM customer
)
SELECT c_custkey, regexp_replace(raw, '%', '', 'g') AS cleaned
FROM staged
"""


def q_label_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 — prediction-label decode incl. the reference's null quirk:
    any non-1.0 value (null included) decodes to the zero label
    (mlpc.py:504)."""
    cust = t(spark, sf_dir, "customer")
    staged = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.lit(1.0))
        .when(F.col("c_custkey") % 3 == 1, F.lit(0.0))
        .otherwise(F.lit(None).cast("double"))
        .alias("prediction"),
    )
    return staged.select(
        "c_custkey", sx.label_decode("prediction").alias("label")
    )


_LABEL_DECODE_SQL = """
WITH staged AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 3 = 0 THEN 1.0
              WHEN c_custkey % 3 = 1 THEN 0.0
         END AS prediction
  FROM customer
)
SELECT c_custkey,
       CASE WHEN prediction = 1.0 THEN 'Charged Off' ELSE 'Fully Paid' END AS label
FROM staged
"""


def q_expect_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative constraint suite over lineitem — all
    metrics in ONE aggregate pass (operators/expect.py). Includes two
    deliberately failing checks (tight discount range, high uniqueness
    floor) so the ``passed=false`` path is under oracle too.
    ``uniqueness(exact=True)`` is oracle-grade; the approx default is
    the 100 TB path (see module docstring on the Expand trap)."""
    from sparkprep.operators import expect as ex

    li = t(spark, sf_dir, "lineitem")
    suite = ex.Suite(
        checks=[
            ex.completeness("l_quantity", 1.0),
            ex.in_range("l_quantity", 1, 50),
            ex.in_range("l_discount", 0.0, 0.05, min_ratio=0.9),  # fails
            ex.in_set("l_returnflag", ["A", "N", "R"]),
            ex.matches("l_linestatus", "^[OF]$"),
            ex.non_negative("l_extendedprice"),
            ex.mean_between("l_quantity", 20.0, 30.0),
            ex.size_between(1000),
            ex.uniqueness("l_orderkey", 0.9, exact=True),  # fails (~0.25)
        ]
    )
    rep = suite.report_df(li)
    return rep.select(
        F.col("check").alias("check_name"), "metric", "passed"
    ).orderBy("check_name")


_EXPECT_SUITE_SQL = """
WITH m AS (
  SELECT
    round(count(l_quantity)*1.0/count(*), 6)                                   AS completeness_qty,
    round(count(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 END)*1.0
          / greatest(count(l_quantity), 1), 6)                                 AS range_qty,
    round(count(CASE WHEN l_discount BETWEEN 0.0 AND 0.05 THEN 1 END)*1.0
          / greatest(count(l_discount), 1), 6)                                 AS range_disc,
    round(count(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 END)*1.0
          / greatest(count(l_returnflag), 1), 6)                               AS set_flag,
    round(count(CASE WHEN regexp_matches(l_linestatus, '^[OF]$') THEN 1 END)*1.0
          / greatest(count(l_linestatus), 1), 6)                               AS match_status,
    round(count(CASE WHEN l_extendedprice < 0 THEN 1 END)*1.0, 6)              AS neg_price,
    round(avg(l_quantity), 6)                                                  AS mean_qty,
    round(count(*)*1.0, 6)                                                     AS size_rows,
    round(count(DISTINCT l_orderkey)*1.0 / greatest(count(l_orderkey), 1), 6)  AS uniq_orderkey
  FROM lineitem
)
SELECT * FROM (
  SELECT 'completeness(l_quantity)' AS check_name, completeness_qty AS metric, completeness_qty >= 1.0 AS passed FROM m
  UNION ALL SELECT 'in_range(l_quantity)', range_qty, range_qty >= 1.0 FROM m
  UNION ALL SELECT 'in_range(l_discount)', range_disc, range_disc >= 0.9 FROM m
  UNION ALL SELECT 'in_set(l_returnflag)', set_flag, set_flag >= 1.0 FROM m
  UNION ALL SELECT 'matches(l_linestatus)', match_status, match_status >= 1.0 FROM m
  UNION ALL SELECT 'non_negative(l_extendedprice)', neg_price, neg_price <= 0.0 FROM m
  UNION ALL SELECT 'mean(l_quantity)', mean_qty, mean_qty BETWEEN 20.0 AND 30.0 FROM m
  UNION ALL SELECT 'size', size_rows, size_rows >= 1000.0 FROM m
  UNION ALL SELECT 'uniqueness(l_orderkey)', uniq_orderkey, uniq_orderkey >= 0.9 FROM m
) ORDER BY check_name
"""


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI distribution drift of ``events.value`` between two user
    cohorts (user_id parity — a deterministic stand-in for
    training-snapshot vs fresh-data). Fixed bin edges, per-bin detail
    rows; both cohorts bin in ONE scan of the table
    (expect.psi_bins_cohorts — one groupBy(cohort, bin), conditional
    sums over the 2xK-row aggregate), not a pass per side."""
    from sparkprep.operators import expect as ex

    ev = t(spark, sf_dir, "events")
    bins = ex.psi_bins_cohorts(
        ev, F.col("user_id") % 2 == 1, "value",
        [0.0, 10.0, 25.0, 50.0, 80.0, 350.0],
    )
    return bins.orderBy("bin_id")


_PSI_DRIFT_SQL = """
WITH src AS (
  SELECT user_id % 2 AS grp,
         CASE WHEN value >= 80 THEN 4
              WHEN value >= 50 THEN 3
              WHEN value >= 25 THEN 2
              WHEN value >= 10 THEN 1
              ELSE 0 END AS bin_id
  FROM events WHERE value IS NOT NULL
),
b AS (
  SELECT bin_id, count(*)*1.0 / (SELECT count(*) FROM src WHERE grp = 0) AS sb
  FROM src WHERE grp = 0 GROUP BY bin_id
),
a AS (
  SELECT bin_id, count(*)*1.0 / (SELECT count(*) FROM src WHERE grp = 1) AS sa
  FROM src WHERE grp = 1 GROUP BY bin_id
),
g AS (SELECT unnest(range(5)) AS bin_id)
SELECT g.bin_id::BIGINT AS bin_id,
       round(coalesce(b.sb, 0), 6) AS share_before,
       round(coalesce(a.sa, 0), 6) AS share_after,
       round((greatest(coalesce(a.sa, 0), 1e-6) - greatest(coalesce(b.sb, 0), 1e-6))
             * ln(greatest(coalesce(a.sa, 0), 1e-6) / greatest(coalesce(b.sb, 0), 1e-6)), 4) AS psi_term
FROM g LEFT JOIN b ON g.bin_id = b.bin_id LEFT JOIN a ON g.bin_id = a.bin_id
ORDER BY bin_id
"""


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of nation by account balance — the
    shrinkage feature-prep op (features.target_encode): decimal-exact
    per-category sums, prior from windows over the aggregated frame,
    null-safe broadcast join-back."""
    from sparkprep.operators import features

    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "c_acctbal",
    )
    out = features.target_encode(
        cust, "c_nationkey", "c_acctbal", smoothing=20.0
    )
    return out.select("c_custkey", "c_nationkey", "c_nationkey_enc").orderBy(
        "c_custkey"
    )


_TARGET_ENCODE_SQL = """
WITH s AS (
  SELECT c_nationkey::BIGINT AS c_nationkey,
         sum(CAST(c_acctbal AS DECIMAL(18,4))) AS s, count(c_acctbal) AS n
  FROM customer GROUP BY 1
),
enc AS (
  SELECT c_nationkey,
         round((s::DOUBLE + 20.0 * (sum(s) OVER ()::DOUBLE / sum(n) OVER ()::DOUBLE))
               / (n::DOUBLE + 20.0), 6) AS c_nationkey_enc
  FROM s
)
SELECT c.c_custkey, c.c_nationkey::BIGINT AS c_nationkey, e.c_nationkey_enc
FROM customer c JOIN enc e ON c.c_nationkey = e.c_nationkey
ORDER BY c.c_custkey
"""


def q_collapse_rare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-tail category collapse (transform.collapse_rare) on part
    brands: levels under 70 observations fold into OTHER before any
    encoding would fan them into near-empty features."""
    parts = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    out = transform.collapse_rare(parts, "p_brand", min_count=70)
    return out.select("p_partkey", "p_brand", "p_brand_collapsed").orderBy(
        "p_partkey"
    )


_COLLAPSE_RARE_SQL = """
WITH c AS (SELECT p_brand, count(*) AS n FROM part GROUP BY 1)
SELECT p.p_partkey, p.p_brand,
       CASE WHEN p.p_brand IS NULL THEN NULL
            WHEN c.n >= 70 THEN p.p_brand
            ELSE 'OTHER' END AS p_brand_collapsed
FROM part p JOIN c ON p.p_brand = c.p_brand
ORDER BY p.p_partkey
"""



_PANEL_SPECS = {
    "l_quantity": [1.0, 10.0, 20.0, 30.0, 40.0, 51.0],
    "l_extendedprice": [900.0, 10000.0, 25000.0, 45000.0, 70000.0, 110000.0],
    "l_discount": [0.0, 0.02, 0.04, 0.06, 0.08, 0.11],
}
_PANEL_CUTOFF = "1995-07-01"


def q_drift_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-feature PSI drift panel: three lineitem features scored
    between the pre/post-1995-07 shipment cohorts in ONE report — two
    scans total (one per side), not one per feature (expect.psi_multi
    explode-over-struct binning)."""
    from sparkprep.operators import expect as ex

    li = t(spark, sf_dir, "lineitem")
    cutoff = F.lit(_PANEL_CUTOFF).cast("timestamp")
    before = li.filter(F.col("l_shipdate") < cutoff)
    after = li.filter(F.col("l_shipdate") >= cutoff)
    return ex.psi_multi(before, after, _PANEL_SPECS).orderBy("feature")


def _panel_case(colname: str, edges: list) -> str:
    whens = " ".join(
        f"WHEN {colname} >= {edges[i]} THEN {i}"
        for i in range(len(edges) - 2, 0, -1)
    )
    return f"CASE {whens} ELSE 0 END"


def _drift_panel_sql() -> str:
    blocks = []
    for c, edges in _PANEL_SPECS.items():
        nb = len(edges) - 1
        case = _panel_case(c, edges)
        blocks.append(f"""
SELECT '{c}' AS feature,
       round(CAST(sum(term) AS DOUBLE), 6) AS psi,
       count(*)::BIGINT AS n_bins
FROM (
  SELECT CAST(round((greatest(coalesce(a.sa, 0), 1e-6) - greatest(coalesce(b.sb, 0), 1e-6))
         * ln(greatest(coalesce(a.sa, 0), 1e-6) / greatest(coalesce(b.sb, 0), 1e-6)), 4)
         AS DECIMAL(18,4)) AS term
  FROM (SELECT unnest(range({nb})) AS bin_id) g
  LEFT JOIN (
    SELECT {case} AS bin_id, count(*)*1.0 / (SELECT count(*) FROM bef WHERE {c} IS NOT NULL) AS sb
    FROM bef WHERE {c} IS NOT NULL GROUP BY 1
  ) b ON g.bin_id = b.bin_id
  LEFT JOIN (
    SELECT {case} AS bin_id, count(*)*1.0 / (SELECT count(*) FROM aft WHERE {c} IS NOT NULL) AS sa
    FROM aft WHERE {c} IS NOT NULL GROUP BY 1
  ) a ON g.bin_id = a.bin_id
)""")
        u = " UNION ALL ".join(blocks)
    return f"""
WITH bef AS (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '{_PANEL_CUTOFF}'),
aft AS (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '{_PANEL_CUTOFF}')
{u}
ORDER BY feature
"""



def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick encoding of two customer categoricals into 64
    signed buckets — vocabulary-free one-hot for unbounded category
    spaces, md5-reproducible outside Spark (features.hashing_trick)."""
    from sparkprep.operators import features

    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
    )
    return features.hashing_trick(
        cust, "c_custkey", ["c_mktsegment", "c_nationkey"], n_buckets=64
    ).orderBy("c_custkey", "feature")


def _feature_hash_block(colname: str) -> str:
    b = f"('0x' || substr(md5('b:{colname}=' || {colname}::VARCHAR), 1, 15))::BIGINT % 64"
    s = f"('0x' || substr(md5('s:{colname}=' || {colname}::VARCHAR), 1, 15))::BIGINT % 2"
    return f"""
SELECT c_custkey, '{colname}' AS feature,
       ({b})::BIGINT AS bucket, (2 * ({s}) - 1)::INT AS sign
FROM cust WHERE {colname} IS NOT NULL"""


_FEATURE_HASH_SQL = f"""
WITH cust AS (
  SELECT c_custkey, c_mktsegment, c_nationkey::BIGINT AS c_nationkey
  FROM customer
)
{_feature_hash_block("c_mktsegment")}
UNION ALL
{_feature_hash_block("c_nationkey")}
ORDER BY c_custkey, feature
"""



def q_impute_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-nation MODE imputation of a planted-NULL
    market segment (count desc, value asc tiebreak — never the
    engine's layout-dependent mode() pick)."""
    from sparkprep.operators import clean

    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        F.when(F.col("c_custkey") % 37 == 0, F.lit(None)).otherwise(
            F.col("c_mktsegment")
        ).alias("seg"),
    )
    out = clean.impute_mode(cust, "seg", group_cols=["c_nationkey"])
    return out.select("c_custkey", "c_nationkey", "seg").orderBy("c_custkey")


_IMPUTE_MODE_SQL = """
WITH base AS (
  SELECT c_custkey, c_nationkey::BIGINT AS c_nationkey,
         CASE WHEN c_custkey % 37 = 0 THEN NULL ELSE c_mktsegment END AS seg
  FROM customer
),
counts AS (
  SELECT c_nationkey, seg, count(*) AS n FROM base
  WHERE seg IS NOT NULL GROUP BY 1, 2
),
modes AS (
  SELECT c_nationkey, seg AS mode_seg FROM (
    SELECT *, row_number() OVER (
      PARTITION BY c_nationkey ORDER BY n DESC, seg ASC) AS rn
    FROM counts
  ) WHERE rn = 1
)
SELECT b.c_custkey, b.c_nationkey, coalesce(b.seg, m.mode_seg) AS seg
FROM base b LEFT JOIN modes m ON b.c_nationkey = m.c_nationkey
ORDER BY b.c_custkey
"""


def q_null_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-data pattern census over deterministically nullified
    lineitem columns (testdata ships null-free, as the drift canary
    pins): quantity nulls above 45, discount nulls at 0, tax nulls
    above 0.07 — three correlated rules whose CO-OCCURRENCE pattern
    the per-column null_census marginals cannot show
    (``profile.null_pattern_census``: one groupBy on the per-row
    '0'/'1' bitmask, share window over the ≤2³-row pattern frame)."""
    li = t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_quantity") > 45, None)
        .otherwise(F.col("l_quantity"))
        .alias("qty"),
        F.when(F.col("l_discount") == 0, None)
        .otherwise(F.col("l_discount"))
        .alias("disc"),
        F.when(F.col("l_tax") > 0.07, None)
        .otherwise(F.col("l_tax"))
        .alias("tax"),
    )
    from sparkprep.operators import profile

    return profile.null_pattern_census(li, ["qty", "disc", "tax"])


_NULL_PATTERNS_SQL = """
WITH staged AS (
  SELECT CASE WHEN l_quantity > 45 THEN NULL ELSE l_quantity END AS qty,
         CASE WHEN l_discount = 0 THEN NULL ELSE l_discount END AS disc,
         CASE WHEN l_tax > 0.07 THEN NULL ELSE l_tax END AS tax
  FROM lineitem
),
pat AS (
  SELECT (CASE WHEN qty IS NULL THEN '1' ELSE '0' END)
         || (CASE WHEN disc IS NULL THEN '1' ELSE '0' END)
         || (CASE WHEN tax IS NULL THEN '1' ELSE '0' END) AS pattern,
         count(*) AS n_rows
  FROM staged GROUP BY 1
)
SELECT pattern, n_rows::BIGINT AS n_rows,
       round(n_rows::DOUBLE / (sum(n_rows) OVER ())::DOUBLE, 6) AS share
FROM pat
"""


def q_fd_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote FD repair audit: the denormalized lineitem⋈part
    brand column is deterministically corrupted on every 23rd line
    ((orderkey + linenumber) % 23 = 0 → 'Brand#99'), then repaired by
    per-part modal vote (``clean.fd_repair`` — what fd_audit detects,
    this fixes). One summary row: rows, corruptions planted, rows the
    vote fixed, and RESIDUALS where corruption outvoted the truth
    (majority repair is honest about losing sparse keys — at sf0.01
    some parts have one line). All counts exact int64."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    part = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    denorm = li.join(part, "l_partkey").select(
        "l_partkey",
        "p_brand",
        F.when(
            (F.col("l_orderkey") + F.col("l_linenumber")) % 23 == 0,
            F.lit("Brand#99"),
        )
        .otherwise(F.col("p_brand"))
        .alias("corrupted"),
    )
    from sparkprep.operators import clean as cl

    repaired = cl.fd_repair(denorm, "l_partkey", "corrupted")
    return repaired.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.when(F.col("corrupted") != F.col("p_brand"), 1).otherwise(0)
        ).cast("long").alias("n_corrupted"),
        F.sum(
            F.when(
                (F.col("corrupted") != F.col("p_brand"))
                & (F.col("repaired") == F.col("p_brand")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_fixed"),
        F.sum(
            F.when(F.col("repaired") != F.col("p_brand"), 1).otherwise(0)
        ).cast("long").alias("n_residual"),
    )


_FD_REPAIR_SQL = """
WITH denorm AS (
  SELECT l_partkey, p_brand,
         CASE WHEN (l_orderkey + l_linenumber) % 23 = 0
              THEN 'Brand#99' ELSE p_brand END AS corrupted
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
counts AS (
  SELECT l_partkey, corrupted AS v, count(*) AS c
  FROM denorm GROUP BY 1, 2
),
modal AS (
  SELECT l_partkey, v AS repaired FROM (
    SELECT l_partkey, v,
           row_number() OVER (PARTITION BY l_partkey
                              ORDER BY c DESC, v) AS rn
    FROM counts
  ) WHERE rn = 1
)
SELECT count(*)::BIGINT AS n_rows,
       sum(CASE WHEN corrupted <> p_brand THEN 1 ELSE 0 END)::BIGINT
         AS n_corrupted,
       sum(CASE WHEN corrupted <> p_brand AND repaired = p_brand
                THEN 1 ELSE 0 END)::BIGINT AS n_fixed,
       sum(CASE WHEN repaired <> p_brand THEN 1 ELSE 0 END)::BIGINT
         AS n_residual
FROM denorm JOIN modal USING (l_partkey)
"""


QUERIES = {
    "null_patterns": q_null_patterns,
    "fd_repair": q_fd_repair,
    # round-2 additions first: driver verdicts cover the first 50
    # registry entries per round; the rows below already have green
    # round-1 verdicts and can fall past the cutoff
    "dropna_all": q_dropna_all,
    "dropna_subset": q_dropna_subset,
    "fillna_dict": q_fillna_dict,
    "replace_nullsafe": q_replace_nullsafe,
    "label_decode": q_label_decode,
    # rows-only, still driver-unseen after r1 (it was entry #51)
    "stratified_sample": q_stratified_sample,
    "dedup_audit": q_dedup_audit,
    "window_dedup": q_window_dedup,
    "minmax_normalize": q_minmax_normalize,
    "validator_report": q_validator_report,
    "repair_percent": q_repair_percent,
    "repair_term": q_repair_term,
    "month_token": q_month_token,
    "isin_filter": q_isin_filter,
    "impute_mean": q_impute_mean,
    "bucketize": q_bucketize,
    "log_parse": q_log_parse,
    "union_bag": q_union_bag,
    "class_balance": q_class_balance,
    "ep1_prep": q_ep1_prep,
    "contamination": q_contamination,
    # round-3 session-3 additions (auto-promoted into the driver window
    # by the registry's never-verified safety net)
    "target_encode": q_target_encode,
    "collapse_rare": q_collapse_rare,
    "expect_suite": q_expect_suite,
    "psi_drift": q_psi_drift,
    "drift_panel": q_drift_panel,
    "feature_hash": q_feature_hash,
    "impute_mode": q_impute_mode,
}

ORACLES = {
    "null_patterns": _NULL_PATTERNS_SQL,
    "fd_repair": _FD_REPAIR_SQL,
    "dedup_audit": _DEDUP_AUDIT_SQL,
    "window_dedup": _WINDOW_DEDUP_SQL,
    "minmax_normalize": _MINMAX_SQL,
    "validator_report": _VALIDATOR_SQL,
    "repair_percent": _REPAIR_PERCENT_SQL,
    "repair_term": _REPAIR_TERM_SQL,
    "month_token": _MONTH_TOKEN_SQL,
    "isin_filter": _ISIN_SQL,
    "impute_mean": _IMPUTE_SQL,
    "bucketize": _BUCKETIZE_SQL,
    "log_parse": _LOG_PARSE_SQL,
    "union_bag": _UNION_BAG_SQL,
    "ep1_prep": _EP1_PREP_SQL,
    "contamination": _CONTAMINATION_SQL,
    "dropna_all": _DROPNA_ALL_SQL,
    "dropna_subset": _DROPNA_SUBSET_SQL,
    "fillna_dict": _FILLNA_DICT_SQL,
    "replace_nullsafe": _REPLACE_NULLSAFE_SQL,
    "label_decode": _LABEL_DECODE_SQL,
    "target_encode": _TARGET_ENCODE_SQL,
    "collapse_rare": _COLLAPSE_RARE_SQL,
    "expect_suite": _EXPECT_SUITE_SQL,
    "psi_drift": _PSI_DRIFT_SQL,
    "drift_panel": _drift_panel_sql(),
    "feature_hash": _FEATURE_HASH_SQL,
    "impute_mode": _IMPUTE_MODE_SQL,
    # class_balance / stratified_sample: intentionally no oracle (seeded
    # sampler RNG is Spark-specific) -> rows-only checks
}
