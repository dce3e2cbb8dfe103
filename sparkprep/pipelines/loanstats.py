"""EP1 — the reference's automated production job
(loanStat-DataproctoBQ.py, traced in SURVEY.md §3) re-expressed as an
engine pipeline. Same observable semantics, different physics:

| reference (loanStat.py)                 | here                            |
|-----------------------------------------|---------------------------------|
| 73-col then 22-col select (:44-129)     | one 22-col select (Catalyst     |
|                                         | prunes the scan regardless)     |
| repartition(60) x3 + cache x3 (:149-307)| AQE sizes partitions; no cache: |
|                                         | the min/max side re-runs the    |
|                                         | codegen'd prep (a checkpoint    |
|                                         | measured a wash, ep1_prep)      |
| 7 Python row UDFs (:178-287)            | native expressions (functions/) |
| 4 collect() jobs for min/max (:241-266) | ONE fused aggregate             |
| union of 2 filters (:301)               | one isin scan                   |
| registerTempTable never used (:161)     | dropped (dead op)               |
| CSV staging + `bq load` (:330-382)      | same contract, emulated sink    |
| audit counts (none in the reference)    | observed on the staging write's |
|                                         | own jobs; malformed count in    |
|                                         | the JVM (no Python round trip)  |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkprep.functions import numeric as npx
from sparkprep.functions import strings as sx
from sparkprep.operators import clean, transform
from sparkprep.plans import Pipeline
from sparkprep.sources import readers, writers

# the 22-column working set selected at loanStat.py:129
LOAN_WORKING_COLS = [
    "loan_amnt", "term", "int_rate", "installment", "grade", "emp_length",
    "home_ownership", "annual_inc", "verification_status", "loan_status",
    "purpose", "addr_state", "dti", "delinq_2yrs", "earliest_cr_line",
    "inq_last_6mths", "open_acc", "pub_rec", "revol_bal", "revol_util",
    "total_acc", "last_credit_pull_d",
]

# the withColumn cast/transform chain at loanStat.py:218, as one contract
_CONTRACT = {
    "loan_amnt": "double",
    "term": None,            # X4: ' 36 months' -> 36.0
    "int_rate": None,        # X1: '12.74%' -> 12.74
    "installment": "double",
    "annual_inc": "double",
    "dti": "double",
    "delinq_2yrs": "double",
    "earliest_cr_line": None,  # X3: 'Apr-2001' -> 'Apr'
    "inq_last_6mths": "double",
    "open_acc": "double",
    "pub_rec": "double",
    "revol_bal": "double",
    "revol_util": None,      # X1
    "total_acc": "double",
    "last_credit_pull_d": None,  # X3
}


def _transform_step(df: DataFrame) -> DataFrame:
    contract = dict(_CONTRACT)
    contract["term"] = sx.term_to_double("term")
    contract["int_rate"] = sx.pct_to_double("int_rate")
    contract["revol_util"] = sx.pct_to_double("revol_util")
    contract["earliest_cr_line"] = sx.month_token("earliest_cr_line")
    contract["last_credit_pull_d"] = sx.month_token("last_credit_pull_d")
    typed = {k: v for k, v in contract.items() if v is not None}
    return transform.cast_contract(df, typed)


def loanstats_prep_pipeline(count_rows: bool = False) -> Pipeline:
    """The EP1 prep DAG as composable steps (loanStat.py:44-315)."""
    return (
        Pipeline()
        .add("select_working_cols", lambda d: d.select(*LOAN_WORKING_COLS), count_rows)
        .add("drop_any_null", lambda d: clean.drop_nulls(d, how="any"), count_rows)
        .add("transform_and_cast", _transform_step, count_rows)
        .add(
            "normalize",
            lambda d: npx.minmax_normalize(d, "annual_inc", "loan_amnt"),
        )
        .add(
            "filter_status",
            lambda d: transform.filter_in(
                d, "loan_status", ["Fully Paid", "Charged Off"]
            ),
            count_rows,
        )
    )


def run_loanstats_job(
    spark: SparkSession,
    csv_path: str,
    staging_dir: str,
    dataset: str = "loans",
    table: str = "loanstats",
    count_rows: bool = False,
) -> dict:
    """End-to-end EP1: permissive CSV read → prep pipeline → staged
    CSV + schema-string load contract (loanStat.py:32,330-382), with the
    observability the reference lacked: malformed-drop count and
    per-step report in the returned manifest.

    ``count_rows`` steps are observed, not counted: their row counts
    ride on the staging write, so an audited run launches the same
    Spark jobs as an unaudited one."""
    raw = readers.read_csv(spark, csv_path, header=True, mode="DROPMALFORMED")
    dropped = readers.malformed_drop_count(spark, csv_path, raw)
    out, finish = loanstats_prep_pipeline(count_rows).run_observed(raw)
    manifest = writers.bq_load_emulated(out, staging_dir, dataset, table)
    manifest["malformed_rows_dropped"] = dropped
    manifest["steps"] = finish().as_rows()
    return manifest
