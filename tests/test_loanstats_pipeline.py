"""EP1 end-to-end: dirty LoanStats-style CSV (FIXTURES.md F3) through
the full engine pipeline to the staged-load contract — the reference's
production job (loanStat-DataproctoBQ.py) with audited semantics."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sparkprep.pipelines import LOAN_WORKING_COLS, run_loanstats_job
from sparkprep.sources import readers

HEADER = "id,member_id," + ",".join(LOAN_WORKING_COLS)


def _row(i, status="Fully Paid", **over):
    vals = {
        "id": str(i), "member_id": str(1000 + i),
        "loan_amnt": "15000", "term": " 36 months", "int_rate": "12.74%",
        "installment": "339.31", "grade": "A", "emp_length": "10+ years",
        "home_ownership": "RENT", "annual_inc": str(40000 + i * 1000),
        "verification_status": "Verified", "loan_status": status,
        "purpose": "car", "addr_state": "CA", "dti": "18.24",
        "delinq_2yrs": "0", "earliest_cr_line": "Apr-2001",
        "inq_last_6mths": "1", "open_acc": "11", "pub_rec": "0",
        "revol_bal": "13648", "revol_util": "83.70%", "total_acc": "25",
        "last_credit_pull_d": "Mar-2019",
    }
    vals.update(over)
    return ",".join(vals[c] for c in HEADER.split(","))


@pytest.fixture(scope="module")
def csv_dir():
    d = tempfile.mkdtemp(prefix="loanstats-")
    lines = [HEADER]
    for i in range(20):
        lines.append(_row(i))
    for i in range(20, 26):
        lines.append(_row(i, status="Charged Off", term=" 60 months"))
    for i in range(26, 30):
        lines.append(_row(i, status="Current"))          # filtered out
    lines.append(_row(30, annual_inc=""))                # null annual_inc -> dropna
    lines.append(_row(31).replace("18.24", ""))          # null dti -> dropna
    lines.append(_row(33) + ",extra")                    # extra trailing token -> DROPMALFORMED
    lines.append('"' + _row(32))                         # unterminated quote -> DROPMALFORMED
    with open(os.path.join(d, "loans.csv"), "w") as f:
        f.write("\n".join(lines))
    yield os.path.join(d, "loans.csv")
    shutil.rmtree(d, ignore_errors=True)


def test_ep1_end_to_end(spark, csv_dir):
    staging = tempfile.mkdtemp(prefix="loanstats-staging-")
    try:
        manifest = run_loanstats_job(spark, csv_dir, staging, count_rows=True)
        assert manifest["malformed_rows_dropped"] == 2
        steps = {s["step"]: s for s in manifest["steps"]}
        # Spark CSV quirks: under column pruning the quote-broken line is
        # null-padded instead of dropped (full-width parse drops it —
        # which is what malformed_rows_dropped reports); dropna catches
        # it either way. The pruned scan never sees the extra trailing
        # token, so that line flows through as a valid Fully Paid row
        # although the full-width parse counts it as malformed.
        assert steps["select_working_cols"]["rows_out"] == 34
        assert steps["drop_any_null"]["rows_out"] == 31   # rows 30, 31 + quoted line
        assert steps["normalize"]["rows_out"] is None     # not a counted step
        assert steps["filter_status"]["rows_out"] == 27   # 20 FP + 6 CO + extra-token row

        out = spark.read.csv(manifest["staging_path"], header=False)
        assert out.count() == 27
        assert "loan_amnt:FLOAT" in manifest["schema_string"]
        assert "grade:STRING" in manifest["schema_string"]
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def test_ep1_transform_semantics(spark, csv_dir):
    from sparkprep.pipelines.loanstats import loanstats_prep_pipeline

    raw = readers.read_csv(spark, csv_dir, header=True)
    out, _ = loanstats_prep_pipeline().run_observed(raw)
    sample = out.filter(F.col("grade") == "A").limit(1).collect()[0]
    assert sample.term in (36.0, 60.0)              # X4
    assert sample.int_rate == 12.74                 # X1
    assert sample.revol_util == 83.70               # X1
    assert sample.earliest_cr_line == "Apr"         # X3
    assert sample.last_credit_pull_d == "Mar"       # X3
    norms = out.select("annual_inc", "loan_amnt").collect()
    assert all(0.0 <= r.annual_inc <= 1.0 for r in norms)  # X9 normalized in place


def test_malformed_accounting(spark, csv_dir):
    # the quote-broken line and the extra-token line; the full-width
    # count must agree with the Python-side definition it replaced
    # (raw lines - header - df.rdd.count())
    raw = readers.read_csv(spark, csv_dir, header=True)
    lines = spark.read.text(csv_dir).count()
    assert readers.malformed_drop_count(spark, csv_dir, raw) == 2
    assert lines - 1 - raw.rdd.count() == 2


def test_observed_funnel_matches_counted_funnel(spark, csv_dir):
    # one-action Observation accounting == the per-step count() jobs,
    # although normalize's crossJoin(broadcast(agg)) runs every step
    # before it twice: once per join side, each with its own observe node
    from sparkprep.pipelines.loanstats import loanstats_prep_pipeline
    from sparkprep.plans import explain_formatted

    raw = readers.read_csv(spark, csv_dir, header=True)
    want, df = {}, raw
    for step in loanstats_prep_pipeline(count_rows=True).steps:
        df = step.fn(df)
        want[step.name] = df.count() if step.count_rows else None
    out, finish = loanstats_prep_pipeline(count_rows=True).run_observed(raw)
    # 3 observed steps below normalize, once per side, + filter_status
    assert explain_formatted(out).count("CollectMetrics (") == 7
    out.write.format("noop").mode("overwrite").save()   # ONE action
    observed = finish()

    got = {s.name: s.rows_out for s in observed.steps}
    assert got == want
    assert got["normalize"] is None and got["filter_status"] == 27


def test_audit_launches_no_extra_jobs(spark, csv_dir):
    # the audited run's step counts ride on the staging write, and the
    # malformed count is one groupBy + one noop write whether audited
    # or not
    sc = spark.sparkContext
    jobs = {}
    for audited in (True, False):
        group = f"ep1-audit-{audited}"
        staging = tempfile.mkdtemp(prefix="loanstats-jobs-")
        sc.setJobGroup(group, "EP1 job count")
        try:
            run_loanstats_job(spark, csv_dir, staging, count_rows=audited)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            shutil.rmtree(staging, ignore_errors=True)
        jobs[audited] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[True] == jobs[False]
    assert jobs[False] <= 7


def test_scheduled_job_lifecycle(spark, csv_dir):
    # OR5: the cron-callable path runs the SAME pipeline the Airflow
    # adapter would, persists a manifest artifact, and phases are timed
    import json
    import tempfile

    from sparkprep.plans.scheduler import ScheduledJob, run_scheduled

    staging = tempfile.mkdtemp(prefix="sched-staging-")
    manifests = tempfile.mkdtemp(prefix="sched-manifests-")
    try:
        job = ScheduledJob(
            name="loanstats_test",
            schedule="*/15 * * * *",
            task=lambda s: run_loanstats_job(s, csv_dir, staging),
            session_factory=lambda: spark,   # warm session: tests share it
            manifest_dir=manifests,
        )
        manifest = run_scheduled(job, stop_session=False)
        assert set(manifest["phases_sec"]) == {"acquire_session", "run_task", "teardown"}
        assert manifest["result"]["malformed_rows_dropped"] == 2
        on_disk = json.load(open(manifest["manifest_path"]))
        assert on_disk["job"] == "loanstats_test"
        assert on_disk["result"]["schema_string"] == manifest["result"]["schema_string"]
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(manifests, ignore_errors=True)


def test_airflow_adapter_import_guarded():
    # without airflow installed the DAG builder must fail with guidance,
    # not at import time of the module itself
    from sparkprep.plans.scheduler import ScheduledJob, build_airflow_dag

    try:
        import airflow  # noqa: F401

        pytest.skip("airflow installed; guarded path not reachable")
    except ImportError:
        pass
    with pytest.raises(ImportError, match="run_scheduled"):
        build_airflow_dag(ScheduledJob(name="x", task=lambda s: {}))
