"""Composable pipeline steps with timing + row-conservation reports —
the reference's ad-hoc ``t.time()`` prints and eyeballed counts
(mssql.ipynb:770-895, dedup.ipynb:2230) systematized into machine-
readable run reports (SURVEY §5 'reconciliation patterns').

Pipelines are plain callables over DataFrames, so any scheduler can
drive them — the Airflow DAGs (§2.16) reduce to "call this function on
a cadence"; no Airflow dependency in core.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame


@dataclass
class Step:
    name: str
    fn: Callable[[DataFrame], DataFrame]
    # row counting forces a job per step under ``run`` (none under
    # ``run_observed``); default off (lazy end-to-end), turn on for
    # audited runs (the reference's dedup audit mode)
    count_rows: bool = False


@dataclass
class StepReport:
    name: str
    seconds: float
    rows_out: int | None = None


@dataclass
class RunReport:
    steps: list[StepReport] = field(default_factory=list)

    @property
    def total_seconds(self) -> float:
        return sum(s.seconds for s in self.steps)

    def as_rows(self) -> list[dict]:
        return [
            {"step": s.name, "seconds": round(s.seconds, 3), "rows_out": s.rows_out}
            for s in self.steps
        ]


class Pipeline:
    """Sequential DataFrame transformation with a run report.

    Lazy by default: steps only build the plan (one Spark job at the
    terminal action, letting Catalyst fuse everything). With
    ``count_rows`` steps, ``run`` materializes each counted step — use
    deliberately, exactly like the reference's audit counts — and
    ``run_observed`` counts them inside the caller's action instead.
    """

    def __init__(self, *steps: Step):
        self.steps = list(steps)

    def add(self, name: str, fn: Callable[[DataFrame], DataFrame], count_rows: bool = False):
        self.steps.append(Step(name, fn, count_rows))
        return self

    def run_observed(self, df: DataFrame):
        """One-pass funnel accounting via the Observation API: each
        ``count_rows`` step's output carries an ``observe(count)`` node,
        so the SINGLE terminal action the caller runs yields every
        counted step's row count — no per-step count() jobs (``run``
        pays one re-execution per counted step; this pays zero).
        Uncounted steps report ``rows_out=None``, as in ``run``.

        Returns ``(out, finish)``; call ``finish()`` AFTER running an
        action on ``out`` (or a descendant) to collect the RunReport.
        A step's ``seconds`` is its plan-build time: the work happens in
        the caller's action.

        Re-executed subtrees do not double-count: when the plan above
        an observed step runs that step twice in one action (EP1's
        ``normalize`` cross-joins a broadcast aggregate of its own
        input), each copy of the observe node has its own accumulator
        and the report takes one copy's count — equal to ``run``'s
        count (tests/test_loanstats_pipeline.py pins this).
        """
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        steps: list[tuple[str, float, Observation | None]] = []
        out = df
        for step in self.steps:
            t0 = time.perf_counter()
            out = step.fn(out)
            o = None
            if step.count_rows:
                o = Observation()
                out = out.observe(o, F.count(F.lit(1)).alias("rows"))
            steps.append((step.name, time.perf_counter() - t0, o))

        def finish() -> RunReport:
            return RunReport([
                StepReport(name, seconds, o.get["rows"] if o else None)
                for name, seconds, o in steps
            ])

        return out, finish

    def run(self, df: DataFrame) -> tuple[DataFrame, RunReport]:
        report = RunReport()
        out = df
        for step in self.steps:
            t0 = time.perf_counter()
            out = step.fn(out)
            rows = out.count() if step.count_rows else None
            report.steps.append(
                StepReport(step.name, time.perf_counter() - t0, rows)
            )
        return out, report


def explain_formatted(df: DataFrame) -> str:
    """``df.explain('formatted')`` as a string — for plan assertions in
    tests (PushedFilters present, no CartesianProduct, broadcast where
    expected)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def plan_contains(df: DataFrame, needle: str) -> bool:
    return needle in explain_formatted(df)
