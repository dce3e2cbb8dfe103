"""Seeded dirty LoanStats CSV for the ``ep1_etl`` workload.

``write_loanstats_csv`` writes a header CSV shaped like the reference's
LoanStats export (``id``, ``member_id`` and the 22 working columns) and
returns the exact counts ``pipelines.run_loanstats_job`` must report on
it. Every line is one of five kinds, drawn from the seed:

- ``terminal``: Fully Paid or Charged Off, every field valid -> staged;
- ``open``: a non-terminal status (Current, Late, In Grace Period) ->
  removed by the ``filter_status`` step;
- ``null``: one working column left empty -> removed by ``drop_any_null``;
- ``null_extra``: ``member_id`` left empty; not a working column, so the
  line survives and is staged when its status is terminal;
- ``malformed``: an unterminated leading quote -> dropped by the
  DROPMALFORMED full-width parse and counted by ``malformed_drop_count``.
  Under column pruning Spark pads such a line with nulls instead, so the
  pruned ``select_working_cols`` count still includes it and
  ``drop_any_null`` removes it.
"""

from __future__ import annotations

import numpy as np

from sparkprep.pipelines.loanstats import LOAN_WORKING_COLS

HEADER = ["id", "member_id", *LOAN_WORKING_COLS]

_TERMINAL = ["Fully Paid", "Charged Off"]
_OPEN = ["Current", "Late (31-120 days)", "In Grace Period"]
_GRADES = list("ABCDEFG")
_EMP = ["< 1 year", "1 year", "3 years", "5 years", "10+ years"]
_HOME = ["RENT", "OWN", "MORTGAGE"]
_VERIFY = ["Verified", "Not Verified", "Source Verified"]
_PURPOSE = ["car", "credit_card", "debt_consolidation", "home_improvement", "other"]
_STATES = ["CA", "NY", "TX", "FL", "IL", "WA", "MA", "GA"]
_MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()

# kind shares: terminal, open, null, null_extra, malformed
_SHARES = (0.80, 0.12, 0.04, 0.03, 0.01)
_TOTAL_ACC = HEADER.index("total_acc")


def _fields(rng: np.random.Generator, n: int) -> list[list[str]]:
    """Column-wise valid values for ``n`` lines, in ``HEADER`` order
    except ``loan_status``, which the caller fills."""
    def pick(choices):
        return [choices[i] for i in rng.integers(0, len(choices), n)]

    def ints(lo, hi):
        return [str(v) for v in rng.integers(lo, hi, n)]

    def decimals(lo, hi):
        return [f"{v:.2f}" for v in rng.uniform(lo, hi, n)]

    def pct(lo, hi):
        return [f"{v:.2f}%" for v in rng.uniform(lo, hi, n)]

    def month_year():
        return [
            f"{_MONTHS[m]}-{y}"
            for m, y in zip(rng.integers(0, 12, n), rng.integers(1985, 2020, n))
        ]

    return [
        [str(1000 + i) for i in range(n)],          # member_id (id is set later)
        ints(1000, 40001),                           # loan_amnt
        pick([" 36 months", " 60 months"]),          # term
        pct(5.0, 30.0),                              # int_rate
        decimals(30.0, 1500.0),                      # installment
        pick(_GRADES),                               # grade
        pick(_EMP),                                  # emp_length
        pick(_HOME),                                 # home_ownership
        ints(12000, 400001),                         # annual_inc
        pick(_VERIFY),                               # verification_status
        None,                                        # loan_status
        pick(_PURPOSE),                              # purpose
        pick(_STATES),                               # addr_state
        decimals(0.0, 40.0),                         # dti
        ints(0, 5),                                  # delinq_2yrs
        month_year(),                                # earliest_cr_line
        ints(0, 7),                                  # inq_last_6mths
        ints(1, 40),                                 # open_acc
        ints(0, 3),                                  # pub_rec
        ints(0, 80001),                              # revol_bal
        pct(0.0, 100.0),                             # revol_util
        ints(2, 80),                                 # total_acc
        month_year(),                                # last_credit_pull_d
    ]


def write_loanstats_csv(path: str, rows: int, seed: int) -> dict:
    """Write ``rows`` data lines plus a header to ``path``; return the
    counts a correct ``run_loanstats_job`` run reports on the file."""
    rng = np.random.default_rng(seed)
    kinds = rng.choice(5, size=rows, p=_SHARES)
    cols = _fields(rng, rows)
    terminal = rng.integers(0, len(_TERMINAL), rows)
    still_open = rng.integers(0, len(_OPEN), rows)
    is_open = rng.random(rows) < 0.15  # open statuses on null/malformed lines too
    null_col = rng.integers(2, len(HEADER), rows)  # a working column
    counts = {"terminal": 0, "open": 0, "null": 0, "malformed": 0}
    staged_total_acc = 0
    lines = [",".join(HEADER)]
    for i in range(rows):
        vals = [str(i)] + [c[i] if c is not None else "" for c in cols]
        kind = int(kinds[i])
        if kind == 1 or (kind > 1 and is_open[i]):
            vals[HEADER.index("loan_status")] = _OPEN[still_open[i]]
            status_ok = False
        else:
            vals[HEADER.index("loan_status")] = _TERMINAL[terminal[i]]
            status_ok = True
        if kind == 2:
            vals[null_col[i]] = ""
            counts["null"] += 1
        elif kind == 3:
            vals[1] = ""
        line = ",".join(vals)
        if kind == 4:
            line = '"' + line
            counts["malformed"] += 1
        elif kind != 2:
            if status_ok:
                counts["terminal"] += 1
                staged_total_acc += int(vals[_TOTAL_ACC])
            else:
                counts["open"] += 1
        lines.append(line)
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    valid = counts["terminal"] + counts["open"]
    return {
        "rows": rows,
        "malformed_rows_dropped": counts["malformed"],
        "steps": {
            "select_working_cols": rows,
            "drop_any_null": valid,
            "transform_and_cast": valid,
            "filter_status": counts["terminal"],
        },
        "staged_rows": counts["terminal"],
        "staged_total_acc": staged_total_acc,
    }
