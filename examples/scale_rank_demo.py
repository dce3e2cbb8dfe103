"""Entity-grain quantile scoring, exact vs 100x form, as a runnable
proof: RFM quintiles computed twice — once with the oracle-exact global
ntile windows (one task sorts every customer) and once with
``ranks.multi_order_global_ntile`` (repartitionByRange + per-partition
window + broadcast offsets — every stage parallel) — then asserted
BIT-IDENTICAL.

    python examples/scale_rank_demo.py [sf_dir]

Read-only; prints the row count, the equality verdict, and the
plan-shape difference that matters at 100 TB: the exact form's physical
plan contains an ``Exchange SinglePartition`` feeding a Window over the
per-customer frame, the scale form's does not. At driver scale the exact
form is faster (fixed scheduling overhead dominates); past the point
where the per-customer frame outgrows one task, only the scale form
survives — which is why the registry keeps both under one oracle.
(Gini and the Lorenz deciles have one range-pass form only: there the
parallel form cost nothing at driver scale.)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkprep.queries.relational_ext import q_rfm_segments  # noqa: E402
from sparkprep.queries.scale_ops import q_rfm_scale  # noqa: E402
from sparkprep.session import build_session  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = build_session(app_name="scale-rank-demo")
    spark.sparkContext.setLogLevel("ERROR")
    exact_df = q_rfm_segments(spark, sf_dir)
    exact = sorted(map(tuple, exact_df.collect()))
    scale = sorted(map(tuple, q_rfm_scale(spark, sf_dir).collect()))
    same = exact == scale
    plan = exact_df._sc._jvm.PythonSQLUtils.explainString(
        exact_df._jdf.queryExecution(), "simple"
    )
    n_single = plan.count("Exchange SinglePartition")
    print(
        f"rfm quintile grid  rows={len(exact):5d}  bit-identical={same}  "
        f"exact-plan single-partition exchanges={n_single}"
    )
    print("PASS" if same else "FAIL")
    spark.stop()
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
