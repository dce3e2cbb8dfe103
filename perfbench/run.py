"""perfbench — the engine's gating benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload graph_shared --seed 1 --trace 0

Workloads: eda_tail, dedup_text, graph_shared, ep1_etl (see
perfbench/README.md). ``--seconds``, the warm measuring window,
defaults to ``run_seconds`` in BENCHMARK.json. With ``--trace 0`` the
last stdout line is one JSON object with the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics and the spans go to
``.bench_build/perfbench/spans-<workload>-<seed>.jsonl``. Every
operation's output is checked; failures are counted in ``failed``.
``failed_frac``, the wall-clock pass times (``cold_pass_s``,
``pass_s``, ``op_p50_s``, ``op_p90_s``) and ``peak_rss_mb`` go to
stderr. Everything the
run writes stays under ``.bench_build/perfbench``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

import workloads  # noqa: E402


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_seconds() -> float:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)["run_seconds"]


def result_line(run, metrics: dict) -> str:
    failed = run.failed_ops()
    return json.dumps({
        "correct": not failed,
        "attempted": len(run.ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        seconds = args.seconds if args.seconds is not None else run_seconds()
    except (OSError, ValueError, KeyError) as exc:
        print(f"perfbench: no --seconds and no run_seconds: {exc}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import harness
    except ImportError as exc:
        print(f"perfbench: cannot import the engine under {ROOT}: {exc}", file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    # overrides spark.local.dir when set, so keep it inside the checkout too
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    run = harness.Run(ROOT, WORK, run_dir, args.workload, args.seed,
                      seconds, bool(args.trace), cores, T_PROCESS)
    try:
        run.start()
        try:
            run.measure()
            run.check()
            peak = run.peak_rss_mb()
        finally:
            run.stop()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for name, why in run.failures.items():
        print(f"perfbench: {name} FAILED its output check: {why}", file=sys.stderr)
    for op in run.ops:
        if op.error:
            print(f"perfbench: op {op.id} ({op.name}) raised {op.error}", file=sys.stderr)
    if args.trace:
        metrics = run.per_layer()
        spans = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
        run.tracer.write(spans)
        print(f"perfbench: {len(run.tracer.spans)} spans in {spans}", file=sys.stderr)
    else:
        metrics = run.end_to_end()
    failed = len(run.failed_ops())
    print(f"perfbench: {len(run.passes)} passes, {len(run.warm_latencies())} warm "
          f"latency samples, failed_frac {failed / len(run.ops):.4f} "
          f"({failed}/{len(run.ops)}), not gated (op_p90_s null below 100 "
          f"samples): {json.dumps(run.ungated(peak))}", file=sys.stderr)
    print(result_line(run, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
