"""One benchmark run: set-up, timed passes, output checks, metrics.

A run is a closed loop with one client on ``local[<cores>]``: each
operation starts only after the previous one has fully materialized.

Set-up (session build, warm-up job, registry and inputs) is done
``SETUPS`` times, stopping the SparkContext in between; the first
set-up is timed from process start. Then come the passes, each running
the workload's operations once. Pass 0 is the cold pass, and it is
also the checked pass: every operation's output is fetched in it and
compared, outside the timed region, with its expected value. Warm
passes follow until ``seconds`` have gone by since the first warm
operation and there are at least ``MIN_WARM`` of them: the first warm
pass is still markedly slower than the later ones (JIT), so a run with
fewer passes would report it and spread widely.

In a query workload an operation is one registered query, called
through ``__spark_entry__.queries()``. A warm pass materializes it
through the JVM ``noop`` sink; the cold pass fetches it with
``toPandas`` for the DuckDB oracle check. Every pass starts with
``shared_frames.reset()``, so each pass pays its shared builds. In
``ep1_etl`` an operation is one ``run_loanstats_job`` call on the
seeded CSV; the cold one runs with per-step row counts, which are
checked against the generator's counts.

Traced runs alternate untraced and traced warm passes, starting and
ending with an untraced one. Per-layer numbers come from the traced
passes. The tracing overhead is each traced pass minus the mean of the
untraced passes on either side of it, which cancels the speed-up warm
passes still show from pass to pass. Spark counters and storage are
read between operations, outside the timed region.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import counters
import ep1_data
import tables
import workloads
from tracing import Tracer

MB = 1e6

# Set-ups per run; ``setup_s`` is their median.
SETUPS = 5
# Fewest warm passes per run, traced runs included.
MIN_WARM = 3


@dataclass
class Op:
    """One timed operation and what was observed around it."""

    id: int
    name: str
    pass_no: int
    seconds: float = 0.0
    build_s: float = 0.0
    build_jobs: int = 0
    error: str | None = None
    digest: str | None = None
    spark: dict = field(default_factory=dict)
    job_ids: list[int] = field(default_factory=list)
    storage: tuple[int, float] = (0, 0.0)
    write: dict = field(default_factory=dict)


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cpu_s(pid: int) -> float:
    """User plus system CPU seconds of process ``pid`` and of this one."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    t = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + t.user + t.system


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _load_normalize(root: str):
    """``tests/oracle_util._normalize``: the order-insensitive shape the
    engine's oracle tests compare (columns by name, rows by value)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_util", os.path.join(root, "tests", "oracle_util.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._normalize


def frame_digest(df) -> str:
    """Digest of a normalized pandas frame: column names, dtypes, row
    count and every value. Equal digests mean equal frames."""
    import pandas as pd

    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c] + 0.0  # -0.0 and 0.0 compare equal
    h = hashlib.sha256()
    h.update(repr([(c, str(df[c].dtype)) for c in df.columns]).encode())
    h.update(str(len(df)).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()


class Run:
    def __init__(self, root: str, work_dir: str, run_dir: str, workload: str,
                 seed: int, seconds: float, trace: bool, cores: int,
                 t_process: float):
        self.root = root
        self.work_dir = work_dir
        self.run_dir = run_dir
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores
        self.t_process = t_process
        self.tracer = Tracer() if trace else None
        self.ops: list[Op] = []
        self.passes: list[dict] = []
        self.setup: dict = {}
        self.queries = None
        self.failures: dict[str, str] = {}
        self.normalize = _load_normalize(root)

    # -- set-up -------------------------------------------------------------

    def _traced(self):
        return self.tracer.installed() if self.tracer else nullcontext()

    def start(self) -> None:
        rows = [self._setup(self.t_process if i == 0 else None) for i in range(SETUPS)]
        self.setup = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        self.setup["cold_setup_s"] = rows[0]["setup_s"]

    def _setup(self, t_start: float | None) -> dict:
        """One set-up, after stopping the previous one's SparkContext;
        times it from ``t_start`` (default: now)."""
        from sparkprep import session

        if getattr(self, "spark", None) is not None:
            self.spark.stop()
        t_start = time.perf_counter() if t_start is None else t_start
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        with self._traced():
            t1 = time.perf_counter()
            self.spark = session.build_session(app_name="perfbench", extra_conf=conf)
            t2 = time.perf_counter()
            self.spark.sparkContext.setLogLevel("ERROR")
            self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
            self._warmup()
            t3 = time.perf_counter()
            self._prepare_inputs()
        return {
            "session.build_s": t2 - t1,
            "session.warmup_s": t3 - t2,
            "setup_s": time.perf_counter() - t_start,
        }

    def _warmup(self) -> None:
        """One small job, so the cold pass does not also pay the
        scheduler's first start."""
        materialize(self.spark.range(10_000).selectExpr("sum(id) AS s"))

    def _prepare_inputs(self) -> None:
        if self.workload == workloads.EP1:
            self.csv_path = os.path.join(self.run_dir, "loanstats.csv")
            self.expected = ep1_data.write_loanstats_csv(
                self.csv_path, workloads.EP1_ROWS, self.seed
            )
            self.csv_bytes = os.path.getsize(self.csv_path)
            return
        import __spark_entry__

        self.tables_dir = tables.write_tables(
            os.path.join(self.run_dir, "tables"), workloads.TABLE_SF,
            workloads.CORPUS_SF, workloads.TABLE_SEED
        )
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    # -- timed passes -------------------------------------------------------

    def _op_names(self, pass_no: int) -> list[str]:
        if self.workload == workloads.EP1:
            return [workloads.EP1]
        names = list(workloads.QUERY_WORKLOADS[self.workload])
        random.Random(f"{self.seed}:{pass_no}").shuffle(names)
        return names

    def measure(self) -> None:
        self._pass(0, traced=False)
        t_warm = time.perf_counter()
        while True:
            pass_no = len(self.passes)
            traced = self.trace and pass_no % 2 == 0
            self._pass(pass_no, traced)
            if (pass_no >= MIN_WARM and not traced
                    and time.perf_counter() - t_warm >= self.seconds):
                break

    def _pass(self, pass_no: int, traced: bool) -> None:
        ctx = self.tracer.installed() if traced else nullcontext()
        info = {"pass": pass_no, "traced": traced, "ops": [], "seconds": 0.0}
        cpu0 = _cpu_s(self.jvm_pid)
        with ctx:
            if self.workload != workloads.EP1:
                info["seconds"] += self._reset(traced, info)
            for name in self._op_names(pass_no):
                op = Op(len(self.ops), name, pass_no)
                self.ops.append(op)
                info["ops"].append(op.id)
                self._run_op(op, traced)
                info["seconds"] += op.seconds
        info["cpu_s"] = _cpu_s(self.jvm_pid) - cpu0
        self.passes.append(info)

    def _reset(self, traced: bool, info: dict) -> float:
        from sparkprep.queries import shared_frames

        if self.tracer:
            self.tracer.op = None
        t0 = time.perf_counter()
        shared_frames.reset()
        dt = time.perf_counter() - t0
        if traced:
            info["storage_after_reset"] = counters.storage(self.spark)
        return dt

    def _run_op(self, op: Op, traced: bool) -> None:
        sc = self.spark.sparkContext
        if self.tracer:
            self.tracer.op = op.id
        try:
            if self.workload == workloads.EP1:
                self._run_ep1(op)
            else:
                fn = self.queries[op.name]
                run = materialize if op.pass_no else (lambda df: df.toPandas())
                if traced:
                    fn = self.tracer.wrap(fn, "queries.build")
                    run = self.tracer.wrap(materialize, "operators.materialize")
                sc.setJobGroup(counters.job_group(op.id, "build"), op.name)
                t0 = time.perf_counter()
                df = fn(self.spark, self.tables_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(counters.job_group(op.id, "run"), op.name)
                out = run(df)
                t2 = time.perf_counter()
                op.seconds, op.build_s = t2 - t0, t1 - t0
                if out is not None:
                    op.digest = frame_digest(self.normalize(out))
        except Exception as exc:  # noqa: BLE001 — one failing operation must not end the run
            op.error = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            sc.setJobGroup("perfbench-idle", "between operations")
        if traced:
            build = counters.job_group(op.id, "build")
            groups = [build, counters.job_group(op.id, "run")]
            op.spark = counters.collect(self.spark, groups)
            op.job_ids = [j for g in groups for j in sc.statusTracker().getJobIdsForGroup(g)]
            op.build_jobs = len(sc.statusTracker().getJobIdsForGroup(build))
            op.storage = counters.storage(self.spark)

    def _run_ep1(self, op: Op) -> None:
        from sparkprep.pipelines import loanstats

        staging = os.path.join(self.run_dir, f"staging-{op.id}")
        audited = op.pass_no == 0
        self.spark.sparkContext.setJobGroup(counters.job_group(op.id, "run"), op.name)
        t0 = time.perf_counter()
        manifest = loanstats.run_loanstats_job(
            self.spark, self.csv_path, staging, count_rows=audited
        )
        op.seconds = time.perf_counter() - t0
        self.spark.sparkContext.setJobGroup("perfbench-check", "output check")
        try:
            self._check_ep1_output(manifest, audited)
            files = [f for f in os.listdir(manifest["staging_path"]) if f.startswith("part-")]
            op.write = {
                "files": len(files),
                "bytes": sum(
                    os.path.getsize(os.path.join(manifest["staging_path"], f)) for f in files
                ),
                "steps": len(manifest["steps"]),
            }
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _check_ep1_output(self, manifest: dict, audited: bool) -> None:
        """Raise unless the job's manifest and staged output match the
        generator's counts; an audited job's per-step rows too."""
        from pyspark.sql import functions as F
        from sparkprep.pipelines.loanstats import LOAN_WORKING_COLS

        exp = self.expected
        if audited:
            got = {s["step"]: s["rows_out"] for s in manifest["steps"]
                   if s["rows_out"] is not None}
            if got != exp["steps"]:
                raise AssertionError(f"step rows {got} != {exp['steps']}")
        if manifest["malformed_rows_dropped"] != exp["malformed_rows_dropped"]:
            raise AssertionError(
                f"malformed_rows_dropped {manifest['malformed_rows_dropped']} "
                f"!= {exp['malformed_rows_dropped']}"
            )
        acc = f"_c{LOAN_WORKING_COLS.index('total_acc')}"
        got = (
            self.spark.read.csv(manifest["staging_path"], header=False)
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col(acc).cast("double")).alias("acc"))
            .collect()[0]
        )
        if (got["n"], got["acc"]) != (exp["staged_rows"], exp["staged_total_acc"]):
            raise AssertionError(
                f"staged rows/total_acc {(got['n'], got['acc'])} != "
                f"{(exp['staged_rows'], exp['staged_total_acc'])}"
            )

    # -- output checks ------------------------------------------------------

    def check(self) -> None:
        """Compare each query's cold-pass output with its DuckDB oracle;
        mismatches go to ``failures``. ``ep1_etl`` outputs were checked
        as they were written."""
        if self.workload == workloads.EP1:
            return
        digests = self._oracle_digests()
        for op in self.ops:
            if op.pass_no == 0 and not op.error and op.digest != digests[op.name]:
                self.failures[op.name] = "result differs from the DuckDB oracle"

    def _oracle_digests(self) -> dict[str, str]:
        """DuckDB oracle digests, cached in the work dir by table content
        and oracle text: the tables are fixed, and some oracles take
        seconds each."""
        h = hashlib.sha256()
        for name in tables.TABLES:
            with open(os.path.join(self.tables_dir, f"{name}.parquet"), "rb") as fh:
                h.update(fh.read())
        tables_key = h.hexdigest()
        path = os.path.join(self.work_dir, "oracle-digests.json")
        try:
            with open(path) as fh:
                cache = json.load(fh)
        except (OSError, ValueError):
            cache = {}
        out, con = {}, None
        for name in workloads.QUERY_WORKLOADS[self.workload]:
            sql = self.oracles[name]
            key = hashlib.sha256(f"{tables_key}\0{name}\0{sql}".encode()).hexdigest()
            if key not in cache:
                if con is None:
                    con = self._duckdb()
                cache[key] = frame_digest(self.normalize(con.execute(sql).fetchdf()))
            out[name] = cache[key]
        if con is not None:
            con.close()
            tmp = f"{path}.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(cache, fh)
            os.replace(tmp, path)
        return out

    def _duckdb(self):
        import duckdb

        con = duckdb.connect()
        for name in tables.TABLES:
            p = os.path.join(self.tables_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        return con

    # -- shutdown -----------------------------------------------------------

    def peak_rss_mb(self) -> float:
        return _vm_hwm_mb(self.jvm_pid) + _vm_hwm_mb("self")

    def stop(self) -> None:
        """Stop Spark, then the JVM gateway process, and wait for it."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- metrics ------------------------------------------------------------

    def failed_ops(self) -> list[Op]:
        return [op for op in self.ops if op.error or op.name in self.failures]

    def warm_latencies(self) -> list[float]:
        """Per-operation seconds pooled over the untraced warm passes."""
        failed = {op.id for op in self.failed_ops()}
        return [self.ops[i].seconds for p in self.passes[1:] if not p["traced"]
                for i in p["ops"] if i not in failed]

    def end_to_end(self) -> dict:
        """The gated metrics. Pass costs are CPU seconds (driver JVM plus
        Python): on a shared host, wall time moves with the neighbours'
        load far more than CPU time does."""
        warm = [p["cpu_s"] for p in self.passes[1:] if not p["traced"]]
        return {
            "setup_s": (self.setup["setup_s"], "s"),
            "cold_pass_cpu_s": (self.passes[0]["cpu_s"], "s"),
            "pass_cpu_s": (statistics.median(warm), "s"),
        }

    def ungated(self, peak_rss_mb: float) -> dict:
        """End-to-end figures reported beside the gated ones, too unsteady
        on a shared host to gate: wall-clock pass times and peak memory."""
        warm = [p["seconds"] for p in self.passes[1:] if not p["traced"]]
        lat = self.warm_latencies()
        return {
            "cold_pass_s": self.passes[0]["seconds"],
            "pass_s": statistics.median(warm),
            "op_p50_s": statistics.median(lat) if lat else None,
            "op_p90_s": self.op_p90_s(),
            "peak_rss_mb": peak_rss_mb,
        }

    def op_p90_s(self) -> float | None:
        """The 90th percentile of the warm latencies, or None while fewer
        than 10 samples lie beyond it."""
        lat = self.warm_latencies()
        if len(lat) < 100:
            return None
        return statistics.quantiles(lat, n=10, method="inclusive")[8]

    def per_layer(self) -> dict:
        traced = [p for p in self.passes if p["traced"]]
        untraced = [p for p in self.passes[1:] if not p["traced"]]
        rows = [self._pass_layers(p) for p in traced]
        out = {k: (statistics.median(r[k][0] for r in rows), rows[0][k][1]) for k in rows[0]}
        out["session.build_s"] = (self.setup["session.build_s"], "s")
        out["session.warmup_s"] = (self.setup["session.warmup_s"], "s")
        out["session.cold_setup_s"] = (self.setup["cold_setup_s"], "s")
        s = [p["seconds"] for p in self.passes]
        u_pass = statistics.median(p["seconds"] for p in untraced)
        over = statistics.median(s[i] - (s[i - 1] + s[i + 1]) / 2
                                 for i, p in enumerate(self.passes) if p["traced"])
        out["trace.pass_s"] = (statistics.median(p["seconds"] for p in traced), "s")
        out["trace.untraced_pass_s"] = (u_pass, "s")
        out["trace.overhead_s"] = (over, "s")
        out["trace.overhead_frac"] = (over / u_pass, "ratio")
        return out

    def _pass_layers(self, p: dict) -> dict:
        tr = self.tracer
        ids = set(p["ops"])
        ops = [self.ops[i] for i in p["ops"]]
        sp = {k: sum(op.spark.get(k, 0) for op in ops) for k in counters.STAGE_FIELDS}
        calls = tr.counter_total("shared_frames.calls", ids)
        builds = tr.counter_total("shared_frames.builds", ids)
        self_s = tr.self_times(ids)
        written = sum(op.write.get("bytes", 0) for op in ops)
        ep1_ops = sum(1 for op in ops if op.write)
        out = {
            "queries.build_s": (sum(op.build_s for op in ops), "s"),
            "queries.build_jobs": (sum(op.build_jobs for op in ops), "count"),
            "queries.t_calls": (tr.counter_total("queries.t_calls", ids), "count"),
            "queries.t_s": (tr.span_total("queries.t", ids), "s"),
            "shared_frames.builds": (builds, "count"),
            "shared_frames.hits": (calls - builds, "count"),
            "shared_frames.hit_ratio": ((calls - builds) / calls if calls else 0.0, "ratio"),
            "checkpointing.rdds_cached": (max(op.storage[0] for op in ops), "count"),
            "checkpointing.storage_mb_peak": (max(op.storage[1] for op in ops), "MB"),
            "checkpointing.storage_mb_after_reset": (
                p.get("storage_after_reset", (0, 0.0))[1], "MB"),
            "operators.core_util": (
                sp["run_s"] / (sp["exec_s"] * self.cores) if sp["exec_s"] else 0.0, "ratio"),
            "sources.read_csv_s": (tr.span_total("sources.read_csv", ids), "s"),
            "sources.malformed_drop_count_s": (
                tr.span_total("sources.malformed_drop_count", ids), "s"),
            "sources.write_s": (tr.span_total("sources.bq_load_emulated", ids), "s"),
            "sources.mb_written": (written / MB, "MB"),
            "sources.files_written": (sum(op.write.get("files", 0) for op in ops), "count"),
            "sources.write_amp": (
                written / (self.csv_bytes * ep1_ops) if ep1_ops else 0.0, "ratio"),
            "plans.pipeline_run_s": (tr.span_total("plans.pipeline_run", ids), "s"),
            "plans.steps": (sum(op.write.get("steps", 0) for op in ops), "count"),
            "pipelines.run_s": (tr.span_total("pipelines.run_loanstats_job", ids), "s"),
        }
        for k in counters.STAGE_FIELDS:
            unit = "s" if k.endswith("_s") else "MB" if k.endswith("_mb") else "count"
            out[f"operators.{k}"] = (sp[k], unit)
        for layer in LAYERS:
            out[f"{layer}.self_s"] = (self_s.get(layer, 0.0), "s")
        return out


# Layers whose self time a traced run reports.
LAYERS = ("queries", "shared_frames", "operators", "sources", "plans", "pipelines")
