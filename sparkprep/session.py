"""SparkSession factory.

The reference builds sessions ad hoc per notebook
(``mlpc.ipynb:27-41``: ``master("local[*]").config("spark.executor.cores","3")``)
and then hand-tunes parallelism with ``repartition(60)``
(``loanStat-DataproctoBQ.py:149,230,307``). We centralize session
construction and let AQE own runtime parallelism instead:

- Adaptive Query Execution on (runtime coalescing + skew-join splitting),
  so partition counts track data size at any scale factor, 0.001 → 100 TB.
- Arrow on for any pandas interchange (the reference pays row-at-a-time
  serialization for every ``toPandas()``).
- ``spark.sql.shuffle.partitions`` seeded from core count; AQE coalesces
  down, and on a real cluster this would be executors*cores*2-3.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  across engines (DuckDB oracle comparisons, parquet round-trips).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Core count the harness gives us (``SPARK_GRAFT_CPUS``), else the
    cores this process may run on: oversubscribing a small host buries
    per-query changes in scheduling noise."""
    try:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        return len(os.sched_getaffinity(0))


def build_session(
    app_name: str = "sparkprep",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    ui: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    On a real cluster the same defaults apply; only ``master`` changes.
    """
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        # 2x cores: enough tasks for AQE to coalesce, not so many that
        # scheduling overhead dominates at small SF. On a 1000-executor
        # cluster this would be sized to ~2-3x total cores instead.
        shuffle_partitions = max(cores * 2, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # local-mode niceties; harmless on a cluster
        .config("spark.driver.memory", os.environ.get("SPARKPREP_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def tune_for_engine(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an EXISTING session.

    The correctness driver hands us its own SparkSession; static conf
    (driver memory, master) is out of our hands, but runtime SQL conf is
    not. Called by ``sparkprep.queries.t`` on every table read, so query
    semantics (timezone) and plans (AQE) are consistent no matter who
    built the session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    return spark
