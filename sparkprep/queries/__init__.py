"""Query registry backing ``__spark_entry__``.

Each submodule exports ``QUERIES: dict[str, fn(spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[str, str]`` (DuckDB SQL). Keys missing from ORACLES get
the driver's weaker rows-only check (genuinely non-SQL-expressible ops).

Parity conventions (driver hashes values order-insensitively, columns
sorted by name):
- alias every computed column identically on both sides;
- ``round()`` float aggregates on both sides (engine summation order
  differs at ~1e-12);
- cast computed ints to BIGINT both sides;
- load every table through ``t``: it pins the engine's session contract
  (UTC time zone, AQE on; ``session.tune_for_engine``) before the read,
  so query bodies never set session conf themselves.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkprep.session import tune_for_engine

_D18 = "decimal(18,8)"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_for_engine(spark)
    return _read(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _dec_round(col, n: int):
    """DECIMAL(18,8)-recast round, emitted as DOUBLE (the cross-engine
    round-half discipline, CLAUDE.md)."""
    return F.round(col.cast(_D18), n).cast("double")


def _read(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read that normalizes ``ts`` to ONE Spark type.

    The events table's physical encoding has flipped between testdata
    generations (timestamp[ns] → timestamp[us]); this loader is the
    single place that absorbs that drift. Contract: whatever the file
    stores, a ``ts`` column comes out as session-TZ ``TimestampType``
    (``t`` pins the session to UTC first, so values match DuckDB's
    naive microsecond timestamps).

    - timestamp[ns]: Spark's reader rejects NANOS outright
      ([PARQUET_TYPE_ILLEGAL]); read nanos as LONG (legacy conf) and
      rebuild with integer division (``div 1000`` — exact on int64;
      a double roundtrip would lose precision above 2^53 ns),
      truncating toward zero exactly like DuckDB's ns→us conversion.
    - timestamp[us] (no tz): Spark reads TIMESTAMP_NTZ; cast to
      TIMESTAMP (identity under the pinned-UTC session). Spark 4
      forbids NTZ→numeric casts, so leaving NTZ leak into queries
      crashes epoch arithmetic — normalize here, once.
    """
    try:
        df = spark.read.parquet(path)
        # force schema resolution now; the error surfaces lazily otherwise
        df.schema
        probe_nanos = any(t == "bigint" and c == "ts" for c, t in df.dtypes)
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        probe_nanos = True
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true" and probe_nanos:
        for c, typ in df.dtypes:
            if c == "ts" and typ == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for c, typ in df.dtypes:
        if c == "ts" and typ == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def registry():
    from sparkprep.queries import (
        advanced,
        cleaning,
        corpus,
        governance,
        llmprep,
        relational,
        relational_ext,
        scale_ops,
        stat_tests,
        temporal_grouped,
        textops,
    )

    merged_q: dict = {}
    oracles: dict = {}
    for mod in (textops, llmprep, temporal_grouped, relational_ext, cleaning, relational, scale_ops, corpus, governance, advanced, stat_tests):
        merged_q.update(mod.QUERIES)
        oracles.update(mod.ORACLES)
    # The correctness driver adjudicates the FIRST 50 registry entries
    # per round: names absent from every recorded CORRECTNESS_r*.json
    # go first, in module-merge order, so a new query can never be
    # stranded outside the adjudication window; then everything else
    # LEAST-RECENTLY-VERIFIED first (VERDICT r8 #5: the window
    # re-confirms the stalest greens against the current testdata
    # generation). Every query keeps local sf0.001 oracle coverage
    # regardless (tests/test_entry_oracle.py).
    last_round = _last_verified_round()
    fresh = [n for n in merged_q if n not in last_round]
    # ascending last round; sorted() is stable, so ties keep
    # module-merge order and the rotation stays deterministic
    stale = sorted(
        (n for n in merged_q if n in last_round), key=last_round.__getitem__
    )
    queries: dict = {name: merged_q[name] for name in (*fresh, *stale)}
    return queries, oracles


def _last_verified_round() -> dict:
    """Map query name → LAST round it appears in a repo-root
    CORRECTNESS_r*.json (empty dict if none readable). The round index
    comes from the filename; unparsable names count as round 0 so a
    stray file can only make a query look stale, never fresh."""
    import glob
    import json
    import re

    # repo root = two levels above this file's PACKAGE directory
    # (sparkprep/queries/__init__.py → sparkprep/queries → sparkprep → repo)
    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    last: dict = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                names = json.load(fh).keys()
        except Exception:
            continue
        for n in names:
            if last.get(n, -1) < rnd:
                last[n] = rnd
    return last


def _driver_verified_names() -> set:
    """Union of query names across every CORRECTNESS_r*.json the driver
    has recorded in the repo root (empty set if none readable)."""
    return set(_last_verified_round())
