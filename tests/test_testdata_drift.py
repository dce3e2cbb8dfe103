"""Testdata-drift canary (VERDICT r2 #6).

The driver regenerated the testdata between rounds 1 and 2 and flipped
events.ts from timestamp[ns] to timestamp[us]; three sites with
hard-coded assumptions broke — one crash, one SILENT wrong answer
(streaming gaps compressed 1000x). These tests pin the loader contract
so the next regeneration fails loudly at pytest time, not inside the
driver's bench:

- pyarrow footer checks (no Spark job): every table exists with the
  expected column set; events.ts physical encoding is one the loaders
  are known to handle (naive ns or us — NOT tz-aware, which would flip
  DuckDB to TIMESTAMPTZ and break oracle parity).
- Spark checks: the batch loader and the streaming reader both yield
  session-TZ TimestampType for ts, and agree with each other and with
  DuckDB on actual epoch values.
"""

import glob
import os

import pyarrow.parquet as pq
import pytest

from sparkprep.queries import t

# Columns the loaders/queries rely on, per table (subset assertions —
# extra columns are fine, missing ones are drift).
EXPECTED_COLS = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey"},
    "part": {"p_partkey", "p_name", "p_type", "p_retailprice"},
    "orders": {"o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"},
    "lineitem": {"l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                 "l_linestatus", "l_shipdate"},
    "events": {"event_id", "ts", "user_id", "event_type", "value"},
    "documents": {"doc_id", "text", "lang"},
    "embeddings": {"vec_id", "embedding", "label"},
}

# ts encodings the batch loader (queries._read) AND the streaming reader
# (streaming.events.read_events_stream) are tested to normalize.
HANDLED_TS_UNITS = {"ns", "us"}


def _all_sf_dirs():
    dirs = sorted(glob.glob("/root/testdata/sf*"))
    return [d for d in dirs if os.path.isdir(d)] or [
        os.environ.get("SPARKPREP_TEST_SF_DIR", "/root/testdata/sf0.001")
    ]


@pytest.mark.parametrize("sfd", _all_sf_dirs())
def test_physical_schema_matches_loader_assumptions(sfd):
    for table, cols in EXPECTED_COLS.items():
        path = os.path.join(sfd, f"{table}.parquet")
        assert os.path.exists(path), f"{path} missing — testdata regenerated?"
        schema = pq.read_schema(path)
        missing = cols - set(schema.names)
        assert not missing, f"{table} lost columns {missing} — testdata drift"
    ts = pq.read_schema(os.path.join(sfd, "events.parquet")).field("ts").type
    assert str(ts).startswith("timestamp"), f"events.ts is {ts}, not a timestamp"
    assert ts.unit in HANDLED_TS_UNITS, (
        f"events.ts flipped to unit={ts.unit!r} — extend queries._read and "
        "streaming.events before trusting any timestamp query"
    )
    assert ts.tz is None, (
        f"events.ts became tz-aware ({ts.tz}) — DuckDB will read TIMESTAMPTZ "
        "and every timestamp oracle needs re-auditing"
    )


def test_batch_loader_normalizes_ts(spark, sf_dir):
    from pyspark.sql.types import TimestampType

    ev = t(spark, sf_dir, "events")
    assert ev.schema["ts"].dataType == TimestampType(), (
        f"loader yielded {ev.schema['ts'].dataType} for events.ts — "
        "the one-type contract is broken"
    )


def test_stream_and_batch_agree_on_epochs(spark, sf_dir, duck):
    """The round-2 silent bug in one assertion: min/max epoch micros from
    the streaming reader's schema path must equal the batch loader's and
    DuckDB's. A unit mix-up shifts these by ~1000x."""
    from pyspark.sql import functions as F

    from sparkprep.session import tune_for_engine
    from sparkprep.streaming.events import _ts_encoding, events_raw_schema

    tune_for_engine(spark)
    batch = t(spark, sf_dir, "events").agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).collect()[0]

    # the streaming schema applied through the BATCH reader reproduces the
    # stream's decode path without starting a query
    unit = _ts_encoding(os.path.join(sf_dir, "events.parquet"))
    raw = spark.read.schema(events_raw_schema(unit)).parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    if unit == "ns":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    stream_path = raw.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).collect()[0]

    oracle_lo, oracle_hi = duck.execute(
        "SELECT epoch_us(min(ts)), epoch_us(max(ts)) FROM events"
    ).fetchone()

    assert (batch.lo, batch.hi) == (stream_path.lo, stream_path.hi)
    assert (batch.lo, batch.hi) == (oracle_lo, oracle_hi)
