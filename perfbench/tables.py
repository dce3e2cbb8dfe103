"""Seeded generator for the ten query tables.

The registered queries read ``<dir>/<table>.parquet`` for a TPC-H-like
star schema (region, nation, customer, supplier, part, orders, lineitem)
plus ``events``, ``documents`` and ``embeddings``. This module writes
those files with numpy and pyarrow, so the benchmark needs no fixture
outside its checkout. Row counts scale with ``sf`` the way the engine's
sf0.001/sf0.01/sf0.1 fixtures do (lineitem = 6M x sf); the text and
vector corpus (documents, embeddings) scales with its own ``corpus_sf``,
so CPU-heavy corpus work can be sized apart from the relational tables.
Every table
is written as ONE parquet row group, as the fixtures are: map stages
over a table then run as one task.

Same ``(sf, corpus_sf, seed)`` gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "small", "red", "green", "cold", "shiny"]
_PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw"]
_PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_VOCAB = (
    "the a and of to in is it data spark table row scan key value part "
    "hash merge batch line sort window column join small query big group "
    "stream filter order vector model train corpus token fast slow agg "
    "customer"
).split()

_US_PER_DAY = 86_400 * 1_000_000


def _epoch_us(day: dt.date) -> int:
    return (day - dt.date(1970, 1, 1)).days * _US_PER_DAY


def _days(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    """Uniform midnight timestamps in ``[lo, hi]`` as timestamp[us]."""
    d = rng.integers(0, (hi - lo).days + 1, n, dtype=np.int64)
    return pa.array(_epoch_us(lo) + d * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(sf: float, corpus_sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table as an in-memory arrow table."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 30)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 40)
    n_ord = max(int(1_500_000 * sf), 150)
    n_line = max(int(6_000_000 * sf), 600)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(n_ev // 66, 10)
    n_docs = max(int(50_000 * corpus_sf), 50)
    n_vec = max(int(20_000 * corpus_sf), 20)
    i32 = pa.int32()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _keyed_names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _keyed_names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 7, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    # events: sorted microsecond timestamps over 30 days of 2024
    span_us = 30 * _US_PER_DAY
    ts = np.sort(rng.integers(0, span_us, n_ev, dtype=np.int64))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(_epoch_us(dt.date(2024, 1, 1)) + ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = np.array(_VOCAB)
    lengths = rng.integers(10, 100, n_docs)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n_docs)]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    # embeddings: unit vectors around one centre per label
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 1.5, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": labels.astype(np.int32),
    })
    return out


def write_tables(out_dir: str, sf: float, corpus_sf: float, seed: int) -> str:
    """Write every table to ``out_dir/<name>.parquet`` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, corpus_sf, seed).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(table.num_rows, 1),
        )
    return out_dir
