"""Seeded input tables for the ``curation_queries`` workload.

The ten curation queries read the star-schema layout of TESTDATA.md
(``{dir}/{table}.parquet``, one file per table).  This module writes
the tables those queries read (all but ``region`` and ``supplier``)
from a seed alone, so the benchmark needs nothing outside its own
checkout.  Row counts are those of the gate's sf0.01 tables
(``SCALE``); every column follows the distribution measured on the
gate's sf0.01 and sf0.1 tables:

  * ``documents``: 10-99 words drawn uniformly from a 30-word
    vocabulary; exactly 1 in 20 documents is a copy of another
    document's current text plus the token ``dup`` (so copies of
    copies and, at larger sizes, exact duplicates arise as in the gate
    tables); ``source`` is ``src{doc_id % 20}``;
  * ``embeddings``: 64-dimensional Gaussian vectors scaled to unit
    length, with no planted neighbours;
  * dates, prices and event values: uniform day offsets from
    1995-01-01, uniform extended prices in [900, 105000), exponential
    event values with mean 50.

``perfbench/compare_tables.py`` prints the figures that check this
against a table directory (query output rows, near-duplicate pairs in
scope, text-length quantiles, per-query time shares).

Every value is a pure function of the seed: the same seed writes
byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = {
    "customer": 1_500,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}
TABLES = ("nation", "customer", "part", "orders", "lineitem",
          "events", "documents", "embeddings")

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join data query small big order group column "
    "filter stream customer vector"
).split()
DUP_EVERY = 20          # one document in 20 is a near copy
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EMBED_DIM = 64
DAY0 = dt.datetime(1995, 1, 1)


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    start = base.replace(tzinfo=dt.timezone.utc).timestamp()
    micros = int(start * 1_000_000) + (seconds * 1e6).astype(np.int64)
    return pa.array(micros, pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    """``n`` dates ``DAY0 + [lo, hi)`` days, uniform."""
    return _ts(DAY0, rng.integers(lo, hi, n).astype(np.float64) * 86_400)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100))))
             for _ in range(n)]
    for i in np.sort(rng.choice(n, n // DUP_EVERY, replace=False)):
        src = int(rng.integers(0, n - 1))
        src += src >= i                 # any document but i itself
        texts[i] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in
                          rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def build_tables(seed: int) -> dict[str, pa.Table]:
    """All input tables for one seed, in memory."""
    rng = np.random.default_rng([seed, 0x7AB1E5])
    n = SCALE
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n["customer"]), 2)),
        "c_mktsegment": pa.array(
            [SEGMENTS[k] for k in rng.integers(0, 5, n["customer"])]),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in rng.integers(0, 8, (n["part"], 2))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n["part"])]),
        "p_type": pa.array(
            [PART_TYPES[k] for k in rng.integers(0, len(PART_TYPES), n["part"])]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900 + np.arange(n["part"]) % 1000 * 0.1, 2)),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
        "o_orderstatus": pa.array(
            [("F", "O", "P")[k] for k in rng.integers(0, 3, n["orders"])]),
        "o_totalprice": pa.array(np.round(rng.uniform(1e3, 5e5, n["orders"]), 2)),
        "o_orderdate": _days(rng, n["orders"], 0, 2405),
        "o_orderpriority": pa.array(
            [PRIORITIES[k] for k in rng.integers(0, 5, n["orders"])]),
    })
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m)),
        "l_partkey": pa.array(rng.integers(0, n["part"], m)),
        "l_suppkey": pa.array(rng.integers(0, 100, m)),
        "l_linenumber": pa.array(rng.integers(1, 8, m).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900, 105_000, m), 2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, m)]),
        "l_linestatus": pa.array([("O", "F")[k] for k in rng.integers(0, 2, m)]),
        "l_shipdate": _days(rng, m, 1, 2500),
    })
    e = n["events"]
    events = pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  np.sort(rng.uniform(0, 30 * 86_400, e))),
        "user_id": pa.array(rng.integers(0, n["users"], e)),
        "event_type": pa.array(
            [EVENT_TYPES[k] for k in rng.integers(0, len(EVENT_TYPES), e)]),
        "value": pa.array(np.maximum(
            np.round(rng.exponential(50.0, e), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    return {
        "nation": nation, "customer": customer, "part": part,
        "orders": orders, "lineitem": lineitem, "events": events,
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_tables(seed: int, out_dir: str) -> int:
    """Write every table as ``{out_dir}/{name}.parquet``; returns the
    total row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows += table.num_rows
    return rows
