"""Seeded generator for the engine's ten input tables.

Writes the same table names, column names and parquet types the engine's
loaders and DuckDB oracles read (a TPC-H-style star schema, an ``events``
stream table, a ``documents`` corpus and an ``embeddings`` table), with
row counts set by a scale factor. The same seed and sizes give
byte-identical row contents.

Distributions follow the engine's reference fixtures: uniform foreign
keys, exponential event inter-arrival (mean 26 s) and event values,
a 31-token document vocabulary with 5 % near-duplicate documents (one
token replaced by ``dup``), and unit-norm 64-dimensional embeddings.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


@dataclass(frozen=True)
class Sizes:
    """Row counts per table. ``for_sf`` mirrors the reference fixtures."""

    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    events: int
    users: int
    documents: int
    embeddings: int

    @classmethod
    def for_sf(cls, sf: float) -> "Sizes":
        return cls(
            customer=int(150_000 * sf),
            supplier=max(10, int(10_000 * sf)),
            part=int(200_000 * sf),
            orders=int(1_500_000 * sf),
            lineitem=int(6_000_000 * sf),
            events=int(1_000_000 * sf),
            users=max(15, int(15_000 * sf)),
            documents=max(500, int(50_000 * sf)),
            embeddings=max(500, int(20_000 * sf)),
        )


def _ts_us(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(_VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(vocab), int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(vocab[words[bounds[i]:bounds[i + 1]]]) for i in range(n)]
    # 5 % near duplicates: a copy of an earlier document with one token
    # replaced by "dup"; a few exact copies besides
    n_near = n // 20
    targets = rng.choice(np.arange(1, n), n_near + n // 500, replace=False)
    for j, t in enumerate(targets):
        src = int(rng.integers(0, t))
        toks = texts[src].split(" ")
        if j < n_near:
            toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[t] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def events_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    gaps = np.maximum(rng.exponential(26e6, n), 1).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts_us("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def _customer(r: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(r, _SEGMENTS, n),
    })


def _supplier(r: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
    })


def _part(r: np.random.Generator, n: int) -> pa.Table:
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": _pick(r, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
        "p_type": _pick(r, _PTYPES, n),
        "p_size": pa.array(r.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)),
    })


def _orders(r: np.random.Generator, n: int, customers: int) -> pa.Table:
    days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, customers, n), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n, [0.49, 0.49, 0.02]),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n)),
        "o_orderdate": _ts_us("1995-01-01", r.integers(0, days + 1, n) * _DAY_US),
        "o_orderpriority": _pick(r, _PRIORITIES, n),
    })


def _lineitem(r: np.random.Generator, s: Sizes) -> pa.Table:
    n = s.lineitem
    days = int((np.datetime64("2001-11-04") - np.datetime64("1995-01-02")).astype(int))
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, s.orders, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, s.part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, s.supplier, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": _ts_us("1995-01-02", r.integers(0, days + 1, n) * _DAY_US),
    })


def generate(out_dir: str, seed: int, sizes: Sizes,
             only: tuple[str, ...] = TABLES) -> dict[str, int]:
    """Write the tables named in ``only`` as ``<out_dir>/<name>.parquet``;
    return their row counts.

    Each table draws from its own child generator, so changing one
    table's size, or which tables are written, leaves the other tables'
    rows unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    r = dict(zip(TABLES, np.random.default_rng(seed).spawn(len(TABLES))))
    s = sizes
    build = {
        "region": lambda: pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": lambda: pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": lambda: _customer(r["customer"], s.customer),
        "supplier": lambda: _supplier(r["supplier"], s.supplier),
        "part": lambda: _part(r["part"], s.part),
        "orders": lambda: _orders(r["orders"], s.orders, s.customer),
        "lineitem": lambda: _lineitem(r["lineitem"], s),
        "events": lambda: events_table(r["events"], s.events, s.users),
        "documents": lambda: _documents(r["documents"], s.documents),
        "embeddings": lambda: _embeddings(r["embeddings"], s.embeddings),
    }
    out = {}
    for name in only:
        tbl = build[name]()
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        out[name] = tbl.num_rows
    return out
