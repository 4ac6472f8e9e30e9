"""Seeded generator of the ten input tables the query functions read.

The tables have the schema, key ranges and value distributions of the
synthetic star schema the package is developed against (TPC-H-like
dims and facts, an ``events`` stream table, a small text corpus and a
64-d embedding set), so every query function runs on them unchanged.
Row counts scale with ``sf`` the same way: ``lineitem`` has 6M·sf
rows, ``events`` 1M·sf, and so on. The same ``(sf, seed)`` always
yields byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 24 * 3600 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_DAY_US = 24 * 3600 * 1_000_000


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(lo, hi + 1, n) * np.timedelta64(_DAY_US, "us")


def _pick(rng: np.random.Generator, choices, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def make_events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """``n`` events in event-time order over 30 days, distinct µs stamps."""
    offsets = np.sort(rng.choice(EVENTS_SPAN_US, n, replace=False))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(EVENTS_START + offsets.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(_VOCAB, dtype=object)
    texts: list[str] = []
    dup = rng.random(n) < 0.05
    for i in range(n):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n, p=_LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables for scale ``sf``; each table has its own stream
    of the seed, so adding rows to one leaves the others unchanged."""
    n = row_counts(sf)
    rngs = dict(zip(TABLES, (np.random.default_rng([seed, i]) for i in range(len(TABLES)))))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    out: dict[str, pa.Table] = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(_REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
    }
    r, c = rngs["customer"], n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": i64(np.arange(c)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": i32(r.integers(0, 25, c)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, c)),
            "c_mktsegment": _pick(r, _SEGMENTS, c),
        }
    )
    r, s = rngs["supplier"], n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": i64(np.arange(s)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": i32(r.integers(0, 25, s)),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, s)),
        }
    )
    r, p = rngs["part"], n["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": i64(np.arange(p)),
            "p_name": _pick(r, names, p),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, p)]),
            "p_type": _pick(r, _PTYPES, p),
            "p_size": i32(r.integers(1, 51, p)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(p) % 1000) / 10.0, 1)),
        }
    )
    r, o = rngs["orders"], n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": i64(np.arange(o)),
            "o_custkey": i64(r.integers(0, c, o)),
            "o_orderstatus": _pick(r, ("F", "O", "P"), o),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, o)),
            "o_orderdate": pa.array(_days(r, 0, 2404, o)),
            "o_orderpriority": _pick(r, _PRIORITIES, o),
        }
    )
    r, li = rngs["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": i64(r.integers(0, o, li)),
            "l_partkey": i64(r.integers(0, p, li)),
            "l_suppkey": i64(r.integers(0, s, li)),
            "l_linenumber": i32(r.integers(1, 8, li)),
            "l_quantity": pa.array(r.integers(1, 51, li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, li)),
            "l_discount": pa.array(np.round(r.uniform(0, 0.1, li), 2)),
            "l_tax": pa.array(np.round(r.uniform(0, 0.08, li), 2)),
            "l_returnflag": _pick(r, ("A", "N", "R"), li),
            "l_linestatus": _pick(r, ("F", "O"), li),
            "l_shipdate": pa.array(_days(r, 1, 2499, li)),
        }
    )
    out["events"] = make_events(rngs["events"], n["events"], c // 10)
    out["documents"] = _documents(rngs["documents"], n["documents"])
    out["embeddings"] = _embeddings(rngs["embeddings"], n["embeddings"])
    return out


def write_tables(sf_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write one ``<table>.parquet`` file per table under ``sf_dir``;
    returns the row count of each."""
    os.makedirs(sf_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
