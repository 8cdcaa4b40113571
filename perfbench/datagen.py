"""Seeded generator for the ten fixture tables the query registry reads.

The shapes follow the repository's parquet fixtures (FIXTURES.md): a
TPC-H-like star schema, a clickstream ``events`` table, word-soup
``documents`` with ~5% near-duplicates, and unit-norm 64-d
``embeddings``. Row counts scale with ``sf`` the same way; values are
drawn uniformly from the same domains, so plans and costs match while
the rows themselves depend only on ``seed``.

One parquet file per table, one row group each (single-file scans plan
one task, as on the fixtures).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "es", "zh", "de", "fr")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")
_PADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "green")
_PNOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_DUP_SHARE = 0.05
TABLES = (
    "region",
    "nation",
    "supplier",
    "customer",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    def s(n: float) -> int:
        return max(1, int(round(n * sf)))

    return {
        "region": 5,
        "nation": 25,
        "supplier": s(10_000),
        "customer": s(150_000),
        "part": s(200_000),
        "orders": s(1_500_000),
        "lineitem": s(6_000_000),
        "events": s(1_000_000),
        "users": s(15_000),
        "documents": max(500, s(50_000)),
        "embeddings": max(500, s(20_000)),
    }


def _cat(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    d = lo + rng.integers(0, span + 1, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(_WORDS), size=int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [
        " ".join(_WORDS[w] for w in words[e - k : e])
        for e, k in zip(ends, lengths)
    ]
    # Near-duplicates: a copy of another document with one word appended.
    dups = rng.choice(n, size=int(n * _DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for d, o in zip(dups, rng.choice(originals, size=len(dups))):
        texts[d] = texts[o] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _cat(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, _DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(x.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * _DIM + 1, _DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i64 = lambda k: pa.array(np.arange(k, dtype=np.int64))  # noqa: E731
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(_REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
    }
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": i64(k),
            "s_name": _names("Supplier", k),
            "s_nationkey": pa.array(rng.integers(0, 25, size=k).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
        }
    )
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": i64(k),
            "c_name": _names("Customer", k),
            "c_nationkey": pa.array(rng.integers(0, 25, size=k).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
            "c_mktsegment": _cat(rng, _SEGMENTS, k),
        }
    )
    k = n["part"]
    pnames = [f"{a} {b}" for a in _PADJ for b in _PNOUN]
    out["part"] = pa.table(
        {
            "p_partkey": i64(k),
            "p_name": _cat(rng, pnames, k),
            "p_brand": _cat(rng, [f"Brand#{i}" for i in range(1, 26)], k),
            "p_type": _cat(rng, _PTYPES, k),
            "p_size": pa.array(rng.integers(1, 51, size=k).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(k) % 1000) / 10.0),
        }
    )
    k = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": i64(k),
            "o_custkey": pa.array(rng.integers(0, n["customer"], size=k)),
            "o_orderstatus": _cat(rng, ("O", "P", "F"), k),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, k)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", k),
            "o_orderpriority": _cat(rng, _PRIORITIES, k),
        }
    )
    k = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], size=k)),
            "l_partkey": pa.array(rng.integers(0, n["part"], size=k)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], size=k)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=k).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, size=k).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, k)),
            "l_discount": pa.array(rng.integers(0, 11, size=k) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=k) / 100.0),
            "l_returnflag": _cat(rng, ("A", "N", "R"), k),
            "l_linestatus": _cat(rng, ("F", "O"), k),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", k),
        }
    )
    k = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, size=k))
    out["events"] = pa.table(
        {
            "event_id": i64(k),
            "ts": pa.array(t0 + offs.astype("timedelta64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], size=k)),
            "event_type": _cat(rng, _EVENT_TYPES, k),
            "value": pa.array(np.round(rng.exponential(50.0, size=k), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, size=k)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write(out_dir: str, seed: int, sf: float) -> str:
    """Write every table to ``out_dir/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(
            tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30
        )
    return out_dir
