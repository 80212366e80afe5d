"""Seeded generator of the benchmark's input tables.

Writes the ten tables the registry reads (``streambench_spark.schemas.
TESTDATA_TABLES``), one parquet file each, with the row counts, column
types and value domains of the project's sf0.1 test data: a TPC-H-style
star schema, a 30-day ``events`` fact, a word-salad ``documents`` corpus
with planted near and exact duplicates, and unit-norm 64-d
``embeddings``. The same seed always writes the same rows; ``scale``
shrinks every table but ``region`` and ``nation`` (0.01 gives the shape
of sf0.001, used to warm the engine up).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at scale 1
SIZES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "users": 1_500,
    "documents": 5_000,
    "near_dups": 250,
    "exact_dups": 8,
    "embeddings": 2_000,
}
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

D_TPCH = dt.datetime(1995, 1, 1)
D_EVENTS = dt.datetime(2024, 1, 1)


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(micros.astype(np.int64) + epoch, type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    return _ts(D_TPCH, rng.integers(lo, hi + 1, n) * 86_400_000_000)


def _cents(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: dict) -> pa.Table:
    n_docs = n["documents"]
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for length in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + length]))
        pos += length
    # near duplicates copy an earlier document and append a marker word;
    # exact duplicates copy it verbatim
    targets = rng.choice(np.arange(n_docs // 2, n_docs), n["near_dups"] + n["exact_dups"],
                         replace=False)
    sources = rng.integers(0, n_docs // 2, len(targets))
    for k, (t, s) in enumerate(zip(targets, sources)):
        texts[t] = texts[s] + (" dup" if k < n["near_dups"] else "")
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    v = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n_vecs * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: max(2, round(v * scale)) for k, v in SIZES.items()}
    n_cust, n_supp, n_part = n["customer"], n["supplier"], n["part"]
    n_ord, n_li, n_ev = n["orders"], n["lineitem"], n["events"]
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": rng.choice(part_names, n_part),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, 0, 2403),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, 1, 2499),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            # sorted distinct instants over 30 days, in event_id order
            "ts": _ts(D_EVENTS, np.sort(rng.choice(30 * 86_400_000_000, n_ev,
                                                   replace=False))),
            "user_id": pa.array(rng.integers(0, n["users"], n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.minimum(np.round(rng.exponential(50.0, n_ev), 2), 560.21),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, n),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write(seed: int, out_dir: str, scale: float = 1.0) -> str:
    """Write every table for ``seed`` under ``out_dir``; return the dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
