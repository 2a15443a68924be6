"""Seeded TPC-H-shaped input lake for the benchmark.

Writes the ten tables the program reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
parquet file each, with the column names and types of the program's
test lake. Row counts follow the test lake's scale-factor rule
(lineitem = 6e6 x sf). Every value is drawn from one
``numpy.random.default_rng(seed)``, so the same ``(sf, seed)`` writes the
same rows.

Only the shape the program depends on is reproduced: 5 regions (the
synthetic providers), 25 nations, near-duplicate documents (about 5 % are
an earlier document plus a ``dup`` token), unit-norm 64-d embeddings
clustered by label, and a time-ordered event stream.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPE = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(8, 100, n)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in lengths]
    # ~5 % near-duplicates: an earlier document with a trailing marker
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = 0.15 * centers[labels] + rng.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, c), pa.string()),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
    })
    p = n["part"]
    names = [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, p), rng.choice(_NOUN, p))]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)], pa.string()),
        "p_type": pa.array(rng.choice(_PTYPE, p), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)),
    })
    o = n["orders"]
    orderdate = _EPOCH_1995 + rng.integers(0, 2404, o) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, o)),
        "o_orderdate": _ts(orderdate),
        "o_orderpriority": pa.array(rng.choice(_PRIORITY, o), pa.string()),
    })
    li = n["lineitem"]
    l_order = rng.integers(0, o, li)
    qty = rng.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(19.0, 2100.0, li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], li), pa.string()),
        "l_shipdate": _ts(orderdate[l_order] + rng.integers(1, 122, li) * _DAY_US),
    })
    e = n["events"]
    users = max(15, c // 10)
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, e))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, e), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENTS, e), pa.string()),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, e), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string()),
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_lake(out_dir: str, sf: float, seed: int) -> dict[str, dict[str, int]]:
    """Write the lake; returns its layout fingerprint
    (table -> rows, row groups, bytes)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return layout_fingerprint(out_dir)


def layout_fingerprint(lake_dir: str) -> dict[str, dict[str, int]]:
    out = {}
    for name in TABLES:
        path = os.path.join(lake_dir, f"{name}.parquet")
        meta = pq.ParquetFile(path).metadata
        out[name] = {
            "rows": meta.num_rows,
            "row_groups": meta.num_row_groups,
            "bytes": os.path.getsize(path),
        }
    return out
