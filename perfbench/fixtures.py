"""Seeded fixture tables for the ``corpus_dedup`` workload.

The registered queries read ten parquet tables (``catalog.TABLES``): a
TPC-H-like star schema, an ``events`` table, ``documents`` and
``embeddings``. This writes the same schemas, one file per table, from a
seed, with the row counts in ``SIZES``. Documents are drawn from a small
vocabulary and one in twenty copies an earlier document with one word
changed, so the dedup queries find near-duplicates.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table; the scale of the repository's sf0.01 fixture.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_VOCAB = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold")
_NOUN = ("bolt", "gear", "anvil", "rod", "plate", "ring", "widget")
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
_LANGS = ("en", "zh", "de", "es", "fr")
_LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, c)],
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(p), pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 7, p), rng.integers(0, 7, p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": np.array(_TYPES)[rng.integers(0, 6, p)],
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, o)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
            "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2404, o) * _DAY_US),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, o)],
        }
    )
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, li)],
            "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2499, li) * _DAY_US),
        }
    )
    e = n["events"]
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(e), pa.int64()),
            "ts": _ts(
                _EPOCH_2024_US + np.sort(rng.integers(0, 30 * _DAY_US, e))
            ),
            "user_id": pa.array(rng.integers(0, max(1, e // 66), e), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, e)],
            "value": _money(rng, 0.01, 490.02, e),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng, d: int) -> pa.Table:
    texts: list[str] = []
    for i in range(d):
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[w] for w in rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(range(d), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, size=d, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, m: int) -> pa.Table:
    centers = rng.normal(0.0, 0.1, (10, 64))
    labels = rng.integers(0, 10, m)
    vecs = (centers[labels] + rng.normal(0.0, 0.06, (m, 64))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(m), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
