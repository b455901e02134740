"""Seeded generator for the ten TPC-H-ish fixture tables.

The catalog reads its inputs as ``<sf_dir>/<table>.parquet``. The
benchmark must not depend on fixture files outside its checkout, so it
writes its own from ``--seed``: the same (seed, sf) gives byte-identical
tables. Schemas, key ranges and value domains follow FIXTURES.md §B,
including the properties some catalog queries depend on: duplicate
``(l_orderkey, l_linenumber)`` lineitems, ``ts``-sorted events with a JSON
``props`` column, ~5% near-duplicate documents (a copy of an earlier
document with `` dup`` appended) and unit-norm 64-d embeddings drawn
around ten label centres.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_ORDER_EPOCH = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_EVENT_EPOCH_US = np.datetime64("2024-01-01T00:00:00", "us")
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def table_sizes(sf: float) -> dict[str, int]:
    small_docs = sf <= 0.01
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": 500 if small_docs else round(50_000 * sf),
        "embeddings": 500 if small_docs else 2_000,
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    np_ = n["part"]
    pk = np.arange(np_, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), np_)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, np_)
        ],
        "p_type": np.array(_PTYPES)[rng.integers(0, len(_PTYPES), np_)],
        "p_size": rng.integers(1, 51, np_, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    no = n["orders"]
    odays = rng.integers(0, _ORDER_DAYS, no)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, no),
        "o_orderdate": pa.array(
            (_ORDER_EPOCH + odays).astype("datetime64[us]"), pa.timestamp("us")
        ),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl, dtype=np.int64)
    ship = odays[l_order] + rng.integers(1, 122, nl)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, np_, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            (_ORDER_EPOCH + ship).astype("datetime64[us]"), pa.timestamp("us")
        ),
    })
    ne = n["events"]
    offsets = np.sort(rng.integers(0, _EVENT_SPAN_US, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(_EVENT_EPOCH_US + offsets, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, nc // 10), ne, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv).astype(np.int32)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] * 0.15 + rng.normal(0.0, 1.0, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return out


def write_fixtures(out_dir: str, sf: float, seed: int) -> str:
    """Write every table to ``<out_dir>/<table>.parquet``; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
