"""Seeded generator of the ten batch tables the registered queries read.

Same table names, column names and Arrow types as the star schema plus
``events``, ``documents`` and ``embeddings`` described in TESTDATA.md
and FIXTURES.md, with value domains in the same ranges (dates, flags,
the small text vocabulary, unit-norm 64-d vectors). The same seed gives
byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_WORDS = ["anvil", "blue", "bolt", "cold", "gear", "gizmo", "hot", "large",
              "new", "old", "plate", "red", "ring", "rod", "small", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order",
             "part", "query", "row", "scan", "slow", "small", "sort", "spark",
             "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


#: row counts of the sf0.01 and sf0.001 testdata dirs
SIZES = {
    "sf0.01": dict(cust=1500, supp=100, part=2000, ord=15000, line=60000, evt=10000),
    "sf0.001": dict(cust=150, supp=10, part=200, ord=1500, line=6000, evt=1000),
}


def generate(out_dir: str, seed: int, size: str = "sf0.01") -> dict[str, int]:
    """Write the ten tables under ``out_dir`` with the row counts of
    ``size``; returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = SIZES[size]
    n_cust, n_supp, n_part = n["cust"], n["supp"], n["part"]
    n_ord, n_line, n_evt = n["ord"], n["line"], n["evt"]
    n_doc, n_vec = 500, 500
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    words = rng.choice(PART_WORDS, (n_part, 2))
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in words],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_line) * _DAY_US),
    })
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_evt))),
        "user_id": pa.array(rng.integers(0, max(15, n_evt // 66), n_evt), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_evt).tolist(),
        "value": _money(rng, 0.01, 330.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    # ~5% of documents are near-copies of an earlier one plus a 'dup'
    # token, so the dedup plans have true positives to find
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(src[:-1] + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc).tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })

    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
