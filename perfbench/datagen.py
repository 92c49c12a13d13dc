"""Seeded generator for the ten query-suite input tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one single-row-group parquet file each, with the
column names, types and value distributions of the engine's TPC-H-ish test
tables, so every registry query runs on them unchanged. Everything is drawn
from ``numpy`` generators seeded by the caller: the same ``(seed, sf)`` gives
byte-identical tables, and no wall-clock value is read.

Row counts at scale factor ``sf`` (sf0.01 is the benchmark's default):

    customer 150k·sf   supplier 10k·sf   part 200k·sf   orders 1.5M·sf
    lineitem 4 per order on average      events 1M·sf (users = customers/10)
    documents max(500, 50k·sf)           embeddings max(500, 20k·sf), 64-d
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_DATE_LO = np.datetime64("1995-01-01", "us")
_DATE_DAYS = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
_EVENTS_T0 = np.datetime64(datetime(2024, 1, 1), "us")
_EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    return _DATE_LO + rng.integers(0, _DATE_DAYS + 1, n).astype("timedelta64[D]")


def _documents(rng: np.random.Generator, n: int) -> dict[str, list]:
    """Word-salad documents; ~5% re-emit an earlier document plus a trailing
    ``dup`` token, so the dedup and near-duplicate queries find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors drawn around ten weak label centroids."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 0.02, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 0.125, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def generate(out_dir: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; return rows per table."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    n_users = max(15, n_cust // 10)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    partkey = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": partkey,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part).tolist(),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (partkey % 1000) * 0.1, 1),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _days(rng, n_line),
        }
    )
    ts = np.sort(rng.integers(0, _EVENTS_SPAN_US, n_evt)).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": _EVENTS_T0 + ts,
            "user_id": rng.integers(0, n_users, n_evt),
            "event_type": rng.choice(_EVENT_TYPES, n_evt).tolist(),
            "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    tables["documents"] = pa.table(_documents(rng, n_doc))
    tables["embeddings"] = _embeddings(rng, n_vec)

    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: tables[name].num_rows for name in TABLES}
