"""Seeded generators for the benchmark's inputs.

``write_query_tables`` writes the ten tables the query registry reads
(``region nation customer supplier part orders lineitem events documents
embeddings``, one parquet file each) with the same schema, value domains and
row counts per scale factor as the fixed test fixtures, so every registry
query and its DuckDB oracle run unchanged on them.  All randomness comes
from one ``numpy`` generator seeded with the benchmark seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "a the data query small row slow stream filter sort hash batch big group "
    "order column part table join window fast agg line spark value key scan "
    "merge customer vector"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"]
_SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    us = np.datetime64(base, "us") + (seconds * 1e6).astype("int64").astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    span = (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int)
    d = np.datetime64(lo, "D") + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near duplicate: an earlier document plus one appended token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_VOCAB, k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def query_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = "int32", "int64"
    t = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust).tolist()),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }
    pk = np.arange(n_part, dtype=i64)
    t["part"] = {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_P_TYPES, n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1)),
    }
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=i64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(i64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord).tolist()),
    }
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(i64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(i64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(i64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line).tolist()),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    }
    month = 30 * 24 * 3600.0
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=i64)),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, month, n_ev))),
        "user_id": pa.array(rng.integers(0, max(150, int(15_000 * sf)), n_ev).astype(i64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev).tolist()),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    }
    t["documents"] = _documents(rng, n_doc)
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb, dtype=i64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(i32)),
    }
    return {name: pa.table(cols) for name, cols in t.items()}


def write_query_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write the query tables for (sf, seed) into ``out_dir`` once; a
    ``_SUCCESS`` marker makes an interrupted write regenerate."""
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in query_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    open(marker, "w").close()
    return out_dir
