"""Seeded generator for the star schema, events, documents and embeddings
tables the registry's queries read, in the column layout and value domains
of the engine's test data (one parquet file per table)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = pd.Timestamp(lo), pd.Timestamp(hi)
    span = (hi_d - lo_d).days
    return (lo_d + pd.to_timedelta(rng.integers(0, span + 1, n), unit="D")).values


def _pick(rng, values: list, n: int) -> np.ndarray:
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(50_000 * sf)
    i32 = np.int32
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": rng.integers(0, 5, 25).astype(i32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, [f"{a} {b}" for a in ADJS for b in NOUNS], n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0,
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    t0 = pd.Timestamp("2024-01-01").value // 1000
    ts_us = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.to_datetime(ts_us, unit="us"),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_words = rng.integers(10, 100, n_doc)
    words = _pick(rng, WORDS, int(n_words.sum()))
    cuts = np.cumsum(n_words)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": text,
        "lang": _pick(rng, LANGS, n_doc),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n_doc),
        "n_chars": np.array([len(s) for s in text], dtype=np.int64),
    })
    out = {name: pa.Table.from_pandas(df, preserve_index=False) for name, df in t.items()}
    vec = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), EMBED_DIM)
        .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(i32)),
    })
    return out


def stage(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       coerce_timestamps="us")
