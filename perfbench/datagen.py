"""Deterministic sf0.1-shaped tables for the benchmark.

The benchmark may read nothing outside its checkout, so it generates its own
copy of the ten tables the catalog and the feed read (same names, columns
and types as the project's test data; row counts at scale factor 0.1).
The tables are fixed: a run's ``--seed`` chooses windows and orders over
them, never their contents, so one build serves every run.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated contents change, so a stale cache is rebuilt
VERSION = "1"
N_EVENTS = 100_000
WORDS = (
    "a the spark stream batch line column order small big sort fast slow value "
    "scan hash group agg filter query key window row part table merge data join "
    "vector customer"
).split()
EVENT_TYPES = np.array(["view", "click", "error", "signup", "purchase"])


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"), pa.timestamp("us"))


def _days(start: str, days: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(start, "us") + (days.astype(np.int64) * 86_400_000_000).astype(
        "timedelta64[us]"), pa.timestamp("us"))


def tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust, n_supp, n_part, n_ord, n_li = 15_000, 1_000, 20_000, 150_000, 600_000
    segs = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["large", "hot", "blue", "small", "red", "cold", "green", "tiny"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    ptypes = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"])
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_li)),
    })
    secs = np.sort(rng.uniform(0, 30 * 86_400, N_EVENTS))
    out["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts("2024-01-01", secs),
        "user_id": rng.integers(0, 1500, N_EVENTS),
        "event_type": EVENT_TYPES[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(np.minimum(rng.exponential(50.0, N_EVENTS), 560.0), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)],
    })
    n_doc = 5_000
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(8, 100))])
             for _ in range(n_doc)]
    for i in rng.choice(np.arange(100, n_doc), 60, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"  # near-duplicates
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * n_doc,
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_emb, dim = 2_000, 64
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.15, (10, dim))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n_emb, dim))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def ensure(sf_dir: str) -> str:
    """Write the tables under ``sf_dir`` unless this version is already there."""
    stamp = os.path.join(sf_dir, "VERSION")
    if os.path.exists(stamp) and open(stamp).read() == VERSION:
        return sf_dir
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in tables(np.random.default_rng(42)).items():
        tmp = os.path.join(sf_dir, f".{name}.parquet")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(sf_dir, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(VERSION)
    return sf_dir
