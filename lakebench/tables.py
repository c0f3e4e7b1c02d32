"""Seeded generator for the tables the headline queries read.

The shapes follow the synthetic sf0.01 tables of TESTDATA.md (TPC-H-like star
schema, an ``events`` stream, bag-of-words ``documents`` with appended-token
near duplicates, unit-norm ``embeddings``), so the registry's queries and
their DuckDB oracles run unchanged on the output. The seed changes every
value; the row counts stay fixed, so two seeds cost about the same to query.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 100,
    "part": 2000,
    "customer": 1500,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EMBED_DIM = 64
DUPS = 30
USERS = 150
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _ts(rng, start: dt.datetime, span_s: float, n: int, day: bool = False):
    secs = rng.uniform(0, span_s, n)
    if day:
        secs = np.floor(secs / 86400) * 86400
    us = (secs * 1e6).astype("int64") + int(start.timestamp() * 1e6)
    return pa.array(us, pa.timestamp("us"))


def _tables(rng) -> dict[str, dict]:
    n = ROWS
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n["supplier"]), 2),
    }
    adj = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
    noun = ["widget", "bolt", "gear", "ring", "plate", "anvil", "gizmo", "rod"]
    t["part"] = {
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [
            f"{adj[a]} {noun[b]}"
            for a, b in rng.integers(0, 8, (n["part"], 2))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": list(
            rng.choice(
                ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"],
                n["part"],
            )
        ),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n["part"]) * 0.1, 2),
    }
    t["customer"] = {
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n["customer"]), 2),
        "c_mktsegment": list(
            rng.choice(
                ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"],
                n["customer"],
            )
        ),
    }
    years = 6.8 * 365 * 86400
    t["orders"] = {
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n["orders"])),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n["orders"]), 2),
        "o_orderdate": _ts(rng, dt.datetime(1995, 1, 1), years, n["orders"], True),
        "o_orderpriority": list(
            rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n["orders"],
            )
        ),
    }
    qty = rng.integers(1, 51, n["lineitem"]).astype(float)
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n["lineitem"]), 2),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
        "l_returnflag": list(rng.choice(["R", "A", "N"], n["lineitem"])),
        "l_linestatus": list(rng.choice(["O", "F"], n["lineitem"])),
        "l_shipdate": _ts(rng, dt.datetime(1995, 1, 2), years, n["lineitem"], True),
    }
    ev_ts = _ts(rng, dt.datetime(2024, 1, 1), 30 * 86400, n["events"])
    t["events"] = {
        "event_id": pa.array(range(n["events"]), pa.int64()),
        "ts": ev_ts.take(pa.array(np.argsort(ev_ts.to_numpy(), kind="stable"))),
        "user_id": pa.array(rng.integers(0, USERS, n["events"]), pa.int64()),
        "event_type": list(
            rng.choice(["signup", "error", "click", "view", "purchase"], n["events"])
        ),
        "value": np.round(rng.exponential(50, n["events"]) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
    }
    # DUPS documents in the second half repeat a distinct first-half
    # document of at least 40 words plus a " dup" marker: every seed has the
    # same near-duplicate structure (DUPS clusters of two), so the
    # dedup/connected-components queries do the same rounds of work
    half = n["documents"] // 2
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
        for _ in range(n["documents"])
    ]
    long_docs = [i for i in range(half) if len(texts[i].split()) >= 40]
    bases = rng.choice(long_docs, DUPS, replace=False)
    slots = rng.choice(np.arange(half, n["documents"]), DUPS, replace=False)
    for base, slot in zip(bases, slots):
        texts[slot] = texts[base] + " dup"
    t["documents"] = {
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": texts,
        "lang": list(
            rng.choice(["en", "zh", "es", "de", "fr"], n["documents"],
                       p=[0.44, 0.14, 0.14, 0.14, 0.14])
        ),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    }
    labels = rng.integers(0, 10, n["embeddings"])
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centers[labels] * 0.3 + rng.normal(0, 1, (n["embeddings"], EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    return t


def write_tables(dest: str, seed: int) -> dict[str, int]:
    """Write one parquet file per table under ``dest``; returns row counts.
    The same seed writes the same values."""
    os.makedirs(dest, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = {}
    for name, cols in _tables(rng).items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
