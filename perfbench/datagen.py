"""Deterministic synthetic inputs for the benchmark.

The engine reads a directory of parquet tables (a TPC-H-like star schema,
an ``events`` stream and the LLM-pipeline ``documents``/``embeddings``
corpus). The benchmark cannot rely on any dataset outside its checkout, so
this module writes one with the same schema and value domains as the
engine's test fixtures at scale factor 0.01 (60k lineitem rows, 1.5k
customers, 500 documents). The tables are a pure function of
``DATA_SEED``; the per-run ``--seed`` only drives request parameters.

Timestamps (``o_orderdate``, ``l_shipdate``, ``events.ts``) are written as
``timestamp[us]``, as in the engine's reference datasets at every scale, so
the engine reads them natively. FIXTURES.md lists ``timestamp[ns]`` and
``timestamp[ms]`` from an earlier generation of those files; the catalog's
``nanosAsLong`` conversion of ``events.ts`` only applies to such files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
DATA_VERSION = "v1"

N_REGION = 5
N_NATION = 25
N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
EMB_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "red", "blue", "green", "steel", "brass", "large", "tiny"]
P_NOUN = ["ring", "widget", "bolt", "gear", "valve", "pipe", "spring", "clip"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join small big data column query filter group "
    "order stream vector customer"
).split()

ORDER_START = np.datetime64("1995-01-01")
ORDER_DAYS = int((np.datetime64("2001-08-01") - ORDER_START).astype(int))
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, ORDER_DAYS + 1, n)
    return pa.array((ORDER_START + days).astype("datetime64[us]"), pa.timestamp("us"))


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(N_REGION), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(N_NATION), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(N_NATION)],
            "n_regionkey": pa.array([i % N_REGION for i in range(N_NATION)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, N_NATION, N_CUSTOMER), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, N_NATION, N_SUPPLIER), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(N_PART), pa.int64()),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(P_TYPES, N_PART),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": np.round(900.0 + 0.1 * (np.arange(N_PART) % 1000), 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _dates(rng, N_ORDERS),
            "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
        }
    )
    qty = rng.integers(1, 51, N_LINEITEM).astype(float)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, N_LINEITEM), 2),
            "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
            "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
            "l_shipdate": _dates(rng, N_LINEITEM),
        }
    )
    ts = EVENT_START + np.sort(rng.integers(0, EVENT_SPAN_US, N_EVENTS)).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
            "value": _money(rng, 0.01, 500.0, N_EVENTS),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts = [
        " ".join(rng.choice(VOCAB, int(n)))
        for n in rng.integers(10, 90, N_DOCS)
    ]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCS, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(size=(10, EMB_DIM))
    vecs = centers[labels] + 0.5 * rng.normal(size=(N_VECS, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32) for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def ensure_dataset(root: str) -> str:
    """Write the dataset under ``root`` once; return its directory."""
    path = os.path.join(root, f"data-{DATA_VERSION}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(np.random.default_rng(DATA_SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, path)
    return path
