"""Seeded catalog fixture: the TPC-H-ish star schema, ``events``,
``documents`` and ``embeddings`` with the column names, types and value
domains of the catalog's fixture tables (one parquet file per table).

The star schema and ``events`` come from a fixed seed, so every run
reads the same rows; ``documents`` and ``embeddings`` are drawn from the
run's seed: documents with planted exact and near duplicates at the
fixture's rates, embeddings from ten Gaussian clusters.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXED_SEED = 42
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12))
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
DIM = 64


def _write(dst: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(dst, f"{name}.parquet"))


def _dates(rng, n, start: datetime.date, days: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, days, size=n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _star(dst: str, scale: int) -> None:
    rng = np.random.default_rng(FIXED_SEED)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_li = 1500 * scale, 6000 * scale
    _write(dst, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": list(REGIONS)})
    _write(dst, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(dst, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(dst, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(dst, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    _write(dst, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, datetime.date(1995, 1, 1), 2400),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    _write(dst, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _dates(rng, n_li, datetime.date(1995, 1, 2), 2500),
    })
    n_ev = 1000 * scale
    base = np.datetime64("2024-01-01T00:00:00", "ns")
    ts = base + rng.integers(0, 86400 * 30, n_ev).astype("timedelta64[s]").astype(
        "timedelta64[ns]")
    _write(dst, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 100 * scale, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })


def _documents(dst: str, n: int, rng) -> None:
    n_exact = max(1, round(n * 8 / 5000))
    n_near = max(1, round(n * 216 / 5000))
    n_base = n - n_exact - n_near
    base = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(10, 100)))
            for _ in range(n_base)]
    texts = list(base)
    texts += [base[i] for i in rng.integers(0, n_base, n_exact)]
    for i in rng.integers(0, n_base, n_near):
        words = base[i].split()
        for j in rng.integers(0, len(words), rng.integers(1, 3)):
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts.append(" ".join(words))
    texts = [texts[i] for i in rng.permutation(n)]
    langs, probs = zip(*LANGS)
    _write(dst, "documents", {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [str(x) for x in rng.choice(langs, size=n, p=probs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(dst: str, n: int, rng) -> None:
    centers = rng.normal(0.0, 0.1, (10, DIM))
    labels = rng.integers(0, 10, n)
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n, DIM))).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32))
    _write(dst, "embeddings", {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def generate(dst: str, seed: int, scale: int = 10, docs: int = 500) -> str:
    """Write the fixture into ``dst``; ``scale`` 10 gives the row counts
    of the catalog's sf0.01 fixture."""
    os.makedirs(dst, exist_ok=True)
    _star(dst, scale)
    rng = np.random.default_rng(seed)
    _documents(dst, docs, rng)
    _embeddings(dst, docs, rng)
    return dst
