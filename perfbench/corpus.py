"""Deterministic synthetic corpus for the registry workload.

Writes the ten corpus tables the registry queries read
(``git_etl_spark.schemas.CORPUS_TABLES``) as one Parquet file each, in
the shape of the sf0.01 test data (TESTDATA.md): a TPC-H-like star schema
with dense foreign keys, a month of ``events`` with JSON props,
``documents`` over a small vocabulary (with planted exact and near
duplicates, so the dedup operators find something) and 64-dimensional
``embeddings`` drawn around ten label centroids. The same seed always
writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]

# rows per table: the sizes of the sf0.01 test data
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}
DAY_US = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def write_corpus(out_dir: str, seed: int) -> str:
    rng = np.random.default_rng(seed)
    n = SIZES
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    np_ = n["part"]
    retail = np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": retail,
    })

    no = n["orders"]
    epoch_1995 = 788_918_400 * 1_000_000
    order_day = rng.integers(0, 2400, no)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(epoch_1995 + order_day * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    l_part = rng.integers(0, np_, nl)
    qty = rng.integers(1, 51, nl).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(epoch_1995 + (order_day[l_order]
                                        + rng.integers(1, 121, nl)) * DAY_US),
    })

    ne = n["events"]
    jan_2024 = 1_704_067_200 * 1_000_000
    ts = np.sort(jan_2024 + rng.integers(0, 30 * DAY_US, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": _money(rng, 0.01, 500.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts = [_text(rng, int(rng.integers(10, 100))) for _ in range(nd)]
    # plant duplicates: ~5% exact copies, ~10% one-word edits of an
    # earlier document
    for i in range(nd // 10, nd):
        r = rng.random()
        src = texts[int(rng.integers(0, i))]
        if r < 0.05:
            texts[i] = src
        elif r < 0.15:
            words = src.split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts[i] = " ".join(words)
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
