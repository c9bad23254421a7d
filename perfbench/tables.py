"""Seeded tables for the query mix, in the layout the queries read.

The registered queries read ten single-file parquet tables (a
TPC-H-like star schema plus `events`, `documents` and `embeddings`).
This writes them with the same column names and types, at `scale`
times the sf1 row counts of the TPC-H-like tables, from a seed. Each
file is one row group, like the fixture tables the queries were sized
for, so the scan heal in `sources/tables.load` takes the same path.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("small", "large", "red", "blue", "hot", "old", "new", "green")
NOUNS = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "de", "es", "fr", "zh")
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column order join small big query group "
    "filter stream customer vector"
).split()
EMBED_DIM = 64
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist(), pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, days, n, base=EPOCH_1995):
    return pa.array(base + rng.integers(0, days, n) * DAY_US, pa.timestamp("us"))


def build(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = 500, 500
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})
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
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    price = np.round(900 + (np.arange(n_part) % 1000) / 10, 1)
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _dates(rng, 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _dates(rng, 2499, n_li, EPOCH_1995 + DAY_US),
    })
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 1), n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 90))))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n_doc),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    centers = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, n_emb)
    vecs = centers[label] + rng.normal(size=(n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return t


def write(tables: dict[str, pa.Table], out_dir: Path) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet", row_group_size=max(table.num_rows, 1))
