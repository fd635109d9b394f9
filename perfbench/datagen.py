"""Seeded input generators.

The same seed gives byte-identical tables. Shapes follow the engine's
test tables (a TPC-H-like star schema plus events, documents and
embeddings), so every registered query and its DuckDB oracle run on
them unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000

_WORDS = (
    "the a data spark table row column value key join filter sort merge "
    "hash scan window batch stream query vector order line part customer "
    "agg group fast slow big small dup window"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.44, 0.14, 0.13, 0.15, 0.14]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _days(rng, n, span_days):
    return _EPOCH_1995 + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def tpch_tables(rng, n_orders: int, orphan_rate: float = 0.0) -> dict:
    """orders/lineitem (about 4 lines per order) plus the dimensions."""
    n_cust = max(n_orders // 10, 10)
    n_part = max(n_orders * 2 // 15, 20)
    n_supp = max(n_orders // 150, 5)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    segs = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(segs)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = ["cold", "small", "red", "blue", "new", "old", "big", "green"]
    noun = ["widget", "bolt", "rod", "gear", "plate", "gizmo", "nut"]
    types = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [
            f"{adj[a]} {noun[b]}"
            for a, b in zip(
                rng.integers(0, len(adj), n_part),
                rng.integers(0, len(noun), n_part),
            )
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(types)[rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    n = n_orders
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": pa.array(_days(rng, n, 2400), pa.timestamp("us")),
        "o_orderpriority": np.array(prio)[rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    if orphan_rate:
        orphan = rng.random(n_li) < orphan_rate
        okey = np.where(orphan, okey + n_orders * 10, okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    partkey = rng.integers(0, n_part, n_li).astype(np.int64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (partkey % 1000) / 10), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, 2500), pa.timestamp("us")),
    })
    return t


def events_table(rng, n: int) -> pa.Table:
    n_users = max(n // 66, 10)
    types = ["click", "signup", "error", "view", "purchase"]
    offsets = rng.integers(0, 30 * _DAY_US, n) * np.timedelta64(1, "us")
    ts = _EPOCH_2024 + offsets
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.sort(ts), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": np.array(types)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents_table(rng, n: int) -> pa.Table:
    """Word-salad documents; every tenth is a near-copy of an earlier
    document with one word changed, so the dedup and near-duplicate
    queries have pairs to find."""
    texts = []
    for i in range(n):
        if i % 10 == 9:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[
                int(rng.integers(0, len(_WORDS)))
            ]
        else:
            k = int(rng.integers(20, 90))
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), k)]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 0.15, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.05, (n, dim))
    # every 32nd vector is a near-duplicate of another
    dup = np.arange(n) % 32 == 31
    src = rng.integers(0, n, n)
    vecs[dup] = vecs[src[dup]] + rng.normal(0, 1e-4, (int(dup.sum()), dim))
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_query_tables(path: str, seed: int, n_orders: int, n_events: int,
                       n_docs: int, n_vecs: int) -> dict:
    """Every table the registered queries read, one parquet each."""
    rng = np.random.default_rng(seed)
    os.makedirs(path, exist_ok=True)
    tables = tpch_tables(rng, n_orders)
    tables["events"] = events_table(rng, n_events)
    tables["documents"] = documents_table(rng, n_docs)
    tables["embeddings"] = embeddings_table(rng, n_vecs)
    for name, tbl in tables.items():
        _write(tbl, os.path.join(path, f"{name}.parquet"))
    return {k: v.num_rows for k, v in tables.items()}


def write_lineitem_batches(path: str, seed: int, n_orders: int,
                           n_batches: int) -> list:
    """orders.parquet plus lineitem split by l_orderkey % n_batches,
    one parquet file per batch. About 0.1% of lines reference a
    missing order and 0.5% lack a discount, so the foreign-key and
    null checks have violations to report."""
    rng = np.random.default_rng(seed)
    os.makedirs(path, exist_ok=True)
    t = tpch_tables(rng, n_orders, orphan_rate=0.001)
    _write(t["orders"], os.path.join(path, "orders.parquet"))
    li = t["lineitem"]
    disc = li.column("l_discount").to_numpy()
    null_disc = rng.random(len(disc)) < 0.005
    li = li.set_column(
        li.schema.get_field_index("l_discount"),
        "l_discount",
        pa.array(disc, mask=null_disc),
    )
    key = li.column("l_orderkey").to_numpy() % n_batches
    files = []
    for b in range(n_batches):
        f = os.path.join(path, f"lineitem_b{b:03d}.parquet")
        _write(li.filter(pa.array(key == b)), f)
        files.append(f)
    return files
