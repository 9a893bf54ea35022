"""Seeded input generation for the benchmark workloads.

Every input the library sees is generated here from the workload seed:
TPC-H-shaped star tables, an ``events`` stream table, a ``documents``
corpus with planted near-duplicates and containments, and an
``embeddings`` table.  The same seed and size always give byte-identical
parquet files.  Nothing is read from outside the benchmark's checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per size preset; lineitem is ~4x orders.  "default" has 0.3x the
# row counts of TPC-H-shaped sf0.1 (versioned commits start from sf0.01
# orders; the event stream has 0.4x sf0.1's events): a warm pass then
# takes ~8-9 s on 4 cores, so a run fits a cold pass and three timed
# passes into the benchmark's time budget.  "tiny" has sf0.001's counts.
SIZES = {
    "tiny": {"orders": 1500, "vt_orders": 1500, "events": 1000,
             "documents": 500, "embeddings": 500},
    "default": {"orders": 45000, "vt_orders": 15000, "events": 40000,
                "documents": 1500, "embeddings": 1000},
}

EPOCH_2024_US = 1_704_067_200 * 1_000_000
DAY_US = 86_400 * 1_000_000

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "the a data spark table query join merge filter window stream batch "
    "row column value key order line part customer supplier hash sort agg "
    "group scan fast slow big small vector index shuffle stage task file "
    "commit version schema delta event session user source sink plan"
).split()
# 280 words: random 3-word shingles rarely collide, so near-duplicate and
# containment pairs are mostly the planted ones
_VOCAB = [w + s for w in _WORDS for s in ("", "s", "ed", "er", "ing")]


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, orders, lineitem."""
    n_cust = max(50, n_orders // 10)
    n_supp = max(10, n_orders // 150)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    okeys = np.arange(1, n_orders + 1, dtype=np.int64) * 4
    odate = EPOCH_2024_US + rng.integers(0, 2 * 365, n_orders) * DAY_US
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _cents(rng, 900.0, 500000.0, n_orders),
        "o_orderdate": pa.array(odate, pa.timestamp("us", tz="UTC")),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_order_idx = np.repeat(np.arange(n_orders), lines)
    l_linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": okeys[l_order_idx],
        "l_partkey": rng.integers(1, 2001, n_li),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(9.0, 2000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            odate[l_order_idx] + rng.integers(1, 120, n_li) * DAY_US,
            pa.timestamp("us", tz="UTC"),
        ),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "orders": orders, "lineitem": lineitem,
    }


def orders_delta(
    rng: np.random.Generator, orders: pa.Table, n_update: int, n_insert: int,
    first_new_key: int,
) -> pa.Table:
    """Upserts for ``orders``: changed copies of existing keys plus new keys."""
    keys = orders.column("o_orderkey").to_numpy()
    upd = rng.choice(keys, n_update, replace=False)
    new = first_new_key + np.arange(n_insert, dtype=np.int64) * 4 + 1
    okeys = np.concatenate([upd, new])
    n = len(okeys)
    return pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, 50, n),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _cents(rng, 900.0, 500000.0, n),
        "o_orderdate": pa.array(
            EPOCH_2024_US + rng.integers(0, 730, n) * DAY_US,
            pa.timestamp("us", tz="UTC"),
        ),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n)],
    }).cast(orders.schema)


def events(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    """Click-stream events: bursts per user separated by idle gaps, so
    gap-based sessionization yields several sessions per user."""
    n_users = max(20, n // 40)
    user = rng.integers(0, n_users, n)
    # minute-scale steps with occasional multi-hour idle gaps
    step = rng.exponential(300.0, n) + np.where(rng.random(n) < 0.05, 7200.0, 0.0)
    ts = EPOCH_2024_US + (np.cumsum(step) * 1_000_000 / max(1, n_users // 20)).astype(np.int64)
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": user.astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _cents(rng, 0.0, 500.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """A corpus where ~15% of docs are light edits of an earlier doc and
    ~5% wrap an earlier doc in extra text (containment pairs)."""
    words = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.15:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 25)):
                toks[j] = words[rng.integers(0, len(words))]
            texts.append(" ".join(toks))
        elif i > 10 and r < 0.20:
            extra = words[rng.integers(0, len(words), int(rng.integers(5, 15)))]
            texts.append(texts[int(rng.integers(0, i))] + " " + " ".join(extra))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(20, 80)))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "es", "fr", "zh"])[rng.integers(0, 5, n)],
        "source": [f"src{k}" for k in rng.integers(0, 4, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    """Unit-ish vectors around 10 label centroids."""
    centers = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n)
    vec = (centers[label] + rng.normal(0.0, 0.6, (n, dim))) / np.sqrt(dim)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
