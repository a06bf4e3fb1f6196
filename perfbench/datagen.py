"""Deterministic input tables for the benchmark.

Writes the ten parquet tables the query registry reads (`region nation
customer supplier part orders lineitem events documents embeddings`) by
drawing them the way the repository's TPC-H-like test data was drawn: a
star schema of orders with ~4 lines on uniformly chosen orders, an
`events` log of uniform users, types and props over 30 days, 500
random-word documents of which 5 % are replaced by a copy of another
plus a word, and 500 isotropic unit 64-d embeddings with independent
labels. With data seed 42 the tables equal that test data value for
value at sf0.001; at sf0.01 and sf0.1 all but 2 and 17 event timestamps
do, and those differ by 1 us (``compare_data.py`` reports this).

The tables depend only on ``sf`` and ``data_seed``, so every run of the
benchmark reads identical inputs; the workload seed only slices the
stream (see ``run.py``).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]  # English 3 in 7
WORDS = (
    "the a spark query table join group filter window data order customer part "
    "line fast slow big small hash sort merge scan agg stream batch vector key "
    "value row column"
).split()

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _us(year: int, month: int, day: int) -> int:
    return int((np.datetime64(dt.date(year, month, day), "us") - _EPOCH).astype(np.int64))


def _days(rng: np.random.Generator, lo: tuple, hi: tuple, n: int) -> pa.Array:
    """Midnight timestamps uniform over [lo, hi] (inclusive days)."""
    d0, d1 = _us(*lo) // 86_400_000_000, _us(*hi) // 86_400_000_000
    days = rng.integers(d0, d1 + 1, n, dtype=np.int64)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float, data_seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(data_seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, len(PART_ADJ), n_part),
                    rng.integers(0, len(PART_NOUN), n_part),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    # ~4 lines per order, each line on a uniformly drawn order (so some
    # orders have none and line numbers may repeat within an order)
    n_li = 4 * n_ord
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": rng.choice(["R", "A", "N"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), n_li),
        }
    )
    # events: sorted microsecond timestamps over 30 days, uniform users,
    # types and props, exponential values
    start = _us(2024, 1, 1)
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span, n_events)) + start
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n_docs)]
    # 5 % of the documents become a copy of another one plus a word
    n_dups = n_docs // 20
    for i, j in zip(rng.choice(n_docs, n_dups, replace=False), rng.integers(0, n_docs, n_dups)):
        texts[i] = texts[j] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    # isotropic unit vectors with labels drawn independently of them
    vecs = rng.normal(0.0, 1.0, (n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, sf: float, data_seed: int) -> dict[str, int]:
    """Write every table as ``{out_dir}/{name}.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(sf, data_seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
