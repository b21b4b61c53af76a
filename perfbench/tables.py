"""Seeded synthetic twin of the sf0.1 fixture tables, for the analytics workload.

Writes the ten tables ``broadway_kinesis_spark.session.TABLES`` names, as
one single-row-group parquet file each, with the sf0.1 row counts, column
types and value ranges (a TPC-H-shaped star schema plus ``events``,
``documents`` and ``embeddings``). Every value is drawn from ``--seed``, so
the same seed writes the same bytes.

``documents`` plants the near-duplicate structure the dedup queries look
for: ~5% of documents copy an earlier one with one inserted token, and a
few are exact copies.

Usage::

    python3 perfbench/tables.py --dir D --seed 1
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_LINEITEM, N_ORDERS, N_CUSTOMER, N_SUPPLIER, N_PART = 600_000, 150_000, 15_000, 1_000, 20_000
N_EVENTS, N_DOCS, N_EMBED, EMBED_DIM = 100_000, 5_000, 2_000, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    us = np.datetime64(base, "us") + (seconds * 1_000_000).astype("int64").astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def _days(base: str, days: np.ndarray) -> pa.Array:
    return _ts(base, days.astype("int64") * 86_400)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def build(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
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
            "c_custkey": np.arange(N_CUSTOMER, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER, dtype="int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(N_SUPPLIER, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER, dtype="int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(N_PART, dtype="int64"),
            "p_name": _pick(rng, names, N_PART),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], N_PART),
            "p_type": _pick(rng, PART_TYPES, N_PART),
            "p_size": rng.integers(1, 51, N_PART, dtype="int32"),
            "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000, 500_000, N_ORDERS),
            "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, N_ORDERS)),
            "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
            "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
            "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
            "l_linenumber": rng.integers(1, 8, N_LINEITEM, dtype="int32"),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105_000, N_LINEITEM),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
            "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, N_LINEITEM)),
        }
    )
    gaps = rng.exponential(25.9, N_EVENTS)
    t["events"] = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype="int64"),
            "ts": _ts("2024-01-01", np.minimum(np.cumsum(gaps), 30 * 86_400 - 1)),
            "user_id": rng.integers(0, 1500, N_EVENTS),
            "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
            "value": np.round(rng.exponential(60, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts: list[str] = []
    for i in range(N_DOCS):
        u = rng.random()
        if i >= 100 and u < 0.05:  # near-duplicate: one inserted token
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        elif i >= 100 and u < 0.052:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), n)))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype="int64"),
            "text": texts,
            "lang": _pick(rng, LANGS, N_DOCS, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )
    vec = rng.normal(size=(N_EMBED, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(N_EMBED, dtype="int64"),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, N_EMBED, dtype="int32"),
        }
    )
    return t


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    os.makedirs(args.dir, exist_ok=True)
    for name, table in build(args.seed).items():
        pq.write_table(table, os.path.join(args.dir, f"{name}.parquet"))


if __name__ == "__main__":
    main()
