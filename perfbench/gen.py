"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the query registry reads (the TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``) with the
column names, types and value domains of the package's test data.
Row counts scale with ``sf`` the same way (lineitem = 6,000,000 x sf).

The tables are a fixed input: every run generates them from the same
seed, so the pinned output digests stay valid. The benchmark's own seed
only orders the queries.

Usage: python3 perfbench/gen.py SF OUT_DIR
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64
CLUSTERS = 10


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            # Near duplicate of an earlier document: one word swapped, one marker appended.
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words) + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 96))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> dict:
    centers = rng.normal(size=(CLUSTERS, DIM))
    label = rng.integers(0, CLUSTERS, n).astype(np.int32)
    vec = centers[label] + rng.normal(scale=0.8, size=(n, DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": label,
    }


def tables(sf: float) -> dict[str, dict]:
    """Column dicts for every table at scale ``sf``."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec, n_user = max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), int(15_000 * sf)
    nation = np.arange(25, dtype=np.int32)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    return {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
        "nation": {
            "n_nationkey": nation,
            "n_name": [f"NATION_{i}" for i in nation],
            "n_regionkey": nation % 5,
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
        },
        "events": {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_user, n_evt),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.maximum(np.round(rng.exponential(40.0, n_evt), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        },
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_vec),
    }


def generate(sf: float, out_dir: str) -> None:
    """Write every table to ``out_dir/<table>.parquet``; atomic per directory."""
    tmp = out_dir + ".partial"
    os.makedirs(tmp, exist_ok=True)
    for name, cols in tables(sf).items():
        pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    generate(float(sys.argv[1]), sys.argv[2])
