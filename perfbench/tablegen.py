"""Seeded analytic tables for the audit_analytics workload.

Writes the ten parquet tables the query registry reads (schemas and
value domains as in the repository's FIXTURES.md), so the benchmark
never depends on fixture files outside its own checkout. Prices and
amounts carry two decimals, like the fixtures, which keeps the
registry's exact-decimal sums bitwise comparable with DuckDB.

Usage: python3 tablegen.py --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("blue", "cold", "hot", "large", "new", "red", "small", "old")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENTS = ("click", "error", "purchase", "signup", "view")
_LANGS = ("de", "en", "es", "fr", "zh")
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DAY_US = 86_400_000_000
# One scale: lineitem 60k rows (a tenth of bench.py's sf0.1 fixtures), so
# that an audit_analytics run, correctness pass included, fits the
# benchmark's per-run time budget.
SF = 0.01


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), max(10, int(10_000 * SF)), int(200_000 * SF)
    n_ord, n_line = int(1_500_000 * SF), int(6_000_000 * SF)
    n_evt, n_doc = int(1_000_000 * SF), 500
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
    })
    gaps = rng.exponential(30 * _DAY_US / n_evt, n_evt).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps)
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_evt),
        "event_type": rng.choice(_EVENTS, n_evt),
        "value": np.round(rng.exponential(50, n_evt), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = []
    for i in range(n_doc):
        # every 7th document near-duplicates an earlier one, so the dedup
        # queries find the same number of candidates for every seed
        if i >= 10 and i % 7 == 0:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_doc)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    write_tables(a.seed, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
