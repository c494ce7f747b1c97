"""Synthetic tables for the benchmark, written as one parquet file per table.

The shapes follow the engine's test data (TPC-H-like star schema, a
wide-partition ``events`` table, a word-salad ``documents`` corpus with
near-duplicates, unit-norm 64-d ``embeddings``) so every benchmarked query
and CQL statement runs unchanged. Row counts are fixed by ``ROWS``; the data
seed is fixed too, so every run of every workload reads identical tables and
only the operation stream varies with ``--seed``.

Unlike the engine's test data, ``lineitem`` numbers its lines 1..n within
each order, so ``(l_orderkey, l_linenumber)`` is a real primary key and CQL
partition slices have one row per clustering key.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

#: rows per table: the star schema and events at the engine's sf0.01 sizes,
#: with a 1,000-document corpus so the LLM pipeline does real pair work
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "events": 10_000,
    "documents": 1_000,
    "embeddings": 1_000,
}

#: ``events`` is a wide-partition table: about this many rows per user_id
EVENTS_PER_USER = 67

#: bump when the generated content changes, so a cached copy is rebuilt
VERSION = 2

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(rows: dict[str, int] = ROWS) -> dict[str, pa.Table]:
    """Generate every table in memory; a pure function of ``rows``."""
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(rows["region"]), pa.int32()),
        "r_name": REGIONS[: rows["region"]],
    })
    n_nat = rows["nation"]
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(n_nat), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n_nat)],
        "n_regionkey": pa.array(np.arange(n_nat) % rows["region"], pa.int32()),
    })

    n_cust = rows["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, n_nat, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })

    n_supp = rows["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, n_nat, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })

    n_part = rows["part"]
    adjectives = ["blue", "hot", "large", "small", "red", "cold", "green", "tiny"]
    nouns = ["anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
            rng.integers(0, 6, n_part)
        ],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })

    n_ord = rows["orders"]
    # every customer but the last has orders, so the anti-join finds one
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(n_cust - 1, 1), n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2405), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    lines_per_order = rng.integers(1, 8, n_ord)
    n_li = int(lines_per_order.sum())
    l_orderkey = np.repeat(np.arange(n_ord), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    quantity = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", 2499), pa.timestamp("us")),
    })

    n_ev = rows["events"]
    n_users = max(n_ev // EVENTS_PER_USER, 1)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_doc = rows["documents"]
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    lang_p = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })

    n_emb = rows["embeddings"]
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def ensure_data(root: str) -> str:
    """Return the directory holding the generated tables under ``root``,
    generating it first if absent. Generation runs in a child process, so
    its memory never counts in the caller's; it writes to a temporary
    sibling and renames it into place, so an interrupted run never leaves a
    partial copy."""
    out = os.path.join(root, f"v{VERSION}-seed{DATA_SEED}")
    if not os.path.isdir(out):
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        subprocess.run([sys.executable, "-m", "perfbench.datagen", out],
                       cwd=pkg_root, check=True)
    return out


def _write(out: str) -> None:
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in build_tables().items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)


if __name__ == "__main__":
    _write(sys.argv[1])
