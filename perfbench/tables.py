"""Seeded generator for the query suite's input tables.

Writes the ten tables the query registry reads (``region`` ...
``embeddings``, one parquet file each) in the shape of the repository's
synthetic testdata (TESTDATA.md), so the registry's builders and their
DuckDB oracle SQL run on them unchanged. The shape was read off the
testdata at sf 0.001, 0.01 and 0.1 (README.md lists what was compared):
the same schemas, row counts per sf, key ranges and value ranges; the
documents are 10-100 tokens drawn uniformly from a 30-word vocabulary,
5% of them are an earlier document with " dup" appended (so a few are
exact copies), in shuffled order; the embeddings are isotropic unit
vectors in 64 dimensions with a uniform label 0-9 and no cluster
structure. The same (seed, sf) always writes the same rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "hot", "old", "small", "large", "green", "cold"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
NEAR_DUP_FRAC = 0.05
EMB_DIM = 64


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    offs = rng.integers(0, span + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + offs.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words docs, 10-100 tokens each. A near-duplicate is an
    earlier doc (itself possibly a near-duplicate) with " dup" appended;
    two near-duplicates of one doc are exact copies. The rows are then
    shuffled, so a copy may precede its original."""
    n_near = round(NEAR_DUP_FRAC * n)
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))) for _ in range(n - n_near)]
    for _ in range(n_near):
        texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
    texts = [texts[i] for i in rng.permutation(n)]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for one (seed, sf), in memory."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(500, int(1_000_000 * sf))
    n_users = max(10, n_ev * 3 // 200)
    n_docs = max(500, int(50_000 * sf))
    n_emb = min(2000, max(500, int(20_000 * sf)))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + np.arange(n_part) % 1000 / 10, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def write(seed: int, sf: float, out_dir: str) -> None:
    """Write every table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
