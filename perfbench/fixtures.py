"""Deterministic synthetic tables for the benchmark.

The benchmark may read nothing outside its checkout, so it writes its own
copy of the engine's ten tables (catalog.TABLES) with the same schemas,
value domains and row-count ratios as the fixture set FIXTURES.md
describes. The contents depend only on ``sf`` and ``DATA_SEED``, never on
the benchmark's ``--seed`` (which orders the queries), so the per-pass
counters the benchmark reports repeat exactly from run to run.

Run directly to (re)write a scale factor, e.g.
    python3 perfbench/fixtures.py 0.01 .bench_build/perfbench/sf0.01
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generator changes, so a cached directory is rebuilt.
VERSION = 1

_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "stream filter big group vector"
).split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    lo_us, hi_us = _epoch_us(*lo), _epoch_us(*hi)
    days = rng.integers(0, (hi_us - lo_us) // _US_PER_DAY + 1, n)
    return pa.array(lo_us + days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:
            # near duplicate: an earlier document plus trailing 'dup' tokens
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        elif i > 20 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (row counts as in FIXTURES.md)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = pa.int32()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [names[i] for i in rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": np.round(rng.uniform(0, 10, n_line)).astype(np.float64) / 100,
            "l_tax": np.round(rng.uniform(0, 8, n_line)).astype(np.float64) / 100,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_line),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n_line),
            "l_shipdate": _days(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
        }
    )
    start = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(start, start + 30 * _US_PER_DAY, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n_docs)
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return out


def ensure(sf: float, out_dir: str) -> str:
    """Write the tables for ``sf`` into ``out_dir`` unless already there."""
    stamp = os.path.join(out_dir, f"_v{VERSION}")
    if os.path.exists(stamp):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, f"_v{VERSION}"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    ensure(float(sys.argv[1]), sys.argv[2])
