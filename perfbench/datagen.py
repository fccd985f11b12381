"""Seeded generator for the query workloads' input tables.

Writes the ten parquet tables the registered queries read (``region``
... ``embeddings``) in the shape and value distributions of the
engine's test data: a TPC-H-like star schema with uniform keys, an
``events`` stream with TIMESTAMP(NANOS) timestamps and JSON ``props``,
a ``documents`` corpus drawn from a 30-word vocabulary where 5 % of the
documents are near-duplicates (another document's text plus " dup"),
and unit-norm 64-d ``embeddings``. One parquet row group per table, as
in the test data, so the engine's warm-cache path does the spreading.

Row counts scale linearly with ``sf`` (sf 0.1: 600,000 lineitem rows,
5,000 documents, 2,000 embeddings, 17 MB on disk).
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import numpy as np
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """All ten tables at scale factor ``sf``; same (sf, seed) → same rows."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32 = np.int32
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=i32) % 5,
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": rng.choice(("A", "N", "R"), n_li),
            "l_linestatus": rng.choice(("F", "O"), n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            # nanosecond storage, microsecond values: the engine's loader
            # must take its TIMESTAMP(NANOS) path
            "ts": (np.datetime64("2024-01-01", "us") + ts_us).astype("datetime64[ns]"),
            "user_id": rng.integers(0, n_cust // 10, n_ev, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), n)])
        for n in rng.integers(10, 101, n_doc)
    ]
    for d in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[d] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_emb).astype(i32),
        }
    )
    return t


def _fingerprint(sf: float, seed: int) -> str:
    src = Path(__file__).read_bytes()
    return hashlib.sha256(src + f"|{sf}|{seed}".encode()).hexdigest()[:16]


def ensure(root: str, sf: float, seed: int) -> str:
    """Directory under ``root`` holding the tables for (sf, seed),
    generated on first use and reused while this file is unchanged."""
    out = os.path.join(root, f"sf{sf}-{_fingerprint(sf, seed)}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, df in generate(sf, seed).items():
        df.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False)
    Path(tmp, "_SUCCESS").touch()
    os.replace(tmp, out)
    return out
