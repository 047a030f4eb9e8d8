"""Deterministic synthetic corpus for the benchmark.

Writes the ten tables the registry reads (the TPC-H-like star schema,
``events``, ``documents`` and ``embeddings``) as one parquet file
each, with the column names, types and value domains of the engine's
test corpora. The corpus is fixed: it depends only on ``scale`` and
the module's generator seed, never on the benchmark's ``--seed``, so
the row counts pinned in ``expected.json`` hold for every run.

Sizes follow the TPC-H scale factor (``lineitem`` = 6e6 * scale);
``documents`` and ``embeddings`` keep a floor of 500 rows so the
near-duplicate and ANN keys have structure to find.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
GENERATOR_SEED = 20261017
DIM = 64

_WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "green")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "valve")
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _us(day: str) -> int:
    return int((np.datetime64(day, "us") - _EPOCH).astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), rng.integers(8, 96))])
        for _ in range(n)
    ]
    # ~5% near-duplicates: a copy of another (original) document plus
    # one marker token, the shape the dedup families are built to find
    dups = rng.choice(n, max(1, n // 20), replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i in dups:
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    langs = _pick(rng, ("en", "zh", "es", "de", "fr"), n, p=(0.44, 0.14, 0.14, 0.14, 0.14))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": langs,
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    noise = rng.normal(size=(n, DIM))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vecs = 0.99 * noise + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def build_tables(scale: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, deterministic in ``scale``."""
    rng = np.random.default_rng(GENERATOR_SEED)
    n_cust = max(15, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = max(6_000, int(6_000_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(15, n_cust // 10)
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    day_us = 86_400_000_000
    o_lo, o_hi = _us("1995-01-01"), _us("2001-08-01")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(o_lo + rng.integers(0, (o_hi - o_lo) // day_us + 1, n_ord) * day_us),
        "o_orderpriority": _pick(rng, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord),
    })
    s_lo, s_hi = _us("1995-01-02"), _us("2001-11-04")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _ts(s_lo + rng.integers(0, (s_hi - s_lo) // day_us + 1, n_line) * day_us),
    })
    ev_lo = _us("2024-01-01")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(np.sort(ev_lo + rng.integers(0, 30 * day_us, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, ("click", "error", "purchase", "signup", "view"), n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def fingerprint(root: Path) -> str:
    """Content hash of a written corpus (file names and bytes)."""
    h = hashlib.sha256()
    for name in TABLES:
        p = root / f"{name}.parquet"
        h.update(name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def ensure_corpus(root: Path, scale: float) -> Path:
    """Return the corpus directory for ``scale`` under ``root``,
    writing it first if absent. Writes go to a sibling directory that
    is renamed into place, so the directory only ever exists complete."""
    out = root / f"sf{scale:g}"
    if out.is_dir():
        return out
    tmp = root / f".sf{scale:g}.{os.getpid()}"
    tmp.mkdir(parents=True)
    for name, table in build_tables(scale).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    try:
        tmp.rename(out)
    except OSError:  # a concurrent run renamed its copy first
        shutil.rmtree(tmp)
    return out
