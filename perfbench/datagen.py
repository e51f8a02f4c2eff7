"""Deterministic input tables for the benchmark.

Writes the ten tables the engine's catalog reads (TPC-H-ish star schema,
an `events` stream, `documents` for text/dedup and `embeddings` for vector
search) at a scale factor, with the same column names, types and value
shapes as the repository's test fixtures.  The data seed is fixed: a
workload seed chooses statement parameters and query order, never the
data, so every run of a workload reads the same bytes.

A layout is built once per checkout into a temporary directory, checked
against the SHA-256 sums recorded in `expected.json`, and renamed into
place; later runs only re-check the sums.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "old"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "valve", "spring", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
EMBED_DIM = 64
EPOCH = np.datetime64("1995-01-01", "D")


def _sizes(scale: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * scale),
        "supplier": max(100, int(10_000 * scale)),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = _sizes(scale)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [names[i] for i in rng.integers(0, len(names), npart)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
    })
    no = n["orders"]
    odate = EPOCH + rng.integers(0, 2405, no).astype("timedelta64[D]")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    lkey = rng.integers(0, no, nl).astype(np.int64)
    ship = odate[lkey] + rng.integers(1, 122, nl).astype("timedelta64[D]")
    out["lineitem"] = pa.table({
        "l_orderkey": lkey,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, nc // 10), ne).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Random word soup with planted near-duplicates (an earlier text plus
    the token `dup`) and a few exact copies, so every dedup tier has work."""
    texts: list[str] = []
    for i in range(nd):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    """Unit vectors around ten label centres."""
    centres = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, nv)
    v = rng.normal(size=(nv, EMBED_DIM)) + 0.6 * centres[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def checksums(sf_dir: str) -> dict[str, str]:
    out = {}
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            out[t] = hashlib.sha256(f.read()).hexdigest()
    return out


def write_layout(sf_dir: str, scale: float) -> None:
    os.makedirs(sf_dir)
    for name, tbl in _tables(scale).items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))


def ensure_layout(root: str, scale: float, expected: dict[str, str] | None) -> str:
    """Return the layout dir for ``scale`` under ``root``, building it on
    first use.  Raises if the files differ from ``expected`` sums."""
    sf_dir = os.path.join(root, f"sf{scale:g}")
    if not os.path.isdir(sf_dir):
        tmp = f"{sf_dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_layout(tmp, scale)
        os.replace(tmp, sf_dir)
    if expected is not None:
        got = checksums(sf_dir)
        bad = sorted(t for t in TABLES if got[t] != expected.get(t))
        if bad:
            raise RuntimeError(f"input layout {sf_dir} differs from recorded sums: {bad}")
    return sf_dir
