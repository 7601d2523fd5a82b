"""Deterministic synthetic fixture tables for the benchmark.

Writes the ten tables the registry reads (``catalog.SCHEMAS``: a
TPC-H-shaped star schema plus ``events``, ``documents`` and
``embeddings``) as one parquet file each, with the row counts, key
domains and value shapes of the engine's fixture convention:

- keys are dense ``0..n-1``; foreign keys draw uniformly from the parent;
- timestamps are microsecond ``timestamp[us]`` columns;
- ``documents.text`` draws 10-100 tokens from a 30-word vocabulary, and
  about 5% of documents are near-duplicates (an earlier text plus the
  token ``dup``) with a few exact duplicates, so dedup operators find work;
- ``embeddings`` are 64-dim float32, L2-normalised, with a weak per-label
  cluster structure.

The same ``(sf, seed)`` always writes identical values, so a run's
inputs depend only on its arguments.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "cold", "green", "large", "shiny"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "nut", "spring", "valve"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "es", "de", "fr", "zh"]
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
_EMBED_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _cents(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def build_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _cents(rng, nc, -999.99, 9999.99),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _cents(rng, ns, -999.99, 9999.99),
        }
    )
    npart = n["part"]
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), npart)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), npart)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": (9000 + np.arange(npart) % 1000) / 10.0,
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _cents(rng, no, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _cents(rng, nl, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(t0, t0 + span, ne)).astype("datetime64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": ts,
            "user_id": pa.array(
                rng.integers(0, max(1, round(15_000 * sf)), ne), pa.int64()
            ),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, nd: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), k)])
        for k in rng.integers(10, 101, nd)
    ]
    # ~5% near-duplicates (source text + " dup") and a few exact copies,
    # each pointing at a random other document.
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    for i in rng.choice(nd, max(1, nd // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, nd))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def _embeddings(rng, nv: int) -> pa.Table:
    labels = rng.integers(0, 10, nv)
    centers = rng.standard_normal((10, _EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.3 * centers[labels] + rng.standard_normal((nv, _EMBED_DIM)) / 8.0
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def ensure_fixture(root: str, sf: float) -> str:
    """Directory of the ``sf`` tables under ``root``, generated on first
    use.  The name carries a digest of this file, so an edited generator
    never reuses old tables (or answers cached beside them).  A ``_DONE``
    marker written last makes an interrupted generation start over."""
    with open(__file__, "rb") as fh:
        digest = hashlib.md5(fh.read()).hexdigest()[:10]
    out = os.path.join(root, f"sf{sf:g}-{digest}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    for name, tbl in build_tables(sf).items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "_DONE"), "w") as f:
        f.write(f"seed={DATA_SEED}\n")
    return out
