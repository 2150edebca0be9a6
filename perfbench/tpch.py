"""Seeded generator for the catalog's ten tables (TPC-H-shaped star schema
plus the events, documents and embeddings tables).

The column names, types and value domains follow the parquet files the
catalog queries and their DuckDB oracles are written against: int64 keys,
int32 nation/region keys, timestamp[us] dates, JSON ``props`` strings,
word-bag documents with near-duplicates, and unit-norm float32 embeddings
clustered by label. Row counts scale with ``sf`` (``sf=0.1`` gives 600,000
lineitem rows); the same ``(sf, seed)`` always gives the same files.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

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

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "anvil", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``; lineitem is exact, the others
    follow the TPC-H ratios (dims fixed, facts linear in ``sf``)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:  # exact copy of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:  # near-duplicate: an earlier text plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 90)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0, 1, (10, _DIM))
    vecs = centroids[labels] + rng.normal(0, 1.5, (n, _DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, deterministically from ``(sf, seed)``."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(_REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, _SEGMENTS, nc),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": _pick(rng, names, npart),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, _PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) / 10, 1)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, no)),
            "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01")),
            "o_orderpriority": _pick(rng, _PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl)),
            "l_partkey": pa.array(rng.integers(0, npart, nl)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04")),
        }
    )
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(t0 + offsets.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), ne)),
            "event_type": _pick(rng, _EVENT_TYPES, ne),
            "value": pa.array(np.round(rng.exponential(50, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def materialize(out_dir: Path, sf: float, seed: int) -> float:
    """Write the tables as ``<out_dir>/<table>.parquet`` unless a verified
    copy is already there; returns the seconds spent generating (0 when the
    cached copy was reused). A copy is reused only when its manifest matches
    ``(sf, seed)`` and every file's footer row count matches the manifest."""
    manifest = out_dir / "manifest.json"
    want = {"sf": sf, "seed": seed, "rows": row_counts(sf)}
    if manifest.exists() and json.loads(manifest.read_text()) == want and verify(out_dir):
        return 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out_dir, ignore_errors=True)  # with anything derived from a stale copy
    out_dir.mkdir(parents=True)
    for name, table in generate(sf, seed).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    manifest.write_text(json.dumps(want))
    if not verify(out_dir):
        raise RuntimeError(f"generated tables in {out_dir} fail their row-count check")
    return time.perf_counter() - t0


def verify(out_dir: Path) -> bool:
    """Footer row counts equal the manifest's, for every table."""
    rows = json.loads((out_dir / "manifest.json").read_text())["rows"]
    for name in TABLES:
        path = out_dir / f"{name}.parquet"
        if not path.exists() or pq.ParquetFile(path).metadata.num_rows != rows[name]:
            return False
    return True
