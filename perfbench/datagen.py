"""Seeded input tables for the benchmark.

Writes the ten tables the catalog reads (``fegis_spark.model.TABLES``)
with the column names, Arrow types and value domains of the
repository's TPC-H-ish test tables (TESTDATA.md, FIXTURES.md group 1):
one parquet file per table, one row group per file, Snappy. Row counts scale linearly with ``sf``
from the sf0.1 counts (lineitem 600 000, documents 5 000, ...).

The same ``(seed, sf)`` always yields byte-identical tables, so a run's
inputs are fixed by the workload seed alone.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts of the test tables; other scale factors scale
#: these linearly (region and nation are fixed)
ROWS_AT_SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "small", "red", "new")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "nut", "screw", "pipe")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMBEDDING_DIM = 64


def _rows(name: str, sf: float) -> int:
    return max(int(round(ROWS_AT_SF01[name] * sf / 0.1)), 10)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    base = np.datetime64(start, "D")
    span = (end - start).days + 1
    d = base + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1),
                   compression="snappy")


def documents_table(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), lens.sum())]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # 5% near-duplicates (another doc's text plus one token) and 0.16%
    # exact duplicates, the duplicate rates the dedup operators target
    for i in rng.choice(n, size=max(n // 20, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, size=max(n * 16 // 10_000, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBEDDING_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: _rows(k, sf) for k in ROWS_AT_SF01}
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, names, npart),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
    })
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span_us, ne))
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(ne // 66, 10), ne).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()
        ),
    })
    tables["documents"] = documents_table(rng, n["documents"])
    tables["embeddings"] = embeddings_table(rng, n["embeddings"])
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


_TOKEN = re.compile(r"([^\W_]+)")


def replicate(base_dir: str, out_dir: str, factor: int, files: int) -> dict[str, int]:
    """The replication scheme of tools/scale_probe.replicate, in Arrow:
    ``factor`` copies of documents and embeddings with fresh ids, every
    word token suffixed ``x<copy>`` and every copy's vectors sign-flipped
    per dimension, so copies neither share vocabulary nor collide as
    near-duplicate vectors. Each table is written as ``files`` parquet
    files in a directory, so scans get ``files`` input splits."""
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    emb = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    nd, ne = docs.num_rows, emb.num_rows
    texts = docs.column("text").to_pylist()
    vecs = np.asarray(emb.column("embedding").to_pylist(), dtype=np.float32)
    doc_parts, emb_parts = [], []
    for c in range(factor):
        rep = [_TOKEN.sub(rf"\1x{c}", t) for t in texts]
        doc_parts.append(pa.table({
            "doc_id": pa.array(docs.column("doc_id").to_numpy() + c * nd),
            "text": pa.array(rep, pa.string()),
            "lang": docs.column("lang"),
            "source": docs.column("source"),
            "n_chars": pa.array([len(t) for t in rep], pa.int64()),
        }))
        signs = np.array(
            [1.0 if int(hashlib.md5(f"{c}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
             else -1.0 for d in range(vecs.shape[1])],
            dtype=np.float32,
        )
        emb_parts.append(pa.table({
            "vec_id": pa.array(emb.column("vec_id").to_numpy() + c * ne),
            "embedding": pa.array(list(vecs * signs), pa.list_(pa.float32())),
            "label": emb.column("label"),
        }))
    counts = {}
    for name, parts in (("documents", doc_parts), ("embeddings", emb_parts)):
        t = pa.concat_tables(parts)
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        step = -(-t.num_rows // files)
        for i in range(files):
            _write(t.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"))
        counts[name] = t.num_rows
    return counts
