"""Output checks, run outside the timed region.

* Catalog queries: row count plus an order-insensitive digest of the
  rows, compared with the entry's DuckDB oracle on the same files. Rows
  are normalized by tools/check_correctness.py's ``norm_rows`` in its
  default strict mode (type class kept, floats compared exactly).
* Search requests: a numpy brute-force cosine top-k over the same
  memories snapshot the request read.
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
from tools.check_correctness import norm_rows


def digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result, normalized by
    tools/check_correctness.py's strict comparison: cells keep their
    type class, columns are taken in name order and rows are sorted."""
    normed = norm_rows(cols, rows)
    h = hashlib.sha256()
    for row in normed:
        h.update(repr(row).encode())
        h.update(b"\n")
    return len(normed), h.hexdigest()


class Oracle:
    """DuckDB over the parquet tables of one data directory."""

    def __init__(self, data_dir: str, tables, threads: int):
        import duckdb

        self.con = duckdb.connect(config={"threads": threads, "memory_limit": "1GB"})
        for t in tables:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.isdir(p):
                p = os.path.join(p, "*.parquet")
            elif not os.path.exists(p):
                continue
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def expected(self, sql: str) -> tuple[list[str], tuple[int, str]]:
        rel = self.con.sql(sql)
        cols = rel.columns
        # through Arrow, as tools/check_correctness.py reads it: HUGEINT
        # surfaces as Decimal there, where fetchall() would fold it to int
        rows = [tuple(d[c] for c in cols) for d in rel.fetch_arrow_table().to_pylist()]
        return cols, digest(cols, rows)

    def close(self) -> None:
        self.con.close()


def query_check(oracle_cols, oracle_digest, cols, rows) -> str | None:
    if sorted(cols) != sorted(oracle_cols):
        return f"schema {sorted(cols)} != oracle {sorted(oracle_cols)}"
    got = digest(cols, rows)
    if got[0] != oracle_digest[0]:
        return f"rows {got[0]} != oracle {oracle_digest[0]}"
    if got != oracle_digest:
        return "value digest differs from oracle"
    return None


class MemorySnapshot:
    """The memories table as written, read back with pyarrow: ids, the
    filterable columns and a float64 embedding matrix."""

    def __init__(self, root: str):
        import pyarrow.dataset as ds

        files = sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))
        t = ds.dataset(files, format="parquet", partitioning="hive",
                       partition_base_dir=root).to_table(
            columns=["memory_id", "session_id", "tool", "sequence_order",
                     "context", "title", "embedding"])
        self.rows = t.num_rows
        self.files = len(files)
        self.memory_id = np.asarray(t.column("memory_id").to_pylist(), dtype=object)
        self.cols = {c: t.column(c).to_pylist()
                     for c in ("session_id", "tool", "sequence_order", "context", "title")}
        self.emb = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)

    def mask(self, filters, tokens) -> np.ndarray:
        """Rows passing ``filters`` under the API's semantics for the
        operators the benchmark sends (``contains`` on text-indexed
        fields is all-query-tokens-present)."""
        m = np.ones(self.rows, dtype=bool)
        for f in filters:
            col, op, v = self.cols[f["field"]], f["operator"], f["value"]
            if op == "is":
                keep = [x == v for x in col]
            elif op == "any_of":
                keep = [x in v for x in col]
            elif op == "between":
                keep = [x is not None and v[0] <= x <= v[1] for x in col]
            elif op == "contains":
                need = set(tokens(v))
                keep = [x is not None and need <= set(tokens(x)) for x in col]
            else:
                raise ValueError(f"no reference for operator {op!r}")
            m &= np.asarray(keep, dtype=bool)
        return m

    def topk(self, qv, k: int, threshold: float, mask=None) -> list[tuple[str, float]]:
        """Expected (memory_id, score) of a cosine top-k: score desc,
        memory_id asc, score threshold applied after the top-k."""
        q = np.asarray(qv, dtype=np.float64)
        idx = np.arange(self.rows) if mask is None else np.flatnonzero(mask)
        e = self.emb[idx]
        na = np.linalg.norm(e, axis=1)
        nq = float(np.linalg.norm(q))
        with np.errstate(invalid="ignore", divide="ignore"):
            s = np.where((na == 0) | (nq == 0), 0.0, (e @ q) / (na * nq))
        order = sorted(range(len(idx)), key=lambda i: (-s[i], self.memory_id[idx[i]]))[:k]
        return [(self.memory_id[idx[i]], float(s[i])) for i in order if s[i] >= threshold]


def search_check(expected, got, tol: float = 1e-9) -> str | None:
    """Compare a search result with the expected top-k. Scores must
    agree to ``tol`` position by position; ids must agree once equal
    scores are ordered by id, as the search's tiebreak orders them."""
    if len(got) != len(expected):
        return f"{len(got)} results, expected {len(expected)}"
    for (eid, es), (gid, gs) in zip(expected, got):
        if gs is None or abs(es - gs) > tol:
            return f"score {gs} for {gid}, expected {es} for {eid}"

    def canon(rs):
        return [i for i, _ in sorted(rs, key=lambda r: (-round(r[1], 9), r[0]))]

    if canon(expected) != canon(got):
        return "result ids differ from the brute-force top-k"
    return None
