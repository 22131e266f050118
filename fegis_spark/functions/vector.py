"""Vector math as native higher-order functions (SURVEY.md §2.3).

Cosine/dot/norm compile to Catalyst expressions (zip_with + aggregate
= a sequential fold, deterministic order, no Python). All math in
float64: embeddings are stored float32 but both engines upcast before
folding, which keeps Spark and the DuckDB oracle bit-compatible.
The exact-integer projection kernel at the end of the module
(md5_signs, int_quant_sql, int_dot_sql) serves every integer path.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product: sum over zip_with products."""
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either norm is zero (matches the
    convention of returning no affinity for empty vectors)."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(d / (na * nb))


def lit_vector(q: Sequence[float]) -> Column:
    """A query vector as a literal array<double> column."""
    return F.array(*[F.lit(float(v)) for v in q])


def lit_vector_sql(q: Sequence[float]) -> str:
    """Spark-SQL string spelling of lit_vector — a dim-64 literal via
    F.array costs ~130 py4j round-trips (~60 ms of driver latency per
    use); one parsed expression costs one. 'D'-suffixed literals parse
    as DOUBLE; repr() is shortest-round-trip so the bits survive."""
    return "array(" + ", ".join(f"{float(v)!r}D" for v in q) + ")"


def dot_sql(a: str, b: str) -> str:
    """Spark-SQL string spelling of dot() — the identical zip_with +
    aggregate fold DAG, one parse instead of a py4j Column chain."""
    return (
        f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>),"
        f" CAST({b} AS ARRAY<DOUBLE>), (x, y) -> x * y),"
        " 0.0D, (acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    """sqrt of the self-dot fold — the SQL-string norm() twin."""
    return f"sqrt({dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    """Spark-SQL string spelling of cosine() — the same zip_with +
    aggregate fold DAG, one parse instead of a py4j Column chain.
    Equivalence with cosine() is pinned in tests/test_search.py.
    Evaluates THREE folds per pair (dot + both self-norms); when one
    side is literal use cosine_lit_sql, and when many pairs share
    vectors precompute per-side norms and recombine with
    cosine_from_parts_sql — measured 1.4x / 1.8x cheaper per row
    (evidence/cosine_codegen_ab_r14.json) and bit-identical."""
    d = dot_sql(a, b)
    na = norm_sql(a)
    nb = norm_sql(b)
    return (
        f"CASE WHEN {na} = 0.0D OR {nb} = 0.0D THEN 0.0D"
        f" ELSE {d} / ({na} * {nb}) END"
    )


def cosine_from_parts_sql(dot: str, na: str, nb: str) -> str:
    """cosine() recombined from a per-pair dot and PRE-COMPUTED
    per-side norms (same expressions evaluated once per vector
    instead of once per pair) — identical values, the guard and
    division are the same IEEE ops in the same order as cosine()."""
    return (
        f"CASE WHEN {na} = 0.0D OR {nb} = 0.0D THEN 0.0D"
        f" ELSE {dot} / ({na} * {nb}) END"
    )


def cosine_lit_sql(v: str, q: Sequence[float]) -> str:
    """cosine() of column ``v`` against a LITERAL query vector with
    the query's self-norm HOISTED to a driver-computed DOUBLE literal
    (a HigherOrderFunction is not foldable, so the cosine_sql form
    re-folds the constant self-norm per corpus row — a third of the
    per-row work for zero information). The hoist is bit-exact: the
    Python left fold below performs the identical IEEE double ops in
    the identical order as Spark's aggregate fold, sqrt is correctly
    rounded in both, and the shortest-repr literal round-trips the
    bits (the r9 driver-hoist convention). Bit-identical to
    cosine_sql(v, lit_vector_sql(q)) — pinned in tests/test_search.py
    incl. zero query, zero/denormal rows, and length-mismatched rows
    (both spellings fold the dot to NULL through the zip_with pad).
    Measured 1.4x cheaper per row than the cosine_sql form and 3x
    cheaper than a fully-unrolled known-dim spelling
    (evidence/cosine_codegen_ab_r14.json — the unrolled form LOST;
    see OPTIMIZATION_r14.md section 8)."""
    acc = 0.0
    for x in q:
        acc = acc + float(x) * float(x)
    nq = math.sqrt(acc)
    d = dot_sql(v, lit_vector_sql(q))
    na = norm_sql(v)
    return (
        f"CASE WHEN {na} = 0.0D OR {nq!r}D = 0.0D THEN 0.0D"
        f" ELSE {d} / ({na} * {nq!r}D) END"
    )


# ---------------------------------------------------------------------------
# The exact-integer projection kernel shared by every oracle-checkable
# vector path (SRP codes, portable-IVF routing, PQ encode/ADC, SemDeDup
# centroid similarity): md5-parity ±1 literal matrices, micro-unit
# BIGINT quantization, and an integer dot, each spelled once per
# engine. Both engines round doubles half-away-from-zero, and with
# |x| <= ~1 per entry a 64-dim dot against ±1 (or trained micro-unit)
# literals stays far inside 2^53 — so every comparison built on these
# is an exact-integer compare on Spark and DuckDB alike.

#: micro-unit quantization scale of int_quant_sql
INT_SCALE = 1_000_000


def md5_signs(ns: str, rows: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 matrix: entry (r, d) is +1 iff the first hex
    digit of md5(f"{ns}{r}:{d}") is even. ``ns`` namespaces the draws
    so SRP hyperplanes (""), IVF routing centroids ("ivfp:") and PQ
    codebooks ("pq:{m}:") are independent; the same literals embed in
    both engines, so there is no RNG to disagree about."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{ns}{r}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for d in range(dim)
        ]
        for r in range(rows)
    ]


def array_sql(items: str, spark: bool) -> str:
    """Array constructor around comma-joined SQL ``items``."""
    return f"array({items})" if spark else f"[{items}]"


def int_quant_sql(vec: str, spark: bool) -> str:
    """Array of round(x * INT_SCALE) BIGINTs of an array<float> SQL
    expression, in Spark (``spark``) or DuckDB spelling."""
    fn = "transform" if spark else "list_transform"
    return (
        f"{fn}({vec}, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * {INT_SCALE}.0) AS BIGINT))"
    )


def int_dot_sql(a: str, b: str | Sequence[int], spark: bool) -> str:
    """Exact BIGINT dot of two integer arrays; ``b`` is a SQL
    expression or a row of ints embedded as an array literal."""
    if not isinstance(b, str):
        b = array_sql(",".join(map(str, b)), spark)
    if spark:
        return (
            f"aggregate(zip_with({a}, {b}, (a, b) -> a * b), "
            f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
    return f"list_dot_product({a}, {b})"
