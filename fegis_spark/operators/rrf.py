"""Deterministic reciprocal-rank fusion (SURVEY.md K5).

The reference only *documents* hybrid RRF (qdrant-client rank-fuses
and overwrites scores — fegis/search/handler.py:52 comment); here it
is implemented explicitly: dense rank (cosine) + lexical rank (term
occurrence count), fused as 1/(K+r_dense) + 1/(K+r_lex) with the
canonical K=60. Ranks have id tiebreaks, so the fusion is fully
deterministic and oracle-checkable.

Both forms take the same steps — each leg's bounded candidate set is
computed on the cluster and merged by the driver, the client-side
fusion of qdrant-client and the coordinator merge of REPOSE:

1. score the corpus once into a persisted (id, dense, lex) projection;
2. collect the two top-`pool` legs in ONE action: at most 2·pool rows,
   each leg in Spark's (value DESC, id) order, so a row's position in
   its leg is its rank. Ranks are never re-sorted in Python, whose
   order of NaN, -0.0 and NULL is not Spark's;
3. ``rrf_fuse`` only: the exact corpus-wide rank of each candidate
   missing from a leg, from ONE count aggregate of the projection
   against those candidates entered as a literal table;
4. fuse on the driver, unpersist the projection and return the top-k
   as a typed VALUES frame.

The corpus is scanned once and never shuffled, the driver holds at
most 2·pool rows, and no executed plan has a WindowExec (an
unpartitioned ``row_number`` over the corpus — the naive spelling —
funnels every row through one task). The operators are eager: the
returned frame references nothing cached, so nothing they persist
outlives the call.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from fegis_spark.functions.vector import cosine_lit_sql
from fegis_spark.model import persisted
from fegis_spark.operators.text_analysis import occurrences_sql, padded_sql
from fegis_spark.queries.sqlfrag import double_sql

RRF_K = 60
_LEGS = ("dense", "lex")


def lexical_score_sql(text_col: str, terms: Sequence[str], *, spark: bool) -> str:
    """Occurrence-count lexical relevance of text expression `text_col`
    (portable; BM25 needs corpus stats — this is the deterministic
    stand-in the fusion rank needs): the space-padded occurrences of
    each term, summed onto a DOUBLE zero. ONE parsed expression on the
    Spark side instead of a py4j Column chain per term (CLAUDE.md
    driver-side plan-cost rule)."""
    p = padded_sql(text_col, spark=spark)
    return "CAST(0 AS DOUBLE)" + "".join(
        f" + {occurrences_sql(p, f' {t} ')}" for t in terms
    )


def _scored(df, id_col, vec_col, text_col, query_vec, query_terms) -> DataFrame:
    return df.selectExpr(
        f"{id_col} AS id",
        cosine_lit_sql(vec_col, query_vec) + " AS dense",
        lexical_score_sql(text_col, query_terms, spark=True) + " AS lex",
    )


def rrf_fuse(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    text_col: str,
    query_vec: Sequence[float],
    query_terms: Sequence[str],
    k: int = 10,
    rrf_k: int = RRF_K,
    pool: int | None = None,
) -> DataFrame:
    """Hybrid search with corpus-wide rank semantics — r_dense/r_lex are
    each doc's rank over the FULL corpus — from a bounded candidate set.

    Exactness: a non-candidate doc has both ranks > pool, so its fused
    score is at most 2/(rrf_k+pool+1), while the dense-top r docs each
    score at least 1/(rrf_k+r); 1/(rrf_k+r) > 2/(rrf_k+pool+1) holds
    for all r < (pool+1-rrf_k)/2, so with pool >= 2k + rrf_k + 1 at
    least k candidates beat every non-candidate and the global top-k
    lies inside the candidate union. A rank missing from a leg is
    exact by construction: 1 + the count of rows strictly ahead in the
    same (value DESC, id) total order as row_number."""
    if pool is None:
        pool = max(100, 2 * k + rrf_k + 1)
    with persisted(
        _scored(df, id_col, vec_col, text_col, query_vec, query_terms)
    ) as scored:
        return fuse_legs(scored, k, pool, rrf_k, exact=True)


def rrf_fuse_pooled(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    text_col: str,
    query_vec: Sequence[float],
    query_terms: Sequence[str],
    k: int = 10,
    pool: int = 100,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Scale-path hybrid search: ranks inside the top-`pool` of each
    modality. A doc's rank within its pool equals its global rank, so
    for docs present in a pool the RRF contribution is identical to the
    all-corpus form (rrf_fuse); a doc absent from a modality's pool
    contributes 0 for that modality (the standard candidate-pool RRF
    convention), so no rank aggregate runs."""
    with persisted(
        _scored(df, id_col, vec_col, text_col, query_vec, query_terms)
    ) as scored:
        return fuse_legs(scored, k, pool, rrf_k)


def fuse_legs(
    scored: DataFrame,
    k: int,
    pool: int,
    rrf_k: int = RRF_K,
    *,
    exact: bool = False,
    lex_where: str | None = None,
    rank_names: tuple[str, str] = ("r_dense", "r_lex"),
) -> DataFrame:
    """RRF top-k of `scored` (id, dense, lex) as a VALUES frame
    (id, <rank_names>, rrf), steps 2-4 of the module doc. The caller
    owns `scored`'s persist. `lex_where` (SQL over `lex`, pooled form
    only) gates which rows may enter the lexical leg. With `exact`, a
    candidate missing from a leg gets its corpus-wide rank (rrf_fuse);
    without it, no rank (NULL) and no contribution (the pooled form).
    The rrf sum is the same IEEE double ops as the SQL
    1.0/(rrf_k + r) + ..., so it is bit-identical to the oracles' and
    ships UNROUNDED (round(x, 6) would put it in the midpoint tie-break
    class)."""
    if exact and lex_where:
        raise ValueError("fuse_legs: lex_where gates the pooled form only")
    spark = scored.sparkSession

    def leg(df: DataFrame, tag: int) -> DataFrame:
        col = _LEGS[tag]
        return (
            df.orderBy(F.desc(col), F.asc("id"))
            .limit(pool)
            .selectExpr(f"{tag} AS leg", "id", "dense", "lex")
        )

    lex = scored.where(lex_where) if lex_where else scored
    legs = leg(scored, 0).unionAll(leg(lex, 1)).collect()
    ranks: dict = {}
    for leg in (0, 1):
        for pos, r in enumerate((r for r in legs if r.leg == leg), 1):
            ranks.setdefault(r.id, [None, None])[leg] = pos
    if exact:
        values = {r.id: (r.dense, r.lex) for r in legs}
        missing = [
            (leg, i, values[i][leg])
            for i, rr in ranks.items()
            for leg in (0, 1)
            if rr[leg] is None
        ]
        for r in _ahead_counts(scored, missing):
            ranks[r.cid][r.leg] = r.ahead + 1

    def contrib(r: int | None) -> float:
        return 0.0 if r is None else 1.0 / (rrf_k + r)

    # rrf is a finite positive double, which Python orders as Spark does
    fused = sorted(
        ((contrib(rd) + contrib(rl), i, rd, rl) for i, (rd, rl) in ranks.items()),
        key=lambda t: (-t[0], t[1]),
    )[:k]
    id_type = dict(scored.dtypes)["id"]
    return _values_frame(
        spark,
        [tuple(_lit(v) for v in (i, rd, rl, s)) for s, i, rd, rl in fused],
        [("id", id_type), (rank_names[0], "bigint"), (rank_names[1], "bigint"), ("rrf", "double")],
    )


def _ahead_counts(scored: DataFrame, missing: list[tuple]) -> list[Row]:
    """(leg, cid, ahead) for each (leg, cid, value) in `missing`: the
    rows of `scored` strictly ahead of the candidate in that leg's
    (value DESC, id) order — Spark's DESC order: NULLs last, NaN first,
    -0.0 equal to 0.0. ONE count aggregate; the candidates enter as a
    literal table generated inline next to each row (no join, so no
    broadcast job for the literal side, which a LocalTableScan spreads
    over up to defaultParallelism tasks), and the aggregate combines
    map-side down to at most len(missing) rows."""
    if not missing:
        return []

    def arr(vals) -> str:
        return "array(" + ", ".join(vals) + ")"

    legs = arr(str(leg) for leg, _, _ in missing)
    cids = arr(_lit(i) for _, i, _ in missing)
    vals = arr(double_sql(x) for _, _, x in missing)

    def ahead(col: str) -> str:
        return (
            f"({col} > v OR ({col} <=> v AND id < cid)"
            f" OR (v IS NULL AND {col} IS NOT NULL))"
        )

    return (
        scored.selectExpr(
            "id", *_LEGS, f"inline(arrays_zip({legs}, {cids}, {vals})) AS (leg, cid, v)"
        )
        .where(f"CASE WHEN leg = 0 THEN {ahead(_LEGS[0])} ELSE {ahead(_LEGS[1])} END")
        .groupBy("leg", "cid")
        .agg(F.count("*").alias("ahead"))
        .collect()
    )


def _lit(v) -> str:
    """The SQL literal of a collected id, rank or score."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return double_sql(v)
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(int(v))


def _values_frame(spark, rows: list[tuple[str, ...]], cols: list[tuple[str, str]]) -> DataFrame:
    """A typed literal frame: collecting it runs no Spark job. Zero
    rows keep the column names and types."""
    names = ", ".join(n for n, _ in cols)
    body = rows or [tuple("NULL" for _ in cols)]
    values = ", ".join("(" + ", ".join(r) + ")" for r in body)
    return spark.sql(
        "SELECT "
        + ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
        + f" FROM VALUES {values} AS t({names})"
        + ("" if rows else " WHERE false")
    )
