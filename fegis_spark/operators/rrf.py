"""Deterministic reciprocal-rank fusion (SURVEY.md K5).

The reference only *documents* hybrid RRF (qdrant-client rank-fuses
and overwrites scores — fegis/search/handler.py:52 comment); here it
is implemented explicitly: dense rank (cosine) + lexical rank (term
occurrence count), fused as 1/(K+r_dense) + 1/(K+r_lex) with the
canonical K=60. Ranks have id tiebreaks, so the fusion is fully
deterministic and oracle-checkable.

Neither form plans a WindowExec: ``rrf_fuse`` keeps corpus-wide-rank
semantics by ranking only a provably-sufficient candidate pool
(TakeOrdered pools + broadcast count-joins for exact global ranks);
``rrf_fuse_pooled`` ranks inside constant-size pools via the
window-free ranked_topk. An unpartitioned ``row_number`` window over
the corpus — the naive spelling — funnels every row through one task
and is exactly what these plans exist to avoid.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fegis_spark.functions.vector import cosine_lit_sql
from fegis_spark.operators.text_analysis import occurrences_sql, padded_sql
from fegis_spark.operators.topk import ranked_topk

RRF_K = 60


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
    cache_intermediate: bool = True,
) -> DataFrame:
    """Hybrid search with corpus-wide rank semantics — r_dense/r_lex are
    each doc's rank over the FULL corpus — via a bounded-candidate plan.

    Exactness: a non-candidate doc has both ranks > pool, so its fused
    score is at most 2/(rrf_k+pool+1), while the dense-top r docs each
    score at least 1/(rrf_k+r); 1/(rrf_k+r) > 2/(rrf_k+pool+1) holds
    for all r < (pool+1-rrf_k)/2, so with pool >= 2k + rrf_k + 1 at
    least k candidates beat every non-candidate and the global top-k
    lies inside the candidate union. Ranks themselves are exact by
    construction (count of rows strictly ahead, same (value desc, id)
    total order as row_number).

    Plan: two TakeOrderedAndProject pools (per-partition heaps), then
    two broadcast theta-count-joins of the corpus against the <=2*pool
    candidates — no WindowExec, no global sort, the corpus never
    shuffles (the count aggregate is map-side combined down to <=2*pool
    rows).

    cache_intermediate persists the scored projection (id, dense, lex —
    ~24 bytes/row, ~1% of corpus width), which the plan otherwise
    re-derives once per pool and once per rank join: four scans of the
    corpus plus four cosine passes become one. At warehouse scale you
    would materialize it to a scratch table instead. The returned plan
    still references the cache, so the operator cannot unpersist it; it
    stays until LRU eviction or spark.catalog.clearCache() (the
    repo-wide cache-ownership policy).
    """
    if pool is None:
        pool = max(100, 2 * k + rrf_k + 1)
    scored = df.selectExpr(
        f"{id_col} AS id",
        cosine_lit_sql(vec_col, query_vec) + " AS dense",
        lexical_score_sql(text_col, query_terms, spark=True) + " AS lex",
    )
    if cache_intermediate:
        from pyspark import StorageLevel

        scored = scored.persist(StorageLevel.MEMORY_AND_DISK)
    dc = scored.orderBy(F.desc("dense"), F.col("id")).limit(pool)
    lc = scored.orderBy(F.desc("lex"), F.col("id")).limit(pool)
    # pools carry identical full rows for the same id, so distinct()
    # on the whole row dedupes the union
    cand = dc.union(lc).distinct()

    def global_rank(val: str, rank_name: str) -> DataFrame:
        s, c = scored.alias("s"), cand.alias("c")
        ahead = (F.col(f"s.{val}") > F.col(f"c.{val}")) | (
            (F.col(f"s.{val}") == F.col(f"c.{val}")) & (F.col("s.id") < F.col("c.id"))
        )
        return (
            s.join(F.broadcast(c), ahead)  # bcast-ok: pooled top-(2k+rrf_k) candidate counts
            .groupBy(F.col("c.id").alias("id"))
            .agg((F.count("*") + 1).cast("bigint").alias(rank_name))
        )

    fused = (
        cand.select("id")
        .join(global_rank("dense", "r_dense"), "id", "left")
        .join(global_rank("lex", "r_lex"), "id", "left")
        .select(
            "id",
            # absent from the count-join = zero rows ahead = rank 1
            F.coalesce("r_dense", F.lit(1)).cast("bigint").alias("r_dense"),
            F.coalesce("r_lex", F.lit(1)).cast("bigint").alias("r_lex"),
        )
        .withColumn(
            # UNROUNDED: ranks are exact integers, so the reciprocal
            # sum is a bit-identical IEEE double on both engines;
            # round(x, 6) would put it in the midpoint tie-break class
            "rrf",
            1.0 / (rrf_k + F.col("r_dense")) + 1.0 / (rrf_k + F.col("r_lex")),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.col("id")).limit(k).select(
        "id", "r_dense", "r_lex", "rrf"
    )


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
    """Scale-path hybrid search: top-`pool` per modality first (each a
    TakeOrderedAndProject over the corpus — per-partition heaps, no
    global sort), then rank inside the constant-size pools via the
    window-free ranked_topk and fuse.

    A doc's rank within its top-`pool` equals its global rank, so for
    docs present in a pool the RRF contribution is identical to the
    all-corpus form (rrf_fuse); a doc absent from a modality's pool
    contributes 0 for that modality (the standard candidate-pool RRF
    convention). Corpus-size work is two scans + two top-k heaps, or
    one scan of the persisted scored projection, which — as in
    rrf_fuse — outlives the call until LRU eviction or
    spark.catalog.clearCache()."""
    scored = df.selectExpr(
        f"{id_col} AS id",
        cosine_lit_sql(vec_col, query_vec) + " AS dense",
        lexical_score_sql(text_col, query_terms, spark=True) + " AS lex",
    )
    from pyspark import StorageLevel

    scored = scored.persist(StorageLevel.MEMORY_AND_DISK)
    dpool = ranked_topk(scored.select("id", "dense"), "dense", "id", pool, "r_dense")
    lpool = ranked_topk(scored.select("id", "lex"), "lex", "id", pool, "r_lex")
    # union + max-agg outer merge: pool ids are unique, and full outer
    # can't broadcast (it would plan a SortMergeJoin over the pools)
    fused = (
        dpool.select(
            "id",
            F.col("r_dense").cast("bigint").alias("r_dense"),
            F.lit(None).cast("bigint").alias("r_lex"),
        )
        .union(
            lpool.select(
                "id",
                F.lit(None).cast("bigint").alias("r_dense"),
                F.col("r_lex").cast("bigint").alias("r_lex"),
            )
        )
        .groupBy("id")
        .agg(F.max("r_dense").alias("r_dense"), F.max("r_lex").alias("r_lex"))
        .withColumn(
            # UNROUNDED bit-identical reciprocal-rank sum (see rrf_fuse)
            "rrf",
            F.coalesce(1.0 / (rrf_k + F.col("r_dense")), F.lit(0.0))
            + F.coalesce(1.0 / (rrf_k + F.col("r_lex")), F.lit(0.0)),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.col("id")).limit(k).select(
        "id", "r_dense", "r_lex", "rrf"
    )
