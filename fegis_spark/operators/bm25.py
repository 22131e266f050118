"""BM25 lexical scoring ([EXT] — upgrade of the occurrence-count
stand-in in operators/rrf.py, which exists because BM25 needs corpus
statistics; this operator computes them).

Okapi BM25 with the Lucene idf form (always positive):

    idf(t)      = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    score(d, q) = Σ_t idf(t) · tf_td·(k1+1) / (tf_td + k1·(1 - b + b·dl_d/avgdl))

where tf is the term's token frequency in the document, dl the
document's token count, and avgdl the corpus mean. Term/token matching
uses the same Unicode analyzer as the dedup family
(queries/sqlfrag.tokens_sql), so CJK queries work per codepoint.

Scale shape: ONE narrow projection per document — (id, dl, tf_1..tf_k)
for the k query terms, k small — persisted because it feeds both the
corpus-stats aggregate and the scoring pass. Stats collapse to a single
row (map-side combined) that one bounded driver round-trip per build
re-enters as literals, scoring is a per-row expression, and the top-k
is a TakeOrderedAndProject (per-partition heaps, no global sort, no
window). The corpus is scanned once and never shuffled. Nothing is
memoized on the driver: every build recomputes the stats from the
frame it is given, so a rewritten corpus never serves stale idfs.

Caching: the (id, dl, tf_*) projection persists MEMORY_AND_DISK
because it feeds both the stats aggregate and the scoring pass. Who
releases it depends on the form:
- bm25_scores / bm25_topk return a LAZY plan that reads the persisted
  projection, so they leave it cached: the entry stays until LRU
  eviction or spark.catalog.clearCache() (the repo-wide cache-ownership
  policy; the same note sits on every persisting lazy operator);
- an eager caller persists its own projection (with bm25_tf_sql's
  columns beside its others), scores it through bm25_score_sql and
  releases it before it returns (model.persisted) — rrf_hybrid_bm25
  (queries/search_q.py) leaves nothing cached.

Determinism: all per-row math IEEE double; avgdl goes through
DECIMAL(38,6) (partition-order-proof mean); idf goes through
portable_ln (sqlfrag.py — bit-identical across engines, unlike native
ln), so scores ship UNROUNDED and still hash-match; top-k carries an
id tiebreak. The DuckDB oracle restates the identical arithmetic
(queries/search_q.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# re-exported: perfbench and the tools/ probes import it from here
from fegis_spark.model import clear_memos  # noqa: F401

K1 = 1.2
B = 0.75


def bm25_tf_sql(text_col: str, terms: Sequence[str]) -> list[str]:
    """The tf projection's columns as SQL text: dl (token count) and
    tf0..tf{n-1}, one per distinct analyzer token of ``terms``. The
    repeated tokens_sql text is merged by codegen's common-subexpression
    elimination."""
    from fegis_spark.plans.filters import analyzer_tokens
    from fegis_spark.queries.sqlfrag import tokens_sql

    qterms = list(dict.fromkeys(t for term in terms for t in analyzer_tokens(term)))
    if not qterms:
        raise ValueError("bm25_scores: no analyzer tokens in query terms")
    tok = tokens_sql(text_col, spark=True)
    return [f"CAST(size({tok}) AS DOUBLE) AS dl"] + [
        f"CAST(size(filter({tok}, _t -> _t = '{q.replace(chr(39), chr(39) * 2)}')) AS DOUBLE) AS tf{i}"
        for i, q in enumerate(qterms)
    ]


def bm25_score_sql(tfs: DataFrame, n_terms: int, k1: float = K1, b: float = B) -> str:
    """The BM25 score of a row of ``tfs`` (dl, tf0..tf{n_terms-1}) as
    SQL text, with the corpus stats as literals: ONE action collects the
    1-row stats (avgdl and the portable_ln idfs) of ``tfs``.

    Hoisting the stats to literals keeps the HOF-bearing portable_ln
    out of the scoring stage: evaluated in-plan on the broadcast side of
    a BroadcastNestedLoopJoin it disabled the stage's whole-stage
    codegen and cost the rrf_hybrid_bm25 headline a consistent 1.7x
    (evidence/bm25_ab_r9.json: 1.12 s in-plan vs 0.28 s hoisted). The
    stats are not memoized: a build's scores are a pure function of the
    frame it is given. The literals are BIT-IDENTICAL to the in-plan
    form (same expressions, evaluated by the same engine, re-entered by
    double_sql), so the DuckDB oracle is unaffected.

    idf is a function of the stats alone, so it is computed once there
    via portable_ln (sqlfrag.py), which is bit-identical across engines
    — native ln is 1 ulp off glibc on ~2.5% of inputs (the midpoint
    flake class); with every operand identical cross-engine the score
    ships UNROUNDED. avgdl goes through DECIMAL(38,6) (a
    partition-order-proof mean)."""
    from fegis_spark.queries.sqlfrag import double_sql, portable_ln

    n_docs = "CAST(count(*) AS DOUBLE)"

    def idf(i: int) -> str:
        df_i = f"sum(CAST(tf{i} > 0 AS DOUBLE))"
        return portable_ln(f"1.0D + ({n_docs} - {df_i} + 0.5D) / ({df_i} + 0.5D)", spark=True)

    stats = tfs.selectExpr(
        "CAST(sum(CAST(dl AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avgdl",
        *[f"{idf(i)} AS idf{i}" for i in range(n_terms)],
    ).collect()[0]
    # Empty corpus: the aggregates are NULL; placeholders keep the
    # expression well-typed (tfs is empty, so no row is scored).
    avgdl = double_sql(stats["avgdl"] if stats["avgdl"] is not None else 1.0)
    norm = f"{1.0 - b!r}D + {b!r}D * dl / {avgdl}"
    return " + ".join(
        f"{double_sql(idf if idf is not None else 0.0)} * tf{i} * {k1 + 1.0!r}D"
        f" / (tf{i} + {k1!r}D * ({norm}))"
        for i, idf in ((i, stats[f"idf{i}"]) for i in range(n_terms))
    )


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    terms: Sequence[str],
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """(id, score) for every document with score > 0 — feed into a
    TakeOrdered for top-k (bm25_topk). Three SQL texts, one selectExpr
    each: the tf projection (bm25_tf_sql, persisted: it feeds both the
    stats and the scoring pass), the stats row and the score
    (bm25_score_sql). The returned plan is lazy and reads the persisted
    projection, so the projection stays cached after the call (until
    LRU eviction or spark.catalog.clearCache()); an eager caller that
    persists its own projection instead owns and releases it
    (queries/search_q.rrf_hybrid_bm25)."""
    tf = bm25_tf_sql(text_col, terms)
    tfs = df.selectExpr(f"{id_col} AS id", *tf).persist(StorageLevel.MEMORY_AND_DISK)
    score = bm25_score_sql(tfs, len(tf) - 1, k1, b)
    return tfs.selectExpr("id", f"{score} AS score").where("score > 0")


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    terms: Sequence[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-k BM25 hits with total-order (score desc, id) tiebreak."""
    scored = bm25_scores(df, text_col, id_col, terms, k1=k1, b=b)
    return scored.orderBy(F.desc("score"), F.col("id")).limit(k)
