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
because it feeds both the stats aggregate and the scoring pass, and the
operator returns a LAZY plan that still references it — so it cannot
unpersist here. The entry stays until LRU eviction or
spark.catalog.clearCache() (the repo-wide cache-ownership policy; the
same note sits on every persisting operator).

Determinism: all per-row math IEEE double; avgdl goes through
DECIMAL(38,6) (partition-order-proof mean); idf goes through
portable_ln (sqlfrag.py — bit-identical across engines, unlike native
ln), so scores ship UNROUNDED and still hash-match; top-k carries an
id tiebreak. The DuckDB oracle restates the identical arithmetic
(queries/search_q.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# re-exported: perfbench and the tools/ probes import it from here
from fegis_spark.model import clear_memos  # noqa: F401

K1 = 1.2
B = 0.75


def _term_tf(tok: Column, term: str) -> Column:
    """Token frequency of an analyzer token in the token array."""
    return F.size(F.filter(tok, lambda t: t == F.lit(term)))


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    terms: Sequence[str],
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """(id, score) for every document with score > 0 — feed into a
    TakeOrdered for top-k (bm25_topk) or into an RRF fusion.
    The lambda-t token-equality filters keep _term_tf's exact
    semantics (tests/test_search.py pins the reference formula).

    The 1-row corpus stats (avgdl + portable_ln idfs) are collected in
    one bounded driver round-trip per build and re-entered as double
    literals — the classifier/BPE precedent. Evaluating the idfs
    in-plan on the broadcast side of a BroadcastNestedLoopJoin put the
    HOF-bearing portable_ln expression in the scoring stage, which
    disabled its whole-stage codegen and cost the rrf_hybrid_bm25
    headline a consistent 1.7x (A/B in evidence/bm25_ab_r9.json:
    1.12 s in-plan vs 0.28 s hoisted). The stats are not memoized: a
    build's scores are a pure function of the frame it is given. The
    literal values are BIT-IDENTICAL to the in-plan form (same
    portable_ln expression, evaluated by the same engine; py4j
    re-enters doubles via shortest-repr + correctly-rounded
    parseDouble), so the DuckDB oracle is unaffected."""
    from fegis_spark.plans.filters import analyzer_tokens

    qterms: list[str] = []
    for t in terms:
        qterms.extend(analyzer_tokens(t))
    qterms = list(dict.fromkeys(qterms))
    if not qterms:
        raise ValueError("bm25_scores: no analyzer tokens in query terms")

    from pyspark import StorageLevel

    # ONE parsed SQL projection instead of a py4j Column chain (the
    # *_expr fast-path convention): the repeated tok_sql text is
    # deduplicated by codegen's common-subexpression elimination, same
    # as the repeated Column reference was.
    from fegis_spark.queries.sqlfrag import tokens_sql

    tok_sql = tokens_sql(text_col, spark=True)
    tfs = df.selectExpr(
        f"{id_col} AS id",
        f"CAST(size({tok_sql}) AS DOUBLE) AS dl",
        *[
            "CAST(size(filter({t}, t -> t = '{q}')) AS DOUBLE) AS tf{i}".format(
                t=tok_sql, q=term.replace("'", "''"), i=i
            )
            for i, term in enumerate(qterms)
        ],
    ).persist(StorageLevel.MEMORY_AND_DISK)

    n = len(qterms)
    # idf is a function of the 1-row stats alone, so it is computed
    # ONCE there (not per corpus row) via portable_ln (sqlfrag.py),
    # which is bit-identical across engines — native ln is 1 ulp off
    # glibc on ~2.5% of inputs (the midpoint flake class); with every
    # operand identical cross-engine the score ships UNROUNDED
    from fegis_spark.queries.sqlfrag import portable_ln

    base_stats = tfs.agg(
        F.count("*").cast("double").alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(38,6)")).cast("double") / F.count("*")
        ).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("double")).alias(f"df{i}")
            for i in range(n)
        ],
    )
    srow = (
        base_stats.select(
            "avgdl",
            *[
                (
                    1.0
                    + (F.col("n_docs") - F.col(f"df{i}") + 0.5)
                    / (F.col(f"df{i}") + 0.5)
                ).alias(f"arg{i}")
                for i in range(n)
            ],
        )
        .select(
            "avgdl",
            *[
                F.expr(portable_ln(f"arg{i}", spark=True)).alias(f"idf{i}")
                for i in range(n)
            ],
        )
        .collect()[0]
    )
    # Empty corpus: the aggregates are NULL; placeholders keep the
    # projection well-typed (tfs is empty, so the output is empty
    # either way — tests/test_empty_inputs.py).
    avgdl_v = F.lit(float(srow["avgdl"]) if srow["avgdl"] is not None else 1.0)
    idf_v = [
        F.lit(float(srow[f"idf{i}"]) if srow[f"idf{i}"] is not None else 0.0)
        for i in range(n)
    ]

    def term_score(i: int) -> Column:
        tf = F.col(f"tf{i}")
        norm = tf + k1 * (1.0 - b + b * F.col("dl") / avgdl_v)
        return idf_v[i] * tf * (k1 + 1.0) / norm

    score = None
    for i in range(n):
        s = term_score(i)
        score = s if score is None else score + s
    return tfs.select("id", score.alias("score")).filter(F.col("score") > 0)


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
