"""Search-pipeline catalog queries: strategy dispatch (K6) composed
end-to-end, and RRF hybrid fusion (K5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fegis_spark.catalog import register
from fegis_spark.model import load_table, persisted
from fegis_spark.operators.rrf import fuse_legs, lexical_score_sql, rrf_fuse
from fegis_spark.queries.sqlfrag import portable_ln, tokens_sql
from fegis_spark.queries.vector_q import _COS, _query_vec

_TERMS = ["data", "model", "system"]


@register(
    "rrf_hybrid_search",
    oracle=f"""
    WITH scored AS (
      SELECT d.doc_id AS id,
             {_COS} AS dense,
             {lexical_score_sql('d.text', _TERMS, spark=False)} AS lex
      FROM documents d
      JOIN embeddings a ON a.vec_id = d.doc_id
      CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ), ranked AS (
      SELECT id,
             row_number() OVER (ORDER BY dense DESC, id) AS r_dense,
             row_number() OVER (ORDER BY lex DESC, id) AS r_lex
      FROM scored
    )
    SELECT id, r_dense, r_lex,
           1.0/(60 + r_dense) + 1.0/(60 + r_lex) AS rrf
    FROM ranked
    ORDER BY 1.0/(60 + r_dense) + 1.0/(60 + r_lex) DESC, id
    LIMIT 10
    """,
    covers=("K5", "K6"),
    bench=True,
)
def rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 hybrid: dense cosine rank + lexical occurrence rank fused
    with RRF(K=60) — the deterministic form of the qdrant-client
    hybrid mode the reference documents (handler.py:52)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    joined = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "text", "embedding"
    )
    return rrf_fuse(
        joined,
        "doc_id",
        "embedding",
        "text",
        _query_vec(spark, sf_dir),
        _TERMS,
        k=10,
    )


@register(
    "search_pipeline_full",
    oracle=f"""
    SELECT vec_id, label, score FROM (
      SELECT a.vec_id, a.label, round({_COS}, 6) AS score
      FROM embeddings a
      CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      WHERE a.label BETWEEN 1 AND 8 AND a.vec_id IS DISTINCT FROM 0
      ORDER BY {_COS} DESC, a.vec_id
      LIMIT 20
    ) WHERE score >= 0.1
    """,
    covers=("K2", "K6", "F2", "F5", "F12", "X1"),
)
def search_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 end-to-end composed pipeline in the reference's stage order
    (§3.2): compile filters → filter → score → top-k → threshold →
    project. Exercises the between + is_not algebra inside a filtered
    search."""
    from fegis_spark.plans.search import filtered_search

    emb = load_table(spark, sf_dir, "embeddings")
    out = filtered_search(
        emb,
        "embedding",
        _query_vec(spark, sf_dir),
        filters=[
            {"field": "label", "operator": "between", "value": [1, 8]},
            {"field": "vec_id", "operator": "is_not", "value": 0},
        ],
        k=20,
        score_threshold=0.1,
        valid_fields={"label", "vec_id"},
        timestamp_fields=set(),
    )
    return out.select("vec_id", "label", F.round("score", 6).alias("score"))


@register(
    "rrf_hybrid_pooled",
    oracle=f"""
    WITH scored AS (
      SELECT d.doc_id AS id,
             {_COS} AS dense,
             {lexical_score_sql('d.text', _TERMS, spark=False)} AS lex
      FROM documents d
      JOIN embeddings a ON a.vec_id = d.doc_id
      CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ), dp AS (
      SELECT id, row_number() OVER (ORDER BY dense DESC, id) AS r_dense
      FROM scored ORDER BY dense DESC, id LIMIT 100
    ), lp AS (
      SELECT id, row_number() OVER (ORDER BY lex DESC, id) AS r_lex
      FROM scored ORDER BY lex DESC, id LIMIT 100
    ), fused AS (
      SELECT COALESCE(dp.id, lp.id) AS id, dp.r_dense, lp.r_lex,
             COALESCE(1.0/(60 + dp.r_dense), 0) + COALESCE(1.0/(60 + lp.r_lex), 0) AS rrf
      FROM dp FULL OUTER JOIN lp ON dp.id = lp.id
    )
    SELECT id, r_dense, r_lex, rrf FROM fused ORDER BY rrf DESC, id LIMIT 10
    """,
    covers=("K5", "K6", "X2"),
)
def rrf_hybrid_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 hybrid at scale: candidate pools (top-100 per modality via
    TakeOrderedAndProject, collected in one action) are ranked and fused
    on the driver instead of the whole corpus — the form whose
    corpus-size cost is one scan and two constant-size heaps.
    Pool-absent docs contribute 0 for that modality, the standard
    candidate-pool RRF convention."""
    from fegis_spark.operators.rrf import rrf_fuse_pooled

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    joined = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "text", "embedding"
    )
    return rrf_fuse_pooled(
        joined,
        "doc_id",
        "embedding",
        "text",
        _query_vec(spark, sf_dir),
        _TERMS,
        k=10,
        pool=100,
    )


def _bm25_oracle(terms: list[str], k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB restatement of operators.bm25 — generated from the same
    term list and constants so the arithmetic cannot drift. idf goes
    through portable_ln on the 1-row stats (bit-identical cross-engine,
    see evidence/ln_ulp_probe_r8.json), so scores ship UNROUNDED."""
    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter(tok, x -> x = '{t}')) AS DOUBLE) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n             ".join(
        f"-- lint: allow R3 (0/1-valued, fp-exact)\n"
        f"             CAST(SUM(CASE WHEN tf{i} > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS df{i}"
        for i in range(len(terms))
    )
    arg_cols = ", ".join(
        f"1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5) AS arg{i}"
        for i in range(len(terms))
    )
    idf_cols = ", ".join(
        f"{portable_ln(f'arg{i}')} AS idf{i}" for i in range(len(terms))
    )
    term_scores = " + ".join(
        f"idf{i} * tf{i} * ({k1} + 1.0)"
        f" / (tf{i} + {k1} * (1.0 - {b} + {b} * dl / avgdl))"
        for i in range(len(terms))
    )
    return f"""
    WITH tok AS (
      SELECT doc_id AS id, {tokens_sql('text', spark=False)} AS tok FROM documents
    ), tfs AS (
      SELECT id, CAST(len(tok) AS DOUBLE) AS dl,
             {tf_cols}
      FROM tok
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(SUM(CAST(dl AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avgdl,
             {df_cols}
      FROM tfs
    ), sidf AS (
      SELECT avgdl, {idf_cols}
      FROM (SELECT avgdl, {arg_cols} FROM stats)
    ), scored AS (
      SELECT id, {term_scores} AS score
      FROM tfs CROSS JOIN sidf
    )
    SELECT id, score FROM scored WHERE score > 0
    ORDER BY score DESC, id LIMIT {k}
    """


@register(
    "bm25_topk",
    oracle=_bm25_oracle(_TERMS),
    covers=("K5", "[EXT]-bm25"),
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] real BM25 (Lucene idf) over the documents table — the
    corpus-statistics upgrade of the occurrence-count lexical stand-in
    (operators/rrf.py). One corpus scan: the narrow (id, dl, tf_*)
    projection persists and feeds both the 1-row broadcast stats and
    the scoring pass; top-k is a TakeOrderedAndProject."""
    from fegis_spark.operators.bm25 import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, "text", "doc_id", _TERMS, k=10)


@register(
    "rrf_hybrid_bm25",
    bench=True,  # production-shaped hybrid tracked alongside rrf_hybrid_search (r4 verdict #6)
    oracle=f"""
    WITH tok AS (
      SELECT d.doc_id AS id, {tokens_sql('d.text', spark=False)} AS tok, d.text, a.embedding
      FROM documents d JOIN embeddings a ON a.vec_id = d.doc_id
    ), tfs AS (
      SELECT id, embedding, CAST(len(tok) AS DOUBLE) AS dl,
             CAST(len(list_filter(tok, x -> x = 'data')) AS DOUBLE) AS tf0,
             CAST(len(list_filter(tok, x -> x = 'model')) AS DOUBLE) AS tf1,
             CAST(len(list_filter(tok, x -> x = 'system')) AS DOUBLE) AS tf2
      FROM tok
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(SUM(CAST(dl AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avgdl,
             CAST(SUM(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS df0,  -- lint: allow R3 (0/1-valued, fp-exact)
             CAST(SUM(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS df1,  -- lint: allow R3 (0/1-valued, fp-exact)
             CAST(SUM(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS df2  -- lint: allow R3 (0/1-valued, fp-exact)
      FROM tfs
    ), sidf AS (
      -- idf via portable_ln on the 1-row stats (bit-identical
      -- cross-engine; native ln is 1 ulp off on ~2.5% of inputs)
      SELECT avgdl,
             {portable_ln('arg0')} AS idf0,
             {portable_ln('arg1')} AS idf1,
             {portable_ln('arg2')} AS idf2
      FROM (
        SELECT avgdl,
               1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5) AS arg0,
               1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5) AS arg1,
               1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5) AS arg2
        FROM stats
      )
    ), scored AS (
      SELECT a.id, {_COS} AS dense,
             idf0 * tf0 * (1.2 + 1.0) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
           + idf1 * tf1 * (1.2 + 1.0) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
           + idf2 * tf2 * (1.2 + 1.0) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
             AS bm25
      FROM tfs a
      CROSS JOIN sidf
      CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ), dp AS (
      SELECT id, row_number() OVER (ORDER BY dense DESC, id) AS r_dense
      FROM scored ORDER BY dense DESC, id LIMIT 100
    ), lp AS (
      -- mirror bm25_scores' score > 0 gate: docs matching no query
      -- term never enter the lexical pool (otherwise, when fewer than
      -- 100 docs score positive, zero-score padding would earn rrf
      -- contributions Spark never emits)
      SELECT id, row_number() OVER (ORDER BY bm25 DESC, id) AS r_bm25
      FROM scored WHERE bm25 > 0 ORDER BY bm25 DESC, id LIMIT 100
    )
    SELECT COALESCE(dp.id, lp.id) AS id, dp.r_dense, lp.r_bm25,
           COALESCE(1.0/(60 + dp.r_dense), 0) + COALESCE(1.0/(60 + lp.r_bm25), 0) AS rrf
    FROM dp FULL OUTER JOIN lp ON dp.id = lp.id
    ORDER BY COALESCE(1.0/(60 + dp.r_dense), 0) + COALESCE(1.0/(60 + lp.r_bm25), 0) DESC,
             COALESCE(dp.id, lp.id)
    LIMIT 10
    """,
    covers=("K5", "[EXT]-bm25"),
)
def rrf_hybrid_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 hybrid with a REAL lexical leg: BM25 (corpus-stats idf +
    length normalization) rank-fused with dense cosine via RRF(K=60),
    candidate-pool form (top-100 per modality, the pooled fusion of
    operators/rrf.py). Only docs with a positive BM25 score enter the
    lexical leg. The production-shaped successor of
    rrf_hybrid_search's occurrence-count stand-in."""
    from fegis_spark.functions.vector import cosine_lit_sql
    from fegis_spark.operators.bm25 import bm25_score_sql, bm25_tf_sql

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    joined = docs.join(emb, docs.doc_id == emb.vec_id)
    tf = bm25_tf_sql("text", _TERMS)
    # one persisted projection feeds the BM25 stats and both legs
    with persisted(
        joined.selectExpr(
            "doc_id AS id",
            f"{cosine_lit_sql('embedding', _query_vec(spark, sf_dir))} AS dense",
            *tf,
        )
    ) as base:
        score = bm25_score_sql(base, len(tf) - 1)
        return fuse_legs(
            base.selectExpr("id", "dense", f"{score} AS lex"),
            k=10,
            pool=100,
            lex_where="lex > 0",
            rank_names=("r_dense", "r_bm25"),
        )
