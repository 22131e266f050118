"""span_corruption_plan boundary pins: the sf corpora never exercise
0/1/2-token documents (the sequence(1, 0)-DESCENDS guard and the
i>=2 / i>=3 span-overlap boundaries), so they are pinned here on a
constructed corpus, cross-checked Spark-vs-DuckDB AND against an
independent pure-Python restatement of the mask rule."""

from __future__ import annotations

import hashlib

import duckdb
from pyspark.sql import functions as F

from fegis_spark.queries.textstats_q import (
    SPAN_LEN,
    SPAN_START_PCT,
    _span_masked,
    _span_start,
)


def _py_bucket(doc_id: int, j: int) -> int:
    return int(hashlib.md5(f"{doc_id}:{j}".encode()).hexdigest()[:8], 16) % 100


def _py_plan(doc_id: int, n_tokens: int) -> tuple[int, int]:
    starts = [j for j in range(1, n_tokens + 1) if _py_bucket(doc_id, j) < SPAN_START_PCT]
    masked = {
        i
        for j in starts
        for i in range(j, min(j + SPAN_LEN, n_tokens + 1))
    }
    return len(starts), len(masked)


DOCS = [
    (0, ""),                      # 0 tokens — the sequence guard
    (1, "one"),                   # 1 token — i>=2/i>=3 guards vacuous
    (2, "two tokens"),
    (3, "three little tokens"),
    (17, " ".join(f"w{k}" for k in range(40))),   # long enough to mask
    (23, " ".join(f"w{k}" for k in range(100))),
]


def test_span_plan_matches_python_reference_and_duckdb(spark):
    from fegis_spark.queries.sqlfrag import tokens_sql

    seq = (
        "CASE WHEN size(tok) >= 1 THEN sequence(1, size(tok))"
        " ELSE CAST(array() AS ARRAY<INT>) END"
    )
    df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_spans, r.n_masked)
        for r in df.selectExpr(
            "doc_id", f"{tokens_sql('text', spark=True)} AS tok"
        ).selectExpr(
            "doc_id",
            "size(tok) AS n_tokens",
            f"size(filter({seq}, j -> {_span_start('j', spark=True)})) AS n_spans",
            f"size(filter({seq}, i -> {_span_masked(spark=True)})) AS n_masked",
        ).collect()
    }
    # independent pure-Python restatement
    for doc_id, text in DOCS:
        n_tok = len(text.split())
        n_spans, n_masked = _py_plan(doc_id, n_tok)
        assert got[doc_id] == (n_tok, n_spans, n_masked), (doc_id, got[doc_id])
    # at least one constructed doc must actually mask something
    assert any(m for (_, _, m) in got.values())

    # DuckDB spelling over the same constructed corpus
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({d}, '{x}')" for d, x in DOCS)
        + ") v(doc_id, text)"
    )
    duck = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            f"""
            SELECT doc_id,
                   len(string_split(trim(text), ' ')) - CASE WHEN text = '' THEN 1 ELSE 0 END AS n_tokens,
                   len(list_filter(range(1, n + 1), j -> {_span_start('j', spark=False)})) AS n_spans,
                   len(list_filter(range(1, n + 1), i -> {_span_masked(spark=False)})) AS n_masked
            FROM (SELECT doc_id, text,
                         CASE WHEN text = '' THEN 0
                              ELSE len(string_split(text, ' ')) END AS n
                  FROM t)
            """
        ).fetchall()
    }
    for doc_id in got:
        assert duck[doc_id][1:] == got[doc_id][1:], (doc_id, duck[doc_id], got[doc_id])
