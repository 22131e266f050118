"""Driver-memo staleness pins. The one driver-side cache is the
session's table memo (model.table_memo): a value derived from a table
is keyed on the table's file stamp, so rewriting the table between two
builds in one session must give fresh results, while a same-stamp
second call is a hit that runs no job. BM25 corpus stats are not
memoized at all: every build recomputes them."""

from __future__ import annotations

import math

import pytest

from fegis_spark.model import load_table, table_path
from fegis_spark.operators.bm25 import bm25_scores, clear_memos


def _write(spark, sf_dir, name, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        table_path(str(sf_dir), name)
    )


def _emb_rows(f, n=40, dim=64):
    return [(i, [float(f(i * dim + d)) for d in range(dim)]) for i in range(n)]


_EMB = "vec_id long, embedding array<float>"
_DOCS = "doc_id long, text string"


def test_query_vec_memo(spark, tmp_path):
    from fegis_spark.queries.vector_q import _query_vec

    sf = str(tmp_path)
    _write(spark, sf, "embeddings", [(0, [1.0, 0.0]), (1, [0.5, 0.5])], _EMB)
    v1 = _query_vec(spark, sf)
    assert v1 == [1.0, 0.0]
    # same stamp -> memo hit: the very same list, no second lookup job
    assert _query_vec(spark, sf) is v1
    assert _query_vec(spark, sf, vec_id=1) == [0.5, 0.5]

    # rewrite the table in the same session -> the stale vector is gone
    _write(spark, sf, "embeddings", [(0, [0.0, 1.0]), (1, [0.5, 0.5])], _EMB)
    assert _query_vec(spark, sf) == [0.0, 1.0]


def test_clear_memos_drops_derived_values_keeps_frames(spark, tmp_path):
    from fegis_spark.queries.vector_q import _query_vec

    sf = str(tmp_path)
    _write(spark, sf, "embeddings", [(0, [1.0, 0.0])], _EMB)
    frame = load_table(spark, sf, "embeddings")
    v1 = _query_vec(spark, sf)
    clear_memos()
    assert load_table(spark, sf, "embeddings") is frame
    v2 = _query_vec(spark, sf)
    assert v2 == v1 and v2 is not v1


def test_pq_books_retrained_after_rewrite(spark, tmp_path, monkeypatch):
    import fegis_spark.operators.knn as knn
    from fegis_spark.queries.vector_q import _pqt_books

    trained = []
    real = knn.train_pq_books_portable

    def counting(*a, **kw):
        trained.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(knn, "train_pq_books_portable", counting)
    sf = str(tmp_path)
    _write(spark, sf, "embeddings", _emb_rows(math.sin), _EMB)
    b1 = _pqt_books(spark, sf)
    assert _pqt_books(spark, sf) is b1  # same stamp: no retraining
    assert len(trained) == 1

    _write(spark, sf, "embeddings", _emb_rows(math.cos), _EMB)
    b2 = _pqt_books(spark, sf)
    assert len(trained) == 2
    fresh = real(spark.read.parquet(table_path(sf, "embeddings")), "vec_id")
    assert b2 == fresh
    assert b2 != b1


def _scores(spark, sf):
    df = load_table(spark, sf, "documents")
    return {r.id: r.score for r in bm25_scores(df, "text", "doc_id", ["data"]).collect()}


def test_bm25_rebuild_after_rewrite_matches_cold_build(spark, tmp_path):
    old = [(1, "data systems store data"), (2, "model data"), (3, "no match here")]
    new = [
        (1, "data systems store data"),
        (2, "model"),
        (3, "data lakes"),
        (4, "more words here"),
    ]
    sf = tmp_path / "sf"
    _write(spark, sf, "documents", old, _DOCS)
    first = _scores(spark, str(sf))
    assert _scores(spark, str(sf)) == first  # repeat build: identical values

    _write(spark, sf, "documents", new, _DOCS)
    rebuilt = _scores(spark, str(sf))
    cold_sf = tmp_path / "cold"
    _write(spark, cold_sf, "documents", new, _DOCS)
    cold = _scores(spark, str(cold_sf))
    assert rebuilt == cold
    assert rebuilt[1] != pytest.approx(first[1])
