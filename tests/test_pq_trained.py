"""Portable trained-PQ (r12): the rng-free integer-exact Lloyd trainer
(operators/knn.train_pq_books_portable) must be BIT-IDENTICAL to its
SQL restatement (pq_trained_books_sql) — that equality is what makes
ann_pq_rerank_trained's retraining oracle a real certification of the
trained path rather than a literal-echo check.
"""

from __future__ import annotations

import duckdb

from fegis_spark.model import load_table
from fegis_spark.operators.knn import (
    PQ_DSUB,
    PQ_K,
    PQ_M,
    _rha,
    pq_trained_books_sql,
    pq_trained_codes_expr,
    train_pq_books_portable,
)

SF = "/root/testdata/sf0.001"


def _sql_books(sf_dir: str):
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    sql = (
        "WITH "
        + pq_trained_books_sql()
        + " SELECT m, j, d, c FROM pqt_books ORDER BY m, j, d"
    )
    out: dict = {}
    for m, j, d, c in con.sql(sql).fetchall():
        out.setdefault((int(m), int(j)), {})[int(d)] = int(c)
    return out


def test_python_trainer_matches_sql_retraining(spark):
    emb = load_table(spark, SF, "embeddings")
    books = train_pq_books_portable(emb, "vec_id")
    got = _sql_books(SF)
    assert len(books) == PQ_M
    n_cw = 0
    for mm, book in enumerate(books):
        for j, cw in enumerate(book):
            assert len(cw) == PQ_DSUB
            for d, c in enumerate(cw):
                assert got[(mm, j)][d] == c, (mm, j, d)
            n_cw += 1
    assert n_cw == PQ_M * PQ_K
    assert len(got) == n_cw


def test_null_vector_is_skipped_by_both_trainers(spark, tmp_path):
    # the sf0.001 table plus one NULL embedding: 501 rows keep the
    # cutoff at 100%, so the NULL row reaches the sample and both
    # trainers must drop it there — and still agree
    con = duckdb.connect()
    con.sql(
        f"COPY (SELECT * FROM read_parquet('{SF}/embeddings.parquet') "
        "UNION ALL SELECT 500, NULL, 0) "
        f"TO '{tmp_path}/embeddings.parquet' (FORMAT PARQUET)"
    )
    emb = load_table(spark, str(tmp_path), "embeddings")
    assert emb.filter("embedding IS NULL").count() == 1
    books = train_pq_books_portable(emb, "vec_id")
    got = _sql_books(str(tmp_path))
    assert len(got) == PQ_M * PQ_K
    for mm, book in enumerate(books):
        for j, cw in enumerate(book):
            assert [got[(mm, j)][d] for d in range(PQ_DSUB)] == cw, (mm, j)
    # the NULL row leaves the sample, so the books equal the NULL-free ones
    assert books == train_pq_books_portable(load_table(spark, SF, "embeddings"), "vec_id")


def test_trained_books_are_data_scaled(spark):
    # trained codewords live at the quantized data magnitude (~1e5-1e6
    # micro-units), nothing like the ±1 demo books — and the subspace
    # books differ from each other (the sample is not degenerate)
    emb = load_table(spark, SF, "embeddings")
    books = train_pq_books_portable(emb, "vec_id")
    flat = [c for book in books for cw in book for c in cw]
    assert max(abs(c) for c in flat) > 1000
    assert len({tuple(tuple(cw) for cw in book) for book in map(tuple, (tuple(map(tuple, b)) for b in books))}) > 1 or len(set(map(str, books))) > 1


def test_trained_encode_expr_is_valid_and_in_range(spark):
    emb = load_table(spark, SF, "embeddings")
    books = train_pq_books_portable(emb, "vec_id")
    codes = (
        emb.limit(20)
        .selectExpr(f"{pq_trained_codes_expr(books, 'embedding')} AS codes")
        .collect()
    )
    for r in codes:
        assert len(r["codes"]) == PQ_M
        assert all(0 <= c < PQ_K for c in r["codes"])


def test_rha_matches_engine_round_semantics():
    # half-away ties, both signs; non-ties floor/ceil. _rha is exact
    # ONLY on its domain — float32 x 1e6 products, whose 44-bit
    # mantissa makes both the product and the fractional part exact;
    # a full-53-bit double a half-ulp from n.5 (e.g.
    # -0.49999999999999994) would false-tie, but cannot arise there.
    assert _rha(0.5) == 1 and _rha(-0.5) == -1
    assert _rha(2.5) == 3 and _rha(-2.5) == -3
    assert _rha(2.4999999999999996) == 2
    assert _rha(1234567.4999999) == 1234567
    assert _rha(1234567.5000001) == 1234568


def test_rha_matches_duckdb_on_the_quantization_domain():
    # the real contract: _rha(float32 * 1e6) == DuckDB
    # CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) — probe a grid of
    # float32 values including exact .5-tie products and near-ties
    import struct

    vals = []
    for i in range(2000):
        f32 = struct.unpack("f", struct.pack("f", (i - 1000) / 771.0))[0]
        vals.append(f32)
    # exact micro-unit ties: n + 0.5 micro-units, both signs
    for n in (0, 1, 7, 123456):
        for s in (1.0, -1.0):
            f32 = struct.unpack("f", struct.pack("f", s * (n + 0.5) / 1e6))[0]
            vals.append(f32)
    con = duckdb.connect()
    con.sql("CREATE TABLE t (x FLOAT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    duck = [
        int(r[0])
        for r in con.sql(
            "SELECT CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FROM t"
        ).fetchall()
    ]
    mine = [_rha(float(v) * 1000000.0) for v in vals]
    assert mine == duck
