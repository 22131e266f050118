"""Index-once/query-many IVF: the stored-layout flow must return the
same results as the in-session ann_ivf, and the probed query must scan
only the probed list partitions (dynamic partition pruning)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fegis_spark.model import load_table
from fegis_spark.operators.knn import (
    ann_ivf,
    ann_ivf_indexed,
    build_ivf_index,
    ivf_corpus_dir,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ivf_index(spark, tmp_path_factory):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    build_ivf_index(emb, path, "vec_id", n_lists=8)
    return path, emb


def test_indexed_matches_in_session(spark, ivf_index):
    path, emb = ivf_index
    queries = emb.filter(F.col("vec_id") < 5)
    fresh = {
        (r.query_id, r.corpus_id, r.rank)
        for r in ann_ivf(queries, emb, "vec_id", "vec_id", k=3, n_lists=8).collect()
    }
    stored = {
        (r.query_id, r.corpus_id, r.rank)
        for r in ann_ivf_indexed(spark, path, queries, "vec_id", k=3).collect()
    }
    assert fresh == stored
    assert stored  # non-empty


def test_indexed_scan_is_partition_pruned(spark, ivf_index):
    path, emb = ivf_index
    queries = emb.filter(F.col("vec_id") < 5)
    plan = (
        ann_ivf_indexed(spark, path, queries, "vec_id", k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the corpus scan must carry a runtime partition filter on list_id
    assert "dynamicpruning" in plan, plan


def test_index_layout_partitioned_by_list(spark, ivf_index):
    import os

    path, _ = ivf_index
    dirs = [d for d in os.listdir(ivf_corpus_dir(path)) if d.startswith("list_id=")]
    assert len(dirs) > 1, dirs


def test_streaming_ingest_appends_to_index(spark, ivf_index, tmp_path_factory):
    """readStream → foreachBatch(append_to_ivf_index): newly streamed
    vectors become findable by the indexed query path without any
    rebuild; existing list files are untouched (append, not rewrite)."""
    import os

    from fegis_spark.operators.knn import append_to_ivf_index

    path, emb = ivf_index
    # stage 3 'new' vectors with fresh ids as a streaming source
    staging = tmp_path_factory.mktemp("ivf_stream")
    new = emb.filter(F.col("vec_id") < 3).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    new.coalesce(1).write.mode("overwrite").parquet(str(staging / "in"))
    before_files = {
        f"{d}/{f}"
        for d, _, fs in os.walk(ivf_corpus_dir(path))
        for f in fs
        if f.endswith(".parquet")
    }

    schema = spark.read.parquet(str(staging / "in")).schema
    sdf = spark.readStream.schema(schema).parquet(str(staging / "in"))
    q = (
        sdf.writeStream.foreachBatch(
            lambda bdf, _eid: append_to_ivf_index(spark, path, bdf)
        )
        .option("checkpointLocation", str(staging / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming append did not drain in 120s"

    after_files = {
        f"{d}/{f}"
        for d, _, fs in os.walk(ivf_corpus_dir(path))
        for f in fs
        if f.endswith(".parquet")
    }
    assert before_files < after_files  # strictly appended

    # each streamed vector is an exact copy of vector i, so its top-2
    # must be exactly {original, streamed copy} (tie broken by id:
    # the original wins rank 1), both at cosine ~1.0
    from fegis_spark.operators.knn import ann_ivf_indexed

    hits = ann_ivf_indexed(spark, path, new, "vec_id", k=2).collect()
    by_query: dict[int, set[int]] = {}
    for r in hits:
        by_query.setdefault(r.query_id, set()).add(r.corpus_id)
        assert r.score > 0.999999, r
    assert by_query == {
        i + 1_000_000: {i, i + 1_000_000} for i in range(3)
    }


def test_distributed_kmeans_training_route(spark, tmp_path_factory):
    """The MLlib k-means|| route (auto for n_lists > 64, forced here):
    seeded ⇒ identical centroids across fits, driver holds only the
    k×dim centroid matrix, and the built index serves queries
    identically to a fresh ann_ivf with the same parameters."""
    from fegis_spark.operators.knn import _train_centroids

    emb = load_table(spark, SF_DIR, "embeddings")
    c1 = _train_centroids(emb, "vec_id", "embedding", 8, 3, distributed=True)
    c2 = _train_centroids(emb, "vec_id", "embedding", 8, 3, distributed=True)
    assert c1 == c2  # same seed, same data → same centroids
    dim = len(c1[0][1])
    assert len(c1) == 8 and all(len(v) == dim for _, v in c1)

    path = str(tmp_path_factory.mktemp("ivf_dist") / "index")
    build_ivf_index(emb, path, "vec_id", n_lists=8, distributed=True)
    queries = emb.filter(F.col("vec_id") < 5)
    fresh = {
        (r.query_id, r.corpus_id, r.rank)
        for r in ann_ivf(
            queries, emb, "vec_id", "vec_id", k=3, n_lists=8, distributed=True
        ).collect()
    }
    stored = {
        (r.query_id, r.corpus_id, r.rank)
        for r in ann_ivf_indexed(spark, path, queries, "vec_id", k=3).collect()
    }
    assert fresh == stored and stored


@pytest.fixture(scope="module")
def null_bearing(spark):
    """200 random 64-d vectors plus one NULL embedding (vec_id 200)."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(200)]
    rows.append((200, None))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ann_ivf_trains_past_a_null_vector(spark, null_bearing):
    """The training sample drops NULL vectors, so ann_ivf trains and
    answers: every query's own vector is its rank-1 hit."""
    queries = null_bearing.filter(F.col("vec_id") < 3)
    got = ann_ivf(queries, null_bearing, "vec_id", "vec_id", k=3, n_lists=4).collect()
    assert {(r.query_id, r.corpus_id) for r in got if r.rank == 1} == {
        (i, i) for i in range(3)
    }


def test_ann_ivf_skips_null_vectors(spark, null_bearing):
    """A NULL vector takes no part: probing every list with k past the
    corpus size returns each non-NULL corpus row once per non-NULL
    query, never the NULL row, and no answer for the NULL query."""
    queries = null_bearing.filter((F.col("vec_id") < 2) | (F.col("vec_id") == 200))
    got = ann_ivf(
        queries, null_bearing, "vec_id", "vec_id", k=500, n_lists=4, n_probe=4
    ).collect()
    assert {r.query_id for r in got} == {0, 1}
    assert len(got) == 2 * 200
    assert all(r.corpus_id != 200 and r.score is not None for r in got)


def test_build_ivf_index_skips_null_vectors(spark, null_bearing, tmp_path):
    path = str(tmp_path / "index")
    build_ivf_index(null_bearing, path, "vec_id", n_lists=4)
    stored = spark.read.parquet(ivf_corpus_dir(path))
    assert stored.count() == 200
    assert stored.filter(F.col("vec_id") == 200).count() == 0


def test_knn_join_lsh_skips_null_vectors(spark, null_bearing):
    """NULL vectors on either side drop out of the BRP-LSH join — also
    when the corpus's first row is NULL (the dim is read from the
    first non-NULL vector)."""
    from fegis_spark.operators.knn import knn_join_lsh

    null_first = null_bearing.filter(F.col("vec_id") == 200).unionByName(
        null_bearing.filter(F.col("vec_id") != 200)
    ).coalesce(1)
    queries = null_bearing.filter((F.col("vec_id") < 3) | (F.col("vec_id") == 200))
    got = knn_join_lsh(queries, null_first, "vec_id", "vec_id", k=3).collect()
    assert 200 not in {r.query_id for r in got} | {r.corpus_id for r in got}
    assert {(r.query_id, r.corpus_id) for r in got if r.rank == 1} == {
        (i, i) for i in range(3)
    }


def test_lsh_bucket_stats_skips_null_vectors(spark, null_bearing):
    from fegis_spark.operators.knn import lsh_bucket_stats

    (row,) = lsh_bucket_stats(null_bearing).collect()
    assert row.n_rows == 200 and row.max_bucket <= row.n_rows


def test_semantic_dedup_trained_past_a_null_vector(spark, null_bearing):
    from fegis_spark.operators.dedup import semantic_dedup_trained

    got = {
        r.vec_id: r
        for r in semantic_dedup_trained(
            null_bearing, "embedding", "vec_id", n_lists=4
        ).collect()
    }
    assert len(got) == 200 and 200 not in got


def test_compaction_reduces_files_preserves_rows(spark, ivf_index, tmp_path_factory):
    import os

    from fegis_spark.operators.knn import append_to_ivf_index, compact_ivf_index

    path, emb = ivf_index

    def parquet_files():
        return [
            f"{d}/{f}"
            for d, _, fs in os.walk(ivf_corpus_dir(path))
            for f in fs
            if f.endswith(".parquet")
        ]

    # fragment the index with a few extra appends
    for i in range(3):
        batch = emb.filter(F.col("vec_id") % 7 == i).withColumn(
            "vec_id", F.col("vec_id") + F.lit(2_000_000 + i * 100_000)
        )
        append_to_ivf_index(spark, path, batch)
    rows_before = spark.read.parquet(ivf_corpus_dir(path)).count()
    files_before = len(parquet_files())

    compact_ivf_index(spark, path)

    after = spark.read.parquet(ivf_corpus_dir(path))
    assert after.count() == rows_before
    assert len(parquet_files()) < files_before
    # layout still partitioned (pruning keeps working)
    dirs = [d for d in os.listdir(ivf_corpus_dir(path)) if d.startswith("list_id=")]
    assert len(dirs) > 1
    # IVF_FILES_PER_LIST honored: 1 -> exactly one
    # data file inside every list partition (hash collisions between
    # lists may co-locate two lists in one task, but each task still
    # writes one file per list directory)
    for d in dirs:
        files_in_list = [
            f
            for f in os.listdir(os.path.join(ivf_corpus_dir(path), d))
            if f.endswith(".parquet")
        ]
        assert len(files_in_list) == 1, (d, files_in_list)


class TestPortablePQ:
    """r11: product-quantization twin — numpy cross-checks of the
    generated Spark/DuckDB expressions' semantics (codes = per-subspace
    argmax codeword dot on quantized ints; ADC = summed coded LUT
    entries; constant-norm codebooks make both EXACTLY the L2 forms)."""

    def _ref_codes(self, vec):
        import numpy as np

        from fegis_spark.functions.vector import INT_SCALE
        from fegis_spark.operators.knn import PQ_BOOKS, PQ_DSUB, PQ_M

        books = PQ_BOOKS
        q = np.round(np.asarray(vec, dtype=np.float64) * INT_SCALE).astype(
            np.int64
        )
        codes = []
        for m in range(PQ_M):
            sub = q[m * PQ_DSUB : (m + 1) * PQ_DSUB]
            dots = [int(sub @ np.array(row)) for row in books[m]]
            codes.append(dots.index(max(dots)))  # first-max tiebreak
        return codes, q

    def test_codes_and_adc_match_duckdb(self):
        import duckdb
        import numpy as np

        from fegis_spark.operators.knn import (
            PQ_BOOKS,
            PQ_DSUB,
            PQ_M,
            pq_adc_sql,
            pq_codes_expr,
            pq_luts_expr,
        )

        rng = np.random.default_rng(17)
        vecs = rng.uniform(-1, 1, (6, PQ_M * PQ_DSUB)).astype(np.float32)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE embeddings AS SELECT * FROM (VALUES "
            + ",".join(
                f"({i}, {list(map(float, v))})" for i, v in enumerate(vecs)
            )
            + ") t(vec_id, embedding)"
        )
        got = con.sql(
            f"SELECT vec_id, {pq_codes_expr('embedding', spark=False)} AS c "
            "FROM embeddings ORDER BY vec_id"
        ).fetchall()
        books = PQ_BOOKS
        for i, (vid, c) in enumerate(got):
            ref, _q = self._ref_codes(vecs[i])
            assert list(c) == ref, (i, c, ref)
        # ADC against brute-force reconstruction: summed query-sub ·
        # codeword dots for the corpus row's codes
        adc = con.sql(
            f"""
            WITH corp AS (SELECT vec_id, {pq_codes_expr('embedding', spark=False)} AS codes FROM embeddings),
                 qs AS (SELECT vec_id, {pq_luts_expr('embedding', spark=False)} AS luts FROM embeddings WHERE vec_id = 0)
            SELECT c.vec_id, CAST({pq_adc_sql('c.codes', 'q.luts')} AS BIGINT)
            FROM corp c CROSS JOIN qs q ORDER BY c.vec_id
            """
        ).fetchall()
        _codes0, q0 = self._ref_codes(vecs[0])
        for vid, a in adc:
            ref_codes, _ = self._ref_codes(vecs[vid])
            want = 0
            for m in range(PQ_M):
                sub = q0[m * PQ_DSUB : (m + 1) * PQ_DSUB]
                want += int(sub @ np.array(books[m][ref_codes[m]]))
            assert a == want, (vid, a, want)

    def test_codebooks_deterministic_and_pm1(self):
        from fegis_spark.functions.vector import md5_signs
        from fegis_spark.operators.knn import PQ_BOOKS, PQ_DSUB, PQ_K, PQ_M

        b1 = PQ_BOOKS
        b2 = [md5_signs(f"pq:{m}:", PQ_K, PQ_DSUB) for m in range(PQ_M)]
        assert b1 == b2
        assert len(b1) == PQ_M and len(b1[0]) == PQ_K and len(b1[0][0]) == PQ_DSUB
        assert {v for m in b1 for row in m for v in row} <= {1, -1}


class TestTrainedPQ:
    """Trained PQ codebooks (train_pq_books_portable, the trainer the
    catalog's ann_pq_rerank_trained uses): deterministic, and the
    Spark and DuckDB spellings of the trained encode agree."""

    def test_trained_books_deterministic_and_expressions_agree(self, spark):
        import duckdb
        import numpy as np

        from fegis_spark.model import load_table
        from fegis_spark.operators.knn import (
            pq_trained_codes_expr,
            pq_trained_luts_expr,
            train_pq_books_portable,
        )
        from pyspark.sql import functions as F

        sf = "/root/testdata/sf0.001"
        emb = load_table(spark, sf, "embeddings")
        b1 = train_pq_books_portable(emb, "vec_id")
        b2 = train_pq_books_portable(emb, "vec_id")
        assert b1 == b2  # same sample, rng-free trainer ⇒ same books
        # Spark and DuckDB spellings of the trained encode agree
        sub = emb.filter(F.col("vec_id") < 12)
        got_s = {
            r["vec_id"]: tuple(r["c"])
            for r in sub.select(
                "vec_id",
                F.expr(pq_trained_codes_expr(b1, "embedding")).alias("c"),
            ).collect()
        }
        rows = [
            (r["vec_id"], [float(x) for x in r["embedding"]])
            for r in sub.select("vec_id", "embedding").collect()
        ]
        con = duckdb.connect()
        con.execute("CREATE TABLE v (vec_id BIGINT, embedding FLOAT[])")
        con.executemany("INSERT INTO v VALUES (?, ?)", rows)
        got_d = {
            r[0]: tuple(r[1])
            for r in con.execute(
                f"SELECT vec_id, {pq_trained_codes_expr(b1, 'embedding', spark=False)} FROM v"
            ).fetchall()
        }
        assert got_s == got_d
        # LUT expression produces PQ_M arrays of PQ_K ints
        lut = sub.select(
            F.expr(pq_trained_luts_expr(b1, "embedding")).alias("l")
        ).first()["l"]
        assert len(lut) == len(b1) and len(lut[0]) == len(b1[0])
