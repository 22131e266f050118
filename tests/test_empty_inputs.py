"""Empty-input robustness: every library operator must return an empty
(correctly-schemed) result on empty input, never raise — at 100 TB a
filter chain routinely produces empty partitions/frames mid-pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, lang string, text string")


@pytest.fixture(scope="module")
def empty_edges(spark):
    return spark.createDataFrame([], "a long, b long")


@pytest.mark.parametrize("portable", [False, True], ids=["xxhash64", "md5_60"])
def test_dedup_family_empty(spark, empty_docs, empty_edges, portable):
    from fegis_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        exact_dedup,
        minhash_lsh_pairs,
        minhash_sig_bands,
        simhash_pairs,
        with_shingles,
    )

    assert exact_dedup(empty_docs, "text", "doc_id").count() == 0
    assert with_shingles(empty_docs, "text", "doc_id").count() == 0
    assert all(
        t.count() == 0
        for t in minhash_sig_bands(empty_docs, "text", "doc_id", portable)
    )
    assert minhash_lsh_pairs(
        empty_docs, "text", "doc_id", portable=portable
    ).count() == 0
    assert simhash_pairs(empty_docs, "text", "doc_id", portable=portable).count() == 0
    assert connected_components(empty_edges).count() == 0
    assert connected_components_star(empty_edges).count() == 0


def test_text_scoring_empty(spark, empty_docs):
    from fegis_spark.operators.bm25 import bm25_scores, bm25_topk
    from fegis_spark.operators.text_analysis import unigram_logprob

    assert unigram_logprob(empty_docs).count() == 0
    assert bm25_scores(empty_docs, "text", "doc_id", ["data"]).count() == 0
    assert bm25_topk(empty_docs, "text", "doc_id", ["data"], k=5).count() == 0


def test_search_empty(spark):
    from fegis_spark.operators.rrf import rrf_fuse, rrf_fuse_pooled

    empty = spark.createDataFrame(
        [], "id long, embedding array<float>, text string"
    )
    qv = [0.1, 0.2, 0.3]
    assert rrf_fuse(empty, "id", "embedding", "text", qv, ["data"]).count() == 0
    assert rrf_fuse_pooled(empty, "id", "embedding", "text", qv, ["data"]).count() == 0


def test_match_text_empty(spark, empty_docs):
    from fegis_spark.plans.filters import match_text

    assert empty_docs.filter(match_text("text", "the data")).count() == 0


def test_portable_twins_and_media_empty(spark, empty_docs):
    from fegis_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
    from fegis_spark.operators.multimodal import (
        audio_stats,
        media_features,
        resize_images,
    )

    assert minhash_lsh_pairs(
        empty_docs, "text", "doc_id", max_bucket_size=None, portable=True
    ).count() == 0
    assert simhash_pairs(
        empty_docs, "text", "doc_id", max_bucket_size=None, portable=True
    ).count() == 0
    empty_media = spark.createDataFrame([], "media_id long, payload binary")
    assert media_features(empty_media).count() == 0
    assert audio_stats(empty_media).count() == 0
    assert resize_images(empty_media, 4, 4).count() == 0


def test_session_new_operators_empty(spark, empty_docs):
    from fegis_spark.operators.text_analysis import (
        kn_bigram_logprob,
        winnow_fingerprints,
        winnow_match_pairs,
    )
    from fegis_spark.queries.pipeline_q import cdc_chunks

    assert winnow_fingerprints(empty_docs).count() == 0
    assert winnow_match_pairs(empty_docs).count() == 0
    assert kn_bigram_logprob(empty_docs).count() == 0
    assert cdc_chunks(empty_docs).count() == 0


def test_trained_ivf_empty(spark):
    """No rows to sample means no centroids: the trained-centroid
    paths return empty frames instead of failing in k-means."""
    from fegis_spark.operators.dedup import semantic_dedup_trained
    from fegis_spark.operators.knn import ann_ivf

    empty_vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert ann_ivf(empty_vecs, empty_vecs, "vec_id", "vec_id", n_lists=4).count() == 0
    assert semantic_dedup_trained(empty_vecs, "embedding", "vec_id", n_lists=4).count() == 0


def test_srp_and_cdc_sink_empty(spark, tmp_path):
    from pyspark.sql import functions as F

    from fegis_spark.operators.dedup import srp_code
    from fegis_spark.streaming.cdc import apply_cdc_batch, cdc_sink

    empty_vecs = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    assert (
        empty_vecs.select(F.expr(srp_code("embedding", 8)).alias("c")).count()
        == 0
    )
    # CDC fold of an empty batch over no base: empty snapshot, no raise
    empty_changes = spark.createDataFrame([], "key long, v long, op string")
    assert apply_cdc_batch(None, empty_changes, "key").count() == 0
    sink = cdc_sink(str(tmp_path / "t"), "key")
    sink(empty_changes, 0)  # must commit an empty snapshot, not raise
    from fegis_spark.streaming.cdc import read_snapshot

    snap = read_snapshot(spark, str(tmp_path / "t"))
    assert snap is not None and snap.count() == 0


def test_degenerate_group_variance_is_null_not_throw(spark):
    """Single-row groups hit the (n-1) denominator: under Spark 4's
    default ANSI mode an unguarded division throws DIVIDE_BY_ZERO and
    kills the whole query, while DuckDB returns NULL. The nullif-guard
    recipe (stats_moments, anomaly_zscore, quality_length_regression,
    quality_ks_drift, copurchase_triangles) must emit NULL instead —
    pin the recipe on a constructed degenerate group."""
    df = spark.createDataFrame(
        [("solo", 1.0), ("pair", 2.0), ("pair", 4.0)], "k string, v double"
    )
    n = F.count("*")
    s1 = F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
    s2 = F.sum((F.col("v") * F.col("v")).cast("decimal(38,6)")).cast("double")
    out = {
        r.k: r.variance
        for r in df.groupBy("k")
        .agg(
            F.round(
                (s2 - s1 * s1 / n) / F.nullif(n - 1, F.lit(0)), 6
            ).alias("variance")
        )
        .collect()
    }
    assert out["solo"] is None  # NULL, not DIVIDE_BY_ZERO
    assert out["pair"] == 2.0


def test_r11_split_and_pq_operators_empty(spark):
    """r11 additions: the split-leakage aggregations and the PQ
    encode/ADC expressions must survive empty inputs (empty pair set →
    two strategy rows with zero counts; empty corpus → empty index)."""
    from pyspark.sql import functions as F

    from fegis_spark.operators.dedup import ngram_jaccard_pairs
    from fegis_spark.operators.knn import (
        PQ_ADC_EXPR,
        pq_codes_expr,
        pq_luts_expr,
    )

    empty_docs = spark.createDataFrame(
        [], "doc_id long, lang string, source string, text string"
    )
    pairs = ngram_jaccard_pairs(
        empty_docs, "text", "doc_id", ["lang"],
        ngram=3, threshold=0.5, payload_cols=("source",),
    )
    assert pairs.count() == 0
    assert set(pairs.columns) == {"a", "b", "jaccard", "a_source", "b_source"}

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    codes = empty_emb.select(F.expr(pq_codes_expr("embedding")).alias("codes"))
    assert codes.count() == 0
    luts = empty_emb.select(F.expr(pq_luts_expr("embedding")).alias("luts"))
    assert luts.count() == 0
    joined = codes.crossJoin(luts).withColumn(  # bcast-ok: empty-by-empty test frame
        "adc", F.expr(PQ_ADC_EXPR)
    )
    assert joined.count() == 0
