"""Property tests for the late-r7 catalog queries: the recall-curve
identity, label-separation geometry on constructed clusters, padding-
audit mass invariants, calibration monotonicity, and checksum-drift
bucket attribution. The oracle gate proves cross-engine value
equality; these pin the SEMANTIC claims the docstrings make."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_recall_curve_matches_direct_ivf_run(spark):
    """The one-pass curve's hit count at n_probe=4 must equal what a
    DIRECT ann_ivf_portable run (n_probe=4, k=10) recovers of the
    brute-force truth — the 'recalled iff its list is probed'
    identity the query's single-pass design rests on."""
    from fegis_spark.model import load_table
    from fegis_spark.operators.knn import ann_ivf_portable, knn_join
    from fegis_spark.queries.vector_q import (
        ANN_CURVE_K,
        ANN_CURVE_PANEL,
        ann_recall_curve,
    )

    curve = {
        r["n_probe"]: r["hits"]
        for r in ann_recall_curve(spark, SF_DIR).collect()
    }
    emb = load_table(spark, SF_DIR, "embeddings")
    panel = emb.filter(F.col("vec_id") < ANN_CURVE_PANEL)
    corpus = emb  # ann excludes nothing; truth excludes self below
    truth = (
        knn_join(
            panel, corpus.filter(F.col("vec_id") >= 0), "vec_id", "vec_id",
            "embedding", k=ANN_CURVE_K + 1,
        )
        .filter(F.col("query_id") != F.col("corpus_id"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("score"), "corpus_id"
                )
            ),
        )
        .filter(F.col("rk") <= ANN_CURVE_K)
        .select("query_id", "corpus_id")
    )
    approx = ann_ivf_portable(
        panel, corpus, "vec_id", "vec_id", "embedding",
        k=corpus.count(), n_probe=4,
    ).filter(F.col("query_id") != F.col("corpus_id")).select(
        "query_id", F.col("corpus_id").alias("aid")
    )
    direct_hits = truth.join(
        approx,
        (truth.query_id == approx.query_id) & (truth.corpus_id == approx.aid),
    ).count()
    assert curve[4] == direct_hits
    # ladder is monotone and the full scan recovers everything
    probes = sorted(curve)
    assert all(curve[a] <= curve[b] for a, b in zip(probes, probes[1:]))
    assert curve[16] == ANN_CURVE_PANEL * ANN_CURVE_K


def test_label_separation_constructed_clusters(spark):
    """Two tight, far-apart clusters: separation >> 1, nearest labels
    point at each other, intra mass is tiny vs the centroid gap."""
    from fegis_spark.queries.vector_q import label_separation_audit
    import fegis_spark.queries.vector_q as vq

    rows = []
    for i in range(20):
        base = [0.0] * 64
        base[0] = 10.0 if i % 2 else -10.0
        base[1] = 0.01 * (i // 2)  # tiny intra spread
        rows.append((i, base, i % 2))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    # reuse the query's plan by monkey-patching load_table input
    orig = vq.load_table
    vq.load_table = lambda s, d, t: df.select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding"),
        "label",
    )
    try:
        out = {r["label"]: r for r in label_separation_audit(spark, SF_DIR).collect()}
    finally:
        vq.load_table = orig
    assert out[0]["nearest_label"] == 1 and out[1]["nearest_label"] == 0
    for r in out.values():
        mean_intra = r["intra_qsum"] / (r["n"] * 1e6)
        assert r["nearest_dist"] > 19.0  # ~20 apart
        assert mean_intra < 0.2
        assert r["separation"] > 100.0


def test_padding_audit_mass_invariants(spark):
    """real + pad == n_docs * bucket_len for every bucket; truncation
    only ever appears in the cap bucket; totals cover the corpus."""
    from fegis_spark.catalog import catalog
    from fegis_spark.model import load_table
    from fegis_spark.queries.pipeline_q import PAD_BUCKETS

    rows = catalog()["pack_padding_audit"].builder(spark, SF_DIR).collect()
    cap = PAD_BUCKETS[-1]
    total = sum(r["n_docs"] for r in rows)
    assert total == load_table(spark, SF_DIR, "documents").count()
    for r in rows:
        assert r["real_chars"] + r["pad_chars"] == r["n_docs"] * r["bucket_len"]
        if r["bucket_len"] < cap:
            assert r["trunc_chars"] == 0
        assert 0.0 <= r["pad_frac"] < 1.0


def test_calibration_keep_rate_monotone(spark):
    """Reliability diagram reads monotone keep_rate in bin index on
    the real corpus (the docstring's calibration claim)."""
    from fegis_spark.queries.textstats_q import classifier_calibration

    rows = sorted(
        classifier_calibration(spark, SF_DIR).collect(), key=lambda r: r["bin"]
    )
    # keep_rate column was dropped (rounded count-ratio midpoint
    # class); derive it from the exact integers the query emits
    rates = [r["n_keep"] / r["n_docs"] for r in rows]
    assert rates == sorted(rates)
    assert rates[0] == 0.0 and rates[-1] == 1.0


def test_checksum_drift_buckets_attributed(spark):
    """The drifted-bucket set equals the bucket set of the
    corrupted/dropped doc ids — detection is exact, with no false
    positives from clean buckets."""
    from fegis_spark.model import load_table
    from fegis_spark.catalog import catalog
    from fegis_spark.queries.pipeline_q import _bucket_sql

    docs = load_table(spark, SF_DIR, "documents")
    expected = {
        r["bucket"]
        for r in docs.filter(
            (F.col("doc_id") % 97 == 0) | (F.col("doc_id") % 101 == 0)
        )
        .selectExpr(f"{_bucket_sql('doc_id', spark=True)} AS bucket")
        .distinct()
        .collect()
    }
    drift = catalog()["checksum_drift_detect"].builder(spark, SF_DIR)
    got = {r["bucket"] for r in drift.collect()}
    assert got == expected and expected


def test_funnel_latency_consistent_with_counts(spark):
    """The latency query's per-transition user counts must equal the
    conversion query's stage counts — both texts interpolate one shared
    stage CTE."""
    from fegis_spark.catalog import catalog

    cat = catalog()
    counts = cat["funnel_conversion"].builder(spark, SF_DIR).collect()[0]
    latency = cat["funnel_time_to_convert"].builder(spark, SF_DIR)
    lat = {r["transition"]: r for r in latency.collect()}
    assert lat["view_to_click"]["n_users"] == counts["n_clicked_after"]
    assert lat["click_to_purchase"]["n_users"] == counts["n_purchased_after"]
    for r in lat.values():
        assert 0 < r["p25_s"] <= r["p50_s"] <= r["p90_s"] <= r["max_s"]


def test_savings_consistent_with_padding_audit(spark):
    """The one-row savings summary must reproduce the padding audit's
    bucket totals exactly (same interpolated ladder)."""
    from fegis_spark.catalog import catalog

    cat = catalog()
    buckets = cat["pack_padding_audit"].builder(spark, SF_DIR).collect()
    row = cat["packing_vs_padding_savings"].builder(spark, SF_DIR).collect()[0]
    assert row["padded_slot_chars"] == sum(
        r["n_docs"] * r["bucket_len"] for r in buckets
    )
    assert row["n_docs"] == sum(r["n_docs"] for r in buckets)
    assert 0.0 < row["util_packed"] <= 1.0 and 0.0 < row["util_padded"] <= 1.0


def test_association_rules_math(spark):
    """Confidence/lift must be recomputable from the emitted integer
    counts; pair support can never exceed either item's support."""
    from fegis_spark.queries.joins import basket_association_rules

    rows = basket_association_rules(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 < r["n_ab"] <= min(r["n_a"], r["n_b"])
        # ratios are emitted UNROUNDED since r8 (midpoint class) —
        # exactly the IEEE quotient of the emitted integers
        assert r["conf_a_to_b"] == r["n_ab"] / r["n_a"]
        assert r["conf_b_to_a"] == r["n_ab"] / r["n_b"]
        assert r["lift"] > 0.0
