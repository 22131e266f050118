"""Winnowing fingerprints vs a sequential reference implementation.

The catalog gate checks Spark-vs-DuckDB agreement on the real corpus;
this file pins the *algorithm* itself (Schleimer et al. 2003 §4
winnowing with the rightmost-min tie rule) against a direct Python
transcription on constructed corpora, including the local-match
guarantee: two documents sharing a token run of length >= w + k - 1
must share at least one fingerprint.

Test texts are lowercase space-separated words so the engine tokenizer
reduces to str.split() and the reference needs no tokenizer mirror.
"""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fegis_spark.operators.text_analysis import (
    WINNOW_K,
    WINNOW_W,
    winnow_fingerprints,
)


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .appName("test_winnow")
        .getOrCreate()
    )
    yield s


def ref_fps(text: str) -> list[int]:
    """Sequential winnowing: k-gram 60-bit md5 hashes, rightmost min
    of each w-window (w clamped to the gram count), distinct."""
    toks = text.split()
    if len(toks) < WINNOW_K:
        return []
    grams = [
        " ".join(toks[i : i + WINNOW_K]) for i in range(len(toks) - WINNOW_K + 1)
    ]
    gh = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
    n, w = len(gh), min(WINNOW_W, len(gh))
    sel = set()
    for j in range(n - w + 1):
        m = min(gh[j : j + w])
        sel.add(max(p for p in range(j, j + w) if gh[p] == m))
    return sorted({gh[p] for p in sel})


def ref_row(text: str) -> tuple[int, int, int, float]:
    toks = text.split()
    n_grams = max(len(toks) - WINNOW_K + 1, 0) if len(toks) >= WINNOW_K else 0
    fps = ref_fps(text)
    x = 0
    for h in fps:
        x ^= h
    dens = round(len(fps) / n_grams, 6) if n_grams else 0.0
    return n_grams, len(fps), x, dens


WORDS = [f"w{i}" for i in range(40)]


def test_matches_sequential_reference(spark):
    rng = random.Random(7)
    texts = [
        "",  # no tokens
        "one",  # below k
        "a b c",  # exactly one gram (window clamps to 1)
        "a b c d",  # two grams, window clamps to 2
        "x x x x x x x x x x",  # all-equal hashes: tie rule everywhere
    ] + [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(5, 60)))
        for _ in range(30)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_grams, r.n_fp, r.fp_xor, r.fp_density)
        for r in winnow_fingerprints(df).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == ref_row(t), (i, t, got[i], ref_row(t))


def test_shared_run_guarantee(spark):
    """Any shared run of >= w + k - 1 tokens must produce at least one
    shared fingerprint — winnowing's defining property (the reason one
    would pick it over MinHash for local matches)."""
    shared = " ".join(f"s{i}" for i in range(WINNOW_W + WINNOW_K - 1))
    a = "alpha beta gamma " + shared + " delta epsilon"
    b = "uno dos tres cuatro " + shared + " cinco"
    fa, fb = set(ref_fps(a)), set(ref_fps(b))
    assert fa & fb, "reference violates the winnowing guarantee"
    # and the Spark operator agrees with the reference on both docs
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    got = {r.doc_id: (r.n_fp, r.fp_xor) for r in winnow_fingerprints(df).collect()}
    for doc_id, t in ((0, a), (1, b)):
        n_grams, n_fp, x, dens = ref_row(t)
        assert got[doc_id] == (n_fp, x)


def test_match_pairs_surface_shared_run(spark):
    """The pair join must report any pair sharing a >= w+k-1 token run
    (winnowing guarantee, end-to-end through the join), and not report
    docs with disjoint vocabularies."""
    from fegis_spark.operators.text_analysis import winnow_match_pairs

    shared = " ".join(f"s{i}" for i in range(WINNOW_W + WINNOW_K - 1))
    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma " + shared + " delta epsilon"),
            (1, "uno dos tres cuatro " + shared + " cinco"),
            (2, "completely different words only here nothing shared"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_l, r.doc_r): r.n_shared for r in winnow_match_pairs(df).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 1, pairs
    assert all(2 not in p for p in pairs), pairs


def test_match_pairs_cap_bounds_hot_fingerprint(spark):
    """A boilerplate fingerprint shared by 40 docs must emit 39 star
    candidates under the cap (anchored at the min doc), not 780
    pairwise ones; small buckets keep exact counts and jaccard; the
    audit surface lists exactly the over-cap hashes."""
    from fegis_spark.operators.dedup import band_bucket_stats
    from fegis_spark.operators.text_analysis import (
        winnow_fp_sets,
        winnow_match_pairs,
    )

    boiler = "copyright header all rights reserved generated file do not edit"
    shared = " ".join(f"s{i}" for i in range(WINNOW_W + WINNOW_K - 1))
    rows = [(i, boiler) for i in range(40)] + [
        (100, "alpha beta gamma " + shared + " delta epsilon"),
        (101, "uno dos tres cuatro " + shared + " cinco"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r.doc_l, r.doc_r): (r.n_shared, r.fp_jaccard)
        for r in winnow_match_pairs(df).collect()
    }
    capped = {
        (r.doc_l, r.doc_r): (r.n_shared, r.fp_jaccard)
        for r in winnow_match_pairs(df, max_bucket_size=10).collect()
    }
    n_fp_boiler = len(ref_fps(boiler))
    assert len(uncapped) == 40 * 39 // 2 + 1
    assert len(capped) == 39 + 1
    # star pairs anchor at the hot cluster's min doc, with exact counts
    # (identical text ⇒ every shared fp survives the routing)
    for b in range(1, 40):
        assert capped[(0, b)] == (n_fp_boiler, 1.0)
    # the small bucket's pair is untouched: same counts as uncapped
    assert capped[(100, 101)] == uncapped[(100, 101)]
    # audit: the over-cap hashes are exactly the boilerplate's fps
    fp_rows = winnow_fp_sets(df).select(
        F.col("doc_id").alias("doc"), F.explode("fps").alias("h")
    )
    hot = band_bucket_stats(fp_rows, keys=("h",)).filter(F.col("bucket_size") > 10).collect()
    assert {r.h for r in hot} == set(ref_fps(boiler))
    assert all(r.bucket_size == 40 and r.rep == 0 for r in hot)


def test_match_pairs_duplicate_ids_agree_across_routes(spark):
    """A doc id that appears twice (same text) must not crash either
    route with a divide-by-zero, must never pair with itself, and both
    routes return the same rows."""
    from fegis_spark.operators.text_analysis import winnow_match_pairs

    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, text), (1, text), (2, text), (3, "unrelated words that share no runs at all")],
        "doc_id long, text string",
    )
    uncapped = sorted(map(tuple, winnow_match_pairs(df).collect()))
    capped = sorted(map(tuple, winnow_match_pairs(df, max_bucket_size=10).collect()))
    assert uncapped == capped
    assert [r[:2] for r in uncapped] == [(1, 2)]
    # both copies of doc 1 count every shared fp: n_shared = n_l + n_r,
    # so the union size is 0 and fp_jaccard is NULL, not an error
    n = len(ref_fps(text))
    assert uncapped == [(1, 2, 2 * n, None)]
