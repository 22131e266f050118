"""Focused pins for the r15 optimization internals:

* cusum_batch's JVM aggregate() fold == the Python left-associated
  reference fold, bit-for-bit (the applyInPandas loop it replaced).
* ngram_jaccard_pairs(shingle_base=...) == the self-built path.
* minhash_verify_pairs sh_bcast_bound changes the join strategy only
  (values identical with and without the gate).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from fegis_spark.queries.stream_q import CUSUM_H, CUSUM_SLACK, CUSUM_TARGET


def _py_cusum(values):
    target, slack = float(CUSUM_TARGET), float(CUSUM_SLACK)
    pos = neg = 0.0
    for x in values:
        pos = max(0.0, pos + (x - target - slack))
        neg = min(0.0, neg + (x - target + slack))
    return pos, neg


def test_cusum_jvm_fold_matches_python_reference(spark):
    rows = []
    vals = {
        1: [10.2, 9.7, 11.5, 30.0, 30.0, 8.0],
        2: [0.0, 0.1, 0.2],
        3: [10.5],
    }
    for uid, vs in vals.items():
        for i, v in enumerate(vs):
            rows.append(
                (uid, dt.datetime(2031, 1, 1, 0, i), i, float(v))
            )
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_id long, value double"
    )
    from fegis_spark.catalog import catalog  # noqa: F401  (module import side effects)
    from fegis_spark.queries import stream_q

    # replicate the builder body on the constructed frame
    fold = (
        "aggregate(sort_array(evs), "
        "named_struct('pos', CAST(0.0 AS DOUBLE), 'neg', CAST(0.0 AS DOUBLE)), "
        "(acc, e) -> named_struct("
        f"'pos', greatest(CAST(0.0 AS DOUBLE), acc.pos + (e.value - {CUSUM_TARGET}D - {CUSUM_SLACK}D)), "
        f"'neg', least(CAST(0.0 AS DOUBLE), acc.neg + (e.value - {CUSUM_TARGET}D + {CUSUM_SLACK}D))))"
    )
    got = {
        r["user_id"]: (r["pos"], r["neg"])
        for r in (
            df.groupBy("user_id")
            .agg(F.collect_list(F.struct("ts", "event_id", "value")).alias("evs"))
            .selectExpr("user_id", f"{fold} AS st")
            .selectExpr("user_id", "st.pos AS pos", "st.neg AS neg")
            .collect()
        )
    }
    for uid, vs in vals.items():
        exp = _py_cusum(vs)
        # bit-exact: same left-associated IEEE op order
        assert got[uid] == exp, (uid, got[uid], exp)


def test_ngram_jaccard_shingle_base_equivalent(spark):
    from fegis_spark.operators.dedup import ngram_jaccard_pairs, with_shingles

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over a lazy dog"),
            (3, "completely different text with no shared grams here"),
            (4, "the quick brown fox jumps over the lazy dog indeed"),
        ],
        "doc_id long, text string",
    )
    plain = ngram_jaccard_pairs(docs, "text", "doc_id", [], ngram=3, threshold=0.2)
    base = with_shingles(docs, "text", "doc_id", 3)
    via_base = ngram_jaccard_pairs(
        docs, "text", "doc_id", [], ngram=3, threshold=0.2, shingle_base=base
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, via_base.collect())
    )


def test_ngram_jaccard_shingle_base_rejects_blocks(spark):
    from fegis_spark.operators.dedup import ngram_jaccard_pairs, with_shingles

    docs = spark.createDataFrame(
        [(1, "a b c d", "x")], "doc_id long, text string, blk string"
    )
    base = with_shingles(docs, "text", "doc_id", 3)
    with pytest.raises(AssertionError):
        ngram_jaccard_pairs(
            docs, "text", "doc_id", ["blk"], ngram=3, shingle_base=base
        )


def test_minhash_verify_bcast_gate_values_identical(spark):
    from fegis_spark.operators.dedup import (
        banded_candidate_pairs,
        minhash_sig_bands,
    )
    from fegis_spark.operators.dedup import minhash_verify_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    base, _sig, banded = minhash_sig_bands(docs, "text", "doc_id", True)
    cand = banded_candidate_pairs(banded, max_bucket_size=None)
    sh = base.select("doc", "sh")
    plain = minhash_verify_pairs(cand, sh, 0.2)
    gated = minhash_verify_pairs(cand, sh, 0.2, sh_bcast_bound=1)  # under gate
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, gated.collect())
    )
    # the gated plan actually broadcasts
    assert "BroadcastHashJoin" in gated._jdf.queryExecution().executedPlan().toString()


def _exchanges(spark, df) -> int:
    """Exchange operator nodes (shuffles, not broadcasts) in the
    formatted pre-AQE plan; call it before the frame executes, since
    an executed AdaptiveSparkPlan lists its initial and final plans."""
    import re

    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return len(re.findall(r"\bExchange \(\d+\)", p))


def test_banded_candidate_pairs_capped_agg_form(spark):
    """The capped path generates candidates map-side after ONE
    (band, bh) groupBy (r15 opt): sort_array(collect_list) per bucket,
    all-pairs HOF when m <= cap, min-struct star pairs when m > cap —
    the r12 window + self-join + union form executed the upstream
    sketch pipeline once per consumer (3x; zero ReusedExchange in the
    executed plan). Pins value-identity against a hand-built reference
    on small/at-cap/over-cap buckets — including a repeated doc id and
    rows with a NULL key, which pair with nothing — and the exchange
    count of both routes."""
    from collections import defaultdict

    from fegis_spark.operators.dedup import banded_candidate_pairs

    # doc//3 buckets of size 3 (over cap 2) plus one pair bucket; doc
    # 100 repeats in an over-cap bucket and doc 300 in an at-cap one,
    # and NULL keys sit in otherwise-live buckets and in all-NULL ones
    rows = [(d, b, d // 3) for d in range(12) for b in range(2)]
    rows += [(100, 0, 50), (101, 0, 50), (100, 0, 50)]
    rows += [(300, 0, 70), (300, 0, 70)]
    rows += [(200, None, 50), (201, 0, None), (202, None, 60), (203, None, 60)]
    banded = spark.createDataFrame(rows, "doc long, band int, bh long")
    buckets = defaultdict(list)
    for d, b, h in rows:
        if b is not None and h is not None:
            buckets[(b, h)].append(d)
    want = set()
    for mem in map(sorted, buckets.values()):
        if len(mem) <= 2:
            want.update((x, y) for x in mem for y in mem if x < y)
        else:
            want.update((mem[0], x) for x in mem[1:] if x > mem[0])
    capped = banded_candidate_pairs(banded, max_bucket_size=2)
    # one bucket exchange + the distinct exchange; no window, no join
    assert _exchanges(spark, capped) == 2
    p = capped._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p and "Join" not in p
    assert {tuple(r) for r in capped.collect()} == want
    # the join route: both self-join sides + the distinct
    assert _exchanges(spark, banded_candidate_pairs(banded)) == 3


def test_banded_candidate_pairs_payload_agg_form(spark):
    """Payload columns survive the agg form: <c>_a carries the left /
    rep side, <c>_b the right / member side, same as the join form."""
    from fegis_spark.operators.dedup import banded_candidate_pairs

    rows = [(d, 0, d // 4, d * 7) for d in range(8)]
    banded = spark.createDataFrame(rows, "doc long, band int, bh long, sim long")
    out = {
        tuple(r)
        for r in banded_candidate_pairs(
            banded, payload=("sim",), max_bucket_size=3
        ).collect()
    }
    # bucket {0..3} over cap 3 -> star to 0; bucket {4..7} over cap too
    want = set()
    for base in (0, 4):
        mem = list(range(base, base + 4))
        want.update((mem[0], x, mem[0] * 7, x * 7) for x in mem[1:])
    assert out == want
