"""SRP (sign-random-projection) codes: determinism, the cosine-LSH
property on constructed vectors, and agreement with a NumPy reference
of the same arithmetic."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fegis_spark.functions.vector import INT_SCALE, md5_signs
from fegis_spark.operators.dedup import SRP_BITS, srp_code

DIM = 16


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .appName("test_srp")
        .getOrCreate()
    )
    yield s


def ref_code(vec) -> int:
    signs = np.array(md5_signs("", SRP_BITS, DIM), dtype=np.int64)
    q = np.round(np.array(vec, dtype=np.float64) * INT_SCALE).astype(np.int64)
    dots = signs @ q
    return int(sum(1 << p for p in range(SRP_BITS) if dots[p] >= 0))


def spark_codes(spark, vecs):
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    return {
        r.vec_id: r.code
        for r in df.select(
            "vec_id", F.expr(srp_code("embedding", DIM)).alias("code")
        ).collect()
    }


def test_codes_match_numpy_reference(spark):
    rng = random.Random(3)
    vecs = [[rng.uniform(-0.6, 0.6) for _ in range(DIM)] for _ in range(40)]
    got = spark_codes(spark, vecs)
    for i, v in enumerate(vecs):
        # reference quantizes the float32-rounded values, like the engine
        v32 = [float(np.float32(x)) for x in v]
        assert got[i] == ref_code(v32), i


def test_near_duplicates_land_at_low_hamming(spark):
    """The LSH property end-to-end: a tiny perturbation keeps the code
    within a few bits; an orthogonal-ish vector flips about half."""
    rng = random.Random(9)
    base = [rng.uniform(-0.5, 0.5) for _ in range(DIM)]
    near = [x + rng.uniform(-1e-4, 1e-4) for x in base]
    far = [rng.uniform(-0.5, 0.5) for _ in range(DIM)]
    got = spark_codes(spark, [base, near, far])
    h_near = bin(got[0] ^ got[1]).count("1")
    h_far = bin(got[0] ^ got[2]).count("1")
    assert h_near <= 2, h_near
    assert h_far >= 6, h_far
    # hamming/bits approximates angle/pi for the far pair
    a = np.array(base)
    b = np.array(far)
    angle = math.acos(
        float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    )
    assert abs(h_far / SRP_BITS - angle / math.pi) < 0.35


# ---------------------------------------------------------------------------
# nDCG/MRR metric arithmetic (queries/vector_q._ndcg_metrics)


def _py_metrics(sids, tids, k=10):
    """Sequential-fold Python reference of the metric arithmetic —
    same shared discount literals, same position order."""
    from fegis_spark.queries.vector_q import _NDCG_DISCOUNTS

    rels = [
        (k + 1 - (tids.index(s) + 1)) if s in tids else 0 for s in sids
    ]
    dcg = 0.0
    idcg = 0.0
    for p in range(1, k + 1):
        dcg += float(rels[p - 1]) * _NDCG_DISCOUNTS[p - 1]
        idcg += float(k + 1 - p) * _NDCG_DISCOUNTS[p - 1]
    hit_pos = [p for p in range(1, k + 1) if rels[p - 1] > 0]
    mrr = 1.0 / hit_pos[0] if hit_pos else 0.0
    return sum(1 for r in rels if r > 0), mrr, dcg, idcg, dcg / idcg


def _metric_rows(spark, cases):
    from pyspark.sql import Row

    from fegis_spark.queries.vector_q import _ndcg_metrics

    rows = [
        Row(
            query_id=qid,
            sa=[Row(v=p, i=i) for p, i in enumerate(sids)],
            ta=[Row(v=p, i=i) for p, i in enumerate(tids)],
        )
        for qid, sids, tids in cases
    ]
    out = _ndcg_metrics(spark.createDataFrame(rows)).orderBy("query_id")
    return {r.query_id: r for r in out.collect()}


def test_ndcg_metrics_match_python_reference(spark):
    perfect = list(range(100, 110))          # system == truth
    reversed_ = list(reversed(perfect))      # worst same-set order
    disjoint = list(range(200, 210))         # no overlap at all
    partial = [100, 999, 101, 998, 102, 997, 103, 996, 104, 995]
    cases = [
        (0, perfect, perfect),
        (1, reversed_, perfect),
        (2, disjoint, perfect),
        (3, partial, perfect),
    ]
    got = _metric_rows(spark, cases)
    for qid, sids, tids in cases:
        hits, mrr, dcg, idcg, ndcg = _py_metrics(sids, tids)
        r = got[qid]
        assert r.hits == hits, (qid, r)
        assert r.mrr == mrr, (qid, r)
        assert r.dcg == dcg, (qid, r)          # bit-exact: same fold
        assert r.idcg == idcg, (qid, r)
        assert r.ndcg == ndcg, (qid, r)
    # boundary semantics worth pinning explicitly
    assert got[0].ndcg == 1.0 and got[0].mrr == 1.0
    assert got[2].hits == 0 and got[2].mrr == 0.0 and got[2].ndcg == 0.0
    assert 0.0 < got[1].ndcg < 1.0 and got[1].mrr == 1.0
