"""The driver-side RRF fusion (operators/rrf.py): what building and
collecting the hybrid queries executes, who owns their persist, and the
fusion's degenerate inputs, each against a corpus-wide row_number window
oracle that is evaluated by Spark itself (so NaN, -0.0 and NULL follow
Spark's DESC order on both sides)."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fegis_spark.catalog import catalog
from fegis_spark.model import clear_memos
from fegis_spark.operators.rrf import RRF_K, fuse_legs
from fegis_spark.queries.sqlfrag import double_sql
from tests.conftest import SF_DIR

HYBRIDS = ("rrf_hybrid_search", "rrf_hybrid_pooled", "rrf_hybrid_bm25")
#: the (names, types) every fusion returns, empty or not
SCHEMA = [("id", "bigint"), ("r_dense", "bigint"), ("r_lex", "bigint"), ("rrf", "double")]
#: jobs of a warm build + collect (base tables loaded, memos cleared)
MAX_JOBS = {"rrf_hybrid_search": 8, "rrf_hybrid_pooled": 5, "rrf_hybrid_bm25": 6}
SCORED = [("id", "bigint"), ("dense", "double"), ("lex", "double")]
INF, NAN = float("inf"), float("nan")


@pytest.fixture(scope="module")
def cat():
    return catalog()


def local_frame(spark, rows: list[tuple], schema: list[tuple[str, str]]) -> DataFrame:
    """``rows`` as a literal (local-relation) frame: no Python worker
    deserializes it, unlike a createDataFrame of a Python list."""

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return double_sql(v)
        if isinstance(v, str):
            return "'" + v.replace("'", "\\'") + "'"
        if isinstance(v, list):
            return "array(" + ", ".join(lit(x) for x in v) + ")"
        return str(v)

    names = ", ".join(n for n, _ in schema)
    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows) or (
        "(" + ", ".join("NULL" for _ in schema) + ")"
    )
    return spark.sql(
        "SELECT " + ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in schema)
        + f" FROM VALUES {body} AS t({names})" + ("" if rows else " WHERE false")
    )


def window_oracle(
    scored: DataFrame,
    k: int,
    pool: int,
    *,
    exact: bool,
    lex_where: str | None = None,
    rrf_k: int = RRF_K,
) -> list[tuple]:
    """The naive corpus-wide form: row_number over the whole corpus per
    leg. exact: every doc fused on its global ranks. Pooled: a rank
    counts only inside its leg's top-`pool`; the lexical leg ranks only
    the rows that pass `lex_where`."""
    gate = F.expr(lex_where) if lex_where else F.lit(True)
    one = Window.partitionBy(F.lit(0))
    ranked = scored.withColumn(
        "r_dense", F.row_number().over(one.orderBy(F.desc("dense"), "id")).cast("bigint")
    ).withColumn(
        "r_lex",
        F.when(
            gate,
            F.row_number()
            .over(Window.partitionBy(gate).orderBy(F.desc("lex"), "id"))
            .cast("bigint"),
        ),
    )
    if not exact:
        ranked = ranked.select(
            "id",
            F.when(F.col("r_dense") <= pool, F.col("r_dense")).alias("r_dense"),
            F.when(F.col("r_lex") <= pool, F.col("r_lex")).alias("r_lex"),
        ).where("r_dense IS NOT NULL OR r_lex IS NOT NULL")

    def part(r: str):
        return F.coalesce(1.0 / (rrf_k + F.col(r)), F.lit(0.0))

    out = (
        ranked.withColumn("rrf", part("r_dense") + part("r_lex"))
        .orderBy(F.desc("rrf"), "id")
        .limit(k)
        .select("id", "r_dense", "r_lex", "rrf")
    )
    return [tuple(r) for r in out.collect()]


def check(spark, rows, k=10, pool=100, lex_where=None, rrf_k=RRF_K):
    """fuse_legs against window_oracle: pooled, and exact too where
    `pool` is large enough for the exact top-k (rrf_fuse's bound) and no
    gate applies."""
    scored = local_frame(spark, rows, SCORED)
    forms = [False] + ([True] if pool >= 2 * k + rrf_k + 1 and not lex_where else [])
    for exact in forms:
        got = fuse_legs(scored, k, pool, rrf_k, exact=exact, lex_where=lex_where)
        assert got.dtypes == SCHEMA
        want = window_oracle(scored, k, pool, exact=exact, lex_where=lex_where, rrf_k=rrf_k)
        assert [tuple(r) for r in got.collect()] == want, (exact, lex_where)
    return forms


# -- what building and collecting executes -------------------------------


@pytest.mark.parametrize("name", HYBRIDS)
def test_hybrid_build_and_collect_execute(spark, cat, executed, name):
    """No Window and no SortMergeJoin in any plan that building and
    collecting runs, and a bounded number of jobs: rrf_hybrid_search
    ran 17 jobs for a top-10 when its ranks came from two broadcast
    theta-count-joins over a union().distinct() candidate plan."""
    cat[name].builder(spark, SF_DIR).collect()  # loads the base tables
    clear_memos()
    spark.catalog.clearCache()
    run = executed(lambda: cat[name].builder(spark, SF_DIR).collect())
    assert run.value and run.plans
    for p in run.plans:
        assert "Window" not in p, (name, p)
        assert "SortMergeJoin" not in p, (name, p)
    assert run.jobs <= MAX_JOBS[name], run.jobs


def test_hybrids_leave_nothing_persisted(spark, cat):
    """Each hybrid persists its scored projection and releases it before
    returning: no persisted RDD and no CacheManager entry remain."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    for name in HYBRIDS:
        assert cat[name].builder(spark, SF_DIR).collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# -- degenerate inputs ---------------------------------------------------


def test_empty_corpus(spark, executed):
    empty = local_frame(spark, [], SCORED)
    for exact in (True, False):
        got = fuse_legs(empty, 10, 100, exact=exact)
        assert got.dtypes == SCHEMA
        run = executed(got.collect)
        assert run.value == [] and run.jobs == 0


@pytest.mark.parametrize(
    "n, k, pool, rrf_k",
    [(5, 10, 100, RRF_K), (30, 10, 50, 1), (60, 3, 8, 1)],
    ids=["n<k", "k<n<pool", "pool<n"],
)
def test_corpus_smaller_than_k_or_pool(spark, n, k, pool, rrf_k):
    rows = [(i, math.sin(i), float(i * 7 % 5)) for i in range(n)]
    assert check(spark, rows, k, pool, rrf_k=rrf_k) == [False, True]


def test_ties_in_both_legs(spark):
    rows = [(i, [0.5, 0.25, 0.5, 0.0][i % 4], float(i % 3 == 0)) for i in range(40)]
    assert check(spark, rows, 3, 8, rrf_k=1) == [False, True]
    check(spark, rows, 3, 8, lex_where="lex > 0", rrf_k=1)


def test_all_zero_lexical_leg(spark):
    rows = [(i, math.cos(i), 0.0) for i in range(40)]
    assert check(spark, rows, 3, 8, rrf_k=1) == [False, True]
    check(spark, rows, 3, 8, lex_where="lex > 0", rrf_k=1)


def test_null_scores(spark):
    rows = [
        (i, None if i % 5 == 0 else math.sin(i), None if i % 7 == 0 else float(i % 4))
        for i in range(40)
    ]
    assert check(spark, rows, 3, 8, rrf_k=1) == [False, True]
    assert check(spark, rows, 40, 100, rrf_k=1) == [False, True]


def test_null_embedding_and_text(spark):
    """A NULL vector scores a NULL cosine and a NULL text a NULL lexical
    score; both rank after every non-NULL score, as row_number does."""
    from fegis_spark.functions.vector import cosine_lit_sql
    from fegis_spark.operators.rrf import lexical_score_sql, rrf_fuse, rrf_fuse_pooled

    rows = [
        (i, None if i == 3 else [math.sin(i), math.cos(i)],
         None if i == 4 else ("data x" if i % 2 else "y data data"))
        for i in range(90)
    ]
    df = local_frame(
        spark, rows, [("id", "bigint"), ("embedding", "array<double>"), ("text", "string")]
    )
    qv, terms = [1.0, 0.5], ["data"]
    scored = df.selectExpr(
        "id",
        f"{cosine_lit_sql('embedding', qv)} AS dense",
        f"{lexical_score_sql('text', terms, spark=True)} AS lex",
    )
    assert scored.where("dense IS NULL OR lex IS NULL").count() == 2
    got = rrf_fuse(df, "id", "embedding", "text", qv, terms, k=10, pool=81)
    assert [tuple(r) for r in got.collect()] == window_oracle(scored, 10, 81, exact=True)
    got = rrf_fuse_pooled(df, "id", "embedding", "text", qv, terms, k=90, pool=90)
    want = window_oracle(scored, 90, 90, exact=False)
    assert [tuple(r) for r in got.collect()] == want
    ranks = {r[0]: r[1:3] for r in want}
    assert ranks[3][0] == 90 and ranks[4][1] == 90  # each ranks last in its leg


def test_nan_inf_and_signed_zero_scores(spark):
    """Special doubles rank where Spark's DESC order puts them (NaN
    first, -0.0 tied with 0.0), also when a missing candidate's score is
    re-entered as a literal for its exact rank."""
    specials = [NAN, INF, -INF, -0.0, 0.0, 1.0, -1.0]
    rows = [(i, specials[i % 7], specials[(i * 3) % 7]) for i in range(35)]
    assert check(spark, rows, 3, 8, rrf_k=1) == [False, True]
    assert check(spark, rows, 35, 100, rrf_k=1) == [False, True]


def test_double_sql_is_bit_exact(spark):
    import duckdb

    xs = [NAN, INF, -INF, -0.0, 0.0, 5e-324, 1.7976931348623157e308, 0.1, 1 / 3, -2.5e-310]
    text = "SELECT " + ", ".join(f"{double_sql(x)} AS c{i}" for i, x in enumerate(xs))

    def bits(x: float) -> bytes:
        return b"nan" if math.isnan(x) else struct.pack(">d", x)

    want = [bits(x) for x in xs]
    assert [bits(v) for v in spark.sql(text).collect()[0]] == want
    assert [bits(v) for v in duckdb.sql(text).fetchall()[0]] == want
    assert spark.sql(f"SELECT {double_sql(None)} AS v").dtypes == [("v", "double")]
