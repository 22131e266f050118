"""Search-strategy semantics tests (limits, threshold-after-topk,
filter-before-score ordering) on a controlled corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fegis_spark.plans.search import (
    basic_search,
    by_id_search,
    filtered_search,
    topk,
)


@pytest.fixture(scope="module")
def corpus(spark):
    # unit vectors on a plane: similarity to [1,0] = cos(angle)
    import math

    rows = [
        (i, [math.cos(math.radians(a)), math.sin(math.radians(a))], i % 2)
        for i, a in enumerate([0, 10, 20, 45, 60, 80, 90, 120, 150, 180])
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


Q = [1.0, 0.0]


def test_basic_topk_order(corpus):
    got = [r.vec_id for r in basic_search(corpus, "embedding", Q, k=3).collect()]
    assert got == [0, 1, 2]


def test_threshold_after_topk(corpus):
    # k=3 keeps angles 0,10,20 — threshold 0.9 keeps cos>=0.9 (0,10,20 all >=0.93)
    out = basic_search(corpus, "embedding", Q, k=3, score_threshold=0.98)
    assert [r.vec_id for r in out.collect()] == [0, 1]
    # threshold-before-topk would instead return 3 rows (0,1,2 all pass 0.9);
    # with 0.98 only 2 survive — ordering is observable
    out2 = basic_search(corpus, "embedding", Q, k=10, score_threshold=0.98)
    assert [r.vec_id for r in out2.collect()] == [0, 1]


def test_filtered_before_score(corpus):
    # label==1 removes the top match (vec 0 has label 0): filtered search
    # must return vec 1 first — proof the filter ran BEFORE top-k
    out = filtered_search(
        corpus,
        "embedding",
        Q,
        filters=[{"field": "label", "operator": "is", "value": 1}],
        k=2,
        valid_fields={"label", "vec_id"},
        timestamp_fields=set(),
    )
    assert [r.vec_id for r in out.collect()] == [1, 3]


def test_filtered_empty_query(corpus):
    out = filtered_search(
        corpus,
        "embedding",
        None,
        filters=[{"field": "label", "operator": "is", "value": 0}],
        k=100,
        valid_fields={"label"},
        timestamp_fields=set(),
    )
    rows = out.collect()
    assert len(rows) == 5 and all(r.score == 0.0 for r in rows)


def test_by_id(corpus):
    rows = by_id_search(corpus, "vec_id", 7).collect()
    assert len(rows) == 1 and rows[0].score == 1.0


def test_limit_bounds(corpus):
    scored = corpus.withColumn("score", F.lit(1.0))
    with pytest.raises(ValueError, match="limit"):
        topk(scored, 0, "vec_id")
    with pytest.raises(ValueError, match="limit"):
        topk(scored, 101, "vec_id")


def test_zero_norm_guard(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = basic_search(df, "embedding", Q, k=2).collect()
    scores = {r.vec_id: r.score for r in out}
    assert scores[0] == 0.0 and scores[1] == 1.0


def test_ranked_topk_matches_row_number(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fegis_spark.operators.topk import ranked_topk

    df = spark.createDataFrame(
        [(i, float((i * 37) % 11)) for i in range(50)], "id long, v double"
    )
    got = {
        (r.id, r.v, r.rank)
        for r in ranked_topk(df, "v", "id", 7).collect()
    }
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("v"), F.col("id"))
    want = {
        (r.id, r.v, r.rank)
        for r in df.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 7)
        .collect()
    }
    assert got == want


def test_rrf_fuse_matches_corpus_wide_windows(spark):
    """Both fusion forms must reproduce their naive corpus-wide windowed
    spelling exactly (ranks and scores): rrf_fuse on global ranks, and
    rrf_fuse_pooled on ranks that count only inside each leg's top-pool
    (a doc outside a leg's pool contributes nothing for that leg)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fegis_spark.operators.rrf import RRF_K, lexical_score_sql, rrf_fuse, rrf_fuse_pooled
    from fegis_spark.functions.vector import cosine, lit_vector

    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)],
         " ".join(rnd.choice(["data", "model", "system", "noise", "filler"])
                  for _ in range(12)))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, embedding array<double>, text string")
    qv = rows[0][1]
    terms = ["data", "model", "system"]

    got = [tuple(r) for r in rrf_fuse(df, "id", "embedding", "text", qv, terms, k=10).collect()]
    pool = 20
    got_pooled = [
        tuple(r)
        for r in rrf_fuse_pooled(df, "id", "embedding", "text", qv, terms, k=10, pool=pool).collect()
    ]

    scored = df.select(
        F.col("id"),
        cosine(F.col("embedding"), lit_vector(qv)).alias("dense"),
        F.expr(lexical_score_sql("text", terms, spark=True)).alias("lex"),
    )
    w0 = Window.partitionBy(F.lit(0))
    ranked = scored.withColumn(
        "r_dense",
        F.row_number().over(w0.orderBy(F.desc("dense"), F.col("id"))).cast("bigint"),
    ).withColumn(
        "r_lex",
        F.row_number().over(w0.orderBy(F.desc("lex"), F.col("id"))).cast("bigint"),
    )

    def top(frame):
        part = [F.coalesce(1.0 / (RRF_K + F.col(r)), F.lit(0.0)) for r in ("r_dense", "r_lex")]
        return [
            tuple(r)
            for r in frame.withColumn("rrf", part[0] + part[1])
            .orderBy(F.desc("rrf"), F.col("id"))
            .limit(10)
            .select("id", "r_dense", "r_lex", "rrf")
            .collect()
        ]

    assert got == top(ranked)
    in_pool = ranked.select(
        "id",
        *[F.when(F.col(r) <= pool, F.col(r)).alias(r) for r in ("r_dense", "r_lex")],
    ).where("r_dense IS NOT NULL OR r_lex IS NOT NULL")
    assert got_pooled == top(in_pool)
    assert got_pooled != got  # the pool is small enough for the forms to differ


class TestBM25:
    def test_bm25_matches_reference_formula(self, spark):
        import math

        from fegis_spark.operators.bm25 import bm25_scores

        corpus = {1: "data data model", 2: "data other thing", 3: "unrelated words here"}
        df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
        got = {r.id: r.score for r in bm25_scores(df, "text", "doc_id", ["data"]).collect()}

        toks = {i: t.split() for i, t in corpus.items()}
        n, avgdl = 3.0, sum(len(t) for t in toks.values()) / 3.0
        dfreq = sum(1 for t in toks.values() if "data" in t)
        idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
        k1, b = 1.2, 0.75
        exp = {}
        for i, t in toks.items():
            tf = float(t.count("data"))
            if tf > 0:
                exp[i] = round(idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(t) / avgdl)), 6)
        assert set(got) == set(exp)
        for i in exp:
            assert abs(got[i] - exp[i]) < 1e-6, (i, got[i], exp[i])

    def test_bm25_topk_order_and_tiebreak(self, spark):
        from fegis_spark.operators.bm25 import bm25_topk

        df = spark.createDataFrame(
            [(1, "data data"), (2, "data data"), (3, "data"), (4, "none")],
            "doc_id long, text string",
        )
        rows = bm25_topk(df, "text", "doc_id", ["data"], k=3).collect()
        assert [r.id for r in rows] == [1, 2, 3]  # equal scores tie-break by id

    def test_bm25_rejects_empty_query(self, spark):
        import pytest as _pytest

        from fegis_spark.operators.bm25 import bm25_scores

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            bm25_scores(df, "text", "doc_id", ["!!"])

    def test_bm25_plan_no_window_no_sortmergejoin(self, spark):
        from fegis_spark.operators.bm25 import bm25_topk

        df = spark.createDataFrame(
            [(i, f"data word{i}") for i in range(50)], "doc_id long, text string"
        )
        plan = bm25_topk(df, "text", "doc_id", ["data"], k=5)._jdf.queryExecution().executedPlan().toString()
        assert "WindowExec" not in plan
        assert "SortMergeJoin" not in plan
        assert "TakeOrderedAndProject" in plan


def test_bm25_random_corpora_vs_python_reference(spark):
    """Seeded random corpora (variable doc lengths, unicode, empty
    docs) scored by an independent pure-Python BM25 — guards the
    Spark formula and analyzer against drift."""
    import math
    import random

    from fegis_spark.operators.bm25 import bm25_scores
    from fegis_spark.plans.filters import analyzer_tokens

    rng = random.Random(99)
    vocab = ["data", "model", "spark", "训练", "modèle", "x1", ""]
    for trial in range(3):
        corpus = {}
        for i in range(rng.randint(4, 30)):
            words = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
            corpus[i] = " ".join(words)
        terms = rng.sample(["data", "model", "训练"], k=rng.randint(1, 2))
        df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
        got = {
            r.id: r.score for r in bm25_scores(df, "text", "doc_id", terms).collect()
        }

        toks = {i: analyzer_tokens(t) for i, t in corpus.items()}
        qt = []
        for t in terms:
            qt.extend(analyzer_tokens(t))
        qt = list(dict.fromkeys(qt))
        n = float(len(corpus))
        avgdl = sum(len(v) for v in toks.values()) / n
        k1, b = 1.2, 0.75
        exp = {}
        for i, tk in toks.items():
            s = 0.0
            for t in qt:
                tf = float(tk.count(t))
                dfreq = float(sum(1 for v in toks.values() if t in v))
                idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
                s += idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(tk) / avgdl))
            if round(s, 6) > 0:
                exp[i] = round(s, 6)
        assert set(got) == set(exp), (trial, terms, set(got) ^ set(exp))
        for i in exp:
            assert abs(got[i] - exp[i]) < 1e-6, (trial, i, got[i], exp[i])


def test_cosine_sql_bitwise_matches_column_form(spark):
    """r9 single-parse fast path: cosine_sql/lit_vector_sql must emit
    the SAME fold DAG as cosine()/lit_vector() — bit-identical scores,
    including the zero-norm guard."""
    import math

    from pyspark.sql import functions as F

    from fegis_spark.functions.vector import (
        cosine,
        cosine_sql,
        lit_vector,
        lit_vector_sql,
    )

    vecs = [
        [0.1, -2.5, 3.75, 1e-7],
        [0.0, 0.0, 0.0, 0.0],  # zero norm -> 0.0
        [1.0, 1.0, 1.0, 1.0],
        [math.pi, -math.e, 0.5, 123456.789],
    ]
    q = [0.25, -1.5, 2.0, 1e-3]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], "id int, embedding array<float>")
    a = df.select("id", cosine(F.col("embedding"), lit_vector(q)).alias("c")).collect()
    b = df.selectExpr("id", f"{cosine_sql('embedding', lit_vector_sql(q))} AS c").collect()
    assert [r.c for r in a] == [r.c for r in b]
    assert a[1].c == 0.0


def test_lexical_score_sql_spark_matches_duckdb(spark):
    """lexical_score_sql's two dialects give bit-identical padded-
    occurrence scores, including multi-space collapse and case
    folding."""
    import duckdb

    from fegis_spark.operators.rrf import lexical_score_sql

    texts = [
        "the Data model  of the\tsystem",
        "data data data",
        "",
        "  Model  ",
        "nodata systems modeling",  # substring non-matches need the pads
    ]
    terms = ["data", "model", "system"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, text string"
    )
    a = df.selectExpr("id", f"{lexical_score_sql('text', terms, spark=True)} AS s")
    a = sorted(a.collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    b = con.execute(
        f"SELECT {lexical_score_sql('text', terms, spark=False)} FROM t ORDER BY id"
    ).fetchall()
    assert [r.s for r in a] == [r[0] for r in b]
    # adjacent occurrences share the pad space, so replace() counts 2
    # non-overlapping matches in " data data data "
    assert a[1].s == 2.0


def test_cosine_from_parts_sql_bitwise_matches_fold(spark):
    """The pair-join spelling (per-side norm_sql precomputed once,
    recombined with one dot_sql per pair by cosine_from_parts_sql) must
    be bit-identical to the cosine() fold — same zero-norm guard —
    including negative zeros, denormals and a zero-norm row."""
    import math

    from pyspark.sql import functions as F

    from fegis_spark.functions.vector import (
        cosine,
        cosine_from_parts_sql,
        dot_sql,
        norm_sql,
    )

    vecs = [
        [0.1, -2.5, 3.75, 1e-7],
        [0.0, 0.0, 0.0, 0.0],  # zero norm -> 0.0
        [-0.0, 0.0, -0.0, 0.0],  # negative zeros
        [1.0, 1.0, 1.0, 1.0],
        [math.pi, -math.e, 5e-324, 123456.789],  # denormal term
        [1e30, -1e30, 1e-30, -1e-30],
    ]
    pairs = [(i, j) for i in range(len(vecs)) for j in range(len(vecs))]
    df = spark.createDataFrame(
        [(i, j, vecs[i], vecs[j]) for i, j in pairs],
        "i int, j int, va array<float>, vb array<float>",
    )
    fold = df.select(
        "i", "j", cosine(F.col("va"), F.col("vb")).alias("c")
    ).collect()
    parts = df.selectExpr(
        "i", "j", f"{norm_sql('va')} AS na", f"{norm_sql('vb')} AS nb", "va", "vb"
    ).selectExpr(
        "i", "j", f"{cosine_from_parts_sql(dot_sql('va', 'vb'), 'na', 'nb')} AS c"
    ).collect()
    assert [r.c for r in fold] == [r.c for r in parts]


def test_cosine_lit_sql_bitwise_matches_hof_form(spark):
    """r14 fast path for literal-query scoring: cosine_lit_sql (HOF
    dot + corpus-side HOF norm + the query self-norm HOISTED to a
    driver-computed double literal) must be bit-identical to the
    cosine_sql(v, lit_vector_sql(q)) form the search plans previously
    used — including a zero query, a zero corpus row, denormals and
    large-magnitude cancellation. The hoist is exact because the
    Python left fold performs the identical IEEE ops in the identical
    order as Spark's aggregate fold."""
    import math

    from fegis_spark.functions.vector import (
        cosine_lit_sql,
        cosine_sql,
        lit_vector_sql,
    )

    vecs = [
        [0.1, -2.5, 3.75, 1e-7],
        [0.0, 0.0, 0.0, 0.0],
        [-0.0, 0.0, -0.0, 0.0],
        [1.0, 1.0, 1.0, 1.0],
        [math.pi, -math.e, 5e-324, 123456.789],
        [1e30, -1e30, 1e-30, -1e-30],
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i int, v array<float>"
    )
    for q in ([0.25, -1.5, 3.0, 0.125], [0.0, 0.0, 0.0, 0.0],
              [math.pi, 2.5e-310, -1.0, 7.0]):
        old = df.selectExpr(
            "i", f"{cosine_sql('v', lit_vector_sql(q))} AS c"
        ).collect()
        new = df.selectExpr("i", f"{cosine_lit_sql('v', q)} AS c").collect()
        assert [r.c for r in old] == [r.c for r in new], q
