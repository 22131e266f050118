"""Property tests: the portable fragment generators must produce the
SAME values in Spark and DuckDB on adversarial text, not just on the
tame synthetic corpus the catalog gate runs over.

Derandomized (fixed example sequence) so the driver's per-round pytest
runs can never be flaked by a fresh random example; batched (one Spark
job checks a whole example list) so the suite stays fast. Each test is
an engine-agreement property — the pure-Python references for the same
operators are pinned separately (tests/test_gopher.py,
tests/test_textfns.py)."""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fegis_spark.operators.text_analysis import (
    GOPHER_COLS,
    fingerprint_sql,
    gopher_metrics_sql,
    lang_id_sql,
    lang_margin_sql,
    quality_score_sql,
    strip_html_sql,
)
from fegis_spark.queries.sqlfrag import md5_int_sql, tokens_sql

# printable-ish unicode incl. CJK, punctuation, digits, whitespace;
# excludes control/surrogate categories DuckDB VARCHAR cannot carry.
TEXT = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=32, max_codepoint=0x2FFF,
                      blacklist_categories=("Cs", "Cc", "Cn")),
        st.sampled_from(list("的是在 the and of a to in is it # ... \t\n")),
    ),
    max_size=120,
)
BATCH = st.lists(TEXT, min_size=8, max_size=24)
SETTINGS = dict(derandomize=True, max_examples=4, deadline=None)


def _duck(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    return con


@settings(**SETTINGS)
@given(BATCH)
def test_gopher_fragments_engine_agreement(spark, texts):
    rows = list(enumerate(texts))
    frags_s = gopher_metrics_sql("text", spark=True)
    got_s = {
        r["i"]: tuple(r[c] for c in GOPHER_COLS)
        for r in spark.createDataFrame(rows, "i int, text string")
        .select("i", *[F.expr(frags_s[c]).alias(c) for c in GOPHER_COLS])
        .collect()
    }
    frags_d = gopher_metrics_sql("text", spark=False)
    sel = ", ".join(frags_d[c] for c in GOPHER_COLS)
    got_d = {r[0]: r[1:] for r in _duck(rows).execute(f"SELECT i, {sel} FROM t").fetchall()}
    assert got_s == got_d


def _agree(spark, texts, *frags):
    """Every generator in `frags` (text expression -> SQL, spelled for
    either dialect) computes the same value on Spark and on DuckDB for
    every text in `texts`."""
    rows = list(enumerate(texts))
    got_s = {
        r[0]: tuple(r[1:])
        for r in spark.createDataFrame(rows, "i int, text string")
        .select("i", *[F.expr(f("text", spark=True)).alias(f"c{j}") for j, f in enumerate(frags)])
        .collect()
    }
    sel = ", ".join(f("text", spark=False) for f in frags)
    got_d = {r[0]: tuple(r[1:]) for r in _duck(rows).execute(f"SELECT i, {sel} FROM t").fetchall()}
    assert got_s == got_d


@settings(**SETTINGS)
@given(BATCH)
def test_tokenizer_engine_agreement(spark, texts):
    """tokens_sql — the shared substrate under minhash, contamination,
    unigram/bigram LM, TF-IDF, and split divergence."""
    _agree(spark, texts, tokens_sql)


@settings(**SETTINGS)
@given(BATCH)
def test_fingerprint_engine_agreement(spark, texts):
    _agree(spark, texts, fingerprint_sql)


@settings(**SETTINGS)
@given(BATCH)
def test_quality_and_langid_engine_agreement(spark, texts):
    _agree(spark, texts, quality_score_sql, lang_id_sql, lang_margin_sql)


HTMLISH = st.lists(
    st.one_of(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x24F,
                                   blacklist_categories=("Cs", "Cc", "Cn")),
            max_size=12,
        ),
        st.sampled_from(
            ["<b>", "</b>", "<script>", "</script>", "<style>x</style>",
             "<!--", "-->", "&amp;", "&lt;", "&gt;", "&nbsp;", "&quot;",
             "&#39;", "<", ">", "&", "\n", "\t"]
        ),
    ),
    max_size=16,
).map("".join)


@settings(**SETTINGS)
@given(st.lists(HTMLISH, min_size=8, max_size=24))
def test_strip_html_engine_agreement(spark, texts):
    _agree(spark, texts, strip_html_sql)


@settings(**SETTINGS)
@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=8, max_size=24, unique=True))
def test_hash_bucket_engine_agreement(spark, ids):
    """The md5 integer hash — the split/sample/incremental-dedup/
    checksum bucket (8 hex digits) and the md5-60 sketch hash (15) —
    must agree across engines for any bigint id."""
    rows = [(i,) for i in ids]

    def frags(spark):
        h = "CAST(doc_id AS STRING)"
        return [f"{md5_int_sql(h, 8, spark=spark)} % 100", md5_int_sql(h, 15, spark=spark)]

    got_s = {
        r[0]: tuple(r[1:])
        for r in spark.createDataFrame(rows, "doc_id long")
        .selectExpr("doc_id", *frags(True))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", rows)
    got_d = {
        r[0]: tuple(r[1:])
        for r in con.execute(f"SELECT doc_id, {', '.join(frags(False))} FROM t").fetchall()
    }
    assert got_s == got_d
    assert all(0 <= b < 100 for b, _ in got_s.values())


VEC = st.lists(
    st.floats(min_value=-0.875, max_value=0.875, allow_nan=False, width=32),
    min_size=8,
    max_size=8,
)
VBATCH = st.lists(VEC, min_size=4, max_size=10)


@settings(**SETTINGS)
@given(VBATCH)
def test_srp_code_engine_agreement(spark, vecs):
    """SRP codes must agree across engines on arbitrary float32
    vectors — integer quantization makes each hyperplane dot exact, so
    any disagreement is a recipe bug, not noise."""
    from fegis_spark.operators.dedup import srp_code

    dim = 8
    rows = [(i, v) for i, v in enumerate(vecs)]
    got_s = {
        r["i"]: r["code"]
        for r in spark.createDataFrame(rows, "i int, embedding array<float>")
        .select("i", F.expr(srp_code("embedding", dim)).alias("code"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE v (i INTEGER, embedding FLOAT[])")
    con.executemany("INSERT INTO v VALUES (?, ?)", rows)
    got_d = dict(
        con.execute(
            f"SELECT i, {srp_code('embedding', dim, spark=False)} FROM v"
        ).fetchall()
    )
    assert got_s == got_d


@settings(**SETTINGS)
@given(VBATCH)
def test_ivfp_routing_engine_agreement(spark, vecs):
    """Portable-IVF routing (list assignment + probe ranking inputs)
    must agree across engines on arbitrary float32 vectors: the
    quantized dots are exact integers, so argmax-by-first-occurrence
    (array_position/list_position) picks the same list everywhere.
    Any disagreement is a recipe bug, not float noise."""
    from fegis_spark.operators.knn import ivfp_dots

    dim, n_lists = 8, 4
    rows = [(i, v) for i, v in enumerate(vecs)]
    dots = ivfp_dots("embedding", dim, n_lists)
    got_s = {
        r["i"]: (tuple(r["dots"]), r["list_id"])
        for r in spark.createDataFrame(rows, "i int, embedding array<float>")
        .select(
            "i",
            F.expr(dots).alias("dots"),
            F.expr(
                f"CAST(array_position({dots}, array_max({dots})) - 1 AS INT)"
            ).alias("list_id"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE v (i INTEGER, embedding FLOAT[])")
    con.executemany("INSERT INTO v VALUES (?, ?)", rows)
    dsql = ivfp_dots("embedding", dim, n_lists, spark=False)
    got_d = {
        r[0]: (tuple(int(x) for x in r[1]), r[2])
        for r in con.execute(
            f"SELECT i, {dsql} AS dots, "
            f"CAST(list_position({dsql}, list_max({dsql})) - 1 AS INT) FROM v"
        ).fetchall()
    }
    assert got_s == got_d


def test_round_midpoint_divergence_is_real(spark):
    """Pin the WHY of the repo-wide no-round(k/n) convention: on a
    double whose shortest decimal repr lands on a rounding midpoint
    but whose binary value sits below it (0.285 = 0.28499999999...),
    Spark rounds the shortest repr HALF_UP (0.29) while DuckDB rounds
    the binary value (0.28). The engines genuinely DIVERGE — any
    oracle-checked round(ratio) output is therefore a latent hash
    flake (the r5 text_kn_logprob and r7 dsir_importance incidents).
    If an engine upgrade ever makes this assertion fail, the ban can
    be revisited."""
    s = spark.sql("SELECT round(0.285d, 2) AS a, round(0.145d, 2) AS b").collect()[0]
    con = duckdb.connect()
    d = con.sql("SELECT round(0.285e0, 2) AS a, round(0.145e0, 2) AS b").fetchall()[0]
    assert (s["a"], s["b"]) == (0.29, 0.15)  # shortest-repr HALF_UP
    assert d == (0.28, 0.14)  # binary-value rounding


def test_unrounded_integer_ratio_engine_agreement(spark):
    """The sanctioned replacement — emitting the UNROUNDED quotient of
    exact integers — is bit-identical across engines (IEEE-correct
    division), including the k/n values that sit on rounding
    midpoints."""
    pairs = [(57, 200), (29, 200), (1, 3), (22, 7), (1, 2000000), (999999, 7000000)]
    sel = ", ".join(
        f"CAST({k} AS DOUBLE) / CAST({n} AS DOUBLE) AS r{i}"
        for i, (k, n) in enumerate(pairs)
    )
    s = spark.sql(f"SELECT {sel}").collect()[0]
    con = duckdb.connect()
    d = con.sql(f"SELECT {sel}").fetchall()[0]
    assert tuple(s) == d == tuple(k / n for k, n in pairs)


@settings(**SETTINGS)
@given(
    st.lists(
        st.floats(min_value=1e-12, max_value=1e12).filter(lambda x: x > 0),
        min_size=1,
        max_size=24,
    )
)
def test_portable_ln_engine_agreement(spark, xs):
    """portable_ln must be BITWISE identical across engines (its whole
    reason to exist — native ln() diverges by 1 ulp on ~2.5% of
    inputs, evidence/ln_ulp_probe_r8.json) and within a few ulp of the
    true log."""
    import math
    import struct

    from fegis_spark.queries.sqlfrag import portable_ln

    xs = [float(x) for x in xs]
    sv = [
        r["v"]
        for r in spark.createDataFrame([(x,) for x in xs], "x double")
        .selectExpr(f"{portable_ln('x', spark=True)} AS v")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE xt (x DOUBLE)")
    con.executemany("INSERT INTO xt VALUES (?)", [(x,) for x in xs])
    dv = [
        r[0]
        for r in con.execute(f"SELECT {portable_ln('x')} AS v FROM xt").fetchall()
    ]
    for x, a, b in zip(xs, sv, dv):
        assert struct.pack("<d", a) == struct.pack("<d", b), (x, a, b)
        want = math.log(x)
        tol = 8e-16 * max(abs(want), 1.0)
        assert abs(a - want) <= tol, (x, a, want)


def test_portable_ln_edge_cases(spark):
    """Exact powers of two (where Spark's floor(log2) is known to be
    off by one — floor(log2(2^-29)) returns -30 — and the clamp must
    correct it), their float neighbors, and domain extremes."""
    import math
    import struct

    from fegis_spark.queries.sqlfrag import portable_ln

    xs = []
    for e in (-30, -29, -1, 0, 1, 24, 52):
        p = math.ldexp(1.0, e)
        xs += [p, math.nextafter(p, 0.0), math.nextafter(p, math.inf)]
    xs += [1e-12, 1e12, 1.0, 2.0 / 3.0]
    xs = [float(x) for x in xs]
    sv = [
        r["v"]
        for r in spark.createDataFrame([(x,) for x in xs], "x double")
        .selectExpr(f"{portable_ln('x', spark=True)} AS v")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE xe (x DOUBLE)")
    con.executemany("INSERT INTO xe VALUES (?)", [(x,) for x in xs])
    dv = [
        r[0]
        for r in con.execute(f"SELECT {portable_ln('x')} AS v FROM xe").fetchall()
    ]
    for x, a, b in zip(xs, sv, dv):
        assert struct.pack("<d", a) == struct.pack("<d", b), (x, a, b)
        want = math.log(x)
        tol = 8e-16 * max(abs(want), 1.0)
        assert abs(a - want) <= tol, (x, a, want)
    # ln(1) must be exactly 0 (e=0, m=1, t=0 — no rounding anywhere)
    assert sv[xs.index(1.0)] == 0.0


@settings(**SETTINGS)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=40,
    )
)
def test_percentile_interpolation_engine_agreement(spark, vals):
    """Spark percentile() and DuckDB quantile_cont share the linear
    interpolation lower + (upper-lower)*frac BITWISE — the guarantee
    behind every quantile-emitting oracle (quantiles_by_type,
    quality_median_gate, anomaly_mad, funnel latency percentiles,
    curriculum cutpoints), which all ship UNROUNDED since r8. The
    spelling both engines accept, percentile_cont(p) WITHIN GROUP
    (ORDER BY x) (the one-text queries), gives the same bits."""
    import struct

    ps = (0.1, 0.25, 0.5, 0.75, 0.9, 0.95)
    common = ", ".join(f"percentile_cont({p}) WITHIN GROUP (ORDER BY x)" for p in ps)
    vals = [float(v) for v in vals]
    row = (
        spark.createDataFrame([(v,) for v in vals], "x double")
        .selectExpr(
            "percentile(x, array(0.1D, 0.25D, 0.5D, 0.75D, 0.9D, 0.95D)) AS p",
            f"array({common}) AS pc",
        )
        .collect()[0]
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE qt (x DOUBLE)")
    con.executemany("INSERT INTO qt VALUES (?)", [(v,) for v in vals])
    dv, dpc = con.execute(
        f"SELECT quantile_cont(x, [0.1, 0.25, 0.5, 0.75, 0.9, 0.95]), [{common}] FROM qt"
    ).fetchall()[0]

    def norm(v: float) -> bytes:
        # signed zero: interpolating between -0.0 and 0.0 yields -0.0
        # on one engine and +0.0 on the other; they compare == in every
        # comparator (and no corpus column carries -0.0), so the pin is
        # bitwise-up-to-signed-zero
        return struct.pack("<d", v + 0.0 if v == 0 else v)

    want = [norm(b) for b in dv]
    for got in (row["p"], row["pc"], dpc):
        assert [norm(a) for a in got] == want


VEC64 = st.lists(
    st.floats(min_value=-0.875, max_value=0.875, allow_nan=False, width=32),
    min_size=64,
    max_size=64,
)


@settings(**SETTINGS)
@given(st.lists(VEC64, min_size=3, max_size=6))
def test_pq_codes_and_adc_engine_agreement(spark, vecs):
    """PQ encode (per-subspace argmax codeword dot) and the ADC LUT
    sum must agree across engines on arbitrary float32 vectors — the
    whole path is exact-integer after quantization, so any
    disagreement is a recipe bug, not float noise (r11)."""
    from fegis_spark.operators.knn import (
        PQ_ADC_EXPR,
        pq_adc_sql,
        pq_codes_expr,
        pq_luts_expr,
    )

    rows = [(i, v) for i, v in enumerate(vecs)]
    sdf = spark.createDataFrame(rows, "i int, embedding array<float>")
    got_s = {
        r["i"]: tuple(r["codes"])
        for r in sdf.select(
            "i", F.expr(pq_codes_expr("embedding")).alias("codes")
        ).collect()
    }
    corpus = sdf.select(
        F.col("i").alias("ci"), F.expr(pq_codes_expr("embedding")).alias("codes")
    )
    qs = sdf.filter(F.col("i") == 0).select(
        F.expr(pq_luts_expr("embedding")).alias("luts")
    )
    adc_s = {
        r["ci"]: r["adc"]
        for r in corpus.crossJoin(qs)  # bcast-ok: 1-row query side (test)
        .withColumn("adc", F.expr(PQ_ADC_EXPR))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE v (i INTEGER, embedding FLOAT[])")
    con.executemany("INSERT INTO v VALUES (?, ?)", rows)
    got_d = {
        r[0]: tuple(r[1])
        for r in con.execute(
            f"SELECT i, {pq_codes_expr('embedding', spark=False)} FROM v"
        ).fetchall()
    }
    assert got_s == got_d
    adc_d = dict(
        con.execute(
            f"""
            WITH c AS (SELECT i, {pq_codes_expr('embedding', spark=False)} AS codes FROM v),
                 q AS (SELECT {pq_luts_expr('embedding', spark=False)} AS luts FROM v WHERE i = 0)
            SELECT c.i, CAST({pq_adc_sql('c.codes', 'q.luts')} AS BIGINT)
            FROM c CROSS JOIN q
            """
        ).fetchall()
    )
    assert adc_s == adc_d
