"""Text-function parity tests: the Spark expressions must agree with a
direct Python port of the reference implementation
(fegis/search/formatters.py:141-218) over adversarial inputs."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from fegis_spark.functions.textfns import content_preview, extract_summary, relative_time


def ref_extract_summary(content: str, max_sentences: int = 1) -> str:
    if not content:
        return ""
    sentences = re.split(r"[.!?]+", content)
    sentences = [s.strip() for s in sentences if s.strip()]
    if not sentences:
        if len(content) <= 100:
            return content
        return content[:97] + "..."
    summary = ". ".join(sentences[:max_sentences])
    if summary and summary[-1] not in ".!?":
        summary += "."
    return summary


def ref_content_preview(content: str, max_length: int = 150) -> str:
    if not content:
        return ""
    cleaned = " ".join(content.split())
    if len(cleaned) <= max_length:
        return cleaned
    preview = ref_extract_summary(cleaned, max_sentences=2)
    if len(preview) <= max_length:
        return preview
    return preview[: max_length - 3] + "..."


CASES = [
    "",
    "short",
    "Tiny. Sentences! Here?",
    "   lots   of \t whitespace \n everywhere   ",
    "One long sentence " + "x" * 200,
    ("A first sentence that is quite long and wordy. A second one too! "
     "And a third that should be cut off entirely? Plus a fourth."),
    "!!!???...",
    "!" * 120,
    "No terminal punctuation at all just words " * 5,
    "Ends mid",
    "Multi.  spaced.   sentences.  " * 10,
    "Ünïcödé sentences. Ære you sure? Daß ist gut!",
    None,
    "     ",
]


_LOREM = (
    "Lorem ipsum dolor sit amet. Consectetur adipiscing elit! "
    "Sed do eiusmod tempor incididunt? Ut labore et dolore magna. "
) * 3


def _spaced(n_chars: int) -> str:
    """Text whose whitespace-collapsed form is exactly `n_chars` long
    (the preview boundary), with tab/newline runs for the collapse."""
    cleaned = _LOREM[:n_chars].rstrip().ljust(n_chars, "x")
    assert " ".join(cleaned.split()) == cleaned
    return "  " + cleaned.replace(" ", " \t\n ", 3) + " \n"


CASES += [
    _spaced(150),
    _spaced(151),
    # > 150 cleaned chars, no sentence punctuation: one long "sentence"
    ("no punctuation here just words  " * 8).strip(),
]


@pytest.mark.parametrize("n", [1, 2])
def test_extract_summary_parity(spark, n):
    df = spark.createDataFrame([(c,) for c in CASES], "content string")
    got = [r.s for r in df.select(extract_summary("content", n).alias("s")).collect()]
    want = [ref_extract_summary(c, n) for c in CASES]
    assert got == want


def test_content_preview_parity(spark):
    # whitespace-only beyond spaces: the preview collapses it first. The
    # raw-text extract_summary does not (Spark trim strips spaces only,
    # Python str.strip all whitespace), so that case is preview-only.
    cases = CASES + [" \t\n  \r "]
    df = spark.createDataFrame([(c,) for c in cases], "content string")
    got = [r.s for r in df.select(content_preview("content").alias("s")).collect()]
    want = [ref_content_preview(c) for c in cases]
    assert got == want


def test_relative_time_future_ts_matches_python_timedelta(spark):
    """A timestamp AFTER the reference instant must decompose the way
    Python timedelta does (days=-1, rem normalized positive): 10s in
    the future reads '23 hours ago', not 'just now'."""
    ref = dt.datetime(2024, 1, 2, 0, 0, 0)
    rows = [
        (1, ref + dt.timedelta(seconds=10)),    # future: 23 hours ago
        (2, ref + dt.timedelta(minutes=30)),    # future: 23 hours ago
        (3, ref - dt.timedelta(seconds=10)),    # past: just now
        (4, ref - dt.timedelta(hours=3)),       # past: 3 hours ago
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp_ntz")
    got = {
        r.id: r.rel
        for r in df.select(
            "id",
            relative_time(
                "ts", "CAST('2024-01-02 00:00:00' AS TIMESTAMP_NTZ)"
            ).alias("rel"),
        ).collect()
    }
    assert got[1] == "23 hours ago"
    assert got[2] == "23 hours ago"
    assert got[3] == "just now"
    assert got[4] == "3 hours ago"


def ref_relative_time(diff: dt.timedelta) -> str:
    """Python timedelta port of relative_time (days, then the hours and
    minutes of the normalized remainder)."""
    days, hours, minutes = diff.days, diff.seconds // 3600, diff.seconds % 3600 // 60

    def plural(n: int, unit: str) -> str:
        return f"{n} {unit}{'s' if n > 1 else ''} ago"

    if days == 1:
        return "1 day ago"
    if 1 < days < 7:
        return plural(days, "day")
    if 7 <= days < 30:
        return plural(days // 7, "week")
    if days >= 30:
        return plural(days // 30, "month")
    if hours > 0:
        return plural(hours, "hour")
    if minutes > 0:
        return plural(minutes, "minute")
    return "just now"


#: reference-instant minus timestamp, at every branch boundary
RELATIVE_TIME_BOUNDARIES = [
    dt.timedelta(0),
    dt.timedelta(seconds=59),
    dt.timedelta(hours=1),
    dt.timedelta(hours=23, minutes=59),
    dt.timedelta(days=1),
    dt.timedelta(days=6),
    dt.timedelta(days=7),
    dt.timedelta(days=29),
    dt.timedelta(days=30),
    dt.timedelta(seconds=-10),  # 10 s in the future
]


def _summary_frame(spark, ref: dt.datetime):
    rows = [
        (f"m{i}", None, "ctx", "tool", 1.0, "text", ref - d, "s")
        for i, d in enumerate(RELATIVE_TIME_BOUNDARIES)
    ]
    return spark.createDataFrame(
        rows,
        "memory_id string, title string, context string, tool string, "
        "score double, content string, timestamp timestamp, session_id string",
    )


def test_relative_time_boundaries_explicit_ref(spark):
    from fegis_spark.functions.views import apply_view

    ref = dt.datetime(2024, 3, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    out = apply_view(_summary_frame(spark, ref), "summary", ref_ts=F.lit(ref))
    got = {r.memory_id: r.relative_time for r in out.collect()}
    want = {f"m{i}": ref_relative_time(d) for i, d in enumerate(RELATIVE_TIME_BOUNDARIES)}
    assert got == want
    assert want["m1"] == "just now" and want["m9"] == "23 hours ago"


def test_relative_time_boundaries_default_ref(spark):
    """apply_view's default reference is the query's current_timestamp():
    each row must read as the port does at some whole second between
    just before and just after the query."""
    from fegis_spark.functions.views import apply_view

    t0 = dt.datetime.now(dt.timezone.utc).replace(microsecond=0)
    out = apply_view(_summary_frame(spark, t0), "summary")
    got = {r.memory_id: r.relative_time for r in out.collect()}
    lag = int((dt.datetime.now(dt.timezone.utc) - t0).total_seconds()) + 1
    for i, d in enumerate(RELATIVE_TIME_BOUNDARIES):
        allowed = {ref_relative_time(d + dt.timedelta(seconds=k)) for k in range(lag + 1)}
        assert got[f"m{i}"] in allowed, (d, got[f"m{i}"], allowed)


def test_unigram_logprob_known_values(spark):
    import math

    from fegis_spark.operators.text_analysis import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b")], "doc_id long, text string"
    )
    got = {r.doc: r for r in unigram_logprob(docs).collect()}
    # corpus tokens: a,a,b,b -> p(a)=p(b)=0.5; output = decimal-exact
    # SUM of per-token nl (r7: means are midpoint-prone cross-engine)
    exp = round(-math.log(0.5), 6)
    assert got[1].n_tokens == 3 and got[2].n_tokens == 1
    assert abs(got[1].sum_neg_logprob - 3 * exp) < 3e-6
    assert abs(got[2].sum_neg_logprob - exp) < 1e-6


def test_expr_fast_paths_match_duckdb_oracles(spark):
    """lang_id_sql / quality_score_sql / lang_margin_sql give the same
    values in their Spark and DuckDB spellings on representative text,
    including empty/edge rows."""
    import duckdb

    from fegis_spark.operators.text_analysis import (
        lang_id_sql,
        lang_margin_sql,
        quality_score_sql,
    )

    texts = [
        "the cat and the dog is here of course",
        "le chat et la porte une les",
        "", "   ", "的是在你好",
        "a! b? c; d: e, f. " * 20,
        "x" * 150,
        "Der Hund und die Katze ist hier. The end of it.",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = [
        (r.lang, r.q, r.m)
        for r in df.orderBy("i").select(
            F.expr(lang_id_sql("text", spark=True)).alias("lang"),
            F.expr(quality_score_sql("text", spark=True)).alias("q"),
            F.expr(lang_margin_sql("text", spark=True)).alias("m"),
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE d (i BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", list(enumerate(texts)))
    want = con.execute(
        f"SELECT {lang_id_sql('text', spark=False)}, {quality_score_sql('text', spark=False)}, "
        f"{lang_margin_sql('text', spark=False)} FROM d ORDER BY i"
    ).fetchall()
    assert got == [tuple(w) for w in want]


def test_lang_id_ties_and_null(spark):
    """Ties go to the alphabetically first language whose score is the
    max: all-zero scores -> 'de', an en/fr tie -> 'en'; NULL text falls
    through to the last language, 'zh'."""
    from fegis_spark.operators.text_analysis import lang_id_sql

    rows = [(1, "xyz qrs"), (2, "the le"), (3, None), (4, "")]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {
        r.i: r.lang
        for r in df.selectExpr("i", f"{lang_id_sql('t', spark=True)} AS lang").collect()
    }
    assert got == {1: "de", 2: "en", 3: "zh", 4: "de"}


def test_strip_html_rules(spark):
    from pyspark.sql import functions as F

    from fegis_spark.operators.text_analysis import strip_html_sql

    cases = {
        "<p>Hello <b>world</b></p>": "Hello world",
        "<script>var x=1;</script>keep": "keep",
        "<style>.a{color:red}</style>text": "text",
        "<!-- c -->a<div>b</div>": "a b",
        "a &amp; b": "a & b",
        "&amp;lt; stays escaped once": "&lt; stays escaped once",
        "<SCRIPT>\nmulti\nline\n</SCRIPT>ok": "ok",
        "plain": "plain",
    }
    df = spark.createDataFrame(list(cases.items()), "t string, want string")
    bad = df.filter(F.expr(strip_html_sql("t", spark=True)) != F.col("want")).count()
    assert bad == 0


def test_text_exprs_null_behavior_pinned(spark):
    """NULL-text behavior, pinned: CASE-ELSE fallthrough makes lang_id
    yield its tie-fallback ('zh') and quality its punct-term floor
    (0.3) — NOT NULL. DuckDB evaluates the generated SQL identically
    (NULL comparisons fall to ELSE), so oracles stay aligned; pure
    regex/array expressions DO propagate NULL. Real corpora should
    filter missing text upstream — this test documents, not endorses.
    """
    import duckdb
    from pyspark.sql import functions as F

    from fegis_spark.operators.text_analysis import (
        lang_id_sql,
        lang_margin_sql,
        quality_score_sql,
        strip_html_sql,
    )
    from fegis_spark.plans.filters import match_text

    df = spark.createDataFrame([(1, None), (2, "the data")], "i long, t string")
    row = (
        df.select(
            "i",
            F.expr(lang_id_sql("t", spark=True)).alias("lang"),
            F.expr(quality_score_sql("t", spark=True)).alias("q"),
            F.expr(lang_margin_sql("t", spark=True)).alias("m"),
            F.expr(strip_html_sql("t", spark=True)).alias("s"),
            match_text("t", "data").alias("mt"),
        )
        .filter(F.col("i") == 1)
        .first()
    )
    assert (row.lang, row.q) == ("zh", 0.3)  # CASE-ELSE fallthrough
    assert row.m is None and row.s is None and row.mt is None
    # DuckDB agrees on the fallthrough values
    d_lang, d_q = duckdb.connect().execute(
        f"SELECT {lang_id_sql('t', spark=False)}, round({quality_score_sql('t', spark=False)}, 6) "
        "FROM (SELECT CAST(NULL AS VARCHAR) AS t)"
    ).fetchone()
    assert (d_lang, round(d_q, 6)) == ("zh", 0.3)
