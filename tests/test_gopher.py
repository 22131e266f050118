"""Gopher hard-filter + C4 line cleaning vs pure-Python references on
constructed corpora.

The catalog query `gopher_quality_filter` runs on the synthetic
documents table (keep/drop mix verified non-vacuous at sf0.01:
234 keep / 266 drop), but that corpus is single-line, symbol-free
prose — so every rule branch (symbol-heavy, short, long-word,
non-alpha, bullet/ellipsis lines, C4 bad substrings) is exercised here
on documents built to trip exactly one rule each, asserted against an
independent pure-Python restatement of the published rules."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from fegis_spark.operators.text_analysis import (
    GOPHER_COLS,
    GOPHER_MAX_SYMBOL_RATIO,
    GOPHER_MAX_WORDS,
    GOPHER_MIN_ALPHA_FRAC,
    GOPHER_MIN_STOPWORD_HITS,
    GOPHER_MIN_WORDS,
    GOPHER_MWL_HI,
    GOPHER_MWL_LO,
    STOPWORDS,
    c4_clean_lines,
    gopher_metrics_sql,
    line_shape_metrics,
)

PROSE = "the quick brown fox jumps over a lazy dog and it is fine to run in snow "


def py_gopher(text: str) -> dict:
    """Independent restatement of the Gopher document rules."""
    words = re.findall(r"\S+", text)
    n = len(words)
    nonws = len(re.sub(r"\s", "", text))
    alpha = sum(1 for w in words if re.search("[A-Za-z]", w))
    hashes = text.count("#")
    ell = text.count("...")
    mwl = round(nonws / n, 6) if n else 0.0
    fa = round(alpha / n, 6) if n else 0.0
    sym = round((hashes + ell) / n, 6) if n else 0.0
    pad = " " + re.sub(r"\s+", " ", text.strip()).lower() + " "
    sw = sum(1 for s in STOPWORDS if f" {s} " in pad)
    keep = int(
        GOPHER_MIN_WORDS <= n <= GOPHER_MAX_WORDS
        and GOPHER_MWL_LO <= mwl <= GOPHER_MWL_HI
        and fa >= GOPHER_MIN_ALPHA_FRAC
        and sym < GOPHER_MAX_SYMBOL_RATIO
        and sw >= GOPHER_MIN_STOPWORD_HITS
    )
    return {
        "n_words": n,
        "mean_word_len": mwl,
        "frac_alpha_words": fa,
        "symbol_ratio": sym,
        "stopword_hits": sw,
        "keep": keep,
    }


CASES = {
    "ok": PROSE * 5,                          # all rules pass
    "empty": "",                              # n_words = 0 guard
    "short": PROSE,                           # word count below minimum
    "symbols": PROSE * 5 + "# " * 40,         # symbol ratio over cap
    "ellipsis": PROSE * 5 + "... " * 40,      # ellipsis counts as symbol
    "numeric": PROSE * 5 + "123 456 " * 30,   # alpha fraction under floor
    "longwords": ("supercalifragilistic " * 60) + PROSE,  # mwl over 10
    "nostop": "alpha beta gamma delta " * 20, # stopword hits under 2
    "onechar": "a b c d " * 20 + PROSE,       # mwl under 3
}


def test_gopher_rules_vs_python_reference(spark):
    frags = gopher_metrics_sql("text", spark=True)
    df = spark.createDataFrame(
        [(k, v) for k, v in CASES.items()], "name string, text string"
    ).select("name", *[F.expr(frags[c]).alias(c) for c in GOPHER_COLS])
    got = {r["name"]: r.asDict() for r in df.collect()}
    keeps = set()
    for name, text in CASES.items():
        exp = py_gopher(text)
        for c in GOPHER_COLS:
            assert got[name][c] == exp[c], (name, c, got[name][c], exp[c])
        keeps.add(exp["keep"])
    assert keeps == {0, 1}, "constructed corpus must exercise both outcomes"
    # each non-ok case fails for the intended reason (keep flips to 0)
    for name in CASES:
        assert got[name]["keep"] == (1 if name == "ok" else 0), name


def test_gopher_duckdb_fragments_agree(spark):
    """The DuckDB dialect of the SAME generator produces identical
    values on the constructed corpus (catalog-gate analogue, but over
    docs that trip every rule, not just the corpus-representable ones).
    """
    import duckdb

    frags = gopher_metrics_sql("text", spark=False)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (name VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(CASES.items()))
    sel = ", ".join(f"{frags[c]} AS {c}" for c in GOPHER_COLS)
    for row in con.execute(f"SELECT name, {sel} FROM t ORDER BY name").fetchall():
        name, vals = row[0], dict(zip(GOPHER_COLS, row[1:]))
        exp = py_gopher(CASES[name])
        for c in GOPHER_COLS:
            assert vals[c] == exp[c], (name, c, vals[c], exp[c])


MULTILINE = [
    (
        "mixed",
        "This line has enough words to survive the filter today.\n"
        "- bullet item\n"
        "too short.\n"
        "No terminal punctuation on this long enough line here\n"
        "Contains lorem ipsum filler so it must be dropped away.\n"
        "Enable javascript to view this page properly please now.\n"
        "var x = { 1: 2 } is code and gets dropped here.\n"
        "A second good sentence with plenty of words stays in!\n"
        "Trailing thoughts drift away like this one does...\n",
    ),
    ("single", "just one line with no structure at all"),
    ("empty", ""),
]


def py_c4(text: str, min_words: int = 5):
    kept = [
        l
        for l in text.split("\n")
        if re.search(r"[.!?\"']$", l.strip())
        and len(re.findall(r"\S+", l.strip())) >= min_words
        and not any(b in l.strip().lower() for b in ("lorem ipsum", "javascript", "{"))
    ]
    total = len(text.split("\n"))
    return "\n".join(kept), len(kept), total - len(kept)


def test_c4_clean_lines_vs_python_reference(spark):
    df = spark.createDataFrame(MULTILINE, "name string, text string").select(
        "name", c4_clean_lines(F.col("text")).alias("c")
    )
    got = {r["name"]: r["c"].asDict() for r in df.collect()}
    for name, text in MULTILINE:
        clean, nk, nd = py_c4(text)
        assert got[name]["clean_text"] == clean, name
        assert got[name]["n_lines_kept"] == nk, name
        assert got[name]["n_lines_dropped"] == nd, name
    # the mixed doc must actually drop lines for every C4 reason
    # (the '...' line survives: '...' ends in '.', which C4 treats as
    # terminal punctuation)
    assert got["mixed"]["n_lines_kept"] == 3
    assert got["mixed"]["n_lines_dropped"] == 7  # incl. trailing empty line


def test_line_shape_metrics(spark):
    text = "- one\n* two\nplain line\nends with dots...\nends with u2026…\n"
    df = spark.createDataFrame([(text,)], "text string").select(
        line_shape_metrics(F.col("text")).alias("m")
    )
    m = df.collect()[0]["m"].asDict()
    # 6 lines (trailing \n -> empty last line): 2 bullets, 2 ellipsis
    assert m["frac_bullet_lines"] == round(2 / 6, 6)
    assert m["frac_ellipsis_lines"] == round(2 / 6, 6)
