"""Text-analysis operators for training-data pipelines ([EXT]).

Language ID, quality scoring, token counting, HTML stripping and
document fingerprinting. Each scorer is ONE generator,
``x_sql(c, *, spark)``, that returns the Spark-SQL (spark=True) or
DuckDB (spark=False) spelling of the same arithmetic over text
expression `c`: Spark builders wrap it in F.expr, the DuckDB oracles
interpolate it, so every operator is hash-checkable and the two sides
cannot drift. Where the dialects need different constructs the
generator branches inside (Spark's greatest over structs and its [0]
let-binds, DuckDB's 'g' regex flag and 1-based lists). Occurrence
counts use length-difference instead of engine-specific regex
counters.

Scale: each operator is a per-row projection — no shuffle at all; they
pipeline inside one whole-stage-codegen span over the scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from fegis_spark.queries.sqlfrag import md5_int_sql, norm_text_sql

MOD = 1_000_000_007

#: language marker terms (space-padded word match for latin scripts,
#: raw substring for CJK). Deliberately tiny — a heuristic, not a model.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " is "],
    "fr": [" le ", " la ", " les ", " et ", " une "],
    "es": [" el ", " los ", " las ", " una ", " y "],
    "de": [" der ", " die ", " und ", " ist "],
    "zh": ["的", "是", "在"],
}

#: fixed precedence for score ties (alphabetical = deterministic)
LANG_ORDER = sorted(LANG_MARKERS)

STOPWORDS = ["the", "and", "of", "a", "to", "in", "is", "it"]


def occurrences_sql(haystack: str, needle: str) -> str:
    """Substring occurrence count of `needle` in `haystack` via length
    difference. No regex dialect is involved, so this one spelling is
    valid in both engines and takes no dialect flag."""
    n = needle.replace("'", "''")
    return f"(length({haystack}) - length(replace({haystack}, '{n}', ''))) / {len(needle)}"


def padded_sql(c: str, *, spark: bool) -> str:
    """' ' || normalized text || ' ' — word-ish boundaries for the
    space-padded markers."""
    return f"' ' || {norm_text_sql(c, spark=spark)} || ' '"


def _lang_scores_sql(p: str) -> list[str]:
    """Marker-occurrence score per language over padded text `p`, in
    LANG_ORDER."""
    return [
        "(" + " + ".join(occurrences_sql(p, m) for m in LANG_MARKERS[lang]) + ")"
        for lang in LANG_ORDER
    ]


def lang_id_sql(c: str, *, spark: bool) -> str:
    """Predicted language of text expression `c` = argmax marker-
    occurrence score; ties and all-zero fall back to the first language
    in alphabetical order whose score equals the max ('de' before 'en'
    ...), NULL text to the last language.

    DuckDB: a CASE chain testing each score against their greatest().
    Spark: each score spelled once, in a (score, rank, lang) struct:
    greatest() takes the highest score, then the highest rank, which
    is the earliest language. NULL text has all-NULL scores, so the
    rank alone decides and the last language ranks first, as in the
    CASE-ELSE fallthrough. That guard sits in the rank because a CASE
    around greatest() would be a branch, where codegen CSE cannot
    merge the padded-text copies."""
    scores = _lang_scores_sql(padded_sql(c, spark=spark))
    if spark:
        n = len(LANG_ORDER)
        ranks = [str(n - i) for i in range(n - 1)] + [f"IF({c} IS NULL, {n + 1}, 1)"]
        cands = ", ".join(
            f"named_struct('s', {score}, 'r', {rank}, 'l', '{lang}')"
            for lang, score, rank in zip(LANG_ORDER, scores, ranks)
        )
        return f"greatest({cands}).l"
    mx = "greatest(" + ", ".join(scores) + ")"
    expr = f"'{LANG_ORDER[-1]}'"
    for lang, score in reversed(list(zip(LANG_ORDER[:-1], scores))):
        expr = f"CASE WHEN {score} = {mx} THEN '{lang}' ELSE {expr} END"
    return expr


def lang_margin_sql(c: str, *, spark: bool) -> str:
    """Language-ID confidence: top score minus runner-up score (the
    argmax margin). Ambiguous documents (margin ~ 0) are the ones a
    confidence-gated pipeline drops or routes to a real model. Same
    score fragments as lang_id_sql; Spark binds the padded text and the
    sorted scores once per row, DuckDB indexes its list_sort 1-based."""
    n = len(LANG_ORDER)
    if spark:
        scores = ", ".join(_lang_scores_sql("_mp"))
        return (
            f"transform(array({padded_sql(c, spark=True)}), _mp ->"
            f" transform(array(array_sort(array({scores}))), _ms ->"
            f" element_at(_ms, {n}) - element_at(_ms, {n - 1}))[0])[0]"
        )
    arr = f"list_sort([{', '.join(_lang_scores_sql(padded_sql(c, spark=False)))}])"
    return f"({arr}[{n}] - {arr}[{n - 1}])"


def token_count_ws_sql(c: str, *, spark: bool) -> str:
    """Whitespace token count of text expression `c`."""
    if spark:
        n = f"size(split(trim({c}), '\\\\s+'))"
    else:
        n = f"len(string_split_regex(trim({c}), '\\s+'))"
    return f"CASE WHEN trim({c}) = '' THEN 0 ELSE {n} END"


def token_count_bpe_sql(c: str, *, spark: bool) -> str:
    """BPE-ish sub-word count: alnum runs + each non-space symbol counts
    one (the classic pre-tokenizer regex \\w+|[^\\w\\s], ASCII classes
    in both engines)."""
    if spark:
        return f"size(regexp_extract_all({c}, '\\\\w+|[^\\\\w\\\\s]', 0))"
    return f"len(regexp_extract_all({c}, '\\w+|[^\\w\\s]'))"


def quality_score_sql(c: str, *, spark: bool) -> str:
    """Composite quality heuristic in [0,1] of text expression `c`:
    0.4·length_ok + 0.3·(1-punct_ratio·5 clamped) + 0.3·stopword
    presence. Deterministic double arithmetic, term for term the same
    in both dialects. The stop-hit sum sits in a CASE branch, where
    codegen CSE cannot merge copies, so Spark binds the padded text
    once per row with transform(array(v), _qp -> ...)[0]."""
    g = "" if spark else ", 'g'"
    n_tok = f"CAST(({token_count_ws_sql(c, spark=spark)}) AS DOUBLE)"
    if spark:
        hits = " + ".join(occurrences_sql("_qp", f" {s} ") for s in STOPWORDS)
        stop_hits = f"transform(array({padded_sql(c, spark=True)}), _qp -> {hits})[0]"
    else:
        p = padded_sql(c, spark=False)
        stop_hits = "(" + " + ".join(occurrences_sql(p, f" {s} ") for s in STOPWORDS) + ")"
    punct_ratio = (
        f"CASE WHEN length({c}) > 0 "
        f"THEN CAST(length({c}) - length(regexp_replace({c}, '[.,!?;:]', ''{g})) AS DOUBLE)"
        f" / length({c}) ELSE 0.0 END"
    )
    return (
        f"round(0.4 * (CASE WHEN length({c}) BETWEEN 100 AND 10000 THEN 1.0 ELSE 0.0 END)"
        f" + 0.3 * greatest(0.0, 1.0 - ({punct_ratio}) * 5)"
        f" + 0.3 * (CASE WHEN ({n_tok}) > 0"
        f" THEN least(1.0, {stop_hits} / ({n_tok}) * 4)"
        f" ELSE 0.0 END), 6)"
    )


def fingerprint_sql(c: str, *, spark: bool) -> str:
    """Polynomial rolling hash over the codepoints of text expression
    `c`, mod 1e9+7 — an order-sensitive document fingerprint computable
    identically in any engine with a fold (unlike xxhash/md5-of-text it
    also supports windowed substring hashing at ingest). DuckDB guards
    the empty string: Spark's ascii('') folds to 0, but DuckDB's
    ord('') is -1 (found by tests/test_property_portable.py; no corpus
    row is empty, but the two spellings must agree on ALL inputs)."""
    if spark:
        return (
            f"aggregate(transform(split({c}, ''), _ch -> CAST(ascii(_ch) AS BIGINT)), "
            f"CAST(0 AS BIGINT), (_acc, _x) -> (_acc * 31 + _x) % {MOD})"
        )
    return (
        f"CASE WHEN length({c}) = 0 THEN 0 ELSE "
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({c}, ''), _ch -> CAST(ord(_ch) AS BIGINT))), "
        f"(_acc, _x) -> (_acc * 31 + _x) % {MOD}) END"
    )


#: (pattern, replacement) pipeline for HTML → text, applied in order.
#: Regexes are RE2/Java-compatible ((?is) inline flags; the one
#: backreference is expanded for RE2) so Spark and DuckDB agree
#: byte-for-byte. Entity unescape does &amp; LAST, so "&amp;lt;"
#: yields the literal text "&lt;" (correct double-escape handling),
#: and script/style bodies go before tag removal.
HTML_STRIP_STEPS: list[tuple[str, str]] = [
    (r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?s)<[^>]+>", " "),
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", '"'),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
    (r"\s+", " "),
]


def strip_html_sql(c: str, *, spark: bool) -> str:
    """HTML/boilerplate → clean text: drop script/style bodies,
    comments, and tags; unescape the common entities; collapse
    whitespace. Regex-only (whole-stage codegen, zero shuffle) — the
    standard first pass over crawled corpora before quality/dedup.
    Generated from HTML_STRIP_STEPS for both dialects. Spark SQL
    literals take backslash escapes; RE2 (DuckDB) needs the 'g' flag
    and lacks backreferences, so the </\\1 closing tag is expanded per
    tag."""
    out = c
    for pat, rep in HTML_STRIP_STEPS:
        if spark:
            lits = [s.replace("\\", "\\\\").replace("'", "\\'") for s in (pat, rep)]
            out = f"regexp_replace({out}, '{lits[0]}', '{lits[1]}')"
        elif r"</\1" in pat:
            for tag in ("script", "style"):
                p = pat.replace(r"(script|style)", tag).replace(r"</\1", f"</{tag}")
                out = f"regexp_replace({out}, '{p}', ' ', 'g')"
        else:
            sq = rep.replace("'", "''")
            out = f"regexp_replace({out}, '{pat}', '{sq}', 'g')"
    return f"trim({out})"


#: winnowing parameters (Schleimer et al. 2003, "Winnowing: Local
#: Algorithms for Document Fingerprinting"): k-token grams hashed,
#: then the rightmost minimum of every w-hash window is selected.
#: Guarantee: any shared token run of length >= w + k - 1 tokens
#: (here 6) produces at least one shared fingerprint.
WINNOW_K = 3
WINNOW_W = 4


def winnow_fps_expr(gh: str) -> str:
    """Spark-SQL expression: winnowing fingerprint set from a
    gram-hash array expression. For every window of
    least(WINNOW_W, n) consecutive hashes, select the RIGHTMOST
    position attaining the window minimum (the paper's tie rule, which
    is what makes the selection deterministic), then project the
    distinct selected positions to their distinct hashes. The window
    min is recomputed inside the position filter (w is 4 — constant
    work); identical gram-hash subtrees are shared by codegen
    subexpression elimination."""
    w = f"least({WINNOW_W}, size({gh}))"
    sel = (
        f"array_distinct(transform(sequence(0, size({gh}) - {w}), j -> "
        f"array_max(filter(sequence(j, j + {w} - 1), p -> "
        f"element_at({gh}, p + 1) = array_min(slice({gh}, j + 1, {w}))))))"
    )
    return (
        f"CASE WHEN size({gh}) = 0 THEN CAST(array() AS ARRAY<BIGINT>) "
        f"ELSE array_distinct(transform({sel}, p -> element_at({gh}, p + 1))) END"
    )


def winnow_fp_sets(docs, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, n_grams, fps) — the winnowing fingerprint set per
    document, shared by the per-doc summary (winnow_fingerprints) and
    the cross-doc match join (winnow_match_pairs)."""
    from pyspark.ml.feature import NGram

    from fegis_spark.operators.dedup import tokens

    # Scala NGram for the gram strings (2× the HOF slice/concat chain,
    # measured at sf0.1); only the per-gram md5 stays a HOF transform.
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__tok")
    )
    base = (
        NGram(n=WINNOW_K, inputCol="__tok", outputCol="__g")
        .transform(base)
        .select(
            "doc_id",
            F.expr(f"transform(__g, _g -> {md5_int_sql('_g', 15, spark=True)})").alias(
                "__gh"
            ),
        )
    )
    return base.select(
        "doc_id",
        F.expr("size(__gh)").alias("n_grams"),
        F.expr(winnow_fps_expr("__gh")).alias("fps"),
    )


def winnow_match_pairs(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 1,
    max_bucket_size: int | None = None,
):
    """Cross-document winnowing matches — what MOSS actually reports:
    pairs of documents sharing selected fingerprints, with the shared
    count and the fingerprint-set Jaccard. Because of the winnowing
    guarantee, every pair sharing a token run of >= w + k - 1 tokens
    IS in this output (no MinHash-style false negatives for local
    matches).

    Plan: fingerprint sets → explode to (doc, h) → bucket_pairs on
    the hash (operators/dedup), keeping multiplicity: n_shared counts
    one emitted row per shared fingerprint, so NO distinct.

    max_bucket_size is bucket_pairs' hot-bucket cap (bucket = the
    fingerprint hash): a boilerplate fingerprint shared by m docs would
    emit m(m-1)/2 pairs out of ONE join key — the quadratic output no
    partitioning trick can shrink. Under the cap, hashes with <= cap
    members pair exactly as before; over-cap hashes emit STAR rows to
    their min-doc representative (m-1 instead of m²/2), so per-pair
    n_shared counts only the fingerprints that actually generated the
    candidate. Capped hashes are observable via band_bucket_stats on
    the exploded (doc, h) rows with keys=("h",) (the no-silent-caps
    rule). None = exact (the oracle-checked default).

    The fingerprint sets are persisted on BOTH routes: the winnowing
    projection must materialize once (comment below), not only feed
    the uncapped join's two sides.

    A doc id that repeats in the input never pairs with itself
    (bucket_pairs' a < b guard). Its copies each count toward
    n_shared; where that drives the union size n_l + n_r − n_shared to
    0, fp_jaccard is NULL instead of a divide-by-zero (nullif, the
    ANSI-divide rule)."""
    from pyspark import StorageLevel

    from fegis_spark.operators.dedup import bucket_pairs

    # persisted on BOTH emitter routes: beyond the uncapped join's two
    # consumers, the winnowing projection itself (interpreted HOF +
    # regexp chain) must materialize exactly once — without the cache
    # the collapsed plan re-evaluates the fps expression per reference
    # (n_fp + explode) inside a non-codegen stage, measured
    # catastrophically slower on the hot-docs corpus (r15)
    sets = (
        winnow_fp_sets(docs, text_col, id_col)
        .select("doc_id", F.size("fps").alias("n_fp"), "fps")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ex = sets.select(F.col("doc_id").alias("doc"), "n_fp", F.explode("fps").alias("h"))
    # band-ok: fingerprint hashes are 60-bit md5 prefixes; hot shared
    # boilerplate is what the caller's max_bucket_size routes
    cand = bucket_pairs(ex, ("h",), ("n_fp",), max_bucket_size)
    return (
        cand.groupBy(
            F.col("a").alias("doc_l"),
            F.col("b").alias("doc_r"),
            F.col("n_fp_a").alias("n_l"),
            F.col("n_fp_b").alias("n_r"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(
            "doc_l",
            "doc_r",
            "n_shared",
            F.round(
                F.col("n_shared")
                / F.expr("nullif(n_l + n_r - n_shared, 0)"),
                6,
            ).alias("fp_jaccard"),
        )
    )


def winnow_fingerprints(docs, text_col: str = "text", id_col: str = "doc_id"):
    """Winnowing document fingerprints (Schleimer et al. 2003): the
    MOSS algorithm's selection of k-gram hashes — every w-window of
    consecutive gram hashes contributes its rightmost minimum — giving
    a compact position-robust fingerprint set per document with a hard
    guarantee (shared runs >= w+k-1 tokens always collide), unlike
    MinHash's probabilistic sketch.

    Output: (doc_id, n_grams, n_fp, fp_xor, fp_density). fp_xor is the
    order-proof XOR of the distinct fingerprint hashes (same recipe as
    corpus_checksums); fp_density ~ 2/(w+1) on random text.

    Scale: a pure per-row projection — zero shuffle, whole-stage
    codegen, corpus streams map-side. winnow_match_pairs is the
    cross-doc join built on the same sets."""
    sets = winnow_fp_sets(docs, text_col, id_col)
    return sets.select(
        "doc_id",
        "n_grams",
        F.size("fps").alias("n_fp"),
        F.expr(
            "aggregate(fps, CAST(0 AS BIGINT), (acc, x) -> acc ^ x)"
        ).alias("fp_xor"),
        F.expr(
            "CASE WHEN n_grams > 0 THEN "
            "round(CAST(size(fps) AS DOUBLE) / n_grams, 6) ELSE 0.0 END"
        ).alias("fp_density"),
    )


def unigram_logprob(
    docs, text_col: str = "text", id_col: str = "doc_id",
    broadcast_vocab: bool = True,
):
    """Corpus-level unigram language-model scoring: each document gets
    the mean negative log-probability of its tokens under the corpus
    unigram distribution — the classic cheap fluency/quality proxy
    (high score = rare-token-heavy = boilerplate noise, OCR junk, or
    off-distribution text; low = stopword-heavy filler).

    Plan shape: one token explode feeding (a) a hash-agg vocab count
    and (b) a vocab join back to the token stream; the vocab (and the
    1-row corpus total) broadcast, so the scoring side never shuffles
    the corpus — only the final per-doc agg does. At 100 TB set
    broadcast_vocab=False if the distinct-token table outgrows the
    broadcast threshold (it becomes a plain shuffle equi-join), or
    pre-aggregate the vocab with a frequency cutoff.

    No OOV smoothing needed: the vocab is built from the corpus being
    scored, so every token has count >= 1. Sum goes through
    DECIMAL(38,6) (partition-order-proof); output rounded to 6 dp.

    The vocab is persisted (MEMORY_AND_DISK): it feeds both the
    broadcast join and the corpus-total aggregate, and without the
    cache each consumer would re-scan the corpus to rebuild it — at
    100 TB that third scan costs more than caching a distinct-token
    table ever can. LRU eviction reclaims it; callers scoring many
    corpora in one session can spark.catalog.clearCache().
    """
    from pyspark import StorageLevel

    from fegis_spark.operators.dedup import tokens

    tok = docs.select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("t")
    )
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    total = vocab.agg(F.sum("cnt").alias("n"))
    # -ln p(t) is a function of the TOKEN TYPE alone, so it collapses
    # onto the vocab table: portable_ln (sqlfrag.py — bit-identical
    # cross-engine, unlike native ln's 1-ulp divergence) runs once per
    # distinct token, not once per occurrence, and rides the broadcast
    from fegis_spark.queries.sqlfrag import portable_ln

    nlv = (
        vocab.crossJoin(F.broadcast(total))  # bcast-ok: 1-row agg
        .select(
            "t",
            (F.col("cnt").cast("double") / F.col("n").cast("double")).alias("p"),
        )
        .select("t", (-F.expr(portable_ln("p", spark=True))).alias("nl"))
    )
    if broadcast_vocab:
        nlv = F.broadcast(nlv)  # bcast-ok: vocab table, caller-gated via broadcast_vocab (Heaps-sublinear; pass False at corpus scale)
    scored = tok.join(nlv, "t")
    return scored.groupBy("doc").agg(
        # decimal-exact SUM + count, not a rounded mean: sum/count can
        # land exactly on a .5e-6 midpoint where the engines' rounding
        # tie-breaks differ (the dsir_importance r7 incident class)
        F.sum(F.col("nl").cast("decimal(38,6)"))
        .cast("double")
        .alias("sum_neg_logprob"),
        F.count("*").alias("n_tokens"),
    )


def bigram_logprob(
    docs, text_col: str = "text", id_col: str = "doc_id",
    broadcast_vocab: bool = True,
):
    """Corpus bigram-LM scoring: each document (with ≥2 tokens) gets
    the mean -ln P(w2|w1) of its bigrams under the corpus conditional
    distribution P(w2|w1) = cnt(w1 w2) / cnt(w1 ·) — one step up the
    n-gram ladder from `unigram_logprob`, the standard repetition- and
    fluency-sensitive quality proxy (templated text scores low, token
    salad scores high). Self-trained, so no OOV smoothing is needed.

    Plan shape: one bigram explode feeds (a) the (w1, bigram) count
    table and, derived FROM that table without a second corpus scan,
    (b) the w1 context totals; both broadcast, so scoring is map-side
    and only the final per-doc agg shuffles the corpus. At 100 TB set
    broadcast_vocab=False when the distinct-bigram table outgrows the
    broadcast threshold. The bigram vocab persists (MEMORY_AND_DISK):
    it feeds both the context rollup and the scoring join.

    Determinism: per-bigram -ln goes through DECIMAL(38,6) before the
    per-doc sum (dsum rule); output rounded to 6 dp."""
    from pyspark import StorageLevel

    from fegis_spark.operators.dedup import tokens

    toks = docs.select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("tok")
    ).where(F.size("tok") >= 2)
    # sequence(1, size-1) is safe here: size >= 2 keeps it ascending
    bg = toks.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tok") - 1),
                lambda i: F.struct(
                    F.element_at("tok", i).alias("w1"),
                    F.concat_ws(
                        " ", F.element_at("tok", i), F.element_at("tok", i + 1)
                    ).alias("b"),
                ),
            )
        ).alias("p"),
    ).select("doc", "p.w1", "p.b")
    vocab = (
        bg.groupBy("w1", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ctx = vocab.groupBy("w1").agg(F.sum("cnt").alias("ctx"))
    # -ln P(w2|w1) is a function of the BIGRAM TYPE alone (b encodes
    # w1), so it collapses onto the bigram vocab: portable_ln
    # (bit-identical cross-engine) runs once per distinct bigram, and
    # the corpus-side plan needs ONE broadcast join on b instead of
    # the former two (b, then w1)
    from fegis_spark.queries.sqlfrag import portable_ln

    nlv = (
        vocab.join(ctx, "w1")
        .select(
            "b",
            (F.col("cnt").cast("double") / F.col("ctx").cast("double")).alias("p"),
        )
        .select("b", (-F.expr(portable_ln("p", spark=True))).alias("nl"))
    )
    if broadcast_vocab:
        nlv = F.broadcast(nlv)  # bcast-ok: bigram vocab, caller-gated via broadcast_vocab
    scored = bg.join(nlv, "b")
    return scored.groupBy("doc").agg(
        F.sum(F.col("nl").cast("decimal(38,6)"))
        .cast("double")
        .alias("sum_neg_logprob"),
        F.count("*").alias("n_bigrams"),
    )


# ---------------------------------------------------------------------------
# Gopher-rule document filter (Rae et al. 2021, "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", App. A1.1)
# — the standard pre-training hard-filter rule set: word-count window,
# mean-word-length window, symbol-to-word ratio (# and ellipsis),
# alphabetic-word fraction, and required-stopword presence. Document-
# level rules are generated for BOTH engines from one template
# (gopher_metrics_sql), so the catalog query and its DuckDB oracle
# cannot drift; the two line-level rules (bullet-start / ellipsis-end
# fractions) live in line_shape_metrics below because the synthetic
# corpus is single-line — they are exercised by constructed-corpus
# tests instead of a vacuous always-zero oracle column.
#
# Scale: pure per-row projection, zero shuffle, whole-stage codegen.

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_LO = 3.0
GOPHER_MWL_HI = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_STOPWORD_HITS = 2

#: output column order for the catalog query and its oracle
GOPHER_COLS = [
    "n_words",
    "mean_word_len",
    "frac_alpha_words",
    "symbol_ratio",
    "stopword_hits",
    "keep",
]


def gopher_metrics_sql(c: str, *, spark: bool) -> dict[str, str]:
    """SQL fragments for every Gopher document-level metric over text
    column expression `c`, in Spark-SQL (spark=True) or DuckDB
    (spark=False) dialect. Same arithmetic term for term: counts are
    integer, ratios are IEEE double rounded to 6 dp (per-row math, no
    aggregation, so the dsum rule does not apply); `keep` is emitted as
    INT 1/0 so value-hashing never depends on engine boolean repr."""
    if spark:
        words = f"regexp_extract_all({c}, '\\\\S+', 0)"
        n_words = f"size({words})"
        alpha = f"size(filter({words}, w -> w rlike '[A-Za-z]'))"
        nonws = f"length(regexp_replace({c}, '\\\\s', ''))"
    else:
        words = f"regexp_extract_all({c}, '\\S+')"
        n_words = f"len({words})"
        alpha = f"len(list_filter({words}, w -> regexp_matches(w, '[A-Za-z]')))"
        nonws = f"length(regexp_replace({c}, '\\s', '', 'g'))"
    p = padded_sql(c, spark=spark)
    hash_cnt = f"(length({c}) - length(replace({c}, '#', '')))"
    ell_cnt = f"CAST((length({c}) - length(replace({c}, '...', ''))) / 3 AS BIGINT)"
    mwl = (
        f"(CASE WHEN {n_words} > 0 THEN "
        f"round(CAST({nonws} AS DOUBLE) / {n_words}, 6) ELSE 0.0 END)"
    )
    frac_alpha = (
        f"(CASE WHEN {n_words} > 0 THEN "
        f"round(CAST({alpha} AS DOUBLE) / {n_words}, 6) ELSE 0.0 END)"
    )
    symbol_ratio = (
        f"(CASE WHEN {n_words} > 0 THEN "
        f"round(CAST({hash_cnt} + {ell_cnt} AS DOUBLE) / {n_words}, 6) "
        f"ELSE 0.0 END)"
    )
    sw_hits = "(" + " + ".join(
        f"CASE WHEN {p} LIKE '% {s} %' THEN 1 ELSE 0 END" for s in STOPWORDS
    ) + ")"
    keep = (
        f"(CASE WHEN {n_words} BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} "
        f"AND {mwl} BETWEEN {GOPHER_MWL_LO} AND {GOPHER_MWL_HI} "
        f"AND {frac_alpha} >= {GOPHER_MIN_ALPHA_FRAC} "
        f"AND {symbol_ratio} < {GOPHER_MAX_SYMBOL_RATIO} "
        f"AND {sw_hits} >= {GOPHER_MIN_STOPWORD_HITS} "
        f"THEN 1 ELSE 0 END)"
    )
    return {
        "n_words": f"CAST({n_words} AS BIGINT)",
        "mean_word_len": mwl,
        "frac_alpha_words": frac_alpha,
        "symbol_ratio": symbol_ratio,
        "stopword_hits": f"CAST({sw_hits} AS INT)",
        "keep": keep,
    }


# ---------------------------------------------------------------------------
# Line-level cleaning (library surface; the synthetic documents table
# is single-line, so a catalog oracle over it would be vacuous — these
# are pinned against a pure-Python reference on constructed multi-line
# corpora in tests/test_gopher.py instead).

#: substrings whose presence drops a line in C4-style cleaning
C4_BAD_SUBSTRINGS = ["lorem ipsum", "javascript", "{"]


def c4_clean_lines(col: Column, min_words: int = 5) -> Column:
    """C4-style line filter (Raffel et al. 2020 §2.2): keep lines that
    end in terminal punctuation, have >= min_words words, and contain
    none of C4_BAD_SUBSTRINGS (case-insensitive). Returns a struct
    (clean_text, n_lines_kept, n_lines_dropped). Pure array HOFs — one
    codegen span, zero shuffle, trivially map-only at 100 TB."""

    def ok(line: Column) -> Column:
        t = F.trim(line)
        w = F.size(F.regexp_extract_all(t, F.lit(r"\S+"), 0))
        low = F.lower(t)
        cond = t.rlike("[.!?\"']$") & (w >= min_words)
        for bad in C4_BAD_SUBSTRINGS:
            cond = cond & ~low.contains(bad)
        return cond

    lines = F.split(col, "\n")
    kept = F.filter(lines, ok)
    return F.struct(
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(kept).alias("n_lines_kept"),
        (F.size(lines) - F.size(kept)).alias("n_lines_dropped"),
    )


def line_shape_metrics(col: Column) -> Column:
    """The two line-level Gopher rules: fraction of lines starting with
    a bullet and fraction ending with an ellipsis. Returns a struct
    (frac_bullet_lines, frac_ellipsis_lines), each rounded to 6 dp."""
    lines = F.split(col, "\n")
    n = F.size(lines)
    bullet = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike("^[-*•]"))
    )
    ell = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike("(\\.\\.\\.|…)$"))
    )
    return F.struct(
        F.when(n > 0, F.round(bullet / n, 6)).otherwise(0.0).alias("frac_bullet_lines"),
        F.when(n > 0, F.round(ell / n, 6)).otherwise(0.0).alias("frac_ellipsis_lines"),
    )


#: the Kneser-Ney discount, an SQL literal spliced identically into
#: the Spark plan and the DuckDB oracle (a derived 1-d constant would
#: diverge in IEEE)
KN_DISCOUNT = "CAST(0.75 AS DOUBLE)"

#: interpolated-KN smoothed probability over the bigram-type columns
#: (c, cv, n1v, n1w, n1tot) — ONE string valid in both SQL dialects
#: (all operands cast to DOUBLE, left-assoc division as spelled), so
#: the Spark plan and the DuckDB oracle share the exact IEEE DAG.
#: {d} is the discount (KN_DISCOUNT) spliced as an SQL snippet.
KN_P_SQL = (
    "(greatest(CAST(c AS DOUBLE) - {d}, 0.0e0) / CAST(cv AS DOUBLE))"
    " + (({d} * CAST(n1v AS DOUBLE) / CAST(cv AS DOUBLE))"
    " * (CAST(n1w AS DOUBLE) / CAST(n1tot AS DOUBLE)))"
)


def kn_bigram_logprob(
    docs, text_col: str = "text", id_col: str = "doc_id",
    broadcast_vocab: bool = True,
):
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995;
    Chen & Goodman 1998 formulation) — the top rung of the repo's
    n-gram quality ladder:

        P(w2|w1) = max(c(w1,w2) - d, 0)/c(w1·)
                   + (d · N1+(w1·)/c(w1·)) · N1+(·w2)/N1+(··)

    The continuation probability N1+(·w2)/N1+(··) is what separates KN
    from naive backoff: a word seen often but only in one context
    ("Francisco") gets a LOW continuation weight. Self-trained on the
    corpus being scored, so every bigram has c >= 1 and the discount
    mass is always redistributable.

    Determinism: every term is a ratio of integer counts; the discount
    is the string LITERAL KN_DISCOUNT, spliced identically into both
    engines; the formula is
    spelled with the same association on both sides; -ln transits
    DECIMAL(38,6) before the per-doc mean.

    Plan: one bigram explode feeds the (w1, w2, bigram) count table —
    persisted; context totals, distinct-successor counts,
    distinct-predecessor counts and the 1-row N1+(··) all derive from
    it with NO second corpus scan — then scoring joins all four
    broadcast tables map-side; only the per-doc agg shuffles."""
    from pyspark import StorageLevel

    from fegis_spark.operators.dedup import tokens

    toks = docs.select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("tok")
    ).where(F.size("tok") >= 2)
    bg = toks.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tok") - 1),
                lambda i: F.struct(
                    F.element_at("tok", i).alias("w1"),
                    F.element_at("tok", i + 1).alias("w2"),
                    F.concat_ws(
                        " ", F.element_at("tok", i), F.element_at("tok", i + 1)
                    ).alias("b"),
                ),
            )
        ).alias("p"),
    ).select("doc", "p.w1", "p.w2", "p.b")
    vocab = (
        bg.groupBy("w1", "w2", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ctx = vocab.groupBy("w1").agg(
        F.sum("c").alias("cv"), F.count("*").alias("n1v")
    )
    pred = vocab.groupBy("w2").agg(F.count("*").alias("n1w"))
    tot = vocab.agg(F.count("*").alias("n1tot"))
    if broadcast_vocab:
        ctx, pred, tot = F.broadcast(ctx), F.broadcast(pred), F.broadcast(tot)  # bcast-ok: vocab-derived stats, caller-gated via broadcast_vocab
    # the smoothed probability is a function of the BIGRAM TYPE alone
    # (b encodes w1 and w2), so the whole KN formula collapses onto
    # the vocab table: portable_ln (sqlfrag.py — bit-identical
    # cross-engine) runs once per distinct bigram, and the corpus side
    # needs ONE broadcast join on b instead of the former three
    from fegis_spark.queries.sqlfrag import portable_ln

    nlv = (
        vocab.join(ctx, "w1")
        .join(pred, "w2")
        .crossJoin(tot)  # bcast-ok: 1-row total agg
        .select("b", F.expr(KN_P_SQL.format(d=KN_DISCOUNT)).alias("p"))
        .select("b", (-F.expr(portable_ln("p", spark=True))).alias("nl"))
    )
    if broadcast_vocab:
        nlv = F.broadcast(nlv)  # bcast-ok: bigram vocab, caller-gated via broadcast_vocab
    scored = bg.join(nlv, "b")
    # OUTPUT IS THE DECIMAL-EXACT SUM, NOT THE MEAN: sum/count can land
    # exactly on a .5e-6 rounding midpoint (observed once in 755k rows
    # at sf0.1), where Spark's BigDecimal HALF_UP and DuckDB's round
    # break the tie differently. The decimal sum cast to double is the
    # same nearest double on both engines — no division, no tie.
    return scored.groupBy("doc").agg(
        F.sum(F.col("nl").cast("decimal(38,6)")).cast("double").alias(
            "sum_neg_logprob_kn"
        ),
        F.count("*").alias("n_bigrams"),
    )
