"""The portable SQL recipes, each spelled ONCE as a generator that
returns its Spark-SQL (spark=True) or DuckDB (spark=False) form, so a
Spark builder (``F.expr(x_sql(..., spark=True))``) and its DuckDB
oracle interpolate the same recipe and cannot drift:

* md5_int_sql — the first k md5 hex digits of an expression as a
  BIGINT (Spark has no hex-string cast, DuckDB has no conv); callers
  add their own salt and ``% n``;
* norm_text_sql — lowercased, trimmed, whitespace-collapsed text (the
  exact-dedup key and the padded text of the lexical scorers);
* tokens_sql — the Unicode tokenizer: lowercase -> space out CJK
  codepoints (unsegmented scripts tokenize per codepoint) -> split on
  runs of non-letter/non-digit -> drop empties. Java regex spells
  Unicode scripts \\p{IsHan}; RE2 (DuckDB) spells them \\p{Han};
* portable_ln — a natural log bit-identical on both engines;
* ts_sql — events.ts as an ordering/output column: Spark reads it as
  TIMESTAMP_NTZ already, DuckDB casts its TIMESTAMP_NS down;
* double_sql — a driver-side double re-entered as a literal, bit-exact.

The dialect generators spell one SQL construct whose name or syntax
differs between the engines while its value does not; a register_sql
text (catalog.py) interpolates them. Use a spelling both engines
accept first (max_by, CAST(.. AS STRING), percentile_cont(p) WITHIN
GROUP (ORDER BY x), CAST(floor(a / b) AS BIGINT), CAST(date - date AS
BIGINT) days, a filtering subquery for QUALIFY), and a generator only
where none exists:

* epoch_us_sql — microseconds since the epoch (unix_micros / epoch_us);
* json_str_sql — a JSON path as text (get_json_object /
  json_extract_string);
* ignore_nulls_sql — a window value function skipping NULLs (Spark puts
  IGNORE NULLS after the call, DuckDB inside it);
* series_sql — one row per element of an arithmetic series
  (explode(sequence) / unnest(generate_series));
* isodow_sql — the ISO day of the week, Monday = 1;
* rows_sql — several named-column rows out of one row, without a scan
  or a join (inline(array(named_struct)) / unnest([struct_pack], recursive)).

The text_analysis scorers (operators/text_analysis.py) are generators
of the same shape. ``spark`` is keyword-only with no default, so no
caller gets a dialect by accident; lambda variables start with ``_``
so they cannot shadow a caller's column.
"""

from __future__ import annotations

import math

_CJK_JAVA = r"[\p{IsHan}\p{IsHiragana}\p{IsKatakana}\p{IsHangul}]"
_CJK_RE2 = r"[\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}]"


def ts_sql(*, spark: bool) -> str:
    """events.ts at microsecond precision. load_table already yields a
    TIMESTAMP_NTZ column on Spark, so it is used bare there: a per-row
    CAST to TIMESTAMP in a window sort key costs exec time and turns
    the output type into TIMESTAMP. DuckDB reads TIMESTAMP_NS and
    casts to TIMESTAMP (microseconds, the same truncation)."""
    return "ts" if spark else "CAST(ts AS TIMESTAMP)"


def epoch_us_sql(x: str, *, spark: bool) -> str:
    """Microseconds since 1970-01-01 of timestamp expression `x`, a
    BIGINT. Spark's unix_micros takes a TIMESTAMP (the session is UTC,
    so a TIMESTAMP_NTZ casts to the same instant); DuckDB's epoch_us."""
    return f"{'unix_micros' if spark else 'epoch_us'}(CAST({x} AS TIMESTAMP))"


def json_str_sql(doc: str, path: str, *, spark: bool) -> str:
    """The value at JSON `path` of text expression `doc` as a string
    (a number as its text, a missing key as NULL)."""
    fn = "get_json_object" if spark else "json_extract_string"
    return f"{fn}({doc}, '{path}')"


def ignore_nulls_sql(fn: str, x: str, *, spark: bool) -> str:
    """Window value function `fn` (first_value, last_value) over `x`
    skipping NULLs, to be followed by an OVER clause."""
    return f"{fn}({x}) IGNORE NULLS" if spark else f"{fn}({x} IGNORE NULLS)"


def series_sql(lo: str, hi: str, step: str, *, spark: bool) -> str:
    """A select-list generator: one row per element of lo, lo + step,
    ... up to hi inclusive (`step` positive), no row when hi < lo or
    either is NULL. It must stand alone in its select item (Spark nests
    no generator in an expression), so cast its column in an outer
    query. Over dates DuckDB yields TIMESTAMPs, Spark DATEs. Spark's
    sequence raises on hi < lo, so its spelling explodes NULL there."""
    if spark:
        return f"explode(CASE WHEN {hi} >= {lo} THEN sequence({lo}, {hi}, {step}) END)"
    return f"unnest(generate_series({lo}, {hi}, {step}))"


def isodow_sql(d: str, *, spark: bool) -> str:
    """ISO day of the week of date/timestamp `d`: Monday = 1 ... Sunday
    = 7 (Spark INT, DuckDB BIGINT)."""
    return f"extract(DAYOFWEEK_ISO FROM {d})" if spark else f"isodow({d})"


def rows_sql(rows: list[dict[str, str]], *, spark: bool) -> str:
    """A select-list generator turning each input row into len(rows)
    rows, one per dict of output column -> SQL expression (every dict
    has the same columns in the same order, with one type per column):
    an unpivot that reads its input once, with no join and no Expand."""
    if spark:
        structs = ", ".join(
            "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in r.items()) + ")"
            for r in rows
        )
        return f"inline(array({structs}))"
    structs = ", ".join(
        "struct_pack(" + ", ".join(f"{k} := {v}" for k, v in r.items()) + ")"
        for r in rows
    )
    return f"unnest([{structs}], recursive := true)"


def md5_int_sql(x: str, k: int, *, spark: bool) -> str:
    """The first `k` hex digits of md5(`x`) as a BIGINT (k <= 15 keeps
    it non-negative). Same value on both engines; Spark converts the
    hex digits with conv, DuckDB casts a '0x' literal."""
    if spark:
        return f"CAST(conv(substring(md5({x}), 1, {k}), 16, 10) AS BIGINT)"
    return f"CAST(('0x' || substr(md5({x}), 1, {k})) AS BIGINT)"


def norm_text_sql(c: str, *, spark: bool) -> str:
    """`c` lowercased and trimmed, every whitespace run collapsed to one
    space. Spark's regexp_replace is global and its SQL literals take
    backslash escapes; DuckDB needs the 'g' flag and reads the literal
    raw."""
    if spark:
        return f"lower(trim(regexp_replace({c}, '\\\\s+', ' ')))"
    return f"lower(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"


def tokens_sql(c: str, *, spark: bool) -> str:
    """The token array of text expression `c`: runs of letters/digits
    (\\p{L}\\p{N}, not just ASCII), lowercased, with CJK codepoints
    first split out as single-character tokens so unsegmented scripts
    are not invisible to the minhash/simhash/jaccard/contamination
    family. Empty strings are dropped."""
    if spark:
        cjk = _CJK_JAVA.replace("\\", "\\\\")
        spaced = f"regexp_replace(lower({c}), '({cjk})', ' $1 ')"
        return f"filter(split({spaced}, '[^\\\\p{{L}}\\\\p{{N}}]+'), _t -> _t != '')"
    spaced = f"regexp_replace(lower({c}), '({_CJK_RE2})', ' \\1 ', 'g')"
    return f"list_filter(string_split_regex({spaced}, '[^\\p{{L}}\\p{{N}}]+'), _t -> _t <> '')"


#: Constructed hot-bucket corpus for the *_capped dedup queries:
#: every doc with doc_id % HOT_MOD == 0 gets this boilerplate text, so
#: one template cluster (>= 100 members at sf0.01, 1000 at sf0.1)
#: drives every LSH band bucket / winnow fingerprint it touches far
#: over HOT_CAP — the representative routing fires FOR REAL under the
#: oracle, not just in unit tests. Lowercase single-space words only,
#: so both tokenizers agree trivially; 12 tokens → real shingle and
#: fingerprint sets.
HOT_BOILER = (
    "lorem ipsum boilerplate navigation footer copyright "
    "terms privacy contact subscribe newsletter home"
)
HOT_MOD = 5
HOT_CAP = 32


def duck_hot_docs() -> str:
    """DuckDB CTE body: documents with the deterministic boilerplate
    injection (twin of spark_hot_docs)."""
    return (
        f"SELECT doc_id, CASE WHEN doc_id % {HOT_MOD} = 0 "
        f"THEN '{HOT_BOILER}' ELSE text END AS text FROM documents"
    )


def spark_hot_docs(docs):
    """Spark twin of duck_hot_docs over a loaded documents table."""
    from pyspark.sql import functions as F

    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % HOT_MOD == 0, F.lit(HOT_BOILER)).otherwise(
            F.col("text")
        ),
    )


#: Constructed hot-bucket EMBEDDING corpus for the capped SRP query
#: (twin of the HOT_BOILER text injection): every vec_id % HOT_MOD == 0
#: row gets the same constant vector, so one exact cluster (100 rows at
#: sf0.001/0.01, 400 at sf0.1) shares ALL SRP band buckets and drives
#: them far over HOT_CAP — the representative routing fires for real
#: under the oracle at every sf.
HOT_VEC_VALUE = 0.5


def duck_hot_embeddings() -> str:
    """DuckDB CTE body: embeddings with the deterministic constant-
    vector injection (twin of spark_hot_embeddings)."""
    return (
        f"SELECT vec_id, CASE WHEN vec_id % {HOT_MOD} = 0 "
        f"THEN list_transform(range(64), d -> CAST({HOT_VEC_VALUE} AS FLOAT)) "
        f"ELSE embedding END AS embedding FROM embeddings"
    )


def spark_hot_embeddings(emb):
    """Spark twin of duck_hot_embeddings over a loaded embeddings table."""
    from pyspark.sql import functions as F

    return emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % HOT_MOD == 0,
            F.expr(f"transform(sequence(0, 63), d -> CAST({HOT_VEC_VALUE} AS FLOAT))"),
        ).otherwise(F.col("embedding")),
    )


def duck_match_text(col: str, query: str) -> str:
    """DuckDB predicate mirroring plans.filters.match_text(): every
    analyzer token of `query` must appear among the analyzer tokens of
    `col`. Query-side tokenization happens here in Python (same
    analyzer), field-side in SQL."""
    from fegis_spark.plans.filters import analyzer_tokens

    qtoks = list(dict.fromkeys(analyzer_tokens(query)))
    if not qtoks:
        return "TRUE"
    toks = tokens_sql(col, spark=False)
    return " AND ".join(f"list_contains({toks}, '{t}')" for t in qtoks)


def double_sql(x: float | None) -> str:
    """A DOUBLE literal with the exact bits of ``x``, NaN, +-inf and
    -0.0 included, in both engines: Python's shortest repr read back by
    a correctly rounded string-to-double cast. ``repr`` alone is not
    SQL for the special values (``nan``, ``inf``), and a bare ``-0.0``
    parses as a decimal zero."""
    if x is None:
        return "CAST(NULL AS DOUBLE)"
    if math.isnan(x):
        s = "NaN"
    elif math.isinf(x):
        s = "Infinity" if x > 0 else "-Infinity"
    else:
        s = repr(float(x))
    return f"CAST('{s}' AS DOUBLE)"


def _ln_coeffs(terms: int = 19) -> list[float]:
    """atanh-series coefficients 1/(2k+1) as the doubles both engines
    parse from their shortest repr — literal on both sides so the
    Horner chain is the same IEEE DAG everywhere."""
    return [1.0 / (2 * k + 1) for k in range(terms)]


def _bind(val: str, var: str, body: str, spark: bool) -> str:
    """Let-binding via a 1-element higher-order transform — the only
    way SQL can name a subexpression inside one scalar expression.
    Both engines evaluate `val` once and substitute the VALUE, so the
    IEEE DAG is identical; only the spelling differs (Spark transform/
    element_at vs DuckDB list_transform/[1])."""
    if spark:
        return f"element_at(transform(array({val}), {var} -> {body}), 1)"
    return f"list_transform([{val}], {var} -> {body})[1]"


def portable_ln(x: str, spark: bool = False) -> str:
    """A natural-log SQL expression that is BIT-IDENTICAL on Spark and
    DuckDB by construction — unlike the engines' ln(), which disagree
    by 1 ulp on ~2.5% of inputs (java.lang.Math.log vs glibc; measured
    in evidence/ln_ulp_probe_r8.json — the root cause of the r5/r7
    .5e-6 midpoint flakes).

    Method: exact argument reduction + atanh series, using ONLY
    IEEE-correctly-rounded ops (+,-,*,/), which both engines must
    round identically:
      e  = floor(log2(x)) clamped with EXACT power-of-2 comparisons
           (power(2, e) is bit-exact in both engines for |e| <= 60,
           probed; the clamp absorbs the engines' log2 ulp noise —
           Spark's floor(log2(2^-29)) is famously -30)
      m  = x / 2^e            -- exact scaling, m in [1, 2)
      t  = (m-1)/(m+1)        -- |t| < 1/3
      ln m = 2t * P(t^2)      -- Horner, 19 literal coefficients
      ln x = e*LN2 + ln m     -- LN2 literal
    Max error vs true ln: a few ulp (~1e-16 relative) — identical on
    both engines, so decimal-transit quantization of the result can no
    longer split across engines. Domain: x > 0, x < 2^60.

    Every shared subterm is LET-BOUND via a 1-element transform
    (_bind) rather than textually substituted — a flat substitution
    duplicates the t/m/e stack under each of the 19 Horner references
    to u (~600 copies of x, a 23 KB expression whose parse/analysis
    alone cost seconds per query and whose codegen falls back to
    interpreted past 64 KB — measured on bm25/split_divergence). The
    bound form is ~1 KB, linear in the term count, at the price of a
    dialect flag: pass spark=True for Spark SQL (transform/element_at),
    default DuckDB (list_transform/[1]). The DAG — and therefore every
    bit of the result — is identical in both spellings (pinned in
    tests/test_property_portable.py)."""
    coeffs = _ln_coeffs()
    xd = f"CAST({x} AS DOUBLE)"

    def body(xv: str) -> str:
        e0 = f"CAST(floor(log2({xv})) AS DOUBLE)"

        def with_e0(e0v: str) -> str:
            e1 = (
                f"(CASE WHEN {xv} >= power(2.0e0, {e0v} + 1.0e0) THEN {e0v} + 1.0e0 "
                f"WHEN {xv} < power(2.0e0, {e0v}) THEN {e0v} - 1.0e0 "
                f"ELSE {e0v} END)"
            )

            def with_e1(e1v: str) -> str:
                m = f"({xv} / power(2.0e0, {e1v}))"

                def with_t(tv: str) -> str:
                    u = f"({tv} * {tv})"

                    def with_u(uv: str) -> str:
                        poly = f"{coeffs[-1]!r}e0"
                        for c in reversed(coeffs[:-1]):
                            poly = f"({c!r}e0 + {uv} * {poly})"
                        return f"(2.0e0 * ({tv} * {poly}))"

                    return _bind(u, "pl_u", with_u("pl_u"), spark)

                t = f"(({m} - 1.0e0) / ({m} + 1.0e0))"
                return (
                    f"(({e1v} * 6.931471805599453e-1)"
                    f" + {_bind(t, 'pl_t', with_t('pl_t'), spark)})"
                )

            return _bind(e1, "pl_e1", with_e1("pl_e1"), spark)

        return _bind(e0, "pl_e0", with_e0("pl_e0"), spark)

    return _bind(xd, "pl_x", body("pl_x"), spark)
