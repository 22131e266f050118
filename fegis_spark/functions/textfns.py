"""Scalar text/time functions (SURVEY.md §2.8, T1-T10) as native Spark
expressions — JVM-side, no Python UDFs.

Faithful ports of reference fegis/search/formatters.py:141-218 with one
deliberate change: ``relative_time`` takes an explicit reference
timestamp instead of wall-clock now() (SURVEY.md §7.4 determinism).

``extract_summary``, ``content_preview`` and ``relative_time`` take
column-expression strings and build ONE parsed Spark-SQL expression
each, linear in its definition. Intermediates shared under a HOF or in
a conditional branch (cleaned text, sentence array, summary), where
common-subexpression elimination cannot merge them, are bound once per
row with ``transform(array(v), _x -> …)[0]``; lambda variables start
with ``_`` so they cannot shadow a caller's column. ``relative_time``'s
intermediates are cheap arithmetic, so it stays HOF-free.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: reference formatters.py:27
CONTENT_PREVIEW_LENGTH = 150


def _summary_sql(c: str, max_sentences: int) -> str:
    """Spark SQL for the first-N-sentence summary of expression `c`.

    Sentences split on [.!?]+ runs, trimmed, empties dropped (reference
    formatters.py:177-179). The reference re-appends "." only when the
    joined text does not already end in [.!?]; a piece of that split
    never contains one and is non-empty after the filter, so the joined
    text never does and the "." is always appended."""
    sents = f"filter(transform(split({c}, '[.!?]+'), _w -> trim(_w)), _w -> _w <> '')"
    return (
        f"transform(array({sents}), _sents -> CASE"
        f" WHEN {c} IS NULL OR {c} = '' THEN ''"
        f" WHEN size(_sents) = 0 THEN CASE WHEN length({c}) <= 100 THEN {c}"
        f" ELSE concat(substring({c}, 1, 97), '...') END"
        f" ELSE concat(array_join(slice(_sents, 1, {max_sentences}), '. '), '.')"
        f" END)[0]"
    )


def extract_summary(c: str, max_sentences: int = 1) -> Column:
    """T2: first-N-sentence summary (reference formatters.py:172-195)
    of column expression `c`.

    Join with ". ", append terminal "."; when no sentences survive the
    split, fall back to the raw content (<=100 chars) or a
    97-char+"..." truncation."""
    return F.expr(_summary_sql(c, max_sentences))


def content_preview(c: str, max_length: int = CONTENT_PREVIEW_LENGTH) -> Column:
    """T1: display preview (reference format_content_preview,
    formatters.py:198-218) of column expression `c`: collapse
    whitespace → short content passes through → else 2-sentence
    summary → else truncate to max-3 + "..."."""
    # whitespace collapse = Python " ".join(s.split())
    return F.expr(
        rf"transform(array(trim(regexp_replace({c}, '\\s+', ' '))), _clean -> CASE"
        f" WHEN {c} IS NULL OR {c} = '' THEN ''"
        f" WHEN length(_clean) <= {max_length} THEN _clean"
        f" ELSE transform(array({_summary_sql('_clean', 2)}), _summ -> CASE"
        f" WHEN length(_summ) <= {max_length} THEN _summ"
        f" ELSE concat(substring(_summ, 1, {max_length - 3}), '...') END)[0]"
        f" END)[0]"
    )


def relative_time(ts: str, ref: str) -> Column:
    """T3: human-readable relative time (reference format_relative_time,
    formatters.py:141-169) of timestamp expression `ts`, parameterized
    on an explicit reference-instant expression `ref` so results are
    deterministic/testable.

    Mirrors Python timedelta semantics: days = floor(diff/86400),
    remaining seconds decompose into hours/minutes.
    """
    # cast(timestamp as long) floors to epoch seconds; the DuckDB mirror
    # is CAST(floor(epoch(ts)) AS BIGINT). TIMESTAMP_NTZ has no direct
    # long cast — hop through TIMESTAMP (identity under the UTC session).
    secs = (
        f"(CAST(CAST({ref} AS TIMESTAMP) AS BIGINT)"
        f" - CAST(CAST({ts} AS TIMESTAMP) AS BIGINT))"
    )
    days = f"floor({secs} / 86400)"
    # pmod, not %: Spark % keeps the dividend sign, so a future ts
    # (secs < 0) would yield a negative remainder and fall through to
    # "just now" — Python timedelta normalizes to days=-1, rem>=0
    # (e.g. ts 10s in the future => "23 hours ago"), and the reference
    # inherits that
    rem = f"pmod({secs}, 86400)"
    hours = f"floor({rem} / 3600)"
    minutes = f"floor(pmod({rem}, 3600) / 60)"

    def plural(n: str, unit: str) -> str:
        return (
            f"concat(CAST({n} AS STRING), ' {unit}',"
            f" CASE WHEN {n} > 1 THEN 's' ELSE '' END, ' ago')"
        )

    return F.expr(
        f"CASE WHEN {days} = 1 THEN '1 day ago'"
        f" WHEN {days} > 1 AND {days} < 7 THEN {plural(days, 'day')}"
        f" WHEN {days} >= 7 AND {days} < 30 THEN {plural(f'floor({days} / 7)', 'week')}"
        f" WHEN {days} >= 30 THEN {plural(f'floor({days} / 30)', 'month')}"
        f" WHEN {hours} > 0 THEN {plural(hours, 'hour')}"
        f" WHEN {minutes} > 0 THEN {plural(minutes, 'minute')}"
        f" ELSE 'just now' END"
    )


def capitalize(col: Column) -> Column:
    """T10: Python str.capitalize — first char upper, REST LOWER
    (not initcap; SURVEY.md §7.4)."""
    return F.concat(F.upper(F.substring(col, 1, 1)), F.lower(F.substring(col, 2, 2**31 - 1)))


def default_title(title: Column, tool: Column) -> Column:
    """T8: reference storage.py:154-156 default-title fill."""
    return F.coalesce(title, F.concat(tool, F.lit(" Invocation")))


def exclude_standard_keys(map_col: Column) -> Column:
    """T9: drop Title/Content/Context keys from a parameters/frames map
    (reference storage.py:162-169) via higher-order map_filter."""
    return F.map_filter(
        map_col, lambda k, v: ~k.isin("Title", "Content", "Context")
    )
