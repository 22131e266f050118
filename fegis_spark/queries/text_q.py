"""Scalar text/time function catalog queries (SURVEY.md §2.8) over
documents/events. The DuckDB oracles re-state the same logic in SQL —
structurally identical branch-for-branch so values match exactly."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fegis_spark.catalog import register
from fegis_spark.functions.textfns import (
    capitalize,
    content_preview,
    extract_summary,
    relative_time,
)
from fegis_spark.model import load_table
from fegis_spark.queries.sqlfrag import norm_text_sql

# Shared DuckDB CTE: cleaned text + sentence list + 2-sentence summary,
# mirroring functions/textfns.py branch-for-branch.
_PREVIEW_CTE = r"""
    WITH c AS (
      SELECT doc_id, text,
             trim(regexp_replace(text, '\s+', ' ', 'g')) AS cleaned
      FROM documents
    ), s AS (
      SELECT doc_id, text, cleaned,
             list_filter(list_transform(string_split_regex(cleaned, '[.!?]+'), x -> trim(x)),
                         x -> x <> '') AS sents
      FROM c
    ), j AS (
      SELECT doc_id, text, cleaned, sents,
             array_to_string(list_slice(sents, 1, 2), '. ') AS joined
      FROM s
    ), summ AS (
      SELECT doc_id, text, cleaned, sents,
             CASE
               WHEN cleaned IS NULL OR cleaned = '' THEN ''
               WHEN len(sents) = 0 THEN
                 CASE WHEN length(cleaned) <= 100 THEN cleaned
                      ELSE substr(cleaned, 1, 97) || '...' END
               WHEN substr(joined, length(joined), 1) IN ('.', '!', '?') THEN joined
               ELSE joined || '.'
             END AS summary
      FROM j
    )
"""


@register(
    "content_preview_docs",
    oracle=_PREVIEW_CTE
    + """
    SELECT doc_id,
           CASE
             WHEN text IS NULL OR text = '' THEN ''
             WHEN length(cleaned) <= 150 THEN cleaned
             WHEN length(summary) <= 150 THEN summary
             ELSE substr(summary, 1, 147) || '...'
           END AS content_preview
    FROM summ
    """,
    covers=("T1", "T2", "P2"),
    bench=True,
)
def content_preview_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: the summary view's content_preview over every document —
    one Spark-SQL expression, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", content_preview("text").alias("content_preview"))


@register(
    "extract_summary_docs",
    oracle=_PREVIEW_CTE
    + """
    SELECT doc_id,
           CASE
             WHEN text IS NULL OR text = '' THEN ''
             WHEN len(sents) = 0 THEN
               CASE WHEN length(text) <= 100 THEN text
                    ELSE substr(text, 1, 97) || '...' END
             WHEN substr(s1, length(s1), 1) IN ('.', '!', '?') THEN s1
             ELSE s1 || '.'
           END AS summary
    FROM (SELECT *, array_to_string(list_slice(sents, 1, 1), '. ') AS s1 FROM summ)
    """,
    covers=("T2",),
)
def extract_summary_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: 1-sentence extract_summary on the raw (un-collapsed) text,
    as the reference calls it standalone (formatters.py:172)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", extract_summary("text", 1).alias("summary"))


@register(
    "relative_time_events",
    oracle="""
    SELECT event_id,
           CASE
             WHEN days = 1 THEN '1 day ago'
             WHEN days > 1 AND days < 7 THEN days || ' day' || (CASE WHEN days > 1 THEN 's' ELSE '' END) || ' ago'
             WHEN days >= 7 AND days < 30 THEN (days // 7) || ' week' || (CASE WHEN days // 7 > 1 THEN 's' ELSE '' END) || ' ago'
             WHEN days >= 30 THEN (days // 30) || ' month' || (CASE WHEN days // 30 > 1 THEN 's' ELSE '' END) || ' ago'
             WHEN hours > 0 THEN hours || ' hour' || (CASE WHEN hours > 1 THEN 's' ELSE '' END) || ' ago'
             WHEN minutes > 0 THEN minutes || ' minute' || (CASE WHEN minutes > 1 THEN 's' ELSE '' END) || ' ago'
             ELSE 'just now'
           END AS relative_time
    FROM (
      SELECT event_id,
             secs // 86400 AS days,
             (secs % 86400) // 3600 AS hours,
             ((secs % 86400) % 3600) // 60 AS minutes
      FROM (
        SELECT event_id,
               CAST(floor(epoch(TIMESTAMP '2024-02-15 00:00:00')) AS BIGINT)
               - CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS secs
        FROM events
      )
    )
    """,
    covers=("T3", "T4", "T5"),
)
def relative_time_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: relative_time with an explicit reference instant
    (2024-02-15, after the events range) — deterministic, oracle-checkable;
    the reference's now()-based form is this with ref=current_timestamp."""
    ev = load_table(spark, sf_dir, "events")
    ref = "CAST('2024-02-15 00:00:00' AS TIMESTAMP_NTZ)"
    return ev.select("event_id", relative_time("ts", ref).alias("relative_time"))


@register(
    "capitalize_variants",
    oracle=f"""
    SELECT doc_id,
           upper(substr(source, 1, 1)) || lower(substr(source, 2)) AS cap,
           lower(source) AS lo,
           md5({norm_text_sql('text', spark=False)}) AS norm_hash
    FROM documents
    """,
    covers=("T10", "K9-prep"),
)
def capitalize_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 Python-capitalize semantics + the md5 normalized-text hash
    that exact dedup keys on (portable across engines)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        capitalize(F.col("source")).alias("cap"),
        F.lower("source").alias("lo"),
        F.expr(f"md5({norm_text_sql('text', spark=True)})").alias("norm_hash"),
    )


from fegis_spark.operators.text_analysis import strip_html_sql  # noqa: E402

_WRAP = ("<div class=\"doc\"><!-- hdr -->", "</div><script>track(1&amp;2);</script>")
#: each doc in a deterministic HTML shell, one spelling for both dialects
_WRAPPED = f"'{_WRAP[0]}' || text || '{_WRAP[1]}'"


@register(
    "strip_html_docs",
    oracle=f"""
    SELECT doc_id,
           substr({strip_html_sql(_WRAPPED, spark=False)}, 1, 60) AS head,
           length({strip_html_sql(_WRAPPED, spark=False)}) AS n_clean
    FROM documents
    """,
    covers=("[EXT]-htmlstrip",),
)
def strip_html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] HTML/boilerplate stripping — the first pass over crawled
    corpora: drop script/style bodies, comments, tags; unescape
    entities; collapse whitespace. documents.text carries no markup,
    so the query wraps each doc in a deterministic HTML shell and
    strips it back out — exercising every rule on real text. Pure
    regex projection: zero shuffle, whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")
    clean = F.expr(strip_html_sql(_WRAPPED, spark=True))
    return docs.select(
        "doc_id",
        F.substring(clean, 1, 60).alias("head"),
        F.length(clean).cast("bigint").alias("n_clean"),
    )
