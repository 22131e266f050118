"""Projection views (SURVEY.md §2.7, P1-P6) — the reference's four
result shapes (fegis/search/formatters.py:28-75) as select-lists over
the canonical memories DataFrame.

Computed fields: ``content_preview`` (T1) and ``relative_time`` (T3,
explicit reference instant). Dotted paths (``meta.agent_id``) become
nested column refs aliased to the dotted name, exactly as the
reference's dict keys (P6)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fegis_spark.functions.textfns import content_preview, relative_time

#: reference formatters.py:28-75
RESULT_VIEWS: dict[str, list[str]] = {
    "compact": ["memory_id", "title", "tool", "context", "session_id", "score"],
    "summary": [
        "memory_id",
        "title",
        "context",
        "tool",
        "score",
        "content_preview",
        "relative_time",
        "session_id",
    ],
    "graph": [
        "memory_id",
        "title",
        "preceding_memory_id",
        "session_id",
        "sequence_order",
        "tool",
        "relative_time",
        "timestamp",
        "score",
        "meta.agent_id",
        "meta.archetype_title",
    ],
    "full": [
        "memory_id",
        "score",
        "title",
        "content",
        "context",
        "tool",
        "session_id",
        "sequence_order",
        "timestamp",
        "preceding_memory_id",
        "parameters",
        "frames",
        "meta",
    ],
}


#: column that carries a caller-supplied ``ref_ts`` Column into the
#: view's SQL-string ``relative_time``; dropped by the view projection
_REF_TS_COL = "__view_ref_ts"


def _field_expr(field: str, ref: str) -> Column:
    if field == "content_preview":
        return content_preview("content").alias("content_preview")
    if field == "relative_time":
        return relative_time("`timestamp`", ref).alias("relative_time")
    if "." in field:
        # nested dot-path access, aliased to the dotted name (P6);
        # Column refs are null-safe on missing struct values
        return F.col(field).alias(field)
    return F.col(field)


def apply_view(df: DataFrame, view: str, ref_ts: Column | None = None) -> DataFrame:
    """P5 view dispatcher: project `df` through a named view.

    `ref_ts`: explicit reference instant for relative_time (pass
    F.lit(datetime(...)) for deterministic output; defaults to
    current_timestamp() which matches the reference's now()-based
    behavior but is non-reproducible). A Column ``ref_ts`` rides in as
    one extra column that the view projection drops; the default path
    builds the computed fields from SQL strings alone."""
    fields = RESULT_VIEWS.get(view)
    if fields is None:
        raise ValueError(f"Unknown view: {view}. Available: {list(RESULT_VIEWS)}")
    ref = "current_timestamp()"
    if ref_ts is not None and "relative_time" in fields:
        df = df.withColumn(_REF_TS_COL, ref_ts)
        ref = f"`{_REF_TS_COL}`"
    return df.select(*[_field_expr(f, ref) for f in fields])
