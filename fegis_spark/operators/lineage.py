"""Session lineage operators (SURVEY.md §2.4/§2.5/§2.6).

The reference maintains a per-session singly-linked provenance chain:
``preceding_memory_id`` + monotone ``sequence_order`` (written at
reference fegis/storage.py:96-143). Two derived computations here
(sequence numbering is streaming/sessionize.assign_sequence_stream):

* A1 argmax  — latest memory per session (reference runs this Qdrant
  ordered-scroll on EVERY ingest, fegis/storage.py:113-143).
* J1 lineage — resolve ``preceding_memory_id`` via a self equi-join
  (fegis/search/formatters.py:44-58 ``graph`` view).

Scale notes: both are single-shuffle on the key. The window form
(latest_per_key_window) hash-shuffles on the ``partitionBy`` key,
then sorts within partitions — no global sort. ``max_by`` aggregates partial (map-side
combine) before the shuffle, so the argmax is the cheapest form at
100 TB: shuffle volume = one row per (partition, session).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame, key: str, order: str, payload: list[str] | None = None
) -> DataFrame:
    """A1: for each `key`, the row attributes at max `order` (argmax).

    Aggregation form: `max_by` gives partial aggregation (map-side
    combine) — strictly less shuffle than the row_number window at
    scale. Mirrors reference fegis/storage.py:118-130 (ordered scroll,
    limit 1, descending sequence_order).
    """
    payload = payload or [c for c in df.columns if c not in (key, order)]
    aggs = [F.max_by(c, order).alias(c) for c in payload]
    aggs.append(F.max(order).alias(order))
    return df.groupBy(key).agg(*aggs)


def latest_per_key_window(
    df: DataFrame, key: str, order: str, tiebreak: str | None = None
) -> DataFrame:
    """A1 alternative: row_number window form (keeps all input columns).

    Tie semantics: pass a unique `tiebreak` column (ascending) to make
    the kept row deterministic under duplicate `order` values; without
    it, `order` MUST be unique per key — otherwise which row survives
    depends on partition order. ``max_by`` picks per-column instead;
    prefer this form when full-row integrity matters.
    """
    ordering = [F.desc(order)]
    if tiebreak is not None:
        ordering.append(F.col(tiebreak))
    # grpwin-ok: caller key (user/session id) — cardinality scales with input
    w = Window.partitionBy(key).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def resolve_predecessors(
    df: DataFrame, id_col: str, pred_col: str, attrs: list[str], prefix: str = "pred_"
) -> DataFrame:
    """J1: general-path lineage resolution — self equi-join
    ``child.pred_col = parent.id_col`` surfacing predecessor attributes.

    Left join keeps chain heads (pred is NULL). At scale this is a
    sort-merge join on the id; when the predecessor set is a small
    filtered slice, Catalyst/AQE will broadcast it.
    """
    parent = df.select(
        F.col(id_col).alias("__pid"), *[F.col(a).alias(f"{prefix}{a}") for a in attrs]
    )
    return df.join(parent, on=F.col(pred_col) == F.col("__pid"), how="left").drop("__pid")
