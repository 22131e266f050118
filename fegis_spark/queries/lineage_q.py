"""Lineage / session-chain catalog queries (SURVEY.md §2.4-2.6: A1 A2 W1 W2 J1).

The `events` table stands in for the reference's memory stream:
user_id ≅ session_id, ts ≅ arrival order, event_id ≅ memory_id
(reference chain written at fegis/storage.py:96-143).
"""

from __future__ import annotations

from fegis_spark.catalog import register_sql
from fegis_spark.queries.sqlfrag import ts_sql


# A1 argmax: the reference's every-ingest query (storage.py:113-143)
# — latest memory per session — as one window pass over the batch.
#
# Single shuffle on user_id; no global sort. event_id tiebreak makes
# the pick total-ordered (ts collisions exist in the data).
register_sql(
    "latest_event_per_user",
    lambda *, spark: f"""
    SELECT user_id, event_id, ts, event_type, value
    FROM (
      SELECT user_id, event_id, {ts_sql(spark=spark)} AS ts, event_type, value,
             -- grpwin-ok: user_id cardinality scales with input
             row_number() OVER (PARTITION BY user_id ORDER BY {ts_sql(spark=spark)} DESC, event_id DESC) AS rn
      FROM {{events}}
    ) WHERE rn = 1
    """,
    covers=("A1", "W1", "S6", "O1", "O3"),
    bench=True,
)


# A2: contiguous 1-based per-session sequence assignment — the batch
# form of the reference's per-call read-modify-write (storage.py:132-139).
# BIGINT on both engines (Spark's row_number is INT).
register_sql(
    "sequence_numbering",
    lambda *, spark: f"""
    SELECT event_id, user_id,
           -- grpwin-ok: user_id cardinality scales with input
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY {ts_sql(spark=spark)}, event_id) AS BIGINT) AS sequence_order
    FROM {{events}}
    """,
    covers=("A2",),
)


# W2: reproduce the reference's preceding_memory_id chain
# (storage.py:181) with lag() — NULL for chain heads.
register_sql(
    "lineage_lag",
    lambda *, spark: f"""
    SELECT event_id, user_id,
           -- grpwin-ok: user_id cardinality scales with input
           lag(event_id) OVER (PARTITION BY user_id ORDER BY {ts_sql(spark=spark)}, event_id) AS preceding_event_id
    FROM {{events}}
    """,
    covers=("W2",),
)


# J1: graph-view edge materialization (formatters.py:44-58) — self
# equi-join child.preceding = parent.id surfacing predecessor attrs.
# The left join keeps chain heads (pred is NULL).
#
# event_id is unique, so the join is 1:1; sort-merge on the id at
# scale, broadcast when the parent slice is small (AQE decides).
register_sql(
    "lineage_self_join",
    lambda *, spark: f"""
    WITH chain AS (
      SELECT event_id, user_id, event_type, value,
             -- grpwin-ok: user_id cardinality scales with input
             lag(event_id) OVER (PARTITION BY user_id ORDER BY {ts_sql(spark=spark)}, event_id) AS preceding_event_id
      FROM {{events}}
    )
    SELECT c.event_id, c.user_id, c.preceding_event_id,
           p.event_type AS pred_event_type, p.value AS pred_value
    FROM chain c LEFT JOIN chain p ON c.preceding_event_id = p.event_id
    """,
    covers=("J1", "W2"),
    bench=True,
)
