"""Streaming exact dedup ([EXT] §2.10 × K9-exact): incremental corpus
ingest that drops already-seen content as it arrives.

The batch engine dedups with one hash-agg shuffle (operators/dedup.py:
exact_dedup); the streaming twin keys the state store by the same
portable content hash and bounds state with the event-time watermark —
`dropDuplicatesWithinWatermark` evicts hashes older than the delay, so
state is O(arrival rate × delay), not O(corpus). A duplicate arriving
later than the delay is the documented miss; the nightly batch dedup
is the backstop, exactly like the reference's per-call upsert followed
by full reindex (storage.py:194-199).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fegis_spark.queries.sqlfrag import norm_text_sql


def dedup_stream(
    stream_df: DataFrame,
    text_col: str,
    ts_col: str,
    delay: str = "10 minutes",
) -> DataFrame:
    """First-seen rows only, keyed by normalized-content md5."""
    return (
        stream_df.withColumn("content_hash", F.expr(f"md5({norm_text_sql(text_col, spark=True)})"))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
