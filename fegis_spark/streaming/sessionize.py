"""Streaming operators (SURVEY.md §2.10 [EXT]).

The reference is an online request/response server whose streaming-like
behaviors are per-session sequence assignment and lineage chaining
(fegis/storage.py:96-143). Spark mapping:

* batch sessionization  — gaps-and-islands (lag + cumulative sum):
  deterministic, oracle-checkable, identical semantics to
  session_window for complete data.
* streaming sessionization — session_window + watermark (late data).
* streaming tumbling/sliding aggregates over events.

Both sessionization forms shuffle once on the session key; the
streaming form additionally keeps per-key state bounded by the
watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_batch(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gaps-and-islands sessionization: a session breaks when the gap
    from the previous event exceeds `gap_minutes`. session_id =
    cumulative count of breaks per user (1-based)."""
    # grpwin-ok: user key cardinality scales with input
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_s = gap_minutes * 60
    prev = F.lag(ts_col).over(w)
    is_break = (
        prev.isNull()
        | ((F.col(ts_col).cast("timestamp").cast("long") - prev.cast("timestamp").cast("long")) > gap_s)
    ).cast("int")
    return events.withColumn("__brk", is_break).withColumn(
        "session_seq",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).drop("__brk")


def session_stats_batch(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Per-session stats from batch sessionization: bounds, event count,
    duration seconds."""
    s = sessionize_batch(events, user_col, ts_col, gap_minutes)
    return s.groupBy(user_col, "session_seq").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
        (
            F.max(F.col(ts_col).cast("timestamp")).cast("long")
            - F.min(F.col(ts_col).cast("timestamp")).cast("long")
        ).alias("duration_s"),
    )


def sessionize_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Structured-streaming sessionization: session_window(ts, gap) with
    a watermark bounding state for late data."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), f"{gap_minutes} minutes"), F.col(user_col)
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(user_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def tumbling_counts_stream(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_size: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling (or sliding when `slide` given) windowed counts+sums."""
    win = (
        F.window(F.col(ts_col), window_size)
        if slide is None
        else F.window(F.col(ts_col), window_size, slide)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win, F.col(key_col))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("w_start"),
            F.col("window.end").alias("w_end"),
            key_col,
            "n",
            "total_value",
        )
    )


def assign_sequence_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    extra_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """The reference's per-session monotone sequence counter
    (storage.py:132-139) as a true stateful streaming operator:
    applyInPandasWithState keeps one integer of state per session and
    numbers arrivals across micro-batches. Within a batch, rows are
    ordered by (ts, extra_cols) for determinism.

    State size: O(sessions) x one int — bounded; pair with a timeout in
    production to expire dead sessions.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cols = [user_col, ts_col, *extra_cols]
    out_schema = ", ".join(
        f"{c} {t}" for c, t in events.dtypes if c in cols
    ) + ", sequence_order int"
    state_schema = "n int"

    def fn(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            pdf = pdf[cols].sort_values([ts_col, *extra_cols], kind="mergesort")
            seq = list(range(n + 1, n + 1 + len(pdf)))
            n += len(pdf)
            yield pdf.assign(sequence_order=pd.array(seq, dtype="int32"))
        state.update((n,))

    return events.groupBy(user_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
