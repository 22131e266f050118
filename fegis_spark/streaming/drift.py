"""Per-key CUSUM drift detection as a custom stateful streaming
operator (§2.10 stateful surface).

CUSUM (Page 1954): track pos = max(0, pos + (x - target - slack)) and
neg = min(0, neg + (x - target + slack)); a drift alarm fires when
pos > h or neg < -h. The classic change-point monitor for a metric
stream — here, per-user event values drifting from an expected level.
State is O(1) per key (three numbers), no window buffering — exactly
the shape arbitrary-state APIs exist for.

``cusum_drift_stream`` runs the fold through `applyInPandasWithState`,
driven end-to-end in tests/test_drift_stream.py. Spark 4's
`transformWithStateInPandas` is not used: its driver worker requires
`google.protobuf`.

Rows are folded in event-time order WITHIN each micro-batch (sorted
on ts before the fold) so results are deterministic for a given batch
sequence; cross-batch order is the stream's arrival order, which is
the semantics of any online detector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

OUTPUT_SCHEMA = (
    "user_id string, n_events long, cusum_pos double, cusum_neg double, "
    "drifted boolean"
)
STATE_SCHEMA = "pos double, neg double, n long"


def cusum_drift_stream(
    events: DataFrame,
    target: float,
    slack: float,
    h: float,
) -> DataFrame:
    """events(user_id, ts, value) stream → one row per (key, batch)
    with the updated CUSUM statistics and the drift flag."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        pos, neg, n = state.get if state.exists else (0.0, 0.0, 0)
        batch = pd.concat(list(pdfs))
        if len(batch):
            for x in batch.sort_values("ts")["value"]:
                pos = max(0.0, pos + (float(x) - target - slack))
                neg = min(0.0, neg + (float(x) - target + slack))
                n += 1
        state.update((pos, neg, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "cusum_pos": [pos],
                "cusum_neg": [neg],
                "drifted": [pos > h or neg < -h],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, OUTPUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )


def cusum_reference(values, target: float, slack: float, h: float):
    """Sequential reference fold (same arithmetic) for tests."""
    pos = neg = 0.0
    for x in values:
        pos = max(0.0, pos + (float(x) - target - slack))
        neg = min(0.0, neg + (float(x) - target + slack))
    return pos, neg, pos > h or neg < -h
