"""CUSUM drift detection as a custom stateful streaming operator
(streaming/drift.py): end-to-end through readStream + AvailableNow,
final per-key state pinned against the sequential CUSUM fold."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import SparkSession

from fegis_spark.streaming.drift import cusum_drift_stream, cusum_reference

TARGET, SLACK, H = 10.0, 0.5, 25.0


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .appName("test_drift_stream")
        .getOrCreate()
    )
    yield s


# u1 drifts high (values ~18 >> target 10), u2 stays on target
BATCHES = [
    [("u1", 1, 17.0), ("u1", 2, 19.0), ("u2", 1, 10.2), ("u2", 2, 9.9)],
    [("u1", 3, 18.5), ("u2", 3, 10.0), ("u1", 4, 18.0)],
    [("u2", 4, 9.8), ("u1", 5, 17.5)],
]
SCHEMA = "user_id string, ts long, value double"


def test_cusum_stream_matches_sequential_fold(spark, tmp_path):
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(staging)
    for i, rows in enumerate(BATCHES):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{staging}/b{i}")
        time.sleep(1.1)
    sdf = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{staging}/b*")
    )
    out = cusum_drift_stream(sdf, TARGET, SLACK, H)
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_out")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not drain in 300s"
    rows = spark.sql("SELECT * FROM cusum_out").collect()
    # last emission per user = final cumulative state
    final = {}
    for r in rows:
        if r.user_id not in final or r.n_events > final[r.user_id].n_events:
            final[r.user_id] = r
    for user in ("u1", "u2"):
        vals = [
            v
            for batch in BATCHES
            for (u, ts, v) in sorted(batch, key=lambda t: t[1])
            if u == user
        ]
        pos, neg, drifted = cusum_reference(vals, TARGET, SLACK, H)
        r = final[user]
        assert r.n_events == len(vals), r
        assert r.cusum_pos == pytest.approx(pos), (user, r)
        assert r.cusum_neg == pytest.approx(neg), (user, r)
        assert r.drifted == drifted, (user, r)
    # the construction actually exercises both outcomes
    assert final["u1"].drifted and not final["u2"].drifted
