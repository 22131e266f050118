from __future__ import annotations

import datetime as dt
import sys

import pytest

sys.path.insert(0, "/root/repo")

from fegis_spark.session import configure_for_oracle, get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = configure_for_oracle(get_spark("fegis_spark_tests"))
    yield s


@pytest.fixture(scope="session")
def memories(spark):
    """Synthetic memories table in the reference's exact payload shape
    (FIXTURES.md group 2): 3 sessions, linked lineage, typed meta."""
    from fegis_spark.model import MEMORIES_SCHEMA

    rows = []
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    for s in range(3):
        sid = f"session-{s}"
        prev = None
        for i in range(1, 6):
            mid = f"{sid}-mem-{i}"
            rows.append(
                (
                    mid,
                    f"Title {s}.{i}" if i % 2 else None,
                    f"ctx {s}",
                    ("Short content. " if i % 2 else "A very long sentence about data pipelines that just keeps going and going. "
                     * 4 + "Second sentence here! Third?")
                    + f"#{s}.{i}",
                    ["UncertaintyNavigator", "BiasDetector", "IdeaWorkshop"][s],
                    sid,
                    i,
                    t0 + dt.timedelta(days=s, minutes=10 * i),
                    prev,
                    {"Priority": "high", "Title": "strip-me"},
                    {"plan": f"step {i}", "next_steps": "[\"a\",\"b\"]"},
                    (f"agent-{s % 2}", "1.0", "2.0.0", "default" if s else "simple_example", "0.01"),
                    [float((i * 7 + j * 3 + s) % 10) for j in range(8)],
                )
            )
            prev = mid
    return spark.createDataFrame(rows, MEMORIES_SCHEMA)


class Executed:
    """What one call ran on the cluster: the final physical plan of every
    SQL execution it started (from the SQL status store, so AQE's
    re-optimized plan, cached relations' plans included) and the number
    of Spark jobs (from the status tracker, through a job group)."""

    def __init__(self, value, plans: list[str], jobs: int):
        self.value, self.plans, self.jobs = value, plans, jobs


@pytest.fixture(scope="session")
def executed(spark):
    """``executed(fn)`` calls ``fn()`` and returns an Executed record.
    Pins on it test what building and collecting actually executed,
    which an eager operator's returned plan (a literal) cannot show."""
    import uuid

    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).head().executionId() if n else -1

    def run(fn) -> Executed:
        first = last_id() + 1
        group = f"executed-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            value = fn()
        finally:
            sc._jsc.clearJobGroup()
        plans = []
        for i in range(first, last_id() + 1):
            e = store.execution(i)
            if e.isDefined():
                plans.append(e.get().physicalPlanDescription())
        return Executed(value, plans, len(sc.statusTracker().getJobIdsForGroup(group)))

    return run
