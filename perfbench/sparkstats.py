"""Readings taken from outside the program: Spark stage metrics per job
group, cached-block bytes, and resident memory of the process tree.

Stage metrics come from the driver's AppStatusStore (the recipe of
tools/spill_probe.py). The store keeps only the most recent
``spark.ui.retainedJobs`` / ``retainedStages`` (1000 by default), so
each operation's stages are read right after it finishes, found through
the job group the operation ran under.
"""

from __future__ import annotations

import os
import threading

from procs import children

#: StageData getter → summed field name; times are converted to seconds
_SUMS = (
    ("numTasks", "tasks"),
    ("numFailedTasks", "failed_tasks"),
    ("inputBytes", "input_bytes"),
    ("inputRecords", "input_rows"),
    ("shuffleReadBytes", "shuffle_read_bytes"),
    ("shuffleWriteBytes", "shuffle_write_bytes"),
    ("memoryBytesSpilled", "spill_bytes"),
    ("diskBytesSpilled", "spill_bytes"),
)
STAGE_FIELDS = (
    "stages", "tasks", "single_task_stages", "failed_tasks", "task_run_s",
    "task_cpu_s", "gc_s", "input_bytes", "input_rows", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes",
)


def drain_listener_bus(spark) -> None:
    """Block until every posted scheduler event reached the status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_stage_metrics(spark, groups: list[str]) -> dict:
    """Sum the metrics of every stage run by jobs of ``groups``.

    Skipped stages (shuffle output reused from an earlier job) ran no
    tasks and are not counted. ``peak_exec_mem_bytes`` is the largest
    single stage's peak execution memory."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    jobs = 0
    for g in groups:
        for j in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(j)
            if info is not None:
                jobs += 1
                stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0)
    out["jobs"] = jobs
    for sid in sorted(stage_ids):
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — py4j NoSuchElementException: never submitted
            continue
        if s.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        for getter, field in _SUMS:
            out[field] += getattr(s, getter)()
        if s.numTasks() == 1:
            out["single_task_stages"] += 1
        out["task_run_s"] += s.executorRunTime() / 1e3
        out["task_cpu_s"] += s.executorCpuTime() / 1e9
        out["gc_s"] += s.jvmGcTime() / 1e3
        out["peak_exec_mem_bytes"] = max(
            out["peak_exec_mem_bytes"], s.peakExecutionMemory()
        )
    return out


def cached_bytes(spark) -> int:
    """Bytes held by cached/persisted blocks (memory plus disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def clear_caches(spark) -> None:
    """Drop every Dataset cache, every persisted RDD and the program's
    session-lifetime driver memos (BM25 statistics, query vectors), so
    that nothing one operation computed can speed up the next one."""
    from fegis_spark.operators.bm25 import clear_memos

    spark.catalog.clearCache()
    clear_memos()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all of its descendants."""
    kids = children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the benchmark's process-tree RSS (this interpreter, the
    JVM it launched and the JVM's Python workers) on a daemon thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
