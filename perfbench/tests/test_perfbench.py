"""Tests of the benchmark itself: stage attribution, checks, inputs.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
REPO = BENCH.parent
sys.path[:0] = [str(BENCH), str(REPO)]

import checks  # noqa: E402
import datagen  # noqa: E402
import procs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from fegis_spark.session import configure_for_oracle, get_spark

    yield configure_for_oracle(get_spark("perfbench_tests"))
    procs.stop_jvm()


def traced_harness(spark):
    return run.Harness(spark, spans.Tracer(True))


def test_one_task_query_reports_a_single_task_stage(spark):
    op = workloads.Op("one_task", "query", "queries",
                      lambda: spark.range(0, 100, 1, numPartitions=1).selectExpr("sum(id) s"),
                      workloads.collect,
                      lambda df, rows: None if rows[0]["s"] == 4950 else "wrong sum")
    rec = traced_harness(spark).run_op(op)
    assert rec["ok"]
    assert rec["stage"]["stages"] >= 1
    assert rec["stage"]["single_task_stages"] >= 1
    assert rec["stage"]["tasks"] >= rec["stage"]["stages"]


def test_stages_are_attributed_to_their_own_operation(spark):
    h = traced_harness(spark)
    wide = workloads.Op("wide", "query", "queries",
                        lambda: spark.range(0, 1000, 1, numPartitions=4).selectExpr("count(*) c"),
                        workloads.collect, lambda df, rows: None)
    narrow = workloads.Op("narrow", "query", "queries",
                          lambda: spark.range(0, 10, 1, numPartitions=1).selectExpr("count(*) c"),
                          workloads.collect, lambda df, rows: None)
    a, b = h.run_op(wide), h.run_op(narrow)
    assert a["stage"]["tasks"] >= 4
    assert b["stage"]["tasks"] < a["stage"]["tasks"]


def test_every_timed_catalog_operation_reports_stages_and_passes_its_check(spark, tmp_path):
    data = tmp_path / "sf"
    datagen.generate(str(data), seed=7, sf=0.001)
    wl = workloads.CatalogWorkload(
        str(data), ["pricing_summary", "latest_event_per_user", "dedup_minhash_lsh"], 1)
    wl.start(spark)
    h = traced_harness(spark)
    try:
        p = h.run_pass(wl.ops())
    finally:
        wl.close()
    assert h.failures == []
    assert [r["name"] for r in p["ops"]] == [e.name for e in wl.entries]
    for r in p["ops"]:
        assert r["stage"]["stages"] >= 1, r["name"]
        assert r["stage"]["tasks"] >= 1, r["name"]


def test_query_vector_lookup_is_rebuilt_for_every_operation(spark, tmp_path):
    # knn_basic's builder looks up its query vector with a Spark job;
    # the program memoizes it for the session, and the benchmark must
    # clear that memo so the second run pays the lookup again
    data = tmp_path / "sf"
    datagen.generate(str(data), seed=7, sf=0.001)
    wl = workloads.CatalogWorkload(str(data), ["knn_basic"], 1)
    wl.start(spark)
    h = traced_harness(spark)
    try:
        first, second = h.run_op(wl.ops()[0]), h.run_op(wl.ops()[0])
    finally:
        wl.close()
    assert h.failures == []
    assert first["build_jobs"] >= 1
    assert second["build_jobs"] >= 1


def test_a_wrong_output_is_counted_as_failed(spark, tmp_path):
    data = tmp_path / "sf"
    datagen.generate(str(data), seed=7, sf=0.001)
    wl = workloads.CatalogWorkload(str(data), ["pricing_summary"], 1)
    wl.start(spark)
    h = run.Harness(spark, spans.Tracer(False))
    op = wl.ops()[0]
    op.execute = lambda df: df.collect()[1:]  # drop a row
    try:
        rec = h.run_op(op)
    finally:
        wl.close()
    assert not rec["ok"]
    assert h.attempted == 1 and len(h.failures) == 1


def test_memory_workload_checks_ingest_and_every_request_type(spark, tmp_path):
    work = str(tmp_path)
    workloads.MemoryWorkload.prepare(work, seed=3, batches=2)
    wl = workloads.MemoryWorkload(work, seed=3)
    wl.start(spark)
    h = run.Harness(spark, spans.Tracer(False))
    h.warm_up(wl.warmup())
    assert h.failures == []
    assert h.attempted == 1 + len(workloads.SEARCH_KINDS)
    assert wl.snapshot.rows == workloads.CALLS_PER_BATCH


def test_prime_page_cache_walks_directory_tables_and_symlinks(tmp_path):
    table = tmp_path / "data" / "documents.parquet"
    table.mkdir(parents=True)
    (table / "part-0.parquet").write_bytes(b"x" * 10)
    (table / "part-1.parquet").write_bytes(b"y" * 5)
    (tmp_path / "link").symlink_to(tmp_path / "data", target_is_directory=True)
    assert workloads.prime_page_cache(str(tmp_path / "link")) == 15


def test_digest_ignores_row_and_column_order_but_not_types():
    rows = [(1, "a", 0.5), (2, "b", 1.5)]
    n, d = checks.digest(["k", "s", "x"], rows)
    assert n == 2
    assert checks.digest(["x", "k", "s"], [(1.5, 2, "b"), (0.5, 1, "a")]) == (n, d)
    assert checks.digest(["k", "s", "x"], [(1.0, "a", 0.5), (2, "b", 1.5)])[1] != d


def test_search_check_allows_tied_reorder_only():
    want = [("a", 0.9), ("b", 0.8), ("c", 0.8)]
    assert checks.search_check(want, [("a", 0.9), ("c", 0.8), ("b", 0.8)]) is None
    assert checks.search_check(want, [("a", 0.9), ("b", 0.8), ("d", 0.8)]) is not None
    assert checks.search_check(want, [("a", 0.9), ("b", 0.8)]) is not None
    assert checks.search_check(want, [("b", 0.9), ("a", 0.8), ("c", 0.8)]) is not None


def test_inputs_depend_only_on_the_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    datagen.generate(a, 5, 0.001)
    datagen.generate(b, 5, 0.001)
    datagen.generate(c, 6, 0.001)
    for t in ("lineitem", "documents", "events"):
        fa = Path(a, f"{t}.parquet").read_bytes()
        assert fa == Path(b, f"{t}.parquet").read_bytes()
        assert fa != Path(c, f"{t}.parquet").read_bytes()


def test_tracer_self_time_subtracts_children():
    t = spans.Tracer(True)
    with t.span("op", "x"):
        with t.span("queries.build", "x"):
            pass
    st = t.self_times()
    whole = t.spans[0].end - t.spans[0].start
    assert st["op"] + st["queries.build"] == pytest.approx(whole)
    assert spans.Tracer(False).self_times() == {}


def test_benchmark_json_lists_exactly_the_reported_metrics():
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_orphaned_descendants_are_waited_for():
    """A grandchild orphaned while running is re-parented to the run and
    stopped before the run exits (in a child interpreter: the test
    session's own JVM must not be touched)."""
    import subprocess

    code = (
        "import os, subprocess, time, procs\n"
        "procs.become_subreaper()\n"
        "subprocess.Popen(['sh', '-c', 'sleep 60 & exit 0']).wait()\n"
        "time.sleep(0.2)\n"
        "assert procs.descendants(os.getpid()), 'orphan not re-parented'\n"
        "t = time.monotonic()\n"
        "procs.stop_descendants(grace_s=0.5)\n"
        "assert not procs.descendants(os.getpid())\n"
        "assert time.monotonic() - t < 10\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=BENCH, check=True, timeout=60)
