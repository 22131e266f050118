"""Layer-resolved benchmark of fegis_spark.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 5 --trace 0

Runs one workload (``headline``, ``curation_4x`` or ``memory_rw``, see
workloads.py) closed-loop with one client on a ``local[<cores>]``
session, checks every output, and prints as its last stdout line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` spans are recorded around each call into a layer and the
per-layer metrics are reported instead (README.md lists both sets and
which end-to-end metric each layer metric should move).

Everything the run writes goes under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (spans of traced runs) in the current
directory, which must be the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import procs
import sparkstats
from spans import Tracer

WORKLOADS = ("headline", "curation_4x", "memory_rw")


def size_session(work: str) -> dict:
    """Session sizing for the machine it runs on, set before the JVM starts:
    one task slot per usable core and a driver heap of an eighth of
    physical memory in whole GiB, at least 1 and at most 2 (the inputs
    are tens of MB; a larger heap only makes peak RSS depend on when
    the JVM collects)."""
    cores = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap = max(1, min(2, int(mem_gib // 8)))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{heap}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata file in the system temp directory
        "PYSPARK_SUBMIT_ARGS":
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell',
    })
    return {"cores": cores, "driver_heap_gib": heap, "phys_mem_gib": round(mem_gib, 1)}


class Harness:
    """Runs operations, times them, checks them outside the timed
    region and, when traced, reads each one's stage metrics."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.seq = 0
        self.attempted = 0
        self.failures: list[str] = []

    def run_op(self, op) -> dict:
        traced = self.tracer.enabled
        self.seq += 1
        gid = f"pb{self.seq}"
        # start every operation on a quiet scheduler, traced or not: a
        # traced run reads the status store between operations, which
        # otherwise gives its operations a head start
        sparkstats.clear_caches(self.spark)
        sparkstats.drain_listener_bus(self.spark)
        if traced:
            self.sc.setJobGroup(f"{gid}:build", op.name)
        span = self.tracer.span
        err = None
        t0 = time.perf_counter()
        try:
            with span("op", gid):
                with span(f"{op.layer}.build", gid):
                    df = op.build()
                t1 = time.perf_counter()
                if traced:
                    self.sc.setJobGroup(f"{gid}:exec", op.name)
                    with span("planner.plan", gid):
                        df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                exec_layer = "ingest.exec" if op.kind == "ingest" else "operators.exec"
                with span(exec_layer, gid):
                    result = op.execute(df)
            t3 = time.perf_counter()
        except Exception as ex:  # noqa: BLE001 — a failed op is counted, not fatal
            t1 = t2 = t3 = time.perf_counter()
            df = result = None
            err = f"{type(ex).__name__}: {ex}"
        rec = {"name": op.name, "kind": op.kind, "gid": gid, "total_s": t3 - t0,
               "build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
               "results": len(result) if isinstance(result, list) else 0}
        if traced:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            sparkstats.drain_listener_bus(self.spark)
            rec["stage"] = sparkstats.group_stage_metrics(
                self.spark, [f"{gid}:build", f"{gid}:exec"])
            rec["build_jobs"] = sparkstats.group_stage_metrics(
                self.spark, [f"{gid}:build"])["jobs"]
            rec["cached_bytes_after"] = sparkstats.cached_bytes(self.spark)
        rec["ok"] = self._check(op, df, result, err)
        rec.update(op.info)
        return rec

    def _check(self, op, df, result, err: str | None) -> bool:
        """Checks one output and counts the operation; False on failure."""
        if err is None:
            try:
                err = op.check(df, result)
            except Exception as ex:  # noqa: BLE001 — a check that cannot run is a failure
                err = f"check raised {type(ex).__name__}: {ex}"
        self.attempted += 1
        if err is not None:
            self.failures.append(f"{op.name}: {err}")
        return err is None

    def warm_up(self, ops) -> float:
        """Runs ``ops`` once, in order, so that classes are loaded, code
        is compiled and workers are started before any timed pass;
        returns the wall time of the operations. Every output is
        checked, outside that time."""
        sparkstats.clear_caches(self.spark)
        wall = 0.0
        for op in ops:
            df = result = err = None
            t0 = time.perf_counter()
            try:
                df = op.build()
                result = op.execute(df)
            except Exception as ex:  # noqa: BLE001 — counted by the check
                err = f"{type(ex).__name__}: {ex}"
            wall += time.perf_counter() - t0
            self._check(op, df, result, err)
        return wall

    def run_pass(self, ops) -> dict:
        """Runs ``ops`` in order. ``pass_s`` sums their timed regions:
        cache clearing, stage-metric reads and checks are left out."""
        recs = [self.run_op(op) for op in ops]
        return {"pass_s": sum(r["total_s"] for r in recs), "ops": recs,
                "traced": self.tracer.enabled}


#: end-to-end metrics (tracing off): name → (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "op_geomean_ms": ("ms", "lower"),
    "ok_ops_ratio": ("ratio", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

#: per-layer metrics (traced run): name → (unit, better). Metrics of a
#: layer the workload does not call read 0.
PER_LAYER = {
    "queries.build_s": ("s", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "planner.plan_s": ("s", "lower"),
    "operators.exec_s": ("s", "lower"),
    "operators.stages": ("count", "lower"),
    "operators.tasks": ("count", "higher"),
    "operators.single_task_stages": ("count", "lower"),
    "operators.task_run_s": ("s", "lower"),
    "operators.task_cpu_s": ("s", "lower"),
    "operators.busy_cores": ("cores", "higher"),
    "operators.shuffle_read_bytes": ("bytes", "lower"),
    "operators.shuffle_write_bytes": ("bytes", "lower"),
    "operators.spill_bytes": ("bytes", "lower"),
    "operators.peak_exec_mem_bytes": ("bytes", "lower"),
    "operators.gc_s": ("s", "lower"),
    "operators.failed_tasks": ("count", "lower"),
    "operators.cached_bytes_after": ("bytes", "lower"),
    "model.input_bytes": ("bytes", "lower"),
    "model.input_rows": ("count", "lower"),
    "api.search_build_ms": ("ms", "lower"),
    "api.search_exec_ms": ("ms", "lower"),
    "api.basic_p50_ms": ("ms", "lower"),
    "api.filtered_p50_ms": ("ms", "lower"),
    "api.by_id_p50_ms": ("ms", "lower"),
    "plans.rows_scanned_per_result": ("ratio", "lower"),
    "ingest.build_s": ("s", "lower"),
    "ingest.exec_s": ("s", "lower"),
    "ingest.rows_per_s": ("1/s", "higher"),
    "ingest.bytes_written_per_input_byte": ("ratio", "lower"),
    "ingest.files_written": ("count", "lower"),
    "trace.op_self_s": ("s", "lower"),
    "env.sentinel_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}


def end_to_end(setup_s: float, passes: list, harness, peak_rss: int) -> dict:
    """Pass time is the median pass; read latency is the geometric mean
    over every read operation (catalog query or search request) of every
    pass. A pass holds one sample of each of many unlike operations, so
    a median would pick one operation and jump between neighbours from
    run to run."""
    reads = [r["total_s"] * 1e3 for p in passes for r in p["ops"] if r["kind"] != "ingest"]
    ok = harness.attempted - len(harness.failures)
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "op_geomean_ms": statistics.geometric_mean(reads),
        "ok_ops_ratio": ok / max(harness.attempted, 1),
        "peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(passes: list, untraced: list, tracer, sentinel: float) -> dict:
    """Layer metrics of the median traced pass. Times are span self
    times; Spark counters are summed over the pass's stages."""
    traced = sorted((p for p in passes if p["traced"]), key=lambda p: p["pass_s"])
    p = traced[(len(traced) - 1) // 2]
    ops = p["ops"]
    st = {k: sum(r["stage"][k] for r in ops) for k in ops[0]["stage"]}
    self_t = tracer.self_times({r["gid"] for r in ops})
    searches = [r for r in ops if r["kind"] in ("basic", "filtered", "by_id")]
    ingests = [r for r in ops if r["kind"] == "ingest"]

    def med_ms(rs, key):
        return statistics.median(r[key] for r in rs) * 1e3 if rs else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    exec_s = self_t.get("operators.exec", 0.0) + self_t.get("ingest.exec", 0.0)
    ingest_in = sum(r["input_bytes"] for r in ingests)
    return {
        "queries.build_s": self_t.get("queries.build", 0.0),
        "queries.build_jobs": sum(r["build_jobs"] for r in ops if r["kind"] == "query"),
        "planner.plan_s": self_t.get("planner.plan", 0.0),
        "operators.exec_s": self_t.get("operators.exec", 0.0),
        "operators.stages": st["stages"],
        "operators.tasks": st["tasks"],
        "operators.single_task_stages": st["single_task_stages"],
        "operators.task_run_s": st["task_run_s"],
        "operators.task_cpu_s": st["task_cpu_s"],
        "operators.busy_cores": ratio(st["task_run_s"], exec_s),
        "operators.shuffle_read_bytes": st["shuffle_read_bytes"],
        "operators.shuffle_write_bytes": st["shuffle_write_bytes"],
        "operators.spill_bytes": st["spill_bytes"],
        "operators.peak_exec_mem_bytes": max(r["stage"]["peak_exec_mem_bytes"] for r in ops),
        "operators.gc_s": st["gc_s"],
        "operators.failed_tasks": st["failed_tasks"],
        "operators.cached_bytes_after": sum(r["cached_bytes_after"] for r in ops),
        "model.input_bytes": st["input_bytes"],
        "model.input_rows": st["input_rows"],
        "api.search_build_ms": med_ms(searches, "build_s"),
        "api.search_exec_ms": med_ms(searches, "exec_s"),
        "api.basic_p50_ms": med_ms([r for r in searches if r["kind"] == "basic"], "total_s"),
        "api.filtered_p50_ms": med_ms([r for r in searches if r["kind"] == "filtered"],
                                      "total_s"),
        "api.by_id_p50_ms": med_ms([r for r in searches if r["kind"] == "by_id"], "total_s"),
        "plans.rows_scanned_per_result": ratio(
            sum(r["stage"]["input_rows"] for r in searches),
            sum(r["results"] for r in searches)),
        "ingest.build_s": self_t.get("ingest.build", 0.0),
        "ingest.exec_s": self_t.get("ingest.exec", 0.0),
        "ingest.rows_per_s": ratio(sum(r["rows"] for r in ingests),
                                   sum(r["total_s"] for r in ingests)),
        "ingest.bytes_written_per_input_byte": ratio(
            sum(r["bytes_written"] for r in ingests), ingest_in),
        "ingest.files_written": sum(r["files_written"] for r in ingests),
        "trace.op_self_s": self_t.get("op", 0.0),
        "env.sentinel_s": sentinel,
        "trace.overhead_ratio": p["pass_s"] / statistics.median(u["pass_s"] for u in untraced),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    repo = os.getcwd()
    if not os.path.isdir(os.path.join(repo, "fegis_spark")):
        print("perfbench: run from the repository root (no fegis_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, repo)
    work = os.path.join(repo, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(repo, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    # every way out, SIGTERM included, stops the JVM and waits for all
    # processes the run started
    procs.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, work, out_dir)
    finally:
        procs.stop_jvm()
        procs.stop_descendants()
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, out_dir: str) -> int:
    sizing = size_session(work)
    cores = sizing["cores"]
    # fegis_spark first, so that every module below takes it from this
    # checkout; bench imports the whole catalog
    t0 = time.perf_counter()
    from fegis_spark.session import configure_for_oracle, get_spark

    import workloads as W
    from bench import sentinel_sec

    t_import = time.perf_counter() - t0
    with sparkstats.RssSampler() as rss:
        data_dir, counts, t_inputs = W.prepare_inputs(args.workload, work, args.seed, cores)
        if args.workload == "memory_rw":
            wl = W.MemoryWorkload(data_dir, args.seed)
        else:
            from fegis_spark.catalog import catalog

            names = ([e.name for e in catalog().values() if e.bench]
                     if args.workload == "headline" else list(W.GROUP2))
            wl = W.CatalogWorkload(data_dir, names, oracle_threads=max(1, cores // 2))
        t0 = time.perf_counter()
        spark = configure_for_oracle(get_spark(f"perfbench_{args.workload}"))
        try:
            t_session = time.perf_counter() - t0
            wl.start(spark)
            tracer = Tracer(False)
            harness = Harness(spark, tracer)
            warm_s = harness.warm_up(wl.warmup())
            setup_s = t_import + t_session + t_inputs + warm_s

            # traced runs bracket their traced passes with untraced ones:
            # passes keep getting faster for a while after the warm-up
            passes, untraced = [], []
            m0 = time.perf_counter()
            if args.trace:
                untraced.append(harness.run_pass(wl.ops()))
                tracer.enabled = True
            while wl.has_more() and (not passes or time.perf_counter() - m0 < args.seconds):
                passes.append(harness.run_pass(wl.ops()))
            if args.trace and wl.has_more():
                tracer.enabled = False
                untraced.append(harness.run_pass(wl.ops()))
            t_measure = time.perf_counter() - m0
            sentinel = sentinel_sec(spark) if args.trace else 0.0
        finally:
            wl.close()
            spark.stop()
    peak_rss = rss.peak

    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans_{args.workload}_{args.seed}.jsonl"))
        values, table = per_layer(passes, untraced, tracer, sentinel), PER_LAYER
    else:
        values, table = end_to_end(setup_s, passes, harness, peak_rss), END_TO_END
    reads = sum(1 for p in passes for r in p["ops"] if r["kind"] != "ingest")
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "sizing": sizing, "inputs": counts, "passes": len(passes),
            "read_samples": reads,
            "phases_s": {"import": round(t_import, 2), "session": round(t_session, 2), "inputs": round(t_inputs, 2),
                         "warmup": round(warm_s, 2),
                         "measure": round(t_measure, 2)},
            "failures": harness.failures[:20]}
    print(json.dumps({"perfbench_run": info}))
    failed = len(harness.failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": harness.attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": unit} for k, (unit, _b) in table.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
