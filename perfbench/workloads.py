"""The three workloads: their inputs and their operation lists.

An operation is one closed-loop request of a single client: a build
call into the program's build layer, an execution, and a check of the
output made outside the timed region.

* ``headline``: the bench-flagged catalog queries over seeded tables.
* ``curation_4x``: the capped curation set (bench.py's GROUP2) over a
  4x replicated documents/embeddings corpus split into several files.
* ``memory_rw``: tool-call batches ingested and appended to a growing
  memories table, with a seeded mix of SearchMemory requests between.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import datagen

#: bench.py's second measured group
GROUP2 = ("dedup_minhash_capped", "winnow_match_capped", "curation_flagship")

#: input sizes (scale factors relative to the sf0.1 test tables)
HEADLINE_SF = 0.01
CURATION_BASE_SF = 0.01
CURATION_FACTOR = 4
MEMORY_SF = 0.01
#: tool calls per ingest batch (the batch size of the sizing the
#: workload was designed from); batches ingested during set-up; batches
#: generated, which bounds the passes of one run
CALLS_PER_BATCH = 5000
SETUP_BATCHES = 1
MAX_BATCHES = 4

TOOLS = (
    "UncertaintyNavigator", "BiasDetector", "ConversationArchaeologist",
    "CognitiveEfficiencyOptimizer", "MetaCognitiveReflector", "IdeaWorkshop",
    "AIMessenger",
)
#: SearchMemory request types, each sent REQUESTS_PER_KIND times
#: between two ingest batches, in a seeded order. The even mix is a
#: choice: no traffic record gives the reference's mix. Two of each
#: give a pass enough read samples for a steady geometric mean.
REQUESTS_PER_KIND = 2
SEARCH_KINDS = (
    "basic_k3", "basic_k100", "filtered_is", "filtered_any_of",
    "filtered_between", "filtered_contains", "by_memory_id",
)


@dataclass
class Op:
    name: str
    #: "query" | "basic" | "filtered" | "by_id" | "ingest"
    kind: str
    #: layer whose public function builds the DataFrame
    layer: str
    build: Callable[[], Any]
    execute: Callable[[Any], Any]
    #: returns an error message, or None when the output is correct
    check: Callable[[Any, Any], str | None]
    #: facts the check records about the output (ingest: bytes, files)
    info: dict = field(default_factory=dict)


def collect(df):
    return df.collect()


class CatalogWorkload:
    """Catalog entries run in sequence over one data directory. The
    DuckDB oracles are evaluated on a background thread from
    construction on, so that they overlap the session start."""

    def __init__(self, data_dir: str, names, oracle_threads: int):
        from fegis_spark.catalog import catalog

        self.spark = None
        self.data_dir = data_dir
        self.entries = [catalog()[n] for n in names]
        self._expected: dict[str, Any] = {}
        self._rows_only: dict[str, int] = {}
        self._oracles = threading.Thread(target=self._eval_oracles,
                                         args=(oracle_threads,), daemon=True)
        self._oracles.start()

    def _eval_oracles(self, threads: int) -> None:
        from fegis_spark.model import TABLES

        oracle = checks.Oracle(self.data_dir, TABLES, threads)
        try:
            for e in self.entries:
                if e.oracle is None:
                    continue
                try:
                    self._expected[e.name] = oracle.expected(e.oracle)
                except Exception as ex:  # noqa: BLE001 — reported by the check
                    self._expected[e.name] = f"oracle raised {type(ex).__name__}: {ex}"
        finally:
            oracle.close()

    def _check(self, entry, df, rows) -> str | None:
        if entry.oracle is None:
            # rows-only: non-empty, and the same count on every pass
            n = self._rows_only.setdefault(entry.name, len(rows))
            return None if rows and len(rows) == n else f"rows {len(rows)} (first pass {n})"
        self._oracles.join()
        want = self._expected.get(entry.name, "oracle not evaluated")
        if isinstance(want, str):
            return want
        cols, dig = want
        return checks.query_check(cols, dig, df.columns, rows)

    def start(self, spark) -> None:
        self.spark = spark

    def ops(self) -> list[Op]:
        return [
            Op(e.name, "query", "queries",
               (lambda e=e: e.builder(self.spark, self.data_dir)),
               collect,
               (lambda df, rows, e=e: self._check(e, df, rows)))
            for e in self.entries
        ]

    def warmup(self) -> list[Op]:
        """Warm-up operations: one pass."""
        return self.ops()

    def has_more(self) -> bool:
        return True

    def close(self) -> None:
        self._oracles.join()


def prime_page_cache(path: str) -> int:
    """Read every file under ``path``, following symlinks, so that no
    timed operation pays a cold read. Returns the bytes read."""
    total = 0
    for root, _dirs, files in os.walk(path, followlinks=True):
        for name in files:
            with open(os.path.join(root, name), "rb") as f:
                while chunk := f.read(1 << 22):
                    total += len(chunk)
    return total


def prepare_inputs(workload: str, work: str, seed: int, cores: int):
    """Generate and prime the workload's inputs three times (in separate
    directories); returns the last one's directory and row counts, and
    the median time of the three."""
    times = []
    for rep in range(3):
        t0 = time.perf_counter()
        d = os.path.join(work, f"inputs{rep}")
        if workload == "headline":
            data_dir, counts = prepare_headline(d, seed)
        elif workload == "curation_4x":
            data_dir, counts = prepare_curation(d, seed, cores)
        else:
            data_dir, counts = d, MemoryWorkload.prepare(d, seed, MAX_BATCHES)
        prime_page_cache(data_dir)
        times.append(time.perf_counter() - t0)
    return data_dir, counts, statistics.median(times)


def prepare_headline(work: str, seed: int) -> tuple[str, dict]:
    d = os.path.join(work, "headline")
    return d, datagen.generate(d, seed, HEADLINE_SF)


def prepare_curation(work: str, seed: int, cores: int) -> tuple[str, dict]:
    base = os.path.join(work, "curation_base")
    datagen.generate(base, seed, CURATION_BASE_SF)
    d = os.path.join(work, "curation_4x")
    counts = datagen.replicate(base, d, CURATION_FACTOR, files=2 * cores)
    return d, counts


def tool_call_batch(rng, docs: pa.Table, events: pa.Table, batch: int, n: int) -> pa.Table:
    """``n`` raw tool calls: content from documents, arrival time and
    session from events. Session ids are fresh per batch, so memory ids
    (derived from session and sequence) stay unique across batches."""
    di = rng.integers(0, docs.num_rows, n)
    ei = np.sort(rng.integers(0, events.num_rows, n))
    text = docs.column("text").to_pylist()
    lang = docs.column("lang").to_pylist()
    src = docs.column("source").to_pylist()
    users = events.column("user_id").to_numpy()
    args = []
    for i in range(n):
        d = int(di[i])
        a = [("Content", text[d]), ("Context", f"{lang[d]} notes from {src[d]}"),
             ("Priority", ("high", "low")[int(rng.integers(0, 2))]),
             ("plan", f"step {int(rng.integers(1, 9))}")]
        if rng.random() < 0.5:
            a.insert(0, ("Title", " ".join(text[d].split()[:3])))
        args.append(a)
    return pa.table({
        "tool": pa.array(np.asarray(TOOLS, dtype=object)[rng.integers(0, len(TOOLS), n)],
                         pa.string()),
        "session_id": pa.array([f"b{batch}-s{u % 25}" for u in users[ei]], pa.string()),
        "ts": events.column("ts").take(pa.array(ei)).cast(pa.timestamp("us", tz="UTC")),
        "arguments": pa.array(args, pa.map_(pa.string(), pa.string())),
    })


class MemoryWorkload:
    """Ingest batches appended to ``memories/batch=<i>``, each followed
    by a seeded mix of SearchMemory requests over the whole table."""

    def __init__(self, work: str, seed: int):
        self.spark = None
        self.rng = np.random.default_rng(seed + 1)
        self.calls_dir = os.path.join(work, "calls")
        self.root = os.path.join(work, "memories")
        self.batch = 0
        self.snapshot: checks.MemorySnapshot | None = None

    @staticmethod
    def prepare(work: str, seed: int, batches: int) -> dict:
        src = os.path.join(work, "memory_src")
        datagen.generate(src, seed, MEMORY_SF)
        docs = pq.read_table(os.path.join(src, "documents.parquet"))
        events = pq.read_table(os.path.join(src, "events.parquet"))
        rng = np.random.default_rng(seed)
        calls = os.path.join(work, "calls")
        os.makedirs(calls, exist_ok=True)
        for b in range(batches):
            pq.write_table(tool_call_batch(rng, docs, events, b, CALLS_PER_BATCH),
                           os.path.join(calls, f"batch-{b:04d}.parquet"))
        return {"calls": batches * CALLS_PER_BATCH, "documents": docs.num_rows,
                "events": events.num_rows}

    # -- ingest ---------------------------------------------------------
    def _ingest_op(self) -> Op:
        from pyspark.sql import functions as F

        from fegis_spark import ingest

        b = self.batch
        self.batch += 1
        src = os.path.join(self.calls_dir, f"batch-{b:04d}.parquet")
        dst = os.path.join(self.root, f"batch={b}")

        def build():
            calls = self.spark.read.parquet(src)
            return ingest.ingest_batch(calls, param_keys=["Priority"]).withColumn(
                "meta", F.struct(
                    F.lit("agent-0").alias("agent_id"), F.lit("1.0").alias("schema_version"),
                    F.lit("2.0.0").alias("fegis_version"),
                    F.lit("default").alias("archetype_title"),
                    F.lit("0.01").alias("archetype_version")))

        def check(df, _):
            sent = pq.ParquetFile(src).metadata.num_rows
            files = [os.path.join(r, f) for r, _d, fs in os.walk(dst)
                     for f in fs if f.endswith(".parquet")]
            wrote = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            op.info.update(rows=wrote, input_bytes=os.path.getsize(src),
                           bytes_written=sum(os.path.getsize(f) for f in files),
                           files_written=len(files))
            self.snapshot = checks.MemorySnapshot(self.root)
            return None if wrote == sent else f"wrote {wrote} rows for {sent} calls"

        op = Op(f"ingest.batch{b}", "ingest", "ingest", build,
                lambda df: ingest.write_memories(df, dst), check,
                dict(rows=0, input_bytes=0, bytes_written=0, files_written=0))
        return op

    # -- search ---------------------------------------------------------
    def _request(self, kind: str) -> tuple[str, dict]:
        snap, rng = self.snapshot, self.rng
        words = datagen.VOCAB
        query = " ".join(words[int(i)] for i in rng.integers(0, len(words), 6))
        pick = lambda col: snap.cols[col][int(rng.integers(0, snap.rows))]  # noqa: E731
        if kind == "basic_k3":  # the API's default limit
            return "basic", dict(query=query)
        if kind == "basic_k100":
            return "basic", dict(query=query, limit=100)
        if kind == "by_memory_id":
            return "by_id", dict(query=snap.memory_id[int(rng.integers(0, snap.rows))],
                                 search_type="by_memory_id")
        if kind == "filtered_is":
            f = {"field": "session_id", "operator": "is", "value": pick("session_id")}
        elif kind == "filtered_any_of":
            tools = [TOOLS[int(i)] for i in rng.choice(len(TOOLS), 2, replace=False)]
            f = {"field": "tool", "operator": "any_of", "value": tools}
        elif kind == "filtered_between":
            lo = int(rng.integers(1, 15))
            f = {"field": "sequence_order", "operator": "between", "value": [lo, lo + 4]}
        else:
            f = {"field": "context", "operator": "contains",
                 "value": datagen.LANGS[int(rng.integers(0, len(datagen.LANGS)))]}
        return "filtered", dict(query=query, search_type="filtered", filters=[f])

    def _search_op(self, kind: str) -> Op:
        from fegis_spark import api
        from fegis_spark.plans.filters import analyzer_tokens

        op_kind, req = self._request(kind)
        snap = self.snapshot

        def build():
            mem = self.spark.read.parquet(self.root)
            return api.search_memory(mem, **req)

        def check(df, rows):
            got = [(r["memory_id"], r["score"]) for r in rows]
            if op_kind == "by_id":
                want = [(req["query"], 1.0)]
            else:
                mask = snap.mask(req.get("filters", ()), analyzer_tokens)
                want = snap.topk(api.embed_query(req["query"]),
                                 req.get("limit", api.DEFAULTS["limit"]),
                                 api.DEFAULTS["score_threshold"], mask)
            return checks.search_check(want, got)

        return Op(f"search.{kind}", op_kind, "api", build, collect, check)

    def ops(self):
        """One ingest batch, then the request mix. Yielded lazily: a
        request's parameters come from the table snapshot that the
        preceding ingest left."""
        yield self._ingest_op()
        kinds = SEARCH_KINDS * REQUESTS_PER_KIND
        for i in self.rng.permutation(len(kinds)):
            yield self._search_op(kinds[int(i)])

    def warmup(self):
        """Warm-up operations, yielded lazily: the set-up batches, then
        one request of each type over the table they made."""
        for _ in range(SETUP_BATCHES):
            yield self._ingest_op()
        for k in SEARCH_KINDS:
            yield self._search_op(k)

    def has_more(self) -> bool:
        return self.batch < MAX_BATCHES

    def start(self, spark) -> None:
        self.spark = spark

    def close(self) -> None:
        pass
