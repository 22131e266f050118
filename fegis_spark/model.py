"""Canonical data model + testdata loaders.

The reference stores one *memory point* per tool invocation in Qdrant
(payload assembled at reference fegis/storage.py:173-191). Spark mapping:
one columnar DataFrame with a fixed StructType (SURVEY.md §1.1). The
driver's deterministic test tables (TESTDATA.md) are the input surface
for correctness checks.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Driver-generated tables, one parquet file each (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Canonical memories schema — Spark mapping of the reference's Qdrant
#: payload (reference fegis/storage.py:173-191, SURVEY.md §1.1).
MEMORIES_SCHEMA = T.StructType(
    [
        T.StructField("memory_id", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("context", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("tool", T.StringType(), False),
        T.StructField("session_id", T.StringType(), False),
        T.StructField("sequence_order", T.IntegerType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("preceding_memory_id", T.StringType(), True),
        T.StructField("parameters", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("frames", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("agent_id", T.StringType(), True),
                    T.StructField("schema_version", T.StringType(), True),
                    T.StructField("fegis_version", T.StringType(), True),
                    T.StructField("archetype_title", T.StringType(), True),
                    T.StructField("archetype_version", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    ]
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _table_stamp(path: str) -> tuple:
    """(mtime_ns, size) stamp of a parquet file-or-dir for memo keys."""
    try:
        st = os.stat(path)
    except OSError:
        return ("missing",)
    if os.path.isdir(path):
        # directory tables: stamp per-entry (name, mtime_ns, size) —
        # an in-place rewrite of an existing part file changes neither
        # the dir mtime nor the name set, so the dir-level stamp alone
        # is a staleness gap (ADVICE r14)
        with os.scandir(path) as it:
            entries = tuple(
                sorted(
                    (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                    for e in it
                )
            )
        return (st.st_mtime_ns, entries)
    return (st.st_mtime_ns, st.st_size)


def table_memo(spark: SparkSession, sf_dir: str, name: str, key, compute):
    """Session memo for values that are a pure function of one table.

    The one driver-side cache: entries live ON the session object (and
    die with it) under ``(abspath, file stamp, key)``. The first lookup
    that sees a new stamp for a path evicts every entry of the old
    stamp, so a rewritten table drops its loaded frame and every value
    derived from it together. ``key=None`` is the loaded frame itself
    (load_table); any other hashable key names a derived value, such
    as a query vector or trained PQ books.
    """
    path = table_path(sf_dir, name)
    abspath = os.path.abspath(path)
    stamp = _table_stamp(path)
    memo = spark.__dict__.setdefault("_fegis_table_memo", {})
    full = (abspath, stamp, key)
    if full in memo:
        return memo[full]
    for k in [k for k in memo if k[0] == abspath and k[1] != stamp]:
        del memo[k]
    value = memo[full] = compute()
    return value


def clear_memos() -> None:
    """Drop every derived value from the active session's table memo;
    the loaded frames stay. For callers that time a builder's cold path
    (perfbench, the tools/ probes)."""
    spark = SparkSession.getActiveSession()
    memo = spark.__dict__.get("_fegis_table_memo", {}) if spark else {}
    for k in [k for k in memo if k[2] is not None]:
        del memo[k]


@contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` persisted MEMORY_AND_DISK for the actions inside the
    block, unpersisted when it exits. For eager operators: a frame
    returned from the block must not reference ``df`` (a lazy plan
    over an unpersisted relation recomputes it once per consumer)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield df
    finally:
        df.unpersist()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan; Catalyst handles pushdown + pruning.

    ``events.ts`` has shipped as both Parquet TIMESTAMP(NANOS) (earlier
    testdata drops) and TIMESTAMP(MICROS) (current). Spark has no native
    nanos type, so NANOS is read as nanos-since-epoch long and floor-
    divided to microseconds (same truncation DuckDB applies casting
    TIMESTAMP_NS → TIMESTAMP); MICROS already arrives as a timestamp and
    passes through. The conversion is gated on the read dtype, so both
    encodings yield the same TIMESTAMP_NTZ column.

    The frame is memoized by table_memo — a plan-object cache, NOT a
    data cache: executing the memoized frame re-reads the parquet like
    a fresh ``spark.read.parquet``. ``spark.read.parquet`` costs ~50-100
    ms of driver work per call (py4j + JVM file listing + footer schema
    inference), and multi-table queries pay it up to 5x per plan build.
    """
    return table_memo(
        spark, sf_dir, name, None, lambda: _read_table(spark, sf_dir, name)
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") in ("bigint", "long"):
            return df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        return df
    return spark.read.parquet(path)


#: Size gate for explicit broadcast-join hints, in SOURCE PARQUET bytes.
#: Rationale (SCALE.md "Broadcast discipline"): an explicit
#: ``F.broadcast()`` hint takes precedence over AQE's size logic — Spark
#: attempts the broadcast REGARDLESS of runtime statistics and fails
#: hard at the 8 GB / 512M-row broadcast limit. So a hint is only safe
#: when the side is *provably* small. 64 MiB of parquet (~a few hundred
#: MB decoded) is comfortably broadcastable on any executor profile,
#: and every sf<=1 testdata table passes it, so local plans (and the
#: pins in tests/test_plans.py) are unchanged; at the 100 TB north star
#: the corpus-proportional tables blow the gate, the hint drops out,
#: and AQE picks the strategy from real runtime sizes (it can still
#: choose broadcast when the filtered side turns out tiny).
BROADCAST_GATE_BYTES = 64 * 1024 * 1024


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of a testdata table (file or directory parquet)."""
    p = table_path(sf_dir, name)
    if os.path.isdir(p):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(p)
            for f in files
        )
    return os.path.getsize(p)


def maybe_broadcast(df: DataFrame, bound_bytes: int) -> DataFrame:
    """Size-gated broadcast hint.

    ``bound_bytes`` must be an UPPER BOUND on the side's source bytes —
    callers pass ``table_bytes(sf_dir, t)`` of the base table the side
    derives from (filters and projections only shrink it). Under the
    gate the usual ``F.broadcast`` hint applies (identical plans at
    test scale); over it the hint is withheld and AQE decides, which
    is the only safe behavior for a corpus-proportional side. Sides
    that are bounded by CONSTRUCTION (1-row aggregates, 25-nation
    dims, k-row panels) keep a plain ``F.broadcast`` with a
    ``# bcast-ok:`` marker naming the bound — tools/broadcast_audit.py
    enforces that every raw hint carries one.
    """
    if bound_bytes <= BROADCAST_GATE_BYTES:
        return F.broadcast(df)  # bcast-ok: the gate itself — bound proven by the caller's bound_bytes
    return df
