"""Tuned SparkSession factory for local runs (tests + bench).

The driver supplies its own session for verify; this factory is only for
our tests and bench.py. Settings chosen for a 100 TB posture scaled to
local[N]: AQE on (runtime coalesce + skew-join), shuffle partitions sized
to cores (not the 200 default), Arrow enabled for the Pandas-UDF paths,
and UTC session time so results compare byte-for-byte with the DuckDB
oracle.

Spark keeps the classes it compiles for whole-stage codegen in an LRU
cache of 100 entries by default. One headline pass generates ~225
distinct classes and the full catalog ~2 840, so at the default a
round-robin over the catalog evicts every class before it comes round
again and recompiles it with Janino (~10 ms each) on every pass.
`get_spark` sizes the cache to the catalog's working set
(CODEGEN_CACHE_ENTRIES). The setting is static: Spark reads it when the
JVM first generates code, so it cannot be raised on a session the
driver supplies.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: spark.sql.codegen.cache.maxEntries. One pass of all 220 catalog
#: queries at sf0.001 generates 2 824-2 836 distinct classes (a headline
#: pass ~225); 4096 holds them with room, for about 25 MB of Metaspace
#: and 115 MB of heap (the cache keys are the generated sources).
CODEGEN_CACHE_ENTRIES = 4096


def default_driver_mem() -> str:
    """Driver heap when SPARK_DRIVER_MEM is unset: half of physical
    memory in whole GiB, at least 1g and at most 24g. A fixed 24g let
    the JVM's lazily grown heap outgrow a 16 GB host (a full
    correctness run was OOM-killed by the kernel)."""
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(1, min(24, phys_gib // 2))}g"


def get_spark(app_name: str = "fegis_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE coalesce below defaultParallelism to the advisory
        # partition size — Spark's own recommendation for sizing
        # reducers by bytes rather than core count; measured neutral
        # at sf0.1 (ABA toggle, ±0.1% on the bench set), matters at
        # real shuffle volumes
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    # opt-in scan-split override for replicated-corpus probes: a 4x
    # single-FILE parquet (a few MB) is one Spark partition at the
    # 128 MB default, pinning every map stage to one core; the probes
    # set this low so row groups split across tasks (r12)
    mpb = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if mpb:
        builder = builder.config("spark.sql.files.maxPartitionBytes", mpb)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_for_oracle(spark: SparkSession) -> SparkSession:
    """Pin the settings that affect value-level comparability with DuckDB
    plus the runtime-settable perf confs (a driver-provided session may
    carry the 200-partition default, wrong for these data sizes).

    Safe to call on a driver-provided session: only session-level confs.
    The codegen cache size (CODEGEN_CACHE_ENTRIES) is not among them: it
    is a static conf, read when the JVM first generates code, so only
    `get_spark` can set it.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
    )
    try:
        cores = spark.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001
        cores = 32
    spark.conf.set("spark.sql.shuffle.partitions", str(max(int(cores), 8)))
    return spark
