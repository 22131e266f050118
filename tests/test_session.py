"""Session factory sizing, and the codegen cache holding a headline
pass."""

from __future__ import annotations

import os

import pytest
from conftest import SF_DIR

from fegis_spark import session
from fegis_spark.catalog import catalog
from fegis_spark.model import clear_memos


def _gib(mem: str) -> int:
    assert mem.endswith("g"), mem
    return int(mem[:-1])


def test_default_driver_mem_fits_physical_memory(spark):
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gib = _gib(session.default_driver_mem())
    assert 1 <= gib <= 24
    assert gib * 2**30 <= phys
    if "SPARK_DRIVER_MEM" not in os.environ:
        conf = spark.sparkContext.getConf().get("spark.driver.memory")
        assert conf == session.default_driver_mem()


@pytest.mark.parametrize(
    "phys_gib, want",
    [(1.5, "1g"), (2.0, "1g"), (15.6, "7g"), (16.0, "8g"), (64.0, "24g")],
)
def test_default_driver_mem_is_half_of_ram_clamped(monkeypatch, phys_gib, want):
    page = 4096
    pages = int(phys_gib * 2**30) // page
    monkeypatch.setattr(
        session.os,
        "sysconf",
        lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name],
    )
    assert session.default_driver_mem() == want


def test_get_spark_sizes_the_codegen_cache(spark):
    conf = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries")
    assert conf == str(session.CODEGEN_CACHE_ENTRIES)


def test_repeated_headline_pass_compiles_almost_nothing(spark):
    """A repeat pass of the 17 bench builders finds their generated
    classes in Spark's codegen cache. At the 100-entry default a pass
    (~225 classes) evicts each class before it comes round again and
    recompiles all of them. A repeat pass may still compile a few: AQE
    numbers codegen stages in the order query stages finish, and the
    number is in the class name (`dedup_minhash_lsh` has variants of 2
    and 4 classes), so the quieter of two repeat passes is checked."""
    jvm = spark._jvm
    metric = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    bench = [e for e in catalog().values() if e.bench]
    assert len(bench) == 17
    compiles = []
    for _ in range(3):
        c0 = metric.getCount()
        for entry in bench:
            clear_memos()
            spark.catalog.clearCache()
            entry.builder(spark, SF_DIR).collect()
        compiles.append(metric.getCount() - c0)
    assert min(compiles[1:]) <= 5, compiles
