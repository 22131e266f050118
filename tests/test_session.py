"""Session factory sizing."""

from __future__ import annotations

import os

import pytest

from fegis_spark import session


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
