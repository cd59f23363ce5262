"""Session factory defaults."""

from __future__ import annotations

import os

from geomesa_spark import session


def test_driver_memory_defaults_to_half_of_physical(spark):
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert session._driver_memory() == f"{min(phys_mb // 2, 48 * 1024)}m"
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or session._driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want


def test_driver_memory_is_capped_at_48g(monkeypatch):
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 2**30}  # 4 TiB
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    assert session._driver_memory() == "49152m"
