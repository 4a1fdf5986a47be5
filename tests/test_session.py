"""The session factory's driver-heap default."""

from __future__ import annotations

import os

from sql_engine_triangle_spark.session import default_driver_memory


def test_default_driver_memory_is_half_the_ram_at_most_16g(monkeypatch):
    assert default_driver_memory(15 * 2**30) == "7680m"
    assert default_driver_memory(3 * 2**30) == "1536m"
    assert default_driver_memory(128 * 2**30) == "16384m"
    sysconf = {"SC_PHYS_PAGES": 2**20, "SC_PAGE_SIZE": 4096}  # 4 GiB
    monkeypatch.setattr(os, "sysconf", sysconf.__getitem__)
    assert default_driver_memory() == "2048m"


def test_session_heap_is_the_override_or_the_default(spark):
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    assert spark.conf.get("spark.driver.memory") == want
