"""The session factory's driver-heap default and its local-master
settings."""

from __future__ import annotations

import os

from sql_engine_triangle_spark.session import (
    DEFAULT_OPEN_COST,
    default_driver_memory,
    local_cores,
    local_master_conf,
)

OPEN_COST = "spark.sql.files.openCostInBytes"


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


def test_local_cores_reads_the_master():
    assert local_cores("local") == 1
    assert local_cores("local[3]") == 3
    assert local_cores("local[6,2]") == 6
    assert local_cores("local[*]") == len(os.sched_getaffinity(0))


def test_open_cost_splits_4mb_across_the_local_cores():
    assert local_master_conf("local")[OPEN_COST] == str(DEFAULT_OPEN_COST)
    assert local_master_conf("local[4]")[OPEN_COST] == str(1 << 20)
    assert local_master_conf("local[16]")[OPEN_COST] == str(1 << 18)


def test_local_settings_are_absent_under_a_cluster_master():
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443",
                   "local-cluster[2,1,1024]"):
        assert local_cores(master) is None, master
        assert local_master_conf(master) == {}, master


def test_session_carries_the_local_settings(spark):
    conf = local_master_conf(spark.sparkContext.master)
    assert conf and all(spark.conf.get(k) == v for k, v in conf.items())
