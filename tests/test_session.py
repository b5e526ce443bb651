"""``engine.session.get_spark`` defaults: the driver heap fits the host,
and a local session launches its Python daemon through ``engine.pydaemon``
and lists a table's files without a Spark job."""

from __future__ import annotations

import os

import pytest

from engine import session


@pytest.mark.parametrize("ram_gib, want", [(16, "8192m"), (8, "4096m"), (48, "24g"), (64, "24g")])
def test_driver_memory_is_half_the_host_up_to_24g(monkeypatch, ram_gib, want):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gib * (1 << 30) // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    assert session.default_driver_memory() == want


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"


def test_local_session_confs(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.memory") == session.default_driver_memory()
    assert conf.get("spark.python.daemon.module") == "engine.pydaemon"
    assert conf.get("spark.executorEnv.PYTHONPATH") == session._ROOT
    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert int(spark.conf.get(threshold)) == 2**31 - 1
