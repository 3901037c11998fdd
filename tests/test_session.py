"""Session factory defaults."""

from __future__ import annotations

import os

from sems_event_deduplication_spark.session import driver_memory

PAGE = 4096


def _host(monkeypatch, phys_bytes: int) -> None:
    sysconf = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": phys_bytes // PAGE}
    monkeypatch.setattr(os, "sysconf", sysconf.__getitem__)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)


def test_driver_memory_is_half_of_a_small_host(monkeypatch):
    _host(monkeypatch, 15 << 30)
    assert driver_memory() == f"{(15 << 10) // 2}m"


def test_driver_memory_capped_at_24g(monkeypatch):
    _host(monkeypatch, 256 << 30)
    assert driver_memory() == f"{24 << 10}m"


def test_driver_memory_env_wins(monkeypatch):
    _host(monkeypatch, 15 << 30)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


def test_driver_memory_without_sysconf(monkeypatch):
    def unsupported(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", unsupported)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory() == "24g"


def test_codegen_cache_holds_the_engine_working_set(spark):
    """The session's generated-code cache is sized above a pipeline
    run's ~132 classes (Spark's default keeps 100)."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
