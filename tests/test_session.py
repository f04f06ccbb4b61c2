"""Spark-free checks of the session factory's resource defaults."""

import os

from end_to_end_etl_pipeline_spark import session


def _fake_sysconf(page: int, pages: int):
    def sysconf(name):
        return {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name]

    return sysconf


def test_driver_memory_is_half_ram_capped_at_16g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    # 15 GiB box: half the RAM, in MiB
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(4096, 15 * 2**18))
    assert session._driver_memory() == f"{15 * 1024 // 2}m"
    # 64 GiB box: the 16g cap
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(4096, 64 * 2**18))
    assert session._driver_memory() == f"{16 * 1024}m"


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(4096, 15 * 2**18))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"
