"""Session defaults that must fit the machine they run on."""

from __future__ import annotations

from d2d_spark import session


def test_driver_memory_defaults_to_half_of_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 4 * 2**30 // 4096}  # 4 GiB
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session.default_driver_memory() == "2048m"


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert session.default_driver_memory() == "1g"

