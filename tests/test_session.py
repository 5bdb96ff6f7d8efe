"""Session defaults that are computed on the driver host, checked
without starting a JVM."""

import os

from drought_t_spark.session import driver_memory


def _host(monkeypatch, gib):
    page = 4096
    pages = gib * 2**30 // page
    monkeypatch.setattr(
        os, "sysconf", lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name])


def test_driver_memory_is_half_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _host(monkeypatch, 16)
    assert driver_memory() == "8192m"


def test_driver_memory_is_capped_at_32g(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _host(monkeypatch, 256)
    assert driver_memory() == "32768m"


def test_driver_memory_env_overrides(monkeypatch):
    _host(monkeypatch, 16)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"
