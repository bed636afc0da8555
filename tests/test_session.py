"""Spark-free checks of the session factory's host-sized defaults."""

from __future__ import annotations

import os

import pytest

from flink_anomaly_spark.session import driver_memory


@pytest.fixture
def host(monkeypatch):
    """Pretend the host has ``gib`` GiB of physical memory."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def set_memory(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (gib << 30) // 4096}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)

    return set_memory


def test_driver_memory_is_a_quarter_of_the_host(host):
    host(16)
    assert driver_memory() == "4096m"


def test_driver_memory_is_capped_at_16g(host):
    host(256)
    assert driver_memory() == "16384m"


def test_driver_memory_setting_wins(host, monkeypatch):
    host(16)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
