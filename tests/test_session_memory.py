"""Pins the driver heap default (no Spark needed).

In local mode the driver JVM is the whole engine; a heap default larger
than the machine lets it grow until the kernel kills it mid-suite.
"""

import os

import pytest

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.session import (
    MAX_DRIVER_MEM_BYTES,
    driver_memory,
)


def _bytes(mem: str) -> int:
    assert mem.endswith("m"), mem
    return int(mem[:-1]) << 20


def _machine(monkeypatch, physical_bytes: int) -> None:
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": physical_bytes // page}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])


@pytest.fixture(autouse=True)
def _no_override(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)


def test_default_fits_this_machine():
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < _bytes(driver_memory()) < physical


@pytest.mark.parametrize("gib", [1, 15, 64, 127])
def test_default_never_exceeds_physical_memory(monkeypatch, gib):
    _machine(monkeypatch, gib << 30)
    assert 0 < _bytes(driver_memory()) < gib << 30


def test_default_capped_at_64g_on_large_machines(monkeypatch):
    _machine(monkeypatch, 1 << 40)
    assert _bytes(driver_memory()) == MAX_DRIVER_MEM_BYTES == 64 << 30


def test_env_override_wins(monkeypatch):
    _machine(monkeypatch, 1 << 40)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert driver_memory() == "1g"
