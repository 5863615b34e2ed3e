"""Session sizing helpers; none of these start a JVM."""
from __future__ import annotations

import os

from realtime_data_warehouse_spark.session import default_driver_memory

_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _jvm_size_bytes(size: str) -> int:
    size = size.strip().lower()
    if size[-1] in _UNITS:
        return int(size[:-1]) * _UNITS[size[-1]]
    return int(size)


def test_default_driver_memory_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = _jvm_size_bytes(default_driver_memory())
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 2**30 <= heap <= physical


def test_default_driver_memory_env_override_is_verbatim(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
