"""The driver-heap rule of ``get_spark``, checked without starting a JVM."""

import os

from graphula_spark import session
from graphula_spark.session import _default_driver_memory


def _mb(value):
    assert value.endswith("m"), value
    return int(value[:-1])


def test_default_heap_fits_host_with_spark_overhead(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = _mb(_default_driver_memory()) * 2**20
    assert 0 < heap <= phys / 1.4
    assert heap <= 16 * 2**30


def test_default_heap_capped_at_16g_on_a_large_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 64 * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    assert _default_driver_memory() == "16384m"


def test_default_heap_is_16g_where_memory_is_unknown(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def unsupported(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", unsupported)
    assert _default_driver_memory() == "16384m"


def test_explicit_driver_mem_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _default_driver_memory() == "3g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "64g")
    assert _default_driver_memory() == "64g"
