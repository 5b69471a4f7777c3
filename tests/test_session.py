"""Session defaults that must fit the host (no Spark started)."""

from __future__ import annotations

import os

from tripwire_spark import session


def _mb(value: str) -> int:
    assert value.endswith("m"), value
    return int(value[:-1])


def test_default_driver_memory_fits_physical_ram():
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    mb = _mb(session.default_driver_memory())
    assert 0 < mb <= phys_mb
    assert mb <= session.MAX_DRIVER_MEMORY_MB


def test_default_driver_memory_is_half_of_ram_capped(monkeypatch):
    def host(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
        monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
        return _mb(session.default_driver_memory())

    assert host(15) == 15 * 1024 // 2
    assert host(256) == session.MAX_DRIVER_MEMORY_MB
