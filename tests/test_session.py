"""Session defaults that need no Spark session to check."""

from __future__ import annotations

from monasca_aggregator_spark import session

GB = 2**30
PAGE = 4096


def test_default_driver_heap_is_half_the_ram_up_to_8_gb(monkeypatch):
    def heap_on(ram_bytes):
        pages = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": ram_bytes // PAGE}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        return session.default_driver_memory()

    assert heap_on(4 * GB) == "2048m"
    assert heap_on(15 * GB + 600 * 2**20) == "7980m"
    assert heap_on(16 * GB) == "8192m"
    assert heap_on(64 * GB) == "8192m"
