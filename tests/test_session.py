"""Session factory sizing: the default driver heap fits the host."""

from __future__ import annotations

import os

import pytest

from hackatonbigdata_spark.session import default_driver_mem


def _mb(mem: str) -> int:
    assert mem.endswith("m"), mem
    return int(mem[:-1])


def test_default_driver_mem_never_exceeds_host_ram():
    host_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    assert 0 < _mb(default_driver_mem()) <= min(host_mb, 16 * 1024)


@pytest.mark.parametrize(
    "host_gb, expect_mb",
    [(2, 1024), (16, 8192), (32, 16384), (256, 16384)],
)
def test_default_driver_mem_is_half_the_host_capped_at_16g(monkeypatch, host_gb, expect_mb):
    page = 4096
    pages = host_gb * 2**30 // page
    monkeypatch.setattr(
        os, "sysconf", {"SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": page}.__getitem__
    )
    assert _mb(default_driver_mem()) == expect_mb
