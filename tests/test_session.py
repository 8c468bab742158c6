"""The session factory's defaults that need no JVM."""

import os

from blog_snapshotbackup_azuredatalake_spark import session


def _host(monkeypatch, pages, page_size=4096):
    sizes = {"SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": page_size}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)


def test_driver_memory_is_half_the_host_at_most_16g(monkeypatch):
    _host(monkeypatch, 4 << 20)  # 16 GiB of 4 KiB pages
    assert session.default_driver_memory() == "8192m"
    _host(monkeypatch, 3 << 20, 1024)  # 3 GiB
    assert session.default_driver_memory() == "1536m"
    _host(monkeypatch, 128 << 20)  # 512 GiB
    assert session.default_driver_memory() == "16384m"
