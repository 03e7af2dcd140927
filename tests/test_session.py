"""get_spark's driver heap: the env override, else half of the host's
memory, at most 24g (a fixed 24g outgrew a 15 GiB host and the JVM
died mid-bench)."""

from __future__ import annotations

import os

from openset_spark import session


def test_driver_memory_is_half_the_host_at_most_24g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    for host_gib, want in ((15, "7680m"), (48, "24576m"), (256, "24576m")):
        pages = host_gib * 2**30 // 4096
        monkeypatch.setattr(os, "sysconf", lambda k, p=pages: 4096 if k == "SC_PAGE_SIZE" else p)
        assert session._driver_memory() == want
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "4g")
    assert session._driver_memory() == "4g"
