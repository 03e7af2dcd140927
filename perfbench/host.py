"""How busy the host was: readings recorded with every run."""

from __future__ import annotations

import os


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")

