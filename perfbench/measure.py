"""Summary statistics and process readings shared by the workloads."""

from __future__ import annotations

import os
import resource

def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile of ``samples`` that has at least ten
    samples above it, as ``(value, percentile)``.

    With the samples sorted, that is the one at rank ``n - 10``
    (1-based), so its percentile is ``100 * (n - 10) / n``.
    """
    n = len(samples)
    if n <= 10:
        raise ValueError(f"{n} samples cannot have 10 beyond a percentile")
    rank = n - 10
    return sorted(samples)[rank - 1], 100.0 * rank / n


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        # the command name may hold spaces; fields resume after its ')'
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 overall: starttime
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def self_peak_rss_mb() -> float:
    """Peak resident set of this (driver) process in MB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
