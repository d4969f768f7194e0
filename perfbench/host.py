"""Host facts the benchmark sizes its session from, and host-noise
diagnostics recorded beside each run (never used to drop samples)."""

from __future__ import annotations

import os
import resource


def cpu_count() -> int:
    """CPUs this process may run on — what ``nproc`` prints."""
    return len(os.sched_getaffinity(0))


def meminfo_kib() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, _, rest = line.partition(":")
            out[key] = int(rest.split()[0])
    return out


def driver_memory_mib(mem: dict[str, int] | None = None) -> int:
    """A quarter of the host's memory, between 1 GiB and 8 GiB: the host
    has no swap and is shared, so the JVM heap must leave room for the
    Python workers and for other tenants. Sized from ``MemTotal``, not
    from what is available at launch, so every run on a host gets the
    same heap."""
    mem = mem or meminfo_kib()
    return max(1024, min(8192, mem["MemTotal"] // 1024 // 4))


def steal_jiffies() -> int:
    """Cumulative hypervisor steal time over all CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def peak_rss_bytes(pid: int | None) -> int:
    """High-water resident set of process ``pid`` (``VmHWM``), or 0 when
    it has exited or is unknown."""
    if pid is None:
        return 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except FileNotFoundError:
        return 0
    return 0


def self_peak_rss_bytes() -> int:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
