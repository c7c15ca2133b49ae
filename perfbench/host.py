"""Host context recorded with every run: core count, load average and the
share of CPU time the hypervisor stole while the run measured. A run whose
steal share is high was slowed by co-tenants, not by the program."""

from __future__ import annotations

import os


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of a process, in MiB; 0 when the
    process is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
