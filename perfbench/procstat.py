"""Process-tree and box readings from ``/proc``.

The benchmark process starts the Spark JVM, which starts the Python
workers, so "the program" is this process and all its descendants.
"""

from __future__ import annotations

import os
import time


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_pids(root: int | None = None) -> set[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_stat_fields(d)[1])
            except (OSError, IndexError, ValueError):
                continue
    pids = {root}
    grew = True
    while grew:
        grew = False
        for p, pp in parent.items():
            if pp in pids and p not in pids:
                pids.add(p)
                grew = True
    return pids


def tree_cpu_s(pids: set[int] | None = None) -> float:
    """utime + stime of the live tree, plus the reaped children each
    live process has accumulated (cutime + cstime)."""
    hz = os.sysconf("SC_CLK_TCK")
    ticks = 0
    for p in pids or tree_pids():
        try:
            f = _stat_fields(p)
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / hz


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def tree_peak_rss_mb(pids: set[int] | None = None) -> float:
    """Sum over the live tree of each process's peak RSS (VmHWM)."""
    return sum(_status_kb(p, "VmHWM") for p in pids or tree_pids()) / 1024.0


def tree_wchar(pids: set[int] | None = None) -> int:
    """Bytes the live tree passed to write-like syscalls (``wchar``)."""
    total = 0
    for p in pids or tree_pids():
        try:
            with open(f"/proc/{p}/io") as f:
                for line in f:
                    if line.startswith("wchar:"):
                        total += int(line.split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return total


def cpu_jiffies() -> tuple[int, int]:
    """(all jiffies, jiffies stolen by the hypervisor) over all CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]


def _busy_jiffies(own: set[int]) -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy = sum(v) - v[3] - v[4]  # minus idle and iowait
    mine = 0
    for p in own:
        try:
            f2 = _stat_fields(p)
            mine += int(f2[11]) + int(f2[12])
        except (OSError, IndexError, ValueError):
            continue
    return busy, mine


def others_busy_cores(interval: float = 1.0) -> float:
    """Cores kept busy by processes outside this tree, sampled over
    ``interval`` seconds."""
    hz = os.sysconf("SC_CLK_TCK")
    own = tree_pids()
    b0, m0 = _busy_jiffies(own)
    time.sleep(interval)
    b1, m1 = _busy_jiffies(own)
    return max(0, (b1 - b0) - (m1 - m0)) / hz / interval


def box_reading(interval: float = 0.5) -> dict:
    """Load average and other-process CPU at one moment."""
    return {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "others_busy_cores": round(others_busy_cores(interval), 2),
    }
