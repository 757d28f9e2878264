"""Host record written beside every run: CPU pressure, steal share, peak
RSS of the JVM and its Python workers, nproc and parallelism.

The record only describes the host window a run saw; no metric is ever
rescaled by it.
"""

from __future__ import annotations

import os


def _psi_some_total_us() -> int | None:
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    return int(line.split("total=")[1])
    except (OSError, IndexError, ValueError):
        return None
    return None


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies of the aggregate ``cpu`` line."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class HostRecord:
    def __init__(self, parallelism: int):
        self.parallelism = parallelism
        self.psi0 = _psi_some_total_us()
        self.cpu0 = _cpu_ticks()
        self.jvm_hwm_kb = 0
        self.workers_hwm_kb = 0

    def sample_rss(self, jvm_pid: int | None) -> None:
        """Fold the current peak RSS of the JVM (and, separately, the sum
        over its Python worker processes) into the record."""
        if not jvm_pid:
            return
        self.jvm_hwm_kb = max(self.jvm_hwm_kb, _hwm_kb(jvm_pid))
        workers = sum(_hwm_kb(p) for p in descendants(jvm_pid))
        self.workers_hwm_kb = max(self.workers_hwm_kb, workers)

    def finish(self, wall_s: float) -> dict:
        psi1, cpu1 = _psi_some_total_us(), _cpu_ticks()
        rec = {
            "nproc": len(os.sched_getaffinity(0)),
            "parallelism": self.parallelism,
            "wall_s": round(wall_s, 3),
            "jvm_peak_rss_mb": round(self.jvm_hwm_kb / 1024, 1),
            "py_workers_peak_rss_mb": round(self.workers_hwm_kb / 1024, 1),
            "cpu_pressure_some_pct": None,
            "cpu_steal_pct": None,
        }
        if self.psi0 is not None and psi1 is not None and wall_s > 0:
            rec["cpu_pressure_some_pct"] = round(
                100 * (psi1 - self.psi0) / 1e6 / wall_s, 2)
        if self.cpu0 and cpu1 and cpu1[1] > self.cpu0[1]:
            rec["cpu_steal_pct"] = round(
                100 * (cpu1[0] - self.cpu0[0]) / (cpu1[1] - self.cpu0[1]), 2)
        return rec
