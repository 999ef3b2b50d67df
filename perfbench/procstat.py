"""Process-tree and host readings from /proc (Linux only).

Everything here reads; nothing here decides. Host weather (steal,
spin rate, memory bandwidth) is recorded beside a run and never used
as a gate.
"""

from __future__ import annotations

import os
import time

import numpy as np

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces and parens: split after the LAST ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """`root` and every live descendant (JVM, PySpark daemon, workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the tree: utime+stime of every live process plus
    cutime+cstime of the children each has reaped, so a worker that
    exits between two readings is still counted once."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return os.path.basename(argv0) == b"java"


class PeakRss:
    """Peak resident memory of the engine's processes under `root` (the
    JVM, the PySpark daemon and its Python workers; `root` itself, the
    benchmark's client, is excluded): the per-process VmHWM, kept at its
    maximum over every reading, summed over processes."""

    def __init__(self, root: int):
        self.root = root
        self.peak_kb: dict[int, int] = {}
        self.jvm: set[int] = set()

    def sample(self) -> None:
        for pid in tree_pids(self.root)[1:]:
            kb = vm_hwm_kb(pid)
            if kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb
            if pid not in self.jvm and _is_jvm(pid):
                self.jvm.add(pid)

    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0

    def split_mb(self) -> dict:
        jvm = sum(kb for pid, kb in self.peak_kb.items() if pid in self.jvm)
        return {"jvm": jvm / 1024.0, "python": (sum(self.peak_kb.values()) - jvm) / 1024.0,
                "processes": len(self.peak_kb)}


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) of the aggregate `cpu` line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def steal_fraction(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def spin_rate(seconds: float = 0.2) -> float:
    """Single-thread interpreter loop iterations per second."""
    n = 0
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        for _ in range(1000):
            pass
        n += 1000
    return n / seconds


def mem_bandwidth_gbs(mb: int = 64, reps: int = 5) -> float:
    """Best-of-`reps` copy bandwidth of an `mb`-MB array, read + write."""
    src = np.ones(mb * 1024 * 1024 // 8)
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t)
    return 2 * src.nbytes / best / 1e9


def host_probe() -> dict:
    return {"spin_per_s": spin_rate(), "membw_gbs": mem_bandwidth_gbs()}
