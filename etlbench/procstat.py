"""Process-tree CPU and memory, host steal and load, read from ``/proc``.

CPU is summed over the whole tree (Python driver, the JVM it launched and
the Python workers the JVM forks). ``os.times()`` cannot be used for this:
its children fields only cover reaped children, and the JVM is not reaped
until the driver exits.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
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
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the tree, including reaped grandchildren (which
    the reaping parent accounts in its cutime/cstime)."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / CLK_TCK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the tree's RSS sum every ``interval_s``.

    ``peak`` is the highest RSS held for ``hold`` consecutive samples (the
    maximum of their rolling median). A single-sample spike is not use:
    a fork counts its copy-on-write pages twice until it execs or exits,
    and such spikes added up to 1.5 GB to one run in ten."""

    def __init__(self, root: int, interval_s: float = 0.1, hold: int = 5):
        self.root = root
        self.interval_s = interval_s
        self.hold = hold
        self.peak = 0
        self._recent: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._recent = (self._recent + [tree_rss_bytes(self.root)])[-self.hold:]
            self.peak = max(self.peak, sorted(self._recent)[len(self._recent) // 2])
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return 0


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) // 1024


def canary_ms() -> float:
    """Engine-free CPU canary: a fixed hashing loop. It tells box noise
    (steal, frequency, neighbours) apart from engine changes."""
    import hashlib

    block = b"\x5a" * (1 << 20)
    t = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(block)
    return (time.perf_counter() - t) * 1000
