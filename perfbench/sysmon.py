"""Process-tree CPU and memory from ``/proc``, and whole-host busy/steal.

The Spark JVM is a child of the benchmark process and the Python workers are
its descendants, so "the program" is every descendant of this process.  CPU
of a worker that exits is folded into its parent's ``cutime``/``cstime`` when
the parent reaps it, so the sum over the live tree never loses time.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Callable

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_usage() -> tuple[float, float]:
    """(CPU seconds incl. reaped children, resident MB) of this process's
    descendants."""
    cpu = rss = 0.0
    for pid in descendants(os.getpid()):
        fields = _stat_fields(pid)
        if fields is None:
            continue
        # fields[11:15] = utime stime cutime cstime; fields[21] = rss pages
        cpu += sum(int(x) for x in fields[11:15]) / _TICK
        rss += int(fields[21]) * _PAGE / 2**20
    return cpu, rss


def host_busy_steal() -> tuple[float, float]:
    """Whole-host (busy, steal) CPU seconds since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / _TICK, v[7] / _TICK


def host_probe_ms(data: np.ndarray) -> float:
    """Milliseconds to sort ``data`` (a fixed array) in this process.

    Co-tenants on the host can slow this VM without showing up as steal; a
    fixed single-threaded task timed next to each pass makes such a slow
    phase visible in the record.
    """
    t0 = time.perf_counter()
    np.sort(data)
    return (time.perf_counter() - t0) * 1000


class Sampler:
    """Background sampler of the program's CPU and resident memory.

    Keeps ``(wall time, cpu_s, rss_mb, heap_mb)`` samples in memory so that
    CPU can be attributed to any interval (a pass, a Spark stage) after the
    fact.  ``heap_mb``, when given, is called at each sample for the JVM heap
    the program holds (see ``run.JvmHeap``).
    """

    def __init__(self, interval_s: float, heap_mb: Callable[[], float] | None = None):
        self.interval_s = interval_s
        self.heap_mb = heap_mb
        self.samples: list[tuple[float, float, float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        heap = self.heap_mb() if self.heap_mb else 0.0
        self.samples.append((time.time(), *tree_usage(), heap))

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def window(self, t0: float, t1: float) -> list[tuple[float, float, float, float]]:
        return [s for s in self.samples if t0 <= s[0] <= t1]

    def cpu_between(self, t0: float, t1: float) -> float:
        """Program CPU seconds in [t0, t1], linearly interpolated between samples."""
        return self._cpu_at(t1) - self._cpu_at(t0)

    def _cpu_at(self, t: float) -> float:
        s = self.samples
        if not s:
            return 0.0
        if t <= s[0][0]:
            return s[0][1]
        for (ta, ca, *_), (tb, cb, *_) in zip(s, s[1:]):
            if ta <= t <= tb:
                return ca + (cb - ca) * (t - ta) / (tb - ta) if tb > ta else cb
        return s[-1][1]
