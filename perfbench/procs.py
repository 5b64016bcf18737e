"""CPU time and memory of the program: this process and every process
it started, the driver JVM and the Python workers the JVM forks.

CPU time is user plus system time from ``/proc/<pid>/stat``. On a
virtual machine the kernel books time the hypervisor gave to another
guest as steal, not to the process, so CPU time does not grow with
steal the way wall time does. It still depends on how fast the host
runs a CPU-second: on the 4-core box the same work took 1.6-1.8x the
CPU time while the host was busy (its other guests sharing the
physical cores) than while it was quiet, and such a period lasts tens
of minutes. ``speed_probe`` measures that speed with fixed work that
uses no part of the program, and the end-to-end CPU times are scaled
by it to a reference speed.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")


def _tree() -> list[list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, with the pid
    appended, of this process and all its descendants."""
    kids: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        stats[int(d)] = f
        kids.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        if pid in stats:
            out.append(stats[pid] + [str(pid)])
    return out


def cpu_seconds() -> float:
    """User + system CPU seconds of the process tree so far. A process
    counts its reaped children too (cutime, cstime), so a worker that
    exited between two readings is not lost."""
    return sum(sum(int(x) for x in f[11:15]) for f in _tree()) / _TICK


# About speed_probe's CPU seconds on the 4-core box while its host was
# quiet; it only sets the scale the end-to-end CPU times are read in.
PROBE_REF_S = 0.09
_probe_samples: list[float] = []


def speed_probe() -> float:
    """CPU seconds this thread takes for a fixed piece of work: an
    interpreter loop, SHA-256 over 16 MiB and a sort of 2^20 floats.
    Each call's time is kept for ``reference_scale``. Run it while the
    program is stopped: the program's threads on the sibling hardware
    threads of a core would slow it down."""
    t0 = time.thread_time()
    x = 0
    for i in range(600_000):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    h = hashlib.sha256()
    block = bytes(range(256)) * 4096
    for _ in range(16):
        h.update(block)
    np.sort(np.random.default_rng(0).random(1 << 20))
    _probe_samples.append(time.thread_time() - t0)
    return _probe_samples[-1]


def reference_scale() -> tuple[float, float]:
    """(median probe time of this run, ``PROBE_REF_S`` / that median):
    multiplying a CPU time of this run by the scale gives CPU seconds
    at the reference speed."""
    med = statistics.median(_probe_samples)
    return med, PROBE_REF_S / med


class Timed:
    """Wall and CPU seconds of the block it wraps."""

    def __enter__(self):
        self.cpu = cpu_seconds()
        self.wall = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.wall
        self.cpu = cpu_seconds() - self.cpu


class RssSampler(threading.Thread):
    """Peak memory of this process's descendants, the driver JVM and the
    Python workers it forks, sampled from /proc. Each process counts its
    proportional set size (Pss), so pages two processes share, such as
    those of a child the JVM forks to run a command, count once."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    @staticmethod
    def _descendants_pss() -> int:
        total, me = 0, str(os.getpid())
        for f in _tree():
            if f[-1] == me:
                continue
            try:
                with open(f"/proc/{f[-1]}/smaps_rollup") as fh:
                    pss = next(ln for ln in fh if ln.startswith("Pss:"))
            except (FileNotFoundError, ProcessLookupError, StopIteration):
                continue
            total += int(pss.split()[1]) * 1024
        return total

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.peak = max(self.peak, self._descendants_pss())

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._halt.set()
        self.join()
        return self.peak / 2**20
