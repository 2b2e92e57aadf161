"""Host record for one benchmark run, read from /proc.

- Neighbor load: busy cores of the whole host minus the cores used by this
  process tree, from /proc jiffy deltas (the method of the repository's
  ``bench.py``), and iowait and steal cores over the same window.
- Peak RSS: a sampler thread sums the resident set of the Spark driver
  JVM (this process's child) and of the Python daemon and workers below
  it, and keeps the maximum. Other descendants are left out: a process the
  JVM is spawning (Hadoop's local file system runs ``chmod`` and the like)
  shares the JVM's memory until it execs, and would count it twice.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))


def _procs() -> dict[int, tuple[int, int, int, str]]:
    """pid -> (ppid, CPU jiffies, rss pages, command name) for every
    process. CPU is utime+stime plus that of its reaped children, so a
    worker that exits keeps counting through its parent."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue  # the process exited while we listed
        head, tail = s.rsplit(")", 1)  # the command name may hold spaces
        rp = tail.split()
        cpu = int(rp[11]) + int(rp[12]) + int(rp[13]) + int(rp[14])
        out[int(d)] = (int(rp[1]), cpu, int(rp[21]), head.split("(", 1)[1])
    return out


def _descendants(procs: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the Spark driver JVM, the Python daemon and workers). The kernel
    charges time the hypervisor stole as steal, not to the process, so this
    does not grow when the host is busy."""
    procs = _procs()
    me = os.getpid()
    jiffies = procs.get(me, (0, 0, 0, ""))[1] + sum(procs[p][1] for p in _descendants(procs, me))
    return jiffies / _CLK


class HostMeter:
    """Neighbor cores and iowait between ``start()`` and ``stop()``."""

    def start(self) -> None:
        self._t = time.monotonic()
        self._cpu = _cpu_line()
        self._tree = tree_cpu_s()

    def stop(self) -> dict:
        dt = max(time.monotonic() - self._t, 1e-6)
        cpu = _cpu_line()
        d = [b - a for a, b in zip(self._cpu, cpu)]
        busy = sum(d) - d[3] - d[4] - d[7]  # total minus idle, iowait and steal
        ours = tree_cpu_s() - self._tree
        return {
            "window_s": dt,
            "neighbor_cores": max(busy / _CLK - ours, 0) / dt,
            "own_cores": ours / dt,
            "iowait_cores": d[4] / _CLK / dt,
            "steal_cores": d[7] / _CLK / dt,  # taken by the hypervisor
            "host_cores": os.cpu_count(),
        }


class RssSampler:
    """Peak summed RSS of the driver JVM and its Python processes, sampled
    by a daemon thread every ``interval`` seconds while active. Use as a
    context manager around the section to watch."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_parts: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        procs = _procs()
        me = os.getpid()
        kids = [
            p for p in _descendants(procs, me)
            if procs[p][0] == me or procs[p][3].startswith("python")
        ]
        rss = sum(procs[p][2] for p in kids) * _PAGE
        if rss > self.peak_bytes:
            self.peak_bytes = rss
            self.peak_parts = sorted((procs[p][2] * _PAGE // 2**20 for p in kids), reverse=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mib(self) -> float:
        return self.peak_bytes / 2**20
