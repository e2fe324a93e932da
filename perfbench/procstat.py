"""CPU and memory of a process tree, read from ``/proc``.

The engine runs as three kinds of process: the client Python (this
benchmark), the JVM it launches, and the Python workers the JVM forks
for Arrow/pandas stages. JVM-only accounting misses the workers, so CPU
here is split into the JVM's own threads and everything below it.

For one process, ``utime + stime`` is its own CPU and ``cutime + cstime``
is the CPU of children it has already reaped. Summing both over every
live process in a subtree counts each process once, whether it is still
running or has exited and been waited for.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, list[str]] | None:
    """(ppid, fields after the command name) or None if the pid is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(") ", 1)[1].split()
    except (OSError, IndexError):
        return None
    return int(fields[1]), fields


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(st[0], []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Live pids strictly below ``root``."""
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


@dataclass(frozen=True)
class TreeCpu:
    jvm_s: float     # the JVM's own threads (JIT, GC, tasks, analyzer)
    python_s: float  # every process below the JVM, live or reaped

    @property
    def total_s(self) -> float:
        return self.jvm_s + self.python_s

    def __sub__(self, other: "TreeCpu") -> "TreeCpu":
        return TreeCpu(self.jvm_s - other.jvm_s, self.python_s - other.python_s)


def tree_cpu(jvm_pid: int) -> TreeCpu:
    """Cumulative CPU seconds of the JVM and of all its descendants."""
    st = _stat(jvm_pid)
    if st is None:
        raise RuntimeError(f"JVM pid {jvm_pid} is not running")
    f = st[1]
    jvm = int(f[11]) + int(f[12])
    below = int(f[13]) + int(f[14])
    for pid in descendants(jvm_pid):
        d = _stat(pid)
        if d is not None:
            g = d[1]
            below += int(g[11]) + int(g[12]) + int(g[13]) + int(g[14])
    return TreeCpu(jvm / _TICK, below / _TICK)


def machine_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot. Steal is
    time a hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError):
            pass
    return total


class PeakRss:
    """Samples the summed resident memory of this process, the JVM and the
    JVM's descendants on a background thread; ``peak`` is the largest
    sum seen while running, sampled every 50 ms. The descendant list is
    refreshed every tenth sample so workers forked mid-run are included."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _pids(self) -> list[int]:
        return [os.getpid(), self.jvm_pid, *descendants(self.jvm_pid)]

    def _run(self) -> None:
        pids, n = self._pids(), 0
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(pids))
            n += 1
            if n % 10 == 0:
                pids = self._pids()
            self._stop.wait(0.05)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes(self._pids()))
