"""Process-tree memory and host CPU steal, read from /proc (Linux).

The benchmark's process tree is the driver Python, the JVM it launches
and the Python workers the JVM forks."""

from __future__ import annotations

import glob
import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return ""  # the process exited


def _rss(pid: int) -> int:
    fields = _read(f"/proc/{pid}/statm").split()
    return int(fields[1]) * _PAGE if fields else 0


def _pss(pid: int) -> int:
    for line in _read(f"/proc/{pid}/smaps_rollup").splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(pid: int) -> int:
    """Resident memory of ``pid``, of its direct children (the JVM) and
    of the Python processes below them (the workers).

    Workers are forked from one daemon and share its pages, so they
    count by proportional set size, which splits shared pages among
    the sharers. Other processes below the JVM are short-lived helpers;
    until they exec they share the JVM's address space, and counting
    them would add the JVM a second time."""
    total = _rss(pid)
    direct = _children(pid)
    for child in descendants(pid)[1:]:
        if child in direct:
            total += _rss(child)
        elif _read(f"/proc/{child}/comm").startswith("python"):
            total += _pss(child)
    return total


def _children(pid: int) -> set[int]:
    out: set[int] = set()
    for f in glob.glob(f"/proc/{pid}/task/*/children"):
        out.update(int(c) for c in _read(f).split())
    return out


SAMPLE_S = 0.1


class PeakMemory:
    """Samples the tree's memory on a thread; ``peak`` is the highest
    sample since ``start``.

    ``heap()`` returns ``(committed, in_use)`` bytes of the JVM's heap.
    The heap is committed and touched in full at start, so all of
    ``committed`` is resident and would read as a constant. A sample
    counts the heap by ``in_use`` instead: what the heap holds after its
    latest collection. ``heap_peak`` and ``outside_heap_peak`` are the
    highest values of the two parts of a sample, each on its own."""

    def __init__(self, pid: int, heap) -> None:
        self.pid = pid
        self.heap = heap
        self.peak = 0
        self.heap_peak = 0
        self.outside_heap_peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        committed, in_use = self.heap()
        outside = tree_memory_bytes(self.pid) - committed
        self.heap_peak = max(self.heap_peak, in_use)
        self.outside_heap_peak = max(self.outside_heap_peak, outside)
        return outside + in_use

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(SAMPLE_S)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak = max(self.peak, self.sample())


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice.
    return fields[7], sum(fields[:8])

