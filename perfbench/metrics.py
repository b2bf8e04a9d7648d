"""Percentiles and peak resident memory of a process tree."""

from __future__ import annotations

import math
import os
import threading

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10
# seconds between two samples of the process tree's resident memory
RSS_SAMPLE_S = 0.2


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it. Raises when fewer than ``MIN_BEYOND`` samples
    lie above it, so a p90 needs at least 100 samples."""
    n = len(values)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(f"p{p:g} of {n} samples has only {n - rank} beyond it")
    return sorted(values)[rank - 1]


def cpu_jiffies() -> tuple[int, int]:
    """(all, stolen) CPU time of the machine so far, from ``/proc/stat``. The
    stolen share over a phase tells a contended host from a slow program."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return sum(v), v[7]


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppids() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while listing
        # the command name is parenthesised and may hold spaces
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """Resident bytes of ``root`` and all its descendants, and of the Python
    processes among them (the driver and Spark's Python workers)."""
    total = python = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/comm") as f:
                is_python = f.read().startswith("python")
        except OSError:
            continue  # the process ended while sampling
        total += rss
        python += rss if is_python else 0
    return total, python


class PeakRss:
    """Samples the tree's resident memory on a thread until the ``with``
    block ends; ``peak`` and ``peak_python`` are in bytes."""

    def __init__(self) -> None:
        self.peak = self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total, python = tree_rss_bytes(os.getpid())
        self.peak = max(self.peak, total)
        self.peak_python = max(self.peak_python, python)

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(RSS_SAMPLE_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
