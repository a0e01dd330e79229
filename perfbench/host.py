"""Host labels and process-level readings for the run record.

The canaries label the window a run was measured in (a slow GEMM or a
low triad marks a degraded host); they are never gates.
"""

from __future__ import annotations

import os
import time

import numpy as np


def gemm_canary() -> float:
    """Best-of-3 1024x1024 float64 GEMM in GFLOPS (the same method as
    ``tools/benchutil.gemm_canary``)."""
    a = np.random.default_rng(0).random((1024, 1024))
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        a @ a
        best = min(best, time.perf_counter() - t0)
    return round(2 * 1024**3 / best / 1e9, 1)


def stream_canary(mb: int = 64) -> float:
    """Best-of-3 STREAM triad ``a = b + s*c`` in GB/s (2 reads + 1
    write), the method of ``bench.py``'s bandwidth canary. Each array
    is ``mb`` MiB — far past the last-level cache, so the reading is
    memory bandwidth — at a quarter of ``bench.py``'s footprint."""
    n = mb * 1024 * 1024 // 8
    b = np.random.default_rng(1).random(n)
    c = np.random.default_rng(2).random(n)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        a = b + 0.5 * c  # noqa: F841 - the store is the point
        best = min(best, time.perf_counter() - t0)
    return round(3 * n * 8 / best / 1e9, 2)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (``VmHWM``) of the given processes,
    in MiB. Each process's own peak is summed, which bounds the peak of
    the sum from above."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the given processes and of their
    waited-for children, summed."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended since it was listed
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests, summed over
    this machine's CPUs since boot (the ``steal`` column of
    ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    """On-disk bytes of the data files under ``path`` (sidecars and
    Spark's ``.crc`` / ``_SUCCESS`` markers excluded)."""
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if name.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, name))
    return total


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out
