"""Process-tree memory and CPU-time sampling, and the JVM calibration
step."""

from __future__ import annotations

import os
import statistics
import threading
import time


def _children() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        # field 4 (ppid) follows the parenthesised command, which may
        # itself contain spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pss_kib(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants: pages
    shared between processes (e.g. forked Python workers) are split
    among them, so they count once in the sum."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and all its
    descendants, including descendants that already exited and were
    reaped. The kernel leaves out time the hypervisor stole from the
    guest, so on a throttled host this stays steady where wall time
    does not."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


INTERVAL_S = 0.25


class PeakPss:
    """Samples the process tree's PSS every ``INTERVAL_S`` in a thread
    while the ``with`` body runs; ``peak_mib`` is the largest sum seen
    and ``cpu_s`` the CPU time the sampling itself took."""

    def __init__(self) -> None:
        self.peak_kib = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        t0 = time.thread_time()
        while True:
            self.peak_kib = max(self.peak_kib, tree_pss_kib(root))
            self.cpu_s = time.thread_time() - t0
            if self._stop.wait(INTERVAL_S):
                return

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kib = max(self.peak_kib, tree_pss_kib(os.getpid()))

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0


def job_floor_s(spark) -> float:
    """Median seconds of five one-row jobs: the per-job floor of the
    session, which no query can go below."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def calibrate(spark) -> float:
    """Seconds for a fixed JVM-only job (no Python workers, no I/O).
    Timed right before and right after every run's timed phase, on the
    warm session, and recorded beside the metrics: a run whose
    calibration is slow, compared with other runs, was throttled."""
    t0 = time.perf_counter()
    spark.range(0, 1_000_000, 1, 2).selectExpr(
        "sum(xxhash64(id, id * 7) & 1023) AS h"
    ).collect()
    return time.perf_counter() - t0
