"""Spans around the benchmark's calls into each layer, one Spark job
group per span, and the roll-up of the session's event log per group.

Tracing is done from outside the program: the benchmark opens a span
around each call into a layer's public function (and, for the DSL, which
the query builder calls internally, swaps in a wrapper of the public
``parse_filter_query`` for the traced run). Each span sets its own job
group, so every Spark job is attributed to the innermost span that
started it. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time


class Tracer:
    """Records spans (name, start, end, parent, request id) when enabled;
    a no-op otherwise, so untraced runs pay nothing."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list = []
        self.request = None          # id of the operation in flight
        self.bookkeeping_s = 0.0     # time spent inside the tracer itself
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self.request,
            "group": f"pb{len(self.spans)}",
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        t1 = time.perf_counter()
        self.bookkeeping_s += t1 - t0
        try:
            yield rec
        finally:
            t2 = time.perf_counter()
            rec["end"] = time.time()
            rec["dur"] = t2 - t1
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - t2

    @contextlib.contextmanager
    def wrapping(self, module, fn_name: str, span_name: str):
        """Swap ``module.fn_name`` for a wrapper that opens a span around
        each call, for the duration of the ``with`` body."""
        orig = getattr(module, fn_name)
        if not self.enabled:
            yield
            return

        def wrapper(*a, **kw):
            with self.span(span_name):
                return orig(*a, **kw)

        setattr(module, fn_name, wrapper)
        try:
            yield
        finally:
            setattr(module, fn_name, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{os.path.abspath(log_dir)}",
        "spark.eventLog.compress": "false",
    }


class GroupStats:
    __slots__ = ("jobs", "tasks", "cpu_s", "gc_s", "shuffle_write",
                 "shuffle_read", "spill", "input_bytes", "input_records",
                 "output_bytes", "task_intervals")

    def __init__(self) -> None:
        self.jobs = self.tasks = 0
        self.cpu_s = self.gc_s = 0.0
        self.shuffle_write = self.shuffle_read = self.spill = 0
        self.input_bytes = self.input_records = self.output_bytes = 0
        self.task_intervals: list = []   # (launch_s, finish_s), epoch

    def add(self, other: "GroupStats") -> None:
        for k in self.__slots__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def read_event_log(log_dir: str) -> dict:
    """Roll the event log up per job group: {group id: GroupStats}.
    Jobs run outside any group are filed under ``None``. Read it after
    the session has stopped, when the log is complete."""
    job_group: dict = {}
    stage_group: dict = {}
    tasks: list = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = group
                    for sid in ev.get("Stage IDs", ()):
                        # a stage reused by a later job runs no new tasks:
                        # it belongs to the job that first ran it
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    stats: dict = {}
    for group in job_group.values():
        stats.setdefault(group, GroupStats()).jobs += 1
    for ev in tasks:
        g = stats.setdefault(stage_group.get(ev["Stage ID"]), GroupStats())
        info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
        g.tasks += 1
        g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        g.gc_s += m.get("JVM GC Time", 0) / 1e3
        g.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sw, sr = m.get("Shuffle Write Metrics") or {}, m.get("Shuffle Read Metrics") or {}
        g.shuffle_write += sw.get("Shuffle Bytes Written", 0)
        g.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        im, om = m.get("Input Metrics") or {}, m.get("Output Metrics") or {}
        g.input_bytes += im.get("Bytes Read", 0)
        g.input_records += im.get("Records Read", 0)
        g.output_bytes += om.get("Bytes Written", 0)
        if info.get("Launch Time") and info.get("Finish Time"):
            g.task_intervals.append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
    return stats


def merged(stats: dict, groups) -> GroupStats:
    out = GroupStats()
    for g in groups:
        if g in stats:
            out.add(stats[g])
    return out


def idle_s(start: float, end: float, intervals: list) -> float:
    """Part of [start, end] during which none of ``intervals`` ran: the
    driver-side share of a call (planning, py4j, Python)."""
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return max(0.0, (end - start) - busy)
