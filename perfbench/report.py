"""Metric definitions and the printer.

The metric names, units and directions here are the ones BENCHMARK.json
lists; ``test_perfbench.py`` keeps the two in step. A workload run
hands over a :class:`Run` (plain data, no Spark objects) and the
functions below turn it into the printed report and the result line.
"""

from __future__ import annotations

import json
import math
import statistics
from dataclasses import dataclass, field

from tracing import GroupStats, idle_s, merged

WORKLOADS = ("dashboard_read", "curate_corpus")

# Printed by every untraced run and gated by the bounds in BENCHMARK.json:
# each one exists on every workload. An "op" is the workload's unit of
# work: one query (dashboard_read) or one curation step, curate() plus the
# dedup of one new batch (curate_corpus). CPU seconds are the process
# tree's (driver, JVM, Python workers): the kernel leaves stolen time out
# of them, so they repeat on a throttled shared host where wall-clock
# latencies (op_s_p50, op_s_mean, printed as report lines) swing by up
# to 2x between runs minutes apart.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("setup_cpu_s", "s", "lower"),
    ("op_cpu_s_mean", "s", "lower"),
    ("peak_pss_mib", "MiB", "lower"),
)

# Printed in the report above the result line: the user-visible numbers
# of each workload, with unit and sample count.
WORKLOAD_REPORT = {
    "dashboard_read": (
        ("op_s_p50", "s"), ("op_s_mean", "s"),
        ("query_s_p50", "s"), ("query_s_p90", "s"), ("job_floor_s", "s"),
        ("reopen_s", "s"), ("ingest_points_per_s", "1/s"), ("maintenance_s", "s"),
        ("bytes_per_point", "B"), ("failed_op_ratio", "ratio"),
    ),
    "curate_corpus": (
        ("op_s_p50", "s"), ("op_s_mean", "s"),
        ("curate_docs_per_s", "1/s"), ("dedup_docs_per_s", "1/s"),
        ("first_step_s", "s"), ("failed_op_ratio", "ratio"),
    ),
}

# Printed by every traced run: (name, unit, better, the end-to-end number
# it should move). A layer a workload does not exercise reports 0.
PER_LAYER = (
    ("dsl.parse_us_p50", "us", "lower", "query_s_p50 on dashboard_read; expected negligible"),
    ("database.plan_build_s_p50", "s", "lower", "op_s_mean, op_cpu_s_mean on dashboard_read"),
    ("database.plan_cache_hit_ratio", "ratio", "higher",
     "op_s_p50, op_cpu_s_mean on dashboard_read"),
    ("database.collect_s_p50", "s", "lower", "op_s_p50, op_cpu_s_mean on dashboard_read"),
    ("database.collect_s_p90", "s", "lower", "op_s_mean, op_cpu_s_mean on dashboard_read"),
    ("database.jobs_per_query", "count", "lower", "op_s_p50, op_cpu_s_mean on dashboard_read"),
    ("database.tasks_per_query", "count", "lower", "op_s_p50, op_cpu_s_mean on dashboard_read"),
    ("database.driver_s_p50", "s", "lower", "op_s_p50, op_cpu_s_mean on dashboard_read"),
    ("database.open_s_p50", "s", "lower", "reopen_s on dashboard_read"),
    ("scan.files_per_query", "count", "lower", "op_s_mean, op_cpu_s_mean on dashboard_read"),
    ("scan.bytes_read_per_query", "B", "lower", "op_s_mean, op_cpu_s_mean on dashboard_read"),
    ("scan.records_read_per_row_returned", "ratio", "lower",
     "op_s_mean, op_cpu_s_mean on dashboard_read"),
    ("tag_index.fresh_ratio", "ratio", "higher", "op_s_mean, op_cpu_s_mean on dashboard_read"),
    ("aggregate.aligned_collect_s_p50", "s", "lower", "op_s_p50, op_cpu_s_mean on dashboard_read"),
    ("rollup.hit_ratio", "ratio", "higher", "op_s_p50, op_cpu_s_mean on dashboard_read"),
    ("rollup.collect_s_p50", "s", "lower", "op_s_p50, op_cpu_s_mean on dashboard_read"),
    ("ingest.write_batch_s_p50", "s", "lower", "setup_s and ingest_points_per_s on dashboard_read"),
    ("ingest.jobs_per_batch", "count", "lower", "setup_s, setup_cpu_s on dashboard_read"),
    ("ingest.driver_s_p50", "s", "lower", "setup_s, setup_cpu_s on dashboard_read"),
    ("ingest.executor_cpu_s_per_mpoint", "s", "lower", "ingest_points_per_s on dashboard_read"),
    ("ingest.shuffle_write_bytes_per_point", "B", "lower", "ingest_points_per_s, peak_pss_mib"),
    ("ingest.spill_bytes", "B", "lower", "ingest_points_per_s, peak_pss_mib"),
    ("ingest.files_written_per_batch", "count", "lower", "bytes_per_point, op_s_mean"),
    ("maintenance.compact_s", "s", "lower",
     "maintenance_s, setup_s, setup_cpu_s on dashboard_read"),
    ("maintenance.bytes_rewritten", "B", "lower", "maintenance_s on dashboard_read"),
    ("maintenance.files_after_compact", "count", "lower", "bytes_per_point, op_s_mean"),
    ("rollup.build_s", "s", "lower", "maintenance_s, setup_s, setup_cpu_s on dashboard_read"),
    ("rollup.refresh_s", "s", "lower", "maintenance_s (no workload refreshes yet)"),
    ("curate.s", "s", "lower", "curate_docs_per_s, op_s_p50, op_cpu_s_mean on curate_corpus"),
    ("curate.jobs", "count", "lower", "curate_docs_per_s on curate_corpus"),
    ("curate.shuffle_bytes", "B", "lower", "curate_docs_per_s on curate_corpus"),
    ("curate.executor_cpu_s", "s", "lower", "curate_docs_per_s on curate_corpus"),
    ("dedup.bloom_build_s", "s", "lower", "setup_s, setup_cpu_s on curate_corpus"),
    ("dedup.batch_s_p50", "s", "lower",
     "dedup_docs_per_s, op_s_p50, op_cpu_s_mean on curate_corpus"),
    ("dedup.batch_jobs", "count", "lower", "dedup_docs_per_s on curate_corpus"),
    ("dedup.batch_shuffle_read_bytes", "B", "lower", "dedup_docs_per_s on curate_corpus"),
    ("spark.jobs", "count", "lower", "every throughput metric"),
    ("spark.tasks", "count", "lower", "every throughput metric"),
    ("spark.executor_cpu_s", "s", "lower", "every throughput metric"),
    ("spark.gc_s", "s", "lower", "every throughput metric, peak_pss_mib"),
    ("spark.spill_bytes", "B", "lower", "peak_pss_mib"),
    ("spark.task_busy_ratio", "ratio", "higher", "every throughput metric"),
    ("trace.overhead_ratio", "ratio", "lower", "none: traced over untraced time"),
)


@dataclass
class Run:
    """What one workload run measured. ``samples`` holds the
    workload-specific report samples (lists of seconds or counts);
    ``spans`` and the timed window come from the tracer."""

    workload: str
    cores: int
    setup_s: float = 0.0
    setup_cpu_s: float = 0.0
    op_s: list = field(default_factory=list)
    timed_cpu_s: float = 0.0             # CPU seconds of the timed loop
    peak_pss_mib: float = 0.0
    attempted: int = 0
    failures: list = field(default_factory=list)
    calibration_s: list = field(default_factory=list)
    samples: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)
    timed: tuple = (0.0, 0.0)            # epoch seconds
    timed_bookkeeping_s: float = 0.0

    @property
    def failed(self) -> int:
        return len(self.failures)

    def check(self, problems: list) -> None:
        """Count one checked operation; it failed if ``problems``."""
        self.attempted += 1
        if problems:
            more = f" (+{len(problems) - 3} more)" if len(problems) > 3 else ""
            self.failures.append("; ".join(problems[:3]) + more)


def _p(values: list, q: float) -> float:
    """Nearest-rank percentile; 0 for no samples."""
    if not values:
        return 0.0
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def _median(values: list) -> float:
    return statistics.median(values) if values else 0.0


def _mean(values: list) -> float:
    return statistics.fmean(values) if values else 0.0


def end_to_end(run: Run) -> dict:
    return {
        "setup_s": run.setup_s,
        "setup_cpu_s": run.setup_cpu_s,
        "op_cpu_s_mean": run.timed_cpu_s / len(run.op_s) if run.op_s else 0.0,
        "peak_pss_mib": run.peak_pss_mib,
    }


def workload_report(run: Run) -> list:
    """[(name, value, unit, samples)] for the report lines."""
    s = run.samples
    ratio = run.failed / run.attempted if run.attempted else 0.0
    values = {"op_s_p50": (_median(run.op_s), len(run.op_s)),
              "op_s_mean": (_mean(run.op_s), len(run.op_s))}
    if run.workload == "dashboard_read":
        ingest_s = sum(s.get("ingest_s", ()))
        values.update({
            "query_s_p50": (_median(run.op_s), len(run.op_s)),
            "query_s_p90": (_p(run.op_s, 0.9), len(run.op_s)),
            "job_floor_s": (s.get("job_floor_s", 0.0), 5),
            "reopen_s": (_median(s.get("reopen_s", [])), len(s.get("reopen_s", []))),
            "ingest_points_per_s": (s.get("points", 0) / ingest_s if ingest_s else 0.0,
                                    len(s.get("ingest_s", ()))),
            "maintenance_s": (sum(s.get("maintenance_s", ())), len(s.get("maintenance_s", ()))),
            "bytes_per_point": (s.get("fact_bytes", 0) / s["points"] if s.get("points") else 0.0, 1),
        })
    else:
        cur, ded = s.get("curate_s", []), s.get("dedup_s", [])
        values.update({
            "curate_docs_per_s": (s.get("curate_docs", 0) * len(cur) / sum(cur) if cur else 0.0,
                                  len(cur)),
            "dedup_docs_per_s": (s.get("dedup_docs", 0) * len(ded) / sum(ded) if ded else 0.0,
                                 len(ded)),
            "first_step_s": (s.get("first_step_s", 0.0), 1),
        })
    values["failed_op_ratio"] = (ratio, run.attempted)
    return [(name, *values[name], unit) for name, unit in WORKLOAD_REPORT[run.workload]]


def per_layer(run: Run, stats: dict) -> dict:
    """Every PER_LAYER metric from the run's spans and the event-log
    roll-up ``stats`` ({job group: GroupStats})."""
    spans = run.spans
    t0, t1 = run.timed
    timed = [sp for sp in spans if t0 <= sp.get("start", 0) <= t1]

    def named(name, pool=spans):
        return [sp for sp in pool if sp["name"] == name and "dur" in sp]

    by_id = {sp["id"]: sp for sp in spans}
    children: dict = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)

    def sub(sp) -> GroupStats:
        groups, todo = set(), [sp]
        while todo:
            x = todo.pop()
            groups.add(x["group"])
            todo.extend(children.get(x["id"], ()))
        return merged(stats, groups)

    def idle(sp) -> float:
        return idle_s(sp["start"], sp["end"], sub(sp).task_intervals)

    durs = lambda xs: [x["dur"] for x in xs]  # noqa: E731
    queries = named("query", timed)
    to_df = named("database.to_df", timed)
    collects = named("database.collect", timed)
    q_stats = [sub(q) for q in queries]
    rows = sum(c.get("rows", 0) for c in collects)
    batches = named("ingest.write_batch")
    b_stats = [sub(b) for b in batches]
    points = sum(b.get("points", 0) for b in batches)
    compacts = named("maintenance.compact")
    curates = named("curate", timed)
    c_stats = [sub(c) for c in curates]
    dedups = named("dedup.batch", timed)
    d_stats = [sub(d) for d in dedups]
    roots = [sp for sp in timed if sp["parent"] is None or by_id[sp["parent"]]["start"] < t0]
    rt = GroupStats()
    for r in roots:
        rt.add(sub(r))
    wall = max(t1 - t0, 1e-9)
    busy = sum(max(0.0, min(e, t1) - max(s, t0)) for s, e in rt.task_intervals)
    m = {
        "dsl.parse_us_p50": _median(durs(named("dsl.parse", timed))) * 1e6,
        "database.plan_build_s_p50": _median([x["dur"] for x in to_df if not x.get("hit")]),
        "database.plan_cache_hit_ratio": _mean([1.0 if x.get("hit") else 0.0 for x in to_df]),
        "database.collect_s_p50": _median(durs(collects)),
        "database.collect_s_p90": _p(durs(collects), 0.9),
        "database.jobs_per_query": _mean([g.jobs for g in q_stats]),
        "database.tasks_per_query": _mean([g.tasks for g in q_stats]),
        "database.driver_s_p50": _median([idle(q) for q in queries]),
        "database.open_s_p50": _median(durs(named("database.open"))),
        "scan.files_per_query": _mean([c.get("files", 0) for c in collects]),
        "scan.bytes_read_per_query": _mean([g.input_bytes for g in q_stats]),
        "scan.records_read_per_row_returned":
            sum(g.input_records for g in q_stats) / rows if rows else 0.0,
        "tag_index.fresh_ratio": _mean([1.0 if c.get("tag_index_fresh") else 0.0 for c in collects]),
        "aggregate.aligned_collect_s_p50": _median(
            [c["dur"] for c in collects if not c.get("rollup")]),
        "rollup.hit_ratio": _mean([1.0 if c.get("rollup") else 0.0 for c in collects]),
        "rollup.collect_s_p50": _median([c["dur"] for c in collects if c.get("rollup")]),
        "ingest.write_batch_s_p50": _median(durs(batches)),
        "ingest.jobs_per_batch": _mean([g.jobs for g in b_stats]),
        "ingest.driver_s_p50": _median([idle(b) for b in batches]),
        "ingest.executor_cpu_s_per_mpoint":
            sum(g.cpu_s for g in b_stats) / (points / 1e6) if points else 0.0,
        "ingest.shuffle_write_bytes_per_point":
            sum(g.shuffle_write for g in b_stats) / points if points else 0.0,
        "ingest.spill_bytes": float(sum(g.spill for g in b_stats)),
        "ingest.files_written_per_batch": _mean([b.get("files_written", 0) for b in batches]),
        "maintenance.compact_s": sum(durs(compacts)),
        "maintenance.bytes_rewritten": float(sum(sub(c).output_bytes for c in compacts)),
        "maintenance.files_after_compact": float(compacts[-1].get("files_after", 0)) if compacts else 0.0,
        "rollup.build_s": sum(durs(named("rollup.build"))),
        "rollup.refresh_s": sum(durs(named("rollup.refresh"))),
        "curate.s": sum(durs(curates)),
        "curate.jobs": _mean([g.jobs for g in c_stats]),
        "curate.shuffle_bytes": _mean([g.shuffle_write for g in c_stats]),
        "curate.executor_cpu_s": _mean([g.cpu_s for g in c_stats]),
        "dedup.bloom_build_s": sum(durs(named("dedup.bloom_build"))),
        "dedup.batch_s_p50": _median(durs(dedups)),
        "dedup.batch_jobs": _mean([g.jobs for g in d_stats]),
        "dedup.batch_shuffle_read_bytes": _mean([g.shuffle_read for g in d_stats]),
        "spark.jobs": float(rt.jobs),
        "spark.tasks": float(rt.tasks),
        "spark.executor_cpu_s": rt.cpu_s,
        "spark.gc_s": rt.gc_s,
        "spark.spill_bytes": float(rt.spill),
        "spark.task_busy_ratio": busy / (wall * run.cores),
        "trace.overhead_ratio": wall / max(wall - run.timed_bookkeeping_s, 1e-9),
    }
    return {k: float(v) for k, v in m.items()}


def report_lines(run: Run, metrics: dict, trace: bool) -> list:
    units = {n: u for n, u, *_ in (PER_LAYER if trace else END_TO_END)}
    out = [f"# workload {run.workload}: {run.attempted} ops attempted, "
           f"{run.failed} failed; timed ops {len(run.op_s)}"]
    out += [f"# calibration_s {c:.4f} ({when})"
            for c, when in zip(run.calibration_s, ("before timed phase", "after timed phase"))]
    for name, value, n, unit in workload_report(run):
        out.append(f"{run.workload} {name} {value:.6g} {unit} n={n}")
    for name, value in metrics.items():
        n = len(run.op_s) if name.startswith("op_") else 1
        out.append(f"{run.workload} {name} {value:.6g} {units[name]}"
                   + ("" if trace else f" n={n}"))
    out += [f"# failure: {f}" for f in run.failures[:20]]
    return out


def result_line(run: Run, metrics: dict, trace: bool) -> str:
    units = {n: u for n, u, *_ in (PER_LAYER if trace else END_TO_END)}
    return json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    })
