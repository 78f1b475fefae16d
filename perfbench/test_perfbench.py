"""Session-free tests of the benchmark's generators and printer.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def _inputs(seed: int) -> tuple:
    pts = gen.points(seed)
    plan = gen.query_plan(seed, pts.t_max)
    return pts, plan, gen.corpus(seed)


def test_one_seed_yields_identical_inputs():
    (p1, q1, c1), (p2, q2, c2) = _inputs(7), _inputs(7)
    for a in ("ts", "value", "series"):
        assert np.array_equal(getattr(p1, a), getattr(p2, a))
    assert (p1.hosts, p1.services, p1.regions) == (p2.hosts, p2.services, p2.regions)
    assert (q1.hot, q1.fresh) == (q2.hot, q2.fresh)
    assert (c1.docs, c1.ref, c1.batches) == (c2.docs, c2.ref, c2.batches)
    assert (c1.planted_exact, c1.planted_near) == (c2.planted_exact, c2.planted_near)


def test_two_seeds_yield_different_inputs():
    (p1, q1, c1), (p2, q2, c2) = _inputs(7), _inputs(8)
    assert not np.array_equal(p1.value, p2.value)
    assert not np.array_equal(p1.ts, p2.ts)
    assert q1.fresh != q2.fresh
    assert c1.docs != c2.docs and c1.batches != c2.batches


def test_query_mix():
    pts = gen.points(3)
    plan = gen.query_plan(3, pts.t_max)
    sigs = [q.signature for q in plan.hot + plan.fresh]
    assert len(set(sigs)) == len(sigs), "fresh signatures repeat"
    assert len(plan.hot) <= 256  # the facade's plan cache holds them all
    ops = [plan.op(i) for i in range(2 * gen.CYCLE)]
    assert sum(q in plan.fresh for q in ops) == len(ops) // 3  # a third fresh
    assert set(ops) - set(plan.fresh) == set(plan.hot)
    # every cycle holds one fresh query of each class
    for c in range(2):
        cycle = ops[c * gen.CYCLE:(c + 1) * gen.CYCLE]
        shapes = {(q.kind, q.group_by, q.granularity) for q in cycle if q in plan.fresh}
        assert len(shapes) == len(gen._CLASSES)
    for q in plan.hot + plan.fresh:
        assert pts.t_min - gen.DAY <= q.start <= min(q.end, pts.t_max)


def _runs() -> list:
    dash = report.Run("dashboard_read", 4, setup_s=30.0, setup_cpu_s=60.0,
                      op_s=[0.1, 0.2, 1.5], timed_cpu_s=4.0,
                      peak_pss_mib=900.0, attempted=4, calibration_s=[0.5, 0.6])
    dash.samples.update(points=1000, ingest_s=[2.0], maintenance_s=[1.0, 0.5],
                        reopen_s=[1.1], fact_bytes=9000, job_floor_s=0.02)
    cur = report.Run("curate_corpus", 4, setup_s=20.0, setup_cpu_s=50.0,
                     op_s=[9.0], timed_cpu_s=12.0,
                     peak_pss_mib=800.0, attempted=2, calibration_s=[0.5, 0.6])
    cur.samples.update(curate_docs=100, dedup_docs=50, curate_s=[4.0], dedup_s=[5.0],
                       first_step_s=12.0)
    spans = [
        {"id": 0, "name": "query", "parent": None, "group": "pb0",
         "start": 10.0, "end": 10.5, "dur": 0.5},
        {"id": 1, "name": "database.to_df", "parent": 0, "group": "pb1",
         "start": 10.0, "end": 10.1, "dur": 0.1, "hit": True},
        {"id": 2, "name": "database.collect", "parent": 0, "group": "pb2",
         "start": 10.1, "end": 10.5, "dur": 0.4, "rows": 3},
    ]
    for r in (dash, cur):
        r.spans, r.timed = spans, (9.0, 11.0)
    return [dash, cur]


def test_printer_emits_every_named_metric_for_every_workload():
    e2e = [m["name"] for m in BENCHMARK["end_to_end"]]
    layers = [m["name"] for m in BENCHMARK["per_layer"]]
    runs = _runs()
    assert [r.workload for r in runs] == [w["name"] for w in BENCHMARK["workloads"]]
    for run in runs:
        for trace, names in ((False, e2e), (True, layers)):
            metrics = (report.per_layer(run, {}) if trace else report.end_to_end(run))
            last = json.loads(report.result_line(run, metrics, trace))
            assert set(last) == {"correct", "attempted", "failed", "metrics"}
            assert list(last["metrics"]) == names
            for v in last["metrics"].values():
                assert set(v) == {"value", "unit"} and isinstance(v["value"], float)
            lines = report.report_lines(run, metrics, trace)
            for name, *_ in report.WORKLOAD_REPORT[run.workload]:
                assert any(line.split()[1] == name and "n=" in line
                           for line in lines if not line.startswith("#"))
        assert report.end_to_end(run)["op_cpu_s_mean"] > 0


def test_benchmark_json_matches_the_printer():
    assert [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["end_to_end"]] \
        == list(report.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["per_layer"]] \
        == [row[:3] for row in report.PER_LAYER]
    assert tuple(w["name"] for w in BENCHMARK["workloads"]) == report.WORKLOADS


def test_failures_count_once_per_operation():
    run = report.Run("curate_corpus", 4)
    run.check([])
    run.check(["a", "b", "c", "d"])
    assert (run.attempted, run.failed) == (2, 1)


def test_idle_time_excludes_overlapping_task_intervals():
    from tracing import idle_s

    # tasks busy 1-3 and 2-4 (overlapping), 6-12 (clipped at the end)
    assert idle_s(0.0, 10.0, [(1, 3), (2, 4), (6, 12)]) == 10 - 3 - 4
    assert idle_s(0.0, 1.0, []) == 1.0
