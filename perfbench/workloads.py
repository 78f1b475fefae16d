"""The benchmark's workloads. Each is one process and a closed loop with
one client: the facade is single-driver and its callers wait for a
reply, so the next operation starts when the previous one returns.

- ``dashboard_read``: every read layer works, over a warehouse built in
  set-up (one bulk ``write_batch``, ``compact()``, ``build_rollup()``,
  each a first call), so the plan cache, the tag index and the rollup
  are all in use; each loop cycle also reopens the warehouse once.
  Aligned bucketing only: a greedy query's first call spends ~5 s
  starting Python workers, more than the run's time budget allows.
- ``curate_corpus``: the document pipeline -- ``curate()`` and the
  Bloom-amortized exact dedup of new batches against a reference
  bitmap built once in set-up -- with no warehouse work. The first two
  steps (one per batch) run in set-up, so every timed step is a warm one.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
from report import Run
from sysmon import PeakPss, calibrate, job_floor_s, tree_cpu_s
from tracing import Tracer


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    tracer: Tracer
    work: str
    cores: int
    t_process: float      # perf_counter() when the process started

    def setup_done(self, run: Run) -> None:
        """Set-up ends: its wall time since the process started, and the
        CPU time of the process tree (driver, JVM, Python workers)."""
        run.setup_s = time.perf_counter() - self.t_process
        run.setup_cpu_s = tree_cpu_s(os.getpid())
        self.log("setup done")

    def log(self, what: str) -> None:
        print(f"perfbench: {what} at {time.perf_counter() - self.t_process:.1f} s",
              file=sys.stderr, flush=True)


def _files(path: str) -> list:
    return [os.path.join(d, f) for d, _s, fs in os.walk(path) for f in fs if f.endswith(".parquet")]


def _timed_phase(ctx: Ctx, run: Run, step, cycle: int) -> None:
    """Run ``step(i)`` in a closed loop for about ``ctx.seconds``, in
    whole cycles of ``cycle`` steps (so every run has the same op mix),
    at least one cycle, sampling the process tree's memory meanwhile.
    The loop stops at the cycle boundary nearest to ``ctx.seconds``,
    judged by the last cycle's length, so a small change of speed does
    not add or drop a whole cycle. The JVM calibration job runs right
    before and right after the loop, on the warm session. The loop's CPU
    time is the process tree's, less the memory sampler's own."""
    tr = ctx.tracer
    run.calibration_s.append(calibrate(ctx.spark))
    book0 = tr.bookkeeping_s
    t_start = time.time()
    cpu0 = tree_cpu_s(os.getpid())
    with PeakPss() as pss:
        t0 = last = time.perf_counter()
        i = 0
        while True:
            tr.request = i
            step(i)
            i += 1
            if i % cycle == 0:
                now = time.perf_counter()
                t_cycle, last = now - last, now
                if now - t0 + t_cycle / 2 >= ctx.seconds:
                    break
        tr.request = None
        cpu1 = tree_cpu_s(os.getpid())
    run.timed = (t_start, time.time())
    run.timed_bookkeeping_s = tr.bookkeeping_s - book0
    run.peak_pss_mib = pss.peak_mib
    run.timed_cpu_s = cpu1 - cpu0 - pss.cpu_s
    run.calibration_s.append(calibrate(ctx.spark))


# ---------------------------------------------------------------- dashboard


def _write_points(pts: gen.Points, path: str) -> str:
    """The points as one parquet file in the shape
    ``Database.write_batch`` takes (metric, ts, value, tags)."""
    tag_maps = pa.array(
        [list(pts.series_tags(i).items()) for i in range(len(pts.hosts))],
        type=pa.map_(pa.string(), pa.string()),
    )
    pq.write_table(pa.table({
        "metric": pa.array([gen.METRIC] * pts.ts.size, pa.string()),
        "ts": pa.array(pts.ts, pa.int64()),
        "value": pa.array(pts.value, pa.float64()),
        "tags": tag_maps.take(pa.array(pts.series)),
    }), path)
    return path


def _query(ctx: Ctx, db, q: gen.QuerySpec, seen: dict, wh: str) -> list:
    """Builder call to collected rows, under spans for plan build and
    collect. ``seen`` maps a signature to the plan ``to_df`` returned
    for it last, so a returned object seen before counts as a hit."""
    tr = ctx.tracer
    with tr.span("query", kind=q.kind):
        b = getattr(db, q.kind)(gen.METRIC, q.group_by).filter(q.flt)
        b = b.start(q.start).end(q.end).granularity(q.granularity)
        with tr.span("database.to_df") as sp_plan:
            df = b.to_df()
        with tr.span("database.collect") as sp_collect:
            rows = df.collect()
    if tr.enabled:
        t = time.perf_counter()
        from talna_spark.tag_index import has_tag_index

        files = df.inputFiles()
        sp_plan["hit"] = seen.get(q.signature) is df
        sp_collect.update(
            rows=len(rows), files=len(files),
            rollup=any("/rollup_" in f for f in files),
            tag_index_fresh=has_tag_index(wh),
        )
        tr.bookkeeping_s += time.perf_counter() - t
    seen[q.signature] = df
    return [(r["grp"], r["start_ts"], r["end_ts"], r["value"], r["len"]) for r in rows]


def dashboard_read(ctx: Ctx) -> Run:
    from talna_spark import Database
    import talna_spark.database as database_mod

    spark, tr = ctx.spark, ctx.tracer
    run = Run("dashboard_read", ctx.cores)
    pts = gen.points(ctx.seed)
    plan = gen.query_plan(ctx.seed, pts.t_max)
    source = _write_points(pts, os.path.join(ctx.work, "points.parquet"))
    n_points = int(pts.ts.size)
    wh = os.path.join(ctx.work, "warehouse")
    s = run.samples
    s.update(points=n_points, ingest_s=[], maintenance_s=[], reopen_s=[])

    # one call each, first calls included: the session's first write
    # pays the write path's one-time costs (codecs, committer, code
    # generation), as a freshly started ingest service does
    db = Database.open(spark, wh)
    n_files = len(_files(wh))
    with tr.span("ingest.write_batch", points=n_points) as sp:
        t = time.perf_counter()
        # the source is a parquet file, cheap to re-read: no cache
        db.write_batch(spark.read.parquet(source), persist=False)
        s["ingest_s"].append(time.perf_counter() - t)
    sp["files_written"] = len(_files(wh)) - n_files
    with tr.span("maintenance.compact") as sp:
        t = time.perf_counter()
        db.compact()
        s["maintenance_s"].append(time.perf_counter() - t)
    sp["files_after"] = len(_files(os.path.join(wh, "points")))
    with tr.span("rollup.build"):
        t = time.perf_counter()
        db.build_rollup(gen.ROLLUP_W)
        s["maintenance_s"].append(time.perf_counter() - t)
    s["fact_bytes"] = sum(os.path.getsize(f) for f in _files(os.path.join(wh, "points")))
    ctx.log("warehouse built")

    results: list = []   # (spec, rows or None, error)
    seen: dict = {}

    def attempt(db_, q, seen_=seen):
        try:
            results.append((q, _query(ctx, db_, q, seen_, wh), None))
        except Exception as e:  # an operation that raises counts as failed
            results.append((q, None, repr(e)))

    with tr.wrapping(database_mod, "parse_filter_query", "dsl.parse"):
        # the hot set into the plan cache and through the JIT, with as
        # many hot queries as one cycle runs; fresh query shapes stay
        # cold: a run holds one cycle (see BENCHMARK.json's run_seconds),
        # so its fresh queries are each the first of their shape
        for q in map(plan.op, range(gen.CYCLE)):
            if q in plan.hot:
                attempt(db, q)
        s["job_floor_s"] = job_floor_s(spark)
        ctx.setup_done(run)

        def reopen() -> None:
            """A dashboard reopened: a new facade on the built warehouse,
            and its first (plan-cache cold) query; not a timed op."""
            t = time.perf_counter()
            with tr.span("reopen"):
                with tr.span("database.open"):
                    db2 = Database.open(spark, wh)
                attempt(db2, plan.hot[0], {})
            s["reopen_s"].append(time.perf_counter() - t)

        def step(i: int) -> None:
            if i % gen.CYCLE == 0:
                reopen()
            t = time.perf_counter()
            attempt(db, plan.op(i))
            run.op_s.append(time.perf_counter() - t)

        _timed_phase(ctx, run, step, cycle=gen.CYCLE)
        ctx.log("timed phase done")

    oracle = checks.QueryOracle(pts)
    for q, rows, err in results:
        run.check([f"{q}: raised {err}"] if err else oracle.check(q, rows))
    return run


# ------------------------------------------------------------------- curate
def _write_docs(docs: list, path: str) -> str:
    pq.write_table(pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
    }), path)
    return path



def curate_corpus(ctx: Ctx) -> Run:
    from pyspark.sql import functions as F

    from talna_spark.pipeline.curate import curate
    from talna_spark.pipeline.dedup import bloom_build, exact_dedup_against_bloom

    spark, tr = ctx.spark, ctx.tracer
    run = Run("curate_corpus", ctx.cores)
    corp = gen.corpus(ctx.seed)
    corpus_dir = os.path.join(ctx.work, "corpus")
    os.makedirs(corpus_dir, exist_ok=True)
    _write_docs(corp.docs, os.path.join(corpus_dir, "documents.parquet"))
    ref = spark.read.parquet(_write_docs(corp.ref, os.path.join(ctx.work, "ref.parquet")))
    batches = [
        spark.read.parquet(_write_docs(b, os.path.join(ctx.work, f"batch{k}.parquet")))
        for k, b in enumerate(corp.batches)
    ]
    s = run.samples
    s.update(curate_docs=len(corp.docs), dedup_docs=len(corp.batches[0]),
             curate_s=[], dedup_s=[])

    results = []   # (checker, rows or None, error)

    def attempt(span: str, docs: int, fn, checker) -> float:
        t = time.perf_counter()
        with tr.span(span, docs=docs):
            try:
                results.append((checker, [tuple(r) for r in fn().collect()], None))
            except Exception as e:  # an operation that raises counts as failed
                results.append((checker, None, repr(e)))
        return time.perf_counter() - t

    def process(i: int) -> tuple:
        """Curation step ``i``: curate() over the corpus, then the exact
        dedup of new batch ``i % N_BATCHES`` against the reference
        bitmap."""
        df, b = batches[i % gen.N_BATCHES], corp.batches[i % gen.N_BATCHES]
        with tr.span("step"):
            c = attempt("curate", len(corp.docs), lambda: curate(spark, corpus_dir),
                        lambda rows: oracle.check(rows))
            d = attempt("dedup.batch", len(b),
                        lambda: exact_dedup_against_bloom(df, ref, bm),
                        lambda rows: checks.check_dedup(corp, b, rows))
        return c, d

    # the preload: one Bloom bitmap over the reference corpus, reused by
    # every dedup batch
    with tr.span("dedup.bloom_build"):
        bm = bloom_build(ref.select(F.md5("text").alias("_h")), "_h").localCheckpoint()
    # the first steps (one per batch) pay the JVM's and the Python
    # workers' first-call and warm-up costs, as a batch curation job does
    # each time it runs; the first is reported on its own line, and the
    # timed steps are warm
    for k in range(gen.N_BATCHES):
        c, d = process(k)
        if k == 0:
            s["first_step_s"] = c + d
    ctx.setup_done(run)

    def step(i: int) -> None:
        c, d = process(i)
        s["curate_s"].append(c)
        s["dedup_s"].append(d)
        run.op_s.append(c + d)

    # whole cycles of one step per batch, so every run has the same mix
    _timed_phase(ctx, run, step, cycle=gen.N_BATCHES)
    ctx.log("timed phase done")

    oracle = checks.CurateOracle(corp.docs)  # the curate checker's
    for checker, rows, err in results:
        run.check([f"raised {err}"] if err else checker(rows))
    return run


WORKLOADS = {"dashboard_read": dashboard_read, "curate_corpus": curate_corpus}
