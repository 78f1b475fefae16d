#!/usr/bin/env python
"""Benchmark harness (BASELINE.md contract): ingest throughput into the
partitioned warehouse, the Q16-analog query latency, warehouse reopen time,
and headline query latencies, at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Mirrors the reference's billion-point harness shape
(/root/reference/billion/src/main.rs:31-150: timed ingest, timed avg-by-host
query over the newest slice, timed reopen) at the driver's scale factor.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The driver archives only the LAST ~2000 chars of stdout and parses the
# tail's last line; the single verbose JSON line outgrew that window at
# r9 and was unparseable-from-the-artifact through r16 (VERDICT r16
# item 1 — r16's own pipe_greedy rows fell out). r17: TWO lines. The
# FULL record prints first (complete, for humans and raw-stdout
# readers); the FINAL line is this size-budgeted compact record — same
# driver contract keys (metric/value/unit/queries/sf) — carrying every
# pipe_* timing and the BASELINE.md contract keys, so the recorded
# artifact evidences the round's claims again.
COMPACT_BUDGET = 1900  # driver tail is 2000 chars; headroom for \n etc.

CONTRACT_KEYS = [
    "ingest_points_per_sec",
    "scale10_ingest_points_per_sec",
    "scale100_ingest_points_per_sec",
    "scale1000_ingest_points_per_sec",
    "scale100_q16_warehouse_sec",
    "scale1000_q16_warehouse_sec",
    "scale1000_q16_prepared_sec",
    "scale1000_q16_prepared_swap_sec",
    "scale1000_q16_warehouse_swap_sec",
    "scale1000_reopen_sec",
    "scale1000_facts_bytes_per_point",
    "scale1000_ingest_peak_rss_mib",
    "ingest_frac_of_baseline_best",
]


def compact_bench_record(
    timings: dict, extra: dict, sf: float, total: float,
    budget: int = COMPACT_BUDGET,
) -> str:
    """The final bench line: every ``pipe_*_sec`` row from ``extra``
    plus the BASELINE contract keys, trimmed to 3dp / integer
    throughputs (full precision stays on the full-record line). Hard
    budget with deterministic shedding: the LONGEST pipe keys drop
    first (they remain on the full line) and a ``pipe_rows_shed``
    counter records how many — never silently. Unit-tested without a
    Spark session (tests/test_bench_compact.py)."""

    def _trim(v):
        if isinstance(v, float):
            return int(round(v)) if abs(v) >= 1000 else round(v, 3)
        return v

    compact_extra = {
        k: _trim(v)
        for k, v in extra.items()
        if k.startswith("pipe_") and k.endswith("_sec")
    }
    compact_extra.update(
        (k, _trim(extra[k])) for k in CONTRACT_KEYS if k in extra
    )
    compact = {
        "metric": "talna_spark e2e suite",
        "value": total,
        "unit": "sec",
        "queries": {k: _trim(v) for k, v in timings.items()},
        "sf": sf,
        "extra": compact_extra,
    }
    line = json.dumps(compact, separators=(",", ":"))
    shed = 0
    while len(line) > budget:
        pipes = [
            k for k in compact_extra
            if k.startswith("pipe_") and k.endswith("_sec")
        ]
        if not pipes:
            break
        compact_extra.pop(max(pipes, key=len))
        shed += 1
        compact_extra["pipe_rows_shed"] = shed
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > budget:
        # a real exception, not assert: `python -O` strips asserts and
        # would silently emit an over-budget line for the driver tail
        # to truncate — the exact parsed:null failure this function
        # exists to prevent (r17 review finding)
        raise RuntimeError(
            f"compact bench line is {len(line)} chars even after "
            f"shedding every pipe row — the driver tail would truncate "
            f"it; prune contract/queries keys"
        )
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    # shared scan fan-out (pipeline.scan): the testdata is a single
    # row-group file, so the compute-in-scan operators (LSH, curate,
    # DSIR, mixture, dup-span, n-gram LMs) would serialize onto one task
    # without it — replaces the former per-operator parallelism knobs
    os.environ.setdefault("TALNA_MIN_SCAN_TASKS", cpus)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("talna_spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        # task-side commit (v2): the job-commit rename loop over one file
        # per (metric, day) partition is serial on the driver under v1
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # driver-side partition listing: faster than spawning a listing job
        # for the ~150-dir warehouse on a local FS
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from talna_spark.database import Database
    from talna_spark.sources.events import points_from_events

    # warm up the JVM/session so the first timed number isn't JVM startup,
    # and pre-spawn the reusable Python-worker pool (pandas import cost)
    # so pandas-UDF timings measure steady-state, not process startup.
    spark.range(1000).count()
    import pandas as _pd  # noqa: F401

    warm = spark.range(256).selectExpr("id % 8 AS g", "id AS v")
    warm.groupBy("g").applyInPandas(
        lambda pdf: pdf.head(1), schema="g long, v long"
    ).count()
    # warm the write path (parquet codec + committer class init): the first
    # write in a session pays several seconds of one-time JVM setup that
    # would otherwise be attributed to ingest
    wtmp = tempfile.mkdtemp(prefix="talna_bench_warm_")
    try:
        (
            spark.range(64).selectExpr("id", "id % 4 AS p")
            .write.mode("overwrite").option("compression", "zstd")
            .partitionBy("p").parquet(f"{wtmp}/w")
        )
    finally:
        shutil.rmtree(wtmp, ignore_errors=True)

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}
    REPS = 2  # report min-of-N per metric: one IO hiccup otherwise skews
    # the recorded number by 2-5x run-to-run on a shared box

    class RssSampler:
        """Peak resident memory over THIS process tree (python driver +
        the local[N] JVM + pyspark daemon/workers), sampled from /proc
        while the body runs — the honest counterpart of the reference's
        sysinfo sampler around its 1B-point ingest
        (billion/src/main.rs:40-62, the BASELINE.md 140 MiB row). No
        contract threshold: a JVM warehouse engine and a 70 KB Rust
        binary have incomparable floors; the value is recorded so the
        number exists (VERDICT r14 item 4). Peak is of the SUM at each
        sample instant, not the sum of per-process peaks."""

        def __init__(self, interval: float = 0.2):
            self._interval = interval
            self.peak_mib = 0.0
            # per-process snapshot AT the peak sample instant (r16,
            # VERDICT r15 item 3): [(pid, comm, rss_kib), ...]
            self._peak_procs: list = []

        @staticmethod
        def _pss_kib(pid: int) -> int:
            """Proportional set size — COW-shared pages divided among
            sharers, so fork-transient JVM copies (see breakdown())
            count once instead of once per copy. 0 if unreadable."""
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            return int(line.split()[1])
            except OSError:
                pass
            return 0

        @staticmethod
        def _tree_sample() -> "tuple[int, list]":
            """(total_rss_kib, [(pid, comm, rss_kib) per tree process])."""
            me = os.getpid()
            parent: dict[int, int] = {}
            rss: dict[int, int] = {}
            comm: dict[int, str] = {}
            for d in os.listdir("/proc"):
                if not d.isdigit():
                    continue
                try:
                    with open(f"/proc/{d}/stat") as f:
                        stat = f.read()
                    # ppid is field 2 after the ')' (comm may hold spaces)
                    parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
                    comm[int(d)] = stat[stat.find("(") + 1:stat.rfind(")")]
                    with open(f"/proc/{d}/status") as f:
                        for line in f:
                            if line.startswith("VmRSS:"):
                                rss[int(d)] = int(line.split()[1])
                                break
                except (OSError, IndexError, ValueError):
                    continue  # raced a process exit
            kids: dict[int, list[int]] = {}
            for pid, pp in parent.items():
                kids.setdefault(pp, []).append(pid)
            total, procs, stack = 0, [], [me]
            while stack:
                p = stack.pop()
                r = rss.get(p, 0)
                total += r
                procs.append((p, comm.get(p, "?"), r))
                stack.extend(kids.get(p, []))
            return total, procs

        def _sample(self) -> None:
            total, procs = self._tree_sample()
            mib = total / 1024.0
            if mib > self.peak_mib:
                self.peak_mib = mib
                self._peak_procs = procs
                # PSS at the same instant (top-3 by RSS covers ~all of
                # it; full-tree smaps walks every 0.2 s would be costly)
                self._peak_pss_mib = round(sum(
                    self._pss_kib(pid)
                    for pid, _c, _r in
                    sorted(procs, key=lambda t: -t[2])[:3]
                ) / 1024.0, 1)

        def breakdown(self) -> dict:
            """Decompose the peak sample (VERDICT r15 item 3): JVM RSS vs
            python (driver + pyspark workers) vs other, the top-2
            processes, and the JVM's effective -Xmx — so the
            architectural gap vs the reference's 140 MiB Rust binary is
            explainable in one line, not just present."""
            jvm = py = other = 0
            for _pid, c, r in self._peak_procs:
                if c == "java":
                    jvm += r
                elif c.startswith("python"):
                    py += r
                else:
                    other += r
            top2 = sorted(self._peak_procs, key=lambda t: -t[2])[:2]
            xmx = None
            for pid, c, _r in self._peak_procs:
                if c != "java":
                    continue
                try:
                    with open(f"/proc/{pid}/cmdline", "rb") as f:
                        args = f.read().split(b"\0")
                    xmx = next(
                        (a[4:].decode() for a in args
                         if a.startswith(b"-Xmx")), None,
                    )
                except OSError:
                    pass
                break
            return {
                "jvm_mib": round(jvm / 1024.0, 1),
                "python_mib": round(py / 1024.0, 1),
                # "other" is typically fork-TRANSIENT copies of the JVM
                # caught mid-spawn of python workers (comm "Executor
                # task launch worker", RSS identical to the JVM's): COW
                # pages double-counted by a plain RSS sum. top3_pss_mib
                # divides shared pages among sharers — the honest
                # footprint at the same peak instant.
                "other_mib": round(other / 1024.0, 1),
                "top2": [
                    {"comm": c, "rss_mib": round(r / 1024.0, 1)}
                    for _pid, c, r in top2
                ],
                "top3_pss_mib": getattr(self, "_peak_pss_mib", None),
                "jvm_xmx": xmx,
            }

        def __enter__(self):
            import threading

            self._stop = threading.Event()

            def run():
                while not self._stop.is_set():
                    self._sample()
                    self._stop.wait(self._interval)

            self._thread = threading.Thread(target=run, daemon=True)
            self._thread.start()
            return self

        def __exit__(self, *exc):
            self._stop.set()
            self._thread.join(timeout=5)
            # one final sample so a body shorter than the interval still
            # records something
            self._sample()
            return False

    def timed(fn, reps: int = REPS) -> float:
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    # (a) batch ingest points/s into the partitioned warehouse. The raw
    # shuffle (parallelism=cpus) spreads the tag/identity derivation across
    # cores — the testdata is a single-row-group file that would otherwise
    # scan as one task.
    # persist=False throughout: the bench source is a cheap local file
    # scan (recomputing it costs less than the cache materialization pass
    # it would save) — the steady-state ingest configuration for this
    # workload, measured 3.5x faster at 10M points.
    pts = points_from_events(spark, sf_dir, parallelism=int(cpus))
    n_points = pts.count()
    ingest_runs = []
    whs = []
    try:
        for _ in range(REPS):
            wh = tempfile.mkdtemp(prefix="talna_bench_wh_")
            whs.append(wh)
            t0 = time.perf_counter()
            wdb = Database.open(spark, wh)
            wdb.write_batch(pts, persist=False)
            ingest_runs.append(time.perf_counter() - t0)
        ingest_sec = min(ingest_runs)
        timings["ingest"] = round(ingest_sec, 4)
        extra["ingest_points_per_sec"] = round(n_points / ingest_sec, 1)
        extra["n_points"] = n_points
        wh = whs[-1]

        # (c) reopen: new Database facade over the existing warehouse
        timings["reopen"] = timed(lambda: Database.open(spark, wh), reps=3)

        # warehouse-path Q16 analog (broadcast series join + pruned fact
        # scan). First call = cold plan build; the min-of-N number is the
        # repeat-query path through the facade's prepared-plan cache.
        def q16_base():
            return (
                wdb.avg("app.purchase", "user")
                .filter("user:9 OR user:8")
                .start(entrymod.T_JAN24)
                .to_df()
                .collect()
            )

        t0 = time.perf_counter()
        q16_base()
        extra["q16_first_call_sec"] = round(time.perf_counter() - t0, 4)
        timings["q16_warehouse"] = timed(q16_base)
    finally:
        for w in whs:
            shutil.rmtree(w, ignore_errors=True)

    # (b) headline view-path queries. Bench rows time FIXED content so
    # they stay longitudinally comparable even when the driver
    # REGISTRATIONS consolidate (r6 folded q05/q08/q11 into q01/q06 as
    # kind slices): the standalone specs are pinned here, and
    # q01_avg_sum times the r5-era 2-part (avg+sum) union, not the
    # 3-part registration.
    headline = [
        "q01_avg_sum", "q05_count", "q08_not", "q11_precedence",
        "q16_bench", "q17_greedy_avg", "q29_multigroup", "q32_sliding",
    ]
    qs = entrymod.queries()
    _HOUR, _DAY = entrymod.HOUR, entrymod.DAY
    for name, spec in {
        "q05_count": ("count", "app.view", "user", "*", None, None, _DAY, "aligned"),
        "q08_not": ("count", "app.click", "user", "!hi:yes", None, None, _HOUR, "aligned"),
        "q11_precedence": (
            "avg", "app.purchase", "user",
            "user:3 AND k:1* OR user:4 AND k:2*", None, None, _HOUR, "aligned",
        ),
    }.items():
        qs[name] = entrymod._make_query(spec)
    qs["q01_avg_sum"] = entrymod._make_union_query(
        entrymod._UNION_SPEC["q01_avg_sum"][:2]
    )
    # q17's REGISTRATION now runs both greedy physical paths as kind
    # slices (driver bit-identity check); the bench keeps timing the
    # single-path operator so the trend stays comparable across rounds
    qs["q17_greedy_avg"] = entrymod._make_query(
        entrymod._SPEC["q17_greedy_avg"]
    )
    for name in headline:
        timings[name] = timed(lambda: qs[name](spark, sf_dir).collect())

    # r16 (VERDICT r15 item 5): the two-level greedy_slices decomposition
    # (aggregate.greedy_buckets_sliced) is correctness-pinned as q17's
    # kind=sliced driver slice but had no row demonstrating its
    # parallelism claim — time it against the one-task-per-group pass on
    # the SAME q17 spec (multi-group: 10 users), as an explicit pair.
    # pipe_greedy_single re-times the q17 single-path content under the
    # pair's own label so the comparison never rebinds if the q17
    # headline row's meaning evolves.
    def _greedy_builder():
        _k, _m, _g, _f, _s, _e, _gr, _md = entrymod._SPEC["q17_greedy_avg"]
        b = (
            getattr(Database.from_events(spark, sf_dir), _k)(_m, _g)
            .filter(_f)
            .granularity(_gr)
            .mode("greedy")
        )
        if _s is not None:
            b = b.start(_s)
        if _e is not None:
            b = b.end(_e)
        return b

    timings["pipe_greedy_single"] = timed(
        lambda: _greedy_builder().to_df().collect()
    )
    timings["pipe_greedy_sliced"] = timed(
        lambda: _greedy_builder()
        .greedy_slices(entrymod._GREEDY_SLICE_W)
        .to_df()
        .collect()
    )
    extra["pipe_greedy_slice_width_ns"] = entrymod._GREEDY_SLICE_W
    # r17 (VERDICT r16 item 3): the auto knob on the same q17 spec —
    # many small groups, so auto's sketch-sized stats pass picks the
    # single path; the row prices decision + chosen path against the
    # explicit pair above (its own label, never a rebind)
    timings["pipe_greedy_auto"] = timed(
        lambda: _greedy_builder().greedy_slices("auto").to_df().collect()
    )

    # ...and the decomposition's REGIME pair: ONE huge group (hour-
    # shifted x200 purchase copies -> ~4M points in a single group),
    # width 1 s — BELOW the data's median gap so the greedy rule closes
    # buckets and pass 1 finalizes segments in parallel (at widths
    # above the gap structure, no forced reset exists anywhere and the
    # sliced path degrades to the sequential stitch BY DESIGN —
    # aggregate.greedy_buckets_sliced docstring). The crossover is
    # group-size dependent: at x100/2M the pair ties (~3.5 s each, the
    # one-task python loop still fits the noise band); at x200/4M the
    # sliced path wins (~7.3 vs ~8.8 s measured) and the gap widens
    # with |group| since the single path is O(n) in ONE task. count()
    # not collect(): the result is ~1.7M buckets and driver transfer
    # would mask the operator. Input localCheckpointed so the pair
    # times the operators, not the shared scan+explode.
    from pyspark.sql import functions as _Fg

    from talna_spark.aggregate import greedy_buckets as _gb
    from talna_spark.aggregate import greedy_buckets_sliced as _gbs

    _HOUR_NS = 3_600_000_000_000
    pts1g = (
        points_from_events(spark, sf_dir, parallelism=int(cpus))
        .filter(_Fg.col("metric") == "app.purchase")
        .withColumn("_i", _Fg.explode(_Fg.sequence(_Fg.lit(0), _Fg.lit(199))))
        .withColumn("ts", _Fg.col("ts") + _Fg.col("_i") * _Fg.lit(_HOUR_NS))
        .drop("_i")
        .localCheckpoint()
    )
    _grp1g = _Fg.lit("all")
    timings["pipe_greedy1g_single"] = timed(
        lambda: _gb(pts1g, _grp1g, "avg", 10**9).count()
    )
    timings["pipe_greedy1g_sliced"] = timed(
        lambda: _gbs(pts1g, _grp1g, "avg", 10**9, _HOUR_NS).count()
    )
    pts1g.unpersist()

    # (d) overhead split: the SAME query plans at sf0.001 (100x less data)
    # measure Spark's fixed per-query job cost — scheduler, py4j, Arrow,
    # file listing. data_sec = sf - sf0.001 is the data-dependent part.
    # At sf0.1 every query sits near the overhead floor: the published
    # reference numbers (192 ms on 1B points, single embedded core) are a
    # different regime, and this split plus the 10x section below is the
    # same-regime evidence (r1 VERDICT item 4).
    # (r10: the per-query overhead/data split is recorded only at the
    # scale sections below — the main-sf copies were redundant with
    # them and the BENCH tail is size-limited)

    # (e) 10x / 100x scale-up: hour-shifted copies of the corpus (same
    # series, Nx density — the "higher ingest rate" axis) ingested once.
    # The published reference numbers (1.36M pts/s, 192 ms Q16 on 1B
    # points) are a data-dominated regime; at sf0.1 every number here sits
    # on Spark's fixed per-job floor instead. The 100x run (~10M points)
    # is the same-regime measurement the r2 verdict asked for: throughput
    # measured where data time dominates, plus an overhead/data split from
    # a zero-row twin of the same plan.
    from pyspark.sql import functions as _F

    def scale_section(mult: int, reps: int) -> None:
        # explode, not an N-way union: a union drags Nx32 partitions into
        # the ingest (persist, range-sampling and dedup all pay per-task
        # overhead on near-empty partitions); explode scales rows Nx with
        # the partition count flat — measured 2.5x faster at 100x
        ptsN = (
            pts.withColumn(
                "_i", _F.explode(_F.sequence(_F.lit(0), _F.lit(mult - 1)))
            )
            .withColumn(
                "ts", _F.col("ts") + _F.col("_i") * _F.lit(3_600_000_000_000)
            )
            .drop("_i")
        )
        p = f"scale{mult}_"
        runs, whsN = [], []
        # settle the PREVIOUS section's dirty pages before timing this
        # ingest: scale10's ~100 MB writeback otherwise races scale100's
        # ingest and halves its measured throughput run-to-run (observed
        # 1.44M vs 0.72M pts/s on identical code)
        os.sync()
        first_runs = []
        # peak-RSS sampling at the 100M-point scale only (VERDICT r14
        # item 4 — the regime nearest the reference's 1B-point sampler);
        # the max accumulates across reps
        rss_sampler = RssSampler() if mult == 1000 else None
        try:
            for _ in range(reps):  # min-of-N: an IO hiccup otherwise skews 5x
                if whsN:  # only the newest warehouse is queried below;
                    # freeing the old one keeps peak disk at ~1 warehouse
                    # (matters at mult=1000: ~0.8 GB each)
                    shutil.rmtree(whsN.pop(), ignore_errors=True)
                whN = tempfile.mkdtemp(prefix=f"talna_bench_wh{mult}_")
                whsN.append(whN)
                os.sync()  # settle the prior rep's writeback + unlink churn
                t0 = time.perf_counter()
                wdbN = Database.open(spark, whN)
                if rss_sampler is not None:
                    with rss_sampler:
                        wdbN.write_batch(ptsN, persist=False)
                else:
                    wdbN.write_batch(ptsN, persist=False)
                runs.append(time.perf_counter() - t0)
                # cold first call, probed PER REP (r10, VERDICT r9 item
                # 3): each rep has a fresh warehouse AND a fresh facade,
                # so both probes pay full file listing + Catalyst
                # analysis + execution with an empty prepared-plan
                # cache; min-of-N strips the one-time JVM codegen /
                # writeback noise that made the r9 single-shot number
                # swing 1.3 <-> 2.0 s on identical code. (The probe also
                # pre-warms nothing downstream: the queried warehouse is
                # the last rep's, whose own probe ran before any warm
                # timing below.)
                os.sync()
                t0 = time.perf_counter()
                (
                    wdbN.avg("app.purchase", "user")
                    .filter("user:9 OR user:8")
                    .start(entrymod.T_JAN24)
                    .to_df()
                    .collect()
                )
                first_runs.append(time.perf_counter() - t0)
            ingestN = min(runs)
            if rss_sampler is not None:
                extra[p + "ingest_peak_rss_mib"] = round(
                    rss_sampler.peak_mib, 1
                )
                extra[p + "ingest_peak_rss_breakdown"] = (
                    rss_sampler.breakdown()
                )
            extra[p + "q16_first_call_sec"] = round(min(first_runs), 4)
            # n_points (= n_points * mult) and scaling-vs-1x (= pps
            # ratio) are derivable — not recorded, the BENCH tail is
            # size-limited (VERDICT r9)
            extra[p + "ingest_sec"] = round(ingestN, 4)
            extra[p + "ingest_points_per_sec"] = round(
                n_points * mult / ingestN, 1
            )
            if mult == 1000:
                # r18 (VERDICT r17 item 2): the driver's core-count
                # scaling probe reads the timed `queries` dict, whose
                # sf0.1 rows all sit on fixed per-job latency (8v32
                # ratios ~1, tripping `suspect_cpus_ignored`). Promote
                # the one data-sized measurement the bench already takes
                # — the 100M-point ingest — into `queries` so the probe
                # sees a row that actually scales with cores (r17:
                # 984k pts/s at 8c vs 2.30M at 32c). ADDITIVE only: no
                # row removed/renamed/retimed; the `extra` twin stays
                # for longitudinal reads; the suite `value` grows by
                # this row's seconds (disclosed in OPTIMIZATION_r18.md).
                timings["ingest_scale1000"] = round(ingestN, 4)

            # settle dirty-page writeback from the ingest before timing
            # queries: a 10M-point write leaves hundreds of MB in flight,
            # and a query racing the flush reads 5-6x slower (measured
            # 0.42s -> 2.7s on identical code). The sync is one-time IO
            # attributed to neither phase.
            os.sync()
            # storage efficiency: facts bytes per point (reference: ~10
            # B/point incl. LZ4, README.md:55; zstd + ts-clustered row
            # groups land tighter)
            if mult >= 100:  # the data-dominated regime (the ~10.7
                # B/point BASELINE contract); small scales pad the tail
                fsz = sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _dn, fn in os.walk(f"{whN}/points") for f in fn
                )
                extra[p + "facts_bytes_per_point"] = round(
                    fsz / (n_points * mult), 2
                )
            extra[p + "reopen_sec"] = timed(
                lambda: Database.open(spark, whN), reps=3
            )

            def q16(start_ns: int):
                return (
                    wdbN.avg("app.purchase", "user")
                    .filter("user:9 OR user:8")
                    .start(start_ns)
                    .to_df()
                    .collect()
                )

            # repeat-query latency: identical builder signature hits the
            # facade plan cache (warmed by the per-rep cold probe above
            # — the dashboard / monitoring steady state)
            extra[p + "q16_warehouse_sec"] = timed(
                lambda: q16(entrymod.T_JAN24)
            )
            # fixed-cost floor: the SAME plan with start past the data's
            # max ts (base corpus ends 2024-01-31 + mult hour-shifts) —
            # every partition prunes, zero rows move; what remains is
            # scheduler + py4j + listing. data_sec is the residual that
            # actually scales with data, the number comparable across
            # regimes to the reference's 192 ms.
            far_ns = (1_706_745_600 + mult * 3_600 + 86_400) * 10**9
            if mult >= 100:  # the data-dominated sections; scale10's
                # split sits in the noise band (tail budget, r10)
                extra[p + "q16_overhead_sec"] = timed(lambda: q16(far_ns))
                extra[p + "q16_data_sec"] = round(
                    max(
                        0.0,
                        extra[p + "q16_warehouse_sec"]
                        - extra[p + "q16_overhead_sec"],
                    ),
                    4,
                )
            # prepared-plan latency: a latency-sensitive deployment builds
            # the DataFrame once and re-executes it (Spark plans are
            # reusable); this times collect() alone — Catalyst optimization
            # and execution stay inside the timed region, only the py4j
            # builder chatter moves out. The number comparable to the
            # reference's embedded-engine query latency.
            q16_df = (
                wdbN.avg("app.purchase", "user")
                .filter("user:9 OR user:8")
                .start(entrymod.T_JAN24)
                .to_df()
            )
            extra[p + "q16_prepared_sec"] = timed(lambda: q16_df.collect())
            # cold-path decomposition (r6, VERDICT r5 item 9): the first
            # call is plan BUILD (py4j builder chatter + Catalyst
            # analysis, measured here with cache-missing signatures — a
            # distinct start bound each rep) + EXECUTION (the prepared
            # number above). build + prepared ~ first_call documents
            # where the cold latency lives.
            def build_only(i: int):
                (
                    wdbN.avg("app.purchase", "user")
                    .filter("user:9 OR user:8")
                    .start(entrymod.T_JAN24 + 1 + i)
                    .to_df()
                )

            t0 = time.perf_counter()
            for _i in range(3):
                build_only(_i)
            extra[p + "q16_plan_build_sec"] = round(
                (time.perf_counter() - t0) / 3, 4
            )
            # r17 (VERDICT r16 item 2): scale1000_q16_prepared_sec
            # drifted +47% in r16 and landed SLOWER than the warehouse
            # path that executes the same plan — an ordering suspect
            # (prepared is always measured AFTER ~10 warehouse/overhead
            # collects). Re-measure the pair once in SWAPPED order, same
            # timed() min-of-N: if prepared_swap ~ warehouse and
            # warehouse_swap ~ prepared, the drift is measurement
            # position at the overhead floor, not the path; if prepared
            # stays slow in both positions, it is real and gets an
            # interleaved A/B (scripts/ab.py).
            if mult == 1000:
                q16_df_swap = (
                    wdbN.avg("app.purchase", "user")
                    .filter("user:9 OR user:8")
                    .start(entrymod.T_JAN24)
                    .to_df()
                )
                extra[p + "q16_prepared_swap_sec"] = timed(
                    lambda: q16_df_swap.collect()
                )
                extra[p + "q16_warehouse_swap_sec"] = timed(
                    lambda: q16(entrymod.T_JAN24)
                )
        finally:
            for w in whsN:
                shutil.rmtree(w, ignore_errors=True)

    # (e2) LLM-pipeline operators at sf (documents/embeddings tables):
    # the training-data side of the engine, timed like the query suite
    if os.path.exists(f"{sf_dir}/documents.parquet"):
        pipe = {
            "pipe_dedup_exact": "x05_dedup_exact",
            "pipe_bm25": "q39_bm25",
            "pipe_curate": "q41_curate",
            "pipe_mixture": "x23_mixture_sample",
        }
        # r14 (VERDICT r13 item 2): x07 became a 2-slice union in r13
        # (full + bbit banding), so timing the driver row re-ran the
        # pipe_ann_ivf trap bench.py documents below — BENCH_r13's
        # 1.20->2.80 s "regression" was the rebind, not the operator.
        # Each slice now gets its own row (the pipe_pq precedent);
        # pipe_lsh_pairs keeps its historical meaning (full-width only).
        from talna_spark.pipeline import dedup as _dedup_mod

        qs["_bench_lsh_full"] = _dedup_mod.lsh_near_dup_pairs
        pipe["pipe_lsh_pairs"] = "_bench_lsh_full"
        qs["_bench_lsh_bbit"] = lambda spark, sf_dir: (
            _dedup_mod.lsh_near_dup_pairs(
                spark, sf_dir, band_bits=_dedup_mod.LSH_BBIT_DEFAULT
            )
        )
        pipe["pipe_lsh_bbit"] = "_bench_lsh_bbit"
        # the x23 row is a kind-union; record its slice count so the
        # timing is interpretable across rounds (r6 ADVICE precedent —
        # r9 adds the `alpha` temperature-mixture slice)
        # r6 (VERDICT r5 item 6 + ADVICE): pipe_ann_ivf times ONLY the
        # ivf operator again (r5 silently rebound it to the ivf+pq
        # union, reading as a regression); pq gets its own row.
        from talna_spark.pipeline import similarity as _simm

        qs["_bench_ivf"] = _simm.ivf_topk
        pipe["pipe_ann_ivf"] = "_bench_ivf"
        qs["_bench_pq"] = _simm.pq_topk
        pipe["pipe_pq"] = "_bench_pq"
        # the former per-operator parallelism lambdas are gone (r6):
        # TALNA_MIN_SCAN_TASKS (set above) fans these scans out inside
        # the operators themselves
        from talna_spark.pipeline.dedup import (
            dup_spans as _dup_spans, paragraph_dedup as _pdedup,
        )
        from talna_spark.pipeline.sampling import dsir_select as _dsir
        from talna_spark.pipeline.text import lm_score_bigram as _lm2

        qs["_bench_dup_spans"] = _dup_spans
        pipe["pipe_dup_spans"] = "_bench_dup_spans"
        qs["_bench_dsir"] = _dsir
        pipe["pipe_dsir"] = "_bench_dsir"
        qs["_bench_paragraph"] = _pdedup
        pipe["pipe_paragraph_dedup"] = "_bench_paragraph"
        qs["_bench_lm2"] = _lm2
        pipe["pipe_lm2"] = "_bench_lm2"
        from talna_spark.pipeline.text import lm_score_trigram_kn as _lm3

        qs["_bench_lm3"] = _lm3
        pipe["pipe_lm3"] = "_bench_lm3"
        # r6 (ADVICE): the full-battery row is RENAMED from the r4-era
        # pipe_lm_score label (which had silently grown from 3 to 5
        # slices) and records its slice count so historical rows are
        # never conflated.
        # r10: pipe_quality_battery keeps timing the r9 7-slice
        # registration content (the new pplbucket slice re-runs an lm
        # pass the battery trend must not absorb)
        def _bench_battery_r9(spark, sf_dir):
            return entrymod._x22_quality_scoring(
                spark, sf_dir, include_pplbucket=False
            )

        qs["_bench_battery_r9"] = _bench_battery_r9
        pipe["pipe_quality_battery"] = "_bench_battery_r9"
        from talna_spark.pipeline.multimodal import pdf_extract as _pdfx

        qs["_bench_pdf"] = _pdfx
        pipe["pipe_pdf_extract"] = "_bench_pdf"
        # r6: train the hashing-trick quality classifier (5 GD rounds,
        # synthetic labels from doc_id parity) — times the iterative
        # broadcast-model/driver-update loop, not just a scan
        from pyspark.sql import functions as _Fc

        from talna_spark.pipeline.classifier import train_classifier as _clf_train
        from talna_spark.pipeline.scan import read_documents as _read_docs

        def _bench_clf_train(spark, sf_dir):
            docs = _read_docs(spark, sf_dir, "doc_id", "text")
            labels = docs.select(
                "doc_id", (_Fc.col("doc_id") % 2).cast("double").alias("y")
            )
            m = _clf_train(docs, labels, n_features=1024, iters=5, lr=4.0)
            return spark.createDataFrame(
                [(float(m["loss_history"][-1]),)], "final_loss double"
            )

        qs["_bench_clf_train"] = _bench_clf_train
        pipe["pipe_clf_train"] = "_bench_clf_train"
        # record the training config so the row is interpretable across
        # rounds (an iterative loop's wall time means nothing without it)
        # r6: SRP document embeddings (the documents -> ANN bridge)
        from talna_spark.pipeline.similarity import srp_embed_documents as _srp

        qs["_bench_srp"] = _srp
        pipe["pipe_srp_embed"] = "_bench_srp"
        # r9 (VERDICT r8 item 7): byte-level BPE end-to-end — train the
        # GPT-2-style byte BPE, encode every doc, FFD-pack by byte-BPE
        # length — so the r8 mode's cost is tracked round over round
        from talna_spark.pipeline.packing import tokenize_pack as _tok_pack

        def _bench_tokenize_pack_byte(spark, sf_dir):
            return _tok_pack(spark, sf_dir, n_merges=30, mode="byte")

        qs["_bench_tokenize_pack_byte"] = _bench_tokenize_pack_byte
        pipe["pipe_tokenize_pack_byte"] = "_bench_tokenize_pack_byte"
        # r10 (VERDICT r9 item 1): unigram-LM end-to-end — seed, EM
        # rounds with pruning, encode, FFD-pack by unigram length
        def _bench_tokenize_pack_unigram(spark, sf_dir):
            return _tok_pack(spark, sf_dir, mode="unigram")

        qs["_bench_tokenize_pack_unigram"] = _bench_tokenize_pack_unigram
        pipe["pipe_tokenize_pack_unigram"] = "_bench_tokenize_pack_unigram"
        # r9: learned language-ID scoring (demo weights — the same
        # char-gram featurize + broadcast-weight argmax plan a trained
        # model runs)
        from talna_spark.pipeline.text import lang_id_learned as _lid

        qs["_bench_langid_learned"] = _lid
        pipe["pipe_langid_learned"] = "_bench_langid_learned"
        # r10: pipe_mixture keeps timing the r9 5-slice registration
        # content (the new doremi slice is timed on its own row — it
        # adds two LM-scorer passes the mixture trend must not absorb)
        def _bench_mixture_r9(spark, sf_dir):
            return entrymod._x23_mixture_sample(
                spark, sf_dir, include_doremi=False
            )

        qs["_bench_mixture_r9"] = _bench_mixture_r9
        pipe["pipe_mixture"] = "_bench_mixture_r9"
        from talna_spark.pipeline.sampling import (
            doremi_mixture_sample as _doremi,
        )

        qs["_bench_doremi"] = _doremi
        pipe["pipe_doremi"] = "_bench_doremi"
        # r10: composed IVF-PQ — the production index shape
        from talna_spark.pipeline.similarity import ivfpq_topk as _ivfpq

        qs["_bench_ivfpq"] = _ivfpq
        pipe["pipe_ivfpq"] = "_bench_ivfpq"
        # r11: residual-encoded IVF-PQ — the published FAISS coding
        from talna_spark.pipeline.similarity import (
            ivfpq_residual_topk as _resivfpq,
        )

        qs["_bench_resivfpq"] = _resivfpq
        pipe["pipe_resivfpq"] = "_bench_resivfpq"
        # r11: WordPiece end-to-end — likelihood merges, longest-match
        # encode, FFD-pack by WordPiece length (the third family's cost
        # tracked next to byte-BPE and unigram)
        def _bench_tokenize_pack_wordpiece(spark, sf_dir):
            return _tok_pack(spark, sf_dir, n_merges=30, mode="wordpiece")

        qs["_bench_tokenize_pack_wordpiece"] = _bench_tokenize_pack_wordpiece
        pipe["pipe_tokenize_pack_wordpiece"] = "_bench_tokenize_pack_wordpiece"
        # r12: WebDataset tar shard write + read-back (the x24 wds layer
        # end-to-end, its own scratch dir per call)
        from talna_spark.sources.webdataset import (
            roundtrip_layer as _wds_roundtrip,
        )

        qs["_bench_wds_roundtrip"] = _wds_roundtrip
        pipe["pipe_wds_roundtrip"] = "_bench_wds_roundtrip"
        # r12: incremental dedup with the Bloom exact-path prefilter ON
        # vs OFF — identical results by construction; the pair records
        # the prefilter's cost/benefit at this scale. EXPECTED SIGN at
        # sf0.1: ON is ~1.5-2 s SLOWER (measured 7.1 vs 5.1-5.6 s
        # min-of-2) — ON builds the bitmap in the timed call (a full
        # ref pass exchanging ~k probe rows per ref doc) and folds the
        # 1024-word literal per new doc, while the exact join it
        # shrinks is tiny at 10k docs. A bitmap used once does not pay
        # for its build (crossover rule on dedup_against_frames); read
        # this pair as overhead accounting. The pair BELOW
        # (pipe_bloom_amortized*) reuses one bitmap across batches.
        from talna_spark.pipeline.dedup import (
            bloom_build as _bloom_build,
            dedup_against_frames as _daf,
        )

        def _bench_bloom_dedup(spark, sf_dir, bloom=True):
            from pyspark.sql import functions as _Fb

            d = _read_docs(spark, sf_dir, "doc_id", "text")
            ref = d.filter(_Fb.col("doc_id") % 3 == 0)
            bm = (
                _bloom_build(ref.select(_Fb.md5("text").alias("_h")), "_h")
                if bloom
                else None
            )
            return _daf(
                new_d=d.filter(_Fb.col("doc_id") % 3 != 0),
                ref_d=ref,
                bloom_bm=bm,
            )

        qs["_bench_bloom_dedup"] = _bench_bloom_dedup
        pipe["pipe_bloom_dedup"] = "_bench_bloom_dedup"

        def _bench_bloom_dedup_off(spark, sf_dir):
            return _bench_bloom_dedup(spark, sf_dir, bloom=False)

        qs["_bench_bloom_dedup_off"] = _bench_bloom_dedup_off
        pipe["pipe_bloom_dedup_off"] = "_bench_bloom_dedup_off"

        # r13: the configuration the bitmap is built for — it AMORTIZES
        # across batches (the recurring-crawl workflow; one-shot it is
        # strictly overhead, see the pair above and the crossover rule
        # on dedup_against_frames). Reference = documents salted x800
        # (~4M distinct hashes — big enough that the per-batch distinct
        # exchange actually bites; at x200/1M rows the exchange is
        # task-overhead-cheap on local[32] and on == off); THREE 5k-doc
        # batches, each 50% true exact dups. ON: bloom_build once
        # (checkpointed; k=2 is near-optimal at m/R ~ 4.2 — fp 14%,
        # half the probe exchange of k=4), then each batch is
        # exact_dedup_against_bloom — map-side gate + candidate-sized
        # broadcasts, ZERO ref shuffle. OFF: each batch pays md5 +
        # distinct + a 4M-row semi-join. Batches run as SEPARATE
        # actions (like real crawls) so the OFF exchanges cannot be
        # reused across batches. m = 2^24 is the join regime (m/64 >
        # BLOOM_LITERAL_WORDS). EXPECTED SIGN: near parity, either way.
        # Two interleaved rounds at this shape (sf0.1, local[4]) read
        # build 10.9 s / 6.8 s (5 jobs) and per batch ON 2.8-4.9 s (13
        # jobs) vs OFF 6.7-10.4 s (6 jobs), ON faster in 6/6 pairs by
        # ~4 s: the build is repaid in 2-3 batches, and this row runs
        # exactly 3, so load decides its sign (the r18 bench round read
        # ON 30.99 s vs OFF 14.81 s).
        _BLOOM_AM_M = 1 << 24
        _BLOOM_AM_K = 2
        _BLOOM_AM_MULT = 800
        _BLOOM_AM_BATCHES = 3

        def _bloom_am_docs(spark, sf_dir):
            from talna_spark.pipeline.dedup import fan_out as _fan

            # fan_out: the 5k-doc parquet is one row group; without it
            # every map-side pass (explode, md5, bitmap probes) runs on
            # ONE task and the comparison measures nothing
            return _fan(_read_docs(spark, sf_dir, "doc_id", "text"))

        def _bloom_am_ref(spark, sf_dir):
            from pyspark.sql import functions as _Fb

            return _bloom_am_docs(spark, sf_dir).select(
                "doc_id",
                "text",
                _Fb.explode(
                    _Fb.sequence(_Fb.lit(0), _Fb.lit(_BLOOM_AM_MULT - 1))
                ).alias("_s"),
            ).select(
                (_Fb.col("doc_id") * _BLOOM_AM_MULT + _Fb.col("_s")).alias(
                    "doc_id"
                ),
                _Fb.when(_Fb.col("_s") == 0, _Fb.col("text"))
                .otherwise(
                    _Fb.concat_ws(
                        "|", _Fb.col("_s").cast("string"), _Fb.col("text")
                    )
                )
                .alias("text"),
            )

        def _bloom_am_batch(spark, sf_dir, b):
            # even doc_ids keep the original text (present in ref via
            # salt 0 -> true dups); odd ones get a per-batch salt (new)
            from pyspark.sql import functions as _Fb

            return _bloom_am_docs(spark, sf_dir).select(
                "doc_id",
                _Fb.when(_Fb.col("doc_id") % 2 == 0, _Fb.col("text"))
                .otherwise(
                    _Fb.concat_ws("|", _Fb.lit(f"batch{b}"), _Fb.col("text"))
                )
                .alias("text"),
            )

        def _bench_bloom_amortized(spark, sf_dir):
            from pyspark.sql import functions as _Fb

            from talna_spark.pipeline.dedup import (
                bloom_build as _bb,
                exact_dedup_against_bloom as _eda,
            )

            ref = _bloom_am_ref(spark, sf_dir)
            bm = _bb(
                ref.select(_Fb.md5("text").alias("_h")),
                "_h",
                m=_BLOOM_AM_M,
                k=_BLOOM_AM_K,
            ).localCheckpoint()  # built ONCE; batches reuse the bitmap
            tot = 0
            for b in range(_BLOOM_AM_BATCHES):
                flags = _eda(
                    _bloom_am_batch(spark, sf_dir, b),
                    ref,
                    bm,
                    m=_BLOOM_AM_M,
                    k=_BLOOM_AM_K,
                )
                tot += flags.filter("exact_dup").count()
            assert tot > 0, "amortized bloom dedup found no dups"
            return spark.createDataFrame([(tot,)], "n_exact long")

        def _bench_bloom_amortized_off(spark, sf_dir):
            from pyspark.sql import functions as _Fb

            ref = _bloom_am_ref(spark, sf_dir)
            tot = 0
            for b in range(_BLOOM_AM_BATCHES):
                nh = _bloom_am_batch(spark, sf_dir, b).select(
                    "doc_id", _Fb.md5("text").alias("_h")
                )
                tot += nh.join(
                    ref.select(_Fb.md5("text").alias("_h")).distinct(),
                    "_h",
                    "left_semi",
                ).count()
            assert tot > 0, "plain amortized-off dedup found no dups"
            return spark.createDataFrame([(tot,)], "n_exact long")

        qs["_bench_bloom_amortized"] = _bench_bloom_amortized
        pipe["pipe_bloom_amortized"] = "_bench_bloom_amortized"
        qs["_bench_bloom_amortized_off"] = _bench_bloom_amortized_off
        pipe["pipe_bloom_amortized_off"] = "_bench_bloom_amortized_off"
        # r13: hard token-budget sampling — tracks the distributed
        # two-phase prefix sum (range-bucket sums + tiny bucket-prefix
        # window + (source, bucket)-partitioned cumsums) round over round
        from talna_spark.pipeline.sampling import (
            token_budget_sample as _tbudget,
        )

        qs["_bench_tbudget"] = _tbudget
        pipe["pipe_tbudget"] = "_bench_tbudget"

        # r13: the full mergeable-sketch family in ONE corpus pass over
        # the exploded word-3-shingle stream (the synth corpus's plain
        # tokens have a ~31-word vocabulary — shingles restore the
        # high-cardinality regime the sketches exist for) — CMS cells,
        # LC bitmap, HLL registers, bottom-k + KMV cardinality; wall =
        # four bounded hash-aggs whose shuffles are sketch-sized,
        # never corpus-keyed
        def _bench_sketch_family(spark, sf_dir):
            from pyspark.sql import functions as _Fs

            from talna_spark.pipeline.portable import (
                shingles as _shg,
                tokens as _tok,
            )
            from talna_spark.pipeline.scan import fan_out as _fan_docs
            from talna_spark.pipeline.sketches import (
                bk_build,
                bk_cardinality,
                cms_build,
                hll_build,
                hll_estimate,
                lc_build,
                lc_estimate,
            )

            # r17: fan the input stream out like every other pipe row —
            # the tokenize + shingle explode feeding all four sketches
            # otherwise ran on ONE task on the single-row-group bench
            # file (the operator costs being tracked are the sketch
            # hash-aggs, not a serialized input prep)
            toks = (
                _fan_docs(_read_docs(spark, sf_dir, "doc_id", "text"))
                .select(_tok(_Fs.col("text")).alias("_w"))
                .localCheckpoint(eager=False)
                .select(_Fs.explode(_shg(_Fs.col("_w"), 3)).alias("v"))
                .localCheckpoint(eager=False)
            )
            cms_n = cms_build(toks, "v").count()
            lc_row = lc_estimate(lc_build(toks, "v")).collect()[0]
            hll_row = hll_estimate(hll_build(toks, "v")).collect()[0]
            kmv_row = bk_cardinality(bk_build(toks, "v")).collect()[0]
            assert cms_n > 0 and kmv_row["est"] and hll_row["est"]
            # lc saturates past its bitmap and estimates NULL "loudly" —
            # a NULL here must fail the row, not post a silent timing
            assert lc_row["est"] is not None, "lc bitmap saturated"
            return spark.createDataFrame(
                [(cms_n, lc_row["est"], hll_row["est"], kmv_row["est"])],
                "cms_cells long, lc_est double, hll_est double, "
                "kmv_est double",
            )

        qs["_bench_sketch_family"] = _bench_sketch_family
        pipe["pipe_sketch_family"] = "_bench_sketch_family"

        # r13: Megatron .bin/.idx token-shard sink round trip (write +
        # read + verify join) — the binary-artifact analog of
        # pipe_wds_roundtrip
        from talna_spark.sources.megatron import (
            mm_roundtrip_layer as _mm_rt,
        )

        qs["_bench_mm_roundtrip"] = _mm_rt
        pipe["pipe_mm_roundtrip"] = "_bench_mm_roundtrip"
        for label, key in pipe.items():
            # assert non-empty inside the timed closure: a silently-empty
            # pipeline result must fail the bench, not post a fast number
            def run(key=key):
                rows = qs[key](spark, sf_dir).collect()
                assert rows, f"{key} returned 0 rows — refusing to record timing"

            extra[label + "_sec"] = timed(run)

    scale_section(10, REPS)
    # ~10M points, 2 reps: the min-of-2 is the JIT-warm steady-state run
    # — the regime the reference's billion-point number was measured in
    scale_section(100, REPS)
    # 1000x (~100M points, ~1 GB warehouse): the configuration behind
    # SURVEY §6's large-scale throughput claim. r6: ON BY DEFAULT so the
    # driver artifact reproduces the claim (VERDICT r5 item 2); set
    # SPARK_GRAFT_SCALE1000=0 to opt out. Guard: needs scratch disk.
    if os.environ.get("SPARK_GRAFT_SCALE1000", "1") != "0":
        free = shutil.disk_usage(tempfile.gettempdir()).free
        # r8 (VERDICT r7 item 2): a single cold pass swung the headline
        # ±35% round-to-round (r6 2.01M vs r7 1.31M pts/s on identical
        # ingest code). min-of-2 with the existing os.sync() settle makes
        # the published number the JIT-warm steady state, same as
        # scale10/100. Each rep rmtree's the previous warehouse before
        # writing, so peak disk is ~1 warehouse (~0.8 GB); 2 GiB = one
        # warehouse plus slack (ADVICE r8: the old 4 GiB guard was sized
        # for two concurrent warehouses that no longer coexist).
        if free >= 2 * 1024**3:
            scale_section(1000, 2)
        elif free >= 1 * 1024**3:
            scale_section(1000, 1)
            extra["scale1000_single_rep_low_disk"] = round(free / 1024**3, 2)
        else:
            extra["scale1000_skipped_low_disk"] = round(free / 1024**3, 2)
    # headline ratios vs BASELINE.md (reference README.md:50-55): best
    # measured throughput over all scales / 1.362M pts/s (r6: includes
    # the now-default scale1000 section — the closest-regime number)
    best_pps = max(
        extra.get("scale1000_ingest_points_per_sec", 0.0),
        extra.get("scale100_ingest_points_per_sec", 0.0),
        extra.get("scale10_ingest_points_per_sec", 0.0),
        extra["ingest_points_per_sec"],
    )
    extra["ingest_frac_of_baseline_best"] = round(best_pps / 1_362_000.0, 3)

    total = round(sum(timings.values()), 4)
    # two-line output (see compact_bench_record above): full record
    # first, budgeted compact record LAST for the driver's tail parse
    print(
        json.dumps(
            {
                "metric": "talna_spark e2e suite (full record)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extra": extra,
            },
            separators=(",", ":"),
        )
    )
    print(compact_bench_record(timings, extra, sf, total))
    spark.stop()


if __name__ == "__main__":
    main()
