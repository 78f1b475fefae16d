"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard_read --seed 1 \
        --seconds 6 --trace 0

Runs one workload against the ``talna_spark`` package of the checkout
this file sits in. Prints a report (one metric per line, with unit and
sample count), then, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs with spans, job
groups and the Spark event log on and reports the per-layer metrics.
The full record (report, calibration, spans) is written under
``perfbench/.out/``; scratch data lives in ``perfbench/.work/`` and is
removed when the run ends.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None) -> argparse.Namespace:
    import report

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=report.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str, cores: int, trace: bool):
    """A local session whose scratch files all stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # the pipeline's compute-in-scan operators spread a single-file
    # source over this many tasks (talna_spark.pipeline.scan)
    os.environ["TALNA_MIN_SCAN_TASKS"] = str(cores)
    import tempfile

    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        # -Xms equal to the heap limit: the heap does not grow during a
        # run, so peak PSS does not depend on when the GC chose to grow it
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "sql-warehouse"))
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    if trace:
        from tracing import event_log_conf

        for k, v in event_log_conf(os.path.join(work, "events")).items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import talna_spark  # noqa: F401  fails here when the package is absent

    import report
    from tracing import Tracer, read_event_log
    from workloads import WORKLOADS, Ctx

    # two cores: the workloads are dominated by per-job and first-call
    # costs, which run faster and steadier on a 4-core host with cores
    # left for the JIT, the GC and the benchmark's own driver
    cores = max(1, min(2, os.cpu_count() or 1))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        spark = start_session(work, cores, bool(args.trace))
        try:
            tracer = Tracer(spark, bool(args.trace))
            ctx = Ctx(spark, args.seed, args.seconds, tracer, work, cores, T_PROCESS)
            ctx.log("session up")
            run = WORKLOADS[args.workload](ctx)
        finally:
            stop_session(spark)
        ctx.log("session stopped")
        run.spans = tracer.spans
        if args.trace:
            metrics = report.per_layer(run, read_event_log(os.path.join(work, "events")))
        else:
            metrics = report.end_to_end(run)
        lines = report.report_lines(run, metrics, bool(args.trace))
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump({"args": vars(args), "report": lines, "metrics": metrics,
                       "calibration_s": run.calibration_s, "op_s": run.op_s,
                       "samples": run.samples, "failures": run.failures}, f, indent=1)
        if args.trace:
            tracer.dump(stem + "-spans.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))
    print(report.result_line(run, metrics, bool(args.trace)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
