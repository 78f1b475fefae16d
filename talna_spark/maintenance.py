"""Warehouse maintenance jobs: series-dimension compaction, fact-table
clustering and retention.

The reference maintains its smap/tidx/tags partitions transactionally per
write (src/db.rs:352-400) because it is an embedded single-writer store.
A cluster warehouse instead appends cheaply and compacts periodically —
the classic LSM-to-lakehouse translation of the same idea. On a real
deployment these writes would go through a transactional table format
(Delta/Iceberg) instead of the directory swap used here; the job shapes
are identical.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def compact_series(spark: SparkSession, warehouse_path: str) -> None:
    """Rewrite the append-only series dimension as a single deduplicated
    parquet (bounded: one row per live series)."""
    from talna_spark.ingest import read_series_dim

    src = os.path.join(warehouse_path, "series")
    if not os.path.exists(src):
        return
    tmp = os.path.join(warehouse_path, "series__compact_tmp")
    (
        read_series_dim(spark, warehouse_path)
        # repartition by metric, not coalesce(1): a single-task single-file
        # rewrite caps out at billions of series; per-metric files keep the
        # job parallel and bounded
        .repartition("metric")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(tmp)
    )
    old = os.path.join(warehouse_path, "series__old")
    os.rename(src, old)
    os.rename(tmp, src)
    shutil.rmtree(old, ignore_errors=True)
    # uniqueness marker: read_series_dim skips its dedup shuffle while this
    # holds; the next append invalidates it (underscore prefix = invisible
    # to Spark's parquet reader)
    with open(os.path.join(src, "_UNIQUE"), "w"):
        pass


def compact_facts(spark: SparkSession, warehouse_path: str) -> None:
    """Rewrite the fact table clustered by (series_id, ts DESC) within each
    (metric, ts_day) partition.

    This is the lakehouse analog of the reference's LSM compaction (fjall's
    background merge of sorted runs): appended batches leave each partition
    as several unsorted files; after clustering, parquet row-group min/max
    stats on ``series_id`` let a narrow filter (few matched series) skip
    most row groups inside a day, and DESC ``ts`` matches the engine's
    newest-first read bias (reference key negation, src/db.rs:106).
    """
    from talna_spark.ingest import read_facts

    src = os.path.join(warehouse_path, "points")
    if not os.path.exists(src):
        return
    tmp = os.path.join(warehouse_path, "points__compact_tmp")
    # Last-writer-wins on duplicate (series, ts) keys — the reference's LSM
    # upsert (insert replaces, src/db.rs:342-343), realized here exactly
    # like an LSM realizes it: at compaction. max_by picks the newest
    # batch's value (null ingest_seq = pre-column data = oldest; equal-seq
    # intra-batch duplicates tie-break by max value for determinism — a
    # DataFrame batch has no row order to replay). One hash aggregate with
    # map-side partial combine; no window shuffle.
    deduped = read_facts(spark, warehouse_path).groupBy(
        "metric", "ts_day", "series_id", "ts"
    ).agg(
        F.max_by("value", F.struct("ingest_seq", "value")).alias("value"),
        F.max("ingest_seq").alias("ingest_seq"),
    )
    (
        deduped.select("series_id", "ts", "value", "ingest_seq", "metric", "ts_day")
        .repartition(F.col("metric"), F.col("ts_day"))
        .sortWithinPartitions("series_id", F.desc("ts"))
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("metric", "ts_day")
        .parquet(tmp)
    )
    old = os.path.join(warehouse_path, "points__old")
    os.rename(src, old)
    os.rename(tmp, src)
    shutil.rmtree(old, ignore_errors=True)
    # point dedup may change the visible multiset in unknown partitions ->
    # rollups are stale and the next refresh must be a full rebuild
    import glob

    from talna_spark.rollup import FULL_REBUILD, append_changelog

    for fresh in glob.glob(os.path.join(warehouse_path, "rollup_*", "_FRESH")):
        os.remove(fresh)
    append_changelog(warehouse_path, [(FULL_REBUILD, FULL_REBUILD)])


def expire(spark: SparkSession, warehouse_path: str, cutoff_ns: int) -> int:
    """Retention: drop every (metric, ts_day) fact partition whose day ends
    BEFORE the cutoff timestamp — the TTL operation the reference lacks
    entirely (an LSM would need tombstones + compaction; a partitioned
    lakehouse deletes directory metadata, rewriting nothing).

    Day-granular by design: the cutoff's own day is always retained, so no
    partial-day rewrite ever happens. The same days are dropped from every
    materialized rollup (same (metric, ts_day) layout) so rollup-path
    queries cannot resurrect expired data. The series dim is left a
    superset (harmless: queries join it to facts); the next
    ``compact()`` shrinks it. Returns the number of partition
    directories removed.

    At scale this is a pure metadata operation per partition directory —
    O(days x metrics) filesystem deletes, zero data scanned; on
    Delta/Iceberg it maps to ``DELETE WHERE ts_day < cutoff`` metadata
    actions.
    """
    import glob

    from talna_spark.timeutil import ns_to_day

    cutoff_day = ns_to_day(int(cutoff_ns))
    removed = 0
    tables = [os.path.join(warehouse_path, "points")] + sorted(
        glob.glob(os.path.join(warehouse_path, "rollup_*"))
    )
    for table in tables:
        if not os.path.isdir(table):
            continue
        for daydir in glob.glob(os.path.join(table, "metric=*", "ts_day=*")):
            day = os.path.basename(daydir).split("=", 1)[1]
            if day < cutoff_day:  # ISO dates sort lexicographically
                # raise on failure rather than report retention that did
                # not happen (a TTL claiming success on failure is worse
                # than an error)
                shutil.rmtree(daydir)
                removed += 1
        # drop metric dirs left empty so partition discovery stays clean
        for mdir in glob.glob(os.path.join(table, "metric=*")):
            if not os.listdir(mdir):
                os.rmdir(mdir)
    return removed


def compact(spark: SparkSession, warehouse_path: str) -> None:
    """Full maintenance pass: dedupe the series dim (queries then select
    series from it with no dedup shuffle) and cluster the fact table."""
    compact_series(spark, warehouse_path)
    compact_facts(spark, warehouse_path)
