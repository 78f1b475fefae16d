"""Batch ingest into the partitioned warehouse (reference write path,
src/db.rs:319-400, operators O5-O7 — re-expressed as one declarative job).

Identity derivation (SURVEY.md §1.4):
- ``series_key`` = canonical ``metric#k1:v1;k2:v2`` with tags sorted by key
  (reference src/series_key.rs:20-41) — built with map_entries ->
  sort_array -> transform -> array_join, all JVM-side builtins.
- ``series_id`` = ``xxhash64(series_key)`` — deterministic and cluster-safe,
  replacing the reference's non-atomic partition-length counter (its own
  TODO at src/db.rs:376). No coordination, no sequence bottleneck at scale.

Layout:
- ``{path}/points`` parquet partitioned by (metric, ts_day): metric pruning
  ≙ the reference's per-metric postings scoping; ts_day pruning ≙ its
  time-range key bounds (src/db.rs:129-146). zstd + 128 MB row groups.
- ``{path}/series`` parquet append-only; deduplicated on read until
  ``maintenance.compact_series`` rewrites it. One row per distinct
  series — small by construction — and the only table queries select
  series from.

Out-of-order / late points need no special handling: append lands them in
their (metric, ts_day) partition and queries see them immediately — the
same behavior as the reference's LSM insert at key position
(src/db.rs:342-343).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Target rows per ingest write task: ~4M points ≈ 40-130 MB zstd parquet
# (reference measures ~10 B/point, README.md:55) — near the 128 MB
# row-group target without starving parallelism.
_ROWS_PER_WRITE_TASK = 4_000_000


def next_ingest_seq(path: str) -> int:
    """Monotonic per-warehouse batch sequence for last-writer-wins
    ordering (the reference's LSM seqno, src/db.rs:342-343).

    A wall-clock stamp alone breaks when two batches land in the same
    nanosecond (or a second driver's clock is skewed): compaction would
    tie-break by value instead of arrival. The sequence file makes
    arrival order explicit; seeding at the current wall clock keeps it
    monotonic over warehouses whose earlier batches were stamped with
    raw time_ns values. On a transactional table format this would be
    the commit version number.

    The read-modify-write holds an exclusive ``flock`` on a sidecar lock
    file, so two concurrent writers (threads or drivers on one host)
    can't mint the same sequence. Cross-host writers on a network FS are
    still the documented single-writer assumption (flock over NFS is
    advisory at best) — same caveat as the changelog.
    """
    import os
    import time

    os.makedirs(path, exist_ok=True)
    seq_file = os.path.join(path, "_SEQ")
    lock_file = seq_file + ".lock"
    lock_fd = os.open(lock_file, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        try:
            import fcntl

            fcntl.flock(lock_fd, fcntl.LOCK_EX)
        except ImportError:  # non-POSIX: keep the single-writer contract
            pass
        last = 0
        if os.path.exists(seq_file):
            with open(seq_file) as f:
                last = int(f.read().strip() or 0)
        nxt = max(last + 1, time.time_ns())
        tmp = seq_file + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(nxt))
        os.replace(tmp, seq_file)  # atomic: a crash never truncates the file
        return nxt
    finally:
        os.close(lock_fd)  # closing releases the flock


def write_fanout(n_rows: int, default_parallelism: int) -> int:
    """Shuffle partition count for the points write.

    Scales with batch size (one ~row-group-sized file per task at cluster
    scale) but never below a small floor: a micro-batch still fans out
    across the (metric, day) output dirs instead of one task writing them
    all sequentially (measured 3-4x slower), and AQE's byte-based
    coalescing — which would collapse this tiny shuffle to 1-2 tasks — is
    bypassed by passing the count explicitly.
    """
    floor = max(1, min(16, default_parallelism))
    return max(floor, -(-n_rows // _ROWS_PER_WRITE_TASK))


def series_key_from_entries(metric: Column, entries: Column) -> Column:
    """Canonical series key from pre-sorted map entries (the array form
    of the tags map — used where the map has already been converted for
    hash-aggregability)."""
    joined = F.array_join(
        F.transform(entries, lambda e: F.concat(e["key"], F.lit(":"), e["value"])),
        ";",
    )
    return F.concat(metric, F.lit("#"), F.coalesce(joined, F.lit("")))


def series_key_col(metric: Column, tags: Column) -> Column:
    """Canonical series key: ``metric#k1:v1;k2:v2`` with keys sorted
    (reference src/series_key.rs:20-41).

    NOT injective, deliberately bug-compatible (r15 audit): the
    reference validates no tag charset on write (db.rs:324-351) and
    never escapes the separators, so a value containing ';'/':'
    collides with a different tagset — {a: "b;c:d"} and
    {a: "b", c: "d"} share one key, hence one series_id here too. The
    reference is WORSE off: it decodes this string back at query time
    (tag_sets.rs:43-56), silently re-parsing the first tagset as the
    second, and PANICS on a ';' segment lacking ':'. This engine keeps
    the tags MAP column as the source of truth (no string round-trip),
    so filters and grouping see the real values; only the series_id
    dedup key shares the collision. Pinned executable in
    tests/test_properties.py::test_series_key_separator_ambiguity_is_reference_shared."""
    return series_key_from_entries(metric, F.sort_array(F.map_entries(tags)))


def with_series_identity(points: DataFrame) -> DataFrame:
    """Add series_key + series_id (xxhash64) columns to a points batch."""
    return points.withColumn(
        "series_key", series_key_col(F.col("metric"), F.col("tags"))
    ).withColumn("series_id", F.xxhash64(F.col("series_key")))


def write_batch(points: DataFrame, path: str, persist: bool = True) -> None:
    """Append (metric, ts, value, tags) rows to the warehouse at ``path``.

    ``persist=True`` (default) caches the enriched batch across the two
    output writes (facts + series dim) so an EXPENSIVE source — an
    upstream join, a Kafka replay, a remote table — is scanned and the
    identity derivation computed once. For a CHEAP-to-recompute source (a
    plain local file scan or generated rows) pass ``persist=False``: the
    cache write is a full extra materialization pass that costs more than
    the ~2.5 recomputes it saves (measured 27s -> 7.6s per 10M-point
    batch, i.e. 0.4M -> 1.3M pts/s steady-state). Batch sizing is the
    caller's concern: at cluster scale ingest arrives in bounded
    increments (one day / one upstream file set per job), each of which
    comfortably fits MEMORY_AND_DISK.
    """
    from pyspark.storagelevel import StorageLevel

    from talna_spark.timeutil import day_col

    enriched = (
        # Tags travel through the cache as SORTED ENTRY ARRAYS, not the
        # map: the cached batch is then map-free, which (a) shrinks the
        # per-row cache footprint (no series_key string, no map), and
        # (b) keeps the series-dim distinct a HashAggregate below. The
        # identity hash is computed from the same canonical key string,
        # just without materializing it per point.
        points.withColumn("_te", F.sort_array(F.map_entries("tags")))
        .withColumn(
            "series_id",
            F.xxhash64(series_key_from_entries(F.col("metric"), F.col("_te"))),
        )
        # UTC-stable day partition (timeutil.day_col == timeutil.ns_to_day
        # used by query-side pruning — session timezone must never leak in)
        .withColumn("ts_day", day_col("ts"))
        # batch stamp for last-writer-wins on duplicate (series, ts) keys —
        # the reference's LSM upsert semantics (src/db.rs:342-343), applied
        # lazily by compact_facts; between compactions both versions are
        # visible (documented deviation from the reference's immediacy).
        # Monotonic per-warehouse sequence, not a raw clock stamp: two
        # batches in the same nanosecond must still order by arrival.
        .withColumn("ingest_seq", F.lit(next_ingest_seq(path)))
        .select("series_id", "ts", "value", "metric", "ts_day", "ingest_seq", "_te")
    )
    if persist:
        enriched.persist(StorageLevel.MEMORY_AND_DISK)
    # Size the write shuffle by batch rows, not by AQE's byte heuristic:
    # AQE coalesces this shuffle to 1-2 tasks (tiny bytes) which then write
    # every (metric, day) dir sequentially — measured 2.6x slower than an
    # explicit fan-out at sf0.1. Floor keeps small batches parallel across
    # output dirs; the per-task row target keeps files near the row-group
    # size at cluster scale (a 100 TB batch fans out to ~rows/4M tasks).
    n_rows = enriched.count()  # cheap: persisted, or a counted projection
    spark = points.sparkSession
    num_parts = write_fanout(n_rows, spark.sparkContext.defaultParallelism)
    (
        enriched.select("series_id", "ts", "value", "ingest_seq", "metric", "ts_day")
        # Range-partition on (metric, ts_day, ts): co-partitions with the
        # physical layout (few files per (metric, day) dir) AND splits a
        # dense day across tasks at sampled ts boundaries — a plain hash
        # repartition(metric, ts_day) funnels a single-day batch through
        # ONE task (measured 4x slower at 10M points/day). Bonus: files
        # arrive ts-clustered, so row-group min/max stats on ts are tight
        # for later range scans.
        .repartitionByRange(num_parts, F.col("metric"), F.col("ts_day"), F.col("ts"))
        .write.mode("append")
        .option("compression", "zstd")
        .partitionBy("metric", "ts_day")
        .parquet(f"{path}/points")
    )
    # Dedup on the sorted entry ARRAYS: a map column would force
    # dropDuplicates/first() into SortAggregate (maps aren't hash-agg
    # buffer types — full sort of the batch, measured ~50s at 10M
    # rows), while array<struct> is an orderable grouping key, so this
    # distinct stays a partial-agg HashAggregate (~seconds). The map
    # round-trips losslessly through map_from_entries.
    if persist:
        # cached batch: read (series_id, metric, _te) straight from it
        series_distinct = enriched.select("series_id", "metric", "_te").distinct()
    else:
        # unpersisted: the series pass re-scans the source, so keep its
        # per-point work minimal — distinct FIRST on (metric, _te), then
        # derive the identity hash on the handful of distinct rows
        # instead of re-hashing every point (measured 2.3s -> 1.4s per
        # 10M-point batch; same series_id = xxhash64 of the same key)
        series_distinct = (
            points.select(
                "metric", F.sort_array(F.map_entries("tags")).alias("_te")
            )
            .distinct()
            .withColumn(
                "series_id",
                F.xxhash64(
                    series_key_from_entries(F.col("metric"), F.col("_te"))
                ),
            )
        )
    (
        series_distinct
        .withColumn("tags", F.map_from_entries("_te"))
        # key + map rebuilt on the post-dedup rows: once per distinct
        # series, not once per point
        .withColumn(
            "series_key",
            series_key_from_entries(F.col("metric"), F.col("_te")),
        )
        .select("series_id", "metric", "series_key", "tags")
        .write.mode("append")
        .option("compression", "zstd")
        .parquet(f"{path}/series")
    )
    # touched (metric, day) partitions — read from the PERSISTED batch
    # (before unpersist) for the rollup changelog, so refresh_rollup can
    # re-aggregate only these. Skipped entirely while no rollup exists:
    # append_changelog would discard the result, so don't pay the extra
    # job per batch (matters for streaming foreachBatch micro-batches).
    from talna_spark.rollup import _all_rollup_dirs, append_changelog

    touched = (
        [
            (r["metric"], r["ts_day"])
            for r in enriched.select("metric", "ts_day").distinct().collect()
        ]
        if _all_rollup_dirs(path)
        else []
    )
    if persist:
        enriched.unpersist()
    # appends may reintroduce duplicate series rows across batches — drop
    # the compaction-time uniqueness marker (see maintenance.compact_series)
    # so read_series_dim dedups again. New series need nothing more:
    # queries select series from this dim, so the next query sees them.
    import glob
    import os

    marker = os.path.join(path, "series", "_UNIQUE")
    if os.path.exists(marker):
        os.remove(marker)
    # invalidate every materialized rollup: new raw points make them
    # stale, and a stale rollup must never answer a query
    # (talna_spark.rollup.available_rollups checks this marker)
    for fresh in glob.glob(os.path.join(path, "rollup_*", "_FRESH")):
        os.remove(fresh)
    if touched:
        append_changelog(path, touched)


def _empty(spark: SparkSession, schema) -> DataFrame:
    return spark.createDataFrame([], schema)


def read_series_dim(spark: SparkSession, path: str) -> DataFrame:
    """The series dimension, deduplicated across appended batches.

    A warehouse that has never been written to is a valid empty database
    (the reference opens fresh keyspaces the same way, src/db.rs:66-97).
    """
    import os

    from talna_spark.schema import SERIES_SCHEMA

    if not os.path.exists(os.path.join(path, "series")):
        return _empty(spark, SERIES_SCHEMA)
    dim = spark.read.schema(SERIES_SCHEMA).parquet(f"{path}/series")
    if os.path.exists(os.path.join(path, "series", "_UNIQUE")):
        # compacted dim is already one row per series: skip the dedup
        # shuffle that would otherwise run inside every query's broadcast
        return dim
    # same SortAggregate dodge as the write side: maps aren't hash-agg
    # types, sorted entry arrays are — keeps the per-query dedup of an
    # uncompacted dim a HashAggregate (series_key is a function of
    # (metric, tags), so including it can't split a group)
    return (
        dim.select(
            "series_id", "metric", "series_key",
            F.sort_array(F.map_entries("tags")).alias("_te"),
        )
        .distinct()
        .select(
            "series_id", "metric", "series_key",
            F.map_from_entries("_te").alias("tags"),
        )
    )


def read_facts(spark: SparkSession, path: str) -> DataFrame:
    """The fact table; empty DataFrame when nothing has been ingested.

    The schema is supplied explicitly: with (metric, ts_day) producing many
    partition directories, letting Spark infer the schema reads parquet
    footers across directories on every open — pure overhead for a fixed
    layout. ts_day stays a string (ISO dates compare correctly
    lexicographically, so partition pruning predicates are unaffected).
    """
    import os

    from talna_spark.schema import FACT_SCHEMA

    if not os.path.exists(os.path.join(path, "points")):
        return _empty(spark, FACT_SCHEMA)
    return spark.read.schema(FACT_SCHEMA).parquet(f"{path}/points")
