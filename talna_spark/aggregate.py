"""Bucketed aggregation (reference operators O24-O35).

The reference merges per-series DESC-ts streams with a k-way heap
(src/merge.rs:36-76) into a greedy streaming bucketizer
(src/agg/stream.rs:24-98). Two modes are offered here (SURVEY.md §2.3):

- **aligned** (``B_al``): group by ``floor(ts / width)``. A plain
  distributed hash aggregate — partial (map-side) + final, no sort, one
  shuffle on (group, bucket). This is the scalable default and the
  oracle-friendly semantics.
- **greedy** (``B_gr``): the reference's data-anchored segmentation — the
  newest point anchors ``bucket.end`` and a point joins the open bucket
  while ``end - ts <= width`` (inclusive, src/agg/stream.rs:76), else the
  bucket is emitted and re-anchored at that point. Inherently sequential
  per group (exactly as the reference, which is single-threaded), so it
  runs as an Arrow-batched grouped-map pandas UDF: one shuffle on the group
  tag, then a linear numpy pass per group. Scale caveat: one group's points
  must fit in a pandas partition; the reference has the identical
  constraint in time rather than memory. For unbounded groups use aligned
  mode — the same escape hatch the reference's granularity API offers.

Every bucket carries ``start=min(ts), end=max(ts), len=count`` alongside
the aggregated ``value`` (O33); ``count`` also reports the count as the
float ``value`` (O32, src/agg/count.rs:4-12).

Integer division (``ts div width``) is used for bucket indices — float
division of ns-scale int64 loses precision above 2^53.
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from talna_spark.errors import InvalidValueError
from talna_spark.schema import RESULT_SCHEMA

AGG_KINDS = ("avg", "sum", "min", "max", "count")
# Extension aggregates beyond the reference's five (src/agg/*.rs): exact
# interpolated percentiles — "p50", "p95", "p99.9", ... Spark's built-in
# `percentile` and DuckDB's `quantile_cont` share linear-interpolation
# semantics, so oracle comparison is exact.
_P_PREFIX = "p"


def round6(col: Column | str) -> Column:
    """6-dp round with signed-zero normalization (IEEE ``-0.0 + 0.0 ==
    +0.0``). Spark's partial/final summation and DuckDB's sequential
    summation can land on opposite zero signs for values that round to
    zero, and the driver's value-hash distinguishes the two encodings —
    every emitted rounded value goes through this helper, mirrored by
    ``oracle.round6_sql`` (``ROUND(.., 6) + 0``) on the DuckDB side."""
    if isinstance(col, str):
        col = F.col(col)
    return F.round(col, 6) + F.lit(0.0)


def percentile_q(kind: str) -> float | None:
    """``"p95"`` -> 0.95; None when ``kind`` is not a percentile kind."""
    if not kind.startswith(_P_PREFIX) or kind.startswith("pa"):
        return None
    try:
        q = float(kind[1:]) / 100.0
    except ValueError:
        return None
    return q if 0.0 < q < 1.0 else None


# approx_percentile accuracy: the sketch's memory/error knob. 10k keeps the
# per-(group, bucket) state a few KB while bounding rank error to
# ~1/10000 of the bucket population — the 100 TB percentile path.
APPROX_PERCENTILE_ACCURACY = 10_000


def approx_percentile_q(kind: str) -> float | None:
    """``"pa95"`` -> 0.95 (approximate-percentile kind); else None."""
    if not kind.startswith("pa"):
        return None
    try:
        q = float(kind[2:]) / 100.0
    except ValueError:
        return None
    return q if 0.0 < q < 1.0 else None


@dataclass(frozen=True)
class Bucket:
    """Aggregated time span (reference src/agg/mod.rs:20-43)."""

    start: int
    end: int
    value: float
    len: int

    def middle(self) -> int:
        """Mid timestamp (reference ``Bucket::middle``, src/agg/mod.rs:36-42)."""
        return self.start + (self.end - self.start) // 2


def _value_agg(kind: str) -> Column:
    # O28-O32: the five aggregations, as JVM-side built-ins (no UDFs).
    if kind == "avg":
        return F.avg("value")
    if kind == "sum":
        return F.sum("value")
    if kind == "min":
        return F.min("value")
    if kind == "max":
        return F.max("value")
    if kind == "count":
        # count reports the count as a float value AND as len (O32).
        return F.count(F.lit(1)).cast("double")
    if kind == "stddev":
        # extension: sample stddev per bucket (single-pass, mergeable
        # partials in Catalyst — same shuffle shape as avg). NULL for
        # single-point buckets, identically to SQL STDDEV_SAMP.
        return F.stddev_samp("value")
    q = percentile_q(kind)
    if q is not None:
        return F.percentile("value", F.lit(q))
    qa = approx_percentile_q(kind)
    if qa is not None:
        # extension: approximate percentile (Greenwald-Khanna style sketch
        # — Spark's approx_percentile): single-pass MERGEABLE partials, no
        # full value sort per bucket. The scale path for percentiles at
        # high cardinality, exactly as distinct_series_approx is for
        # distinct counts; the exact `percentile` kind remains the
        # oracle-checked default.
        return F.percentile_approx(
            "value", F.lit(qa), F.lit(APPROX_PERCENTILE_ACCURACY)
        )
    raise ValueError(f"unknown aggregation: {kind}")


CALENDAR_UNITS = ("day", "week", "month", "quarter", "year")
_DAY_NS = 86_400_000_000_000


def calendar_bucket_col(unit: str) -> Column:
    """UTC-calendar bucket id (days since epoch of the period start) for
    the scan's ``ts`` column — the group key behind calendar-aligned
    buckets (monthly/weekly reports, which no fixed-width granularity
    can express: months are irregular).

    Timezone-free by construction: epoch ns -> whole UTC days by exact
    int64 division, days -> a DATE by calendar addition, then DATE-level
    truncation — no timestamp type ever appears, so the session
    timezone (which a host harness owns, not us) cannot shift a bucket
    boundary. Weeks are ISO Monday-aligned in both engines."""
    if unit not in CALENDAR_UNITS:
        raise ValueError(f"unknown calendar unit: {unit}")
    epoch = F.lit("1970-01-01").cast("date")
    # Exact int64 FLOOR division (ts ~1.7e18 does not fit a double, so
    # `/` + floor would misplace boundary points; bare `div` truncates
    # toward zero, which would miscalendar pre-epoch ts in (-1 day, 0)
    # into 1970-01-01 — the same correction events_sliding uses)
    day = F.expr(
        f"(ts div {_DAY_NS}) - "
        f"(CASE WHEN ts % {_DAY_NS} < 0 THEN 1 ELSE 0 END)"
    )
    d = F.date_add(epoch, day.cast("int"))
    trunc = d if unit == "day" else F.trunc(d, unit)
    return F.datediff(trunc, epoch)


def aligned_buckets(
    scan: DataFrame,
    group_col: Column,
    kind: str,
    width: int | None,
    calendar_unit: str | None = None,
) -> DataFrame:
    """B_al: epoch-aligned bucketed aggregation; width=None -> one bucket.
    ``calendar_unit`` switches the bucket key to UTC-calendar periods
    (:func:`calendar_bucket_col`) — same single-shuffle plan, only the
    grouping expression changes.

    One hash aggregate: Catalyst plans partial_agg -> shuffle(grp, bucket)
    -> final_agg; with AQE the shuffle partition count adapts to data size.
    """
    keys = [group_col.alias("grp")]
    if calendar_unit is not None:
        keys.append(calendar_bucket_col(calendar_unit).alias("_bucket"))
    elif width is not None:
        keys.append(F.expr(f"ts div {int(width)}").alias("_bucket"))
    if kind == "distinct_series":
        # extension: distinct contributing series per bucket. The scan must
        # carry the canonical series key (_series_key); exact distinct — a
        # deliberately shuffle-heavier op (expand + two-phase agg in
        # Catalyst); distinct_series_approx below is the sketch alternative
        # when ~2% error is acceptable at scale.
        value = F.count_distinct(F.col("_series_key")).cast("double")
    elif kind == "distinct_series_approx":
        # HyperLogLog++ sketch: single-pass, mergeable partials, no expand
        # — the 100 TB path for high-cardinality series counting (rsd 2%).
        value = F.approx_count_distinct(F.col("_series_key"), rsd=0.02).cast(
            "double"
        )
    elif kind == "twa":
        # extension: time-weighted average. The scan carries _w (ns until
        # the series' next point; 0 for its last) — buckets with zero
        # total weight (only trailing points) are dropped on BOTH engine
        # and oracle sides, so no 0/0 null ambiguity reaches results.
        value = F.sum(F.col("value") * F.col("_w")) / F.sum("_w")
    elif kind == "delta":
        # extension: net change across the bucket — value at max ts minus
        # value at min ts (lexicographic struct extrema; ties at the
        # boundary ts resolve to larger/smaller value respectively,
        # identically in DuckDB). Single hash-less SortAggregate shuffle
        # like latest.
        value = (
            F.max(F.struct("ts", "value"))["value"]
            - F.min(F.struct("ts", "value"))["value"]
        )
    elif kind == "latest":
        # extension: snapshot — the value at the max ts per (group, bucket).
        # Lexicographic struct max; ties at the max ts resolve to the
        # larger value, identically to the oracle's max(row(ts, value)).
        # Physical: struct buffers aren't hash-aggregable, so Catalyst
        # plans SortAggregate — still one shuffle with map-side partials
        # (the sort is per-partition on group keys), vs. the two shuffles
        # a window/row_number formulation would cost.
        value = F.max(F.struct("ts", "value"))["value"]
    else:
        value = _value_agg(kind)
    aggs = [
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        value.alias("value"),
        F.count(F.lit(1)).alias("len"),
    ]
    if kind == "twa":
        aggs.append(F.sum("_w").alias("_sw"))
    out = scan.groupBy(*keys).agg(*aggs)
    if kind == "twa":
        out = out.filter(F.col("_sw") > 0)
    return out.select("grp", "start_ts", "end_ts", "value", "len")


def _greedy_starts(pdf: pd.DataFrame, w: int, forced=None) -> np.ndarray:
    """Greedy anchor scan (reference loop src/agg/stream.rs:60-97) over
    rows sorted (grp ASC, ts DESC): a segment starts at every group
    change, at every row flagged in ``forced``, and wherever the open
    bucket's anchor (its newest point) is more than ``w`` newer than the
    row (a point joins while ``end - ts <= width``, inclusive, line 76).
    Plain python lists in the loop (numpy scalar indexing is ~20x
    slower). Returns segment start indices.

    DOCUMENTED DEVIATION (boundary-point semantics, adjudicated r14):
    the reference's else branch (src/agg/stream.rs:81-86) consumes the
    bucket-closing point from the reader and returns the taken bucket
    WITHOUT adding that point anywhere — ``std::mem::take`` resets the
    bucket to len 0 and the next ``next()`` call initializes from the
    FOLLOWING reader item, so real talna silently drops one data point
    (value, len contribution, and timestamp) at every greedy bucket
    boundary. The reference has no test exercising a boundary (no test
    calls ``granularity``), and losing data is almost certainly a talna
    bug. This scan and its oracle twin (oracle.py ``_greedy_runs``)
    instead RE-ANCHOR: the closing point becomes the first member of the
    next bucket — the semantics the reference's own comments describe.
    Pinned by tests/test_greedy.py::test_boundary_point_reanchors; see
    :func:`_boundaries_drop` for the bit-faithful variant."""
    ts_list = pdf["ts"].to_numpy(dtype=np.int64).tolist()
    grp_list = pd.factorize(pdf["grp"].to_numpy())[0].tolist()
    forced_list = forced.tolist() if forced is not None else None
    starts_list = [0]
    anchor = ts_list[0]
    g = grp_list[0]
    for i in range(1, len(ts_list)):
        t = ts_list[i]
        gi = grp_list[i]
        if gi != g or anchor - t > w or (forced_list and forced_list[i]):
            starts_list.append(i)
            anchor = t
            g = gi
    return np.asarray(starts_list, dtype=np.int64)


def _boundaries_drop(pdf: pd.DataFrame, w: int):
    """Bit-faithful variant of :func:`_greedy_starts` reproducing the
    reference's ACTUAL boundary behavior (src/agg/stream.rs:81-86),
    restarted at every group change: the point whose arrival closes a
    bucket is consumed and DROPPED — it joins no bucket and resets the
    anchor — and the following point initializes the next segment.

    Returns ``(starts, keep, open_end)``: segment start indices, a
    per-row keep mask (False = dropped boundary point), and whether the
    trailing segment is still open — False means the last row was
    dropped, so every segment is final (a future point cannot join an
    anchor that no longer exists). Dropped points lie strictly BETWEEN
    segments, never inside one."""
    ts_list = pdf["ts"].to_numpy(dtype=np.int64).tolist()
    grp_list = pd.factorize(pdf["grp"].to_numpy())[0].tolist()
    n = len(ts_list)
    keep = [True] * n
    starts_list = [0]
    anchor = ts_list[0]
    g = grp_list[0]
    for i in range(1, n):
        t = ts_list[i]
        gi = grp_list[i]
        if gi != g or anchor is None:
            # new group, or first point after a drop: initialize
            # (stream.rs:67-73 — a group's first point never drops)
            starts_list.append(i)
            anchor = t
            g = gi
        elif anchor - t <= w:
            pass  # joins (stream.rs:76-80; anchor never updated)
        else:
            # stream.rs:81-86 — bucket returned, point lands NOWHERE
            keep[i] = False
            anchor = None
    return (
        np.asarray(starts_list, dtype=np.int64),
        np.asarray(keep, dtype=bool),
        anchor is not None,
    )


def _greedy_agg(
    pdf: pd.DataFrame, starts: np.ndarray, kind: str, pq: "float | None",
    keep: "np.ndarray | None" = None,
) -> pd.DataFrame:
    """Aggregate the contiguous segments of ``pdf`` (sorted ts DESC
    within each) that begin at ``starts`` into RESULT_SCHEMA rows. Every
    greedy path folds through here, so their float order is the same.
    Rows where ``keep`` is False (dropped boundary points, which sit
    BETWEEN segments) are filtered first and ``starts`` remapped to
    kept-row coordinates, so each segment stays contiguous."""
    if keep is not None and not keep.all():
        starts = (np.cumsum(keep) - 1)[starts]
        pdf = pdf.iloc[np.flatnonzero(keep)]
    ts = pdf["ts"].to_numpy(dtype=np.int64)
    val = pdf["value"].to_numpy(dtype=np.float64)
    n = len(ts)
    lens = np.diff(np.append(starts, n))
    # DESC order: segment max ts = first element, min ts = last element.
    out = pd.DataFrame(
        {
            "grp": pdf["grp"].to_numpy()[starts],
            "start_ts": ts[np.append(starts[1:], n) - 1],
            "end_ts": ts[starts],
            "len": lens,
        }
    )
    if kind == "avg":
        out["value"] = np.add.reduceat(val, starts) / lens
    elif kind == "sum":
        out["value"] = np.add.reduceat(val, starts)
    elif kind == "min":
        out["value"] = np.minimum.reduceat(val, starts)
    elif kind == "max":
        out["value"] = np.maximum.reduceat(val, starts)
    elif kind == "count":
        out["value"] = lens.astype("float64")
    elif kind == "stddev":
        # sample stddev per segment; single-point segments -> NaN
        # (emitted as NULL), matching SQL STDDEV_SAMP
        bounds = np.append(starts, n)
        out["value"] = [
            float(np.std(val[bounds[i]: bounds[i + 1]], ddof=1))
            if lens[i] > 1
            else None
            for i in range(len(starts))
        ]
    elif pq is not None:
        # percentile: no reduceat analog — slice per segment.
        # np.percentile's linear interpolation matches Spark
        # `percentile` and DuckDB `quantile_cont` exactly.
        bounds = np.append(starts, n)
        out["value"] = [
            float(np.percentile(val[bounds[i]: bounds[i + 1]], pq * 100.0))
            for i in range(len(starts))
        ]
    else:
        raise ValueError(f"unknown aggregation: {kind}")
    return out[["grp", "start_ts", "end_ts", "value", "len"]]


def _greedy_stream(batches, boundaries, w: int, kind: str, pq, guard: int):
    """The one greedy batch-carry loop over Arrow batches of rows sorted
    (grp, ts DESC). ``boundaries(pdf)`` returns ``(starts, keep | None,
    open_end)``. The trailing segment is the open bucket of the trailing
    group — its membership can still change with the next batch (a
    not-much-older point may join, or close it); every earlier segment
    is final. Closed segments are emitted, the open one is carried into
    the next batch, so Python memory is bounded by the densest single
    bucket and the float summation order equals a whole-group pass.
    ``open_end`` False (the last row was a dropped boundary point)
    makes every segment final and leaves nothing to carry — exactly the
    reference's post-drop state. ``guard`` caps the carried rows: the
    task fails loudly instead of OOM-killing the executor."""
    carry = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        if pdf.empty:
            continue
        starts, keep, open_end = boundaries(pdf)
        if not open_end:
            yield _greedy_agg(pdf, starts, kind, pq, keep)
            continue
        cut = int(starts[-1])
        # rows at/after the last start are all kept: a drop there would
        # have forced either open_end=False or a later start
        carry = pdf.iloc[cut:]
        if len(carry) > guard:
            raise RuntimeError(
                f"greedy bucketing: a single data-anchored bucket exceeds "
                f"{guard} rows (group {carry['grp'].iloc[0]!r}, width {w} "
                f"ns — every point within one width span). This is "
                f"inherently sequential per the reference semantics "
                f"(src/agg/stream.rs:60-97); use aligned mode or a "
                f"smaller granularity for groups this dense."
            )
        if cut:
            yield _greedy_agg(
                pdf.iloc[:cut], starts[:-1], kind, pq,
                None if keep is None else keep[:cut],
            )
    if carry is not None and not carry.empty:
        yield _greedy_agg(carry, np.zeros(1, dtype=np.int64), kind, pq)


def greedy_buckets(
    scan: DataFrame,
    group_col: Column,
    kind: str,
    width: int,
    max_open_bucket_rows: int = 20_000_000,
    boundary: str = "reanchor",
) -> DataFrame:
    """B_gr: the reference's data-anchored greedy bucketing (O27), with ONE
    documented deviation: the bucket-closing point RE-ANCHORS the next
    bucket here, whereas the reference silently drops it
    (src/agg/stream.rs:81-86 — see ``_greedy_starts`` for the
    adjudication; the oracle twin shares the re-anchor semantics).

    ``boundary="drop"`` (r15) runs the reference's ACTUAL bit-faithful
    boundary semantics distributed: the bucket-closing point is
    consumed and joins NO bucket, and the point after it
    (re)initializes — the scan :func:`_boundaries_drop`, exposed so
    the deviation is hash-checked end-to-end under the driver's DuckDB
    oracle (q17 ``kind=dropref``), proving the two semantics differ by
    exactly one dropped point per boundary. (Precision: drop mode applies
    stream.rs:81-86 over the documented-INTENT sorted stream;
    reproducing full release behavior for multi-series groups would
    also require the broken merge order adjudicated below — pinned
    separately in test_reference_multiseries_merge_adjudication.) Drop mode is
    single-task-per-group only (the drop state machine is not
    self-synchronizing at a gap: whether a post-gap point anchors or
    drops depends on whether the PREVIOUS point was itself dropped, so
    the sliced path's entry-independence argument does not hold).

    Physical shape: one shuffle (``repartition(grp)``) hash-co-locates each
    group wholly in one partition; ``sortWithinPartitions(grp, ts DESC)``
    makes every group a contiguous newest-first run — the distributed
    analog of the reference's per-group k-way merge (src/merge.rs:36-76).

    ADJUDICATED REFERENCE BUG (r15 audit — the merge direction): the
    reference's Merger heap comparator is Reverse-shaped
    (``other.ts.cmp(&self.ts)``, src/merge.rs:21-24 — the exact shape of
    ``std::cmp::Reverse``), so it pops the MINIMUM real timestamp among
    reader heads while each per-series reader yields ts DESC (the ``!ts``
    key codec, src/db.rs:106/158-160). For any group holding >= 2 series
    with distinct timestamps the "merged" stream is therefore NOT sorted:
    it drains whole reader runs ordered by each series' newest point.
    The greedy aggregator then evaluates ``bucket.end - data_point.ts``
    on u128 (src/agg/stream.rs:76, lib.rs:108): a rising timestamp at a
    reader transition UNDERFLOWS — debug builds panic (subtract with
    overflow), release builds wrap to ~2^128, closing the bucket and
    DROPPING the point. The only reference test with >= 2 series per
    group (db.rs:1020-1135, 6 env=prod series) writes every point at
    ts=0, where order is irrelevant and the diff is always 0 — the bug
    is unreachable from its suite. This engine implements the documented
    INTENT (one newest-first stream per group — the global (grp, ts
    DESC) sort) on both paths; the reference's actual release behavior
    is pinned executable in
    tests/test_greedy.py::test_reference_multiseries_merge_adjudication.
    A ``mapInPandas`` pass then segments whole Arrow batches at once,
    carrying only the trailing OPEN BUCKET into the next batch (whether a
    point joins depends solely on the open bucket's ``end`` anchor,
    src/agg/stream.rs:76) — so Python memory is bounded by the densest
    single bucket, not by group size. A group is still one sequential
    task (the semantic is inherently ordered, exactly as the reference's
    single thread); for unbounded groups use aligned mode — the same
    escape hatch the reference's granularity API offers. Compared with
    per-group ``applyInPandas`` this pays pandas overhead per ~10k-row
    batch instead of per group — a ~3-5x win at high group cardinality.

    ``max_open_bucket_rows`` guards the pathological case (every point of
    a huge group within one ``width`` span): the task fails loudly with a
    pointer to aligned mode instead of OOM-killing the executor.
    """
    if boundary not in ("reanchor", "drop"):
        raise ValueError(f"unknown greedy boundary semantics: {boundary!r}")
    pq = percentile_q(kind)
    w = int(width)
    guard = int(max_open_bucket_rows)
    if boundary == "drop":
        def _bounds(pdf):
            return _boundaries_drop(pdf, w)
    else:
        def _bounds(pdf):
            return _greedy_starts(pdf, w), None, True

    def _segment(batches):
        return _greedy_stream(batches, _bounds, w, kind, pq, guard)

    prepared = (
        scan.select(group_col.alias("grp"), "ts", "value")
        .repartition("grp")
        # value ASC tie-break on equal timestamps: bucket MEMBERSHIP is
        # tie-order-independent (equal-ts points always share a bucket),
        # but float summation order is not — pinning the order makes the
        # engine bit-deterministic across runs and lets the literal-port
        # oracle (oracle.greedy_events_values_sql) reproduce sums exactly.
        # The reference leaves heap ties arbitrary (src/merge.rs:9-13).
        .sortWithinPartitions("grp", F.desc("ts"), F.asc("value"))
    )
    return prepared.mapInPandas(_segment, schema=RESULT_SCHEMA)


def _sliced_prepared(scan: DataFrame, group_col: Column, slice_width: int) -> DataFrame:
    """Pass-1 input for :func:`greedy_buckets_sliced`: points keyed by
    (grp, coarse time slice). Exposed separately so tests can assert a
    single group's rows really spread over >= 2 shuffle partitions."""
    return scan.select(
        group_col.alias("grp"),
        F.expr(f"ts div {int(slice_width)}").alias("slice"),
        "ts",
        "value",
    )


# Measured crossover for the sliced-greedy decomposition (r16 BENCH
# pipe_greedy1g pair, local[32] — the regime guidance in
# QueryBuilder.greedy_slices): below ~4M points in the LARGEST group the
# one-task-per-group path wins (groups already spread over tasks; the
# decomposition pays an extra shuffle + second Arrow pass); above it the
# sliced path wins and the gap widens with group size (the single path
# is O(n) in ONE task). Module constant so tests can lower it.
GREEDY_AUTO_ROWS = 4_000_000


def greedy_auto_decision(
    scan: DataFrame, group_col: Column, width: int
) -> tuple:
    """Pick the greedy physical path from the data (r17, VERDICT r16
    item 3): ONE sketch-sized pre-aggregate — per-group count + ts span
    with map-side partials, reduced to a single driver row (max group
    size and the span of that largest group via ``max_by``) — then:

    - largest group < :data:`GREEDY_AUTO_ROWS` points -> the default
      one-task-per-group scan (``greedy_buckets``);
    - otherwise -> ``greedy_buckets_sliced`` with a slice width sized so
      the largest group splits into ~4 slices per core (bounded below
      by 100x the bucket width, the documented heads/tails guidance,
      and above by span/2 so at least two slices exist).

    Returns ``(use_sliced, slice_width_ns, stats_dict)``; the stats dict
    records what the decision saw (``max_group_rows``, ``span_ns``,
    ``threshold``). Cost: one hash-agg over the scan (shuffle volume =
    #groups after partials) + a 1-row collect — the stats() discipline.
    Both physical paths are bit-identical, so the decision only ever
    costs performance, never correctness.
    """
    thr = GREEDY_AUTO_ROWS
    per = scan.groupBy(group_col.alias("grp")).agg(
        F.count("*").alias("n"),
        (F.max("ts") - F.min("ts")).alias("span"),
    )
    row = per.agg(
        F.max("n").alias("max_n"),
        F.max_by("span", "n").alias("span_of_largest"),
    ).collect()[0]
    max_n = int(row["max_n"] or 0)
    span = int(row["span_of_largest"] or 0)
    stats = {"max_group_rows": max_n, "span_ns": span, "threshold": thr}
    if max_n < thr:
        return False, None, stats
    # fewer than two slices can ever fit this span (every legal slice
    # width exceeds span/2): the decomposition would pay its extra
    # shuffle + stitch for ZERO parallelism gain — a huge group packed
    # into a tiny time span degrades to the sequential scan either way,
    # so stay on the strictly-cheaper single path (r17 review finding)
    min_sw = int(width) + 1  # validated > width by greedy_buckets_sliced
    if span < 2 * min_sw:
        return False, None, stats
    sc = scan.sparkSession.sparkContext
    target_slices = max(4 * sc.defaultParallelism, 2)
    slice_w = max(int(width) * 100, span // target_slices)
    # cap at span/2 so at least two slices exist; the floor keeps the
    # width legal (span >= 2*min_sw guarantees span//2 >= min_sw)
    slice_w = max(min(slice_w, span // 2), min_sw)
    return True, int(slice_w), stats


def greedy_buckets_sliced(
    scan: DataFrame,
    group_col: Column,
    kind: str,
    width: int,
    slice_width: int,
    max_open_bucket_rows: int = 20_000_000,
) -> DataFrame:
    """Two-level parallel form of the reference's greedy bucketing (O27),
    bit-identical to :func:`greedy_buckets` — the scale path for groups
    too large for one task. (Shares ``greedy_buckets``'s documented
    re-anchor deviation at bucket boundaries; see ``_greedy_starts``.)

    The greedy rule (src/agg/stream.rs:60-97) is a sequential scan, but it
    has a synchronization property: any inter-point gap > width forces a
    re-anchor REGARDLESS of upstream state (the anchor is the bucket's
    newest point, so anchor - ts >= gap > width). Within a coarse time
    slice, everything from the first such forced reset on is therefore
    entry-independent and final; only the slice's head (rows before its
    first reset) and its open tail bucket depend on neighboring slices.

    - Pass 1 (parallel over (grp, slice) hash partitions, STREAMING
      mapInPandas with a block carry — r16; the earlier per-block
      applyInPandas paid ~10 ms of pandas overhead per block, a 200x
      slowdown on many-small-groups data): finalize and aggregate every
      entry-independent closed segment; emit head rows and open-tail
      rows as raw "pending" rows (tail rows flagged).
    - Pass 2 (per grp, the shared ``_greedy_stream`` carry): one ordered scan
      re-anchoring at each tail-block start (a true boundary — it was
      computed after a forced reset). Heads chain onto the previous
      slice's open bucket exactly as the global sequential scan would;
      the omitted final middles never chain (the forced re-anchor cuts
      them off). Pass-1's finalized buckets ride through as
      pass-through rows (r16 — one pipeline, pass 1 executes once; the
      earlier finals/pending union ran it once per branch).

    Dense pathological data (no gap > width anywhere) degrades gracefully:
    every row is pending and pass 2 IS the single-task scan, same loud
    ``max_open_bucket_rows`` guard. Float summation order per bucket is
    the same (ts DESC, value ASC) contiguous order in both passes, so
    results are bit-identical to the one-task path.

    ``slice_width`` should be >> width (e.g. >= 100x) so heads/tails stay
    a small fraction; it must be positive and is validated > width.

    Memory bound: pass 1 streams Arrow batches but must hold each
    (grp, slice) block contiguously (the carry buffers at most one
    block plus a batch) — rows per (group, slice) must fit executor
    memory, so ``slice_width`` caps the per-task working set
    (~80 bytes/row in the frame). A pathologically dense slice is only
    caught by the pass-2 ``max_open_bucket_rows`` guard AFTER pass 1
    has paid that cost; size slices so width << slice_width <<
    (executor_mem / density).
    """
    if int(slice_width) <= int(width):
        # InvalidValueError: a ValueError for direct callers AND an
        # InvalidQueryError at the QueryBuilder boundary
        raise InvalidValueError(
            "slice_width must exceed the bucket width (a slice shorter "
            "than one bucket can never contain a forced reset)"
        )
    pq = percentile_q(kind)
    w = int(width)
    guard = int(max_open_bucket_rows)

    _P1_SCHEMA = (
        "grp string, slice long, final boolean, tail boolean, ts long, "
        "raw double, start_ts long, end_ts long, value double, len long"
    )

    def _pass1_stream(batches):
        """Streaming pass 1 (r16 rewrite): ONE scan per Arrow batch over
        partition-sorted rows, (grp, slice) block boundaries handled
        inline with a carry — the pre-r16 ``groupBy.applyInPandas`` form
        paid ~10 ms of per-group pandas overhead per block, which on
        many-small-groups data turned into a 200x slowdown vs the
        one-task scan (q17 at sf0.1: ~20k one-point blocks, 214 s vs
        0.95 s) and is exactly the shape that would strangle a 100 TB
        run with millions of groups. Per-block logic, flags, and float
        order are unchanged — output is bit-identical (driver-checked
        as q17 kind=sliced)."""
        cols = ["grp", "slice", "final", "tail", "ts", "raw",
                "start_ts", "end_ts", "value", "len"]

        def process(pdf: pd.DataFrame):
            # every (grp, slice) block in pdf is COMPLETE; rows sorted
            # (grp, slice, ts DESC, value ASC) by the upstream shuffle.
            # Yields the pending rows, then the closed segments' rows.
            n = len(pdf)
            grp_a = pdf["grp"].to_numpy()
            sl_a = pdf["slice"].to_numpy(dtype=np.int64)
            ts_a = pdf["ts"].to_numpy(dtype=np.int64)
            new_block = np.empty(n, dtype=bool)
            new_block[0] = True
            new_block[1:] = (grp_a[1:] != grp_a[:-1]) | (sl_a[1:] != sl_a[:-1])
            bounds = np.flatnonzero(new_block).tolist() + [n]
            ts_l = ts_a.tolist()
            pend = np.zeros(n, dtype=bool)
            tailm = np.zeros(n, dtype=bool)
            mid_starts: list = []  # absolute starts of CLOSED segments
            for bi in range(len(bounds) - 1):
                b0, b1 = bounds[bi], bounds[bi + 1]
                first_reset = None
                for i in range(b0 + 1, b1):
                    if ts_l[i - 1] - ts_l[i] > w:
                        first_reset = i
                        break
                if first_reset is None:
                    # no forced reset: whole block is entry-dependent head
                    pend[b0:b1] = True
                    continue
                anchor = ts_l[first_reset]
                last = first_reset
                for i in range(first_reset + 1, b1):
                    if anchor - ts_l[i] > w:
                        mid_starts.append(last)  # segment [last, i) closed
                        last = i
                        anchor = ts_l[i]
                pend[b0:first_reset] = True   # head
                pend[last:b1] = True          # open tail
                tailm[last:b1] = True
            if pend.any():
                sub = pdf[pend]
                # int64 SENTINEL zeros, not nulls, in the long columns:
                # a nullable long would round-trip Arrow->pandas as
                # float64 in pass 2 and ns timestamps (> 2^53) would
                # silently lose precision; the `final` flag is the
                # discriminator, never these fields
                yield pd.DataFrame(
                    {
                        "grp": sub["grp"].to_numpy(),
                        "slice": sub["slice"].to_numpy(),
                        "final": False,
                        "tail": tailm[pend],
                        "ts": sub["ts"].to_numpy(),
                        "raw": sub["value"].to_numpy(),
                        "start_ts": np.zeros(len(sub), dtype=np.int64),
                        "end_ts": np.zeros(len(sub), dtype=np.int64),
                        "value": np.nan,
                        "len": np.zeros(len(sub), dtype=np.int64),
                    }
                )[cols]
            if mid_starts:
                # compact the mid rows; segments stay contiguous and the
                # last closed segment of a block ends exactly where the
                # next block's first closed segment begins in mid-space,
                # so one global reduceat reproduces the per-block folds
                # slice-for-slice (same float order as the one-task path)
                ms = np.asarray(mid_starts, dtype=np.int64)
                mid = pdf[~pend].reset_index(drop=True)
                midpos = np.cumsum(~pend) - 1
                agg = _greedy_agg(mid, midpos[ms], kind, pq)
                agg.insert(1, "slice", sl_a[ms])
                agg.insert(2, "final", True)
                agg.insert(3, "tail", False)
                agg.insert(4, "ts", np.zeros(len(agg), dtype=np.int64))
                agg.insert(5, "raw", np.nan)
                yield agg[cols]

        # The open block is accumulated as a LIST of batch frames and
        # concatenated once per emitted block — concatenating the
        # growing carry with every incoming batch would copy the whole
        # block k times when it spans k Arrow batches (quadratic in
        # block size, exactly the dense-slice pathological case the
        # memory-bound note above warns about).
        def _one(frames: list) -> pd.DataFrame:
            if len(frames) > 1:
                return pd.concat(frames, ignore_index=True)
            return frames[0].reset_index(drop=True)

        pending: list = []  # batch frames ending in the still-open block
        last_key = None     # (grp, slice) of pending's final row
        for pdf in batches:
            if pdf.empty:
                continue
            grp_a = pdf["grp"].to_numpy()
            sl_a = pdf["slice"].to_numpy(dtype=np.int64)
            if pending and (grp_a[0], int(sl_a[0])) != last_key:
                # block boundary at the batch junction: pending complete
                yield from process(_one(pending))
                pending = []
            last_key = (grp_a[-1], int(sl_a[-1]))
            chg = np.flatnonzero(
                (grp_a[1:] != grp_a[:-1]) | (sl_a[1:] != sl_a[:-1])
            )
            if len(chg) == 0:
                pending.append(pdf)  # one (possibly continuing) block — hold
                continue
            cut = int(chg[-1]) + 1
            pending.append(pdf.iloc[:cut])
            block = _one(pending)
            pending = [pdf.iloc[cut:].reset_index(drop=True)]
            yield from process(block)
        if pending:  # every held frame is non-empty
            yield from process(_one(pending))

    def _stitch_bounds(pdf):
        # a tail block's first row re-anchors: it was computed after a
        # forced reset in pass 1
        sl = pdf["slice"].to_numpy(dtype=np.int64)
        tl = pdf["tail"].to_numpy(dtype=bool)
        forced = np.zeros(len(tl), dtype=bool)
        forced[1:] = tl[1:] & (~tl[:-1] | (sl[:-1] != sl[1:]))
        return _greedy_starts(pdf, w, forced), None, True

    def _stitch(batches):
        # sequential stitch over PENDING rows only (r17: finals exit via
        # the parallel filter branch and never reach this operator)
        return _greedy_stream(batches, _stitch_bounds, w, kind, pq, guard)

    prepared = _sliced_prepared(scan, group_col, slice_width)
    # r16: ONE shuffle keyed on (grp, slice) — hash repartition spreads
    # blocks over all shuffle partitions (a group's slices land on
    # DIFFERENT tasks: the parallelism claim), sortWithinPartitions pins
    # the per-block order, and the streaming pass-1 walks each partition
    # in O(rows) with per-BATCH (not per-block) pandas overhead.
    p1_raw = (
        prepared.repartition("grp", "slice")
        .sortWithinPartitions("grp", "slice", F.desc("ts"), F.asc("value"))
        .mapInPandas(_pass1_stream, schema=_P1_SCHEMA)
    )
    # r17 (guide §2.4 "remove shuffles outright", measured on the 4M-
    # point single-group regime): pass-1's FINAL rows are already exact
    # result rows — yet the r16 single-pipeline shape shuffled ALL of
    # them into pass 2's one-task-per-group sort and through the Python
    # boundary a second time, just to be yielded back verbatim. On a
    # huge group that second funnel (repartition("grp") of ~|buckets|
    # rows into ONE task + a second Arrow round trip) dominated the
    # operator (measured: ~1.7M of 1.7M+5k pass-1 output rows were
    # finals). Now pass 1 is pinned behind a LAZY localCheckpoint
    # (materialized once, first action — the r16 "pass 1 must execute
    # once" property by storage instead of by pipeline shape, since
    # exchange reuse cannot deduplicate the sort+Python work above the
    # shared exchange), finals exit via a map-only filter+project that
    # stays parallel and never re-crosses the Python boundary, and the
    # grp shuffle + pass 2 carry ONLY the pending boundary rows (heads +
    # open tails — a per-slice-constant fraction). Dense pathological
    # data (no forced reset anywhere) still degrades to the one-task
    # pass-2 scan, unchanged. Float order per bucket is untouched
    # (finals were computed in pass 1 either way; pending rows reach
    # pass 2 in the same (grp, ts DESC, raw ASC, tail ASC) order — the
    # tail ASC tie-break still reproduces the pass-1 head/tail cut at
    # equal (ts, raw) pairs; raw is renamed to value before the
    # exchange, so pass 2 reads the columns _greedy_agg folds).
    # Checkpoint cost: pass-1 output rows (aggregates + boundary rows, a
    # fraction of the scan) stored MEMORY_AND_DISK once — the
    # dedup-lineage discipline.
    p1 = p1_raw.localCheckpoint(eager=False)
    finals = p1.filter(F.col("final")).select(
        "grp", "start_ts", "end_ts", "value", "len"
    )
    pending = (
        # project to the five live columns BEFORE the exchange (guide
        # §2.3): the final/start_ts/end_ts/value/len sentinels of
        # pending rows are dead weight past this point
        p1.filter(~F.col("final"))
        .select("grp", "slice", "tail", "ts", F.col("raw").alias("value"))
        .repartition("grp")
        .sortWithinPartitions(
            "grp", F.desc("ts"), F.asc("value"), F.asc("tail")
        )
    )
    out = finals.unionByName(
        pending.mapInPandas(_stitch, schema=RESULT_SCHEMA)
    )
    # test seam: the pre-checkpoint pass-1 frame, so plan tests can pin
    # the (grp, slice) exchange shape that the checkpoint hides from the
    # final plan string
    out._talna_sliced_p1 = p1_raw
    return out


def rolling_buckets(agg: DataFrame, width: int, k: int) -> DataFrame:
    """Trailing k-bucket moving average over aligned buckets (extension:
    the Datadog-style "moving rollup"; the window-function category is
    absent in the reference, SURVEY.md §2.2). Each bucket's ``value``
    becomes the mean of bucket values within the last ``k`` bucket-widths
    of time — RANGE-based on the bucket index, so gaps in the data shrink
    the frame rather than stretching it over older rows. ``start_ts``,
    ``end_ts`` and ``len`` stay the bucket's own.

    Scale shape: one window over ALREADY-AGGREGATED rows (groups x
    buckets), partitioned by group — the extra shuffle moves reduced
    data, never raw points.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("grp")
        .orderBy(F.expr(f"start_ts div {int(width)}"))
        .rangeBetween(-(int(k) - 1), 0)
    )
    return agg.withColumn("value", F.avg("value").over(w)).select(
        "grp", "start_ts", "end_ts", "value", "len"
    )


def zscore_buckets(agg: DataFrame, width: int, k: int) -> DataFrame:
    """Rolling z-score anomaly scoring over aligned buckets (extension:
    the standard "how unusual is this bucket vs its trailing baseline"
    detector). ``value`` becomes
    ``(value - mean(trailing k buckets)) / stddev_samp(trailing k)`` with
    the frame RANGE-based on the bucket index (gaps shrink the frame);
    buckets whose frame holds < 2 rows (or zero variance) score NULL —
    identical null semantics to SQL ``STDDEV_SAMP``/``NULLIF`` on the
    oracle side. Same scale shape as rolling_buckets: one window over
    already-reduced rows.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("grp")
        .orderBy(F.expr(f"start_ts div {int(width)}"))
        .rangeBetween(-(int(k) - 1), 0)
    )
    # Score over 6-dp-rounded bucket values: partial/final vs sequential
    # float summation can differ by an ulp, and an unrounded frame sitting
    # exactly at zero variance would NULL on one engine and produce a
    # huge z on the other — rounding first pins the NULLIF knife edge
    # identically on both sides of the oracle comparison.
    v = F.round("value", 6)
    mean = F.avg(v).over(w)
    sd = F.stddev_samp(v).over(w)
    score = (v - mean) / F.nullif(sd, F.lit(0.0))
    return agg.withColumn("value", score).select(
        "grp", "start_ts", "end_ts", "value", "len"
    )


def sliding_buckets(
    scan: DataFrame, group_col: Column, kind: str, width: int, slide: int
) -> DataFrame:
    """Hopping-window aggregation (extension: Flink/Spark-style sliding
    windows; the reference has only disjoint buckets). Window ``i`` covers
    ``[i*slide, i*slide + width - 1]``; a point belongs to every window
    containing its ts — ``width/slide`` of them, materialized by exploding
    a ``sequence()`` of window indices (row amplification = width/slide;
    callers choose the ratio). Output adds ``win_start`` (the window's
    epoch edge) alongside the observed ``start_ts``/``end_ts``.

    One shuffle on (group, window) after a JVM-side explode — the same
    hash-aggregate shape as aligned buckets, amplified. Spark's ``div``
    truncates toward zero while the window math needs FLOOR division
    (they differ when ts < width), so the index expressions floor
    explicitly in pure int64 — float division would lose precision on
    ns-scale values above 2^53.
    """
    w, s = int(width), int(slide)
    if w <= 0 or s <= 0 or w % s != 0:
        raise ValueError("sliding requires width > 0, slide > 0, width % slide == 0")

    def floordiv(num: str) -> str:
        return (
            f"(({num}) div {s}) - "
            f"(CASE WHEN ({num}) % {s} != 0 AND ({num}) < 0 THEN 1 ELSE 0 END)"
        )

    win = scan.withColumn(
        "_win",
        F.explode(
            F.sequence(
                F.expr(floordiv(f"ts - {w} + {s}")), F.expr(floordiv("ts"))
            )
        ),
    )
    out = win.groupBy(group_col.alias("grp"), F.col("_win")).agg(
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        _value_agg(kind).alias("value"),
        F.count(F.lit(1)).alias("len"),
    )
    return out.select(
        "grp",
        (F.col("_win") * s).alias("win_start"),
        "start_ts",
        "end_ts",
        "value",
        "len",
    )


def session_buckets(
    scan: DataFrame, group_col: Column, kind: str, gap: int
) -> DataFrame:
    """Batch sessionization (extension: gap-based session windows — the
    batch cousin of streaming ``session_window``; the reference has only
    fixed-width and anchor-greedy buckets). Within a group, consecutive
    points belong to one session while ``ts - prev_ts <= gap`` (inclusive,
    mirroring greedy's boundary rule); a larger silence closes it. Unlike
    greedy bucketing (distance measured from the bucket's ANCHOR), the
    session rule measures consecutive gaps, so a session can extend
    indefinitely under steady activity — and unlike greedy it is fully
    declarative: lag + running sum of boundary flags + one aggregation,
    all JVM-side window/hash operators, no Python.

    Physical shape: one shuffle for the per-group window (lag + cumulative
    sum over (ts, value)-ordered rows), one hash-agg shuffle on
    (group, session). Equal timestamps order by value for engine/oracle
    determinism.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("_g").orderBy("ts", "value")
    run = Window.partitionBy("_g").orderBy("ts", "value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    df = (
        scan.select(group_col.alias("_g"), "ts", "value")
        .withColumn(
            "_brk",
            F.when(
                F.col("ts") - F.lag("ts").over(w) > F.lit(int(gap)), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn("_sid", F.sum("_brk").over(run))
    )
    return (
        df.groupBy(F.col("_g").alias("grp"), "_sid")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            _value_agg(kind).alias("value"),
            F.count(F.lit(1)).alias("len"),
        )
        .select("grp", "start_ts", "end_ts", "value", "len")
    )


def gapfill_buckets(
    agg: DataFrame,
    width: int,
    mode: str = "null",
    lo_bucket: int | None = None,
    hi_bucket: int | None = None,
) -> DataFrame:
    """Materialize empty buckets per group (extension: TimescaleDB-style
    ``time_bucket_gapfill``; the reference emits only non-empty buckets).

    For every group present in the result, a spine of bucket indices is
    generated — the query's [start, end] range when bounded, else the
    group's own [min, max] bucket — and missing buckets appear with
    ``len = 0``, ``start_ts``/``end_ts`` at the bucket's epoch edges, and
    ``value`` per ``mode``: ``null`` | ``zero`` | ``locf`` (last
    observation carried forward within the group).

    Scale shape: the spine is one sequence() explode per GROUP (rows =
    groups x buckets — the output size itself), a broadcast-able join back
    to the aggregated rows (already reduced, never raw points), and for
    locf one window per group ordered by bucket — cardinality = output
    rows. Groups with zero points in range do not appear (series selection
    happens before aggregation, same as the reference's group map).
    """
    if mode not in ("null", "zero", "locf"):
        raise ValueError(f"unknown gapfill mode: {mode}")
    w = int(width)
    b = agg.withColumn("_b", F.expr(f"start_ts div {w}"))
    if lo_bucket is not None and hi_bucket is not None:
        rng = b.select("grp").distinct().select(
            "grp", F.lit(int(lo_bucket)).alias("_lo"), F.lit(int(hi_bucket)).alias("_hi")
        )
    else:
        rng = b.groupBy("grp").agg(
            F.min("_b").alias("_lo"), F.max("_b").alias("_hi")
        )
    spine = rng.select(
        "grp", F.explode(F.sequence("_lo", "_hi")).alias("_b")
    )
    filled = spine.join(b, ["grp", "_b"], "left").select(
        "grp",
        "_b",
        F.coalesce("start_ts", F.expr(f"_b * {w}")).alias("start_ts"),
        F.coalesce("end_ts", F.expr(f"_b * {w} + {w - 1}")).alias("end_ts"),
        "value",
        F.coalesce("len", F.lit(0)).alias("len"),
    )
    if mode == "zero":
        filled = filled.withColumn("value", F.coalesce("value", F.lit(0.0)))
    elif mode == "locf":
        from pyspark.sql.window import Window

        wspec = (
            Window.partitionBy("grp")
            .orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = filled.withColumn(
            "value", F.last("value", ignorenulls=True).over(wspec)
        )
    return filled.select("grp", "start_ts", "end_ts", "value", "len")


def rows_to_bucket_map(rows: Iterable) -> dict[str, list[Bucket]]:
    """Collect result rows into the reference's output shape
    ``HashMap<group, Vec<Bucket>>`` (src/agg/group.rs:58-73), buckets
    ordered newest -> oldest like the reference's stream."""
    out: dict[str, list[Bucket]] = {}
    for r in rows:
        out.setdefault(r["grp"], []).append(
            Bucket(start=r["start_ts"], end=r["end_ts"], value=r["value"], len=r["len"])
        )
    for buckets in out.values():
        buckets.sort(key=lambda b: -b.end)
    return out


def histogram_buckets(
    scan: DataFrame,
    group_col: Column,
    width: int | None,
    lo: float,
    hi: float,
    nbins: int,
) -> DataFrame:
    """Per-bucket value HISTOGRAM (extension: the Prometheus/Datadog
    monitoring shape — a fixed-bin distribution per time bucket, which
    no single-row aggregate can carry): rows are (grp, bucket_start,
    bin, bin_lo, bin_hi, n) with bin = floor((value - lo) / binw) for
    in-range values, -1 for underflow and ``nbins`` for overflow (their
    bin_lo/bin_hi extend one binw past the range, documenting the
    open-ended edge buckets). Empty bins emit no row — at 100 TB the
    dense-bin materialization is the caller's gapfill.

    One hash aggregate keyed (grp, bucket, bin): partial map-side
    counts, shuffle carries one row per non-empty (group, bucket, bin)
    cell — the same single-shuffle shape as aligned_buckets. Bin edges
    are pure double arithmetic from (lo, hi, nbins) literals, identical
    in DuckDB, with 6-dp rounding on the emitted edges only (binning
    compares on the raw doubles in both engines)."""
    lo, hi, nbins = float(lo), float(hi), int(nbins)
    if not (hi > lo) or nbins < 1:
        raise ValueError("histogram requires hi > lo and nbins >= 1")
    binw = (hi - lo) / nbins
    v = F.col("value")
    bin_ = (
        F.when(v < lo, F.lit(-1))
        .when(v >= hi, F.lit(nbins))
        .otherwise(
            F.least(
                F.floor((v - lo) / F.lit(binw)), F.lit(nbins - 1)
            )
        )
        .cast("int")
    )
    keys = [group_col.alias("grp")]
    if width is not None:
        keys.append(F.expr(f"ts div {int(width)}").alias("_bucket"))
    else:
        keys.append(F.lit(0).alias("_bucket"))
    out = (
        scan.withColumn("_bin", bin_)
        .groupBy(*keys, "_bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = int(width) if width is not None else 0
    return out.select(
        "grp",
        (F.col("_bucket") * F.lit(w)).cast("long").alias("bucket_start"),
        F.col("_bin").alias("bin"),
        round6(F.lit(lo) + F.col("_bin") * F.lit(binw)).alias("bin_lo"),
        round6(F.lit(lo) + (F.col("_bin") + 1) * F.lit(binw)).alias("bin_hi"),
        "n",
    )
