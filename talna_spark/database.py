"""The Database facade + query builders (reference operators O1-O8, O13,
O36-O41: src/db.rs:184-312, src/agg/builder.rs:10-140).

Two backends behind one API:

- :class:`ViewBackend` — query any in-memory/derived ``points`` DataFrame
  ``(metric, ts, value, tags)``. Predicates compile straight onto the tags
  map column; Catalyst pushes metric/ts filters into the scan.
- :class:`WarehouseBackend` — the 100 TB layout (SURVEY.md §1.4): a fact
  table ``points(series_id, ts, value)`` partitioned by ``metric, ts_day``
  and a small ``series`` dimension. The filter DSL evaluates on the
  dimension only (the reference's inverted-index role, src/tag_index.rs),
  and matching series reach the fact scan via one explicit broadcast
  join — postings-list intersection re-expressed as Catalyst set algebra.
  Raw and rollup scans select series the same way.

Query lifecycle mirrors the reference's (SURVEY.md §3.1): builder ->
parse DSL -> compile predicate -> scan+join -> group -> bucket-aggregate;
steps 4-7 collapse into one declarative DataFrame plan.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talna_spark.aggregate import (
    aligned_buckets,
    greedy_auto_decision,
    greedy_buckets,
    greedy_buckets_sliced,
    rows_to_bucket_map,
)
from talna_spark.dsl.compiler import compile_to_column
from talna_spark.dsl.parser import parse_filter_query
from talna_spark.duration import Duration
from talna_spark.errors import InvalidQueryError, InvalidValueError
from talna_spark.metric import validate_metric_name
from talna_spark.timeutil import timestamp

MINUTE_NS = Duration.MINUTE  # default granularity (reference src/db.rs:21)


def _validate_ts(ts_ns) -> int:
    """Timestamps are unsigned ns (reference ``u128``, src/lib.rs:108 —
    pre-1970 points are outside its data model). Enforcing ts >= 0 at the
    API boundary also keeps Python ``//`` bucket math (gapfill/rollup
    bounds) and Spark's truncating ``div`` identical — they diverge only
    on negatives."""
    ts = int(ts_ns)
    if ts < 0:
        raise InvalidValueError(f"timestamps must be >= 0 ns (got {ts})")
    return ts


from talna_spark.timeutil import ns_to_day as _ns_to_date  # one shared definition


# A view may expose `_raw_ts`: the stored (pre-transformation) timestamp
# column. For an int64 raw column it satisfies ts <= _raw_ts <= ts +
# RAW_TS_SLACK_NS (derived ts is µs-truncated); for a timestamp[us] raw
# column the derived ns value is exact (_raw_ts == ts up to the unit
# change). Predicates on the derived `ts` cannot reach the file scan, but
# bounds re-expressed on `_raw_ts` in its stored type are attribute-level
# and push down to row-group skipping; the exact `ts` predicate then
# filters the residue.
RAW_TS_SLACK_NS = 999


def _raw_ts_bounds(raw_type, start: Optional[int], end: Optional[int]):
    """(lower, upper) Column literals bounding the `_raw_ts` pushdown
    column, in its stored type. The ns -> µs conversion widens outward
    (floor for the lower bound, ceil for the upper) so the raw predicate
    is always a superset of the exact ts predicate."""
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    def lit(ns: int, *, ceil: bool):
        if isinstance(raw_type, LongType):
            return F.lit(int(ns))
        us = -((-int(ns)) // 1000) if ceil else int(ns) // 1000
        if isinstance(raw_type, TimestampNTZType):
            # wall-clock add from the NTZ epoch: timezone-free, foldable
            # to a literal before pushdown
            return F.expr(
                "timestampadd(MICROSECOND, "
                f"{us}, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            )
        if isinstance(raw_type, TimestampType):
            return F.expr(f"timestamp_micros({us}L)")
        return None

    lower = upper = None
    if start is not None:
        # derived ts >= start implies raw >= floor_us(start) in every
        # representation (raw >= ts for the int64-ns truncated case,
        # raw == ts for timestamp[us])
        lower = lit(int(start), ceil=False)
    if end is not None:
        # int64 raw: raw <= ts + slack <= end + slack; timestamp raw:
        # raw(µs) * 1000 <= end implies raw <= ceil_us(end)
        upper = lit(int(end) + RAW_TS_SLACK_NS, ceil=True)
    return lower, upper


class ViewBackend:
    """Backend over a logical points DataFrame (metric, ts, value, tags)."""

    def __init__(self, points: DataFrame):
        self.points = points
        self._views_registered = None  # sql() re-registers per generation

    def scan(self, metric: str, node, start: Optional[int], end: Optional[int]) -> DataFrame:
        df = self.points.filter(F.col("metric") == metric)
        has_raw = "_raw_ts" in self.points.columns
        lower = upper = None
        if has_raw:
            lower, upper = _raw_ts_bounds(
                self.points.schema["_raw_ts"].dataType, start, end
            )
        # Time-range pushdown (O11): the exact predicate goes on the
        # derived ts; its widened twin on `_raw_ts` reaches the parquet
        # scan as PushedFilters / row-group min-max skipping.
        if start is not None:
            df = df.filter(F.col("ts") >= F.lit(int(start)))
            if lower is not None:
                df = df.filter(F.col("_raw_ts") >= lower)
        if end is not None:
            df = df.filter(F.col("ts") <= F.lit(int(end)))
            if upper is not None:
                df = df.filter(F.col("_raw_ts") <= upper)
        return df.filter(compile_to_column(node, F.col("tags")))


class WarehouseBackend:
    """Backend over the partitioned warehouse written by ingest.write_batch.

    Series selection is one dim predicate: the filter AST compiled onto
    the series dim's tag map (one row per series), the matched
    (series_id, tags) rows broadcast into the fact or rollup scan. It
    reads the dim the queries need for ``tags`` anyway, so a fresh query
    plans one scan of it and one broadcast; appended series are visible
    to the next query with no index to refresh.
    """

    def __init__(self, spark: SparkSession, path: str):
        from talna_spark.ingest import read_facts, read_series_dim

        self.spark = spark
        self.path = path
        self.series = read_series_dim(spark, path)
        # fact reader built once per backend generation: the DataFrame's
        # file index caches the (metric, ts_day) directory listing, which
        # a per-query read_facts() would redo (~150 dirs at sf0.1; a
        # catalog round-trip at cluster scale). write_batch/compact/expire
        # re-run __init__, so freshness tracks the data like self.series.
        self.facts = read_facts(spark, path)
        # write_batch/compact/expire re-run __init__ on this same instance:
        # resetting here makes sql() re-register views against the new data
        # generation (a stale view would read deleted/outdated file lists)
        self._views_registered = None

    def _matched_series(self, metric: str, node) -> DataFrame:
        """(series_id, tags) for every series matching the filter — the
        reference's inverted-index evaluation (src/query/filter.rs:92-139)
        as one predicate over the dim."""
        return self.series.filter(
            (F.col("metric") == metric) & compile_to_column(node, F.col("tags"))
        ).select("series_id", "tags")

    def scan(self, metric: str, node, start: Optional[int], end: Optional[int]) -> DataFrame:
        # 1) Series selection: the filter as a predicate on the dim.
        dim = self._matched_series(metric, node)
        facts = self.facts
        # 2) Partition pruning: metric is a physical partition column; ts_day
        #    prunes whole day-directories before any row-group is touched.
        facts = facts.filter(F.col("metric") == metric)
        if start is not None:
            facts = facts.filter(F.col("ts") >= F.lit(int(start))).filter(
                F.col("ts_day") >= _ns_to_date(int(start))
            )
        if end is not None:
            facts = facts.filter(F.col("ts") <= F.lit(int(end))).filter(
                F.col("ts_day") <= _ns_to_date(int(end))
            )
        # 3) Broadcast the matched series into the fact scan — the postings
        #    semi-join (O17) without a materialized index. The dimension is
        #    tiny relative to facts by construction (one row per series).
        return facts.join(
            F.broadcast(dim.select("series_id", "tags")), "series_id", "inner"
        ).select("ts", "value", "tags")


def _twa_transform(scan: DataFrame, metric: str) -> DataFrame:
    """Attach the time weight for time-weighted averaging (extension):
    each point carries the ns until its series' NEXT point (its value is
    "held" for that interval — step interpolation); a series' last point
    holds nothing and weighs 0. Intervals attribute wholly to the bucket
    of their starting point (documented simplification: no splitting at
    bucket edges). Same per-series window shape as rate()."""
    from pyspark.sql.window import Window

    from talna_spark.ingest import series_key_col

    sid = F.xxhash64(series_key_col(F.lit(metric), F.col("tags")))
    w = Window.partitionBy("_sid").orderBy("ts", "value")
    return (
        scan.withColumn("_sid", sid)
        .withColumn("_w", F.coalesce(F.lead("ts").over(w) - F.col("ts"), F.lit(0)))
        .select("ts", "value", "tags", "_w")
    )


def _lag_pairs(scan: DataFrame, metric: str) -> DataFrame:
    """Consecutive-point pairs per series — the shared scaffold of the
    rate()/increase() transforms (and the oracle's `rated` CTE, kept in
    lockstep in talna_spark.oracle).

    Series identity is the canonical series key derived from the tags map
    (reference src/series_key.rs:20-41) — one JVM-side hash per row; the
    window shuffles on it, so pairs never mix series. Equal-timestamp
    pairs within a series are ordered by value for determinism and their
    dt=0 rows dropped; each series' first point (no predecessor) is
    dropped. Rows carry ``_prev_ts``/``_prev_v`` for the caller's delta
    expression, labeled at the later timestamp."""
    from pyspark.sql.window import Window

    from talna_spark.ingest import series_key_col

    sid = F.xxhash64(series_key_col(F.lit(metric), F.col("tags")))
    w = Window.partitionBy("_sid").orderBy("ts", "value")
    return (
        scan.withColumn("_sid", sid)
        .withColumn("_prev_ts", F.lag("ts").over(w))
        .withColumn("_prev_v", F.lag("value").over(w))
        .filter(F.col("_prev_ts").isNotNull() & (F.col("ts") > F.col("_prev_ts")))
    )


def _increase_transform(scan: DataFrame, metric: str) -> DataFrame:
    """Counter increase with reset handling (extension beyond the
    reference — the PromQL-style ``increase()`` for monotonic counters):
    per series, each consecutive-point delta is ``value - lag(value)``
    when the counter grew, else ``value`` (a smaller reading means the
    counter reset and restarted from 0, so the new reading IS the
    increase since the reset). Buckets then SUM the deltas."""
    df = _lag_pairs(scan, metric)
    delta = F.when(
        F.col("value") >= F.col("_prev_v"), F.col("value") - F.col("_prev_v")
    ).otherwise(F.col("value"))
    return df.select("ts", delta.alias("value"), "tags")


def _rate_transform(scan: DataFrame, metric: str) -> DataFrame:
    """Per-series derivative (extension beyond the reference — the
    Datadog-model ``rate()`` the tagging scheme is built for): value
    becomes ``(value - lag(value)) / ((ts - lag(ts)) / 1e9)`` in
    units/second. Buckets then AVERAGE the instantaneous rates."""
    df = _lag_pairs(scan, metric)
    rate = (F.col("value") - F.col("_prev_v")) / (
        (F.col("ts") - F.col("_prev_ts")) / F.lit(1e9)
    )
    return df.select("ts", rate.alias("value"), "tags")


class QueryBuilder:
    """Fluent aggregation builder (reference src/agg/builder.rs:10-140).

    Defaults mirror the reference: filter ``"*"`` (src/db.rs:222) and
    granularity 1 minute (src/db.rs:223). Time bounds are inclusive on both
    ends (src/agg/builder.rs:106-113).
    """

    def __init__(self, db: "Database", kind: str, metric: str, group_by):
        self._db = db
        self._kind = kind
        self._metric = validate_metric_name(metric)
        # group_by: one tag key (reference semantics, group-by-ONE-tag) or a
        # sequence of keys (extension: Datadog-style `by {host,env}`). Multi
        # grouping composes the keys into one string group "k1:v1,k2:v2" —
        # injective for DSL-charset tag values (no ':'/',' possible,
        # src/query/lexer.rs:21). Ingest does not validate tag charsets
        # (neither does the reference's write_at), so adversarial values
        # containing ':'/',' can collide groups — the same ambiguity the
        # reference's series-key format has (src/series_key.rs:35-41).
        if isinstance(group_by, str):
            self._group_by: tuple[str, ...] | str = group_by
        else:
            gb = tuple(group_by)
            if not gb or not all(isinstance(k, str) and k for k in gb):
                raise InvalidQueryError(
                    "group_by must be a tag key or a non-empty sequence of tag keys"
                )
            self._group_by = gb[0] if len(gb) == 1 else gb
        self._filter = "*"
        self._start: Optional[int] = None
        self._end: Optional[int] = None
        self._granularity: Optional[int] = MINUTE_NS
        self._granularity_set = False
        self._mode = "aligned"
        self._greedy_slice_width = None  # int ns | "auto" | None
        self._greedy_auto_choice: Optional[tuple] = None  # last auto build
        self._greedy_boundary: str = "reanchor"
        self._gapfill: Optional[str] = None
        self._rolling: Optional[int] = None
        self._zscore: Optional[int] = None
        self._value_pred: Optional[tuple] = None
        self._cube: Optional[str] = None  # None | "cube" | "rollup"
        self._calendar: Optional[str] = None

    def filter(self, expr: str) -> "QueryBuilder":
        self._filter = expr
        return self

    def where_value(self, op: str, threshold: float) -> "QueryBuilder":
        """Row-level VALUE predicate (extension: the reference's filters
        are series-level only — SURVEY §2.2 notes 'no row-level value
        predicate anywhere'): keep points whose value satisfies
        ``op threshold`` (op in > >= < <= == !=) before bucketing. The
        predicate pushes into the fact scan with the tag/time predicates
        (Catalyst reaches the parquet PushedFilters) and disables the
        rollup rewrite (partials can't see row values)."""
        from talna_spark.oracle import _VALUE_PRED_OPS

        if op not in _VALUE_PRED_OPS:
            raise InvalidQueryError(f"unknown value predicate op: {op}")
        self._value_pred = (op, float(threshold))
        return self

    def cube(self) -> "QueryBuilder":
        """Grouping-sets subtotals (extension: §2.2 'no grouping
        sets/cube/rollup' in the reference): with a multi-tag group_by,
        aggregate every SUBSET of the group tags in one pass — rolled-up
        slots appear as ``k:*`` in the composed group key (the all-``*``
        row is the grand total per bucket). Aligned mode only; requires
        >= 2 group tags; group-drop (O25) still requires every tag
        present on a row.

        100 TB shape: the 2^k grouping-set keys are generated by one
        map-side explode (Spark's own Expand strategy for CUBE), so the
        plan stays a single hash aggregate over 2^k x rows expanded
        id-small rows — no repeated scans, no join."""
        return self._grouping_sets("cube", "cube", "rollup_sets")

    def rollup_sets(self) -> "QueryBuilder":
        """Hierarchical (SQL ROLLUP) subtotals: only the PREFIX subsets
        of the group-tag list aggregate — (k1, k2), (k1), () for a
        two-tag group — the drill-down hierarchy shape (region > host,
        source > lang), k+1 grouping sets instead of cube's 2^k. Same
        Expand-style single-pass plan and ``k:*`` key convention as
        :meth:`cube`; mutually exclusive with it."""
        return self._grouping_sets("rollup", "rollup_sets", "cube")

    def _grouping_sets(self, mode: str, name: str, other: str) -> "QueryBuilder":
        if len(self._group_keys()) < 2:
            raise InvalidQueryError(f"{name} requires at least two group tags")
        if self._cube not in (None, mode):  # re-set is idempotent (ADVICE r7)
            raise InvalidQueryError(
                "cube and rollup_sets are mutually exclusive "
                f"({other} already set)"
            )
        self._cube = mode
        return self

    def start(self, ts_ns: int) -> "QueryBuilder":
        self._start = _validate_ts(ts_ns)
        return self

    def end(self, ts_ns: int) -> "QueryBuilder":
        self._end = _validate_ts(ts_ns)
        return self

    def start_relative(self, duration_ns: int) -> "QueryBuilder":
        """Lower bound at ``now() - duration`` (reference
        src/agg/builder.rs:74-77).

        ADJUDICATED DEVIATION (r16): with ``duration > now()`` the
        reference's ``timestamp() - window`` underflows u128
        (builder.rs:75 + time.rs:6-13) — debug builds PANIC; release
        builds wrap ``min_ts`` to ~u128::MAX and the query silently
        returns EMPTY. Reachable today with ``Duration.years(62)``
        (~1.8e18 ns epoch). We raise InvalidQueryError instead —
        a pre-epoch bound is a caller bug, never a silent empty.
        Pinned: tests/test_api.py::test_relative_bound_underflow."""
        self._start = _validate_ts(timestamp() - int(duration_ns))
        return self

    def end_relative(self, duration_ns: int) -> "QueryBuilder":
        """Upper bound at ``now() - duration`` (reference
        src/agg/builder.rs:88-91).

        ADJUDICATED DEVIATION (r16): worse than start_relative — with
        ``duration > now()`` the reference's release-mode wrap sets
        ``max_ts`` to ~u128::MAX, so "everything OLDER than 62+ years"
        (correct answer: nothing) returns EVERYTHING: the semantics
        silently invert. Debug builds panic. We raise
        InvalidQueryError. Pinned alongside start_relative."""
        self._end = _validate_ts(timestamp() - int(duration_ns))
        return self

    def granularity(self, width_ns: Optional[int]) -> "QueryBuilder":
        """Bucket width in ns; ``None`` = a single unbounded bucket per group."""
        if width_ns is not None and width_ns <= 0:
            raise InvalidQueryError("granularity must be positive")
        if self._calendar is not None:
            raise InvalidQueryError(
                "calendar replaces granularity — set only one"
            )
        self._granularity = None if width_ns is None else int(width_ns)
        self._granularity_set = True
        return self

    def mode(self, mode: str) -> "QueryBuilder":
        """``aligned`` (scalable default) or ``greedy`` (reference-faithful O27)."""
        if mode not in ("aligned", "greedy"):
            raise InvalidQueryError(f"unknown bucketing mode: {mode}")
        self._mode = mode
        return self

    def greedy_boundary(self, boundary: str) -> "QueryBuilder":
        """Greedy-mode boundary semantics at the bucket-closing point:
        ``reanchor`` (default — the closing point becomes the next
        bucket's first member; the adjudicated sane semantics) or
        ``drop`` (bit-faithful to the reference, src/agg/stream.rs:81-86
        — the closing point is consumed and joins NO bucket; real talna
        silently loses one point per boundary). ``drop`` exists so the
        documented deviation is executable and driver-hash-checked
        (q17 ``kind=dropref``); it is single-task-per-group only — the
        drop state machine is not self-synchronizing at a gap, so it
        cannot combine with :meth:`greedy_slices`. Greedy mode only."""
        if boundary not in ("reanchor", "drop"):
            raise InvalidQueryError(
                f"unknown greedy boundary semantics: {boundary!r}"
            )
        self._greedy_boundary = boundary
        return self

    def greedy_slices(self, slice_width_ns) -> "QueryBuilder":
        """Greedy mode's scale path: split each group into coarse time
        slices processed as parallel tasks, stitching only entry-dependent
        boundary rows sequentially (aggregate.greedy_buckets_sliced;
        bit-identical to the one-task scan). Pick a slice width >> the
        bucket width — 100-1000x — so the sequential residue stays small.
        Greedy mode only.

        Regime guidance (r16, measured — the pipe_greedy* BENCH pairs):
        the decomposition pays one extra shuffle and a second Arrow
        pass, so it wins only when single groups are LARGE (locally the
        crossover sits around ~4M points in one group; the gap then
        widens with group size, since the default path is O(n) in one
        task per group). With many small groups the default greedy path
        is already parallel (groups spread over tasks) and strictly
        cheaper. Also needs gaps > bucket width inside slices: on data
        with no such gap anywhere, every row is entry-dependent and the
        stitch degrades to the sequential scan by design.

        ``greedy_slices("auto")`` (r17) applies that guidance from the
        data instead of a hand-picked width: at plan-build time ONE
        exact pre-aggregate over the filtered scan (per-group count/span
        with map-side partials, 1-row collect) picks the path —
        ``aggregate.greedy_auto_decision``. Largest group under
        ``aggregate.GREEDY_AUTO_ROWS`` (the measured ~4M-point
        crossover) keeps the default one-task-per-group scan; above it
        the sliced decomposition runs with a slice width targeting ~4
        slices per core for the largest group. Both choices are
        bit-identical; the decision taken by the last real build is
        recorded on the builder as ``_greedy_auto_choice``
        (``("single"|"sliced", slice_width_ns, stats)``). Note: auto
        runs its stats job eagerly inside ``to_df()`` (a cache hit
        skips it along with the rest of plan building)."""
        if slice_width_ns == "auto":
            self._greedy_slice_width = "auto"
            self._greedy_auto_choice = None  # set by the next real build
            return self
        if isinstance(slice_width_ns, str):
            raise InvalidQueryError(
                "greedy_slices takes a width in ns or 'auto' "
                f"(got {slice_width_ns!r})"
            )
        if int(slice_width_ns) <= 0:
            raise InvalidQueryError("greedy slice width must be positive")
        self._greedy_slice_width = int(slice_width_ns)
        # switching from auto to an explicit width clears the stale
        # choice record, which would otherwise misreport the last build
        self._greedy_auto_choice = None
        return self

    def calendar(self, unit: str) -> "QueryBuilder":
        """Bucket by UTC-calendar periods — ``day``/``week``/``month``/
        ``quarter``/``year`` (extension: the reference's buckets are
        fixed-width durations, which cannot express a month or an
        ISO week; `granularity(Duration.days(30))` drifts off month
        boundaries immediately). Aligned mode only; replaces
        granularity. Weeks start Monday (ISO), all boundaries are UTC
        — computed tz-free at the DATE level, so the session timezone
        cannot move them."""
        from talna_spark.aggregate import CALENDAR_UNITS

        if unit not in CALENDAR_UNITS:
            raise InvalidQueryError(f"unknown calendar unit: {unit}")
        if self._granularity_set:
            raise InvalidQueryError(
                "calendar replaces granularity — set only one"
            )
        self._calendar = unit
        return self

    def gapfill(self, mode: str = "null") -> "QueryBuilder":
        """Materialize empty buckets (extension; aligned mode + finite
        granularity only): ``null`` | ``zero`` | ``locf``."""
        if mode not in ("null", "zero", "locf"):
            raise InvalidQueryError(f"unknown gapfill mode: {mode}")
        self._gapfill = mode
        return self

    def rolling(self, k: int) -> "QueryBuilder":
        """Smooth bucket values with a trailing k-bucket moving average
        (extension; aligned mode + finite granularity only). Applied after
        gapfill when both are set — zero-filled buckets participate in the
        frame; null-filled ones are skipped by AVG on both engines.
        Mutually exclusive with :meth:`zscore`."""
        if int(k) <= 1:
            raise InvalidQueryError("rolling k must be > 1")
        if self._zscore is not None:
            raise InvalidQueryError("rolling cannot combine with zscore")
        self._rolling = int(k)
        return self

    def zscore(self, k: int) -> "QueryBuilder":
        """Replace bucket values with their rolling z-score vs the trailing
        ``k`` buckets (extension; aligned mode + finite granularity only).
        Buckets with an insufficient baseline (< 2 frame rows or zero
        variance) score NULL. Mutually exclusive with :meth:`rolling`."""
        if int(k) <= 1:
            raise InvalidQueryError("zscore k must be > 1")
        if self._rolling is not None:
            raise InvalidQueryError("zscore cannot combine with rolling")
        self._zscore = int(k)
        return self

    def sliding(self, width_ns: int, slide_ns: int) -> DataFrame:
        """Hopping-window aggregation (extension: overlapping windows of
        ``width_ns`` every ``slide_ns``; the reference has only disjoint
        buckets). Ignores granularity/mode; returns the result DataFrame
        directly with a ``win_start`` column — overlapping windows are not
        uniquely keyed by their observed min/max ts."""
        from talna_spark.aggregate import sliding_buckets

        self._no_post_ops("sliding")
        if self._mode != "aligned":
            raise InvalidQueryError("sliding requires aligned mode")
        if self._granularity_set:
            raise InvalidQueryError(
                "sliding ignores granularity — it takes width/slide directly; "
                "drop the granularity() call"
            )
        w, s = int(width_ns), int(slide_ns)
        if w <= 0 or s <= 0 or w % s != 0:
            raise InvalidQueryError(
                "sliding requires width > 0, slide > 0, width % slide == 0"
            )
        scan = self._scan()
        if self._kind not in ("avg", "sum", "min", "max", "count"):
            raise InvalidQueryError("sliding supports the five basic aggregations")
        return sliding_buckets(scan, self._group_col(), self._kind, w, s)

    def histogram(self, lo: float, hi: float, nbins: int) -> DataFrame:
        """Per-bucket value histogram (extension: the Prometheus/Datadog
        distribution shape — the reference carries one value per bucket
        and cannot express a distribution). Requires the ``count``
        entry point (a histogram IS a structured count) and aligned
        mode; granularity gives the time bucketing (None = one global
        bucket). Returns (grp, bucket_start, bin, bin_lo, bin_hi, n)
        with open-ended underflow (-1) / overflow (nbins) edge bins."""
        from talna_spark.aggregate import histogram_buckets

        if self._kind != "count":
            raise InvalidQueryError(
                "histogram requires the count() entry point"
            )
        if self._mode != "aligned":
            raise InvalidQueryError("histogram requires aligned mode")
        self._no_post_ops("histogram")
        scan = self._scan()
        return histogram_buckets(
            scan, self._group_col(), self._granularity, lo, hi, nbins
        )

    def sessions(self, gap_ns: int) -> DataFrame:
        """Gap-based session windows (extension: batch sessionization —
        data-driven bucket boundaries where a silence longer than
        ``gap_ns`` closes the session). Terminal like :meth:`sliding`:
        ignores granularity (boundaries come from the data), aligned-mode
        only; the five basic aggregations apply per session."""
        from talna_spark.aggregate import session_buckets

        self._no_post_ops("sessions")
        if self._mode != "aligned":
            raise InvalidQueryError("sessions requires aligned mode")
        if self._granularity_set:
            raise InvalidQueryError(
                "sessions ignores granularity — the gap defines boundaries; "
                "drop the granularity() call"
            )
        if int(gap_ns) <= 0:
            raise InvalidQueryError("session gap must be positive")
        if self._kind not in ("avg", "sum", "min", "max", "count"):
            raise InvalidQueryError("sessions supports the five basic aggregations")
        scan = self._scan()
        return session_buckets(scan, self._group_col(), self._kind, int(gap_ns))

    def _group_keys(self) -> tuple[str, ...]:
        gb = self._group_by
        return (gb,) if isinstance(gb, str) else gb

    def _group_col(self) -> "F.Column":
        keys = self._group_keys()
        if len(keys) == 1:
            return F.col("tags").getItem(keys[0])
        return F.concat_ws(
            ",", *(F.concat(F.lit(f"{k}:"), F.col("tags").getItem(k)) for k in keys)
        )

    def _no_post_ops(self, op: str, why: str = "") -> None:
        if (
            self._gapfill is not None
            or self._rolling is not None
            or self._zscore is not None
        ):
            raise InvalidQueryError(
                f"{op} cannot combine with gapfill/rolling/zscore{why}"
            )

    def _scan(self, node=None) -> DataFrame:
        """The metric's points under the filter and time bounds, with the
        group-drop filter applied (``node`` = the already-parsed filter)."""
        if node is None:
            node = parse_filter_query(self._filter)
        scan = self._db._backend.scan(self._metric, node, self._start, self._end)
        return self._group_drop_filter(scan)

    def _group_drop_filter(self, df: DataFrame) -> DataFrame:
        # Series lacking ANY group tag are silently dropped (O25,
        # reference src/agg/builder.rs:120-122, generalized to multi-key).
        for k in self._group_keys():
            df = df.filter(F.col("tags").getItem(k).isNotNull())
        return df

    def _plan_signature(self) -> tuple:
        """Hashable identity of the logical plan this builder describes.
        Everything that influences to_df()'s output is in here; two
        builders with equal signatures produce interchangeable plans
        against the same backend generation."""
        return (
            "agg", self._kind, self._metric, self._group_by, self._filter,
            self._start, self._end, self._granularity, self._granularity_set,
            self._mode, self._greedy_slice_width, self._greedy_boundary,
            self._gapfill,
            self._rolling, self._zscore, self._value_pred, self._cube,
            self._calendar,
        )

    # -- plan assembly (reference `build()`, src/agg/builder.rs:95-140) -----
    def to_df(self) -> DataFrame:
        """Build (or fetch from the facade's plan cache) the result plan.

        The cache is the prepared-statement path: a repeat query with an
        identical signature reuses the analyzed/optimized Dataset, skipping
        py4j plan-building chatter and Catalyst re-analysis — measured
        ~0.29 s of fixed per-call cost at scale100 vs ~55 ms re-executing
        the same plan. Spark Datasets are immutable, so sharing one across
        calls is safe; the facade drops the cache whenever the backend
        data generation changes (write/compact/expire/rollup)."""
        cached = self._db._plan_cache_get(self._plan_signature())
        if cached is not None:
            return cached
        df = self._build_df()
        self._db._plan_cache_put(self._plan_signature(), df)
        return df

    def _build_df(self) -> DataFrame:
        node = parse_filter_query(self._filter)  # may raise InvalidQueryError
        if (
            self._value_pred is None
            and not self._cube
            and self._calendar is None
        ):
            # none survive the rollup rewrite: partials can't see row
            # values, cube changes the grouping key set, and rollup
            # partials are fixed-width (calendar periods are not)
            rollup_df = self._try_rollup(node)
            if rollup_df is not None:
                return self._apply_rolling(self._apply_gapfill(rollup_df))
        scan = self._scan(node)
        group_col = self._group_col()
        if self._value_pred is not None:
            import operator as _op

            op, x = self._value_pred
            fn = {
                ">": _op.gt, ">=": _op.ge, "<": _op.lt,
                "<=": _op.le, "==": _op.eq, "!=": _op.ne,
            }[op]
            scan = scan.filter(fn(F.col("value"), F.lit(x)))
        if self._cube:
            if self._mode != "aligned":
                raise InvalidQueryError("cube requires aligned mode")
            self._no_post_ops("cube")
        kind = self._kind
        if kind == "rate":
            # per-series derivative first; buckets then average the
            # instantaneous rates (Datadog-style rate()).
            scan = _rate_transform(scan, self._metric)
            kind = "avg"
        elif kind == "increase":
            # per-series reset-aware counter deltas; buckets sum them.
            scan = _increase_transform(scan, self._metric)
            kind = "sum"
        elif kind in ("distinct_series", "distinct_series_approx"):
            from talna_spark.ingest import series_key_col

            if self._mode == "greedy":
                raise InvalidQueryError(
                    "distinct_series supports aligned mode only"
                )
            scan = scan.withColumn(
                "_series_key", series_key_col(F.lit(self._metric), F.col("tags"))
            )
        elif kind == "twa":
            if self._mode == "greedy":
                raise InvalidQueryError("twa supports aligned mode only")
            scan = _twa_transform(scan, self._metric)
        elif kind in ("latest", "delta") and self._mode == "greedy":
            raise InvalidQueryError(f"{kind} supports aligned mode only")
        if self._cube:
            # The grouping-set explode runs AFTER the per-series kind
            # transforms: rate/increase/twa/distinct_series compute over
            # the un-expanded series rows (each physical point exactly
            # once per series), then each derived row fans out into its
            # 2^k (or k+1) grouping-set keys. Exploding first would both
            # drop _cube_grp in the transforms' re-select and corrupt
            # lag-based kinds with 2^k duplicate points per series.
            keys = self._group_keys()
            if self._cube == "cube":
                masks = range(2 ** len(keys))
            else:  # rollup: prefix subsets only — (2^p - 1) sets bits 0..p-1
                masks = [(1 << p) - 1 for p in range(len(keys), -1, -1)]
            combos = []
            for mask in masks:
                parts = [
                    F.concat(F.lit(f"{k}:"), F.col("tags").getItem(k))
                    if (mask >> i) & 1
                    else F.lit(f"{k}:*")
                    for i, k in enumerate(keys)
                ]
                combos.append(F.concat_ws(",", *parts))
            scan = scan.withColumn("_cube_grp", F.explode(F.array(*combos)))
            group_col = F.col("_cube_grp")
        if self._calendar is not None:
            if self._mode != "aligned":
                raise InvalidQueryError("calendar requires aligned mode")
            self._no_post_ops(
                "calendar",
                " (their bucket spines/frames assume a fixed width)",
            )
        if self._mode == "greedy":
            from talna_spark.aggregate import approx_percentile_q

            if approx_percentile_q(kind) is not None:
                raise InvalidQueryError(
                    "percentile_approx supports aligned mode only "
                    "(use the exact percentile for greedy buckets)"
                )
            if self._granularity is None:
                raise InvalidQueryError("greedy mode requires a finite granularity")
            if self._gapfill is not None:
                raise InvalidQueryError("gapfill requires aligned mode")
            if self._rolling is not None:
                raise InvalidQueryError("rolling requires aligned mode")
            if self._zscore is not None:
                raise InvalidQueryError("zscore requires aligned mode")
            if self._greedy_slice_width is not None:
                if self._greedy_boundary == "drop":
                    raise InvalidQueryError(
                        "greedy_boundary('drop') is single-task-per-group "
                        "only and cannot combine with greedy_slices (the "
                        "drop state machine is not self-synchronizing at "
                        "a gap; see QueryBuilder.greedy_boundary)"
                    )
                slice_w = self._greedy_slice_width
                if slice_w == "auto":
                    use_sliced, slice_w, stats = greedy_auto_decision(
                        scan, group_col, self._granularity
                    )
                    self._greedy_auto_choice = (
                        "sliced" if use_sliced else "single", slice_w, stats
                    )
                if slice_w is not None:
                    return greedy_buckets_sliced(
                        scan, group_col, kind, self._granularity, slice_w,
                    )
            return greedy_buckets(
                scan, group_col, kind, self._granularity,
                boundary=self._greedy_boundary,
            )
        if self._greedy_slice_width is not None:
            raise InvalidQueryError("greedy_slices requires greedy mode")
        if self._greedy_boundary != "reanchor":
            raise InvalidQueryError("greedy_boundary requires greedy mode")
        if self._calendar is not None:
            return aligned_buckets(
                scan, group_col, kind, None, calendar_unit=self._calendar
            )
        return self._apply_rolling(
            self._apply_gapfill(
                aligned_buckets(scan, group_col, kind, self._granularity)
            )
        )

    def _apply_gapfill(self, agg: DataFrame) -> DataFrame:
        if self._gapfill is None:
            return agg
        if self._granularity is None:
            raise InvalidQueryError("gapfill requires a finite granularity")
        from talna_spark.aggregate import gapfill_buckets

        g = self._granularity
        lo = self._start // g if self._start is not None else None
        hi = self._end // g if self._end is not None else None
        both = lo is not None and hi is not None
        return gapfill_buckets(
            agg, g, self._gapfill,
            lo_bucket=lo if both else None,
            hi_bucket=hi if both else None,
        )

    def _apply_rolling(self, agg: DataFrame) -> DataFrame:
        if self._rolling is not None:
            if self._granularity is None:
                raise InvalidQueryError("rolling requires a finite granularity")
            from talna_spark.aggregate import rolling_buckets

            return rolling_buckets(agg, self._granularity, self._rolling)
        if self._zscore is not None:
            if self._granularity is None:
                raise InvalidQueryError("zscore requires a finite granularity")
            from talna_spark.aggregate import zscore_buckets

            return zscore_buckets(agg, self._granularity, self._zscore)
        return agg

    def top(self, k: int) -> DataFrame:
        """Top-k groups ranked by aggregate ``value`` (extension: the
        reference has no top-k operator, SURVEY.md §2.2 "Sorts/limits").

        Ranks the *aggregated* rows (one per group x bucket), ordering by
        value DESC with grp ASC tie-break on 6-dp-rounded values so ranks
        are reproducible across engines. Two-phase like the ANN top-k:
        partial top-k per partition, then final over <= k x P survivors —
        no single-reducer hotspot at high group cardinality.
        """
        if k <= 0:
            raise InvalidQueryError("top k must be positive")
        from pyspark.sql.window import Window

        from talna_spark.aggregate import round6

        agg = self.to_df().withColumn("value", round6("value"))
        order = [F.col("value").desc(), F.col("grp").asc(), F.col("start_ts").asc()]
        w1 = Window.partitionBy("_p").orderBy(*order)
        w2 = Window.partitionBy(F.lit(1)).orderBy(*order)
        # partial-phase key derived from the DATA, not spark_partition_id():
        # task retries / speculative execution can re-split input rows
        # across different physical partitions mid-stage, and a
        # nondeterministic key could then drop a true top-k row.
        part = F.pmod(F.xxhash64("grp", "start_ts"), F.lit(64))
        return (
            agg.withColumn("_p", part)
            .withColumn("_r", F.row_number().over(w1))
            .filter(F.col("_r") <= k)
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("grp", "start_ts", "end_ts", "value", "len", "rank")
        )

    def _try_rollup(self, node) -> Optional[DataFrame]:
        """Rewrite onto a materialized rollup when exact (talna_spark.rollup):
        aligned mode, decomposable aggregation, granularity a multiple of a
        rollup width, bounds on rollup-bucket edges. Returns None (use the
        raw scan) otherwise — correctness never depends on rollups."""
        backend = self._db._backend
        if not isinstance(backend, WarehouseBackend):
            return None
        from talna_spark.rollup import pick_rollup, rollup_aggregate, rollup_scan

        w = pick_rollup(
            backend.path, self._kind, self._mode, self._granularity,
            self._start, self._end,
        )
        if w is None:
            return None
        matched = backend._matched_series(self._metric, node)
        scan = rollup_scan(
            backend.spark, backend.path, w, self._metric, matched,
            self._start, self._end,
        )
        scan = self._group_drop_filter(scan)
        return rollup_aggregate(
            scan, self._group_col(), self._kind, w, self._granularity
        )

    build = to_df  # reference naming (src/agg/builder.rs:95)

    def collect(self) -> dict:
        """Materialize as ``{group: [Bucket, ...]}`` newest-first
        (reference ``GroupedAggregation::collect``, src/agg/group.rs:58-73)."""
        return rows_to_bucket_map(r.asDict() for r in self.to_df().collect())


class BinaryQueryBuilder:
    """Arithmetic between two metrics' aligned bucket series (extension:
    the PromQL-style binary operation — ``errors / requests`` per group
    per bucket — that the reference's one-metric-per-query model cannot
    express).

    Each side aggregates independently (same kind, filter, bounds and
    granularity), then the two REDUCED bucket frames join on
    ``(group, bucket index)`` — the join moves groups x buckets rows,
    never raw points, and AQE is free to broadcast the smaller side.
    Inner-join semantics: buckets where either metric is silent are
    dropped (PromQL vector matching drops non-matching samples the same
    way). ``div`` yields NULL on a zero denominator.

    Result columns mirror the single-metric shape: ``start_ts``/``end_ts``
    span both sides' observed extremes; ``len`` counts both sides' points.
    """

    _OPS = {"add": "+", "sub": "-", "mul": "*", "div": "/"}

    def __init__(
        self, db: "Database", op: str, kind: str,
        left_metric: str, right_metric: str, group_by,
    ):
        if op not in self._OPS:
            raise InvalidQueryError(
                f"unknown binary op: {op!r} (one of {sorted(self._OPS)})"
            )
        if kind not in ("avg", "sum", "min", "max", "count"):
            raise InvalidQueryError(
                "binary ops support the five basic aggregations"
            )
        self._db = db
        self._op = op
        self._kind = kind
        self._left = validate_metric_name(left_metric)
        self._right = validate_metric_name(right_metric)
        self._group_by = group_by
        self._filter = "*"
        self._start: Optional[int] = None
        self._end: Optional[int] = None
        self._granularity: Optional[int] = MINUTE_NS

    def filter(self, expr: str) -> "BinaryQueryBuilder":
        self._filter = expr
        return self

    def start(self, ts_ns: int) -> "BinaryQueryBuilder":
        self._start = _validate_ts(ts_ns)
        return self

    def end(self, ts_ns: int) -> "BinaryQueryBuilder":
        self._end = _validate_ts(ts_ns)
        return self

    def granularity(self, width_ns: Optional[int]) -> "BinaryQueryBuilder":
        if width_ns is not None and width_ns <= 0:
            raise InvalidQueryError("granularity must be positive")
        self._granularity = None if width_ns is None else int(width_ns)
        return self

    def _side(self, metric: str) -> QueryBuilder:
        b = QueryBuilder(self._db, self._kind, metric, self._group_by)
        b = b.filter(self._filter).granularity(self._granularity)
        if self._start is not None:
            b = b.start(self._start)
        if self._end is not None:
            b = b.end(self._end)
        return b

    def to_df(self) -> DataFrame:
        l = self._side(self._left).to_df()
        r = self._side(self._right).to_df().select(
            F.col("grp").alias("_rgrp"),
            F.col("start_ts").alias("_rstart"),
            F.col("end_ts").alias("_rend"),
            F.col("value").alias("_rvalue"),
            F.col("len").alias("_rlen"),
        )
        cond = l["grp"] == r["_rgrp"]
        if self._granularity is not None:
            g = int(self._granularity)
            # observed min ts lies inside its bucket, so `start_ts div g`
            # IS the bucket index on both sides (ts >= 0 enforced at the
            # API boundary keeps div == floor)
            cond = cond & (
                F.expr(f"start_ts div {g}") == F.expr(f"_rstart div {g}")
            )
        lv, rv = F.col("value"), F.col("_rvalue")
        if self._op == "div":
            value = F.when(rv != 0.0, lv / rv)
        else:
            value = {
                "add": lv + rv, "sub": lv - rv, "mul": lv * rv
            }[self._op]
        return l.join(r, cond, "inner").select(
            "grp",
            F.least("start_ts", "_rstart").alias("start_ts"),
            F.greatest("end_ts", "_rend").alias("end_ts"),
            value.alias("value"),
            (F.col("len") + F.col("_rlen")).alias("len"),
        )

    build = to_df


class DatabaseBuilder:
    """Builder mirroring ``Database::builder()`` (reference
    src/db_builder.rs:48-56, operators O1-O4).

    ``cache_size_mib`` and ``hyper_mode`` are accepted for API parity and
    deliberately do nothing: block-cache sizing maps to Spark executor
    memory / ``df.cache()`` decisions, and hyper_mode's per-write
    durability tradeoff (src/db.rs:345-347) has no analog — every batch
    write here is an atomic parquet job commit (SURVEY.md O3/O4).
    """

    def cache_size_mib(self, mib: int) -> "DatabaseBuilder":
        return self

    def hyper_mode(self, enabled: bool) -> "DatabaseBuilder":
        return self

    def open(self, spark: SparkSession, warehouse_path: str) -> "Database":
        return Database.open(spark, warehouse_path)


class Database:
    """Engine facade (reference ``Database``, src/db.rs)."""

    def __init__(self, spark: SparkSession, backend):
        self.spark = spark
        self._backend = backend
        # prepared-plan cache: signature -> built Dataset. Keyed by the
        # full QueryBuilder state; invalidated (dropped wholesale) on any
        # operation that changes the backend's data generation. Bounded
        # FIFO so a long-lived facade serving ad-hoc queries can't grow
        # without limit. Single-driver use like the rest of the facade.
        self._plan_cache: dict = {}

    _PLAN_CACHE_MAX = 256

    def _plan_cache_get(self, sig: tuple):
        return self._plan_cache.get(sig)

    def _plan_cache_put(self, sig: tuple, df: DataFrame) -> None:
        if len(self._plan_cache) >= self._PLAN_CACHE_MAX:
            self._plan_cache.pop(next(iter(self._plan_cache)))
        self._plan_cache[sig] = df

    def _invalidate_plans(self) -> None:
        self._plan_cache.clear()

    def _warehouse(self, op: str) -> WarehouseBackend:
        """The warehouse backend; ``op`` on any other backend raises."""
        if not isinstance(self._backend, WarehouseBackend):
            raise InvalidQueryError(f"{op} requires a warehouse-backed Database")
        return self._backend

    def _reopen(self) -> None:
        """Re-read the warehouse after its files changed: re-init builds a
        fresh fact reader (and with it a fresh file listing) and series
        dim, and no cached plan keeps a file index over the old files. A
        session-wide clearCache would evict unrelated cached DataFrames."""
        self._backend.__init__(self.spark, self._backend.path)
        self._invalidate_plans()

    @staticmethod
    def builder() -> DatabaseBuilder:
        return DatabaseBuilder()

    # -- constructors (O1/O2) ----------------------------------------------
    @classmethod
    def from_points(cls, spark: SparkSession, points: DataFrame) -> "Database":
        """Open over any DataFrame with columns (metric, ts, value, tags)."""
        return cls(spark, ViewBackend(points))

    @classmethod
    def from_events(cls, spark: SparkSession, sf_dir: str) -> "Database":
        """Open over the driver testdata events table mapped to points
        (FIXTURES.md F8)."""
        from talna_spark.sources.events import points_from_events

        return cls(spark, ViewBackend(points_from_events(spark, sf_dir)))

    @classmethod
    def open(cls, spark: SparkSession, warehouse_path: str) -> "Database":
        """Open a partitioned warehouse written by :meth:`write_batch`."""
        return cls(spark, WarehouseBackend(spark, warehouse_path))

    def compact(self) -> None:
        """Run warehouse maintenance: series-dim compaction + fact
        clustering (talna_spark.maintenance)."""
        path = self._warehouse("compact").path
        from talna_spark.maintenance import compact

        compact(self.spark, path)
        self._reopen()

    def stats(self) -> DataFrame:
        """Warehouse inventory: per-metric point count, distinct series,
        day span, and ts range — the ANALYZE-style summary an operator
        reads before sizing queries or retention. One partial-aggregated
        scan over facts plus the (small) series dim; at cluster scale
        this is the job you schedule nightly, not per query."""
        backend = self._warehouse("stats")
        facts = backend.facts.groupBy("metric").agg(
            F.count(F.lit(1)).alias("n_points"),
            F.countDistinct("ts_day").alias("n_days"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        series = backend.series.groupBy("metric").agg(
            F.countDistinct("series_id").alias("n_series")
        )
        return facts.join(series, "metric", "left").select(
            "metric", "n_points", "n_series", "n_days", "min_ts", "max_ts"
        )

    def expire(self, cutoff_ns: int) -> int:
        """Retention: drop fact (and rollup) partitions for days entirely
        before ``cutoff_ns`` (day-granular; metadata-only deletes — see
        talna_spark.maintenance.expire). Returns partitions removed."""
        path = self._warehouse("expire").path
        from talna_spark.maintenance import expire

        n = expire(self.spark, path, int(cutoff_ns))
        self._reopen()
        return n

    def build_rollup(self, width_ns: int) -> None:
        """Materialize a downsampled rollup (talna_spark.rollup); aligned
        queries whose granularity/bounds line up rewrite onto it
        automatically. Re-run after ingest to refresh (stale rollups are
        never consulted for bounds/kinds they can't answer exactly, but a
        rollup built before an append does NOT see the new points — refresh
        belongs in the same maintenance cadence as compact())."""
        path = self._warehouse("build_rollup").path
        from talna_spark.rollup import build_rollup

        build_rollup(self.spark, path, int(width_ns))
        # a cached plan built before this rollup existed keeps using the
        # raw scan (correct, just unoptimized); drop the cache so repeat
        # queries get the rewrite — and so no cached ROLLUP-reading plan
        # holds a file index over partitions a rebuild just replaced
        self._invalidate_plans()

    def refresh_rollup(self, width_ns: int) -> None:
        """Incrementally refresh a rollup: re-aggregate only the
        (metric, day) partitions appended since the last build/refresh
        (talna_spark.rollup changelog) — maintenance cost scales with new
        data, not table size. Falls back to a full rebuild after
        compaction (the dedup can touch unknown partitions)."""
        path = self._warehouse("refresh_rollup").path
        from talna_spark.rollup import refresh_rollup

        refresh_rollup(self.spark, path, int(width_ns))
        self._invalidate_plans()  # same staleness contract as build_rollup

    def register_views(self, prefix: str = "talna") -> None:
        """Register the logical tables as session temp views
        (``{prefix}_points``, and ``{prefix}_series`` on a warehouse) so
        free-form Spark SQL can query them — the escape hatch the
        reference cannot offer (no SQL surface at all)."""
        if isinstance(self._backend, WarehouseBackend):
            # reuse the backend's cached fact reader (same file-index
            # freshness contract as queries — re-init swaps it)
            self._backend.facts.createOrReplaceTempView(f"{prefix}_points")
            self._backend.series.createOrReplaceTempView(f"{prefix}_series")
        else:
            self._backend.points.createOrReplaceTempView(f"{prefix}_points")
        # memoized per backend generation: write_batch/compact/expire swap
        # the backend instance, so registration freshness tracks the data
        self._backend._views_registered = prefix

    def sql(self, query: str) -> DataFrame:
        """Run Spark SQL against the registered views (registers them on
        first use per backend generation)."""
        if getattr(self._backend, "_views_registered", None) != "talna":
            self.register_views()
        return self.spark.sql(query)

    # -- ingest (O5/O6) -----------------------------------------------------
    def write_batch(self, points: DataFrame, persist: bool = True) -> None:
        """Append a batch of (metric, ts, value, tags) rows to the
        warehouse. ``persist=False`` skips caching the enriched batch —
        faster when the source is cheap to recompute (see
        ingest.write_batch)."""
        path = self._warehouse("write_batch").path
        from talna_spark.ingest import write_batch

        write_batch(points, path, persist=persist)
        self._reopen()

    def write(self, metric: str, value: float, tags: dict) -> None:
        """Ingest one point at now() (reference ``Database::write``,
        src/db.rs:319-321, O5). Single-row convenience — real ingest goes
        through :meth:`write_batch`; one parquet file per point is exactly
        the write amplification the batch path exists to avoid."""
        self.write_at(metric, timestamp(), value, tags)

    def write_at(self, metric: str, ts_ns: int, value: float, tags: dict) -> None:
        """Ingest one point at an explicit timestamp (reference
        ``Database::write_at``, src/db.rs:323-350, O6).

        DOCUMENTED DEVIATION (r16 NaN audit): the reference accepts a
        NaN value silently and its aggregates then disagree with each
        other (Rust f32::min/max SKIP NaN, sum/avg poison to NaN, count
        counts it — src/agg/min.rs:6, stream.rs:68-80; zero upstream
        coverage). This scalar convenience path rejects NaN loudly —
        the one place validation costs nothing. The bulk
        :meth:`write_batch` path stays unvalidated by design (an isnan
        pass over a 100 TB ingest taxes every caller for garbage-in);
        NaN behavior there is pinned, per mode, in
        tests/test_api.py::test_nan_value_semantics_pinned."""
        import math

        from talna_spark.schema import POINTS_SCHEMA

        validate_metric_name(metric)
        if math.isnan(float(value)):
            raise InvalidValueError(
                "NaN values are outside the engine's value domain "
                "(min/max/sum/avg are not well-defined across engines "
                "for NaN; see write_at docstring)"
            )
        row = [(metric, _validate_ts(ts_ns), float(value), dict(tags))]
        self.write_batch(self.spark.createDataFrame(row, POINTS_SCHEMA))

    # -- query entry points (O41, src/db.rs:213-312) ------------------------
    def avg(self, metric: str, group_by) -> QueryBuilder:
        return QueryBuilder(self, "avg", metric, group_by)

    def sum(self, metric: str, group_by) -> QueryBuilder:
        return QueryBuilder(self, "sum", metric, group_by)

    def min(self, metric: str, group_by) -> QueryBuilder:
        return QueryBuilder(self, "min", metric, group_by)

    def max(self, metric: str, group_by) -> QueryBuilder:
        return QueryBuilder(self, "max", metric, group_by)

    def count(self, metric: str, group_by) -> QueryBuilder:
        return QueryBuilder(self, "count", metric, group_by)

    def stddev(self, metric: str, group_by) -> QueryBuilder:
        """Sample standard deviation per bucket (extension beyond the
        reference's five; NULL for single-point buckets like SQL
        STDDEV_SAMP)."""
        return QueryBuilder(self, "stddev", metric, group_by)

    # -- extension aggregates (beyond the reference's five) ------------------
    def percentile(self, metric: str, group_by, q: float) -> QueryBuilder:
        """Exact interpolated percentile per bucket, ``0 < q < 1``
        (e.g. ``0.95`` -> p95). Extension beyond the reference."""
        if not 0.0 < q < 1.0:
            raise InvalidQueryError("percentile q must be in (0, 1)")
        from talna_spark.aggregate import percentile_q

        # 17 significant digits round-trips any double; reject values whose
        # encoding escapes (0,1) (e.g. q one ulp below 1 formats to p100)
        kind = f"p{q * 100:.17g}"
        if percentile_q(kind) is None:
            raise InvalidQueryError(f"percentile q={q!r} not representable")
        return QueryBuilder(self, kind, metric, group_by)

    def percentile_approx(self, metric: str, group_by, q: float) -> QueryBuilder:
        """Approximate percentile per bucket (Greenwald-Khanna sketch via
        Spark ``approx_percentile``): single-pass mergeable partials, no
        per-bucket value sort — the scale path for percentiles, as
        :meth:`distinct_series_approx` is for distinct counts. Aligned
        mode only; unit-tested against the exact percentile (no oracle:
        sketch results are engine-specific). Extension."""
        if not 0.0 < q < 1.0:
            raise InvalidQueryError("percentile q must be in (0, 1)")
        from talna_spark.aggregate import approx_percentile_q

        kind = f"pa{q * 100:.17g}"
        if approx_percentile_q(kind) is None:
            raise InvalidQueryError(f"percentile q={q!r} not representable")
        return QueryBuilder(self, kind, metric, group_by)

    def rate(self, metric: str, group_by) -> QueryBuilder:
        """Average per-second rate of change per bucket, computed from
        per-series consecutive-point derivatives. Extension beyond the
        reference."""
        return QueryBuilder(self, "rate", metric, group_by)

    def increase(self, metric: str, group_by) -> QueryBuilder:
        """Total counter increase per bucket from per-series reset-aware
        consecutive-point deltas (a smaller reading = counter reset; the
        new reading counts wholly). Extension beyond the reference — the
        PromQL ``increase()`` for monotonic counters."""
        return QueryBuilder(self, "increase", metric, group_by)

    def distinct_series(self, metric: str, group_by: str) -> QueryBuilder:
        """Distinct contributing series per bucket (exact; aligned mode
        only). Extension beyond the reference."""
        return QueryBuilder(self, "distinct_series", metric, group_by)

    def distinct_series_approx(self, metric: str, group_by) -> QueryBuilder:
        """Approximate distinct contributing series per bucket
        (HyperLogLog++, ~2% relative error) — the sketch path for
        high-cardinality counting at scale: single-pass mergeable
        partials, no Catalyst expand. Extension beyond the reference."""
        return QueryBuilder(self, "distinct_series_approx", metric, group_by)

    def delta(self, metric: str, group_by) -> QueryBuilder:
        """Net change across each bucket: value at max ts minus value at
        min ts (gauge delta — vs :meth:`increase`, which sums per-series
        reset-aware counter deltas). Aligned mode only. Extension."""
        return QueryBuilder(self, "delta", metric, group_by)

    def latest(self, metric: str, group_by: str) -> QueryBuilder:
        """Snapshot: the most recent value per group per bucket (value at
        max ts; ties take the larger value). Aligned mode only. Extension
        beyond the reference — the standard TSDB "current value" query."""
        return QueryBuilder(self, "latest", metric, group_by)

    def binary(
        self, op: str, left_metric: str, right_metric: str, group_by,
        kind: str = "sum",
    ) -> BinaryQueryBuilder:
        """PromQL-style arithmetic between two metrics' bucket series
        (``add``/``sub``/``mul``/``div``); each side aggregates with
        ``kind`` first, then matching (group, bucket) pairs combine.
        Extension beyond the reference's one-metric-per-query model."""
        return BinaryQueryBuilder(self, op, kind, left_metric, right_metric, group_by)

    def ratio(
        self, num_metric: str, den_metric: str, group_by, kind: str = "sum"
    ) -> BinaryQueryBuilder:
        """``num / den`` per (group, bucket) — the error-rate / hit-rate
        query (NULL where the denominator bucket is 0). Extension."""
        return self.binary("div", num_metric, den_metric, group_by, kind)

    def time_weighted_avg(self, metric: str, group_by: str) -> QueryBuilder:
        """Time-weighted average per bucket: each point's value weighted by
        the interval it is held (until the series' next point; step
        interpolation). Aligned mode only. Extension beyond the
        reference — the standard irregular-sampling mean."""
        return QueryBuilder(self, "twa", metric, group_by)
