"""Greedy-bucketing fidelity tests (FIXTURES.md F6): Spark greedy mode vs a
literal single-threaded port of the reference loop (src/agg/stream.rs:60-97),
on timestamps chosen so greedy anchoring diverges from floor-alignment."""

from __future__ import annotations

import numpy as np
import pytest

from talna_spark.database import Database
from talna_spark.duration import Duration
from tests.conftest import make_points, segment_ids

S = Duration.SECOND
# clusters straddling floor boundaries and gaps > width (F6)
F6_TS = [0, int(0.5 * S), int(0.9 * S), int(1.7 * S), int(2.5 * S),
         10 * S, int(10.4 * S), 61 * S]


def python_greedy(ts_values, width, kind):
    """Independent oracle: reference loop + per-bucket aggregation."""
    pairs = sorted(ts_values, key=lambda p: -p[0])
    ts = np.array([p[0] for p in pairs], dtype=np.int64)
    vals = np.array([p[1] for p in pairs], dtype=np.float64)
    seg = segment_ids(ts, width)
    out = []
    for s in sorted(set(seg.tolist())):
        m = seg == s
        v = vals[m]
        agg = {
            "avg": v.mean(), "sum": v.sum(), "min": v.min(),
            "max": v.max(), "count": float(v.size),
        }[kind]
        out.append((int(ts[m].min()), int(ts[m].max()), float(agg), int(v.size)))
    return sorted(out)


@pytest.mark.parametrize("kind", ["avg", "sum", "min", "max", "count"])
def test_greedy_matches_reference_loop(spark, kind):
    rows = [("m", t, float(i + 1), {"host": "h-1"}) for i, t in enumerate(F6_TS)]
    db = Database.from_points(spark, make_points(spark, rows))
    df = getattr(db, kind)("m", "host").mode("greedy").granularity(S).to_df()
    got = sorted(
        (r["start_ts"], r["end_ts"], r["value"], r["len"]) for r in df.collect()
    )
    expected = python_greedy(
        [(t, float(i + 1)) for i, t in enumerate(F6_TS)], S, kind
    )
    assert got == expected


def test_greedy_segmentation_shape(spark):
    # width=1s: anchors at 61, 10.4, 2.5, then 0.9 (since 2.5-0.9>1) joins
    # 0.5 and 0 (0.9-0<=1 inclusive)
    ts = np.array(sorted(F6_TS, reverse=True), dtype=np.int64)
    seg = segment_ids(ts, S)
    # newest bucket 0 = {61s}; bucket 1 = {10.4, 10}; bucket 2 = {2.5, 1.7};
    # bucket 3 = {0.9, 0.5, 0}
    assert seg.tolist() == [0, 1, 1, 2, 2, 3, 3, 3]


def test_greedy_inclusive_boundary(spark):
    # a point exactly `width` older than the anchor joins the bucket
    # (reference src/agg/stream.rs:76: end - ts <= width)
    rows = [("m", 0, 1.0, {"h": "a"}), ("m", S, 2.0, {"h": "a"})]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.count("m", "h").mode("greedy").granularity(S).collect()
    assert len(res["a"]) == 1
    assert res["a"][0].len == 2


def test_greedy_multi_series_merge(spark):
    # greedy runs over the MERGED stream of all matched series in the group
    # (reference merges k series before bucketing, src/merge.rs:36-76)
    rows = [("m", 0, 1.0, {"g": "x", "s": "a"}), ("m", int(0.6 * S), 2.0, {"g": "x", "s": "b"}),
            ("m", int(1.2 * S), 3.0, {"g": "x", "s": "a"})]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.sum("m", "g").mode("greedy").granularity(S).collect()
    # anchor at 1.2s joins 0.6s and ... 1.2-0 > 1s so 0 starts a new bucket
    assert [b.len for b in res["x"]] == [2, 1]


@pytest.mark.parametrize("path", ["reanchor", "drop", "sliced"])
def test_greedy_open_bucket_guard(spark, path):
    # pathological density: every point of a group within one width span
    # -> the open bucket can never close; the task must fail loudly with a
    # pointer to aligned mode instead of accumulating rows until OOM. All
    # three scans share one carry loop and so one guard message.
    from pyspark.sql import functions as F

    from talna_spark.aggregate import greedy_buckets, greedy_buckets_sliced

    rows = [("m", i, float(i), {"h": "a"}) for i in range(10)]  # all within 1s
    pts = make_points(spark, rows).filter(F.col("metric") == "m")
    grp = F.col("tags").getItem("h")
    if path == "sliced":
        df = greedy_buckets_sliced(
            pts, grp, "sum", S, 10 * S, max_open_bucket_rows=4
        )
    else:
        df = greedy_buckets(
            pts, grp, "sum", S, max_open_bucket_rows=4, boundary=path
        )
    with pytest.raises(
        Exception, match="exceeds 4 rows .* use aligned mode or a smaller"
    ):
        df.collect()


def test_greedy_batch_spanning_buckets(spark):
    # groups larger than one Arrow batch: closed buckets emit per batch,
    # only the open bucket carries — results identical to a one-batch run
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rows = [
            ("m", int(i * 2.5 * S), float(i), {"h": "a"}) for i in range(100)
        ]  # every gap > width: one bucket per point
        db = Database.from_points(spark, make_points(spark, rows))
        res = db.avg("m", "h").mode("greedy").granularity(S).collect()
        assert len(res["a"]) == 100
        assert [b.len for b in res["a"]] == [1] * 100
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")


# ---- two-level (sliced) greedy: the parallel scale path ----------------

# clusters with intra-slice resets, a bucket straddling the 10s slice
# boundary (9.8s joins 10.4s), and trailing isolated points
SLICED_TS = [0, int(0.5 * S), 3 * S, int(3.4 * S), int(9.8 * S),
             int(10.4 * S), 15 * S, 20 * S, int(20.7 * S), 61 * S]


def _rows(ts_list):
    return [("m", t, float(i + 1), {"h": "a"}) for i, t in enumerate(ts_list)]


def _collect_buckets(df):
    return sorted(
        (r["grp"], r["start_ts"], r["end_ts"], r["value"], r["len"])
        for r in df.collect()
    )


@pytest.mark.parametrize("kind", ["avg", "sum", "min", "max", "count", "p95"])
def test_sliced_greedy_bit_identical(spark, kind):
    # the two-level path must equal the one-task path bit-for-bit,
    # including float summation order
    from pyspark.sql import functions as F

    from talna_spark.aggregate import greedy_buckets, greedy_buckets_sliced

    pts = make_points(spark, _rows(SLICED_TS)).filter(F.col("metric") == "m")
    grp = F.col("tags").getItem("h")
    single = _collect_buckets(greedy_buckets(pts, grp, kind, S))
    sliced = _collect_buckets(
        greedy_buckets_sliced(pts, grp, kind, S, 10 * S)
    )
    assert sliced == single
    assert len(single) > 1


def test_sliced_greedy_group_spans_tasks(spark):
    # the point of the two-level path: ONE group's rows spread over
    # several (grp, slice) shuffle keys — parallel tasks — instead of the
    # single-task repartition("grp"). r16: pass 1 is a STREAMING
    # MapInPandas over a (grp, slice)-hashed, within-partition-sorted
    # exchange (per-batch pandas overhead), not FlatMapGroupsInPandas
    # (whose per-block overhead made many-small-groups data 200x slower
    # than the one-task scan); pass 2 stays MapInPandas keyed on grp.
    import re

    from pyspark.sql import functions as F

    from talna_spark.aggregate import _sliced_prepared, greedy_buckets_sliced

    pts = make_points(spark, _rows(SLICED_TS)).filter(F.col("metric") == "m")
    grp = F.col("tags").getItem("h")
    prepared = _sliced_prepared(pts, grp, 10 * S)
    n_keys = prepared.select("grp", "slice").distinct().count()
    assert n_keys >= 3, "one group must fan out over several slice keys"
    df = greedy_buckets_sliced(pts, grp, "sum", S, 10 * S)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # r17 shape: pass 1 is materialized ONCE behind a lazy local
    # checkpoint; finals exit via a parallel filter/project branch
    # (never re-crossing the Python boundary) and ONLY pending boundary
    # rows take the grp shuffle into pass 2 — so the final plan holds
    # exactly one MapInPandas (pass 2) and a Union whose both branches
    # scan the SAME checkpointed RDD (pass 1 still executes once, by
    # storage instead of by pipeline shape).
    assert plan.count("MapInPandas") == 1  # pass 2 only
    assert "FlatMapGroupsInPandas" not in plan  # no per-block groups
    assert "Union" in plan
    rdd_scans = set(re.findall(r"Scan ExistingRDD\[[^\]]*\]", plan))
    assert len(rdd_scans) == 2  # both branches read the checkpoint
    # pass 2's exchange is keyed on grp alone (the stitch)
    assert re.search(r"hashpartitioning\(grp#\d+, \d+\)", plan)
    # ...and pass 1's (hidden from the final plan by the checkpoint) on
    # BOTH grp and slice — the fan-out claim, pinned via the test seam
    p1_plan = df._talna_sliced_p1._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(grp#\d+, slice#\d+", p1_plan)
    # streaming pass 1 (AQE may print the node in both the final and
    # the initial plan sections, so assert presence, not count)
    assert "MapInPandas _pass1_stream" in p1_plan
    assert "BatchEvalPython" not in plan and "BatchEvalPython" not in p1_plan


def test_sliced_greedy_carry_across_arrow_batches(spark):
    """r16: pass 1 streams Arrow batches with a block CARRY — a
    (grp, slice) block that straddles a batch boundary must be held and
    processed whole. The fixture-sized tests all fit one default batch
    (10k rows), so this one forces 7-row batches over a randomized
    multi-group corpus (mixed gaps above and below width, duplicate
    timestamps) and requires exact equality with the one-task path, for
    every aggregation kind."""
    import random

    from pyspark.sql import functions as F

    from talna_spark.aggregate import greedy_buckets, greedy_buckets_sliced

    rng = random.Random(20260816)
    rows = []
    for h in ("a", "b", "c"):
        t = 0
        for i in range(120):
            # gaps: mostly sub-width, some forced resets, some ties
            t += rng.choice([0, int(0.3 * S), int(0.8 * S), 2 * S, 11 * S])
            rows.append(("m", t, float(rng.randrange(50)), {"h": h}))
    pts = make_points(spark, rows).filter(F.col("metric") == "m")
    grp = F.col("tags").getItem("h")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        for kind in ("avg", "sum", "min", "max", "count"):
            assert _collect_buckets(
                greedy_buckets_sliced(pts, grp, kind, S, 10 * S)
            ) == _collect_buckets(greedy_buckets(pts, grp, kind, S)), kind
    finally:
        spark.conf.set(key, old)


def test_sliced_greedy_list_carry_junction_flush(spark):
    """ADVICE r16: pass 1 accumulates the open block as a LIST of batch
    frames (concat once per block, not once per batch — the per-batch
    concat was quadratic on a block spanning k batches). Force 1-row
    Arrow batches so EVERY block boundary is a batch-junction boundary
    (the new early-flush path) and every multi-row block exercises the
    list accumulation; results must equal the one-task path exactly."""
    import random

    from pyspark.sql import functions as F

    from talna_spark.aggregate import greedy_buckets, greedy_buckets_sliced

    rng = random.Random(20260817)
    rows = []
    for h in ("a", "b"):
        t = 0
        for i in range(40):
            t += rng.choice([0, int(0.5 * S), 2 * S, 11 * S])
            rows.append(("m", t, float(rng.randrange(50)), {"h": h}))
    pts = make_points(spark, rows).filter(F.col("metric") == "m")
    grp = F.col("tags").getItem("h")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        for kind in ("avg", "sum", "count"):
            assert _collect_buckets(
                greedy_buckets_sliced(pts, grp, kind, S, 10 * S)
            ) == _collect_buckets(greedy_buckets(pts, grp, kind, S)), kind
    finally:
        spark.conf.set(key, old)


def test_sliced_greedy_randomized_tiny_batches(spark):
    """Randomized guard for the r17 list-carry rewrite: many corpora
    with varied gap structure (dense runs, forced resets, duplicate
    timestamps, single-point groups) streamed at several tiny Arrow
    batch sizes, so block boundaries land on every alignment relative
    to batch junctions. Sliced must equal the one-task path exactly in
    every configuration."""
    import random

    from pyspark.sql import functions as F

    from talna_spark.aggregate import greedy_buckets, greedy_buckets_sliced

    rng = random.Random(20260818)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        for trial in range(3):
            rows = []
            for h in range(rng.randrange(2, 5)):
                t = rng.randrange(0, 3 * S)
                for _ in range(rng.randrange(1, 90)):
                    t += rng.choice(
                        [0, 1, int(0.4 * S), S, 2 * S, 11 * S, 40 * S]
                    )
                    rows.append(
                        ("m", t, float(rng.randrange(100)), {"h": str(h)})
                    )
            pts = make_points(spark, rows).filter(F.col("metric") == "m")
            grp = F.col("tags").getItem("h")
            expect = _collect_buckets(greedy_buckets(pts, grp, "sum", S))
            for batch in (1, 3, 7):
                spark.conf.set(key, str(batch))
                got = _collect_buckets(
                    greedy_buckets_sliced(pts, grp, "sum", S, 10 * S)
                )
                assert got == expect, (trial, batch)
    finally:
        spark.conf.set(key, old)


def test_sliced_greedy_dense_degrades_to_sequential(spark):
    # pathological density (no gap > width anywhere): every row is
    # pending, pass 2 IS the sequential scan — still exact
    from pyspark.sql import functions as F

    from talna_spark.aggregate import greedy_buckets, greedy_buckets_sliced

    dense = [int(i * 0.6 * S) for i in range(40)]  # every gap 0.6s <= 1s
    pts = make_points(spark, _rows(dense)).filter(F.col("metric") == "m")
    grp = F.col("tags").getItem("h")
    assert _collect_buckets(
        greedy_buckets_sliced(pts, grp, "avg", S, 5 * S)
    ) == _collect_buckets(greedy_buckets(pts, grp, "avg", S))


def test_sliced_greedy_via_builder_on_events(spark):
    # end-to-end through the QueryBuilder knob on the realistic corpus:
    # sliced output equals the default greedy path exactly
    db = Database.from_events(spark, "/root/testdata/sf0.001")
    base = db.avg("app.purchase", "user").mode("greedy").granularity(
        Duration.MINUTE
    )
    single = _collect_buckets(base.to_df())
    sliced = _collect_buckets(
        db.avg("app.purchase", "user")
        .mode("greedy")
        .granularity(Duration.MINUTE)
        .greedy_slices(6 * Duration.HOUR)
        .to_df()
    )
    assert sliced == single
    assert len(single) > 100


def test_greedy_auto_picks_single_below_threshold(spark):
    """r17 (VERDICT r16 item 3): greedy_slices("auto") runs one
    sketch-sized stats pass and keeps the DEFAULT one-task-per-group
    path when the largest group is under the measured ~4M-point
    crossover — bit-identical results, the choice recorded on the
    builder, and NO (grp, slice) exchange in the physical plan."""
    import re

    db = Database.from_events(spark, "/root/testdata/sf0.001")
    single = _collect_buckets(
        db.avg("app.purchase", "user")
        .mode("greedy")
        .granularity(Duration.MINUTE)
        .to_df()
    )
    b = (
        db.avg("app.purchase", "user")
        .mode("greedy")
        .granularity(Duration.MINUTE)
        .greedy_slices("auto")
    )
    df = b.to_df()
    assert _collect_buckets(df) == single
    path, slice_w, stats = b._greedy_auto_choice
    assert path == "single" and slice_w is None
    assert 0 < stats["max_group_rows"] < stats["threshold"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"hashpartitioning\(grp#\d+, slice#\d+", plan)


def test_greedy_auto_picks_sliced_above_threshold(spark, monkeypatch):
    """Same data, threshold lowered below the largest group: auto must
    choose the sliced decomposition — still bit-identical, choice
    recorded with the derived slice width, and the plan carries the
    (grp, slice) fan-out exchange plus the grp-only stitch exchange."""
    import re

    import talna_spark.aggregate as agg

    monkeypatch.setattr(agg, "GREEDY_AUTO_ROWS", 10)
    db = Database.from_events(spark, "/root/testdata/sf0.001")
    single = _collect_buckets(
        db.avg("app.purchase", "user")
        .mode("greedy")
        .granularity(Duration.MINUTE)
        .to_df()
    )
    b = (
        db.avg("app.purchase", "user")
        .mode("greedy")
        .granularity(Duration.MINUTE)
        .greedy_slices("auto")
    )
    df = b.to_df()
    assert _collect_buckets(df) == single
    path, slice_w, stats = b._greedy_auto_choice
    assert path == "sliced"
    assert stats["max_group_rows"] >= 10 and stats["threshold"] == 10
    # derived width: > bucket width (validated downstream), and small
    # enough that the largest group's span fans out over >= 2 slices
    assert slice_w > Duration.MINUTE
    assert slice_w <= max(stats["span_ns"] // 2, Duration.MINUTE + 1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # r17 sliced shape: finals split off above the pass-1 checkpoint
    # (Union of a parallel filter branch and the pending-only pass-2
    # stitch; the (grp, slice) fan-out exchange lives inside the
    # checkpointed RDD — pinned on the seam in
    # test_sliced_greedy_group_spans_tasks); the single path has
    # neither a Union nor an ExistingRDD scan of the pass-1 schema, so
    # this still pins WHICH physical path auto chose
    assert "Union" in plan
    assert re.search(r"hashpartitioning\(grp#\d+, \d+\)", plan)  # stitch
    assert len(set(re.findall(r"Scan ExistingRDD\[grp#\d+,slice#", plan))) == 2


def test_greedy_auto_rejects_other_strings(spark):
    from talna_spark.errors import InvalidQueryError

    db = Database.from_events(spark, "/root/testdata/sf0.001")
    with pytest.raises(InvalidQueryError, match="'auto'"):
        db.avg("app.purchase", "user").mode("greedy").greedy_slices("wide")


def test_greedy_auto_state_cleared_on_explicit_width(spark):
    """r17 review: switching a builder from auto back to an explicit
    width must clear the auto state — otherwise the plan-cache
    signature differs from an identical fresh builder (spurious cache
    miss) and _greedy_auto_choice misreports the last build."""
    db = Database.from_events(spark, "/root/testdata/sf0.001")

    def fresh():
        return (
            db.avg("app.purchase", "user")
            .mode("greedy")
            .granularity(Duration.MINUTE)
        )

    switched = fresh().greedy_slices("auto")
    switched.to_df()
    assert switched._greedy_auto_choice is not None
    switched.greedy_slices(6 * Duration.HOUR)
    assert switched._greedy_auto_choice is None
    explicit = fresh().greedy_slices(6 * Duration.HOUR)
    assert switched._plan_signature() == explicit._plan_signature()
    # and re-arming auto clears the stale choice until the next build
    # (the first auto build cached this very signature: drop it, so the
    # next to_df() really builds)
    db._invalidate_plans()
    rearmed = fresh().greedy_slices("auto")
    rearmed.to_df()
    assert rearmed._greedy_auto_choice is not None
    rearmed.greedy_slices("auto")
    assert rearmed._greedy_auto_choice is None


def test_greedy_auto_small_span_stays_single(spark, monkeypatch):
    """r17 review: a huge group packed into a tiny time span (span too
    small for two slices at any legal width) must stay on the single
    path — the decomposition would pay two extra exchanges for zero
    parallelism and then degrade to the same sequential stitch."""
    from pyspark.sql import functions as F

    import talna_spark.aggregate as agg

    # 40 points, span = 39 ns; width 60 ns -> min slice width 61 >
    # span/2, so no two slices fit; threshold lowered below the group
    monkeypatch.setattr(agg, "GREEDY_AUTO_ROWS", 10)
    rows = [("m", t, 1.0, {"h": "a"}) for t in range(40)]
    pts = make_points(spark, rows).filter(F.col("metric") == "m")
    use, sw, stats = agg.greedy_auto_decision(
        pts, F.col("tags").getItem("h"), 60
    )
    assert use is False and sw is None
    assert stats["max_group_rows"] == 40  # over threshold, yet single
    # a span that DOES fit two slices still chooses sliced
    rows2 = [("m", t * 200, 1.0, {"h": "a"}) for t in range(40)]
    pts2 = make_points(spark, rows2).filter(F.col("metric") == "m")
    use2, sw2, _ = agg.greedy_auto_decision(
        pts2, F.col("tags").getItem("h"), 60
    )
    assert use2 is True and 60 < sw2 <= (39 * 200) // 2


def test_greedy_auto_empty_scan(spark):
    # a filter matching nothing: the stats row is all-NULL -> max_n
    # coalesces to 0 -> single path, empty result, no error
    db = Database.from_events(spark, "/root/testdata/sf0.001")
    b = (
        db.avg("app.purchase", "user")
        .filter("user:doesnotexist")
        .mode("greedy")
        .granularity(Duration.MINUTE)
        .greedy_slices("auto")
    )
    assert b.to_df().count() == 0
    path, slice_w, stats = b._greedy_auto_choice
    assert path == "single" and stats["max_group_rows"] == 0


def test_greedy_auto_cannot_combine_with_drop(spark):
    # auto means "maybe sliced", and the drop state machine is not
    # self-synchronizing at a gap — the combination raises like explicit
    # greedy_slices even if the decision would have picked single
    from talna_spark.errors import InvalidQueryError

    db = Database.from_events(spark, "/root/testdata/sf0.001")
    with pytest.raises(InvalidQueryError, match="drop"):
        (
            db.avg("app.purchase", "user")
            .mode("greedy")
            .greedy_boundary("drop")
            .greedy_slices("auto")
            .to_df()
        )


def test_sliced_greedy_requires_greedy_mode(spark):
    from talna_spark.errors import InvalidQueryError

    db = Database.from_events(spark, "/root/testdata/sf0.001")
    with pytest.raises(InvalidQueryError, match="greedy mode"):
        db.avg("app.purchase", "user").greedy_slices(
            6 * Duration.HOUR
        ).to_df()


def test_sliced_greedy_slice_width_validation(spark):
    from pyspark.sql import functions as F

    from talna_spark.aggregate import greedy_buckets_sliced
    from talna_spark.errors import InvalidQueryError

    pts = make_points(spark, _rows(SLICED_TS))
    with pytest.raises(ValueError, match="slice_width"):
        greedy_buckets_sliced(pts, F.col("tags").getItem("h"), "sum", S, S)
    # through the builder the same mistake is a typed API-boundary error
    db = Database.from_points(spark, pts)
    with pytest.raises(InvalidQueryError, match="slice_width"):
        (db.sum("m", "h").mode("greedy").granularity(Duration.MINUTE)
         .greedy_slices(Duration.MINUTE).to_df())


def test_greedy_multigroup(spark):
    # multi-tag grouping works in greedy mode: composed group key is a
    # plain string column for the repartition + segment pass
    from talna_spark.duration import Duration

    S = Duration.SECOND
    rows = [
        ("m", 0, 1.0, {"h": "a", "env": "p"}),
        ("m", int(0.5 * S), 3.0, {"h": "a", "env": "p"}),
        ("m", 10 * S, 5.0, {"h": "a", "env": "p"}),  # gap > width: new bucket
        ("m", 0, 7.0, {"h": "a", "env": "q"}),
    ]
    from talna_spark.database import Database
    from tests.conftest import make_points

    db = Database.from_points(spark, make_points(spark, rows))
    res = db.sum("m", ["h", "env"]).mode("greedy").granularity(S).collect()
    assert sorted(res) == ["h:a,env:p", "h:a,env:q"]
    assert sorted(b.value for b in res["h:a,env:p"]) == [4.0, 5.0]
    assert res["h:a,env:q"][0].value == 7.0


# ---- oracle-port independence (VERDICT r7 item 1) -----------------------
# The driver oracle (oracle._greedy_runs) is a SECOND, standalone port of
# src/agg/stream.rs:60-97 that shares no code with the engine's
# aggregate._greedy_starts scan. These tests prove the two ports agree on
# the fixture corpora and on randomized streams, so the driver's q17/q18
# hash check is no longer self-referential.

def _runs_from_ids(seg: np.ndarray) -> list[tuple[int, int]]:
    """Convert the engine scan's per-element id array to (start, len) runs."""
    out: list[tuple[int, int]] = []
    for i, s in enumerate(seg.tolist()):
        if out and s == prev:  # noqa: F821 - prev set on first iteration
            st, n = out[-1]
            out[-1] = (st, n + 1)
        else:
            out.append((i, 1))
        prev = s
    return out


@pytest.mark.parametrize("width", [1, int(0.5 * S), S, 10 * S])
@pytest.mark.parametrize(
    "ts_list", [F6_TS, SLICED_TS, [0], [5, 5, 5], [0, S, 2 * S, 3 * S]]
)
def test_greedy_ports_agree_on_fixtures(width, ts_list):
    from talna_spark.oracle import _greedy_runs

    ts = np.array(sorted(ts_list, reverse=True), dtype=np.int64)
    assert _greedy_runs(ts.tolist(), width) == _runs_from_ids(
        segment_ids(ts, width)
    )


def test_greedy_ports_agree_randomized():
    from talna_spark.oracle import _greedy_runs

    rng = np.random.default_rng(8)
    for _ in range(200):
        n = int(rng.integers(1, 300))
        gaps = rng.integers(0, 3 * S, size=n)  # dense runs AND wide gaps
        ts = np.sort(np.cumsum(gaps).astype(np.int64))[::-1].copy()
        width = int(rng.integers(1, 2 * S))
        runs = _greedy_runs(ts.tolist(), width)
        assert runs == _runs_from_ids(segment_ids(ts, width))
        assert sum(n for _, n in runs) == len(ts)


def test_oracle_imports_nothing_from_engine_aggregate():
    # the independence is structural: oracle.py must not import the module
    # whose results it certifies (docstring mentions are fine)
    import ast
    import inspect

    import talna_spark.oracle as oracle_mod

    tree = ast.parse(inspect.getsource(oracle_mod))
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            assert "aggregate" not in (node.module or ""), ast.dump(node)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                assert "aggregate" not in alias.name, ast.dump(node)


# ---- boundary-point adjudication (VERDICT r13 finding #1, fixed r14) -----
# The reference DROPS the point that triggers bucket emission
# (src/agg/stream.rs:81-86: the consumed data_point joins nothing; the next
# next() call initializes from the FOLLOWING item). Engine and oracle both
# RE-ANCHOR it — the documented deviation (SURVEY O27). These tests pin the
# shipped semantics end-to-end AND the exact shape of the divergence.

# Two-bucket boundary fixture: DESC scan anchors at 3S; 2S joins
# (3S-2S <= S); 0 closes the bucket (3S-0 > S) and — under re-anchor —
# becomes the SECOND bucket's first (and only) member.
BOUNDARY_TS = [0, 2 * S, 3 * S]


@pytest.mark.parametrize("sliced", [False, True])
def test_boundary_point_reanchors(spark, sliced):
    rows = [("m", t, float(t // S + 1), {"h": "a"}) for t in BOUNDARY_TS]
    db = Database.from_points(spark, make_points(spark, rows))
    q = db.count("m", "h").mode("greedy").granularity(S)
    if sliced:  # the two-level scale path must share the semantics
        q = q.greedy_slices(1000 * S)
    res = q.collect()
    buckets = sorted(res["a"], key=lambda b: b.start)
    # two buckets; the closing point (ts=0) IS the second bucket — under
    # the reference's drop semantics it would vanish (one bucket of len 2,
    # and point ts=0 in no bucket at all)
    assert [(b.start, b.end, b.len) for b in buckets] == [
        (0, 0, 1),
        (2 * S, 3 * S, 2),
    ]
    assert sum(b.len for b in buckets) == len(BOUNDARY_TS)  # nothing lost


def test_drop_boundary_variant_pins_reference_behavior():
    ts = np.array(sorted(BOUNDARY_TS, reverse=True), dtype=np.int64)
    reanchor = segment_ids(ts, S)
    drop = segment_ids(ts, S, drop=True)
    # shipped semantics: [3S, 2S] bucket 0, [0] bucket 1
    assert reanchor.tolist() == [0, 0, 1]
    # reference semantics: [3S, 2S] bucket 0, ts=0 dropped (-1) — one point
    # of data silently lost at the boundary
    assert drop.tolist() == [0, 0, -1]


def test_drop_boundary_variant_consecutive_boundaries():
    # every inter-point gap > width: re-anchor keeps every point (one
    # bucket each); the reference drops every OTHER point (each dropped
    # point also resets, so the next one initializes a fresh bucket)
    ts = np.array([10 * S, 7 * S, 4 * S, 0], dtype=np.int64)
    assert segment_ids(ts, S).tolist() == [0, 1, 2, 3]
    assert segment_ids(ts, S, drop=True).tolist() == [0, -1, 1, -1]


def test_drop_boundary_variant_agrees_when_no_boundary():
    # with no boundary crossing the two semantics are identical
    ts = np.array([3 * S, int(2.5 * S), 2 * S], dtype=np.int64)
    assert segment_ids(ts, 2 * S).tolist() == [0, 0, 0]
    assert segment_ids(ts, 2 * S, drop=True).tolist() == [0, 0, 0]


# ---- drop semantics EXECUTABLE end-to-end (r15, VERDICT r14 item 2) -----
# greedy_buckets(boundary="drop") runs the reference's bit-faithful drop
# behavior distributed, and oracle._greedy_runs_drop is its independent
# second port — the driver hash-checks them as q17 kind=dropref.


def _drop_runs_from_ids(seg: np.ndarray) -> list[tuple[int, int]]:
    """(start, len) runs from the drop scan's id array; -1 elements
    (dropped boundary points) belong to no run."""
    out: list[tuple[int, int]] = []
    for i, s in enumerate(seg.tolist()):
        if s == -1:
            continue
        if out and out[-1][0] + out[-1][1] == i and seg[i - 1] == s:
            st, n = out[-1]
            out[-1] = (st, n + 1)
        else:
            out.append((i, 1))
    return out


@pytest.mark.parametrize("width", [1, int(0.5 * S), S, 10 * S])
@pytest.mark.parametrize(
    "ts_list", [F6_TS, SLICED_TS, BOUNDARY_TS, [0], [5, 5, 5],
                [0, S, 2 * S, 3 * S]]
)
def test_drop_ports_agree_on_fixtures(width, ts_list):
    from talna_spark.oracle import _greedy_runs_drop

    ts = np.array(sorted(ts_list, reverse=True), dtype=np.int64)
    assert _greedy_runs_drop(ts.tolist(), width) == _drop_runs_from_ids(
        segment_ids(ts, width, drop=True)
    )


def test_drop_ports_agree_randomized():
    from talna_spark.oracle import _greedy_runs, _greedy_runs_drop

    rng = np.random.default_rng(15)
    for _ in range(200):
        n = int(rng.integers(1, 300))
        gaps = rng.integers(0, 3 * S, size=n)
        ts = np.sort(np.cumsum(gaps).astype(np.int64))[::-1].copy()
        width = int(rng.integers(1, 2 * S))
        runs = _greedy_runs_drop(ts.tolist(), width)
        ids = segment_ids(ts, width, drop=True)
        assert runs == _drop_runs_from_ids(ids)
        n_dropped = int((ids == -1).sum())
        assert sum(ln for _, ln in runs) + n_dropped == len(ts)
        # structural shape of the deviation: dropped points lie strictly
        # BETWEEN runs (plus at most one trailing drop) and can never be
        # consecutive — a drop resets the anchor, so the next point
        # always initializes. Exactly one point lost per closed bucket.
        drop_positions = np.flatnonzero(ids == -1)
        assert not np.any(np.diff(drop_positions) == 1)
        assert len(runs) - 1 <= n_dropped <= len(runs)
        # the FIRST divergence from re-anchor is exactly the first drop:
        # both ports agree up to it (the state machines only diverge
        # after a boundary is crossed)
        reanchor_runs = _greedy_runs(ts.tolist(), width)
        if n_dropped:
            first = int(drop_positions[0])
            assert reanchor_runs[0] == runs[0]
            assert first == runs[0][0] + runs[0][1]
            assert any(s == first for s, _ in reanchor_runs)


def test_greedy_drop_engine_end_to_end(spark):
    # the distributed drop path on the boundary fixture: ts=0 closes the
    # [3S, 2S] bucket and joins NOTHING — one bucket, one lost point
    from pyspark.sql import functions as F

    from talna_spark.aggregate import greedy_buckets

    rows = [("m", t, float(t // S + 1), {"h": "a"}) for t in BOUNDARY_TS]
    pts = make_points(spark, rows).filter(F.col("metric") == "m")
    grp = F.col("tags").getItem("h")
    got = _collect_buckets(greedy_buckets(pts, grp, "count", S, boundary="drop"))
    assert got == [("a", 2 * S, 3 * S, 2.0, 2)]
    # vs re-anchor: same first bucket plus the re-anchored point
    re_anchor = _collect_buckets(greedy_buckets(pts, grp, "count", S))
    assert re_anchor == [("a", 0, 0, 1.0, 1), ("a", 2 * S, 3 * S, 2.0, 2)]


def test_greedy_drop_engine_carry_across_batches(spark):
    # every gap > width: drop keeps every OTHER point; tiny Arrow batches
    # force the carry logic through both its states (open trailing
    # segment AND batch ending exactly on a dropped point)
    from pyspark.sql import functions as F

    from talna_spark.aggregate import greedy_buckets

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rows = [
            ("m", int(i * 2.5 * S), float(i), {"h": "a"}) for i in range(100)
        ]
        pts = make_points(spark, rows).filter(F.col("metric") == "m")
        grp = F.col("tags").getItem("h")
        got = _collect_buckets(
            greedy_buckets(pts, grp, "count", S, boundary="drop")
        )
        # DESC scan: newest point anchors, next (gap 2.5S > S) drops,
        # following re-anchors, ... -> 50 kept buckets of len 1
        assert len(got) == 50
        assert all(ln == 1 for (_, _, _, _, ln) in got)
        # and the kept timestamps are every other point, newest first
        kept_ts = sorted((e for (_, _, e, _, _) in got), reverse=True)
        assert kept_ts == [int(i * 2.5 * S) for i in range(99, -1, -2)]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")


@pytest.mark.parametrize("batch", [1, 7, 10000])
@pytest.mark.parametrize("boundary", ["reanchor", "drop"])
def test_greedy_engine_matches_oracle_randomized(spark, boundary, batch):
    # distributed engine vs the oracle's independent port of the same
    # boundary rule on a randomized multi-group stream, summation order
    # and all; tiny Arrow batches make the carry hold multi-row open
    # buckets across batch junctions
    import pandas as pd
    from pyspark.sql import functions as F

    from talna_spark.aggregate import greedy_buckets
    from talna_spark.oracle import _greedy_runs, _greedy_runs_drop

    port = _greedy_runs_drop if boundary == "drop" else _greedy_runs
    rng = np.random.default_rng(16)
    rows = []
    for h in ("a", "b", "c"):
        gaps = rng.integers(0, 3 * S, size=120)
        ts_asc = np.cumsum(gaps).astype(np.int64)
        for t in ts_asc.tolist():
            rows.append(("m", int(t), float(rng.normal()), {"h": h}))
    pts = make_points(spark, rows).filter(F.col("metric") == "m")
    grp = F.col("tags").getItem("h")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(batch))
    try:
        got = _collect_buckets(
            greedy_buckets(pts, grp, "sum", S, boundary=boundary)
        )
    finally:
        spark.conf.set(key, old)

    expected = []
    pdf = pd.DataFrame(
        [(r[3]["h"], r[1], r[2]) for r in rows], columns=["g", "ts", "v"]
    ).sort_values(["g", "ts", "v"], ascending=[True, False, True])
    for g, gdf in pdf.groupby("g", sort=True):
        ts_l = gdf["ts"].tolist()
        v_arr = gdf["v"].to_numpy(dtype=np.float64)
        runs = port(ts_l, S)
        kept = v_arr[np.concatenate([np.arange(s, s + n) for s, n in runs])]
        lens = np.array([n for _, n in runs])
        starts = np.concatenate(([0], np.cumsum(lens)[:-1])).astype(np.int64)
        sums = np.add.reduceat(kept, starts)
        for i, (s, n) in enumerate(runs):
            expected.append(
                (g, ts_l[s + n - 1], ts_l[s], float(sums[i]), n)
            )
    assert got == sorted(expected)
    # the stream really holds multi-point buckets to carry
    assert max(n for *_, n in got) > 1


@pytest.mark.parametrize("kind", ["avg", "min", "max", "count", "p95", "stddev"])
def test_greedy_drop_all_kinds(spark, kind):
    # every aggregation kind through the drop path equals the value
    # computed from the drop scan's ids on the same data
    # (the shared _greedy_agg handles the kind; the keep-mask filter and
    # start remap must not disturb any of them)
    from pyspark.sql import functions as F

    from talna_spark.aggregate import greedy_buckets

    ts_list = sorted(SLICED_TS, reverse=True)
    rows = [("m", t, float(i + 1), {"h": "a"}) for i, t in enumerate(ts_list)]
    pts = make_points(spark, rows).filter(F.col("metric") == "m")
    got = _collect_buckets(
        greedy_buckets(pts, F.col("tags").getItem("h"), kind, S, boundary="drop")
    )
    ts = np.array(ts_list, dtype=np.int64)
    # engine sorts (ts DESC, value ASC); equal-ts rows here are absent
    vals = np.array([float(i + 1) for i in range(len(ts_list))])
    ids = segment_ids(ts, S, drop=True)
    expected = []
    for b in range(int(ids.max()) + 1 if len(ids) else 0):
        sel = ids == b
        if not sel.any():
            continue
        seg_ts, seg_v = ts[sel], vals[sel]
        if kind == "avg":
            # reduceat, not ndarray.sum(): the engine reduces each
            # segment with reduceat, whose reduction order differs from
            # pairwise summation at the last bit
            v = float(np.add.reduceat(seg_v, [0])[0] / len(seg_v))
        elif kind == "min":
            v = float(seg_v.min())
        elif kind == "max":
            v = float(seg_v.max())
        elif kind == "count":
            v = float(len(seg_v))
        elif kind == "p95":
            v = float(np.percentile(seg_v, 95.0))
        else:  # stddev, sample; single-point -> NULL
            v = float(np.std(seg_v, ddof=1)) if len(seg_v) > 1 else None
        expected.append(
            ("a", int(seg_ts.min()), int(seg_ts.max()), v, int(len(seg_v)))
        )
    assert got == sorted(expected)
    # and at least one point was dropped on this fixture (it has gaps)
    assert (ids == -1).any()


# ---- multi-series merge adjudication (r15 reference audit) --------------
# The reference's Merger pops MIN real ts (its heap Ord is the exact
# shape of std::cmp::Reverse, src/merge.rs:21-24) while its per-series
# readers yield ts DESC (the !ts codec) — so a group with >= 2 series
# and distinct timestamps gets an UNSORTED stream (whole reader runs,
# ordered by each series' newest point), and the aggregator's u128
# `end - ts` (stream.rs:76) underflows at every rising transition:
# debug panics, release wraps -> closes the bucket and DROPS the point.
# Its only multi-series-group test (db.rs:1020-1135) writes all points
# at ts=0 where the bug is invisible. These ports pin the actual
# release behavior; the engine implements the documented intent (one
# newest-first stream per group).


def _reference_merger_port(readers):
    """Literal port of src/merge.rs:42-76 — min-heap on real ts (the
    Reverse-shaped Ord), readers yielding DESC."""
    import heapq

    heads, iters = [], [iter(r) for r in readers]
    for i, it in enumerate(iters):
        v = next(it, None)
        if v is not None:
            heapq.heappush(heads, (v, i))
    out = []
    while heads:
        ts, i = heapq.heappop(heads)
        out.append(ts)
        v = next(iters[i], None)
        if v is not None:
            heapq.heappush(heads, (v, i))
    return out


def _reference_release_buckets(stream, width):
    """Literal port of src/agg/stream.rs:61-98 under RELEASE semantics:
    u128 wrapping subtraction — a rising ts closes the bucket and the
    point joins nothing (the drop behavior)."""
    buckets, blen, start, end = [], 0, None, None
    for ts in stream:
        if blen == 0:
            blen, start, end = 1, ts, ts
            continue
        if (end - ts) % (1 << 128) <= width:
            blen += 1
            start = ts
        else:
            buckets.append((start, end, blen))
            blen = 0
    if blen:
        buckets.append((start, end, blen))
    return buckets


def test_reference_multiseries_merge_adjudication(spark):
    from pyspark.sql import functions as F

    from talna_spark.aggregate import greedy_buckets

    width = 60
    r1 = [100, 90, 80]    # series 1, DESC (the reader order)
    r2 = [200, 150, 120]  # series 2, DESC

    merged = _reference_merger_port([r1, r2])
    # the "merge" is not sorted: reader 1 drains entirely first because
    # its newest point (100) is the smaller head
    assert merged == [100, 90, 80, 200, 150, 120]
    ref_buckets = _reference_release_buckets(merged, width)
    # release talna: ts=200 underflows u128 at the transition and is
    # dropped; the group's buckets are per-reader-run segments
    assert ref_buckets == [(80, 100, 3), (120, 150, 2)]
    assert sum(b[2] for b in ref_buckets) == 5  # one of 6 points lost

    # the engine: same two series in ONE group (both tagged h=a, split
    # into distinct series by tag s), global (grp, ts DESC) sort — the
    # documented intent: [200,150,120] then [100,90,80] interleave into
    # one DESC stream; width 60 re-anchors at 120
    rows = [("m", t, 1.0, {"h": "a", "s": "1"}) for t in r1]
    rows += [("m", t, 1.0, {"h": "a", "s": "2"}) for t in r2]
    pts = make_points(spark, rows).filter(F.col("metric") == "m")
    got = _collect_buckets(
        greedy_buckets(pts, F.col("tags").getItem("h"), "count", width)
    )
    assert got == [("a", 80, 120, 4.0, 4), ("a", 150, 200, 2.0, 2)]
    assert sum(n for *_, n in got) == 6  # nothing lost
    # equal-timestamp groups (the reference's only multi-series test
    # shape, db.rs:1020-1135) hide the bug: order is irrelevant there
    # and both behaviors agree
    eq = _reference_release_buckets(
        _reference_merger_port([[0], [0], [0], [0], [0], [0]]), width
    )
    assert eq == [(0, 0, 6)]


def _reference_merger_error_port(readers):
    """Literal port of src/merge.rs:36-76 WITH the Result channel (r17
    audit, VERDICT r16 item 4 — SeriesStream error propagation through
    the merge). Readers yield ('ok', ts) | ('err', tag); `advance`
    mirrors `fail_iter!` (early `Some(Err)`), and `is_initialized` is
    only set after a fully-clean init pass, exactly as the Rust."""
    import heapq

    iters = [iter(r) for r in readers]
    heap: list = []
    state = {"initialized": False}

    def advance(idx):
        item = next(iters[idx], None)
        if item is None:
            return None
        kind, v = item
        if kind == "err":
            return ("err", v)  # fail_iter!: return Some(Err) early
        heapq.heappush(heap, (v, idx))
        return None

    def nxt():
        if not state["initialized"]:
            for i in range(len(iters)):
                e = advance(i)
                if e is not None:
                    return e  # is_initialized STAYS false (merge.rs:65-69)
            state["initialized"] = True
        if not heap:
            return None  # heap.pop()? (merge.rs:70)
        ts, i = heapq.heappop(heap)
        e = advance(i)
        if e is not None:
            return e  # merge.rs:72: head.1 is DISCARDED
        return ("ok", ts)

    out = []
    while True:
        item = nxt()
        if item is None:
            return out
        out.append(item)


def test_reference_merge_error_drops_popped_point():
    """r17 AUDIT (src/merge.rs:70-74, zero upstream error-path
    coverage): after `heap.pop()` succeeds, `fail_iter!(advance(head.0))`
    returns the reader's error INSTEAD of the already-popped valid
    point — the point is consumed and never delivered. Worse, the
    erroring reader's remaining items are orphaned: nothing re-advances
    it, so once the heap drains the stream ends silently. A resilient
    consumer (one that skips Err items and keeps iterating) loses BOTH
    the popped point and the tail of the erroring series with no
    further error. Fail-stop consumers (GroupedAggregation::collect's
    `bucket?`) abort the whole query, so there the loss is subsumed by
    the failure. Engine equivalence: Spark has no per-item error
    channel — a corrupt file/row fails the TASK loudly (with retries),
    so silent point loss of this class is structurally impossible."""
    # reader A: valid point 100, then an I/O error, then valid 80
    # reader B: single valid point 90
    out = _reference_merger_error_port(
        [[("ok", 100), ("err", "io"), ("ok", 80)], [("ok", 90)]]
    )
    # 90 pops first (the r15-adjudicated min-ts heap), then popping 100
    # triggers advance(A) -> Err: the error REPLACES point 100, and
    # point 80 is never read — the stream just ends.
    assert out == [("ok", 90), ("err", "io")]
    delivered = [ts for k, ts in out if k == "ok"]
    assert 100 not in delivered and 80 not in delivered
    # error DURING initialization: is_initialized stays false and the
    # next call re-initializes — healthy readers get a second in-flight
    # item (the one-in-flight invariant breaks) but the heap keeps
    # per-item order, so this arm is lossless and duplicate-free.
    out2 = _reference_merger_error_port(
        [[("ok", 10), ("ok", 5)], [("err", "e0"), ("ok", 7)]]
    )
    assert out2 == [("err", "e0"), ("ok", 5), ("ok", 7), ("ok", 10)]


def test_greedy_drop_builder_validation(spark):
    from talna_spark.errors import InvalidQueryError

    db = Database.from_events(spark, "/root/testdata/sf0.001")
    # drop + sliced: the state machine is not self-synchronizing at a gap
    with pytest.raises(InvalidQueryError, match="cannot combine"):
        (db.avg("app.purchase", "user").mode("greedy")
         .granularity(Duration.MINUTE).greedy_boundary("drop")
         .greedy_slices(6 * Duration.HOUR).to_df())
    # drop without greedy mode
    with pytest.raises(InvalidQueryError, match="greedy mode"):
        (db.avg("app.purchase", "user").granularity(Duration.MINUTE)
         .greedy_boundary("drop").to_df())
    # unknown semantics rejected at the setter
    with pytest.raises(InvalidQueryError, match="boundary"):
        db.avg("app.purchase", "user").greedy_boundary("wat")
