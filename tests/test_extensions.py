"""Extension aggregates beyond the reference's five (SURVEY.md §2.2 gaps
filled Spark-side): exact interpolated percentiles and per-series rate."""

from __future__ import annotations

import numpy as np
import pytest

from talna_spark.database import Database
from talna_spark.duration import Duration
from talna_spark.errors import InvalidQueryError
from tests.conftest import make_points

S = Duration.SECOND


def test_percentile_aligned_matches_numpy(spark):
    vals = [5.0, 1.0, 9.0, 3.0, 7.0]
    rows = [("m", i, v, {"h": "a"}) for i, v in enumerate(vals)]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.percentile("m", "h", 0.95).granularity(Duration.minutes(1)).collect()
    assert len(res["a"]) == 1
    b = res["a"][0]
    assert b.value == pytest.approx(np.percentile(vals, 95), abs=1e-12)
    assert b.len == 5


def test_percentile_greedy_per_segment(spark):
    # two greedy segments: {0, 0.5s} and {10s, 10.2s} (gap > width)
    rows = [
        ("m", 0, 1.0, {"h": "a"}),
        ("m", int(0.5 * S), 3.0, {"h": "a"}),
        ("m", 10 * S, 5.0, {"h": "a"}),
        ("m", int(10.2 * S), 7.0, {"h": "a"}),
    ]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.percentile("m", "h", 0.5).mode("greedy").granularity(S).collect()
    got = sorted(b.value for b in res["a"])
    assert got == [pytest.approx(2.0), pytest.approx(6.0)]  # medians per segment


def test_percentile_q_validation(spark):
    db = Database.from_points(spark, make_points(spark, []))
    with pytest.raises(InvalidQueryError):
        db.percentile("m", "h", 1.5)


def test_percentile_kind_grammar_oracle_parity():
    # ADVICE r8: the oracle's percentile-kind grammar must agree with the
    # engine's on EVERY kind string, including the odd-but-float-parsable
    # ones ("p.5", "p+5", "p1e1") and the non-kinds ("pa95", "p 5" — the
    # engine's float() rejects embedded spaces? no: float(" 5") strips —
    # so both must accept it identically, whichever way that falls).
    from talna_spark.aggregate import percentile_q
    from talna_spark.oracle import _oracle_percentile_q

    kinds = [
        "p50", "p95", "p99.9", "p.5", "p+5", "p 5", "p5 ", "p1e1",
        "p0", "p100", "p-5", "p", "pa95", "pa", "pnan", "pinf",
        "p_5", "p5_0", "avg", "sum", "count", "min", "max", "px",
        "p0.0001", "p99.99999", "P50", "p50.0", "p05",
    ]
    for k in kinds:
        assert percentile_q(k) == _oracle_percentile_q(k), k


def test_rate_simple_series(spark):
    # one series: value rises 2.0 per second -> rate 2.0 everywhere
    rows = [("m", i * S, 2.0 * i, {"h": "a"}) for i in range(5)]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.rate("m", "h").granularity(Duration.minutes(1)).collect()
    assert len(res["a"]) == 1
    b = res["a"][0]
    assert b.value == pytest.approx(2.0)
    assert b.len == 4  # first point of the series has no predecessor
    assert b.start == S  # rate points are labeled at the later timestamp


def test_rate_does_not_mix_series(spark):
    # two series with different slopes under one group tag: the bucket
    # averages per-series rates (1.0 and 3.0), never cross-series deltas
    rows = []
    for i in range(3):
        rows.append(("m", i * S, 1.0 * i, {"h": "a", "s": "x"}))
        rows.append(("m", i * S + 1000, 3.0 * i, {"h": "a", "s": "y"}))
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.rate("m", "h").granularity(Duration.minutes(1)).collect()
    assert res["a"][0].value == pytest.approx(2.0)  # mean(1.0, 1.0, 3.0, 3.0)
    assert res["a"][0].len == 4


def test_distinct_series_counts_series_not_points(spark):
    rows = [
        ("m", 0, 1.0, {"h": "a", "s": "x"}),
        ("m", 1, 2.0, {"h": "a", "s": "x"}),  # same series, 2nd point
        ("m", 2, 3.0, {"h": "a", "s": "y"}),
        ("m", 3, 4.0, {"h": "b", "s": "z"}),
    ]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.distinct_series("m", "h").granularity(Duration.minutes(1)).collect()
    assert res["a"][0].value == 2.0  # two distinct series under h=a
    assert res["a"][0].len == 3      # but three points
    assert res["b"][0].value == 1.0


def test_distinct_series_greedy_rejected(spark):
    db = Database.from_points(spark, make_points(spark, []))
    with pytest.raises(InvalidQueryError):
        db.distinct_series("m", "h").mode("greedy").granularity(S).to_df()


def test_top_groups_rank_and_ties(spark):
    rows = [
        ("m", 0, 5.0, {"h": "a"}),
        ("m", 1, 5.0, {"h": "c"}),  # ties with a on value -> grp ASC order
        ("m", 2, 9.0, {"h": "b"}),
        ("m", 3, 1.0, {"h": "d"}),
    ]
    db = Database.from_points(spark, make_points(spark, rows))
    out = db.sum("m", "h").granularity(None).top(3).collect()
    got = [(r["grp"], r["rank"], r["value"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [("b", 1, 9.0), ("a", 2, 5.0), ("c", 3, 5.0)]


M = Duration.MINUTE


def test_gapfill_modes(spark):
    # points in minute-buckets 0 and 3 -> buckets 1, 2 are gaps
    rows = [("m", 10, 4.0, {"h": "a"}), ("m", 3 * M + 10, 8.0, {"h": "a"})]
    db = Database.from_points(spark, make_points(spark, rows))
    base = lambda: db.avg("m", "h").granularity(M)

    nulls = {r["start_ts"]: (r["value"], r["len"])
             for r in base().gapfill("null").to_df().collect()}
    assert len(nulls) == 4
    assert nulls[M] == (None, 0) and nulls[2 * M] == (None, 0)
    assert nulls[M * 2 - 1 - (M - 1)] == nulls[M]  # empty bucket at epoch edges

    zeros = {r["start_ts"]: r["value"]
             for r in base().gapfill("zero").to_df().collect()}
    assert zeros[M] == 0.0 and zeros[2 * M] == 0.0 and zeros[10] == 4.0

    locf = {r["start_ts"]: r["value"]
            for r in base().gapfill("locf").to_df().collect()}
    assert locf[M] == 4.0 and locf[2 * M] == 4.0 and locf[3 * M + 10] == 8.0


def test_gapfill_bounded_spine(spark):
    rows = [("m", 2 * M + 5, 1.0, {"h": "a"})]
    db = Database.from_points(spark, make_points(spark, rows))
    out = (db.count("m", "h").start(0).end(5 * M - 1).granularity(M)
           .gapfill("zero").to_df().collect())
    assert len(out) == 5  # full [0, 5m) spine even though data spans 1 bucket
    assert sum(r["len"] for r in out) == 1


def test_gapfill_requires_aligned_finite(spark):
    db = Database.from_points(spark, make_points(spark, []))
    with pytest.raises(InvalidQueryError):
        db.avg("m", "h").mode("greedy").gapfill("zero").granularity(M).to_df()
    with pytest.raises(InvalidQueryError):
        db.avg("m", "h").granularity(None).gapfill("zero").to_df()
    with pytest.raises(InvalidQueryError):
        db.avg("m", "h").gapfill("bogus")


def test_time_weighted_avg_step_interpolation(spark):
    # value 10 held for 3s, then 20 held for 1s, then 99 (trailing, weight 0)
    rows = [
        ("m", 0 * S, 10.0, {"h": "a"}),
        ("m", 3 * S, 20.0, {"h": "a"}),
        ("m", 4 * S, 99.0, {"h": "a"}),
    ]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.time_weighted_avg("m", "h").granularity(Duration.minutes(1)).collect()
    b = res["a"][0]
    # twa = (10*3 + 20*1 + 99*0) / (3 + 1) = 12.5 — plain avg would be 43
    assert b.value == pytest.approx(12.5)
    assert b.len == 3


def test_time_weighted_avg_drops_zero_weight_buckets(spark):
    # a single trailing point in its own bucket has total weight 0
    rows = [("m", 0, 1.0, {"h": "a"})]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.time_weighted_avg("m", "h").granularity(Duration.minutes(1)).collect()
    assert res == {}


def test_twa_does_not_mix_series(spark):
    # two interleaved series: weights computed within each series only
    rows = [
        ("m", 0 * S, 10.0, {"h": "a", "s": "x"}),
        ("m", 1 * S, 50.0, {"h": "a", "s": "y"}),   # different series
        ("m", 4 * S, 20.0, {"h": "a", "s": "x"}),   # x: 10 held 4s
        ("m", 3 * S, 70.0, {"h": "a", "s": "y"}),   # y: 50 held 2s
    ]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.time_weighted_avg("m", "h").granularity(Duration.minutes(1)).collect()
    b = res["a"][0]
    # (10*4 + 50*2) / (4 + 2) = 140/6
    assert b.value == pytest.approx(140 / 6)


def test_rate_drops_zero_dt_pairs(spark):
    rows = [
        ("m", 0, 1.0, {"h": "a"}),
        ("m", 0, 5.0, {"h": "a"}),  # duplicate ts within the series
        ("m", S, 2.0, {"h": "a"}),
    ]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.rate("m", "h").granularity(Duration.minutes(1)).collect()
    # ties ordered by value: (0,1.0)->(0,5.0) dropped (dt=0); (0,5.0)->(S,2.0) kept
    assert res["a"][0].len == 1
    assert res["a"][0].value == pytest.approx(-3.0)


def test_increase_monotonic_counter(spark):
    # counter 0,3,7,12 in one bucket -> increase = 12 (sum of deltas 3,4,5)
    rows = [("m", i * S, v, {"h": "a"}) for i, v in enumerate([0.0, 3.0, 7.0, 12.0])]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.increase("m", "h").granularity(Duration.minutes(1)).collect()
    assert len(res["a"]) == 1
    b = res["a"][0]
    assert b.value == pytest.approx(12.0)
    assert b.len == 3  # first point has no predecessor
    assert b.start == S  # deltas label at the later timestamp


def test_increase_handles_counter_reset(spark):
    # 10, 14, then reset to 2, then 5: deltas 4, 2 (reset: new reading
    # counts wholly), 3 -> total 9
    rows = [("m", i * S, v, {"h": "a"}) for i, v in enumerate([10.0, 14.0, 2.0, 5.0])]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.increase("m", "h").granularity(Duration.minutes(1)).collect()
    assert res["a"][0].value == pytest.approx(4.0 + 2.0 + 3.0)


def test_increase_does_not_mix_series(spark):
    # two interleaved counters under one group tag: per-series deltas only
    rows = []
    for i in range(3):
        rows.append(("m", i * S, 10.0 * i, {"h": "a", "s": "x"}))
        rows.append(("m", i * S + 1000, 100.0 * i, {"h": "a", "s": "y"}))
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.increase("m", "h").granularity(Duration.minutes(1)).collect()
    # x: 10+10, y: 100+100 -> 220 total (cross-series deltas would differ)
    assert res["a"][0].value == pytest.approx(220.0)


def test_multigroup_composes_keys_and_drops_missing(spark):
    rows = [
        ("m", 0, 1.0, {"h": "a", "env": "p"}),
        ("m", 1, 3.0, {"h": "a", "env": "p"}),
        ("m", 2, 5.0, {"h": "a", "env": "q"}),
        ("m", 3, 7.0, {"h": "b", "env": "p"}),
        ("m", 4, 9.0, {"h": "a"}),  # lacks env -> dropped (O25 generalized)
    ]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.avg("m", ["h", "env"]).granularity(Duration.minutes(1)).collect()
    assert set(res) == {"h:a,env:p", "h:a,env:q", "h:b,env:p"}
    assert res["h:a,env:p"][0].value == pytest.approx(2.0)
    assert res["h:a,env:p"][0].len == 2
    assert res["h:b,env:p"][0].value == pytest.approx(7.0)


def test_multigroup_single_key_list_equals_plain(spark):
    rows = [("m", i, float(i), {"h": "a"}) for i in range(4)]
    db = Database.from_points(spark, make_points(spark, rows))
    a = db.sum("m", ["h"]).granularity(None).collect()
    b = db.sum("m", "h").granularity(None).collect()
    assert a == b


def test_multigroup_empty_list_rejected(spark):
    db = Database.from_points(spark, make_points(spark, []))
    with pytest.raises(InvalidQueryError):
        db.avg("m", [])


def test_rolling_moving_average(spark):
    # bucket values 1, 3, 5 (one point per minute-bucket); rolling(2) ->
    # 1, mean(1,3)=2, mean(3,5)=4
    M = Duration.MINUTE
    rows = [("m", i * M, float(2 * i + 1), {"h": "a"}) for i in range(3)]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.avg("m", "h").granularity(M).rolling(2).collect()
    got = [b.value for b in sorted(res["a"], key=lambda b: b.start)]
    assert got == [pytest.approx(1.0), pytest.approx(2.0), pytest.approx(4.0)]


def test_rolling_range_frame_skips_gap(spark):
    # buckets 0 and 5 with a 4-bucket gap: rolling(2) frames are RANGE-based
    # on bucket index, so bucket 5 does NOT see bucket 0's value
    M = Duration.MINUTE
    rows = [("m", 0, 10.0, {"h": "a"}), ("m", 5 * M, 2.0, {"h": "a"})]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.avg("m", "h").granularity(M).rolling(2).collect()
    got = {b.start: b.value for b in res["a"]}
    assert got[0] == pytest.approx(10.0)
    assert got[5 * M] == pytest.approx(2.0)  # not mean(10, 2)


def test_rolling_requires_aligned_finite(spark):
    db = Database.from_points(spark, make_points(spark, []))
    with pytest.raises(InvalidQueryError):
        db.avg("m", "h").rolling(1)
    with pytest.raises(InvalidQueryError):
        db.avg("m", "h").granularity(None).rolling(2).to_df()
    with pytest.raises(InvalidQueryError):
        db.avg("m", "h").mode("greedy").rolling(2).to_df()


def test_sliding_windows_overlap(spark):
    # width 2s, slide 1s: point at t=1.5s lands in windows [0,2) and [1,3)
    # (win_start 0 and 1s); points at 0.5s only in window starting 0... etc.
    rows = [
        ("m", int(0.5 * S), 1.0, {"h": "a"}),
        ("m", int(1.5 * S), 10.0, {"h": "a"}),
    ]
    db = Database.from_points(spark, make_points(spark, rows))
    out = db.sum("m", "h").sliding(2 * S, S).collect()
    got = {r["win_start"]: (r["value"], r["len"]) for r in out}
    # window -1s covers [-1s, 1s): only the 0.5s point
    assert got[-S] == (pytest.approx(1.0), 1)
    # window 0 covers [0, 2s): both points
    assert got[0] == (pytest.approx(11.0), 2)
    # window 1s covers [1s, 3s): only the 1.5s point
    assert got[S] == (pytest.approx(10.0), 1)


def test_sliding_validates_ratio(spark):
    db = Database.from_points(spark, make_points(spark, []))
    with pytest.raises(InvalidQueryError):
        db.sum("m", "h").sliding(3, 2)  # width not a multiple of slide


def test_zscore_trailing_baseline(spark):
    # bucket values 1, 1, 1, 10 (one point per minute-bucket); zscore(4):
    # bucket 0 has no baseline (NULL); bucket 3 frame = [1,1,1,10]:
    # mean 3.25, stddev_samp 4.5 -> (10-3.25)/4.5 = 1.5
    M = Duration.MINUTE
    vals = [1.0, 1.0, 1.0, 10.0]
    rows = [("m", i * M, v, {"h": "a"}) for i, v in enumerate(vals)]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.avg("m", "h").granularity(M).zscore(4).collect()
    got = {b.start: b.value for b in res["a"]}
    assert got[0] is None  # frame of 1: stddev_samp NULL
    assert got[M] is None  # frame [1,1]: zero variance -> NULL
    assert got[3 * M] == pytest.approx(1.5)


def test_zscore_validation(spark):
    db = Database.from_points(spark, make_points(spark, []))
    with pytest.raises(InvalidQueryError):
        db.avg("m", "h").zscore(1)
    with pytest.raises(InvalidQueryError):
        db.avg("m", "h").rolling(2).zscore(2)
    with pytest.raises(InvalidQueryError):
        db.avg("m", "h").zscore(2).rolling(2)  # either order is rejected
    with pytest.raises(InvalidQueryError):
        db.avg("m", "h").mode("greedy").zscore(2).to_df()


def test_distinct_series_approx_close_to_exact(spark):
    # 40 distinct series; HLL at rsd=2% must land within 10% of exact here
    rows = [
        ("m", i, float(i), {"h": "a", "s": f"srv-{i % 40}"}) for i in range(200)
    ]
    db = Database.from_points(spark, make_points(spark, rows))
    exact = db.distinct_series("m", "h").granularity(None).collect()["a"][0].value
    approx = (
        db.distinct_series_approx("m", "h").granularity(None).collect()["a"][0].value
    )
    assert exact == 40.0
    assert abs(approx - exact) / exact < 0.10


def test_new_ops_on_warehouse_backend(spark, tmp_path):
    # multigroup / increase / rolling / sliding must behave identically
    # through the partitioned-warehouse scan (broadcast dim join path)
    rows = [
        ("m", i * S, float(i * i), {"h": "a", "env": "p"}) for i in range(6)
    ] + [("m", i * S, 2.0 * i, {"h": "b", "env": "q"}) for i in range(6)]
    pts = make_points(spark, rows)
    vdb = Database.from_points(spark, pts)
    wdb = Database.open(spark, str(tmp_path / "wh"))
    wdb.write_batch(pts)
    for build in [
        lambda db: db.avg("m", ["h", "env"]).granularity(Duration.MINUTE).collect(),
        lambda db: db.increase("m", "h").granularity(Duration.MINUTE).collect(),
        lambda db: db.avg("m", "h").granularity(S).rolling(3).collect(),
        lambda db: sorted(
            (r["grp"], r["win_start"], r["value"], r["len"])
            for r in db.sum("m", "h").sliding(2 * S, S).collect()
        ),
    ]:
        assert build(vdb) == build(wdb)


def test_increase_greedy_mode(spark):
    # greedy bucketing over the per-series deltas: points at 0,1,2s then a
    # >1m gap; counter 0,3,7 then 7,9 after reset-free continuation
    M = Duration.MINUTE
    rows = [
        ("m", 0, 0.0, {"h": "a"}),
        ("m", S, 3.0, {"h": "a"}),
        ("m", 2 * S, 7.0, {"h": "a"}),
        ("m", 5 * M, 9.0, {"h": "a"}),
    ]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.increase("m", "h").mode("greedy").granularity(M).collect()
    # deltas: 3 (at 1s), 4 (at 2s), 2 (at 5m) -> greedy segments {1s,2s}, {5m}
    got = sorted(b.value for b in res["a"])
    assert got == [pytest.approx(2.0), pytest.approx(7.0)]


def test_stddev_aligned_and_greedy(spark):
    import numpy as np

    vals = [2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0]
    rows = [("m", i, v, {"h": "a"}) for i, v in enumerate(vals)]
    db = Database.from_points(spark, make_points(spark, rows))
    b = db.stddev("m", "h").granularity(Duration.MINUTE).collect()["a"][0]
    assert b.value == pytest.approx(float(np.std(vals, ddof=1)))
    g = db.stddev("m", "h").mode("greedy").granularity(Duration.MINUTE).collect()
    assert g["a"][0].value == pytest.approx(float(np.std(vals, ddof=1)))


def test_stddev_single_point_is_null(spark):
    rows = [("m", 0, 3.0, {"h": "a"})]
    db = Database.from_points(spark, make_points(spark, rows))
    assert db.stddev("m", "h").granularity(None).collect()["a"][0].value is None
    g = db.stddev("m", "h").mode("greedy").granularity(Duration.MINUTE).collect()
    assert g["a"][0].value is None


def test_delta_net_change(spark):
    # one bucket: first value 3 (ts 0), last value 11 (ts 3) -> delta 8;
    # interior values irrelevant
    rows = [("m", i, v, {"h": "a"}) for i, v in enumerate([3.0, 100.0, -5.0, 11.0])]
    db = Database.from_points(spark, make_points(spark, rows))
    b = db.delta("m", "h").granularity(Duration.MINUTE).collect()["a"][0]
    assert b.value == pytest.approx(8.0)
    assert b.len == 4
    with pytest.raises(InvalidQueryError):
        db.delta("m", "h").mode("greedy").to_df()


def test_sessions_gap_boundaries(spark):
    S = Duration.SECOND
    rows = [
        ("m", 0, 1.0, {"h": "a"}),
        ("m", 5 * S, 2.0, {"h": "a"}),      # gap 5s <= 5s: same session
        ("m", 20 * S, 3.0, {"h": "a"}),     # gap 15s > 5s: new session
        ("m", 22 * S, 4.0, {"h": "a"}),
        ("m", 0, 9.0, {"h": "b"}),          # other group: own sessions
    ]
    db = Database.from_points(spark, make_points(spark, rows))
    out = sorted(
        (r["grp"], r["start_ts"], r["end_ts"], r["value"], r["len"])
        for r in db.sum("m", "h").sessions(5 * S).collect()
    )
    assert out == [
        ("a", 0, 5 * S, 3.0, 2),
        ("a", 20 * S, 22 * S, 7.0, 2),
        ("b", 0, 0, 9.0, 1),
    ]


def test_sessions_steady_activity_extends(spark):
    # unlike greedy (anchor distance), steady activity extends a session
    # indefinitely: 10 points 1s apart with gap=1s -> ONE session
    S = Duration.SECOND
    rows = [("m", i * S, 1.0, {"h": "a"}) for i in range(10)]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.count("m", "h").sessions(S).collect()  # DataFrame rows
    assert len(res) == 1
    assert res[0]["len"] == 10
    # greedy with the same width splits on anchor distance
    res_g = db.count("m", "h").mode("greedy").granularity(S).collect()
    assert len(res_g["a"]) > 1


def test_sessions_validation(spark):
    db = Database.from_points(spark, make_points(spark, [("m", 0, 1.0, {"h": "a"})]))
    with pytest.raises(InvalidQueryError, match="aligned"):
        db.sum("m", "h").mode("greedy").sessions(10)
    with pytest.raises(InvalidQueryError, match="granularity"):
        db.sum("m", "h").granularity(60).sessions(10)
    with pytest.raises(InvalidQueryError, match="positive"):
        db.sum("m", "h").sessions(0)


def test_percentile_approx_close_to_exact(spark):
    import random

    rng = random.Random(7)
    rows = [
        ("m", i * Duration.SECOND, rng.uniform(0, 1000), {"h": f"h{i % 2}"})
        for i in range(2000)
    ]
    db = Database.from_points(spark, make_points(spark, rows))
    exact = {
        (r["grp"], r["start_ts"]): r["value"]
        for r in db.percentile("m", "h", 0.95).granularity(None).to_df().collect()
    }
    approx = {
        (r["grp"], r["start_ts"]): r["value"]
        for r in db.percentile_approx("m", "h", 0.95).granularity(None).to_df().collect()
    }
    assert exact.keys() == approx.keys()
    for k in exact:
        assert abs(exact[k] - approx[k]) <= 25.0, k  # ~2.5% of the range


def test_percentile_approx_validation(spark):
    db = Database.from_points(spark, make_points(spark, [("m", 0, 1.0, {"h": "a"})]))
    with pytest.raises(InvalidQueryError):
        db.percentile_approx("m", "h", 1.5)
    with pytest.raises(InvalidQueryError, match="aligned"):
        db.percentile_approx("m", "h", 0.95).mode("greedy").to_df()


def test_deterministic_sample_is_stable_and_proportional(spark):
    from talna_spark.pipeline.sampling import deterministic_sample

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in deterministic_sample(df, "doc_id", 20).collect()}
    s2 = {r["doc_id"] for r in deterministic_sample(df.repartition(13), "doc_id", 20).collect()}
    assert s1 == s2  # partitioning-independent
    assert 0.15 < len(s1) / 5000 < 0.25  # ~20%
    s_half = {r["doc_id"] for r in deterministic_sample(df, "doc_id", 10).collect()}
    assert s_half <= s1  # nested samples: smaller pct is a subset


# ---------------------------------------------- decontamination + repetition


def _duck(sf_dir, sql):
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    out = con.sql(sql).fetchall()
    con.close()
    return out


def test_contamination_scan_matches_duckdb_twin(spark):
    from talna_spark.pipeline.decontam import (
        contamination_scan, contamination_scan_sql,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, contamination_scan(spark, sf).collect()))
    want = sorted(map(tuple, _duck(sf, contamination_scan_sql())))
    assert got == want
    assert len(got) > 0, "synthetic corpus should share shingles with eval slice"


def test_contaminated_against_finds_planted_overlap(spark):
    from talna_spark.pipeline.decontam import contaminated_against

    eval_docs = spark.createDataFrame(
        [(1000, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "x alpha beta gamma delta epsilon y"),  # shares a 5-gram
            (2, "totally different words here throughout"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["n_hits"] for r in contaminated_against(corpus, eval_docs).collect()}
    assert 1 in rows and rows[1] >= 1
    assert 2 not in rows


def test_repetition_matches_duckdb_twin(spark):
    from talna_spark.pipeline.text import repetition, repetition_sql

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, repetition(spark, sf).collect()))
    want = sorted(map(tuple, _duck(sf, repetition_sql())))
    assert got == want
    assert len(got) == 500
    # degenerate repeated text scores high on both signals
    from pyspark.sql import functions as F  # noqa: F401

    assert any(r[1] > 0 for r in got), "corpus should contain repeated 3-grams"


def test_curate_matches_composed_duckdb_twin(spark):
    from talna_spark.pipeline.curate import curate, curate_sql

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, curate(spark, sf).collect()))
    want = sorted(map(tuple, _duck(sf, curate_sql())))
    assert got == want
    verdicts = {v for _d, v, _s in got}
    # the synthetic corpus exercises every verdict branch
    assert "kept" in verdicts
    assert verdicts <= {"kept", "low_quality", "duplicate", "contaminated"}
    # kept docs (and only kept docs) carry a split
    for _d, v, s in got:
        assert (s is not None) == (v == "kept")


def test_curate_single_scan_and_eval_canonical(spark):
    """r5: (a) the composition reads documents.parquet ONCE (shared lazy
    localCheckpoint; the naive composition scanned it ~4x); (b) dedup
    canonicalization is eval-filtered — a text whose lowest global copy
    sits in the eval slice keeps a curatable non-eval canonical, so its
    drop reason (if any) is truthful, never 'duplicate' of a benchmark
    doc."""
    import os
    import shutil
    import tempfile

    import pandas as pd

    from talna_spark.pipeline.curate import curate

    plan = (
        curate(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("documents.parquet") <= 2

    words = ("the quick brown fox jumps over a lazy dog and runs far " * 6).strip()
    other = ("a small red hen walks into the barn and sleeps well now " * 6).strip()
    d = tempfile.mkdtemp(prefix="talna_curate_eval_")
    try:
        pd.DataFrame(
            [
                {"doc_id": 0, "text": words},   # eval slice (0 % 97 == 0)
                {"doc_id": 5, "text": words},   # non-eval copy of an eval text
                {"doc_id": 3, "text": other},
            ]
        ).to_parquet(os.path.join(d, "documents.parquet"))
        rows = {r["doc_id"]: r for r in curate(spark, d).collect()}
        assert set(rows) == {3, 5}  # doc 0 is the benchmark, not curated
        # doc 5 IS the canonical survivor of its text (eval-filtered min),
        # so it is not a 'duplicate'; sharing every shingle with the eval
        # doc makes it contaminated — the truthful drop reason
        assert rows[5]["verdict"] == "contaminated"
        assert rows[3]["verdict"] == "kept" and rows[3]["split"] is not None
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_curate_declared_schema_widens_and_projects(spark, tmp_path):
    """curate() reads documents under the declared (doc_id BIGINT, text
    STRING) schema: a file whose doc_id is INT32 and that carries an
    extra leading column gives the same rows as the DuckDB twin over
    that file (the INT32 ids widen, the extra column is never read). A
    doc_id that cannot be read as BIGINT fails the read with Spark's
    FAILED_READ_FILE error instead of returning rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from talna_spark.pipeline.curate import curate, curate_sql

    src = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    n = src.num_rows
    d = tmp_path / "i32"
    d.mkdir()
    pq.write_table(
        pa.table({
            "extra": pa.array(range(n), pa.int64()),
            "doc_id": src["doc_id"].cast(pa.int32()),
            "text": src["text"],
        }),
        d / "documents.parquet",
    )
    got = sorted(map(tuple, curate(spark, str(d)).collect()))
    want = sorted(map(tuple, _duck(str(d), curate_sql())))
    assert got == want
    assert len(got) == sum(1 for i in src["doc_id"].to_pylist() if i % 97)

    bad = tmp_path / "str"
    bad.mkdir()
    pq.write_table(
        pa.table({"doc_id": src["doc_id"].cast(pa.string()), "text": src["text"]}),
        bad / "documents.parquet",
    )
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        curate(spark, str(bad)).collect()


def test_read_documents_missing_column_raises(spark, tmp_path):
    """A documents file without a column a reader names fails loudly
    with a typed error that names the column, instead of reading it as
    NULL on every row under the declared schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from talna_spark.errors import MissingColumnError
    from talna_spark.pipeline.scan import read_documents

    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], pa.int64()),
                  "source": pa.array(["a", "b"])}),
        tmp_path / "documents.parquet",
    )
    with pytest.raises(MissingColumnError, match="text"):
        read_documents(spark, str(tmp_path), "doc_id", "text")
    assert read_documents(spark, str(tmp_path), "doc_id", "source").count() == 2
    # the operators read through the same reader, so they raise it too
    from talna_spark.pipeline.text import token_stats

    with pytest.raises(MissingColumnError, match="text"):
        token_stats(spark, str(tmp_path))


def test_read_documents_null_typed_column(spark, tmp_path):
    """pandas writes an all-None column with the parquet NULL type,
    which cannot be read as the declared STRING: the reader returns it
    as a NULL of the declared type, as an undeclared read would, and
    an operator over such a corpus runs."""
    import pandas as pd

    from talna_spark.pipeline.sampling import reservoir_docs
    from talna_spark.pipeline.scan import read_documents

    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a b", "c"], "source": [None, None]}
    ).to_parquet(tmp_path / "documents.parquet")
    d = read_documents(spark, str(tmp_path), "source", "doc_id", "text")
    assert d.columns == ["source", "doc_id", "text"]
    assert d.dtypes == [
        ("source", "string"), ("doc_id", "bigint"), ("text", "string")
    ]
    assert sorted(map(tuple, d.collect())) == [(None, 1, "a b"), (None, 2, "c")]
    assert read_documents(spark, str(tmp_path), "source").count() == 2
    sample = reservoir_docs(spark, str(tmp_path)).collect()
    assert sorted(r["doc_id"] for r in sample) == [1, 2]


# ------------------------------------------------------------- histogram
def test_histogram_matches_duckdb_and_counts_everything(spark):
    """Per-bucket value histogram: Spark and the DuckDB twin agree
    row-for-row on real events data, bin counts sum to the scanned
    point count, and the edge bins catch under/overflow."""
    import duckdb

    from talna_spark.database import Database
    from talna_spark.oracle import events_histogram_sql

    sf = "/root/testdata/sf0.001"
    db = Database.from_events(spark, sf)
    H = Duration.hours(6)
    got = sorted(
        map(
            tuple,
            db.count("app.purchase", "user")
            .granularity(H)
            .histogram(0.0, 400.0, 8)
            .collect(),
        )
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    want = sorted(
        map(
            tuple,
            con.sql(
                events_histogram_sql(
                    "app.purchase", "user", "*", int(H), 0.0, 400.0, 8
                )
            ).fetchall(),
        )
    )
    con.close()
    assert len(got) == len(want) > 0
    assert got == want
    # total count equals the plain count() aggregate over the same scan
    total = sum(r[5] for r in got)
    plain = (
        db.count("app.purchase", "user").granularity(None).to_df().collect()
    )
    assert total == sum(r["len"] for r in plain)
    bins = {r[2] for r in got}
    assert bins <= set(range(-1, 9))


def test_histogram_validations(spark):
    from talna_spark.database import Database

    db = Database.from_events(spark, "/root/testdata/sf0.001")
    with pytest.raises(InvalidQueryError, match="count"):
        db.avg("app.purchase", "user").histogram(0, 1, 4)
    with pytest.raises(ValueError, match="hi > lo"):
        db.count("app.purchase", "user").histogram(5, 5, 4)
    with pytest.raises(InvalidQueryError, match="aligned"):
        db.count("app.purchase", "user").mode("greedy").histogram(0, 1, 4)
