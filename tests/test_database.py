"""End-to-end aggregation tests mirroring the reference's own unit tests
(FIXTURES.md F2/F3/F4; reference src/db.rs:421-1135)."""

from __future__ import annotations

import pytest

from talna_spark.database import Database
from tests.conftest import make_points

# F2: literal rows from reference src/db.rs:545-607 (metric `hello`)
F2_ROWS = [
    ("hello", 0, 4.0, {"service": "talna"}),
    ("hello", 1, 10.0, {"service": "talna"}),
    ("hello", 2, 6.0, {"service": "talna"}),
    ("hello", 3, 10.0, {"service": "talna"}),
    ("hello", 4, 20.0, {"service": "talna"}),
    ("hello", 5, 7.0, {"service": "smoltable"}),
    ("hello", 6, 5.0, {"service": "smoltable"}),
]


@pytest.fixture(scope="module")
def f2_db(spark):
    return Database.from_points(spark, make_points(spark, F2_ROWS))


def one_bucket(result, grp):
    assert grp in result, result
    assert len(result[grp]) == 1
    return result[grp][0]


def test_agg_count(f2_db):
    # reference test_agg_cnt src/db.rs:545-638
    res = f2_db.count("hello", "service").collect()
    t = one_bucket(res, "talna")
    assert (t.value, t.len, t.start, t.end) == (5.0, 5, 0, 4)
    s = one_bucket(res, "smoltable")
    assert (s.value, s.len, s.start, s.end) == (2.0, 2, 5, 6)


def test_agg_max_min_sum_avg(f2_db):
    # reference src/db.rs:639-1012
    assert one_bucket(f2_db.max("hello", "service").collect(), "talna").value == 20.0
    assert one_bucket(f2_db.max("hello", "service").collect(), "smoltable").value == 7.0
    assert one_bucket(f2_db.min("hello", "service").collect(), "talna").value == 4.0
    assert one_bucket(f2_db.min("hello", "service").collect(), "smoltable").value == 5.0
    assert one_bucket(f2_db.sum("hello", "service").collect(), "talna").value == 50.0
    assert one_bucket(f2_db.sum("hello", "service").collect(), "smoltable").value == 12.0
    assert one_bucket(f2_db.avg("hello", "service").collect(), "talna").value == 10.0
    assert one_bucket(f2_db.avg("hello", "service").collect(), "smoltable").value == 6.0


def test_time_bounds_inclusive(f2_db):
    # reference test_range_cnt src/db.rs:429-542; bounds inclusive both ends
    # (src/agg/builder.rs:106-113)
    res = f2_db.count("hello", "service").start(2).collect()
    t = one_bucket(res, "talna")
    assert (t.value, t.start, t.end) == (3.0, 2, 4)

    res = f2_db.count("hello", "service").end(3).collect()
    t = one_bucket(res, "talna")
    assert (t.value, t.start, t.end) == (4.0, 0, 3)

    res = f2_db.count("hello", "service").start(1).end(3).collect()
    t = one_bucket(res, "talna")
    assert (t.value, t.start, t.end) == (3.0, 1, 3)


# F3: wildcard/key-exists rows (reference src/db.rs:1014-1135)
F3_SERVICES = [
    "server.nginx",
    "db.bigtable",
    "db.neon",
    "db.postgres.14",
    "db.postgres.15",
    "db.postgres.16",
]
F3_ROWS = [
    ("hello", 0, 4.0, {"env": "prod", "service": s}) for s in F3_SERVICES
]


@pytest.fixture(scope="module")
def f3_db(spark):
    return Database.from_points(spark, make_points(spark, F3_ROWS))


@pytest.mark.parametrize(
    "flt,expected",
    [
        ("*", 6.0),
        ("service:db.postgres.16", 1.0),
        ("service:db.postgres.*", 3.0),
        ("service:db.*", 5.0),
        ("service:*", 6.0),  # key-exists (src/db.rs:1124-1132)
    ],
)
def test_wildcard_counts(f3_db, flt, expected):
    res = f3_db.count("hello", "env").filter(flt).collect()
    assert one_bucket(res, "prod").value == expected


def test_not_filter(f3_db):
    # NOT scoped to the metric (documented deviation, SURVEY.md O19)
    res = f3_db.count("hello", "env").filter("!service:db.postgres.14").collect()
    assert one_bucket(res, "prod").value == 5.0


def test_not_includes_missing_tag(spark):
    # a series LACKING tag k must be included by !k:v (complement semantics)
    rows = [
        ("m", 0, 1.0, {"g": "a", "k": "x"}),
        ("m", 1, 1.0, {"g": "a"}),  # no tag k
    ]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.count("m", "g").filter("!k:x").collect()
    assert one_bucket(res, "a").value == 1.0  # only the k-less point
    res = db.count("m", "g").filter("!k:nomatch").collect()
    assert one_bucket(res, "a").value == 2.0  # both points


def test_empty_filter_result(f3_db):
    # empty series selection -> empty output map (src/db.rs:195-198)
    res = f3_db.count("hello", "env").filter("service:zzz AND env:prod").collect()
    assert res == {}


def test_missing_group_tag_dropped(spark):
    # F4: series without the group_by tag silently dropped
    # (reference src/agg/builder.rs:120-122)
    rows = [("m", i * 10**9, float(i), {"host": "h-1", "region": "eu"}) for i in range(10)]
    rows += [("m", i * 10**9, float(i), {"host": "h-2"}) for i in range(10)]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.avg("m", "region").granularity(None).collect()
    assert set(res) == {"eu"}
    assert res["eu"][0].len == 10


def test_set_syntax_filter(spark):
    rows = [("m", 0, float(i), {"host": f"h-{i}"}) for i in range(6)]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.sum("m", "host").filter("host:[h-1, h-2, h-3]").collect()
    assert set(res) == {"h-1", "h-2", "h-3"}


def test_aligned_minute_buckets(spark):
    # two minutes of data -> two aligned buckets per group
    m = 60 * 10**9
    rows = [
        ("m", 0, 1.0, {"h": "a"}),
        ("m", m - 1, 3.0, {"h": "a"}),
        ("m", m, 5.0, {"h": "a"}),
        ("m", m + 1, 7.0, {"h": "a"}),
    ]
    db = Database.from_points(spark, make_points(spark, rows))
    res = db.avg("m", "h").collect()
    buckets = res["a"]
    assert len(buckets) == 2
    # newest-first ordering (reference stream order)
    assert (buckets[0].start, buckets[0].end, buckets[0].value, buckets[0].len) == (
        m, m + 1, 6.0, 2)
    assert (buckets[1].start, buckets[1].end, buckets[1].value, buckets[1].len) == (
        0, m - 1, 2.0, 2)


def test_calendar_bucket_pre_epoch_floor(spark):
    # ts in (-1 day, 0) belongs to 1969-12-31, not the 1970-01-01 bucket
    # (regression: truncating `div` miscalendared it; and DuckDB's `//`
    # truncates identically so the oracle could not catch it — both
    # engines now use explicit floor division)
    from talna_spark.aggregate import calendar_bucket_col

    d = 86_400_000_000_000
    df = spark.createDataFrame(
        [(-1,), (-d,), (0,), (d - 1,), (d,)], "ts long"
    ).select("ts", calendar_bucket_col("day").alias("b"))
    got = {r["ts"]: r["b"] for r in df.collect()}
    assert got == {-1: -1, -d: -1, 0: 0, d - 1: 0, d: 1}

    import duckdb

    from talna_spark.oracle import events_calendar_sql

    sql = events_calendar_sql("sum", "m", "h", "*", "day")
    # the oracle's floordiv fragment is present...
    assert "CASE WHEN ts %" in sql and "// 86400000000000" in sql
    # ...and BEHAVES: execute the oracle on a pre-epoch events fixture
    # and require it to bucket exactly as calendar_bucket_col does (a
    # future oracle edit must not silently reintroduce the truncating
    # `//` divergence). Timestamps are microsecond-representable: -1 us
    # and exactly -1 day both belong to the 1969-12-31 bucket.
    con = duckdb.connect()
    us = d // 1000
    fixture_us = [(-1, 1.0), (-us, 2.0), (0, 4.0), (us - 1, 8.0), (us, 16.0)]
    con.execute(
        "CREATE TABLE events AS SELECT make_timestamp(t) AS ts, "
        "'click' AS event_type, 1 AS user_id, '{}' AS props, v AS value "
        "FROM (VALUES "
        + ", ".join(f"({t}, {v})" for t, v in fixture_us)
        + ") AS x(t, v)"
    )
    oracle = {
        (r[1], r[2]): (r[3], r[4])  # (start_ts, end_ts) -> (value, len)
        for r in con.execute(
            events_calendar_sql("sum", "app.click", "user", "*", "day")
        ).fetchall()
    }
    assert oracle == {
        (-d, -1000): (3.0, 2),  # 1969-12-31: -1 day and -1 us together
        (0, d - 1000): (12.0, 2),  # 1970-01-01
        (d, d): (16.0, 1),  # 1970-01-02
    }
    # engine partitions the same instants identically (ns-side)
    eng = {
        r["ts"]: r["b"]
        for r in spark.createDataFrame(
            [(t * 1000,) for t, _ in fixture_us], "ts long"
        )
        .select("ts", calendar_bucket_col("day").alias("b"))
        .collect()
    }
    assert eng == {-1000: -1, -d: -1, 0: 0, d - 1000: 0, d: 1}


def test_bucket_middle():
    from talna_spark.aggregate import Bucket

    assert Bucket(start=0, end=10, value=0.0, len=1).middle() == 5
    assert Bucket(start=5, end=6, value=0.0, len=1).middle() == 5


def test_write_fanout_heuristic():
    from talna_spark.ingest import _ROWS_PER_WRITE_TASK, write_fanout

    # micro-batches keep the small-floor fan-out (parallel dir writes)
    assert write_fanout(0, 32) == 16
    assert write_fanout(100_000, 32) == 16
    # the floor never exceeds the cluster's parallelism
    assert write_fanout(100_000, 4) == 4
    assert write_fanout(100_000, 0) == 1
    # large batches scale by the per-task row target (ceil division)
    assert write_fanout(_ROWS_PER_WRITE_TASK * 100, 32) == 100
    assert write_fanout(_ROWS_PER_WRITE_TASK * 100 + 1, 32) == 101


@pytest.mark.parametrize(
    "op, call",
    [
        ("compact", lambda db, pts: db.compact()),
        ("stats", lambda db, pts: db.stats()),
        ("expire", lambda db, pts: db.expire(0)),
        ("build_rollup", lambda db, pts: db.build_rollup(1000)),
        ("refresh_rollup", lambda db, pts: db.refresh_rollup(1000)),
        ("write_batch", lambda db, pts: db.write_batch(pts)),
    ],
)
def test_warehouse_ops_reject_view_backend(spark, op, call):
    """Maintenance and ingest need a warehouse: on a view-backed
    Database each raises a typed error naming the operation."""
    from talna_spark.errors import InvalidQueryError

    pts = make_points(spark, F2_ROWS)
    db = Database.from_points(spark, pts)
    with pytest.raises(
        InvalidQueryError, match=f"^{op} requires a warehouse-backed Database$"
    ):
        call(db, pts)


def test_expire_drops_old_days_everywhere(spark, tmp_path):
    """Retention is day-granular, consistent across facts and rollups."""
    from talna_spark.duration import Duration
    from tests.conftest import make_points

    D = Duration.DAY
    rows = [("m", d * D + 1000, float(d), {"h": "a"}) for d in range(5)]
    db = Database.open(spark, str(tmp_path / "wh"))
    db.write_batch(make_points(spark, rows))
    db.build_rollup(Duration.HOUR)
    # cutoff inside day 2: days 0 and 1 expire; day 2 (the cutoff's own
    # day) is retained
    n = db.expire(2 * D + 500)
    assert n == 4  # 2 days x (points + rollup)
    res = db.count("m", "h").granularity(D).collect()
    assert sorted(b.start for b in res["a"]) == [d * D + 1000 for d in (2, 3, 4)]
    # rollup-path query (granularity = multiple of rollup width, no bounds)
    # must agree — expired days were dropped from the rollup too
    res2 = db.sum("m", "h").granularity(D).collect()
    assert sorted(b.value for b in res2["a"]) == [2.0, 3.0, 4.0]


def test_lww_same_instant_batches_order_by_arrival(spark, tmp_path, monkeypatch):
    # two batches whose wall clock reads the SAME nanosecond must still
    # order by arrival: the per-warehouse _SEQ file makes ingest_seq
    # strictly monotonic (max(last+1, now)), so compaction's
    # last-writer-wins picks the second batch even when its value is
    # SMALLER (a value tie-break would pick the first here)
    import time as _time

    import talna_spark.ingest as ingest_mod
    from talna_spark.database import Database
    from talna_spark.maintenance import compact
    from tests.conftest import make_points

    frozen = _time.time_ns()
    monkeypatch.setattr(_time, "time_ns", lambda: frozen)

    wh = str(tmp_path / "wh_lww")
    db = Database.open(spark, wh)
    db.write_batch(make_points(spark, [("m", 1000, 9.0, {"h": "a"})]))
    db.write_batch(make_points(spark, [("m", 1000, 2.0, {"h": "a"})]))
    compact(spark, wh)
    db = Database.open(spark, wh)
    res = db.max("m", "h").granularity(None).collect()
    assert res["a"][0].value == 2.0  # arrival order, not max value


def test_next_ingest_seq_strictly_monotonic_under_frozen_clock(tmp_path, monkeypatch):
    import time as _time

    import talna_spark.ingest as ingest_mod

    frozen = 1_700_000_000_000_000_000
    monkeypatch.setattr(_time, "time_ns", lambda: frozen)
    wh = str(tmp_path / "wh_seq")
    a = ingest_mod.next_ingest_seq(wh)
    b = ingest_mod.next_ingest_seq(wh)
    c = ingest_mod.next_ingest_seq(wh)
    assert a == frozen and b == a + 1 and c == b + 1


def test_plan_cache_reuses_and_invalidates(spark, tmp_path):
    """to_df() with an identical builder signature returns the SAME
    prepared Dataset (the sub-100ms repeat-query path); any data-mutating
    facade call drops the cache so repeat queries see the new generation."""
    from tests.conftest import make_points

    wh = str(tmp_path / "wh_cache")
    db = Database.open(spark, wh)
    db.write_batch(make_points(spark, [("m", 1000, 1.0, {"h": "a"})]))

    def q():
        return db.avg("m", "h").filter("h:a").start(0).to_df()

    d1, d2 = q(), q()
    assert d1 is d2  # cache hit: same prepared Dataset object
    # a different signature must NOT alias the cached plan
    assert db.avg("m", "h").filter("h:*").start(0).to_df() is not d1
    assert db.sum("m", "h").filter("h:a").start(0).to_df() is not d1

    db.write_batch(make_points(spark, [("m", 2000, 3.0, {"h": "a"})]))
    d3 = q()
    assert d3 is not d1  # invalidated by the write
    [b] = db.avg("m", "h").filter("h:a").collect()["a"]
    assert (b.value, b.len) == (2.0, 2)  # and the fresh plan sees both points

    # rollup build also invalidates (cached raw-scan plan would skip the
    # rewrite; a cached rollup plan would hold a stale file index)
    from talna_spark.duration import Duration

    db.build_rollup(Duration.HOUR)
    assert q() is not d3


def test_next_ingest_seq_unique_under_concurrency(tmp_path):
    """The flocked read-modify-write never mints duplicate sequences
    across concurrent same-host writers (ADVICE r4: the unlocked RMW
    could, silently reintroducing undefined LWW order)."""
    import concurrent.futures

    import talna_spark.ingest as ingest_mod

    wh = str(tmp_path / "wh_conc")
    with concurrent.futures.ThreadPoolExecutor(16) as ex:
        seqs = list(ex.map(lambda _: ingest_mod.next_ingest_seq(wh), range(200)))
    assert len(set(seqs)) == 200
    assert seqs and max(seqs) >= min(seqs) + 199  # strictly increasing overall
