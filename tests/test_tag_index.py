"""Warehouse series selection and compaction. Series are selected by
one predicate over the series dim (the reference's inverted-index role,
src/query/filter.rs:92-139); on a compacted warehouse it must match the
DuckDB oracle over the raw events for every DSL shape, and appends after
compaction must be visible without another compaction."""

from __future__ import annotations

import shutil
import tempfile

import duckdb
import pytest

from talna_spark.database import Database
from talna_spark.oracle import events_query_sql
from talna_spark.sources.events import points_from_events

SF = "/root/testdata/sf0.001"

FILTERS = [
    "*",
    "user:3",
    "k:1*",
    "k:*",
    "!user:3",
    "!hi:yes",                      # NOT over a sometimes-missing tag
    "user:3 AND k:1*",
    "k:12 OR k:13",
    "user:3 AND k:1* OR user:4 AND k:2*",
    "user:[1, 2, 3]",
    "!(user:3 OR user:4)",
    "user:3 AND nosuch:tag",        # empty
    "!hi:no",                       # NOT of a value no series has
    "hi:y*",                        # prefix on a sometimes-missing tag
    "hi:*",                         # key exists on a sometimes-missing tag
    "!(user:3 AND k:1*) AND (k:1* OR hi:yes)",
    "user:3 AND !(k:1* OR !hi:*)",
    "(user:3 OR user:4) AND !(k:12 OR k:13)",
]


@pytest.fixture(scope="module")
def warehouse(spark):
    wh = tempfile.mkdtemp(prefix="talna_tidx_wh_")
    pts = points_from_events(spark, SF)
    db = Database.open(spark, wh)
    db.write_batch(pts)
    db.compact()
    yield wh
    shutil.rmtree(wh, ignore_errors=True)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')")
    yield con
    con.close()


def _result_key(df):
    return sorted(
        (r["grp"], r["start_ts"], r["end_ts"], round(r["value"], 9), r["len"])
        for r in df.collect()
    )


@pytest.mark.parametrize("flt", FILTERS)
def test_index_path_equals_dim_path(spark, warehouse, duck, flt):
    """The compacted warehouse's series selection (the index's role,
    played by the dim predicate) equals the DuckDB oracle."""
    db = Database.open(spark, warehouse)
    got = _result_key(db.avg("app.purchase", "user").filter(flt).to_df())
    want = sorted(
        duck.sql(
            events_query_sql("avg", "app.purchase", "user", flt, round_value=False)
        ).fetchall()
    )
    assert [g[:3] + g[4:] for g in got] == [w[:3] + w[4:] for w in want]
    assert [g[3] for g in got] == pytest.approx([w[3] for w in want], rel=1e-9)


def test_compact_bounds_series_dim(spark, warehouse):
    import glob

    # after compaction the series dim is bounded: at most one file per
    # metric partition (parallel rewrite, no single-task coalesce) and
    # exactly one row per live series
    files = glob.glob(f"{warehouse}/series/*.parquet")
    dim = spark.read.parquet(f"{warehouse}/series")
    n_metrics = dim.select("metric").distinct().count()
    assert 1 <= len(files) <= n_metrics
    assert dim.count() == dim.select("series_id").distinct().count()


def test_ts_day_is_session_timezone_proof(spark):
    """ts_day partition values and pruning bounds must both be UTC days:
    with a non-UTC session timezone, a near-midnight point must neither
    change partitions nor be pruned out of a bounded query."""
    from talna_spark.schema import POINTS_SCHEMA

    wh = tempfile.mkdtemp(prefix="talna_tz_wh_")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Pacific/Auckland")  # UTC+12/13
        db = Database.open(spark, wh)
        ts = 1_704_153_540 * 10**9  # 2024-01-01T23:59:00Z
        db.write_batch(
            spark.createDataFrame([("m", ts, 1.0, {"h": "a"})], POINTS_SCHEMA)
        )
        import glob

        days = sorted(
            p.split("ts_day=")[1]
            for p in glob.glob(f"{wh}/points/metric=m/ts_day=*")
        )
        assert days == ["2024-01-01"], f"partition rendered in session tz: {days}"
        res = db.count("m", "h").start(ts - 10**9).end(ts + 10**9).collect()
        assert res["a"][0].len == 1, "near-midnight point pruned away"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        shutil.rmtree(wh, ignore_errors=True)


def test_append_after_compact_is_visible(spark):
    """Points appended after compact() (on a new series and on an
    existing one) are visible to the next query, from the same facade
    and from a reopened one, with no new compaction."""
    from talna_spark.schema import POINTS_SCHEMA

    wh = tempfile.mkdtemp(prefix="talna_append_wh_")
    try:
        db = Database.open(spark, wh)
        db.write_batch(points_from_events(spark, SF))
        db.compact()
        q = lambda d: d.count("app.purchase", "user").filter("k:1*").granularity(None)
        before = {g: b[0].len for g, b in q(db).collect().items()}
        db.write_batch(
            spark.createDataFrame(
                [
                    ("app.purchase", 1_000, 5.0, {"user": "999999", "k": "10"}),
                    ("app.purchase", 2_000, 5.0, {"user": "999999", "k": "10"}),
                ],
                POINTS_SCHEMA,
            )
        )
        for d in (db, Database.open(spark, wh)):
            after = {g: b[0].len for g, b in q(d).collect().items()}
            assert after == {**before, "999999": 2}
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def test_duplicate_key_last_writer_wins_at_compaction(spark):
    """Reference LSM semantics: inserting the same (series, ts) key again
    replaces the value (src/db.rs:342-343). Realized at compaction —
    between compactions both versions are visible (documented)."""
    from talna_spark.schema import POINTS_SCHEMA

    wh = tempfile.mkdtemp(prefix="talna_lww_wh_")
    try:
        db = Database.open(spark, wh)
        mk = lambda v: spark.createDataFrame(
            [("m", 1_000, float(v), {"h": "a"})], POINTS_SCHEMA
        )
        db.write_batch(mk(1.0))
        db.write_batch(mk(9.0))  # same (series, ts), later batch
        pre = db.count("m", "h").collect()["a"][0]
        assert pre.len == 2  # both visible pre-compaction
        db.compact()
        db2 = Database.open(spark, wh)
        post = db2.avg("m", "h").collect()["a"][0]
        assert post.len == 1
        assert post.value == 9.0  # the newer batch's value survived
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def test_compact_facts_preserves_data_and_results(spark):
    """compact_facts rewrites every point exactly once and leaves query
    results unchanged (it only reclusters the physical layout)."""
    wh = tempfile.mkdtemp(prefix="talna_cfacts_wh_")
    try:
        pts = points_from_events(spark, "/root/testdata/sf0.001")
        db = Database.open(spark, wh)
        db.write_batch(pts)
        n_before = db._backend and spark.read.parquet(f"{wh}/points").count()
        before = _result_key(db.avg("app.purchase", "user").filter("k:1*").to_df())
        from talna_spark.maintenance import compact_facts

        compact_facts(spark, wh)
        db2 = Database.open(spark, wh)
        assert spark.read.parquet(f"{wh}/points").count() == n_before
        after = _result_key(db2.avg("app.purchase", "user").filter("k:1*").to_df())
        assert before == after
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def test_reference_term_prefix_false_positive_adjudication(spark):
    """r16 audit, sharpening the r15 SeriesKey non-injectivity family
    onto the QUERY INDEX: the reference materializes postings under the
    string term ``{metric}#{key}:{value}`` (tag_index.rs:55-57/93-101)
    and evaluates wildcards with a raw PREFIX SCAN over those strings
    (query_prefix, tag_index.rs:122-146). Tag keys are never
    charset-validated (tagset! is a plain map), so a written key
    containing ':' — e.g. key 'env:prod', value 'x', term
    'm#env:prod:x' — is matched by the prefix of an UNRELATED key's
    wildcard: `env:*` scans prefix 'm#env:' and `env:p*` scans
    'm#env:p', both of which that term starts with. The reference
    returns the series for a filter on a tag key it does not have
    (upstream tests use clean keys only — zero coverage). This engine
    is immune by construction: series selection reads the tags MAP, so
    key equality is exact. A literal port of the reference's term
    format + prefix scan demonstrates the false positive; the engine
    returns only the true match."""
    wh = tempfile.mkdtemp(prefix="talna_tidx_fp_wh_")
    try:
        db = Database.open(spark, wh)
        db.write_at("m", 1_000, 1.0, {"env": "prod"})          # true match
        db.write_at("m", 2_000, 2.0, {"env:prod": "x"})        # collider
        db.compact()

        # literal port of TagIndex::index term formatting (format_key,
        # tag_index.rs:93-101) + query_prefix's raw string prefix scan
        def ref_terms(metric, tags, sid):
            return [(f"{metric}#{k}:{v}", sid) for k, v in tags.items()]

        terms = ref_terms("m", {"env": "prod"}, 0) + ref_terms(
            "m", {"env:prod": "x"}, 1
        )
        for prefix in ("m#env:", "m#env:p"):  # env:* and env:p* scans
            hits = sorted(sid for t, sid in terms if t.startswith(prefix))
            assert hits == [0, 1]  # the reference matches BOTH series

        # engine: only the series that HAS key 'env'
        dbq = Database.open(spark, wh)
        for flt in ("env:*", "env:p*"):
            res = dbq.sum("m", "env").filter(flt).granularity(None).collect()
            assert list(res) == ["prod"], flt
            assert res["prod"][0].value == 1.0
    finally:
        shutil.rmtree(wh, ignore_errors=True)
