"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Inventory: the SURVEY.md §2.3 declared queries Q01-Q20, expressed over the
driver testdata ``events`` table mapped to the points model (FIXTURES.md
F8). Oracle SQL is GENERATED from the same filter AST and tag mapping the
Spark path executes (talna_spark.oracle), so the two sides cannot drift.
Greedy-mode queries (Q17, Q18) are the reference's sequential bucketing —
not SQL-expressible over the raw table — so their oracle is a VALUES table
of expected rows computed by the literal port of the reference loop
(oracle.greedy_events_values_sql), giving them full hash-checked rows.

The driver checks at most 50 queries per round; same-category queries are
consolidated into single UNION ALL registrations tagged by a ``kind``
column (see _UNION_SPEC) so every registration gets a CORRECTNESS row.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talna_spark import Database, Duration
from talna_spark.aggregate import round6
from talna_spark.oracle import events_query_sql

MIN = Duration.MINUTE
HOUR = Duration.HOUR
DAY = Duration.DAY

# Absolute ns bounds inside the events time range (2024-01-01 .. 2024-01-31).
T_JAN10 = 1_704_844_800 * 10**9
T_JAN20 = 1_705_708_800 * 10**9
T_JAN24 = 1_706_054_400 * 10**9

# name -> (kind, metric, group_by, filter, start, end, granularity, mode)
_SPEC: dict[str, tuple] = {
    # Q01-Q05: the five aggregations, AllStar filter (reference agg tests).
    # Same-schema queries are consolidated into single registrations (a
    # UNION ALL with a `kind` tag column) — the driver checks at most 50
    # queries per round, and every registered query must get a
    # CORRECTNESS row. r6 folds count into q01 and the whole filter-DSL
    # family (NOT/precedence/set) into q06, freeing slots for the
    # histogram / URL / domain / incremental-dedup rows.
    # Q16: the benchmark-shaped query (billion/src/main.rs:123-137 analog)
    "q16_bench": ("avg", "app.purchase", "user", "user:9 OR user:8", T_JAN24, None, MIN, "aligned"),
    # Q17-Q18: reference-faithful greedy bucketing (VALUES-table oracle).
    # q17 runs BOTH physical paths — the single-task scan and the
    # two-level parallel `greedy_slices` form — as `kind` slices against
    # the same expected rows, driver-checking their bit-identity.
    "q17_greedy_avg": ("avg", "app.purchase", "user", "*", None, None, MIN, "greedy"),
    "q18_greedy_sum": ("sum", "app.purchase", "user", "hi:yes", T_JAN10, T_JAN20, 5 * MIN, "greedy"),
    # Q26: time-weighted average (step interpolation; zero-weight buckets dropped)
    "q26_twa": ("twa", "app.purchase", "etype", "*", None, None, 6 * HOUR, "aligned"),
    # Q29 (multi-tag group-by) is registered below as a custom union:
    # kind=multi (the plain composed-key grouping) + kind=cube (r6
    # grouping-sets subtotals).
    # Q35: gauge delta — net change across each bucket (struct extrema)
    "q35_delta": ("delta", "app.purchase", "user", "*", None, None, DAY, "aligned"),
}

_METHOD_ALIASES = {"twa": "time_weighted_avg"}

# Consolidated registrations: several _SPEC-shaped parts UNION ALLed with a
# `kind` tag column on both engine and oracle sides. One registration = one
# driver CORRECTNESS row covering every part (50-row driver cap).
_UNION_SPEC: dict[str, list[tuple[str, tuple]]] = {
    # Q01+Q02+Q05: avg / sum / count (reference agg tests src/db.rs:984,
    # 890; count src/db.rs). r6 folds the former q05_count row in.
    "q01_avg_sum": [
        ("avg", ("avg", "app.purchase", "user", "*", None, None, MIN, "aligned")),
        ("sum", ("sum", "app.purchase", "user", "*", None, None, 5 * MIN, "aligned")),
        ("count", ("count", "app.view", "user", "*", None, None, DAY, "aligned")),
    ],
    # Q03+Q04: min / max (reference agg tests src/db.rs:796, 702)
    "q03_minmax": [
        ("min", ("min", "app.click", "user", "*", None, None, HOUR, "aligned")),
        ("max", ("max", "app.click", "user", "*", None, None, HOUR, "aligned")),
    ],
    # Q06-Q12 filter DSL family: AND / OR (README.md:96-104, 121), NOT,
    # precedence nesting (NOT>AND>OR), Set syntax — r6 folds the former
    # q08_not / q11_precedence / q12_set rows in as kind slices.
    "q06_andor": [
        ("and", ("avg", "app.purchase", "user", "hi:yes AND user:3", None, None, HOUR, "aligned")),
        ("or", ("avg", "app.purchase", "user", "k:12 OR k:13", None, None, HOUR, "aligned")),
        ("not", ("count", "app.click", "user", "!hi:yes", None, None, HOUR, "aligned")),
        ("precedence", (
            "avg", "app.purchase", "user",
            "user:3 AND k:1* OR user:4 AND k:2*", None, None, HOUR, "aligned",
        )),
        ("set", ("avg", "app.purchase", "user", "user:[1, 2, 3]", None, None, HOUR, "aligned")),
    ],
    # Q09+Q10: wildcard prefix / key-exists (src/db.rs:1098-1135)
    "q09_wildcard_exists": [
        ("wildcard", ("count", "app.signup", "user", "k:1*", None, None, HOUR, "aligned")),
        ("exists", ("count", "app.error", "user", "hi:*", None, None, HOUR, "aligned")),
    ],
    # Q13-Q15: inclusive start / end / both bounds, single unbounded bucket
    # (src/db.rs:476-542; inclusivity src/agg/builder.rs:106-113)
    "q13_bounds": [
        ("start", ("count", "app.click", "user", "*", T_JAN10, None, None, "aligned")),
        ("end", ("count", "app.click", "user", "*", None, T_JAN20, None, "aligned")),
        ("range", ("count", "app.click", "user", "*", T_JAN10, T_JAN20, None, "aligned")),
    ],
    # Q22+Q30: the per-series derivative family — rate of change / PromQL
    # increase() with counter-reset handling (consolidated to free driver
    # slots for q39/q40 under the 50-row cap)
    "q22_rate_increase": [
        ("rate", ("rate", "app.click", "etype", "*", None, None, 6 * HOUR, "aligned")),
        ("increase", ("increase", "app.view", "etype", "*", None, None, 6 * HOUR, "aligned")),
    ],
    # Q23+Q28: bucket cardinality (exact distinct contributing series) +
    # snapshot (value at max ts per group per bucket)
    "q23_distinct_latest": [
        ("distinct", ("distinct_series", "app.view", "etype", "*", None, None, DAY, "aligned")),
        ("latest", ("latest", "app.error", "user", "*", None, None, DAY, "aligned")),
    ],
    # Q19+Q20: missing-group-tag drop (src/agg/builder.rs:120-122) +
    # empty-selection -> empty result (src/db.rs:195-198); consolidated
    # to free the slot q41_curate occupies
    "q19_groupdrop_empty": [
        ("group_drop", ("avg", "app.view", "hi", "*", None, None, HOUR, "aligned")),
        ("empty", ("avg", "app.purchase", "user", "user:3 AND nosuch:tag", None, None, MIN, "aligned")),
    ],
}


def _make_union_query(parts: list) -> "Callable[[SparkSession, str], DataFrame]":
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        dfs = [
            _make_query(spec)(spark, sf_dir).withColumn("kind", F.lit(label))
            for label, spec in parts
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    return run


def _union_sql(parts: list) -> str:
    return " UNION ALL ".join(
        f"SELECT *, '{label}' AS kind FROM ("
        + events_query_sql(kind, metric, group_by, flt, start, end, gran)
        + ")"
        for label, (kind, metric, group_by, flt, start, end, gran, _m) in parts
    )


# ---------------------------------------------------------------------------
# LLM-pipeline extension operators (SURVEY.md §7 PR4 / BASELINE north star):
# dedup, similarity search, text analysis, multimodal columns.
# Each entry: (spark_builder, oracle_sql_or_None).
# ---------------------------------------------------------------------------
from talna_spark.pipeline import classifier as _classifier
from talna_spark.pipeline import dedup as _dedup
from talna_spark.pipeline import multimodal as _mm
from talna_spark.pipeline import sampling as _sampling
from talna_spark.pipeline import similarity as _sim
from talna_spark.pipeline import text as _text
from talna_spark.pipeline.packing import chunk_documents_sql as _chunk_sql
from talna_spark.pipeline.scan import read_documents

_EXT: dict[str, tuple] = {
    # x01 consolidates the four map-only text signals (token stats,
    # quality, lang-ID, fingerprint) as kind slices of one driver row —
    # freeing inventory slots for x21-x23 (defined below, like q42/x19).
    "x05_dedup_exact": (_dedup.exact_survivors, _dedup.exact_survivors_sql()),
    "x06_dedup_minhash_sig": (_dedup.minhash_signatures, _dedup.minhash_signatures_sql()),
    # x07 is defined below (full-width + b-bit banding kind slices, r13)
    # x08 is defined below (sig + Manku pigeonhole pairs kind slices, r10)
    "x09_dedup_ngram_jaccard": (_dedup.ngram_jaccard_pairs, _dedup.ngram_jaccard_pairs_sql()),
    "x14_dedup_clusters": (_dedup.dedup_clusters, _dedup.dedup_clusters_sql()),
    "x10_ann_bruteforce": (_sim.brute_force_topk, _sim.brute_force_topk_sql()),
    # x11_ann_ivf is defined below (ivf + pq kind slices, r5)
    # x12 is defined below: a union of two embedding-dedup operators as
    # kind slices (neardup nearest-neighbor + SemDeDup).
    "x13_multimodal_features": (_mm.extract_features, _mm.extract_features_sql()),
    "x20_split_assign": (_sampling.split_assign, _sampling.split_assign_sql()),
    "x15_neardup_survivors": (_dedup.neardup_survivors, _dedup.neardup_survivors_sql()),
    "x16_corpus_stats": (_text.corpus_stats, _text.corpus_stats_sql()),
    "x17_pii_scan": (_text.pii_scan, _text.pii_scan_sql()),
    "x18_token_freq": (_text.token_freq, _text.token_freq_sql()),
}


def _x08_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash registration, two `kind` slices on a normalized
    (doc_id, v1, v2, kind) schema: ``sig`` = the per-doc fingerprint
    (v1=simhash); ``pairs`` (r10) = Manku et al. 2007 near-dup pairs —
    pigeonhole band-join candidates verified by exact Hamming distance
    (doc_id=doc_a, v1=doc_b, v2=hamming)."""
    sig = _dedup.simhash(spark, sf_dir).select(
        "doc_id",
        F.col("simhash").cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
        F.lit("sig").alias("kind"),
    )
    pairs = _dedup.simhash_near_dup_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").cast("long").alias("v1"),
        F.col("hamming").cast("long").alias("v2"),
        F.lit("pairs").alias("kind"),
    )
    # ``winnow`` (r11): true Schleimer/MOSS winnowing fingerprints —
    # per-window min with the rightmost tie rule (doc_id, v1=pos,
    # v2=gram hash); the third fingerprint family next to simhash and
    # the single min-hash.
    from talna_spark.pipeline.text import winnow_fingerprints as _winnow

    win = _winnow(spark, sf_dir).select(
        "doc_id",
        F.col("pos").cast("long").alias("v1"),
        F.col("h").cast("long").alias("v2"),
        F.lit("winnow").alias("kind"),
    )
    return sig.unionByName(pairs).unionByName(win)


def _x08_simhash_sql() -> str:
    from talna_spark.pipeline.text import winnow_fingerprints_sql

    return (
        "SELECT doc_id, CAST(simhash AS BIGINT) AS v1, "
        "CAST(0 AS BIGINT) AS v2, 'sig' AS kind "
        f"FROM ({_dedup.simhash_sql()}) "
        "UNION ALL "
        "SELECT doc_a AS doc_id, CAST(doc_b AS BIGINT) AS v1, "
        "CAST(hamming AS BIGINT) AS v2, 'pairs' AS kind "
        f"FROM ({_dedup.simhash_near_dup_pairs_sql()}) "
        "UNION ALL "
        "SELECT doc_id, CAST(pos AS BIGINT) AS v1, "
        "CAST(h AS BIGINT) AS v2, 'winnow' AS kind "
        f"FROM ({winnow_fingerprints_sql()})"
    )


_EXT["x08_dedup_simhash"] = (_x08_simhash, _x08_simhash_sql())


def _q24_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 users by total purchase value (QueryBuilder.top: two-phase
    rank — SURVEY.md §2.2 'Sorts/limits/top-k', absent in the reference)."""
    return (
        Database.from_events(spark, sf_dir)
        .sum("app.purchase", "user")
        .granularity(None)
        .top(5)
    )


from talna_spark.oracle import events_gapfill_sql, events_topk_sql  # noqa: E402

_EXT["q24_topk"] = (_q24_topk, events_topk_sql("sum", "app.purchase", "user", "*", 5))


def _q25_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded daily count with zero-filled gaps (TimescaleDB-style
    time_bucket_gapfill — the reference emits only non-empty buckets).
    Zero mode keeps the oracle row set null-free: locf's leading empty
    buckets are NULL, which pandas renders NaN on the DuckDB side and the
    driver's value compare would flag; locf is covered by unit tests."""
    return (
        Database.from_events(spark, sf_dir)
        .count("app.signup", "k")
        .filter("k:1*")
        .start(T_JAN10)
        .end(T_JAN24)
        .granularity(DAY)
        .gapfill("zero")
        .to_df()
        .withColumn("value", round6("value"))
    )


def _q31_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 4-bucket moving average over 6h buckets (window-function
    category — absent in the reference, SURVEY.md §2.2)."""
    return (
        Database.from_events(spark, sf_dir)
        .avg("app.purchase", "user")
        .granularity(6 * HOUR)
        .rolling(4)
        .to_df()
        .withColumn("value", round6("value"))
    )


def _q32_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping windows: 2-day windows every day (overlap 2x) — sliding
    windows, absent in the reference."""
    return (
        Database.from_events(spark, sf_dir)
        .sum("app.click", "user")
        .sliding(2 * DAY, DAY)
        .withColumn("value", round6("value"))
    )


def _q33_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly scoring vs the trailing 4 buckets (the
    'how unusual is this bucket' detector; window category)."""
    return (
        Database.from_events(spark, sf_dir)
        .avg("app.purchase", "etype")
        .granularity(6 * HOUR)
        .zscore(4)
        .to_df()
        .filter(F.col("value").isNotNull())  # match oracle's NULL drop
        .withColumn("value", round6("value"))
    )


from talna_spark.oracle import (  # noqa: E402
    events_rolling_sql,
    events_sliding_sql,
    events_zscore_sql,
)

def _q44_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTC-calendar weekly buckets (ISO Monday weeks) — a bucketing no
    fixed-width granularity can express; months/quarters are the same
    code path with irregular lengths (unit-tested)."""
    return (
        Database.from_events(spark, sf_dir)
        .sum("app.click", "user")
        .calendar("week")
        .to_df()
        .withColumn("value", round6("value"))
    )


def _q31_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated window/bucket-materialization registration (driver
    50-row cap): trailing-k moving average + rolling z-score + zero-mode
    gapfill + calendar weekly buckets (r9) — all bucket-shaped outputs,
    tagged by `kind`. r5 folds the former q25_gapfill registration in
    here to free a slot for q42_signals."""
    r = _q31_rolling(spark, sf_dir).withColumn("kind", F.lit("rolling"))
    z = _q33_zscore(spark, sf_dir).withColumn("kind", F.lit("zscore"))
    g = _q25_gapfill(spark, sf_dir).withColumn("kind", F.lit("gapfill"))
    c = _q44_calendar(spark, sf_dir).withColumn("kind", F.lit("calendar"))
    return r.unionByName(z).unionByName(g).unionByName(c)


from talna_spark.oracle import events_calendar_sql  # noqa: E402

_EXT["q31_rolling_zscore"] = (
    _q31_rolling_zscore,
    "SELECT *, 'rolling' AS kind FROM ("
    + events_rolling_sql("avg", "app.purchase", "user", "*", 6 * HOUR, 4)
    + ") UNION ALL SELECT *, 'zscore' AS kind FROM ("
    + events_zscore_sql("avg", "app.purchase", "etype", "*", 6 * HOUR, 4)
    + ") UNION ALL SELECT *, 'gapfill' AS kind FROM ("
    + events_gapfill_sql(
        "count", "app.signup", "k", "k:1*", T_JAN10, T_JAN24, DAY, "zero"
    )
    + ") UNION ALL SELECT *, 'calendar' AS kind FROM ("
    + events_calendar_sql("sum", "app.click", "user", "*", "week")
    + ")",
)


def _q34_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket sample stddev (extension aggregate). Single-point
    buckets are NULL on both engines and dropped identically (driver
    NULL-vs-NaN compare gotcha, as for q33)."""
    return (
        Database.from_events(spark, sf_dir)
        .stddev("app.error", "user")
        .granularity(DAY)
        .to_df()
        .filter(F.col("value").isNotNull())
        .withColumn("value", round6("value"))
    )


_VP_SPEC = ("count", "app.purchase", "user", "*", None, None, HOUR, ">=", 50.0)


def _q21_p95_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated statistics registration (driver 50-row cap): exact
    interpolated p95 + per-bucket sample stddev + (r6) the row-level
    VALUE predicate (`where_value` — §2.2 notes the reference has no
    row-level value predicate anywhere), tagged by `kind`."""
    p = _make_query(
        ("p95", "app.purchase", "user", "*", None, None, HOUR, "aligned")
    )(spark, sf_dir).withColumn("kind", F.lit("p95"))
    s = _q34_stddev(spark, sf_dir).withColumn("kind", F.lit("stddev"))
    k, metric, grp, flt, st, en, gran, op, x = _VP_SPEC
    v = (
        getattr(Database.from_events(spark, sf_dir), k)(metric, grp)
        .filter(flt)
        .granularity(gran)
        .where_value(op, x)
        .to_df()
        .withColumn("value", round6("value"))
        .withColumn("kind", F.lit("valuepred"))
    )
    return p.unionByName(s).unionByName(v)


_EXT["q21_p95_stddev"] = (
    _q21_p95_stddev,
    "SELECT *, 'p95' AS kind FROM ("
    + events_query_sql("p95", "app.purchase", "user", "*", None, None, HOUR)
    + ") UNION ALL SELECT *, 'stddev' AS kind FROM ("
    + events_query_sql("stddev", "app.error", "user", "*", None, None, DAY)
    + ") WHERE value IS NOT NULL "
    + "UNION ALL SELECT *, 'valuepred' AS kind FROM ("
    + events_query_sql(
        _VP_SPEC[0], _VP_SPEC[1], _VP_SPEC[2], _VP_SPEC[3],
        _VP_SPEC[4], _VP_SPEC[5], _VP_SPEC[6],
        value_pred=(_VP_SPEC[7], _VP_SPEC[8]),
    )
    + ")",
)


_Q29_SPEC = ("avg", "app.purchase", ("user", "hi"), "*", None, None, 6 * HOUR)


def _q29_multigroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-tag group-by (Datadog-style `by {user,hi}`; the reference
    groups by exactly one tag) — composed group "user:V,hi:W"; series
    lacking ANY group tag are dropped (O25 generalized). r6 adds the
    `cube` kind: grouping-sets subtotals over every subset of the group
    tags (rolled-up slots as `k:*`), one Expand-style explode + a single
    hash aggregate — vs DuckDB's NATIVE CUBE + GROUPING() oracle."""
    kind, metric, grp, flt, st, en, gran = _Q29_SPEC
    multi = _make_query((kind, metric, grp, flt, st, en, gran, "aligned"))(
        spark, sf_dir
    ).withColumn("kind", F.lit("multi"))

    def sets(method: str, label: str) -> DataFrame:
        b = (
            getattr(Database.from_events(spark, sf_dir), kind)(metric, grp)
            .filter(flt)
            .granularity(gran)
        )
        return (
            getattr(b, method)()
            .to_df()
            .withColumn("value", round6("value"))
            .withColumn("kind", F.lit(label))
        )

    return (
        multi.unionByName(sets("cube", "cube"))
        .unionByName(sets("rollup_sets", "rollup"))
    )


from talna_spark.oracle import events_cube_sql  # noqa: E402

_EXT["q29_multigroup"] = (
    _q29_multigroup,
    "SELECT *, 'multi' AS kind FROM ("
    + events_query_sql(*_Q29_SPEC)
    + ") UNION ALL SELECT *, 'cube' AS kind FROM ("
    + events_cube_sql(*_Q29_SPEC)
    + ") UNION ALL SELECT *, 'rollup' AS kind FROM ("
    + events_cube_sql(*_Q29_SPEC, sets="rollup")
    + ")",
)

_EXT["q32_sliding"] = (
    _q32_sliding,
    events_sliding_sql("sum", "app.click", "user", "*", 2 * DAY, DAY),
)


def _q27_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-flavored revenue by returnflag over the lineitem view
    adapter (sources.lineitem) — the engine over a second real table."""
    from talna_spark.sources.lineitem import METRIC, points_from_lineitem

    db = Database.from_points(spark, points_from_lineitem(spark, sf_dir))
    return (
        db.sum(METRIC, "rf")
        .granularity(90 * DAY)
        .to_df()
        .withColumn("value", round6("value"))
    )


from talna_spark.sources.lineitem import revenue_by_returnflag_sql  # noqa: E402

_EXT["q27_lineitem_revenue"] = (_q27_lineitem, revenue_by_returnflag_sql(90 * DAY))


def _q37_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: avg click value per (user, session), sessions
    closed by a >30 min silence — gap-based data-driven windows (the batch
    cousin of streaming session_window; absent in the reference)."""
    return (
        Database.from_events(spark, sf_dir)
        .avg("app.click", "user")
        .sessions(30 * MIN)
        .withColumn("value", round6("value"))
    )


from talna_spark.oracle import events_sessions_sql  # noqa: E402

_EXT["q37_sessions"] = (
    _q37_sessions,
    events_sessions_sql("avg", "app.click", "user", "*", 30 * MIN),
)


_IVAL_W = 6 * HOUR  # interval length for the q38 interval slice


def _q38_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series join registration, two `kind` slices (r6 adds the
    second):

    - ``asof``: each click aligned with the user's most recent purchase
      at or before it (union-window algorithm, talna_spark.asof). The
      oracle is DuckDB's NATIVE ASOF JOIN — two different algorithms,
      one answer.
    - ``interval``: range-containment join (talna_spark.asof
      .interval_join, bucketized equality-join plan) — each click
      paired with every purchase interval [ts, ts + 6 h] of the
      same user containing it; the oracle is DuckDB's plain inequality
      range join, again an independent algorithm."""
    from talna_spark.asof import asof_join, interval_join
    from talna_spark.sources.events import points_from_events

    pts = points_from_events(spark, sf_dir)
    u = F.col("tags").getItem("user")

    def side(metric: str) -> DataFrame:
        return pts.filter((F.col("metric") == metric) & u.isNotNull()).select(
            u.alias("key"), "ts", "value"
        )

    out = asof_join(side("app.click"), side("app.purchase"))
    asof = out.select(
        F.col("key").alias("user"),
        "ts",
        round6("value").alias("click_value"),
        F.col("right_ts").alias("purchase_ts"),
        round6("right_value").alias("purchase_value"),
        F.lit("asof").alias("kind"),
    )
    ivs = side("app.purchase").select(
        "key",
        F.col("ts").alias("start"),
        (F.col("ts") + F.lit(_IVAL_W)).alias("end"),
        F.col("value").alias("ival"),
    )
    ij = interval_join(side("app.click"), ivs, bucket_width_ns=_IVAL_W)
    interval = ij.select(
        F.col("key").alias("user"),
        "ts",
        round6("value").alias("click_value"),
        F.col("start").alias("purchase_ts"),
        round6("ival").alias("purchase_value"),
        F.lit("interval").alias("kind"),
    )
    return asof.unionByName(interval)


from talna_spark.oracle import _PTS_CTE as _PTS  # noqa: E402

_EXT["q38_asof"] = (
    _q38_asof,
    f"{_PTS}, "
    "l AS (SELECT tag_user AS k, ts, value FROM pts "
    "WHERE metric = 'app.click' AND tag_user IS NOT NULL), "
    "r AS (SELECT tag_user AS k, ts, MAX(value) AS rv FROM pts "
    "WHERE metric = 'app.purchase' AND tag_user IS NOT NULL "
    "GROUP BY tag_user, ts), "
    "ri AS (SELECT tag_user AS k, ts, value FROM pts "
    "WHERE metric = 'app.purchase' AND tag_user IS NOT NULL) "
    "SELECT l.k AS \"user\", l.ts AS ts, (ROUND(l.value, 6) + 0) AS click_value, "
    "r.ts AS purchase_ts, (ROUND(r.rv, 6) + 0) AS purchase_value, "
    "'asof' AS kind "
    "FROM l ASOF JOIN r ON l.k = r.k AND l.ts >= r.ts "
    "UNION ALL "
    "SELECT l.k AS \"user\", l.ts AS ts, (ROUND(l.value, 6) + 0) AS click_value, "
    "ri.ts AS purchase_ts, (ROUND(ri.value, 6) + 0) AS purchase_value, "
    "'interval' AS kind "
    "FROM l JOIN ri ON l.k = ri.k "
    f"AND l.ts >= ri.ts AND l.ts <= ri.ts + {_IVAL_W}",
)


_Q36_TIX_FILTER = "user:3 AND k:1* OR user:4 AND !k:2*"


def _q36_warehouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-path registration, two `kind` slices over one ingested +
    compacted /tmp warehouse:

    - ``rollup``: query that provably rewrites onto a materialized 1h
      rollup (talna_spark.rollup) — the 6h-granularity avg reads rollup
      partials instead of raw points (pick_rollup admits it: aligned avg,
      G % W == 0, no bounds). Admission is checked with a raise (an
      assert would vanish under ``python -O`` and silently test the raw
      path).
    - ``tagindex``: an AND / OR / NOT / wildcard filter over the
      compacted warehouse, its series selected by the dim predicate
      (the reference's inverted-index role, src/tag_index.rs:103-146)
      through a full query lifecycle.

    Both oracles are the SAME SQL as their ViewBackend twins — the
    warehouse round-trip, compaction, rollup rewrite and series
    selection must all be exact."""
    import os
    import shutil

    from talna_spark.maintenance import compact
    from talna_spark.rollup import pick_rollup
    from talna_spark.sources.events import points_from_events

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    wh = f"/tmp/talna_q36_v2_{tag}"
    marker = os.path.join(wh, "_Q36_READY")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        db = Database.open(spark, wh)
        db.write_batch(
            points_from_events(spark, sf_dir).select(
                "metric", "ts", "value", "tags"
            )
        )
        # compact BEFORE build_rollup: fact compaction invalidates rollups
        # (LWW dedup can change the visible multiset)
        compact(spark, wh)
        db.build_rollup(HOUR)
        with open(marker, "w") as f:
            f.write("ok")
    db = Database.open(spark, wh)
    if pick_rollup(wh, "avg", "aligned", 6 * HOUR, None, None) != HOUR:
        raise RuntimeError(
            "rollup rewrite not admissible — q36 would silently test the raw path"
        )
    roll = (
        db.avg("app.purchase", "user")
        .granularity(6 * HOUR)
        .to_df()
        .withColumn("value", round6("value"))
        .withColumn("kind", F.lit("rollup"))
    )
    tix = (
        db.avg("app.purchase", "user")
        .filter(_Q36_TIX_FILTER)
        .granularity(HOUR)
        .to_df()
        .withColumn("value", round6("value"))
        .withColumn("kind", F.lit("tagindex"))
    )
    return roll.unionByName(tix)


_EXT["q36_rollup_tagindex"] = (
    _q36_warehouse,
    "SELECT *, 'rollup' AS kind FROM ("
    + events_query_sql("avg", "app.purchase", "user", "*", None, None, 6 * HOUR)
    + ") UNION ALL SELECT *, 'tagindex' AS kind FROM ("
    + events_query_sql(
        "avg", "app.purchase", "user", _Q36_TIX_FILTER, None, None, HOUR
    )
    + ")",
)


from talna_spark.pipeline import relevance as _rel  # noqa: E402

# BM25 top-k lexical retrieval over documents (pipeline.relevance): the
# DuckDB twin recomputes the same integer-input scoring formula.
_EXT["q39_bm25"] = (_rel.bm25_topk, _rel.bm25_topk_sql())


def _q40_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style binary metric arithmetic (BinaryQueryBuilder): the
    error rate — count(app.error) / count(app.view) per user per day.
    Inner-join vector matching; a count denominator is never 0, so the
    div-NULL path stays out of the driver's NULL-vs-NaN compare."""
    return (
        Database.from_events(spark, sf_dir)
        .ratio("app.error", "app.view", "user", kind="count")
        .granularity(DAY)
        .to_df()
        .withColumn("value", round6("value"))
    )


from talna_spark.oracle import events_binary_sql  # noqa: E402

_EXT["q40_ratio"] = (
    _q40_ratio,
    events_binary_sql(
        "div", "count", "app.error", "app.view", "user", "*", None, None, DAY
    ),
)


def _q41_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation (pipeline.curate): quality gate ->
    exact dedup -> benchmark decontamination -> deterministic split,
    one auditable verdict row per document. The oracle composes the
    SAME generated stage SQL pieces."""
    from talna_spark.pipeline.curate import curate

    return curate(spark, sf_dir)


from talna_spark.pipeline.curate import curate_sql as _curate_sql  # noqa: E402

_EXT["q41_curate"] = (_q41_curate, _curate_sql())


def _q42_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-signal registration, three `kind` slices on a normalized
    (id, v1, v2, v3) schema (their natural schemas differ, and a driver
    row needs ONE union):

    - ``decontam``: benchmark decontamination scan (pipeline.decontam) —
      id=doc_id, v1=n_hits;
    - ``repetition``: Gopher-style boilerplate signals (pipeline.text) —
      id=doc_id, v1=dup_gram_frac, v2=top_word_share (r5's linear
      run-length form);
    - ``heavyhitters``: Misra-Gries sketch top-k (pipeline.text) —
      id=token, v1=exact count, v2=rank, v3=guaranteed flag. The sketch
      equals the exact top-k whenever candidates cover it; on the driver
      corpus the vocabulary is far below the slot count, so every token
      is a candidate and the oracle (exact SQL top-k + the pigeonhole
      floor) is deterministic.
    """
    from talna_spark.pipeline.decontam import contamination_scan
    from talna_spark.pipeline.text import repetition, token_heavy_hitters

    def norm(df, id_col, v1, v2, v3, kind):
        return df.select(
            F.col(id_col).cast("string").alias("id"),
            v1.cast("double").alias("v1"),
            v2.cast("double").alias("v2"),
            v3.cast("double").alias("v3"),
            F.lit(kind).alias("kind"),
        )

    dec = norm(
        contamination_scan(spark, sf_dir),
        "doc_id", F.col("n_hits"), F.lit(0.0), F.lit(0.0), "decontam",
    )
    rep = norm(
        repetition(spark, sf_dir),
        "doc_id", F.col("dup_gram_frac"), F.col("top_word_share"), F.lit(0.0),
        "repetition",
    )
    hh = norm(
        token_heavy_hitters(spark, sf_dir),
        "token", F.col("n"), F.col("rank"),
        F.col("guaranteed").cast("int"), "heavyhitters",
    )
    # `entropy` (r13): per-doc character Shannon entropy in integer
    # nano-bits (each (doc, char) term quantized BEFORE the sum — the
    # DSIR integer-unit discipline, so no double-summation-order
    # hazard) — id=doc_id, v1=n_chars, v2=distinct_chars,
    # v3=entropy_nanobits.
    from talna_spark.pipeline.text import char_entropy

    ent = norm(
        char_entropy(spark, sf_dir),
        "doc_id", F.col("n_chars"), F.col("distinct_chars"),
        F.col("entropy_nanobits"), "entropy",
    )
    return dec.unionByName(rep).unionByName(hh).unionByName(ent)


from talna_spark.pipeline.decontam import contamination_scan_sql as _dc_sql  # noqa: E402
from talna_spark.pipeline.portable import tokens_sql as _toks_sql  # noqa: E402
from talna_spark.pipeline.text import HH_SLOTS as _HH_SLOTS  # noqa: E402
from talna_spark.pipeline.text import TOKEN_TOP_K as _HH_K  # noqa: E402
from talna_spark.pipeline.text import char_entropy_sql as _entropy_sql  # noqa: E402
from talna_spark.pipeline.text import repetition_sql as _rep_sql  # noqa: E402


def _q42_signals_sql() -> str:
    hh = (
        f"WITH counts AS (SELECT token, COUNT(*) AS n FROM "
        f"(SELECT unnest({_toks_sql('text')}) AS token FROM documents) "
        f"GROUP BY token), "
        f"tot AS (SELECT SUM(n) AS total FROM counts), "
        f"ranked AS (SELECT token, n, "
        f"ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rank FROM counts) "
        f"SELECT token AS id, CAST(n AS DOUBLE) AS v1, "
        f"CAST(rank AS DOUBLE) AS v2, "
        f"CAST(CASE WHEN n * {_HH_SLOTS + 1} > total THEN 1 ELSE 0 END "
        f"AS DOUBLE) AS v3 "
        f"FROM ranked, tot WHERE rank <= {_HH_K}"
    )
    return (
        f"SELECT CAST(doc_id AS VARCHAR) AS id, CAST(n_hits AS DOUBLE) AS v1, "
        f"0.0 AS v2, 0.0 AS v3, 'decontam' AS kind FROM ({_dc_sql()}) "
        f"UNION ALL "
        f"SELECT CAST(doc_id AS VARCHAR) AS id, "
        f"CAST(dup_gram_frac AS DOUBLE) AS v1, "
        f"CAST(top_word_share AS DOUBLE) AS v2, 0.0 AS v3, "
        f"'repetition' AS kind FROM ({_rep_sql()}) "
        f"UNION ALL "
        f"SELECT id, v1, v2, v3, 'heavyhitters' AS kind FROM ({hh}) "
        f"UNION ALL "
        f"SELECT CAST(doc_id AS VARCHAR) AS id, "
        f"CAST(n_chars AS DOUBLE) AS v1, "
        f"CAST(distinct_chars AS DOUBLE) AS v2, "
        f"CAST(entropy_nanobits AS DOUBLE) AS v3, 'entropy' AS kind "
        f"FROM ({_entropy_sql()})"
    )


_EXT["q42_signals"] = (_q42_signals, _q42_signals_sql())


def _x19_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All twelve REAL dependency-free codec/parser/transform legs
    (pipeline.multimodal) as
    `kind` slices of one registration on a normalized schema — WAV (RIFF
    chunk walk + PCM), BMP (bottom-up padded rows), PNG (CRC'd chunks +
    zlib inflate + all five scanline filters), JPEG (baseline grayscale:
    huffman entropy decode + dequant + IDCT; r5 — the LOSSY leg), AVI (RIFF-AVI container walk + movi
    frame chunks, every-2nd-frame sampling over bottom-up DIB frames;
    GIF (r9 — the LZW leg: variable-width LZW with clear/EOI and
    12-bit growth, 4-pass interlace, palette expansion); MPEG-1 Audio
    Layer I (r9 — true-MPEG subband decode: bit allocation, B.1
    scalefactors, spec requantization to exact doubles; the synthesis
    window table B.3 is the remaining declared seam);
    r5 — the VIDEO leg), MJPEG-in-AVI (r6 — the ENTROPY-CODED video
    leg: '00dc' chunks each a complete huffman-coded baseline JFIF,
    decoded on the same sampling stride), FLAC (r6 — the ENTROPY-CODED
    audio leg: Rice-coded fixed-prediction subset per RFC 9639, with
    CRC-8/CRC-16 and STREAMINFO-md5 verification of the decoded PCM),
    PDF (xref-offset object
    walk + FlateDecode inflate + Tj/TJ text reassembly; r5 — the
    DOCUMENT-format leg), and MP3 (r6 — the stream-METADATA leg:
    ISO 11172-3 frame-header walk with the spec bitrate/samplerate side
    tables, frame-length hop arithmetic, VBR detection and duration;
    the Huffman payload stays opaque — the declared perceptual seam,
    now audio-METADATA-complete). Each
    oracle recomputes every decoded field by independent doc_id
    arithmetic (no parsing in SQL), so writer AND decoder must both be
    exact — for JPEG via the flat-block closed form that makes the lossy
    round trip exactly predictable, for PDF via a full round trip of the
    documents table's own text (length + 48-bit md5 prefix, exact in
    double). Normalized columns: d1..d4 = the
    four integer header/shape fields in each codec's natural order,
    m1/m2 = the two measured stats (duration/mean_amp,
    mean_px/checksum, text_len/text_hash)."""

    def norm(df, d1, d2, d3, d4, m1, m2, kind):
        return df.select(
            "doc_id",
            F.col(d1).cast("long").alias("d1"),
            F.col(d2).cast("long").alias("d2"),
            F.col(d3).cast("long").alias("d3"),
            F.col(d4).cast("long").alias("d4"),
            F.col(m1).cast("double").alias("m1"),
            F.col(m2).cast("double").alias("m2"),
            F.lit(kind).alias("kind"),
        )

    wav = norm(
        _mm.wav_decode(spark, sf_dir),
        "n_channels", "sample_rate", "bits", "n_frames",
        "duration_s", "mean_amp", "wav",
    )
    bmp = norm(
        _mm.bmp_decode(spark, sf_dir),
        "width", "height", "bpp", "n_pixels", "mean_px", "checksum", "bmp",
    )
    png = norm(
        _mm.png_decode(spark, sf_dir),
        "width", "height", "bit_depth", "n_pixels", "mean_px", "checksum", "png",
    )
    jpg = norm(
        _mm.jpeg_decode(spark, sf_dir),
        "width", "height", "precision", "n_pixels", "mean_px", "checksum", "jpeg",
    )
    avi = norm(
        _mm.avi_decode(spark, sf_dir),
        "width", "height", "n_frames", "n_sampled", "mean_px", "checksum", "avi",
    )
    mjpeg = norm(
        _mm.mjpeg_decode(spark, sf_dir),
        "width", "height", "n_frames", "n_sampled", "mean_px", "checksum",
        "mjpeg",
    )
    flac = norm(
        _mm.flac_decode(spark, sf_dir),
        "n_samples", "sample_rate", "bps", "pred_order",
        "mean_amp", "checksum", "flac",
    )
    pdf = norm(
        _mm.pdf_extract(spark, sf_dir),
        "n_objects", "n_pages", "n_literals", "compressed",
        "text_len", "text_hash", "pdf",
    )
    mp3 = norm(
        _mm.mp3_meta(spark, sf_dir),
        "n_frames", "sample_rate", "is_vbr", "bitrate_sum_kbps",
        "duration_s", "bitrate_mean_kbps", "mp3",
    )
    gif = norm(
        _mm.gif_decode(spark, sf_dir),
        "width", "height", "n_colors", "interlaced",
        "mean_px", "checksum", "gif",
    )
    mp1 = norm(
        _mm.layer1_decode(spark, sf_dir),
        "n_frames", "sample_rate", "bitrate_kbps", "n_alloc",
        "mean_amp", "checksum", "layer1",
    )
    # r10: image RESIZE — the multimodal transform leg (box-filter
    # downsample of the decoded BMP; the oracle recomputes every
    # resized byte closed-form)
    rsz = norm(
        _mm.bmp_resize(spark, sf_dir),
        "in_width", "in_height", "out_width", "out_height",
        "mean_px", "checksum", "resize",
    )
    return (
        wav.unionByName(bmp).unionByName(png).unionByName(jpg)
        .unionByName(avi).unionByName(mjpeg).unionByName(flac)
        .unionByName(pdf).unionByName(mp3).unionByName(gif)
        .unionByName(mp1).unionByName(rsz)
    )


def _x19_codecs_sql() -> str:
    def norm(sql, d1, d2, d3, d4, m1, m2, kind):
        return (
            f"SELECT doc_id, CAST({d1} AS BIGINT) AS d1, "
            f"CAST({d2} AS BIGINT) AS d2, CAST({d3} AS BIGINT) AS d3, "
            f"CAST({d4} AS BIGINT) AS d4, CAST({m1} AS DOUBLE) AS m1, "
            f"CAST({m2} AS DOUBLE) AS m2, '{kind}' AS kind FROM ({sql})"
        )

    return (
        norm(_mm.wav_decode_sql(), "n_channels", "sample_rate", "bits",
             "n_frames", "duration_s", "mean_amp", "wav")
        + " UNION ALL "
        + norm(_mm.bmp_decode_sql(), "width", "height", "bpp", "n_pixels",
               "mean_px", "checksum", "bmp")
        + " UNION ALL "
        + norm(_mm.png_decode_sql(), "width", "height", "bit_depth",
               "n_pixels", "mean_px", "checksum", "png")
        + " UNION ALL "
        + norm(_mm.jpeg_decode_sql(), "width", "height", "precision",
               "n_pixels", "mean_px", "checksum", "jpeg")
        + " UNION ALL "
        + norm(_mm.avi_decode_sql(), "width", "height", "n_frames",
               "n_sampled", "mean_px", "checksum", "avi")
        + " UNION ALL "
        + norm(_mm.mjpeg_decode_sql(), "width", "height", "n_frames",
               "n_sampled", "mean_px", "checksum", "mjpeg")
        + " UNION ALL "
        + norm(_mm.flac_decode_sql(), "n_samples", "sample_rate", "bps",
               "pred_order", "mean_amp", "checksum", "flac")
        + " UNION ALL "
        + norm(_mm.pdf_extract_sql(), "n_objects", "n_pages", "n_literals",
               "compressed", "text_len", "text_hash", "pdf")
        + " UNION ALL "
        + norm(_mm.mp3_meta_sql(), "n_frames", "sample_rate", "is_vbr",
               "bitrate_sum_kbps", "duration_s", "bitrate_mean_kbps", "mp3")
        + " UNION ALL "
        + norm(_mm.gif_decode_sql(), "width", "height", "n_colors",
               "interlaced", "mean_px", "checksum", "gif")
        + " UNION ALL "
        + norm(_mm.layer1_decode_sql(), "n_frames", "sample_rate",
               "bitrate_kbps", "n_alloc", "mean_amp", "checksum", "layer1")
        + " UNION ALL "
        + norm(_mm.bmp_resize_sql(), "in_width", "in_height", "out_width",
               "out_height", "mean_px", "checksum", "resize")
    )


_EXT["x19_codecs"] = (_x19_codecs, _x19_codecs_sql())


def _x01_text_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nine text-analysis operators (pipeline.text) as `kind`
    slices of one registration on a normalized
    (doc_id, s1, s2, v1, v2, v3) schema (all map-only except
    langid_learned, whose hash-aggs carry id rows only):

    - ``tokens``: v1=n_tokens, v2=n_chars_text, v3=chars_per_token;
    - ``quality``: v1=punct_ratio, v2=stop_ratio, v3=quality score
      (n_tokens lives in the tokens slice);
    - ``langid``: s1=pred_lang, s2=labeled_lang, v1=marker_hits;
    - ``langid_learned``: learned char-2-3-gram language ID (r9) with
      the deterministic demo-formula weight table — s1=pred_lang,
      s2=labeled_lang, v1=z_best (winning nano-unit logit, exact);
    - ``fingerprint``: s1=the min-md5 word-5-gram fingerprint;
    - ``unicode``: encoding-damage signals (r5) — v1=replacement_ratio
      (U+FFFD density), v2=ctrl_count (C0 + DEL + C1 controls minus
      tab/newline/CR; C1 added r6 for cp1252 mojibake), v3=nonascii_ratio;
    - ``redact``: PII redaction transform (r6) — s1=md5 of the fully
      redacted text (pins every replacement byte-for-byte),
      v1/v2/v3=email/phone/IPv4 match counts in the original text;
    - ``chunk`` (r9, pipeline.packing): overlapping token-window
      chunking of long documents (the dual of FFD packing) — MULTIPLE
      rows per doc: s1=md5 of the chunk text (pins window placement,
      overlap and reassembly byte-for-byte), v1=chunk_idx,
      v2=n_chunk_tokens;
    - ``script`` (r10): dominant Unicode script (ISO 15924-style
      routing, the pre-language-ID step) — s1=script name ('none' when
      no scripted chars), v1=script_chars, v2=scripted_chars,
      v3=dominance ratio.
    """

    def norm(df, s1, s2, v1, v2, v3, kind):
        return df.select(
            "doc_id",
            s1.cast("string").alias("s1"),
            s2.cast("string").alias("s2"),
            v1.cast("double").alias("v1"),
            v2.cast("double").alias("v2"),
            v3.cast("double").alias("v3"),
            F.lit(kind).alias("kind"),
        )

    nul = F.lit(None)
    tok = norm(
        _text.token_stats(spark, sf_dir), nul, nul,
        F.col("n_tokens"), F.col("n_chars_text"), F.col("chars_per_token"),
        "tokens",
    )
    qua = norm(
        _text.quality(spark, sf_dir), nul, nul,
        F.col("punct_ratio"), F.col("stop_ratio"), F.col("quality"),
        "quality",
    )
    lid = norm(
        _text.lang_id(spark, sf_dir),
        F.col("pred_lang"), F.col("labeled_lang"),
        F.col("marker_hits"), F.lit(0.0), F.lit(0.0),
        "langid",
    )
    lil = norm(
        _text.lang_id_learned(spark, sf_dir),
        F.col("pred_lang"), F.col("labeled_lang"),
        F.col("z_best"), F.lit(0.0), F.lit(0.0),
        "langid_learned",
    )
    fpr = norm(
        _text.fingerprint(spark, sf_dir),
        F.col("fingerprint"), nul, F.lit(0.0), F.lit(0.0), F.lit(0.0),
        "fingerprint",
    )
    uni = norm(
        _text.unicode_signals(spark, sf_dir), nul, nul,
        F.col("replacement_ratio"), F.col("ctrl_count"),
        F.col("nonascii_ratio"), "unicode",
    )
    red = norm(
        _text.pii_redact(spark, sf_dir),
        F.md5(F.col("text_redacted")), nul,
        F.col("n_emails"), F.col("n_phones"), F.col("n_ips"),
        "redact",
    )
    from talna_spark.pipeline.packing import chunk_documents as _chunk

    chk = norm(
        _chunk(spark, sf_dir),
        F.md5(F.col("chunk_text")), nul,
        F.col("chunk_idx"), F.col("n_tokens"), F.lit(0.0),
        "chunk",
    )
    scr = norm(
        _text.script_id(spark, sf_dir),
        F.col("script"), nul,
        F.col("script_chars"), F.col("scripted_chars"),
        F.col("script_ratio"), "script",
    )
    # `nfc` (r13): Unicode NFC normalization through the Arrow seam —
    # each doc decorated with a closed-form DEnormalized suffix
    # (combining marks / Hangul jamo / an NFKC-only form NFC must
    # leave), then s1 = md5(NFC(decorated)) proves CPython's
    # unicodedata against DuckDB's INDEPENDENT nfc_normalize
    # byte-for-byte; v1 = changed flag, v2 = composed length, v3 =
    # composition shrink.
    deco = read_documents(spark, sf_dir, "doc_id", "text").select(
        "doc_id",
        F.concat(
            F.col("text"), _text.nfc_demo_decoration(F.col("doc_id"))
        ).alias("text"),
    )
    nfc = norm(
        _text.nfc_normalize_text(deco),
        F.md5(F.encode(F.col("text_nfc"), "UTF-8")), nul,
        (F.col("text_nfc") != F.col("text")).cast("int"),
        F.length("text_nfc"),
        F.length("text") - F.length("text_nfc"),
        "nfc",
    )
    return (
        tok.unionByName(qua).unionByName(lid).unionByName(lil)
        .unionByName(fpr).unionByName(uni).unionByName(red)
        .unionByName(chk).unionByName(scr).unionByName(nfc)
    )


def _x01_text_signals_sql() -> str:
    return (
        "SELECT doc_id, CAST(NULL AS VARCHAR) AS s1, "
        "CAST(NULL AS VARCHAR) AS s2, CAST(n_tokens AS DOUBLE) AS v1, "
        "CAST(n_chars_text AS DOUBLE) AS v2, "
        "CAST(chars_per_token AS DOUBLE) AS v3, 'tokens' AS kind "
        f"FROM ({_text.token_stats_sql()}) "
        "UNION ALL "
        "SELECT doc_id, CAST(NULL AS VARCHAR) AS s1, "
        "CAST(NULL AS VARCHAR) AS s2, CAST(punct_ratio AS DOUBLE) AS v1, "
        "CAST(stop_ratio AS DOUBLE) AS v2, CAST(quality AS DOUBLE) AS v3, "
        f"'quality' AS kind FROM ({_text.quality_sql()}) "
        "UNION ALL "
        "SELECT doc_id, pred_lang AS s1, labeled_lang AS s2, "
        "CAST(marker_hits AS DOUBLE) AS v1, 0.0 AS v2, 0.0 AS v3, "
        f"'langid' AS kind FROM ({_text.lang_id_sql()}) "
        "UNION ALL "
        "SELECT doc_id, pred_lang AS s1, labeled_lang AS s2, "
        "CAST(z_best AS DOUBLE) AS v1, 0.0 AS v2, 0.0 AS v3, "
        f"'langid_learned' AS kind FROM ({_text.lang_id_learned_sql()}) "
        "UNION ALL "
        "SELECT doc_id, fingerprint AS s1, CAST(NULL AS VARCHAR) AS s2, "
        "0.0 AS v1, 0.0 AS v2, 0.0 AS v3, 'fingerprint' AS kind "
        f"FROM ({_text.fingerprint_sql()}) "
        "UNION ALL "
        "SELECT doc_id, CAST(NULL AS VARCHAR) AS s1, "
        "CAST(NULL AS VARCHAR) AS s2, "
        "CAST(replacement_ratio AS DOUBLE) AS v1, "
        "CAST(ctrl_count AS DOUBLE) AS v2, "
        "CAST(nonascii_ratio AS DOUBLE) AS v3, 'unicode' AS kind "
        f"FROM ({_text.unicode_signals_sql()}) "
        "UNION ALL "
        "SELECT doc_id, md5(text_redacted) AS s1, "
        "CAST(NULL AS VARCHAR) AS s2, CAST(n_emails AS DOUBLE) AS v1, "
        "CAST(n_phones AS DOUBLE) AS v2, CAST(n_ips AS DOUBLE) AS v3, "
        f"'redact' AS kind FROM ({_text.pii_redact_sql()}) "
        "UNION ALL "
        "SELECT doc_id, md5(chunk_text) AS s1, CAST(NULL AS VARCHAR) AS s2, "
        "CAST(chunk_idx AS DOUBLE) AS v1, CAST(n_tokens AS DOUBLE) AS v2, "
        f"0.0 AS v3, 'chunk' AS kind FROM ({_chunk_sql()}) "
        "UNION ALL "
        "SELECT doc_id, script AS s1, CAST(NULL AS VARCHAR) AS s2, "
        "CAST(script_chars AS DOUBLE) AS v1, "
        "CAST(scripted_chars AS DOUBLE) AS v2, "
        "CAST(script_ratio AS DOUBLE) AS v3, 'script' AS kind "
        f"FROM ({_text.script_id_sql()}) "
        "UNION ALL "
        "SELECT doc_id, md5(nfc_normalize(t)) AS s1, "
        "CAST(NULL AS VARCHAR) AS s2, "
        "CAST(nfc_normalize(t) != t AS INT) AS v1, "
        "CAST(length(nfc_normalize(t)) AS DOUBLE) AS v2, "
        "CAST(length(t) - length(nfc_normalize(t)) AS DOUBLE) AS v3, "
        "'nfc' AS kind FROM (SELECT doc_id, text || "
        + _text.nfc_demo_decoration_sql("doc_id")
        + " AS t FROM documents)"
    )


_EXT["x01_text_signals"] = (_x01_text_signals, _x01_text_signals_sql())

# x21-x23: the round-5 training-pipeline additions (each a first-class
# operator with its own module-level oracle).
def _x21_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span scan AND removal (pipeline.dedup) as `kind` slices
    of one registration on a normalized (doc_id, s1, v1, v2, v3) schema:

    - ``scan``: v1=n_grams, v2=dup_positions, v3=dup_fraction;
    - ``clean``: s1=md5 of the span-trimmed text (proving the exact
      reconstructed string, not just counts), v1=kept_tokens,
      v2=removed_tokens;
    - ``paragraph``: CCNet-style paragraph dedup (Wenzek et al. 2020) —
      s1=md5 of the reassembled text after every duplicated paragraph
      keeps only its globally-first copy, v1=n_paras, v2=removed_paras;
    - ``maximal`` (r10): suffix-granular exact-substring dedup (Lee et
      al. 2022) — adjacent duplicated grams coalesce into maximal runs,
      only runs >= SPAN_MIN_TOKENS removed; s1=md5 of the reconstructed
      text, v1=n_spans, v2=span_tokens, v3=kept_tokens;
    - ``withindoc`` (r10): WITHIN-document repeated-line removal (the
      Gopher/C4 cleanup next to cross-corpus paragraph dedup; pure
      map-side, zero shuffle) — s1=md5 of the reassembled text,
      v1=n_lines, v2=removed_lines.
    """

    def norm(df, s1, v1, v2, v3, kind):
        return df.select(
            "doc_id",
            s1.cast("string").alias("s1"),
            v1.cast("double").alias("v1"),
            v2.cast("double").alias("v2"),
            v3.cast("double").alias("v3"),
            F.lit(kind).alias("kind"),
        )

    scan = norm(
        _dedup.dup_spans(spark, sf_dir),
        F.lit(None), F.col("n_grams"), F.col("dup_positions"),
        F.col("dup_fraction"), "scan",
    )
    clean = norm(
        _dedup.dup_span_clean(spark, sf_dir),
        F.col("clean_hash"), F.col("kept_tokens"), F.col("removed_tokens"),
        F.lit(0.0), "clean",
    )
    para = norm(
        _dedup.paragraph_dedup(spark, sf_dir),
        F.col("clean_hash"), F.col("n_paras"), F.col("removed_paras"),
        F.lit(0.0), "paragraph",
    )
    maximal = norm(
        _dedup.dup_span_maximal(spark, sf_dir),
        F.col("clean_hash"), F.col("n_spans"), F.col("span_tokens"),
        F.col("kept_tokens"), "maximal",
    )
    within = norm(
        _dedup.within_doc_line_dedup(spark, sf_dir),
        F.col("clean_hash"), F.col("n_lines"), F.col("removed_lines"),
        F.lit(0.0), "withindoc",
    )
    return (
        scan.unionByName(clean).unionByName(para).unionByName(maximal)
        .unionByName(within)
    )


def _x21_dup_spans_sql() -> str:
    return (
        "SELECT doc_id, CAST(NULL AS VARCHAR) AS s1, "
        "CAST(n_grams AS DOUBLE) AS v1, CAST(dup_positions AS DOUBLE) AS v2, "
        "CAST(dup_fraction AS DOUBLE) AS v3, 'scan' AS kind "
        f"FROM ({_dedup.dup_spans_sql()}) "
        "UNION ALL "
        "SELECT doc_id, clean_hash AS s1, CAST(kept_tokens AS DOUBLE) AS v1, "
        "CAST(removed_tokens AS DOUBLE) AS v2, 0.0 AS v3, 'clean' AS kind "
        f"FROM ({_dedup.dup_span_clean_sql()}) "
        "UNION ALL "
        "SELECT doc_id, clean_hash AS s1, CAST(n_paras AS DOUBLE) AS v1, "
        "CAST(removed_paras AS DOUBLE) AS v2, 0.0 AS v3, 'paragraph' AS kind "
        f"FROM ({_dedup.paragraph_dedup_sql()}) "
        "UNION ALL "
        "SELECT doc_id, clean_hash AS s1, CAST(n_spans AS DOUBLE) AS v1, "
        "CAST(span_tokens AS DOUBLE) AS v2, CAST(kept_tokens AS DOUBLE) AS v3, "
        "'maximal' AS kind "
        f"FROM ({_dedup.dup_span_maximal_sql()}) "
        "UNION ALL "
        "SELECT doc_id, clean_hash AS s1, CAST(n_lines AS DOUBLE) AS v1, "
        "CAST(removed_lines AS DOUBLE) AS v2, 0.0 AS v3, "
        "'withindoc' AS kind "
        f"FROM ({_dedup.within_doc_line_dedup_sql()})"
    )


_EXT["x21_dup_spans"] = (_x21_dup_spans, _x21_dup_spans_sql())
def _x22_quality_scoring(
    spark: SparkSession, sf_dir: str, include_pplbucket: bool = True
) -> DataFrame:
    """Corpus-trained quality scoring, two `kind` slices on a normalized
    (doc_id, s1, v1, v2) schema:

    - ``lm``: unigram-LM cross-entropy (v1=n_tokens, v2=xent);
    - ``cutoff``: adaptive per-source quality-percentile filter — the
      kept docs with their score and their domain's exact interpolated
      p10 cutoff (s1=source, v1=quality, v2=cutoff);
    - ``gopher``: the Gopher hard-rule battery (Rae et al. 2021) —
      s1=verdict, v1=fail_mask (bit i = rule i violated, so the hash
      pins every individual rule), v2=n_failed;
    - ``c4``: the C4 cleaning battery (Raffel et al. 2020 §2.2) —
      s1=verdict, v1=fail_mask, v2=kept_line_frac (the folded
      line-retention metric, which pins the line rules too);
    - ``lm2``: interpolated bigram-LM cross-entropy (r5) — v1=n_tokens,
      v2=xent2; context-sensitive where the unigram lm slice is not;
    - ``lm3``: trigram Kneser-Ney cross-entropy (r6) — v1=n_tokens,
      v2=xent3; absolute-discount smoothing with continuation counts,
      sensitive to reorderings that preserve the bigram multiset
      (which lm2 provably cannot see);
    - ``clf``: hashing-trick linear quality classifier (r6) —
      v1=n_tokens, v2=clf_score = sigmoid of the broadcast-weight dot
      product over md5-hashed token buckets (the fastText-style gate;
      the demo formula weights keep the row oracle-expressible while
      exercising the exact production scoring plan);
    - ``pplbucket`` (r10): CCNet head/middle/tail perplexity terciles
      per domain (Wenzek et al. 2020) — s1=bucket, v1=xent,
      v2=tail_cut (the p67 boundary; head_cut is pinned transitively
      through the bucket labels).
    """

    def norm(df, s1, v1, v2, kind):
        return df.select(
            "doc_id",
            s1.cast("string").alias("s1"),
            v1.cast("double").alias("v1"),
            v2.cast("double").alias("v2"),
            F.lit(kind).alias("kind"),
        )

    # one corpus scan + tokenization for all 8 slices: every scorer
    # takes the signal_token_base bundle (the token frames plus the
    # cutoff/gopher/c4 signal columns, behind lazy localCheckpoints),
    # the clf slice its (doc_id, token) stream, and pplbucket the lm
    # slice's scored frame. A scorer called without the bundle builds
    # the same frames for itself, so the rows are the same either way
    # (pinned in tests/test_curation_ops.py).
    _lm_base = _text.signal_token_base(spark, sf_dir)
    _lm_full = _text.lm_score(spark, sf_dir, base=_lm_base).localCheckpoint(
        eager=False
    )
    lm = norm(
        _lm_full,
        F.lit(None), F.col("n_tokens"), F.col("xent"), "lm",
    )
    cut = norm(
        _text.quality_cutoff_filter(spark, sf_dir, base=_lm_base),
        F.col("source"), F.col("quality"), F.col("cutoff"), "cutoff",
    )
    gopher = norm(
        _text.gopher_rules(spark, sf_dir, base=_lm_base),
        F.col("verdict"), F.col("fail_mask"), F.col("n_failed"), "gopher",
    )
    c4 = norm(
        _text.c4_rules(spark, sf_dir, base=_lm_base),
        F.col("verdict"), F.col("fail_mask"), F.col("kept_line_frac"), "c4",
    )
    lm2 = norm(
        _text.lm_score_bigram(spark, sf_dir, base=_lm_base),
        F.lit(None), F.col("n_tokens"), F.col("xent2"), "lm2",
    )
    lm3 = norm(
        _text.lm_score_trigram_kn(spark, sf_dir, base=_lm_base),
        F.lit(None), F.col("n_tokens"), F.col("xent3"), "lm3",
    )
    clf = norm(
        _classifier.score_documents(spark, sf_dir, tok=_lm_base["tok"]),
        F.lit(None), F.col("n_tokens"), F.col("clf_score"), "clf",
    )
    out = (
        lm.unionByName(cut).unionByName(gopher).unionByName(c4)
        .unionByName(lm2).unionByName(lm3).unionByName(clf)
    )
    if not include_pplbucket:  # bench pins the r9 7-slice content so
        return out             # the quality-battery trend stays comparable
    ppb = norm(
        _text.perplexity_buckets(
            spark, sf_dir, lm_xent=_lm_full, src=_lm_base["signals"]
        ),
        F.col("bucket"), F.col("xent"), F.col("tail_cut"), "pplbucket",
    )
    return out.unionByName(ppb)


def _x22_quality_scoring_sql() -> str:
    return (
        "SELECT doc_id, CAST(NULL AS VARCHAR) AS s1, "
        "CAST(n_tokens AS DOUBLE) AS v1, CAST(xent AS DOUBLE) AS v2, "
        f"'lm' AS kind FROM ({_text.lm_score_sql()}) "
        "UNION ALL "
        "SELECT doc_id, source AS s1, CAST(quality AS DOUBLE) AS v1, "
        "CAST(cutoff AS DOUBLE) AS v2, 'cutoff' AS kind "
        f"FROM ({_text.quality_cutoff_filter_sql()}) "
        "UNION ALL "
        "SELECT doc_id, verdict AS s1, CAST(fail_mask AS DOUBLE) AS v1, "
        "CAST(n_failed AS DOUBLE) AS v2, 'gopher' AS kind "
        f"FROM ({_text.gopher_rules_sql()}) "
        "UNION ALL "
        "SELECT doc_id, verdict AS s1, CAST(fail_mask AS DOUBLE) AS v1, "
        "CAST(kept_line_frac AS DOUBLE) AS v2, 'c4' AS kind "
        f"FROM ({_text.c4_rules_sql()}) "
        "UNION ALL "
        "SELECT doc_id, CAST(NULL AS VARCHAR) AS s1, "
        "CAST(n_tokens AS DOUBLE) AS v1, CAST(xent2 AS DOUBLE) AS v2, "
        f"'lm2' AS kind FROM ({_text.lm_score_bigram_sql()}) "
        "UNION ALL "
        "SELECT doc_id, CAST(NULL AS VARCHAR) AS s1, "
        "CAST(n_tokens AS DOUBLE) AS v1, CAST(xent3 AS DOUBLE) AS v2, "
        f"'lm3' AS kind FROM ({_text.lm_score_trigram_kn_sql()}) "
        "UNION ALL "
        "SELECT doc_id, CAST(NULL AS VARCHAR) AS s1, "
        "CAST(n_tokens AS DOUBLE) AS v1, CAST(clf_score AS DOUBLE) AS v2, "
        f"'clf' AS kind FROM ({_classifier.score_documents_sql()})"
        + " UNION ALL "
        + ("SELECT doc_id, bucket AS s1, CAST(xent AS DOUBLE) AS v1, "
           "CAST(tail_cut AS DOUBLE) AS v2, 'pplbucket' AS kind "
           f"FROM ({_text.perplexity_buckets_sql()})")
    )


X22_N_SLICES = 8  # total registration slices (the bench battery row pins the 7-slice r9 subset)
_EXT["x22_quality_scoring"] = (_x22_quality_scoring, _x22_quality_scoring_sql())
def _x23_mixture_sample(
    spark: SparkSession, sf_dir: str, include_doremi: bool = True
) -> DataFrame:
    """Sampling-policy registration, three `kind` slices on a normalized
    (doc_id, s1, v1, v2, v3, kind) schema: `mixture` = domain-mixture
    sampling to a token budget (per-domain weights -> keep-rates);
    `dsir` = DSIR importance-resampling selection (Xie et al. 2023,
    hashed unigram+bigram models, top-k by integer micro-nat weight);
    `reservoir` (r5) = exact-k deterministic per-source sample by
    'res|'-prefixed id-hash rank (s1=source, v1=within-group rank);
    `upsample` (r6) = integer-epoch mixture upsampling — one full
    corpus epoch redistributed by weight, uncapped rates, copies =
    floor(rate) + deterministic fractional epoch (v2=rate_ppm,
    v3=copies); `alpha` (r9) = temperature mixture — the same budget
    machinery with weights t_s^0.5 derived from the corpus itself (the
    XLM/mC4 multilingual balancing step; sqrt is correctly rounded in
    both engines, so the weight is cross-engine exact); `doremi` (r10)
    = the same budget machinery under weights LEARNED from the corpus —
    exp of per-domain mean excess loss between the engine's own
    unigram (proxy) and bigram (reference) LMs, the one-shot DoReMi
    core (Xie et al. 2023) — completing hand-tuned -> corpus-shape ->
    learned; `tbudget` (r13) = HARD-budget per-source prefix cut (exact
    deterministic token budgets via a distributed two-phase prefix sum
    — the exact-cut complement of the rate samplers); `wres` (r13) =
    Efraimidis-Spirakis weight-PROPORTIONAL sampling without
    replacement (per-ROW weights where every slice above weighs
    SOURCES: the k smallest -ln(u)/w race keys per source, weight =
    char length here, a quality score in real pipelines; v1=rank,
    v2=n_chars, v3=the race key)."""
    # r17 (guide §2.3): ONE tokenized (doc_id, source, n_tokens) base
    # shared by every _mix_scaffold sampler in this union — mixture /
    # upsample / alpha here, + doremi / tbudget below — instead of one
    # corpus tokenize pass per slice. Same derivation, materialized
    # once; bit-identity pinned in
    # tests/test_curation_ops.py::test_mixture_family_shared_base_bit_identical.
    mixbase = _sampling.mix_token_base(spark, sf_dir)
    mx = _sampling.mixture_sample(spark, sf_dir, base=mixbase).select(
        "doc_id",
        F.col("source").alias("s1"),
        F.col("n_tokens").cast("long").alias("v1"),
        F.col("keep_ppm").cast("long").alias("v2"),
        F.col("rate").cast("double").alias("v3"),
        F.lit("mixture").alias("kind"),
    )
    ds = _sampling.dsir_select(spark, sf_dir).select(
        "doc_id",
        F.lit("").alias("s1"),
        F.col("n_grams").cast("long").alias("v1"),
        F.col("weight_micro").cast("long").alias("v2"),
        F.col("rank").cast("double").alias("v3"),
        F.lit("dsir").alias("kind"),
    )
    rs = _sampling.reservoir_docs(spark, sf_dir).select(
        "doc_id",
        F.col("source").alias("s1"),
        F.col("sample_rank").cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
        F.lit(0.0).alias("v3"),
        F.lit("reservoir").alias("kind"),
    )
    up = _sampling.mixture_upsample(spark, sf_dir, base=mixbase).select(
        "doc_id",
        F.col("source").alias("s1"),
        F.col("n_tokens").cast("long").alias("v1"),
        F.col("rate_ppm").cast("long").alias("v2"),
        F.col("copies").cast("double").alias("v3"),
        F.lit("upsample").alias("kind"),
    )
    al = _sampling.alpha_mixture_sample(spark, sf_dir, base=mixbase).select(
        "doc_id",
        F.col("source").alias("s1"),
        F.col("n_tokens").cast("long").alias("v1"),
        F.col("keep_ppm").cast("long").alias("v2"),
        F.col("rate").cast("double").alias("v3"),
        F.lit("alpha").alias("kind"),
    )
    out = (
        mx.unionByName(ds).unionByName(rs).unionByName(up).unionByName(al)
    )
    if not include_doremi:  # bench pins the r9 5-slice content so the
        return out          # pipe_mixture trend stays comparable
    do = _sampling.doremi_mixture_sample(spark, sf_dir, base=mixbase).select(
        "doc_id",
        F.col("source").alias("s1"),
        F.col("n_tokens").cast("long").alias("v1"),
        F.col("keep_ppm").cast("long").alias("v2"),
        F.col("rate").cast("double").alias("v3"),
        F.lit("doremi").alias("kind"),
    )
    # `tbudget` (r13): HARD-budget per-source prefix cut — exact token
    # budgets via the distributed two-phase prefix sum (range buckets of
    # the order hash; see sampling.token_budget_sample), the exact-cut
    # complement of the rate samplers above (v2=cum_before, v3=budget).
    tb = _sampling.token_budget_sample(spark, sf_dir, base=mixbase).select(
        "doc_id",
        F.col("source").alias("s1"),
        F.col("n_tokens").cast("long").alias("v1"),
        F.col("cum_before").cast("long").alias("v2"),
        F.col("budget").cast("double").alias("v3"),
        F.lit("tbudget").alias("kind"),
    )
    # `wres` (r13): per-ROW weight-proportional sampling (A-ES race
    # keys; see sampling.weighted_sample) — the per-document complement
    # of the per-source mixture slices above.
    ws = _sampling.weighted_docs(spark, sf_dir).select(
        "doc_id",
        F.col("source").alias("s1"),
        F.col("sample_rank").cast("long").alias("v1"),
        F.col("n_chars").cast("long").alias("v2"),
        F.col("key").cast("double").alias("v3"),
        F.lit("wres").alias("kind"),
    )
    return out.unionByName(do).unionByName(tb).unionByName(ws)


def _x23_mixture_sample_sql() -> str:
    return (
        "SELECT doc_id, source AS s1, CAST(n_tokens AS BIGINT) AS v1, "
        "CAST(keep_ppm AS BIGINT) AS v2, CAST(rate AS DOUBLE) AS v3, "
        f"'mixture' AS kind FROM ({_sampling.mixture_sample_sql()}) "
        "UNION ALL "
        "SELECT doc_id, '' AS s1, CAST(n_grams AS BIGINT) AS v1, "
        "CAST(weight_micro AS BIGINT) AS v2, CAST(rank AS DOUBLE) AS v3, "
        f"'dsir' AS kind FROM ({_sampling.dsir_select_sql()}) "
        "UNION ALL "
        "SELECT doc_id, source AS s1, CAST(sample_rank AS BIGINT) AS v1, "
        "CAST(0 AS BIGINT) AS v2, 0.0 AS v3, 'reservoir' AS kind "
        f"FROM ({_sampling.reservoir_docs_sql()}) "
        "UNION ALL "
        "SELECT doc_id, source AS s1, CAST(n_tokens AS BIGINT) AS v1, "
        "CAST(rate_ppm AS BIGINT) AS v2, CAST(copies AS DOUBLE) AS v3, "
        f"'upsample' AS kind FROM ({_sampling.mixture_upsample_sql()}) "
        "UNION ALL "
        "SELECT doc_id, source AS s1, CAST(n_tokens AS BIGINT) AS v1, "
        "CAST(keep_ppm AS BIGINT) AS v2, CAST(rate AS DOUBLE) AS v3, "
        f"'alpha' AS kind FROM ({_sampling.alpha_mixture_sample_sql()}) "
        "UNION ALL "
        "SELECT doc_id, source AS s1, CAST(n_tokens AS BIGINT) AS v1, "
        "CAST(keep_ppm AS BIGINT) AS v2, CAST(rate AS DOUBLE) AS v3, "
        f"'doremi' AS kind FROM ({_sampling.doremi_mixture_sample_sql()}) "
        "UNION ALL "
        "SELECT doc_id, source AS s1, CAST(n_tokens AS BIGINT) AS v1, "
        "CAST(cum_before AS BIGINT) AS v2, CAST(budget AS DOUBLE) AS v3, "
        f"'tbudget' AS kind FROM ({_sampling.token_budget_sample_sql()}) "
        "UNION ALL "
        "SELECT doc_id, source AS s1, CAST(sample_rank AS BIGINT) AS v1, "
        "CAST(n_chars AS BIGINT) AS v2, CAST(key AS DOUBLE) AS v3, "
        f"'wres' AS kind FROM ({_sampling.weighted_docs_sql()})"
    )


_EXT["x23_mixture_sample"] = (_x23_mixture_sample, _x23_mixture_sample_sql())


def _x12_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-dedup registration, four `kind` slices on a normalized
    (vec_id, v1, v2, v3, kind) schema: `neardup` = each vector's nearest
    neighbor within its (label, LSH-bucket) block; `semdedup` =
    cluster-blocked semantic dedup (SemDeDup, Abbas et al. 2023) with
    the deterministic centroid-typicality keep rule; `embed` (r6) =
    signed-random-projection document embeddings — the documents-table
    bridge into this module (v1=n_tokens, v3=the full L2-normalized
    vector pinned as comma-joined micro-units, so every component is
    hash-checked); `balanced` (r10) = cluster-balanced sampling — the
    cluster-then-sample-uniformly complement of SemDeDup (v1=cluster,
    v2=ccos, v3=within-cluster sample rank)."""
    nn = _sim.label_nearest_neighbor(spark, sf_dir).select(
        "vec_id",
        F.col("neighbor_id").cast("long").alias("v1"),
        F.col("cos").cast("double").alias("v2"),
        F.lit("").alias("v3"),
        F.lit("neardup").alias("kind"),
    )
    sd = _sim.semdedup(spark, sf_dir).select(
        "vec_id",
        F.col("cluster").cast("long").alias("v1"),
        F.col("ccos").cast("double").alias("v2"),
        F.col("verdict").alias("v3"),
        F.lit("semdedup").alias("kind"),
    )
    em = _sim.srp_embed_documents(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"),
        F.col("n_tokens").cast("long").alias("v1"),
        F.lit(0.0).alias("v2"),
        F.array_join(
            F.transform(
                "v", lambda x: F.round(x * 1e6).cast("long").cast("string")
            ),
            ",",
        ).alias("v3"),
        F.lit("embed").alias("kind"),
    )
    cb = _sim.cluster_balanced_sample(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster").cast("long").alias("v1"),
        F.col("ccos").cast("double").alias("v2"),
        F.col("sample_rank").cast("string").alias("v3"),
        F.lit("balanced").alias("kind"),
    )
    return nn.unionByName(sd).unionByName(em).unionByName(cb)


def _x12_embedding_near_dup_sql() -> str:
    return (
        "SELECT vec_id, CAST(neighbor_id AS BIGINT) AS v1, "
        "CAST(cos AS DOUBLE) AS v2, '' AS v3, 'neardup' AS kind "
        f"FROM ({_sim.label_nearest_neighbor_sql()}) "
        "UNION ALL "
        "SELECT vec_id, CAST(cluster AS BIGINT) AS v1, "
        "CAST(ccos AS DOUBLE) AS v2, verdict AS v3, 'semdedup' AS kind "
        f"FROM ({_sim.semdedup_sql()}) "
        "UNION ALL "
        "SELECT doc_id AS vec_id, CAST(n_tokens AS BIGINT) AS v1, "
        "0.0 AS v2, array_to_string(list_transform(v, x -> "
        "CAST(CAST(ROUND(x * 1000000.0) AS BIGINT) AS VARCHAR)), ',') AS v3, "
        f"'embed' AS kind FROM ({_sim.srp_embed_documents_sql()}) "
        "UNION ALL "
        "SELECT doc_id AS vec_id, CAST(cluster AS BIGINT) AS v1, "
        "CAST(ccos AS DOUBLE) AS v2, CAST(sample_rank AS VARCHAR) AS v3, "
        f"'balanced' AS kind FROM ({_sim.cluster_balanced_sample_sql()})"
    )


_EXT["x12_embedding_near_dup"] = (_x12_embedding_near_dup, _x12_embedding_near_dup_sql())


def _x11_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN registration, four `kind` slices on the shared
    (query_id, neighbor_id, rank, cos) schema: ``ivf`` = inverted-file
    probe (scan work ~ nprobe/N_CLUSTERS), ``pq`` = product-quantized
    search (Jégou et al. 2011: corpus compressed to PQ_M codebook codes,
    asymmetric exact-query-vs-reconstruction cosine), ``ivfpq`` = the
    composed production index (r10: ADC over PQ codes restricted to the
    query's nprobe probed IVF clusters — FAISS ``IVFPQ``), ``sq8`` =
    8-bit scalar quantization (r10: per-vector affine codes, ~8x
    compression, the FAISS SQ8 fidelity point between exact and PQ),
    ``resivfpq`` = RESIDUAL-encoded IVF-PQ (r11: reconstruction =
    centroid + PQ(v - centroid), Jégou et al. 2011 §IV.A — the
    published coding; the trained variant where the fidelity claim
    holds is unit-tier) — each oracle-checked including ranks. r13
    (VERDICT r12 #4): the ``pq`` slice routes its seed codebook through
    save_ann_model -> load_ann_model (bit-identical to pq_topk(), so
    the unchanged SQL oracle now hash-checks the PERSISTENCE path)."""
    ivf = _sim.ivf_topk(spark, sf_dir).withColumn("kind", F.lit("ivf"))
    pq = _sim.pq_topk_via_saved_model(spark, sf_dir).withColumn(
        "kind", F.lit("pq")
    )
    ivfpq = _sim.ivfpq_topk(spark, sf_dir).withColumn("kind", F.lit("ivfpq"))
    sq8 = _sim.sq8_topk(spark, sf_dir).withColumn("kind", F.lit("sq8"))
    res = _sim.ivfpq_residual_topk(spark, sf_dir).withColumn(
        "kind", F.lit("resivfpq")
    )
    return (
        ivf.unionByName(pq)
        .unionByName(ivfpq)
        .unionByName(sq8)
        .unionByName(res)
    )


def _x11_ann_sql() -> str:
    return (
        f"SELECT *, 'ivf' AS kind FROM ({_sim.ivf_topk_sql()}) "
        "UNION ALL "
        f"SELECT *, 'pq' AS kind FROM ({_sim.pq_topk_sql()}) "
        "UNION ALL "
        f"SELECT *, 'ivfpq' AS kind FROM ({_sim.ivfpq_topk_sql()}) "
        "UNION ALL "
        f"SELECT *, 'sq8' AS kind FROM ({_sim.sq8_topk_sql()}) "
        "UNION ALL "
        f"SELECT *, 'resivfpq' AS kind "
        f"FROM ({_sim.ivfpq_residual_topk_sql()})"
    )


_EXT["x11_ann_ivf"] = (_x11_ann, _x11_ann_sql())


def _x07_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup pairs, two `kind` slices on (doc_a, doc_b, jaccard):
    ``full`` = full-width band keys (the r1 operator), ``bbit`` = b-BIT
    minhash banding (Li & König 2010; r13) — band keys keep only the
    low 8 bits of each component, shrinking the corpus-scale
    (band, key) shuffle ~4x here (~32x vs raw 64-bit components) while
    candidates stay a SUPERSET of full-width banding's (masking is a
    projection), so verified pairs are >=; both slices verify at the
    same exact-Jaccard threshold and each is oracle-checked against a
    DuckDB twin computing the identical masked keys."""
    full = _dedup.lsh_near_dup_pairs(spark, sf_dir).withColumn(
        "kind", F.lit("full")
    )
    bbit = _dedup.lsh_near_dup_pairs(
        spark, sf_dir, band_bits=_dedup.LSH_BBIT_DEFAULT
    ).withColumn("kind", F.lit("bbit"))
    return full.unionByName(bbit)


def _x07_lsh_sql() -> str:
    return (
        f"SELECT *, 'full' AS kind FROM ({_dedup.lsh_near_dup_pairs_sql()}) "
        "UNION ALL "
        f"SELECT *, 'bbit' AS kind "
        f"FROM ({_dedup.lsh_near_dup_pairs_sql(band_bits=_dedup.LSH_BBIT_DEFAULT)})"
    )


_EXT["x07_dedup_lsh_pairs"] = (_x07_lsh, _x07_lsh_sql())


# --- r6 promotions: histogram / URL layer / domain layer / incremental
# dedup — the four SQL-expressible operators the r5 verdict flagged as
# stuck at unit tier (slots freed by the q01/q06 consolidations above).
_HIST_SPEC = ("app.purchase", "user", "*", DAY, 5.0, 125.0, 12)


def _q43_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket value histogram (QueryBuilder.histogram — the
    Prometheus/Datadog distribution shape; the reference carries one
    value per bucket, SURVEY §2.2). Fixed bins over app.purchase values
    per (user, day): lo=5, hi=125, 12 bins — both edge bins (-1
    underflow / 12 overflow) are populated by the data."""
    metric, grp, flt, gran, lo, hi, nbins = _HIST_SPEC
    return (
        Database.from_events(spark, sf_dir)
        .count(metric, grp)
        .filter(flt)
        .granularity(gran)
        .histogram(lo, hi, nbins)
    )


from talna_spark.oracle import events_histogram_sql  # noqa: E402

_EXT["q43_histogram"] = (
    _q43_histogram,
    events_histogram_sql(
        _HIST_SPEC[0], _HIST_SPEC[1], _HIST_SPEC[2], _HIST_SPEC[3],
        _HIST_SPEC[4], _HIST_SPEC[5], _HIST_SPEC[6],
    ),
)

from talna_spark.sources import warc as _warc  # noqa: E402

# x24: normalize_url + PSL registered_domain over deterministic synth
# URLs (the documents table carries no URL column); x26: domain_stats +
# blocklist survivors, both in PSL mode. The DuckDB twins re-derive the
# identical URLs and match against the same vendored PSL rule table.
# r11 adds the `wds` slice: a full WebDataset shard round trip (every
# document's text + BMP payload through write_webdataset ->
# read_webdataset) whose oracle derives the same md5/byte-length values
# straight from the documents table with NO tar code — a framing,
# encoding, or member-loss bug anywhere in the tar layer breaks the
# hash (sources/webdataset.py roundtrip_layer).
from talna_spark.sources import webdataset as _wds  # noqa: E402

# r13 adds the `mm` slice: the same round-trip discipline for the
# Megatron-style .bin/.idx token-shard sink (sources/megatron.py
# mm_roundtrip_layer) — closed-form token-length id streams through
# write_indexed_dataset -> read_indexed_dataset, oracle recomputed
# from the documents table with no binary code.
from talna_spark.sources import megatron as _mmidx  # noqa: E402


def _x24_url_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _warc.url_layer(spark, sf_dir)
        .unionByName(_wds.roundtrip_layer(spark, sf_dir))
        .unionByName(_mmidx.mm_roundtrip_layer(spark, sf_dir))
    )


_EXT["x24_url_layer"] = (
    _x24_url_layer,
    _warc.url_layer_sql()
    + " UNION ALL "
    + _wds.roundtrip_layer_sql()
    + " UNION ALL "
    + _mmidx.mm_roundtrip_layer_sql(),
)
_EXT["x26_domain_layer"] = (_warc.domain_layer, _warc.domain_layer_sql())

# x25: incremental dedup (new crawl vs reference corpus) over the
# deterministic doc_id%3 split — exact-hash flags + LSH near-dup best
# match + verdict per new doc. r11 adds the `bloom` kind slice: the
# same semantics through the Bloom-bitmap exact-path prefilter
# (pipeline.dedup.bloom_build/bloom_prefilter) — one oracle states
# both kinds, because the bitmap has no false negatives by
# construction; a bloom bug that drops a true dup breaks the hash.
_EXT["x25_dedup_against"] = (
    _dedup.dedup_against_docs,
    f"SELECT *, 'direct' AS kind FROM ({_dedup.dedup_against_docs_sql()}) "
    "UNION ALL "
    f"SELECT *, 'bloom' AS kind FROM ({_dedup.dedup_against_docs_sql()})",
)


# q17 runs the one-task greedy scan AND the two-level greedy_slices path
# as kind slices of one registration (same VALUES oracle twice): the
# driver hash-checks the parallel path's bit-identity every round.
# kind=dropref (r15) additionally runs the reference's bit-faithful
# DROP boundary semantics (src/agg/stream.rs:81-86) against its OWN
# independently-ported oracle (oracle._greedy_runs_drop), so both
# adjudicated boundary behaviors are hash-checked end-to-end and the
# deviation is proven to be exactly one dropped point per boundary.
_GREEDY_BOTH_KEY = "q17_greedy_avg"
_GREEDY_SLICE_W = 6 * HOUR


def _make_greedy_both(spec: tuple) -> Callable[[SparkSession, str], DataFrame]:
    base_fn = _make_query(spec)
    kind, metric, group_by, flt, start, end, gran, _mode = spec

    def _builder(spark: SparkSession, sf_dir: str):
        b = (
            getattr(Database.from_events(spark, sf_dir), kind)(metric, group_by)
            .filter(flt)
            .granularity(gran)
            .mode("greedy")
        )
        if start is not None:
            b = b.start(start)
        if end is not None:
            b = b.end(end)
        return b

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        single = base_fn(spark, sf_dir).withColumn("kind", F.lit("single"))
        sliced = (
            _builder(spark, sf_dir)
            .greedy_slices(_GREEDY_SLICE_W)
            .to_df()
            .withColumn("value", round6("value"))
            .withColumn("kind", F.lit("sliced"))
        )
        dropref = (
            _builder(spark, sf_dir)
            .greedy_boundary("drop")
            .to_df()
            .withColumn("value", round6("value"))
            .withColumn("kind", F.lit("dropref"))
        )
        return single.unionByName(sliced).unionByName(dropref)

    return run


def _make_query(spec: tuple) -> Callable[[SparkSession, str], DataFrame]:
    kind, metric, group_by, flt, start, end, gran, mode = spec

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from talna_spark.aggregate import percentile_q

        db = Database.from_events(spark, sf_dir)
        q = percentile_q(kind)
        if q is not None:
            b = db.percentile(metric, group_by, q)
        else:
            b = getattr(db, _METHOD_ALIASES.get(kind, kind))(metric, group_by)
        b = b.filter(flt).granularity(gran).mode(mode)
        if start is not None:
            b = b.start(start)
        if end is not None:
            b = b.end(end)
        # round like the oracle (absorbs summation-order float noise)
        return b.to_df().withColumn("value", round6("value"))

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001 (Q16 analog)."""
    return _make_query(_SPEC["q16_bench"])(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {name: _make_query(spec) for name, spec in _SPEC.items()}
    out[_GREEDY_BOTH_KEY] = _make_greedy_both(_SPEC[_GREEDY_BOTH_KEY])
    for name, parts in _UNION_SPEC.items():
        out[name] = _make_union_query(parts)
    for name, (fn, _sql) in _EXT.items():
        out[name] = fn
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    from talna_spark.oracle import greedy_events_values_sql

    for name, (kind, metric, group_by, flt, start, end, gran, mode) in _SPEC.items():
        if mode != "aligned":
            # Greedy (O27) is not SQL-expressible as a query over the raw
            # table; the oracle is a VALUES table of expected rows computed
            # by an independent literal-port evaluation (oracle.py). None
            # (testdata absent) -> driver records the weaker rows-only check.
            sql = greedy_events_values_sql(
                kind, metric, group_by, flt, start, end, gran
            )
            if sql is not None:
                if name == _GREEDY_BOTH_KEY:
                    # both physical paths against the same expected rows,
                    # plus the drop-boundary variant against ITS OWN
                    # independently-ported expected rows (r15)
                    drop_sql = greedy_events_values_sql(
                        kind, metric, group_by, flt, start, end, gran,
                        boundary="drop",
                    )
                    sql = (
                        f"SELECT *, 'single' AS kind FROM ({sql}) "
                        f"UNION ALL SELECT *, 'sliced' AS kind FROM ({sql}) "
                        f"UNION ALL SELECT *, 'dropref' AS kind "
                        f"FROM ({drop_sql})"
                    )
                out[name] = sql
            continue
        out[name] = events_query_sql(kind, metric, group_by, flt, start, end, gran)
    for name, parts in _UNION_SPEC.items():
        out[name] = _union_sql(parts)
    for name, (_fn, sql) in _EXT.items():
        if sql is not None:
            out[name] = sql
    return out
