"""Count-min sketch: never-undercount guarantee, exactness without
collisions, shard-merge property, cross-engine cell grid (DuckDB twin),
and bounded sketch size."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from talna_spark.pipeline.sketches import (
    CMS_D,
    CMS_W,
    cms_build,
    cms_estimate,
    cms_estimate_sql,
    cms_merge,
    cms_sql_cells,
)


def _freq_df(spark, freqs: dict):
    rows = [(k,) for k, n in freqs.items() for _ in range(n)]
    return spark.createDataFrame(rows, "v string")


def test_cms_never_undercounts_and_exact_without_collisions(spark):
    freqs = {f"key-{i}": (i % 7) + 1 for i in range(200)}
    d = _freq_df(spark, freqs)
    sk = cms_build(d, "v")
    assert sk.count() <= CMS_D * CMS_W  # bounded by the grid
    est = {
        r["v"]: r["est"]
        for r in cms_estimate(d.select("v").distinct(), "v", sk).collect()
    }
    assert set(est) == set(freqs)
    over = 0
    for k, n in freqs.items():
        assert est[k] >= n, (k, est[k], n)  # the CMS guarantee
        over += est[k] - n
    # 200*4 increments over a 4x4096 grid: collisions essentially zero
    assert over <= 4
    # unseen keys estimate EXACTLY zero (absent cells are true zeros)
    ghost = spark.createDataFrame([("never-seen",)], "v string")
    assert cms_estimate(ghost, "v", sk).collect()[0]["est"] == 0
    # NULL keys are not counted
    withnull = _freq_df(spark, {"a": 2}).unionByName(
        spark.createDataFrame([(None,)], "v string")
    )
    sk2 = cms_build(withnull, "v")
    assert sorted(
        (r["v"], r["est"])
        for r in cms_estimate(
            withnull.filter("v IS NOT NULL").distinct(), "v", sk2
        ).collect()
    ) == [("a", 2)]


def test_cms_shard_merge_equals_union(spark):
    a = _freq_df(spark, {"x": 3, "y": 1})
    b = _freq_df(spark, {"x": 2, "z": 5})
    merged = cms_merge(cms_build(a, "v"), cms_build(b, "v"))
    union = cms_build(a.unionByName(b), "v")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, union.collect())
    )
    est = {
        r["v"]: r["est"]
        for r in cms_estimate(
            spark.createDataFrame([("x",), ("y",), ("z",)], "v string"),
            "v",
            merged,
        ).collect()
    }
    assert est == {"x": 5, "y": 1, "z": 5}


def test_cms_cross_engine_cells_and_estimates(spark):
    """The DuckDB twin computes the IDENTICAL cell grid and estimates —
    the portable-hash contract that lets the x26 cms slice be
    driver-checked."""
    freqs = {f"dom{i}.example": i + 1 for i in range(50)}
    d = _freq_df(spark, freqs)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE vals (v VARCHAR)"
    )
    con.executemany(
        "INSERT INTO vals VALUES (?)",
        [(k,) for k, n in freqs.items() for _ in range(n)],
    )
    eng_cells = sorted(map(tuple, cms_build(d, "v").collect()))
    orc_cells = sorted(
        map(tuple, con.execute(cms_sql_cells("SELECT v FROM vals")).fetchall())
    )
    assert eng_cells == orc_cells
    eng_est = sorted(
        map(
            tuple,
            cms_estimate(d.select("v").distinct(), "v", cms_build(d, "v")).collect(),
        )
    )
    orc_est = sorted(
        map(
            tuple,
            con.execute(
                cms_estimate_sql(
                    "SELECT DISTINCT v FROM vals", "SELECT v FROM vals"
                )
            ).fetchall(),
        )
    )
    assert eng_est == orc_est


def test_cms_validation(spark):
    d = _freq_df(spark, {"a": 1})
    with pytest.raises(ValueError, match="w and depth"):
        cms_build(d, "v", w=0)
    with pytest.raises(ValueError, match="w and depth"):
        cms_build(d, "v", depth=0)


def test_cms_plan_is_sketch_sized(spark):
    """100 TB contract: the build shuffle is the hash-agg over (r, c)
    id-rows (map-side partials, never the key set); the estimate joins
    the sketch BROADCAST."""
    d = _freq_df(spark, {f"k{i}": 2 for i in range(50)})
    sk = cms_build(d, "v")
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "Window" not in plan
    est = cms_estimate(d.distinct(), "v", sk)
    eplan = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in eplan


# ------------------------------------------------------ linear counting
from talna_spark.pipeline.sketches import (  # noqa: E402
    LC_M,
    lc_build,
    lc_estimate,
    lc_estimate_sql,
    lc_merge,
    lc_sql_words,
)


def test_lc_estimate_accuracy_and_determinism(spark):
    """m=4096 bitmap over 3777 distincts (load ~0.9): the estimate lands
    within a few percent of truth, and repeated values change nothing
    (distinct-count semantics)."""
    d = spark.range(5000).select(
        F.concat(F.lit("v"), (F.col("id") % 3777).cast("string")).alias("v")
    )
    est = lc_estimate(lc_build(d, "v", m=4096), m=4096).collect()[0]
    assert est["set_bits"] + est["zero_bits"] == 4096
    assert abs(est["est"] - 3777) / 3777 < 0.05
    # duplicates are invisible: same bitmap from the distinct values
    once = d.distinct()
    assert sorted(map(tuple, lc_build(once, "v", m=4096).collect())) == sorted(
        map(tuple, lc_build(d, "v", m=4096).collect())
    )


def test_lc_shard_merge_equals_union(spark):
    a = spark.createDataFrame([("x",), ("y",)], "v string")
    b = spark.createDataFrame([("x",), ("z",), (None,)], "v string")
    merged = lc_merge(lc_build(a, "v", m=256), lc_build(b, "v", m=256))
    union = lc_build(a.unionByName(b), "v", m=256)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, union.collect())
    )
    est = lc_estimate(merged, m=256).collect()[0]
    assert est["set_bits"] == 3  # x, y, z — NULL not counted


def test_lc_cross_engine_words_and_estimate(spark):
    """The DuckDB twin builds the IDENTICAL word list and reports the
    IDENTICAL (set_bits, zero_bits, est) row at 6 dp — the portable
    contract behind the x26 lc slice."""
    vals = [f"dom{i}.example" for i in range(300)]
    d = spark.createDataFrame([(v,) for v in vals], "v string")
    con = duckdb.connect()
    con.execute("CREATE TABLE vals (v VARCHAR)")
    con.executemany("INSERT INTO vals VALUES (?)", [(v,) for v in vals])
    assert sorted(map(tuple, lc_build(d, "v", m=1024).collect())) == sorted(
        map(tuple, con.execute(lc_sql_words("SELECT v FROM vals", 1024)).fetchall())
    )
    assert tuple(lc_estimate(lc_build(d, "v", m=1024), m=1024).collect()[0]) == (
        con.execute(lc_estimate_sql("SELECT v FROM vals", 1024)).fetchall()[0]
    )


def test_lc_saturation_and_validation(spark):
    # a saturated bitmap (every bit set) has no finite estimate: NULL
    d = spark.range(20000).select(F.col("id").cast("string").alias("v"))
    est = lc_estimate(lc_build(d, "v", m=64), m=64).collect()[0]
    assert est["zero_bits"] == 0 and est["est"] is None
    with pytest.raises(ValueError, match="multiple of 64"):
        lc_build(d, "v", m=100)
    # empty input: zero set bits, estimate 0.0 (ln(m/m) == 0)
    empty = spark.createDataFrame([], "v string")
    est0 = lc_estimate(lc_build(empty, "v", m=256), m=256).collect()[0]
    assert est0["set_bits"] == 0 and est0["est"] == 0.0


def test_lc_plan_is_sketch_sized(spark):
    """100 TB contract: the only shuffle is the bit_or hash-agg over
    word-id rows (<= m/64 regardless of corpus size), map-side partials,
    no Window, no Python."""
    d = spark.range(1000).select(F.col("id").cast("string").alias("v"))
    bm = lc_build(d, "v", m=1024)
    plan = bm._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert bm.count() <= 1024 // 64


# ------------------------------------------------- bottom-k (r13)
from talna_spark.pipeline.sketches import (  # noqa: E402
    bk_build,
    bk_merge,
    bk_resemblance,
    bk_resemblance_sql,
    bk_sql,
)


def test_bk_exact_when_union_fits(spark):
    """|A u B| <= k: the estimator is EXACT Jaccard, by construction."""
    A = [f"a{i}" for i in range(30)] + [f"c{i}" for i in range(20)]
    B = [f"b{i}" for i in range(10)] + [f"c{i}" for i in range(20)]
    da = spark.createDataFrame([(v,) for v in A], "v string")
    db = spark.createDataFrame([(v,) for v in B], "v string")
    row = bk_resemblance(
        bk_build(da, "v", k=256), bk_build(db, "v", k=256), k=256
    ).collect()[0]
    true_j = len(set(A) & set(B)) / len(set(A) | set(B))
    assert row["n_union_k"] == len(set(A) | set(B))
    assert row["n_common"] == len(set(A) & set(B))
    assert row["est"] == pytest.approx(round(true_j, 6), abs=1e-9)


def test_bk_merge_equals_union_sketch(spark):
    """Shard-merge property: bottom-k of (A u B) from the two sketches
    == the sketch built over the union directly — at a k SMALLER than
    the union so truncation is active."""
    A = [f"v{i}" for i in range(0, 400)]
    B = [f"v{i}" for i in range(200, 600)]
    da = spark.createDataFrame([(v,) for v in A], "v string")
    db = spark.createDataFrame([(v,) for v in B], "v string")
    du = spark.createDataFrame([(v,) for v in set(A) | set(B)], "v string")
    merged = sorted(
        r["h"]
        for r in bk_merge(
            bk_build(da, "v", k=32), bk_build(db, "v", k=32), k=32
        ).collect()
    )
    direct = sorted(r["h"] for r in bk_build(du, "v", k=32).collect())
    assert merged == direct and len(direct) == 32


def test_bk_truncated_estimate_near_true_jaccard(spark):
    """Truncated regime (union >> k): the estimate is deterministic
    (fixed portable hashes) and lands near the true Jaccard — k=256
    over a union of 1500 with J = 0.25 has binomial std ~0.027, so a
    +-0.1 assertion is ~4 sigma and not flaky (and the value is FIXED
    given the hash function anyway)."""
    A = [f"s{i}" for i in range(0, 1000)]
    B = [f"s{i}" for i in range(500, 1500)]  # |A&B|=500, |AuB|=1500
    da = spark.createDataFrame([(v,) for v in A], "v string")
    db = spark.createDataFrame([(v,) for v in B], "v string")
    row = bk_resemblance(
        bk_build(da, "v", k=256), bk_build(db, "v", k=256), k=256
    ).collect()[0]
    assert row["n_union_k"] == 256
    assert abs(row["est"] - 500 / 1500) < 0.1
    with pytest.raises(ValueError, match="k must be"):
        bk_build(da, "v", k=0)


def test_bk_cross_engine_sketch_and_estimate(spark):
    """The DuckDB twin computes the IDENTICAL sketch hashes and the
    IDENTICAL (n_union_k, n_common, est) row — the portable contract
    behind the x26 bk slice."""
    A = [f"d{i}.example" for i in range(200)]
    B = [f"d{i}.example" for i in range(100, 300)]
    da = spark.createDataFrame([(v,) for v in A], "v string")
    db = spark.createDataFrame([(v,) for v in B], "v string")
    con = duckdb.connect()
    con.execute("CREATE TABLE va (v VARCHAR)")
    con.execute("CREATE TABLE vb (v VARCHAR)")
    con.executemany("INSERT INTO va VALUES (?)", [(v,) for v in A])
    con.executemany("INSERT INTO vb VALUES (?)", [(v,) for v in B])
    assert sorted(r["h"] for r in bk_build(da, "v", k=64).collect()) == [
        r[0] for r in con.execute(bk_sql("SELECT v FROM va", 64)).fetchall()
    ]
    got = tuple(
        bk_resemblance(
            bk_build(da, "v", k=64), bk_build(db, "v", k=64), k=64
        ).collect()[0]
    )
    want = con.execute(
        bk_resemblance_sql("SELECT v FROM va", "SELECT v FROM vb", k=64)
    ).fetchall()[0]
    assert got == tuple(want)


def test_bk_containment_exact_truncated_and_cross_engine(spark):
    """Containment est = |X∩A∩B| / |X∩A|: exact when the union fits k;
    near-true and deterministic truncated; DuckDB twin identical."""
    from talna_spark.pipeline.sketches import (
        bk_containment, bk_containment_sql,
    )

    # exact case: A half-inside B, union of 40 values fits k=256
    A = [f"a{i}" for i in range(20)] + [f"c{i}" for i in range(20)]
    B = [f"c{i}" for i in range(20)]
    da = spark.createDataFrame([(v,) for v in A], "v string")
    db = spark.createDataFrame([(v,) for v in B], "v string")
    row = bk_containment(
        bk_build(da, "v", k=256), bk_build(db, "v", k=256), k=256
    ).collect()[0]
    assert (row["n_a_k"], row["n_common"], row["est"]) == (40, 20, 0.5)

    # truncated: |A|=1000, |A∩B|=500 -> containment 0.5; k=256 over a
    # 1500-value union samples ~170 A-members, std ~0.04 — ±0.15 is
    # wide AND the value is fixed given the hash function
    A2 = [f"s{i}" for i in range(0, 1000)]
    B2 = [f"s{i}" for i in range(500, 1500)]
    da2 = spark.createDataFrame([(v,) for v in A2], "v string")
    db2 = spark.createDataFrame([(v,) for v in B2], "v string")
    row2 = bk_containment(
        bk_build(da2, "v", k=256), bk_build(db2, "v", k=256), k=256
    ).collect()[0]
    assert abs(row2["est"] - 0.5) < 0.15

    con = duckdb.connect()
    con.execute("CREATE TABLE ca (v VARCHAR)")
    con.execute("CREATE TABLE cb (v VARCHAR)")
    con.executemany("INSERT INTO ca VALUES (?)", [(v,) for v in A2])
    con.executemany("INSERT INTO cb VALUES (?)", [(v,) for v in B2])
    want = con.execute(
        bk_containment_sql("SELECT v FROM ca", "SELECT v FROM cb", k=256)
    ).fetchall()[0]
    assert tuple(row2) == tuple(want)


def test_bk_estimates_round_half_away_like_the_twin(spark):
    """5 common of 128 is 0.0390625, a tie at 6 dp: both estimators
    must round it half away from zero (0.039063) exactly as the DuckDB
    twins do, and two empty sketches give (0, 0, NULL) — one row, no
    divide-by-zero."""
    from talna_spark.pipeline.sketches import (
        bk_containment, bk_containment_sql,
    )

    def tables(A, B):
        con = duckdb.connect()
        for name, vals in (("ta", A), ("tb", B)):
            con.execute(f"CREATE TABLE {name} (v VARCHAR)")
            con.executemany(
                f"INSERT INTO {name} VALUES (?)", [(v,) for v in vals]
            )
        sk = [
            bk_build(spark.createDataFrame([(v,) for v in vals], "v string"),
                     "v", k=256)
            for vals in (A, B)
        ]
        return con, sk

    # |A u B| = 128 with 5 shared values
    A = [f"a{i}" for i in range(60)] + [f"c{i}" for i in range(5)]
    B = [f"b{i}" for i in range(63)] + [f"c{i}" for i in range(5)]
    con, (sa, sb) = tables(A, B)
    got = tuple(bk_resemblance(sa, sb, k=256).collect()[0])
    want = con.execute(
        bk_resemblance_sql("SELECT v FROM ta", "SELECT v FROM tb", k=256)
    ).fetchall()[0]
    assert got == tuple(want) == (128, 5, 0.039063)

    # n_a_k = 128 with 5 common
    A2 = [f"a{i}" for i in range(128)]
    B2 = [f"a{i}" for i in range(5)]
    con2, (sa2, sb2) = tables(A2, B2)
    got2 = tuple(bk_containment(sa2, sb2, k=256).collect()[0])
    want2 = con2.execute(
        bk_containment_sql("SELECT v FROM ta", "SELECT v FROM tb", k=256)
    ).fetchall()[0]
    assert got2 == tuple(want2) == (128, 5, 0.039063)

    empty = bk_build(spark.createDataFrame([], "v string"), "v", k=256)
    for fn in (bk_resemblance, bk_containment):
        assert [tuple(r) for r in fn(empty, empty, k=256).collect()] == [
            (0, 0, None)
        ]

    # the estimators are lazy columns: building them starts no job
    sc = spark.sparkContext
    sc.setJobGroup("bk-lazy", "bk estimator build")
    try:
        bk_resemblance(sa, sb, k=256)
        bk_containment(sa, sb, k=256)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("bk-lazy")) == []


def test_bk_grouped_matches_ungrouped_and_cross_engine(spark):
    """Grouped bottom-k: each group's sketch equals the UNgrouped sketch
    of that group's values (the two-phase top-k must not change
    results); per-group resemblance equals the scalar estimator per
    group; one-sided groups estimate 0; DuckDB twins identical."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.sketches import (
        bk_build_grouped,
        bk_grouped_sql,
        bk_resemblance_grouped,
        bk_resemblance_grouped_sql,
    )

    rows_a = (
        [("d1", f"a{i}") for i in range(300)]
        + [("d1", f"c{i}") for i in range(100)]
        + [("d2", f"x{i}") for i in range(50)]
        + [("donly_a", f"q{i}") for i in range(40)]
    )
    rows_b = (
        [("d1", f"b{i}") for i in range(300)]
        + [("d1", f"c{i}") for i in range(100)]
        + [("d2", f"x{i}") for i in range(50)]
    )
    da = spark.createDataFrame(rows_a, "g string, v string").repartition(7)
    db = spark.createDataFrame(rows_b, "g string, v string").repartition(5)

    K = 64
    ga = bk_build_grouped(da, "g", "v", k=K)
    # per-group equality with the scalar sketch
    for g in ("d1", "d2", "donly_a"):
        grp = sorted(r["h"] for r in ga.filter(F.col("g") == g).collect())
        scalar = sorted(
            r["h"]
            for r in bk_build(
                da.filter(F.col("g") == g), "v", k=K
            ).collect()
        )
        assert grp == scalar, g

    gb = bk_build_grouped(db, "g", "v", k=K)
    res = {
        r["g"]: (r["n_union_k"], r["n_common"], r["est"])
        for r in bk_resemblance_grouped(ga, gb, k=K).collect()
    }
    # d2 identical on both sides -> est 1.0 exactly (union fits k)
    assert res["d2"] == (50, 50, 1.0)
    # one-sided group -> 0 overlap
    assert res["donly_a"][1] == 0 and res["donly_a"][2] == 0.0
    # d1 (J = 100/700) equals the scalar estimator on the same sketches
    scalar_d1 = bk_resemblance(
        bk_build(da.filter("g = 'd1'"), "v", k=K),
        bk_build(db.filter("g = 'd1'"), "v", k=K),
        k=K,
    ).collect()[0]
    assert res["d1"] == (
        scalar_d1["n_union_k"],
        scalar_d1["n_common"],
        scalar_d1["est"],
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE ga_t (g VARCHAR, v VARCHAR)")
    con.execute("CREATE TABLE gb_t (g VARCHAR, v VARCHAR)")
    con.executemany("INSERT INTO ga_t VALUES (?, ?)", rows_a)
    con.executemany("INSERT INTO gb_t VALUES (?, ?)", rows_b)
    assert sorted(map(tuple, ga.collect())) == sorted(
        map(
            tuple,
            con.execute(
                bk_grouped_sql("SELECT g, v FROM ga_t", K)
            ).fetchall(),
        )
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                bk_resemblance_grouped_sql(
                    "SELECT g, v FROM ga_t", "SELECT g, v FROM gb_t", K
                )
            ).fetchall(),
        )
    )
    got = sorted(map(tuple, bk_resemblance_grouped(ga, gb, k=K).collect()))
    assert got == want


def test_qs_quantile_sample_exact_mergeable_cross_engine(spark):
    """r13 quantile sample: the hash gate is deterministic and
    mergeable (union of shard samples == sample of the union, exactly);
    qs_quantiles returns the type-1 order statistics of the sample
    (checked against a Python recomputation); DuckDB twins identical."""
    import math

    from pyspark.sql import functions as F

    from talna_spark.pipeline.sketches import (
        qs_build,
        qs_quantiles,
        qs_quantiles_sql,
        qs_sql,
    )

    d = spark.range(20000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 997).cast("long").alias("v"),
    )
    rate = 100_000  # 10% for a solid sample
    s = qs_build(d, "v", rate_ppm=rate)
    # mergeable: shard samples union to the full sample
    sh1 = qs_build(d.filter("doc_id % 2 = 0"), "v", rate_ppm=rate)
    sh2 = qs_build(d.filter("doc_id % 2 = 1"), "v", rate_ppm=rate)
    assert sorted(r["v"] for r in sh1.unionByName(sh2).collect()) == sorted(
        r["v"] for r in s.collect()
    )

    probs = [0.5, 0.9, 0.99]
    got = {r["p"]: r["v"] for r in qs_quantiles(s, probs).collect()}
    vals = sorted(r["v"] for r in s.collect())
    m = len(vals)
    for p in probs:
        assert got[p] == vals[max(1, math.ceil(p * m)) - 1], p
        # the 10% sample's quantile lands near the true distribution's
        assert abs(got[p] - p * 996) < 40, (p, got[p])

    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, v BIGINT)")
    con.execute(
        "INSERT INTO t SELECT i, i % 997 FROM generate_series(0, 19999) s(i)"
    )
    assert sorted(r["v"] for r in s.collect()) == sorted(
        r[0]
        for r in con.execute(
            qs_sql("SELECT doc_id, v FROM t", rate)
        ).fetchall()
    )
    want = dict(
        con.execute(
            qs_quantiles_sql("SELECT doc_id, v FROM t", probs, rate)
        ).fetchall()
    )
    assert got == want

    # empty sample -> no rows; bad rate -> loud
    import pytest

    empty = qs_build(d.filter("v IS NULL"), "v", rate_ppm=rate)
    assert qs_quantiles(empty, probs).count() == 0
    with pytest.raises(ValueError, match="rate_ppm"):
        qs_build(d, "v", rate_ppm=0)


# ------------------------------------------------- HLL + KMV (r13)
def test_hll_cross_engine_registers_and_all_branches(spark):
    """Registers AND the (buckets_set, zeros, est) row are cell-identical
    to the DuckDB twin on all three correction branches: small-range
    (zeros dominate), raw (dense registers, zeros may remain), and the
    empty corpus (est exactly 0)."""
    from talna_spark.pipeline.sketches import (
        hll_build,
        hll_estimate,
        hll_estimate_sql,
        hll_registers_sql,
    )

    con = duckdb.connect()
    for n, p in [(100, 12), (5000, 12), (5000, 7), (0, 12)]:
        d = (
            spark.range(n).select(
                F.concat(F.lit("val-"), F.col("id")).alias("v")
            )
            if n
            else spark.createDataFrame([], "v string")
        )
        vsql = (
            f"SELECT 'val-' || CAST(i AS VARCHAR) AS v "
            f"FROM generate_series(0, {n - 1}) s(i)"
            if n
            else "SELECT CAST(NULL AS VARCHAR) AS v WHERE 1 = 0"
        )
        sk = hll_build(d, "v", p=p)
        regs = sorted((r["bucket"], r["rho"]) for r in sk.collect())
        assert regs == sorted(
            con.execute(hll_registers_sql(vsql, p=p)).fetchall()
        ), (n, p)
        row = hll_estimate(sk, p=p).collect()[0]
        orow = con.execute(hll_estimate_sql(vsql, p=p)).fetchall()[0]
        assert (row["buckets_set"], row["zeros"], row["est"]) == orow, (n, p)
        if n:
            # ~1.04/sqrt(m) stderr: stay within ~4 sigma of the truth
            assert abs(row["est"] - n) / n < 4 * 1.04 / (1 << p) ** 0.5, (
                n,
                p,
                row["est"],
            )
        else:
            assert row["est"] == 0.0 and row["zeros"] == 1 << p


def test_hll_branch_selection_is_the_papers(spark):
    """100 distincts at p=12 take the small-range linear-counting form
    m*ln(m/zeros) EXACTLY; 5000 at p=7 saturate every register
    (zeros=0) and take the raw form — pinned against closed-form
    recomputation from the registers themselves."""
    import math

    from talna_spark.pipeline.sketches import (
        _hll_alpha,
        hll_build,
        hll_estimate,
    )

    d = spark.range(100).select(
        F.concat(F.lit("val-"), F.col("id")).alias("v")
    )
    row = hll_estimate(hll_build(d, "v", p=12), p=12).collect()[0]
    m = 1 << 12
    assert row["est"] == round(m * math.log(m / row["zeros"]), 6)

    d = spark.range(5000).select(
        F.concat(F.lit("val-"), F.col("id")).alias("v")
    )
    sk = hll_build(d, "v", p=7)
    regs = {r["bucket"]: r["rho"] for r in sk.collect()}
    row = hll_estimate(sk, p=7).collect()[0]
    m, q = 1 << 7, 33 - 7
    assert row["zeros"] == 0
    s_scaled = sum(1 << (q - regs.get(b, 0)) for b in range(m))
    want = _hll_alpha(m) * m * m * float(1 << q) / float(s_scaled)
    assert row["est"] == round(want, 6)


def test_hll_shard_merge_equals_union(spark):
    from talna_spark.pipeline.sketches import hll_build, hll_merge

    d = spark.range(3000).select(
        F.concat(F.lit("val-"), F.col("id")).alias("v")
    )
    sh = [
        hll_build(d.filter(F.col("id") % 3 == i), "v") for i in range(3)
    ]
    merged = sorted(
        (r["bucket"], r["rho"]) for r in hll_merge(*sh).collect()
    )
    whole = sorted(
        (r["bucket"], r["rho"]) for r in hll_build(d, "v").collect()
    )
    assert merged == whole


def test_hll_plan_is_sketch_sized_and_validation(spark):
    """100 TB contract: one max hash-agg over (bucket, rho) id-rows
    (map-side partials), <= 2^p rows out, no Window, no Python."""
    import pytest

    from talna_spark.pipeline.sketches import hll_build, hll_estimate

    d = spark.range(2000).select(F.col("id").cast("string").alias("v"))
    sk = hll_build(d, "v", p=7)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert sk.count() <= 1 << 7
    for bad in (6, 17):
        with pytest.raises(ValueError, match="p must be"):
            hll_build(d, "v", p=bad)
        with pytest.raises(ValueError, match="p must be"):
            hll_estimate(sk, p=bad)


def test_bk_cardinality_exact_estimator_and_cross_engine(spark):
    """< k distincts: exact (the sketch IS the distinct hash set);
    >= k: the KMV (k-1)*H/h_k estimate within ~4/sqrt(k) of truth —
    both rows cell-identical to the DuckDB twin."""
    from talna_spark.pipeline.sketches import (
        bk_build,
        bk_cardinality,
        bk_cardinality_sql,
    )

    con = duckdb.connect()
    for n, k in [(50, 256), (5000, 256)]:
        d = spark.range(n).select(
            F.concat(F.lit("val-"), F.col("id")).alias("v")
        )
        vsql = (
            "SELECT 'val-' || CAST(i AS VARCHAR) AS v "
            f"FROM generate_series(0, {n - 1}) s(i)"
        )
        row = bk_cardinality(bk_build(d, "v", k=k), k=k).collect()[0]
        orow = con.execute(bk_cardinality_sql(vsql, k=k)).fetchall()[0]
        assert (row["n_k"], row["est"]) == orow, (n, k)
        if n < k:
            assert row["est"] == float(n)
        else:
            assert abs(row["est"] - n) / n < 4 / k**0.5, (n, k, row["est"])


def test_hll_grouped_matches_scalar_merges_and_cross_engine(spark):
    """Per-group registers and estimates equal the scalar build on each
    group's subset; shard merges compose; the DuckDB twin is register-
    and estimate-identical."""
    from talna_spark.pipeline.sketches import (
        hll_build,
        hll_build_grouped,
        hll_estimate,
        hll_estimate_grouped,
        hll_estimate_grouped_sql,
        hll_grouped_registers_sql,
        hll_merge_grouped,
    )

    d = spark.range(251).select(
        F.when(F.col("id") < 200, F.lit("g0"))
        .when(F.col("id") < 250, F.lit("g1"))
        .otherwise(F.lit("g2"))
        .alias("g"),
        F.concat(F.lit("val-"), F.col("id")).alias("v"),
    )
    sk = hll_build_grouped(d, "g", "v", p=7)
    est = {
        r["g"]: (r["buckets_set"], r["zeros"], r["est"])
        for r in hll_estimate_grouped(sk, p=7).collect()
    }
    for g in ("g0", "g1", "g2"):
        sub = d.filter(F.col("g") == g).select("v")
        row = hll_estimate(hll_build(sub, "v", p=7), p=7).collect()[0]
        assert est[g] == (
            row["buckets_set"],
            row["zeros"],
            row["est"],
        ), g

    sh = [
        hll_build_grouped(d.filter(F.col("id") % 2 == i), "g", "v", p=7)
        for i in range(2)
    ]
    merged = sorted(
        (r["g"], r["bucket"], r["rho"])
        for r in hll_merge_grouped(*sh).collect()
    )
    whole = sorted((r["g"], r["bucket"], r["rho"]) for r in sk.collect())
    assert merged == whole

    vsql = (
        "SELECT CASE WHEN i < 200 THEN 'g0' WHEN i < 250 THEN 'g1' "
        "ELSE 'g2' END AS g, 'val-' || CAST(i AS VARCHAR) AS v "
        "FROM generate_series(0, 250) s(i)"
    )
    con = duckdb.connect()
    oregs = sorted(
        con.execute(hll_grouped_registers_sql(vsql, p=7)).fetchall()
    )
    assert whole == oregs
    oest = {
        g: (b, z, e)
        for g, b, z, e in con.execute(
            hll_estimate_grouped_sql(vsql, p=7)
        ).fetchall()
    }
    assert oest == est


def test_qs_grouped_matches_scalar_merges_and_cross_engine(spark):
    """Per-group quantiles equal the scalar extractor on each group's
    own sample, the hash gate makes shard samples union exactly, and
    the DuckDB twin returns identical (g, p, v) rows."""
    from talna_spark.pipeline.sketches import (
        qs_build,
        qs_build_grouped,
        qs_quantiles,
        qs_quantiles_grouped,
        qs_quantiles_grouped_sql,
    )

    d = spark.range(6000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("g"),
        ((F.col("id") % 997) * (F.col("id") % 3 + 1)).cast("long").alias("v"),
    )
    rate = 200_000
    probs = [0.5, 0.99]
    sg = qs_build_grouped(d, "g", "v", rate_ppm=rate)
    got = {
        (r["g"], r["p"]): r["v"]
        for r in qs_quantiles_grouped(sg, probs).collect()
    }
    for g in ("g0", "g1", "g2"):
        sub = qs_build(d.filter(F.col("g") == g), "v", rate_ppm=rate)
        want = {r["p"]: r["v"] for r in qs_quantiles(sub, probs).collect()}
        for p in probs:
            assert got[(g, p)] == want[p], (g, p)

    sh = [
        qs_build_grouped(
            d.filter(F.col("doc_id") % 2 == i), "g", "v", rate_ppm=rate
        )
        for i in range(2)
    ]
    assert sorted(
        (r["g"], r["v"]) for r in sh[0].unionByName(sh[1]).collect()
    ) == sorted((r["g"], r["v"]) for r in sg.collect())

    con = duckdb.connect()
    vsql = (
        "SELECT i AS doc_id, 'g' || CAST(i % 3 AS VARCHAR) AS g, "
        "CAST((i % 997) * (i % 3 + 1) AS BIGINT) AS v "
        "FROM generate_series(0, 5999) s(i)"
    )
    want = {
        (g, p): v
        for g, p, v in con.execute(
            qs_quantiles_grouped_sql(vsql, probs, rate_ppm=rate)
        ).fetchall()
    }
    assert got == want


def test_hll_saturation_nulls_on_both_engines(spark):
    """ADVICE r13: with every register at max rank, e_raw ~ alpha*2^33
    > 2^32 and the large-range correction's ln argument leaves its
    domain — previously Spark returned NULL silently while DuckDB
    ERRORED. Both engines must now return an EXPLICIT NULL (the lc
    saturation precedent): a saturated 32-bit HLL has no estimate."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.sketches import (
        _hll_alpha,
        _hll_check_p,
        _hll_est_case_sql,
        hll_estimate,
    )

    p, m, q = _hll_check_p(7)
    # a fully saturated register table: all m buckets at the rho cap
    sk = spark.range(m).select(
        F.col("id").cast("int").alias("bucket"), F.lit(q).cast("int").alias("rho")
    )
    row = hll_estimate(sk, p=p).collect()[0]
    assert row["buckets_set"] == m and row["zeros"] == 0
    assert row["est"] is None
    # the SQL twin's CASE takes the same explicit-NULL branch instead
    # of erroring in ln(): e_raw = alpha*m^2*2^q / (0*2^q + m*2^0)
    e_raw = _hll_alpha(m) * m * m * float(1 << q) / m
    assert e_raw >= float(1 << 32)  # the scenario is real, not synthetic
    con = duckdb.connect()
    got = con.execute(
        f"WITH e AS (SELECT CAST({m} AS BIGINT) AS cnt, "
        f"CAST(0 AS BIGINT) AS zeros, {e_raw!r} AS e_raw) "
        f"SELECT {_hll_est_case_sql(m, q)} AS est FROM e"
    ).fetchone()
    assert got[0] is None


def test_hll_saturation_guard_covers_rounding_window(spark):
    """ADVICE r14: an e_raw close enough below 2^32 that e_raw/2^32
    rounds to 1.0 would hit ln(0) inside the large-range branch —
    Spark F.log(0) -> NULL, DuckDB ln(0.0) -> error: the divergence
    the r13 guard closed, re-openable through rounding. (In strict
    IEEE754 the quotient of a double < 2^32 by 2^32 is exact and < 1,
    so the window is unreachable from real register tables — the
    guard is DEFENSIVE, protecting against any engine evaluating the
    division at different precision.) The guard branches to NULL at
    HLL_SAT_THRESHOLD = 2^32*(1-1e-12); both twins consume that ONE
    constant, and the shared CASE text returns NULL (not an error,
    not +inf) for an e_raw inside the window on BOTH engines."""
    import math

    from talna_spark.pipeline.sketches import (
        HLL_SAT_THRESHOLD,
        _hll_check_p,
        _hll_est_case_sql,
        _hll_est_cols,
    )

    p, m, q = _hll_check_p(7)
    case = _hll_est_case_sql(m, q)
    # one constant, two consumers: the SQL text carries it verbatim...
    assert repr(HLL_SAT_THRESHOLD) in case
    # ...and so does the Column twin's unresolved expression tree
    # (Java renders doubles in scientific notation — compare as floats)
    import re as _re

    _, est = _hll_est_cols(p)
    tree_doubles = {
        float(x) for x in _re.findall(r"\d+\.\d+E-?\d+", est._jc.toString())
    }
    assert HLL_SAT_THRESHOLD in tree_doubles

    two32 = float(1 << 32)
    inside = two32 * (1.0 - 1e-13)   # within the guard window, < 2^32
    outside = two32 * (1.0 - 1e-11)  # below the guard: correction runs
    assert HLL_SAT_THRESHOLD <= inside < two32
    assert outside < HLL_SAT_THRESHOLD
    for engine in ("duckdb", "spark"):
        run = (
            (lambda s: duckdb.connect().execute(s).fetchone())
            if engine == "duckdb"
            else (lambda s: tuple(spark.sql(s).collect()[0]))
        )
        got_in = run(
            f"WITH e AS (SELECT CAST({m} AS BIGINT) AS cnt, "
            f"CAST(0 AS BIGINT) AS zeros, {inside!r} AS e_raw) "
            f"SELECT {case} AS est FROM e"
        )
        assert got_in[0] is None, engine
        got_out = run(
            f"WITH e AS (SELECT CAST({m} AS BIGINT) AS cnt, "
            f"CAST(0 AS BIGINT) AS zeros, {outside!r} AS e_raw) "
            f"SELECT {case} AS est FROM e"
        )
        assert got_out[0] is not None and math.isfinite(got_out[0]), engine
