"""LSH hot-bucket guard: a degenerate corpus (identical-text flood) must
not go quadratic in the band self-join, and the exclusion must be
reported, never silent."""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def flood_dir():
    """1000 identical short docs (one LSH bucket per band) plus two
    distinct near-duplicate docs that share shingles with nothing else."""
    d = tempfile.mkdtemp(prefix="talna_lsh_flood_")
    boiler = "click here to accept all cookies on this site"
    near_a = "the quick brown fox jumps over the lazy dog tonight again"
    near_b = "the quick brown fox jumps over the lazy dog tonight"
    rows = [{"doc_id": i, "text": boiler} for i in range(1000)]
    rows.append({"doc_id": 2000, "text": near_a})
    rows.append({"doc_id": 2001, "text": near_b})
    pd.DataFrame(rows).to_parquet(os.path.join(d, "documents.parquet"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_lsh_hot_bucket_guard_bounds_candidates(spark, flood_dir):
    from talna_spark.pipeline.dedup import lsh_hot_buckets, lsh_near_dup_pairs

    cap = 50
    pairs = lsh_near_dup_pairs(spark, flood_dir, max_bucket=cap).collect()
    # the flood's ~500k within-bucket pairs are excluded wholesale; the
    # genuine near-dup pair outside the hot buckets is still found
    flood_pairs = [p for p in pairs if p["doc_a"] < 1000 and p["doc_b"] < 1000]
    assert flood_pairs == []
    assert any(
        (p["doc_a"], p["doc_b"]) == (2000, 2001) and p["jaccard"] >= 0.8
        for p in pairs
    )

    # ...and the exclusion is reported loudly: every band's flood bucket
    # appears with its true membership
    hot = lsh_hot_buckets(spark, flood_dir, max_bucket=cap).collect()
    assert len(hot) == 4  # one hot key per band (identical signatures)
    assert all(r["n_docs"] == 1000 for r in hot)


def test_lsh_default_cap_keeps_driver_corpus_intact(spark):
    from talna_spark.pipeline.dedup import lsh_hot_buckets

    # the driver testdata has no bucket anywhere near the default cap, so
    # x07's oracle comparison is unaffected by the guard
    assert lsh_hot_buckets(spark, SF).count() == 0


def test_bbit_banding_superset_and_sound(spark):
    """r13 b-bit minhash (Li & König 2010): masking band-key components
    is a projection, so b-bit candidates — and therefore VERIFIED pairs
    (same exact-Jaccard gate) — must be a superset of full-width
    banding's at every b; soundness holds because every returned pair
    passed the threshold. At b=1 the collision floor is 2^-2 per band
    and buckets flood, which is exactly where the superset claim would
    break if masking were not a projection."""
    from talna_spark.pipeline.dedup import (
        JACCARD_THRESHOLD, lsh_near_dup_pairs,
    )

    full = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_near_dup_pairs(spark, SF).collect()
    }
    assert full  # vacuous superset proves nothing
    for b in (8, 1):
        rows = lsh_near_dup_pairs(spark, SF, band_bits=b).collect()
        pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
        assert pairs >= full, f"b={b} lost pairs: {sorted(full - pairs)[:5]}"
        assert all(r["jaccard"] >= JACCARD_THRESHOLD for r in rows)

    import pytest

    with pytest.raises(ValueError, match="band_bits"):
        lsh_near_dup_pairs(spark, SF, band_bits=0)


def test_bloom_saturation_guard(spark):
    """r13: a saturated reference bitmap must fail LOUDLY in the
    per-batch path (the prefilter would pass everything and the
    candidate broadcasts would be batch-sized), with max_fp=1.0 as the
    deliberate opt-out — and the opt-out must still return correct
    verdicts (no false negatives regardless of fp)."""
    import pytest
    from pyspark.sql import functions as F

    from talna_spark.pipeline.dedup import (
        bloom_build,
        bloom_fp_estimate,
        exact_dedup_against_bloom,
    )

    ref = spark.range(5000).select(
        F.concat(F.lit("ref"), F.col("id")).alias("text"),
        F.col("id").alias("doc_id"),
    )
    new = spark.createDataFrame(
        [(1, "ref7"), (2, "fresh text")], "doc_id long, text string"
    )
    # m=64 for 5000 values: fill ~1.0, fp ~1.0
    tiny = bloom_build(ref.select(F.md5("text").alias("_h")), "_h", m=64)
    assert bloom_fp_estimate(tiny, 64) > 0.9
    with pytest.raises(ValueError, match="saturated"):
        exact_dedup_against_bloom(new, ref, tiny, m=64)
    got = {
        r["doc_id"]: r["exact_dup"]
        for r in exact_dedup_against_bloom(
            new, ref, tiny, m=64, max_fp=1.0
        ).collect()
    }
    assert got == {1: True, 2: False}
    # a healthy bitmap passes the guard
    ok = bloom_build(
        ref.select(F.md5("text").alias("_h")), "_h", m=1 << 16
    )
    assert bloom_fp_estimate(ok, 1 << 16) < 0.01


def test_dedup_against_frames_shares_the_saturation_guard(spark):
    """dedup_against_frames takes its exact leg from
    exact_dedup_against_bloom, so a saturated prebuilt bitmap raises
    the same ValueError there too."""
    import pytest
    from pyspark.sql import functions as F

    from talna_spark.pipeline.dedup import bloom_build, dedup_against_frames

    ref = spark.range(5000).select(
        F.concat(F.lit("ref"), F.col("id")).alias("text"),
        F.col("id").alias("doc_id"),
    )
    new = spark.createDataFrame(
        [(1, "ref7"), (2, "fresh text")], "doc_id long, text string"
    )
    tiny = bloom_build(ref.select(F.md5("text").alias("_h")), "_h", m=64)
    with pytest.raises(ValueError, match="saturated"):
        dedup_against_frames(new, ref, bloom_bm=tiny, m=64)


def test_exact_dedup_catches_the_flood(spark, flood_dir):
    from talna_spark.pipeline.dedup import exact_survivors

    # the documented division of labor: identical-text floods are exact
    # dedup's job — one hash-agg row for all 1000 copies
    rows = exact_survivors(spark, flood_dir).collect()
    flood = [r for r in rows if r["n_copies"] == 1000]
    assert len(flood) == 1 and flood[0]["keep_doc"] == 0


def test_dedup_against_reference_corpus(spark):
    """Incremental crawl dedup: new docs flagged against an EXISTING
    corpus — exact byte-dups, LSH-verified near-dups (best match
    reported), genuinely new content, and no new-vs-new flagging."""
    import os
    import tempfile

    from talna_spark.pipeline.dedup import dedup_against

    ref_texts = {
        100: "the quick brown fox jumps over the lazy dog every day",
        101: "completely unrelated reference text about spark engines",
        102: "another unrelated reference document with its own words",
    }
    new_texts = {
        # 0: byte-identical to ref 100 -> exact_dup
        0: ref_texts[100],
        # 1: near-dup of ref 100 (one word changed) -> near_dup
        1: "the quick brown fox jumps over the lazy dog every night",
        # 2: genuinely new
        2: "fresh crawl content that matches nothing in the archive",
        # 3 and 4: identical to EACH OTHER but absent from the reference
        # -> both 'new' (new-vs-new is lsh_near_dup_pairs' job)
        3: "duplicated only within the new batch not in the reference",
        4: "duplicated only within the new batch not in the reference",
    }
    d = tempfile.mkdtemp(prefix="talna_incr_")
    try:
        os.makedirs(os.path.join(d, "ref"))
        os.makedirs(os.path.join(d, "new"))
        pd.DataFrame(
            [{"doc_id": k, "text": v} for k, v in ref_texts.items()]
        ).to_parquet(os.path.join(d, "ref", "documents.parquet"))
        pd.DataFrame(
            [{"doc_id": k, "text": v} for k, v in new_texts.items()]
        ).to_parquet(os.path.join(d, "new", "documents.parquet"))

        out = {
            r["doc_id"]: r
            for r in dedup_against(
                spark, os.path.join(d, "new"), os.path.join(d, "ref")
            ).collect()
        }
        assert out[0]["verdict"] == "exact_dup"
        assert out[1]["verdict"] == "near_dup"
        assert out[1]["ref_doc_id"] == 100 and out[1]["jaccard"] >= 0.8
        assert out[2]["verdict"] == "new"
        assert out[3]["verdict"] == "new" and out[4]["verdict"] == "new"
        # non-near rows carry nulls, not garbage
        assert out[2]["ref_doc_id"] is None and out[2]["jaccard"] is None
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_paragraph_dedup_first_occurrence_wins(spark, tmp_path):
    """CCNet paragraph dedup: the globally-first copy of a duplicated
    paragraph survives, later copies are removed, whitespace-only lines
    are never deduplicated, and the reassembled text is exact (md5);
    engines agree row-for-row."""
    import hashlib

    import duckdb

    from talna_spark.pipeline.dedup import paragraph_dedup, paragraph_dedup_sql

    rows = [
        (1, "alpha beta.\nshared para here.\nunique one.", "en", "s", 1),
        (2, "shared para here.\n\nunique two.", "en", "s", 1),
        (3, "unique three.\n  shared para here.  ", "en", "s", 1),  # trimmed match
        (4, "", "en", "s", 1),
    ]
    d = str(tmp_path / "pd")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    got = {r["doc_id"]: r for r in paragraph_dedup(spark, d).collect()}
    # doc 1 owns the shared paragraph (lowest doc_id) -> untouched
    assert got[1]["removed_paras"] == 0
    assert got[1]["clean_hash"] == hashlib.md5(rows[0][1].encode()).hexdigest()
    # doc 2 loses its copy; the empty line stays
    assert got[2]["removed_paras"] == 1
    assert got[2]["clean_hash"] == hashlib.md5(b"\nunique two.").hexdigest()
    # doc 3's padded variant trims equal -> removed too
    assert got[3]["removed_paras"] == 1
    assert got[3]["clean_hash"] == hashlib.md5(b"unique three.").hexdigest()
    # empty doc: one empty "paragraph", kept
    assert got[4]["n_paras"] == 1 and got[4]["removed_paras"] == 0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    oracle = {row[0]: row for row in con.execute(paragraph_dedup_sql()).fetchall()}
    for did, r in got.items():
        assert oracle[did] == (
            did, r["n_paras"], r["removed_paras"], r["clean_hash"]
        ), f"doc {did} engine mismatch"


def test_dup_span_maximal_coalesces_one_span(spark, tmp_path):
    """The Lee et al. suffix-granularity contract: two docs sharing a
    50-token passage dedup as ONE maximal 50-token span — not 46
    overlapping 5-grams — and the reconstruction md5 is exact."""
    import hashlib

    import duckdb

    from talna_spark.pipeline.dedup import (
        dup_span_maximal, dup_span_maximal_sql,
    )

    shared = " ".join(f"s{i}" for i in range(50))  # 50 shared tokens
    short = "tiny shared bit here five"            # 5 tokens: one 5-gram
    rows = [
        (1, f"a1 a2 a3 {shared} a4 a5", "en", "s", 1),
        (2, f"{shared} b1 b2 b3 b4 b5 b6", "en", "s", 1),
        (3, f"c1 c2 {short} c3 c4", "en", "s", 1),   # below threshold
        (4, f"d1 d2 {short} d3 d4", "en", "s", 1),
        (5, "", "en", "s", 1),
    ]
    d = str(tmp_path / "ms")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    got = {
        r["doc_id"]: r
        for r in dup_span_maximal(spark, d, min_tokens=10).collect()
    }
    # ONE coalesced span of exactly 50 tokens in each sharing doc
    for did, expect_clean in [(1, "a1 a2 a3 a4 a5"), (2, "b1 b2 b3 b4 b5 b6")]:
        assert got[did]["n_spans"] == 1, got[did]
        assert got[did]["span_tokens"] == 50
        assert got[did]["clean_hash"] == hashlib.md5(
            expect_clean.encode()
        ).hexdigest()
    # the 5-token shared run is a real cross-doc duplicate but sits
    # below min_tokens -> survives untouched (unlike dup_span_clean)
    for did, txt in [(3, rows[2][1]), (4, rows[3][1])]:
        assert got[did]["n_spans"] == 0 and got[did]["span_tokens"] == 0
        assert got[did]["clean_hash"] == hashlib.md5(txt.encode()).hexdigest()
    assert got[5]["kept_tokens"] == 1  # split('') -> [''] : the empty token

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    oracle = {
        row[0]: row
        for row in con.execute(dup_span_maximal_sql(min_tokens=10)).fetchall()
    }
    for did, r in got.items():
        assert oracle[did] == (
            did, r["n_spans"], r["span_tokens"], r["kept_tokens"],
            r["clean_hash"],
        ), f"doc {did} engine mismatch"


def test_dup_span_maximal_multiple_spans_and_validation(spark, tmp_path):
    """Two disjoint shared passages in one doc produce TWO spans; a
    min_tokens below k is rejected loudly."""
    import pytest as _pytest

    from talna_spark.pipeline.dedup import dup_span_maximal

    p1 = " ".join(f"x{i}" for i in range(12))
    p2 = " ".join(f"y{i}" for i in range(15))
    rows = [
        (1, f"{p1} mid1 mid2 mid3 {p2}", "en", "s", 1),
        (2, f"{p1} other tail", "en", "s", 1),
        (3, f"lead {p2}", "en", "s", 1),
    ]
    d = str(tmp_path / "ms2")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    got = {
        r["doc_id"]: r
        for r in dup_span_maximal(spark, d, min_tokens=10).collect()
    }
    assert got[1]["n_spans"] == 2 and got[1]["span_tokens"] == 27
    assert got[1]["kept_tokens"] == 3
    assert got[2]["n_spans"] == 1 and got[2]["span_tokens"] == 12
    assert got[3]["n_spans"] == 1 and got[3]["span_tokens"] == 15

    with _pytest.raises(ValueError, match="min_tokens"):
        dup_span_maximal(spark, d, min_tokens=3)


def test_dup_span_maximal_text_never_shuffles(spark):
    # 100 TB contract: no Exchange row carries the text column
    from talna_spark.pipeline.dedup import dup_span_maximal

    df = dup_span_maximal(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line and "text#" in line:
            raise AssertionError(f"document text crosses a shuffle: {line}")


def test_paragraph_dedup_text_never_shuffles(spark):
    # 100 TB contract: no Exchange row carries the text column
    from talna_spark.pipeline.dedup import paragraph_dedup

    df = paragraph_dedup(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line and "text#" in line:
            raise AssertionError(f"document text crosses a shuffle: {line}")


def test_within_doc_line_dedup(spark, tmp_path):
    """Within-doc repeated lines keep only their first copy; trimmed
    variants match; whitespace-only lines are structure; repeats ACROSS
    docs are untouched (that's paragraph_dedup's job); zero-shuffle
    plan; engines row-identical."""
    import hashlib

    import duckdb

    from talna_spark.pipeline.dedup import (
        within_doc_line_dedup, within_doc_line_dedup_sql,
    )

    rows = [
        (1, "menu\nbody one.\nmenu\n\nbody two.\n  menu  ", "en", "s", 1),
        (2, "menu\nunique text here.", "en", "s", 1),  # cross-doc: kept
        (3, "", "en", "s", 1),
        (4, "a\n\n\na", "en", "s", 1),  # blank lines never dedup
    ]
    d = str(tmp_path / "wd")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    got = {r["doc_id"]: r for r in within_doc_line_dedup(spark, d).collect()}

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert got[1]["n_lines"] == 6 and got[1]["removed_lines"] == 2
    assert got[1]["clean_hash"] == h("menu\nbody one.\n\nbody two.")
    assert got[2]["removed_lines"] == 0
    assert got[2]["clean_hash"] == h(rows[1][1])
    assert got[3]["removed_lines"] == 0
    assert got[4]["n_lines"] == 4 and got[4]["removed_lines"] == 1
    assert got[4]["clean_hash"] == h("a\n\n")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    oracle = {
        r[0]: r for r in con.execute(within_doc_line_dedup_sql()).fetchall()
    }
    for did, r in got.items():
        assert oracle[did] == (
            did, r["n_lines"], r["removed_lines"], r["clean_hash"]
        ), did

    # 100 TB contract: pure map-side — NO Exchange at all
    plan = (
        within_doc_line_dedup(spark, d)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_simhash_pairs_exact_vs_brute_force(spark):
    """The Manku pigeonhole contract, proven against brute force: for
    max_hamming < bands, the band-join finds EXACTLY the pairs within
    the Hamming threshold — no recall loss, no false positives (the
    verify step), over the whole sf0.001 corpus."""
    from talna_spark.pipeline.dedup import (
        SIMHASH_MAX_HAMMING, simhash, simhash_near_dup_pairs,
    )

    sf = "/root/testdata/sf0.001"
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(spark, sf).collect()}
    ids = sorted(sigs)
    want = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= SIMHASH_MAX_HAMMING
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_near_dup_pairs(spark, sf).collect()
    }
    assert got == want and len(got) > 0


def test_simhash_pairs_validation_and_zero_hamming(spark, tmp_path):
    import pandas as pd
    import pytest as _pytest

    from talna_spark.pipeline.dedup import simhash_near_dup_pairs

    d = str(tmp_path / "sh")
    import os

    os.makedirs(d)
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "identical text body here",
                "identical text body here",   # hamming 0 with doc 1
                "completely different words unrelated entirely",
                None,  # NULL text -> fingerprint 0 (not NULL), no crash
            ],
        }
    ).to_parquet(f"{d}/documents.parquet")
    from talna_spark.pipeline.dedup import simhash

    sigs = {r["doc_id"]: r["simhash"] for r in simhash(spark, d).collect()}
    assert sigs[4] == 0 and sigs[1] == sigs[2] != 0
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(spark, d).collect()
    }
    assert got.get((1, 2)) == 0
    with _pytest.raises(ValueError, match="bands"):
        simhash_near_dup_pairs(spark, d, bands=7)  # 7 does not divide 60
    with _pytest.raises(ValueError, match="bits"):
        simhash_near_dup_pairs(spark, d, bits=64)  # hash64 is 60-bit


def test_simhash_hot_bucket_cap_excludes_and_reports(spark, tmp_path):
    """r11 (VERDICT r10 item 2): a boilerplate flood sharing one band
    value must not go quadratic — buckets over the cap are EXCLUDED
    from candidate generation and REPORTED by simhash_hot_buckets with
    the same cap. 12 identical docs (every band floods) + 2 distinct
    near-dups: with max_bucket=10 the flood contributes zero pairs and
    four hot buckets; with the default cap the flood pairs appear."""
    import os

    import pandas as pd

    from talna_spark.pipeline.dedup import (
        simhash_hot_buckets,
        simhash_near_dup_pairs,
    )

    d = str(tmp_path / "shf")
    os.makedirs(d)
    flood = ["copyright footer boilerplate navigation menu text"] * 12
    rows = [(i, t) for i, t in enumerate(flood)]
    rows += [(100, "unique alpha beta gamma document"),
             (101, "unique alpha beta gamma document")]
    pd.DataFrame(
        {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}
    ).to_parquet(f"{d}/documents.parquet")
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dup_pairs(spark, d, max_bucket=10).collect()
    }
    assert capped == {(100, 101)}  # flood excluded, real pair kept
    hot = simhash_hot_buckets(spark, d, max_bucket=10).collect()
    assert len(hot) == 4  # all 4 bands of the identical fingerprint
    assert all(r["n_docs"] == 12 for r in hot)
    # default cap: the flood is small enough to pass, pairs reappear
    full = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dup_pairs(spark, d).collect()
    }
    assert (0, 1) in full and (100, 101) in full
    assert simhash_hot_buckets(spark, d).collect() == []


def test_minhash_signature_empty_shingles_null(spark, tmp_path):
    """r11: the one-fold signature must keep array_min's semantics —
    docs with fewer than SHINGLE_K words have an EMPTY shingle array
    and every h_i is NULL (the surviving fold init maps back), while
    real signatures stay in [0, MINHASH_P) and identical texts get
    identical signatures."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from talna_spark.pipeline.dedup import (
        MINHASH_H,
        MINHASH_P,
        SHINGLE_K,
        _base_hashes,
        _minhash_cols_from_base,
    )
    from talna_spark.pipeline.portable import shingles, tokens

    d = str(tmp_path / "mh")
    os.makedirs(d)
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "too short",  # < SHINGLE_K words -> empty shingles
                "a full sentence with plenty of words in it",
                "a full sentence with plenty of words in it",
                None,
            ],
        }
    ).to_parquet(f"{d}/documents.parquet")
    assert SHINGLE_K > 2  # fixture assumption
    sh = shingles(tokens(F.col("text")), SHINGLE_K)
    sig = {
        r["doc_id"]: [r[f"h{i}"] for i in range(MINHASH_H)]
        for r in spark.read.parquet(f"{d}/documents.parquet")
        .select("doc_id", *_minhash_cols_from_base(_base_hashes(sh)))
        .collect()
    }
    assert sig[0] == [None] * MINHASH_H
    assert sig[3] == [None] * MINHASH_H  # NULL text
    assert sig[1] == sig[2]
    assert all(v is not None and 0 <= v < MINHASH_P for v in sig[1])


def test_bloom_bitmap_cross_engine_and_properties(spark, tmp_path):
    """r11 Bloom sketch: (1) the bitmap words are bit-identical to an
    independent DuckDB computation of the same double-hashed positions;
    (2) NO false negatives — every inserted value passes membership on
    BOTH strategy paths, which are themselves bit-identical; (3) the
    filter is selective (non-members mostly rejected at the default m);
    (4) per-shard bitmaps OR-merge to the union's bitmap."""
    import duckdb
    from pyspark.sql import functions as F

    from talna_spark.pipeline.dedup import (
        BLOOM_BITS,
        BLOOM_K,
        bloom_build,
        bloom_merge,
        bloom_prefilter,
        bloom_to_words,
    )
    from talna_spark.pipeline.portable import hash64_sql

    vals = [f"member-{i}" for i in range(300)]
    d = spark.createDataFrame([(v,) for v in vals], "v string")
    bm = bloom_build(d, "v")
    words = bloom_to_words(bm)

    # (1) DuckDB twin: same positions, same words
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE vals AS SELECT 'member-' || CAST(r AS VARCHAR) AS v "
        "FROM range(300) t(r)"
    )
    h1 = hash64_sql("'bl1|' || v")
    h2 = hash64_sql("'bl2|' || v")
    # DuckDB refuses a checked 1 << 63 (sign bit); Spark wraps to
    # -2^63, so the twin states the wrapped value explicitly
    mask = (
        "CASE WHEN p % 64 = 63 THEN CAST(-9223372036854775808 AS BIGINT) "
        "ELSE CAST(1 AS BIGINT) << CAST(p % 64 AS INT) END"
    )
    twin = dict(
        con.execute(
            f"SELECT p // 64 AS w, bit_or({mask}) AS bits FROM ("
            f"SELECT (({h1}) + i * ({h2})) % {BLOOM_BITS} AS p "
            f"FROM vals, unnest(generate_series(0, {BLOOM_K - 1})) t(i)"
            f") GROUP BY 1"
        ).fetchall()
    )
    want = [twin.get(i, 0) for i in range(BLOOM_BITS // 64)]
    assert words == want

    # (2) no false negatives + strategy paths bit-identical
    probe = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)]
        + [(1000 + i, f"absent-{i}") for i in range(300)],
        "doc_id long, v string",
    )
    lit_pass = {
        r["doc_id"]
        for r in bloom_prefilter(probe, "v", bm).collect()
    }
    # a 2^17-bit bitmap (2048 words) takes the join path
    join_pass = {
        r["doc_id"]
        for r in bloom_prefilter(
            probe, "v", bloom_build(d, "v", m=1 << 17), m=1 << 17
        ).collect()
    }
    assert lit_pass == join_pass
    assert set(range(300)) <= lit_pass  # every member passes
    # (3) selective: most absentees rejected (2^16 bits, 300*4 set bits
    # -> fp ~ (1200/65536)^4, essentially zero)
    assert len(lit_pass - set(range(300))) <= 2

    # (4) shard merge == union build
    d1 = spark.createDataFrame([(v,) for v in vals[:150]], "v string")
    d2 = spark.createDataFrame([(v,) for v in vals[150:]], "v string")
    merged = bloom_to_words(bloom_merge(bloom_build(d1, "v"), bloom_build(d2, "v")))
    assert merged == words


def test_dedup_against_bloom_prefilter_identical(spark):
    """The bloom-prefiltered exact path must produce EXACTLY the plain
    dedup_against verdicts on real data (no false negatives -> verify
    recovers precision; a dropped true dup would diverge here)."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.dedup import dedup_against_frames
    from talna_spark.pipeline.scan import read_documents

    from talna_spark.pipeline.dedup import bloom_build

    def bitmap(ref):
        return bloom_build(
            ref.select(F.md5("text").alias("_h")), "_h", m=1 << 16
        )

    d = read_documents(spark, "/root/testdata/sf0.001", "doc_id", "text")
    new_d = d.filter(F.col("doc_id") % 3 != 0)
    ref_d = d.filter(F.col("doc_id") % 3 == 0)
    plain = sorted(
        map(tuple, dedup_against_frames(new_d, ref_d).collect())
    )
    bloomed = sorted(
        map(
            tuple,
            dedup_against_frames(
                new_d, ref_d, bloom_bm=bitmap(ref_d), m=1 << 16
            ).collect(),
        )
    )
    assert plain == bloomed and plain
    # r13: a checkpointed bitmap (the amortized per-batch path) must
    # give the same verdicts
    bm = bitmap(ref_d).localCheckpoint()
    prebuilt = sorted(
        map(
            tuple,
            dedup_against_frames(
                new_d, ref_d, bloom_bm=bm, m=1 << 16
            ).collect(),
        )
    )
    assert prebuilt == plain
    # and the exact-only per-batch helper agrees with the exact slice
    from talna_spark.pipeline.dedup import exact_dedup_against_bloom

    exact_want = {
        did: (v == "exact_dup") for did, v, _, _ in plain
    }
    exact_got = {
        r["doc_id"]: r["exact_dup"]
        for r in exact_dedup_against_bloom(
            new_d, ref_d, bm, m=1 << 16
        ).collect()
    }
    assert exact_got == exact_want
    verdicts = {v for _, v, _, _ in plain}
    assert "near_dup" in verdicts and "new" in verdicts
    # exact dups specifically must survive the prefilter: a synthetic
    # pair where the new doc is byte-identical to a reference doc
    new2 = spark.createDataFrame(
        [(1, "the exact same text"), (2, "something else entirely")],
        "doc_id long, text string",
    )
    ref2 = spark.createDataFrame(
        [(100, "the exact same text")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["verdict"]
        for r in dedup_against_frames(
            new2, ref2, bloom_bm=bitmap(ref2), m=1 << 16
        ).collect()
    }
    assert got[1] == "exact_dup" and got[2] == "new"
    # NULL-text reference docs must not break the bitmap build
    # (md5(NULL) is NULL; unfiltered it produced a NULL cell that
    # crashed bloom_to_words)
    ref3 = spark.createDataFrame(
        [(100, "the exact same text"), (101, None)],
        "doc_id long, text string",
    )
    got3 = {
        r["doc_id"]: r["verdict"]
        for r in dedup_against_frames(
            new2, ref3, bloom_bm=bitmap(ref3), m=1 << 16
        ).collect()
    }
    assert got3[1] == "exact_dup" and got3[2] == "new"


def test_bloom_bits_for_sizing():
    """Pure-math sizing rule: the returned m actually delivers <= the
    target fp under the closed form, lands near the standard
    bits-per-value figures, and validates its inputs. (No Spark.)"""
    import math

    import pytest

    from talna_spark.pipeline.dedup import bloom_bits_for

    for n, fp, k in [(10**6, 0.01, 4), (4_000_000, 0.14, 2), (5000, 0.02, 4)]:
        m = bloom_bits_for(n, fp, k)
        assert m % 64 == 0
        achieved = (1.0 - math.exp(-k * n / m)) ** k
        assert achieved <= fp + 1e-9, (n, fp, k, m, achieved)
        # not wildly oversized: 64 bits under m would miss the target
        if m > 64:
            worse = (1.0 - math.exp(-k * n / (m - 64))) ** k
            assert worse > fp - 1e-9
    # the standard figure: ~10.5 bits/value for 1% at k=4
    assert 10.0 < bloom_bits_for(10**6, 0.01, 4) / 10**6 < 11.0
    assert bloom_bits_for(0) == 64
    with pytest.raises(ValueError):
        bloom_bits_for(-1)
    with pytest.raises(ValueError):
        bloom_bits_for(10, fp=0.0)
    with pytest.raises(ValueError):
        bloom_bits_for(10, k=8)


def test_lsh_params_for_reproduces_shipped_constants_and_steers(spark):
    """The sizing rule as code: at the engine's own MINHASH_H and the
    0.5 near-dup threshold it returns exactly the shipped
    (LSH_BANDS, LSH_ROWS) split; the S-curve is monotone in s with the
    exact r=1 closed form; fn_weight steers bands up (recall-leaning)
    or down (verification-cost-leaning); bad args fail loudly."""
    import pytest

    from talna_spark.pipeline.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_H,
        lsh_collision_probability,
        lsh_params_for,
    )

    assert lsh_params_for(0.5, MINHASH_H) == (LSH_BANDS, LSH_ROWS)
    # the classic datasketch figure: threshold 0.5 at 128 perms
    assert lsh_params_for(0.5, 128) == (32, 4)

    # S-curve: exact closed form at rows=1, monotone non-decreasing in s
    for b in (1, 4, 16):
        assert lsh_collision_probability(0.3, b, 1) == pytest.approx(
            1 - (1 - 0.3) ** b
        )
    ps = [lsh_collision_probability(s / 20, 16, 8) for s in range(21)]
    assert ps == sorted(ps) and ps[0] == 0.0 and ps[-1] == 1.0

    # recall-leaning picks at least as many bands as precision-leaning
    b_recall, _ = lsh_params_for(0.5, 128, fn_weight=0.9)
    b_precision, _ = lsh_params_for(0.5, 128, fn_weight=0.1)
    assert b_recall >= b_precision
    # factorization always exact
    for thr in (0.3, 0.5, 0.8):
        b, r = lsh_params_for(thr, 96)
        assert b * r == 96

    for bad in (0.0, 1.0, -1):
        with pytest.raises(ValueError):
            lsh_params_for(bad, 128)
    with pytest.raises(ValueError):
        lsh_params_for(0.5, 0)
    with pytest.raises(ValueError):
        lsh_collision_probability(1.5, 4, 2)


def test_bloom_to_words_rejects_bitmap_built_with_larger_m(spark):
    """A bitmap built with a larger m than the caller passes has words
    past the end of the m/64 list: a typed ValueError naming both sizes,
    never a raw IndexError — on the collect helper and on the per-batch
    path's single collect of the literal bitmap."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.dedup import (
        bloom_build,
        bloom_to_words,
        exact_dedup_against_bloom,
    )

    ref = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("ref "), F.col("id")).alias("text"),
    )
    big = bloom_build(ref.select(F.md5("text").alias("_h")), "_h", m=1 << 17)
    with pytest.raises(ValueError, match=r"needs m >= \d+ bits, but m = 65536"):
        bloom_to_words(big, 1 << 16)
    assert len(bloom_to_words(big, 1 << 17)) == (1 << 17) // 64
    new = spark.createDataFrame([(1, "ref 7")], "doc_id long, text string")
    with pytest.raises(ValueError, match=r"but m = 65536 \(1024 words\)"):
        exact_dedup_against_bloom(new, ref, big, m=1 << 16)


def _bloom_edge_frames(spark):
    """(new, ref): a reference text repeated 300 times, new doc_ids
    carrying several texts (a dup beside a fresh text; two fresh texts;
    the same dup row twice), a NULL-text new doc and plain fresh docs."""
    rep = "boilerplate footer text that the crawler keeps finding again"

    def t(tag, i):
        return f"{tag} document number {i} with enough words to shingle"

    ref_rows = [(1000 + i, t("reference", i)) for i in range(40)]
    ref_rows += [(2000 + i, rep) for i in range(300)]
    new_rows = [
        (1, rep),
        (2, t("reference", 3)),
        (3, t("fresh", 1)),
        (4, t("fresh", 2)),
        (4, t("reference", 5)),
        (5, t("fresh", 3)),
        (5, t("fresh", 4)),
        (6, None),
        (7, t("reference", 3)),
        (8, rep),
        (8, rep),
        (9, t("fresh", 5)),
    ]
    schema = "doc_id long, text string"
    return (
        spark.createDataFrame(new_rows, schema),
        spark.createDataFrame(ref_rows, schema),
    )


def test_exact_dedup_against_bloom_edge_cases_match_plain(spark):
    """The per-batch assembly (left join on the broadcast dup-hash set,
    then max per doc_id) equals the exact slice of the plain
    dedup_against_frames join on the edge cases — in both membership
    regimes: m=2^16 (literal bitmap) and m=2^17 (bitmap join)."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.dedup import (
        bloom_build,
        dedup_against_frames,
        exact_dedup_against_bloom,
    )

    new, ref = _bloom_edge_frames(spark)
    plain = {
        (r["doc_id"], r["verdict"] == "exact_dup")
        for r in dedup_against_frames(new, ref).collect()
    }
    want = dict(plain)
    assert len(want) == len(plain)  # one exact verdict per doc_id
    assert want == {
        1: True, 2: True, 3: False, 4: True, 5: False,
        6: False, 7: True, 8: True, 9: False,
    }
    ref_h = ref.select(F.md5("text").alias("_h"))
    for m in (1 << 16, 1 << 17):
        bm = bloom_build(ref_h, "_h", m=m).localCheckpoint()
        rows = exact_dedup_against_bloom(new, ref, bm, m=m).collect()
        got = {r["doc_id"]: r["exact_dup"] for r in rows}
        assert len(rows) == len(got), m  # one row per distinct doc_id
        assert got == want, m


def _conf_run(spark, monkeypatch, partitions, aqe, scan_tasks, fn):
    """``fn()``'s sorted rows under the given shuffle width, AQE switch,
    Arrow batch size 7 and source fan-out; the session conf is restored."""
    conf = {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.adaptive.enabled": str(aqe).lower(),
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
    }
    old = {k: spark.conf.get(k) for k in conf}
    monkeypatch.setenv("TALNA_MIN_SCAN_TASKS", str(scan_tasks))
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        return sorted(map(tuple, fn().collect()), key=repr)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_curate_and_bloom_dedup_partition_invariant(spark, monkeypatch):
    """curate() and exact_dedup_against_bloom (both regimes) return the
    same rows whatever the partitioning: shuffle.partitions 1 vs 37, AQE
    off vs on, TALNA_MIN_SCAN_TASKS 1 vs 8, Arrow batches of 7."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.curate import curate
    from talna_spark.pipeline.dedup import bloom_build, exact_dedup_against_bloom

    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    ref = d.filter(F.col("doc_id") % 3 == 0)
    # planted exact dups: every 5th reference text again under a new id
    new = d.filter(F.col("doc_id") % 3 != 0).unionByName(
        ref.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    new_e, ref_e = _bloom_edge_frames(spark)

    def dedup(n, r, m):
        bm = bloom_build(r.select(F.md5("text").alias("_h")), "_h", m=m)
        return exact_dedup_against_bloom(n, r, bm, m=m)

    ops = {"curate": lambda: curate(spark, sf)}
    for m in (1 << 16, 1 << 17):
        ops[f"dedup-docs-{m}"] = lambda m=m: dedup(new, ref, m)
        ops[f"dedup-edge-{m}"] = lambda m=m: dedup(new_e, ref_e, m)

    narrow = {k: _conf_run(spark, monkeypatch, 1, False, 1, fn) for k, fn in ops.items()}
    wide = {k: _conf_run(spark, monkeypatch, 37, True, 8, fn) for k, fn in ops.items()}
    for k in narrow:
        assert narrow[k] == wide[k], k
        assert narrow[k], k
    assert any(flag for _d, flag in narrow[f"dedup-docs-{1 << 16}"])


def test_empty_shingle_pairs_never_verify(spark, tmp_path):
    """Two NULL-text docs and two docs shorter than SHINGLE_K tokens have
    empty shingle sets: their NULL signatures collide in every band, and
    the verify must read their Jaccard as NULL (DuckDB's 0::DOUBLE / 0),
    not divide 0 by 0. Both callers of the verify, lsh_near_dup_pairs
    and dedup_against_frames (through dedup_against_docs' doc_id % 3
    split), match their DuckDB twins and never pair those docs."""
    import duckdb

    from talna_spark.pipeline.dedup import (
        SHINGLE_K,
        dedup_against_docs,
        dedup_against_docs_sql,
        lsh_near_dup_pairs,
        lsh_near_dup_pairs_sql,
    )

    d = str(tmp_path / "empty_sh")
    os.makedirs(d)
    texts = {
        0: None,                                      # ref
        1: None,                                      # new
        2: "tiny",                                    # new, < K tokens
        3: "too short",                               # ref, < K tokens
        4: "the quick brown fox jumps over the lazy dog every night",
        5: "fresh crawl content that matches nothing in the archive",
        6: "the quick brown fox jumps over the lazy dog every day",
    }
    assert SHINGLE_K > 2  # fixture assumption
    pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values())}
    ).to_parquet(f"{d}/documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")

    pairs = sorted(map(tuple, lsh_near_dup_pairs(spark, d).collect()))
    assert pairs == sorted(con.execute(lsh_near_dup_pairs_sql()).fetchall())
    assert pairs == [(4, 6, 0.8)]

    want = sorted(con.execute(dedup_against_docs_sql()).fetchall())
    assert [r[:2] for r in want] == [
        (1, "new"), (2, "new"), (4, "near_dup"), (5, "new"),
    ]
    out = dedup_against_docs(spark, d).collect()
    for kind in ("direct", "bloom"):
        got = sorted(
            (r["doc_id"], r["verdict"], r["ref_doc_id"], r["jaccard"])
            for r in out if r["kind"] == kind
        )
        assert got == want, kind
