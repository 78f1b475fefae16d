"""Structured Streaming ingest + rollup tests (file-source micro-batches)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from talna_spark.database import Database
from talna_spark.schema import POINTS_SCHEMA
from talna_spark.streaming.ingest import stream_ingest, windowed_rollup
from tests.conftest import make_points

ROWS1 = [
    ("m", 1_000_000_000, 1.0, {"h": "a"}),
    ("m", 2_000_000_000, 3.0, {"h": "a"}),
    ("m", 61_000_000_000, 5.0, {"h": "b"}),
]
ROWS2 = [
    ("m", 3_000_000_000, 7.0, {"h": "a"}),   # out-of-order vs file 1's max
    ("m", 62_000_000_000, 9.0, {"h": "b"}),
]


@pytest.fixture()
def dirs():
    d = {k: tempfile.mkdtemp(prefix=f"talna_stream_{k}_") for k in ("src", "wh", "ckpt")}
    yield d
    for p in d.values():
        shutil.rmtree(p, ignore_errors=True)


def test_stream_ingest_matches_batch(spark, dirs):
    # stage two source files -> two micro-batches through foreachBatch
    make_points(spark, ROWS1).write.mode("append").parquet(dirs["src"])
    stream = spark.readStream.schema(POINTS_SCHEMA).parquet(dirs["src"])
    q = stream_ingest(stream, dirs["wh"], dirs["ckpt"])
    try:
        q.processAllAvailable()
        make_points(spark, ROWS2).write.mode("append").parquet(dirs["src"])
        q.processAllAvailable()
    finally:
        q.stop()

    db = Database.open(spark, dirs["wh"])
    res = db.sum("m", "h").collect()
    # minute bucket 0: a has 1+3+7, minute bucket 1: b has 5+9
    assert res["a"][0].value == 11.0 and res["a"][0].len == 3
    assert res["b"][0].value == 14.0 and res["b"][0].len == 2
    # out-of-order row landed correctly (start/end span both batches)
    assert res["a"][0].start == 1_000_000_000
    assert res["a"][0].end == 3_000_000_000


def test_windowed_rollup_output(spark, dirs):
    make_points(spark, ROWS1 + ROWS2).write.mode("append").parquet(dirs["src"])
    stream = spark.readStream.schema(POINTS_SCHEMA).parquet(dirs["src"])
    rollup = windowed_rollup(stream, group_by="h", kind="avg", width_seconds=60)
    q = (
        rollup.writeStream.format("memory")
        .queryName("rollup_sink")
        .outputMode("complete" if False else "append")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (r["grp"], r["start_ts"]): r
        for r in spark.sql("SELECT * FROM rollup_sink").collect()
    }
    # append mode only emits windows the watermark has passed; with a single
    # micro-batch the watermark advances to max_evt - 2min, so older windows
    # may or may not finalize — assert on whatever was emitted being correct
    for (grp, start), r in rows.items():
        if grp == "a":
            assert r["value"] == pytest.approx(11.0 / 3)
            assert r["len"] == 3
        else:
            assert r["value"] == pytest.approx(7.0)
            assert r["len"] == 2


def test_session_rollup_output(spark, dirs):
    # h=a: points at 1s,2s,3s (one session, gap 30s) then 62s (new session
    # after a 59s quiet gap); h=b: single point -> single session
    rows = [
        ("m", 1_000_000_000, 1.0, {"h": "a"}),
        ("m", 2_000_000_000, 3.0, {"h": "a"}),
        ("m", 3_000_000_000, 7.0, {"h": "a"}),
        ("m", 62_000_000_000, 9.0, {"h": "a"}),
        ("m", 5_000_000_000, 5.0, {"h": "b"}),
        # a far-future point pushes the watermark past every session above
        # so append mode finalizes and emits them in this one micro-batch
        ("m", 3_600_000_000_000, 0.0, {"h": "wm"}),
    ]
    from talna_spark.streaming.ingest import session_rollup

    make_points(spark, rows).write.mode("append").parquet(dirs["src"])
    stream = spark.readStream.schema(POINTS_SCHEMA).parquet(dirs["src"])
    rollup = session_rollup(stream, group_by="h", kind="sum", gap_seconds=30)
    q = (
        rollup.writeStream.format("memory")
        .queryName("session_sink")
        .outputMode("append")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["grp"], r["start_ts"]): (r["value"], r["len"], r["end_ts"])
        for r in spark.sql("SELECT * FROM session_sink").collect()
    }
    assert got[("a", 1_000_000_000)] == (11.0, 3, 3_000_000_000)
    assert got[("a", 62_000_000_000)] == (9.0, 1, 62_000_000_000)
    assert got[("b", 5_000_000_000)] == (5.0, 1, 5_000_000_000)


def test_sliding_rollup_output(spark, dirs):
    # width 120s, slide 60s: the 61s point lands in windows starting 0s
    # and 60s; the 1s point in windows starting -60s and 0s
    rows = [
        ("m", 1_000_000_000, 2.0, {"h": "a"}),
        ("m", 61_000_000_000, 10.0, {"h": "a"}),
        # far-future watermark pusher so append mode emits everything
        ("m", 3_600_000_000_000, 0.0, {"h": "wm"}),
    ]
    from talna_spark.streaming.ingest import sliding_rollup

    make_points(spark, rows).write.mode("append").parquet(dirs["src"])
    stream = spark.readStream.schema(POINTS_SCHEMA).parquet(dirs["src"])
    rollup = sliding_rollup(
        stream, group_by="h", kind="sum", width_seconds=120, slide_seconds=60
    )
    q = (
        rollup.writeStream.format("memory")
        .queryName("sliding_sink")
        .outputMode("append")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["grp"], r["win_start"]): (r["value"], r["len"])
        for r in spark.sql("SELECT * FROM sliding_sink").collect()
    }
    assert got[("a", -60_000_000_000)] == (2.0, 1)
    assert got[("a", 0)] == (12.0, 2)
    assert got[("a", 60_000_000_000)] == (10.0, 1)


def test_dedup_stream_drops_redelivered_points(spark, dirs):
    # file 1 delivers three points; file 2 re-delivers two of them (an
    # at-least-once retry) plus one genuinely new point — the deduped
    # ingest must keep exactly one copy of each logical point
    from talna_spark.streaming.ingest import dedup_stream

    make_points(spark, ROWS1).write.mode("append").parquet(dirs["src"])
    stream = spark.readStream.schema(POINTS_SCHEMA).parquet(dirs["src"])
    q = stream_ingest(dedup_stream(stream), dirs["wh"], dirs["ckpt"])
    try:
        q.processAllAvailable()
        make_points(spark, [ROWS1[0], ROWS1[2]] + [ROWS2[0]]).write.mode(
            "append"
        ).parquet(dirs["src"])
        q.processAllAvailable()
    finally:
        q.stop()

    db = Database.open(spark, dirs["wh"])
    res = db.sum("m", "h").collect()
    assert res["a"][0].value == 11.0 and res["a"][0].len == 3  # 1+3+7, no dupes
    assert res["b"][0].value == 5.0 and res["b"][0].len == 1


def test_stream_replay_with_duplicates_equals_batch_warehouse(spark, dirs):
    # End-to-end equivalence on the realistic corpus: replay sf0.001
    # events through dedup_stream -> stream_ingest in two micro-batches
    # whose second delivery REPEATS the newest 20% of the first (an
    # at-least-once source retrying), and assert the resulting warehouse
    # facts equal a single batch write_batch of the clean corpus exactly.
    from pyspark.sql import functions as F

    from talna_spark.ingest import read_facts, write_batch
    from talna_spark.sources.events import points_from_events
    from talna_spark.streaming.ingest import dedup_stream

    pts = (
        points_from_events(spark, "/root/testdata/sf0.001")
        .select("metric", "ts", "value", "tags")
        .orderBy("ts", "value")
    )
    rows = pts.collect()
    n = len(rows)
    cut, overlap = (7 * n) // 10, (5 * n) // 10
    mk = lambda rs: spark.createDataFrame(rs, POINTS_SCHEMA)  # noqa: E731
    batch_wh = tempfile.mkdtemp(prefix="talna_stream_eq_batch_")
    try:
        # clean batch twin: the full corpus, once
        write_batch(mk(rows), batch_wh)

        # streaming path: file 1 = rows[:cut]; file 2 re-delivers
        # rows[overlap:cut] (newest 20% of file 1 - inside the horizon)
        # plus the genuinely new tail
        mk(rows[:cut]).write.mode("append").parquet(dirs["src"])
        stream = spark.readStream.schema(POINTS_SCHEMA).parquet(dirs["src"])
        deduped = dedup_stream(stream, watermark="8760 hours")
        q = stream_ingest(deduped, dirs["wh"], dirs["ckpt"])
        try:
            q.processAllAvailable()
            mk(rows[overlap:]).write.mode("append").parquet(dirs["src"])
            q.processAllAvailable()
        finally:
            q.stop()

        key = ["series_id", "ts", "value"]
        got = sorted(tuple(r) for r in read_facts(spark, dirs["wh"]).select(*key).collect())
        want = sorted(tuple(r) for r in read_facts(spark, batch_wh).select(*key).collect())
        assert len(got) == len(want) == n, (
            f"duplicate deliveries leaked into the warehouse: {len(got)} vs {n}"
        )
        assert got == want

        # the warehouses answer a real query identically
        res_s = Database.open(spark, dirs["wh"]).avg("app.purchase", "user").collect()
        res_b = Database.open(spark, batch_wh).avg("app.purchase", "user").collect()
        as_tuples = lambda res: sorted(  # noqa: E731
            (g, b.start, b.end, round(b.value, 9), b.len)
            for g, bs in res.items() for b in bs
        )
        assert as_tuples(res_s) == as_tuples(res_b)
    finally:
        shutil.rmtree(batch_wh, ignore_errors=True)


def test_map_only_pipeline_ops_run_on_streams(spark, dirs):
    # quality scoring and repetition signals are pure projections, so the
    # SAME Column expressions run unchanged under Structured Streaming —
    # proof the curation signals can gate documents at ingest time, not
    # just in batch passes
    from pyspark.sql import functions as F

    from talna_spark.pipeline.portable import grams, tokens
    from talna_spark.pipeline.text import REP_GRAM_K

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.limit(100).write.mode("append").parquet(dirs["src"])
    stream = spark.readStream.schema(docs.schema).parquet(dirs["src"])

    w = tokens(F.col("text"))
    g = grams(w, REP_GRAM_K)
    scored = stream.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.round(
            F.when(
                F.size(g) > 0,
                F.lit(1.0) - F.size(F.array_distinct(g)) / F.size(g),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_gram_frac"),
    )
    q = (
        scored.writeStream.format("memory")
        .queryName("stream_quality")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: (r["n_tokens"], r["dup_gram_frac"])
            for r in spark.sql("SELECT * FROM stream_quality").collect()
        }
    finally:
        q.stop()
    # batch twin over the same rows must agree exactly
    want = {
        r["doc_id"]: (r["n_tokens"], r["dup_gram_frac"])
        for r in docs.limit(100)
        .select(
            "doc_id",
            F.size(w).alias("n_tokens"),
            F.round(
                F.when(
                    F.size(g) > 0,
                    F.lit(1.0) - F.size(F.array_distinct(g)) / F.size(g),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_gram_frac"),
        )
        .collect()
    }
    assert got == want and len(got) == 100


def test_stream_curate_documents(spark, dirs):
    """Streaming document curation: map-only gates apply on the stream,
    reference duplicates are anti-joined out per micro-batch,
    within-batch exact dups keep one copy, and the stream-vs-batch
    division of labor (cross-batch dups are the reference's job) holds."""
    import pyspark.sql.functions as F

    from talna_spark.streaming.documents import (
        dedup_against_reference, gate_documents, stream_curate,
    )

    good = ("the quick brown fox jumps over a lazy dog and then "
            "runs far away to find more food for the winter den ") * 3
    ref_text = good + "already in the reference corpus"
    schema = "doc_id long, text string, source string"
    reference = spark.createDataFrame([(900, ref_text, "ref")], schema)

    batch1 = [
        (1, good + "fresh one", "src0"),
        (2, good + "fresh one", "src0"),      # within-batch dup of 1
        (3, ref_text, "src0"),                # exact dup of reference
        (4, "zzz " * 60, "src0"),             # fails gopher rules
    ]
    batch2 = [
        (5, good + "fresh one", "src1"),      # cross-batch dup of 1 (KEPT)
        (6, good + "fresh two", "src1"),
    ]
    src = dirs["src"] + "_docs"
    out = dirs["wh"] + "_out"
    ckpt = dirs["ckpt"] + "_docs"
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = stream_curate(stream, reference, out, ckpt)
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # 1 survives (2 is the within-batch dup), 3 is a reference dup,
    # 4 fails rules; 5 is a CROSS-batch dup and is documented-kept
    # (reference wasn't refreshed between batches), 6 is fresh
    assert got == {1, 5, 6}, got

    # the batch composition of the same pieces agrees with the stream
    all_docs = spark.createDataFrame(batch1 + batch2, schema)
    batch_kept = dedup_against_reference(
        gate_documents(all_docs).filter(F.col("verdict") == "kept"),
        reference,
    )
    assert {r["doc_id"] for r in batch_kept.collect()} == {1, 2, 5, 6}

    # gate verdicts are complete and labeled
    v = {r["doc_id"]: r["verdict"] for r in gate_documents(all_docs).collect()}
    assert v[4] == "rule_fail" and v[1] == "kept"


def test_gate_documents_battery_composition(spark):
    """The c4 battery composes into the same map-only gate: gopher bits
    stay in the low positions, c4 bits shift above them, unknown
    battery names fail loudly."""
    import pytest as _pytest

    from talna_spark.pipeline.text import GOPHER_RULE_NAMES
    from talna_spark.streaming.documents import gate_documents

    good_lines = "\n".join(
        "the quick brown fox jumps over a lazy dog and runs to the den."
        for _ in range(6)
    )
    # passes gopher (plenty of stopword-laden words) AND c4 (punctuated
    # lines, >= 3 sentences)
    docs = spark.createDataFrame(
        [
            (1, (good_lines + " ") * 2, "s"),
            (2, "lorem ipsum " + (good_lines + " ") * 2, "s"),  # c4-only fail
            (3, "zzz " * 60, "s"),  # gopher fail (stopwords) AND c4 fail
        ],
        "doc_id long, text string, source string",
    )
    both = {
        r["doc_id"]: (r["fail_mask"], r["verdict"])
        for r in gate_documents(docs, batteries=("gopher", "c4")).collect()
    }
    g_only = {
        r["doc_id"]: r["fail_mask"]
        for r in gate_documents(docs).collect()
    }
    n_g = len(GOPHER_RULE_NAMES)
    for did in (1, 2, 3):
        # low bits must equal the gopher-only mask
        assert both[did][0] % (2 ** n_g) == g_only[did], did
    assert both[1][1] == "kept"
    assert g_only[2] == 0 and both[2][0] >> n_g != 0  # c4 caught it
    assert both[2][1] == "rule_fail"
    assert both[3][1] == "rule_fail" and both[3][0] >> n_g != 0

    with _pytest.raises(ValueError, match="batteries"):
        gate_documents(docs, batteries=("nope",))

    # r6 ADVICE fix: bit positions are FIXED regardless of battery
    # selection — with batteries=('c4',) the c4 bits still start at
    # len(GOPHER_RULE_NAMES), so masks from different configurations
    # are directly comparable
    c_only = {
        r["doc_id"]: r["fail_mask"]
        for r in gate_documents(docs, batteries=("c4",)).collect()
    }
    for did in (1, 2, 3):
        assert c_only[did] % (2 ** n_g) == 0, did       # gopher band empty
        assert c_only[did] == both[did][0] - g_only[did], did  # same c4 bits


def test_stream_curate_near_dup_against_reference(spark, dirs):
    """r6 near_dup=True: per-micro-batch LSH near-dedup against the
    static reference — a lightly-edited copy of a reference doc is
    dropped even though its md5 differs (the exact anti-join alone
    keeps it), while genuinely novel docs pass; the batch path
    (dedup_against_frames) agrees verdict-for-verdict."""
    import pyspark.sql.functions as F

    from talna_spark.pipeline.dedup import dedup_against_frames
    from talna_spark.streaming.documents import stream_curate

    good = ("the quick brown fox jumps over a lazy dog and then "
            "runs far away to find more food for the winter den ") * 4
    ref_text = good + "tail one two three four five six seven eight nine ten"
    schema = "doc_id long, text string, source string"
    reference = spark.createDataFrame([(900, ref_text, "ref")], schema)

    near = ref_text.replace("tail", "tweak")  # high-jaccard edit
    novel = ("completely different words about ships and harbors and "
             "the long voyage across a cold sea with many storms " ) * 4
    batch = [
        (1, near, "src0"),     # NEAR dup of reference -> dropped
        (2, novel, "src0"),    # novel -> kept
        (3, ref_text, "src0"), # exact dup -> dropped by the anti-join
    ]
    src = dirs["src"] + "_neardup"
    out = dirs["wh"] + "_neardup_out"
    ckpt = dirs["ckpt"] + "_neardup"
    spark.createDataFrame(batch, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = stream_curate(stream, reference, out, ckpt, near_dup=True)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {2}, got

    # batch equivalence: the same frames through dedup_against_frames
    flags = {
        r["doc_id"]: r["verdict"]
        for r in dedup_against_frames(
            spark.createDataFrame(batch, schema), reference
        ).collect()
    }
    assert flags[1] == "near_dup" and flags[2] == "new"
    assert flags[3] == "exact_dup"


def test_stream_curate_classifier_gate(spark, dirs):
    """r6 clf_weights: the learned quality gate runs the EXACT batch
    scorer per micro-batch — docs the batch scorer puts below the
    threshold are dropped from the curated output, the rest survive,
    score-for-score equal to pipeline.classifier.score_documents."""
    import pyspark.sql.functions as F

    from talna_spark.pipeline.classifier import score_documents
    from talna_spark.streaming.documents import stream_curate

    # weights hand-set so docs containing 'spamword' score near 0 and
    # clean prose scores near 0.5+ (bias dominates when no hits)
    from talna_spark.pipeline.classifier import hashed_features  # noqa: F401
    import hashlib

    def fbucket(tok, d=256):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % d

    weights = [0.0] * 256
    weights[fbucket("spamword")] = -50.0
    good = ("the quick brown fox jumps over a lazy dog and then "
            "runs far away to find more food for the winter den ") * 3
    schema = "doc_id long, text string, source string"
    reference = spark.createDataFrame(
        [(900, good + "only in the reference", "ref")], schema
    )
    batch = [
        (1, good + "clean tail words", "src0"),           # kept
        (2, good + "spamword spamword spamword", "src0"),  # clf-dropped
        (3, good + "another clean ending here", "src0"),   # kept
    ]
    src = dirs["src"] + "_clf"
    out = dirs["wh"] + "_clf_out"
    ckpt = dirs["ckpt"] + "_clf"
    spark.createDataFrame(batch, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = stream_curate(
        stream, reference, out, ckpt,
        clf_weights=weights, clf_bias=0.2, clf_threshold=0.5,
        clf_features=256,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 3}, got

    # equivalence by construction: the batch scorer agrees on who fails
    scores = {
        r["doc_id"]: r["clf_score"]
        for r in score_documents(
            spark,
            docs=spark.createDataFrame(batch, schema),
            weights=weights,
            bias=0.2,
            n_features=256,
        ).collect()
    }
    assert scores[2] < 0.5 <= min(scores[1], scores[3])


def test_stream_clf_gate_keeps_null_text_like_batch(spark, dirs):
    """A NULL-text doc produces no feature rows, hence no score row;
    batch curate()'s left join keeps it, so the streaming gate must too
    (review r6 — the inner join silently dropped it)."""
    import pyspark.sql.functions as F

    from talna_spark.streaming.documents import stream_curate

    good = ("the quick brown fox jumps over a lazy dog and then "
            "runs far away to find more food for the winter den ") * 3
    schema = "doc_id long, text string, source string"
    reference = spark.createDataFrame([(900, good + "ref", "ref")], schema)
    batch = [
        (1, good + "clean tail", "s"),
        (2, None, "s"),  # NULL text: gated 'kept', no clf score row
    ]
    src = dirs["src"] + "_clfnull"
    out = dirs["wh"] + "_clfnull_out"
    ckpt = dirs["ckpt"] + "_clfnull"
    spark.createDataFrame(batch, schema).write.mode("append").parquet(src)
    q = stream_curate(
        spark.readStream.schema(schema).parquet(src), reference, out, ckpt,
        clf_weights=[0.0] * 64, clf_bias=0.2, clf_threshold=0.5,
        clf_features=64,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 2}, got


def test_dedup_against_reference_bloom_identical_and_streams(spark, tmp_path):
    """r11: the Bloom fast path must be row-identical to the plain
    stream-static anti-join (no false negatives), keep NULL-text rows
    (matching the anti-join's NULL-key behavior), and run on an actual
    stream — the gate is a stateless broadcast-constant expression."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.dedup import bloom_build, bloom_to_words
    from talna_spark.streaming.documents import (
        dedup_against_reference,
        dedup_against_reference_bloom,
    )

    schema = "doc_id long, text string"
    reference = spark.createDataFrame(
        [(900, "already archived text"), (901, "another archived doc")],
        schema,
    )
    docs = spark.createDataFrame(
        [
            (1, "already archived text"),   # exact ref dup -> dropped
            (2, "genuinely new content"),
            (3, None),                      # NULL text -> kept
            (4, "another archived doc"),    # dropped
            (5, "more new material here"),
        ],
        schema,
    )
    words = bloom_to_words(
        bloom_build(
            reference.select(F.md5("text").alias("_h")).distinct(), "_h"
        )
    )
    plain = {r["doc_id"] for r in dedup_against_reference(docs, reference).collect()}
    fast = {
        r["doc_id"]
        for r in dedup_against_reference_bloom(docs, reference, words).collect()
    }
    assert fast == plain == {2, 3, 5}

    # and on a real stream: same three survivors
    src, out, ckpt = (str(tmp_path / n) for n in ("src", "out", "ckpt"))
    docs.write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        dedup_against_reference_bloom(stream, reference, words)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {2, 3, 5}
