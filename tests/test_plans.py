"""Physical-plan assertions: the perf-critical plan properties (broadcast
join, predicate pushdown, partition pruning, partial aggregation, no
row-at-a-time Python) are part of the contract — a regression here is a
scale bug even when results stay correct."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from talna_spark.database import Database
from talna_spark.sources.events import points_from_events

T0 = 1_704_844_800 * 10**9  # 2024-01-10


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def wh_db(spark):
    wh = tempfile.mkdtemp(prefix="talna_plans_wh_")
    db = Database.open(spark, wh)
    db.write_batch(points_from_events(spark, "/root/testdata/sf0.001"))
    yield db
    shutil.rmtree(wh, ignore_errors=True)


def test_warehouse_broadcasts_series_dim(spark, wh_db):
    plan = plan_of(wh_db.avg("app.purchase", "user").filter("user:3").to_df())
    assert "BroadcastHashJoin" in plan, "series dim must broadcast, never shuffle facts"
    assert "SortMergeJoin" not in plan


def test_warehouse_partition_pruning_and_pushdown(spark, wh_db):
    plan = plan_of(
        wh_db.avg("app.purchase", "user").start(T0).end(T0 + 86_400 * 10**9).to_df()
    )
    # metric is a physical partition filter; ts_day bounds prune directories
    assert "PartitionFilters" in plan
    i = plan.find("PartitionFilters")
    pf = plan[i : i + 300]
    assert "metric" in pf and "ts_day" in pf
    # ts bounds reach the parquet row-group stats
    j = plan.find("PushedFilters")
    assert j >= 0 and "GreaterThanOrEqual(ts" in plan[j : j + 300]


def test_view_path_ts_pushdown(spark):
    db = Database.from_events(spark, "/root/testdata/sf0.001")
    plan = plan_of(db.avg("app.purchase", "user").start(T0).to_df())
    j = plan.find("PushedFilters")
    assert j >= 0 and "GreaterThanOrEqual(ts" in plan[j : j + 300], (
        "time bounds must reach the file scan via the _raw_ts alias"
    )


def test_aligned_agg_is_partial_plus_final(spark):
    db = Database.from_events(spark, "/root/testdata/sf0.001")
    plan = plan_of(db.avg("app.purchase", "user").to_df())
    # partial (map-side) + final hash aggregate: the shuffle carries one
    # row per (group, bucket), not per point
    assert plan.count("HashAggregate") >= 2
    assert "partial_avg" in plan or "partial_average" in plan


def test_no_row_at_a_time_python(spark, wh_db):
    # core query paths must stay JVM-side: no BatchEvalPython (pickled
    # row-at-a-time UDFs) anywhere; greedy mode uses Arrow (mapInPandas)
    db = Database.from_events(spark, "/root/testdata/sf0.001")
    for df in [
        db.avg("app.purchase", "user").filter("user:3 AND k:1*").to_df(),
        wh_db.count("app.click", "user").to_df(),
        db.percentile("app.purchase", "user", 0.95).to_df(),
        db.rate("app.purchase", "user").to_df(),
    ]:
        assert "BatchEvalPython" not in plan_of(df)
    greedy = plan_of(db.avg("app.purchase", "user").mode("greedy").to_df())
    assert "BatchEvalPython" not in greedy
    assert "MapInPandas" in greedy or "mapInPandas" in greedy.lower()


def test_greedy_drop_plan_matches_reanchor_shape(spark):
    # the drop-boundary variant (r15, q17 kind=dropref) must run the
    # SAME physical shape as re-anchor: one hash shuffle on grp, Arrow
    # mapInPandas, no extra Exchange and no row-at-a-time Python — the
    # boundary semantics live inside the closure, not in the plan
    db = Database.from_events(spark, "/root/testdata/sf0.001")
    base = db.avg("app.purchase", "user").mode("greedy")
    re_anchor = plan_of(base.to_df())
    drop = plan_of(
        db.avg("app.purchase", "user").mode("greedy")
        .greedy_boundary("drop").to_df()
    )
    for plan in (re_anchor, drop):
        assert "BatchEvalPython" not in plan
        assert "MapInPandas" in plan or "mapInPandas" in plan.lower()
        assert "hashpartitioning(grp" in plan
    assert re_anchor.count("Exchange") == drop.count("Exchange")


def test_warehouse_query_job_count(spark, wh_db):
    """A fresh query on a compacted warehouse selects its series with
    one predicate over the series dim and one broadcast join into the
    fact scan: at most 3 jobs from to_df() through collect, no
    series_tag scan, exactly one BroadcastHashJoin. The earlier
    series_tag postings plan ran 8 jobs for this query: to_df() inferred
    the index's parquet schema, and the plan added index scans, distinct
    shuffles and a second broadcast."""
    wh_db.compact()
    q = lambda db: db.avg("app.purchase", "user").filter("user:3 AND k:1*")
    n = _jobs_in_call(spark, lambda: q(wh_db).to_df())
    assert n <= 3, n
    # a new facade: its plan cache is empty, so this plan is unexecuted
    # and prints the one (initial) physical plan
    plan = plan_of(q(Database.open(spark, wh_db._backend.path)).to_df())
    assert "series_tag" not in plan
    assert plan.count("BroadcastHashJoin") == 1, plan


def test_multigroup_single_hash_agg(spark):
    # composed multi-tag group key must not add a shuffle: still exactly
    # one exchange (partial+final hash agg), group concat is JVM-side
    db = Database.from_events(spark, "/root/testdata/sf0.001")
    plan = plan_of(db.avg("app.purchase", ["user", "etype"]).to_df())
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan


def test_sliding_explodes_before_single_shuffle(spark):
    # the window-index explode is JVM-side (Generate) below one
    # hash-agg exchange — no Python, no extra shuffle
    from talna_spark.duration import Duration

    db = Database.from_events(spark, "/root/testdata/sf0.001")
    plan = plan_of(db.sum("app.click", "user").sliding(2 * Duration.DAY, Duration.DAY))
    assert "Generate explode" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


def test_rolling_windows_over_reduced_rows(spark):
    # rolling/zscore add one window exchange ON AGGREGATED rows: the plan
    # has the agg's exchange plus the window's — and the window sits above
    # the final HashAggregate, never above raw points
    from talna_spark.duration import Duration

    db = Database.from_events(spark, "/root/testdata/sf0.001")
    plan = plan_of(
        db.avg("app.purchase", "user").granularity(Duration.HOUR).rolling(4).to_df()
    )
    assert "Window" in plan
    assert plan.index("Window") < plan.index("HashAggregate"), (
        "window must consume the aggregate output (plans print top-down)"
    )
    assert "BatchEvalPython" not in plan


def test_sessions_two_shuffles_no_python(spark):
    # sessionization: one window exchange (lag + running sum) + one
    # hash-agg exchange on (group, session) — all JVM-side
    from talna_spark.duration import Duration

    db = Database.from_events(spark, "/root/testdata/sf0.001")
    plan = plan_of(db.avg("app.click", "user").sessions(30 * Duration.MINUTE))
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in plan


def test_asof_single_key_shuffle_no_explosion(spark):
    # union-window as-of: ONE shuffle on the join key, no join operator at
    # all (the range condition never becomes a nested-loop/cartesian plan)
    from pyspark.sql import functions as F

    from talna_spark.asof import asof_join

    pts = points_from_events(spark, "/root/testdata/sf0.001")
    u = F.col("tags").getItem("user")

    def side(metric):
        return pts.filter((F.col("metric") == metric) & u.isNotNull()).select(
            u.alias("key"), "ts", "value"
        )

    plan = plan_of(asof_join(side("app.click"), side("app.purchase")))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    assert "BatchEvalPython" not in plan


def test_split_assign_map_only(spark):
    # deterministic splitting is a pure projection: no exchange at all
    from talna_spark.pipeline.sampling import split_assign

    plan = plan_of(split_assign(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_series_dim_dedup_is_hash_aggregate(spark):
    # the dim dedup must never sort the batch: maps aren't hash-agg types,
    # so the dedup groups on sorted entry arrays (HashAggregate) and
    # rebuilds the map — a SortAggregate here re-sorts every ingested row
    # (measured ~13x slower at 10M rows). Fresh warehouse: a compacted dim
    # (module fixture may have been compacted by other tests) legitimately
    # skips the dedup entirely.
    from talna_spark.ingest import read_series_dim

    wh = tempfile.mkdtemp(prefix="talna_dedup_plan_")
    try:
        db = Database.open(spark, wh)
        db.write_batch(points_from_events(spark, "/root/testdata/sf0.001"))
        dim = read_series_dim(spark, wh)
        plan = plan_of(dim)
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    assert "SortAggregate" not in plan, "series dedup fell back to sort aggregation"
    assert "HashAggregate" in plan


def test_ingest_cache_projection_is_map_free(spark):
    # write_batch persists the enriched batch across its two writes; the
    # cached projection must carry tags as a sorted entries ARRAY (not the
    # map, and not the per-point series_key string) or the cache bloats
    # and the dim dedup de-optimizes
    from talna_spark.ingest import series_key_from_entries
    from pyspark.sql import functions as F

    pts = points_from_events(spark, "/root/testdata/sf0.001")
    enriched = (
        pts.withColumn("_te", F.sort_array(F.map_entries("tags")))
        .withColumn(
            "series_id",
            F.xxhash64(series_key_from_entries(F.col("metric"), F.col("_te"))),
        )
        .select("series_id", "_te")
    )
    schema = dict(enriched.dtypes)
    assert schema["_te"].startswith("array<struct"), schema
    # lossless round-trip: map -> entries -> map preserves every pair
    # (maps aren't directly comparable in Spark: check size + every entry)
    rt = pts.withColumn("_te", F.sort_array(F.map_entries("tags"))).withColumn(
        "_rt", F.map_from_entries("_te")
    )
    n_bad = rt.filter(
        (F.size("_rt") != F.size("tags"))
        | ~F.forall(
            F.map_entries("_rt"),
            lambda e: F.element_at(F.col("tags"), e["key"]) == e["value"],
        )
    ).count()
    assert n_bad == 0


def test_binary_ratio_joins_reduced_frames_only(spark):
    # BinaryQueryBuilder must aggregate each side BEFORE the join: the
    # join consumes two HashAggregate outputs (groups x buckets rows),
    # never raw points — in plan-print (top-down) terms, a join operator
    # appears ABOVE the final aggregates, and no aggregate sits above it
    db = Database.from_events(spark, "/root/testdata/sf0.001")
    from talna_spark.duration import Duration

    df = (
        db.ratio("app.error", "app.view", "user", kind="count")
        .granularity(Duration.DAY)
        .to_df()
    )
    plan = plan_of(df)
    join_at = min(
        (plan.find(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin") if plan.find(j) >= 0),
        default=-1,
    )
    assert join_at >= 0, "vector matching must be a real join"
    first_agg = plan.find("HashAggregate")
    assert 0 <= join_at < first_agg, (
        "the join must consume aggregated sides (join prints above the aggs)"
    )
    assert "BatchEvalPython" not in plan


def test_bm25_stats_broadcast_and_no_corpus_shuffle(spark):
    # the corpus-stats row reaches scoring via a broadcast (never a
    # shuffle of the corpus); the only exchanges are the two-phase rank's
    # (doc_id, score) pairs — no Exchange may carry the token arrays
    from talna_spark.pipeline.relevance import bm25_topk

    plan = plan_of(bm25_topk(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan
    for i, line in enumerate(plan.splitlines()):
        if "Exchange" in line and "_w#" in line:
            raise AssertionError(f"token arrays cross a shuffle: {line}")


def test_dup_spans_shuffles_ids_only(spark):
    # x21: only (doc_id, gram_hash) pairs may cross an Exchange — never
    # the text or the gram-hash arrays; the duplicated-set membership is
    # a join, not a corpus-sized broadcast
    from talna_spark.pipeline.dedup import dup_spans

    plan = plan_of(dup_spans(spark, "/root/testdata/sf0.001"))
    assert "BatchEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange" in line and ("text#" in line or "gh#" in line):
            raise AssertionError(f"corpus payload crosses a shuffle: {line}")


def test_lm_score_vocab_broadcast_no_collect(spark):
    # x22: vocab and totals reach scoring via broadcast exchanges; the
    # scoring join must not shuffle the corpus tokens to the vocab
    from talna_spark.pipeline.text import lm_score

    plan = plan_of(lm_score(spark, "/root/testdata/sf0.001"))
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange" in line and "text#" in line:
            raise AssertionError(f"document text crosses a shuffle: {line}")


def test_mixture_sample_map_side_keep(spark):
    # x23: the keep decision is a map-side filter against broadcast
    # per-domain rates — no corpus-carrying shuffle, no Python
    from talna_spark.pipeline.sampling import mixture_sample

    plan = plan_of(mixture_sample(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange" in line and "text#" in line:
            raise AssertionError(f"document text crosses a shuffle: {line}")


def test_chunk_documents_map_only(spark):
    # x01/chunk: overlapping token-window chunking is one scan + a
    # Generate (explode) — zero shuffle, no Python; chunk text is
    # assembled map-side and never crosses an Exchange
    from talna_spark.pipeline.packing import chunk_documents

    plan = plan_of(chunk_documents(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "Generate" in plan


def test_semdedup_broadcast_assignment_id_only_pairs(spark):
    # x12/semdedup: r17 materializes the centroid assignment once behind
    # a lazy localCheckpoint (it has three consumers), so the verdict
    # plan consumes the assignment as an ExistingRDD scan — the
    # broadcast assignment itself is pinned on the pre-checkpoint frame
    # below. The within-cluster compare may shuffle (cluster-keyed) but
    # no Python appears anywhere.
    from pyspark.sql import functions as F

    from talna_spark.pipeline.similarity import (
        IVF_CENTROIDS, _emb, cosine, semdedup,
    )

    plan = plan_of(semdedup(spark, "/root/testdata/sf0.001"))
    assert "Scan ExistingRDD" in plan  # the checkpointed assignment
    assert "BatchEvalPython" not in plan
    # the assignment frame (what the checkpoint materializes) reaches
    # the corpus via a broadcast of the centroid side
    e = _emb(spark, "/root/testdata/sf0.001")
    c = e.filter(F.col("vec_id") < IVF_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    scored = e.join(F.broadcast(c), how="cross").select(
        "vec_id", F.round(cosine(F.col("v"), F.col("cv")), 6).alias("ccos")
    )
    aplan = plan_of(scored)
    assert "BroadcastExchange" in aplan
    assert "BatchEvalPython" not in aplan


def test_dsir_model_broadcast_no_text_shuffle(spark):
    # x23/dsir: the n_buckets-row model broadcasts back onto the gram
    # stream; document text never crosses an Exchange; no Python
    from talna_spark.pipeline.sampling import dsir_select

    plan = plan_of(dsir_select(spark, "/root/testdata/sf0.001"))
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange" in line and "text#" in line:
            raise AssertionError(f"document text crosses a shuffle: {line}")


def test_gopher_rules_map_only(spark):
    # x22/gopher: the whole rule battery is one map-only codegen
    # projection — no Exchange, no Python anywhere in the plan
    from talna_spark.pipeline.text import gopher_rules

    plan = plan_of(gopher_rules(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_c4_rules_map_only(spark):
    # x22/c4: same contract as gopher — one map-only codegen projection
    from talna_spark.pipeline.text import c4_rules

    plan = plan_of(c4_rules(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_streaming_gate_map_only(spark):
    # the streaming curation gate must stay a pure projection (it runs
    # per micro-batch): no Exchange, no Python
    from talna_spark.streaming.documents import gate_documents

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(gate_documents(d))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_histogram_single_shuffle(spark):
    # histogram's 100 TB contract: ONE hash aggregate — exactly one
    # Exchange (on grp/bucket/bin), map-side partial counts, no Python
    from talna_spark.database import Database
    from talna_spark.duration import Duration

    db = Database.from_events(spark, "/root/testdata/sf0.001")
    df = (
        db.count("app.purchase", "user")
        .granularity(Duration.hours(6))
        .histogram(0.0, 400.0, 8)
    )
    plan = plan_of(df)
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan


def test_script_id_map_only(spark):
    # x01/script: dominant-script detection is pure codegen regexp
    # counts — zero shuffle, no Python
    from talna_spark.pipeline.text import script_id

    plan = plan_of(script_id(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_sq8_encode_map_only(spark):
    # x11/sq8: quantization is a map-side projection of the vector
    # scan — zero shuffle, no Python
    from talna_spark.pipeline.similarity import sq8_encode

    plan = plan_of(sq8_encode(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_doremi_no_text_in_shuffles(spark):
    # x23/doremi: the LM scorers shuffle (doc_id, token) id rows by
    # design; the raw document text itself must never cross an
    # Exchange, and no Python runs anywhere
    from talna_spark.pipeline.sampling import doremi_mixture_sample

    plan = plan_of(doremi_mixture_sample(spark, "/root/testdata/sf0.001"))
    assert "BatchEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange" in line and "text#" in line:
            raise AssertionError(f"document text crosses a shuffle: {line}")


def test_dup_span_maximal_no_python(spark):
    # x21/maximal: the run-coalescing fold is a JVM aggregate() — the
    # whole operator stays Python-free
    from talna_spark.pipeline.dedup import dup_span_maximal

    plan = plan_of(dup_span_maximal(spark, "/root/testdata/sf0.001"))
    assert "BatchEvalPython" not in plan


def test_survivor_filters_use_hashset_membership(spark):
    # x21/clean+maximal, paragraph: the survivor rebuild must be the
    # O(n + removed) array_except shape (_kept_by_index). The two
    # regressions it replaces both leave fingerprints in the optimized
    # plan: per-element array_contains over the removal list, and the
    # r11 map shape, which Catalyst rewrites to
    # array_contains(map_keys(...)) — a per-element key-array COPY
    # (measured 103 s / ~2700 s vs 1 s on 200 heavily-duplicated docs).
    from talna_spark.pipeline.dedup import (
        dup_span_clean,
        dup_span_maximal,
        paragraph_dedup,
    )

    for op in (dup_span_clean, dup_span_maximal, paragraph_dedup):
        df = op(spark, "/root/testdata/sf0.001")
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "array_except" in opt, op.__name__
        assert "map_keys" not in opt, op.__name__
        assert "array_contains" not in opt, op.__name__


def test_token_split_stays_behind_checkpoint_barrier(spark):
    # r12 regression guard for the captured-expression class: a HOF
    # lambda evaluates captured expressions PER ELEMENT, so the token /
    # paragraph split must be materialized behind the localCheckpoint
    # barrier (dedup._tokenized) and never appear inline in these ops'
    # own plans. Any split( in the optimized plan means the barrier was
    # dropped and some lambda can capture the split again (measured
    # costs of that class: winnowing >500 s -> 2 s, repetition 9.2 ->
    # 0.33 s, blocked jaccard 74.7 -> 0.21 s at sf0.1).
    from talna_spark.pipeline.decontam import contamination_scan
    from talna_spark.pipeline.dedup import (
        dup_span_clean,
        dup_span_maximal,
        dup_spans,
        lsh_near_dup_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        paragraph_dedup,
    )
    from talna_spark.pipeline.sampling import dsir_select
    from talna_spark.pipeline.text import (
        fingerprint,
        repetition,
        winnow_fingerprints,
    )

    sf = "/root/testdata/sf0.001"
    for op in (
        minhash_signatures,
        lsh_near_dup_pairs,
        dup_spans,
        ngram_jaccard_pairs,
        dup_span_clean,
        dup_span_maximal,
        paragraph_dedup,
        fingerprint,
        winnow_fingerprints,
        repetition,
        dsir_select,
        contamination_scan,
    ):
        opt = op(spark, sf)._jdf.queryExecution().optimizedPlan().toString()
        assert "split(" not in opt, op.__name__


# ------------------------------------------------------------------
# r13 (VERDICT r12 next-round #1): the SYSTEMATIC captured-expression
# guard. A HOF lambda re-evaluates any CAPTURED expression per element
# (HOF inputs are evaluated once; only lambda-body captures repeat), so
# a lambda body embedding a split()/md5()/regexp_*() call over a
# non-lambda attribute is the exact fingerprint of the r12 bug class
# (winnowing O(grams^2), >500 s at sf0.1 -> 2 s once materialized;
# found at 10 more sites that round). The detector below parses the
# rendered optimized plan: every `lambdafunction(...)` balanced span is
# a lambda body; inside it, a costly call whose own balanced span
# references an attribute (`name#id`) NOT introduced as a lambda
# variable (`lambda name#id`) is a capture. Splitting/hashing a lambda
# VARIABLE is inherent per-element work and exempt (minhash hashes its
# shingle argument — fine).
#
# Revert-proof (run by hand, documented here because tests cannot
# depend on git history): on aa59723^ (pre-fix winnowing),
# _captured_costly_calls over winnow_fingerprints' optimized plan
# reports the captured `split(text#..)`/`md5(..)` subtree inside the
# per-window slice lambda; on HEAD it reports nothing.

_COSTLY_CALLS = (
    "split(", "md5(", "regexp_replace(", "regexp_extract(",
    # r14 (VERDICT r13 item 6): same re-evaluation class, other heads.
    # "hash(" also substring-matches inside xxhash64 spans — harmless
    # double-reporting of the same offender, never a miss.
    "sha2(", "hash(", "xxhash64(", "encode(", "conv(",
)
_ATTR_RE = __import__("re").compile(r"\b\w+#\d+")


def _balanced_spans(plan: str, marker: str):
    """Every balanced-paren span opened by ``marker`` in the rendered
    plan (inclusive of the marker, exclusive scan on nesting)."""
    out = []
    start = plan.find(marker)
    while start != -1:
        i = start + len(marker)  # just past the opening paren
        depth = 1
        while i < len(plan) and depth:
            c = plan[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            i += 1
        out.append(plan[start:i])
        start = plan.find(marker, start + len(marker))
    return out


def _captured_attrs(span: str):
    """Attribute references in ``span`` that are NOT lambda variables
    (lambda vars render as ``lambda name#id``)."""
    hits = []
    for m in _ATTR_RE.finditer(span):
        if span[max(0, m.start() - 7) : m.start()] != "lambda ":
            hits.append(m.group())
    return hits

def _captured_costly_calls(plan: str):
    """(costly-call snippet, captured attrs) pairs for every costly call
    inside a lambda body that references a captured attribute."""
    bad = []
    for lam in _balanced_spans(plan, "lambdafunction("):
        body = lam[len("lambdafunction(") :]
        for call in _COSTLY_CALLS:
            for span in _balanced_spans(body, call):
                caps = _captured_attrs(span)
                if caps:
                    bad.append((span[:120], sorted(set(caps))))
    return bad


def test_bk_build_no_global_sort(spark):
    """r13: the bottom-k sketch's 'the corpus never sorts' claim — the
    physical plan must be TakeOrderedAndProject (per-partition partial
    top-k, k rows out) over a partial-agg distinct, never a global
    Sort + Exchange of the full hash set."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.sketches import bk_build

    d = spark.range(10000).select(F.col("id").cast("string").alias("v"))
    plan = plan_of(bk_build(d, "v", k=64))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan, plan


def test_exact_dedup_against_bloom_zero_ref_shuffle(spark):
    """r13: the amortized per-batch exact-dedup path must never shuffle
    the reference — candidates and dup-hashes move as broadcasts, the
    ref hash scan streams map-side through broadcast semi-joins. A
    SortMergeJoin anywhere in the plan means a corpus-sized side got
    shuffled and the amortization claim is gone."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.dedup import (
        bloom_build,
        exact_dedup_against_bloom,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new_d = d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    ref_d = d.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    bm = bloom_build(
        ref_d.select(F.md5("text").alias("_h")), "_h", m=1 << 16
    ).localCheckpoint()
    plan = plan_of(exact_dedup_against_bloom(new_d, ref_d, bm, m=1 << 16))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_captured_expression_detector_self_check(spark):
    """The detector must fire on a synthetic reconstruction of the bug
    shape (lambda captures split(text)) and stay silent on the two
    legitimate shapes (split as HOF input; hashing the lambda var)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a b c d e",)], "text string")

    bug = df.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda i: F.element_at(F.split(F.col("text"), " "), i + 1),
        ).alias("g")
    )
    hits = _captured_costly_calls(
        bug._jdf.queryExecution().optimizedPlan().toString()
    )
    assert hits and any("split(" in h for h, _ in hits), hits

    ok_input = df.select(
        F.transform(F.split(F.col("text"), " "), lambda w: F.upper(w)).alias(
            "g"
        )
    )
    ok_lamvar = df.select(
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.md5(w)
        ).alias("g")
    )
    for ok in (ok_input, ok_lamvar):
        plan = ok._jdf.queryExecution().optimizedPlan().toString()
        assert _captured_costly_calls(plan) == [], plan


def test_no_captured_costly_expressions_in_any_driver_query(spark):
    """The class invariant: NO query on the driver surface may plan an
    interpreted HOF lambda that captures a split/md5/regexp subtree over
    a non-lambda attribute. Sweeps every queries() entry (the full
    driver surface — dedup, text, sampling, similarity, sketches,
    multimodal, sources — auto-extends as rows are added) at sf0.001."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, q in sorted(entrymod.queries().items()):
        plan = q(spark, sf)._jdf.queryExecution().optimizedPlan().toString()
        hits = _captured_costly_calls(plan)
        if hits:
            offenders[name] = hits
    assert not offenders, (
        "HOF lambdas capturing costly expressions over non-lambda "
        f"attributes (the r12 O(n^2) class): {offenders}"
    )


def test_weighted_sample_global_is_topk_not_full_sort(spark):
    """100 TB contract: the global weighted sample plans as a top-k
    (TakeOrderedAndProject — per-partition partial limits, k rows to
    the driver), never a corpus-wide Sort+Exchange; grouped form is
    the reservoir window shape."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.sampling import weighted_sample

    d = spark.range(10000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1.0).alias("w")
    )
    g = weighted_sample(d, "doc_id", "w", 50)
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan


def test_grouped_samplers_get_window_group_limit(spark):
    """100 TB contract (VERDICT r13 item 5): the GROUPED weighted and
    reservoir samplers rely on Spark's rank-limit pushdown — the
    row_number() <= k filter must plan a WindowGroupLimit (partial
    per-partition top-k BEFORE the per-group shuffle), so a mega-
    stratum ships at most k rows per map partition instead of
    funneling its whole corpus through one reducer's window sort."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.sampling import reservoir_sample, weighted_sample

    d = spark.range(10000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7 + 1.0).alias("w"),
        (F.col("id") % 5).cast("string").alias("src"),
    )
    for name, df in (
        ("weighted", weighted_sample(d, "doc_id", "w", 50, group_col="src")),
        ("reservoir", reservoir_sample(d, "doc_id", "src", 50)),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, (name, plan)
        # Partial mode runs map-side before the group exchange; its
        # absence means the limit only applies post-shuffle and the
        # mega-stratum funnel is back
        assert "Partial" in plan.split("WindowGroupLimit", 1)[1].split(
            "\n", 1
        )[0] or plan.count("WindowGroupLimit") >= 2, (name, plan)
        assert "BatchEvalPython" not in plan, name


def test_indexed_dataset_writer_single_shuffle(spark, tmp_path):
    """100 TB contract: the .bin/.idx writer's only exchange is the ONE
    hash repartition into shard partitions — no window, no extra sort
    exchange (sortWithinPartitions is partition-local), no Python rows
    outside the Arrow sink itself."""
    from pyspark.sql import functions as F

    from talna_spark.sources.megatron import write_indexed_dataset

    d = spark.range(200).select(
        F.col("id").cast("string").alias("seq_id"),
        F.array(F.col("id"), F.col("id") * 2).alias("ids"),
    )
    man = write_indexed_dataset(d, str(tmp_path / "mm"), n_shards=3)
    plan = man._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan
    assert "hashpartitioning" in plan


def test_nfc_normalize_map_only(spark):
    """100 TB contract: NFC normalization is one Arrow map pass — zero
    exchanges, all input columns ride through."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.text import nfc_normalize_text

    d = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("x"), F.col("id")).alias("text"),
        F.lit("keep").alias("extra"),
    )
    out = nfc_normalize_text(d)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert out.columns == ["doc_id", "text", "extra", "text_nfc"]


def _jobs_in_call(spark, fn) -> int:
    """Spark jobs started by ``fn().collect()``: the call runs under its
    own job group and the status tracker counts the group's jobs once
    the listener bus has delivered every job event (a throttle-proof
    counter — independent of host speed)."""
    return _collect_in_group(spark, fn)[0]


def _collect_in_group(spark, fn):
    """(jobs, df): :func:`_jobs_in_call`'s count plus the collected
    frame ``fn()`` returned, whose executed plan is then AQE-final."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        df = fn()
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), df


def _plan_lines_with(plan: str, node: str, needle: str) -> list:
    """Lines of a rendered plan that hold ``node`` and ``needle``."""
    return [ln for ln in plan.splitlines() if node in ln and needle in ln]


def test_curate_step_job_counts(spark, monkeypatch):
    """The curate_corpus step's per-call job budget at sf0.001, with the
    source scan fanned out as the benchmark does: curate() plans at most
    5 jobs (the documents schema is declared, so no schema-inference
    job; one tokenization checkpoint feeds quality and both gram sides,
    one window marks canonical rows, contamination is an ExistenceJoin;
    the undeclared read ran 6) and the per-batch Bloom exact dedup at
    most 6 (one collect of the literal bitmap, no distinct spine) on a
    batch with exact dups. Each gram is hashed once: the hashes are
    exploded out of the gram array, so no Filter above the Generate
    recomputes md5 for the inferred IsNotNull(h)."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.curate import curate
    from talna_spark.pipeline.dedup import bloom_build, exact_dedup_against_bloom

    monkeypatch.setenv("TALNA_MIN_SCAN_TASKS", "4")
    sf = "/root/testdata/sf0.001"
    n, out = _collect_in_group(spark, lambda: curate(spark, sf))
    assert n <= 5, n
    plan = plan_of(out)
    gens = [ln for ln in plan.splitlines() if "Generate explode(" in ln]
    assert gens and all("md5(" in g for g in gens), gens
    assert not _plan_lines_with(plan, "Filter ", "md5("), plan

    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    ref = d.filter(F.col("doc_id") % 3 == 0)
    new = d.filter(F.col("doc_id") % 3 != 0).unionByName(
        ref.filter(F.col("doc_id") < 60).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    bm = bloom_build(
        ref.select(F.md5("text").alias("_h")), "_h", m=1 << 16
    ).localCheckpoint()
    n = _jobs_in_call(spark, lambda: exact_dedup_against_bloom(new, ref, bm, m=1 << 16))
    assert n <= 6, n


@pytest.mark.parametrize(
    "op, budget",
    [("text.token_stats", 1), ("dedup.exact_survivors", 2), ("text.corpus_stats", 3)],
)
def test_documents_reader_job_budget(spark, monkeypatch, op, budget):
    """Operators read the documents table under its declared schema
    (pipeline.scan.read_documents), so no call runs a parquet
    schema-inference job: at sf0.001 without the scan fan-out,
    token_stats runs 1 job, exact_survivors 2 and corpus_stats (two
    reads) 3; the undeclared read ran 2, 3 and 5."""
    import importlib

    monkeypatch.delenv("TALNA_MIN_SCAN_TASKS", raising=False)
    mod, fn = op.split(".")
    f = getattr(importlib.import_module(f"talna_spark.pipeline.{mod}"), fn)
    n, _ = _collect_in_group(spark, lambda: f(spark, "/root/testdata/sf0.001"))
    assert n <= budget, n


def test_bloom_gate_not_copied_to_reference_scan(spark):
    """In the literal regime both Bloom exact-dedup callers evaluate the
    gate once per new row inside the new-side checkpoint and hand on
    its candidates as a filter on the gate column. No Filter and no
    parquet scan in the executed plan (AQE final) probes the bitmap
    (``bl1|`` is the first probe's hash salt): with the gate expression
    on the candidates, InferFiltersFromConstraints copied it through
    the ``_h`` join onto every reference row, as a Filter and as a
    parquet DataFilter, where it rejects nothing."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.dedup import (
        bloom_build,
        dedup_against_frames,
        exact_dedup_against_bloom,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new_d = d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    ref_d = d.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    bm = bloom_build(
        ref_d.select(F.md5("text").alias("_h")), "_h", m=1 << 16
    ).localCheckpoint()
    for build in (
        lambda: exact_dedup_against_bloom(new_d, ref_d, bm, m=1 << 16),
        lambda: dedup_against_frames(new_d, ref_d, bloom_bm=bm),
    ):
        _n, out = _collect_in_group(spark, build)
        plan = plan_of(out)
        assert "AdaptiveSparkPlan isFinalPlan=true" in plan, plan
        for node in ("Filter ", "FileScan parquet"):
            assert not _plan_lines_with(plan, node, "bl1|"), plan
