"""End-to-end corpus curation: the composed pass a training-data
pipeline actually runs — quality gate -> exact dedup -> benchmark
decontamination -> deterministic split — emitting one row per document
with its verdict and the reason it was dropped (auditable curation: a
dropped doc is explainable, not silently gone).

Verdict precedence (first failure wins, cheapest signals first):
``low_quality`` -> ``duplicate`` (non-canonical copy of a text) ->
``contaminated`` (shares a word shingle with the eval slice) -> kept,
with the kept docs carrying their train/val/test split.

Every stage reuses the verified operators' own expressions/SQL
(pipeline.text.quality_parts, pipeline.decontam's shingle hashes,
pipeline.sampling's bucket), and the DuckDB twin composes the SAME
generated SQL pieces, so the composition cannot drift from its parts.

Plan shape — ONE parquet read and ONE tokenization of the corpus. The
read declares its (doc_id BIGINT, text STRING) schema
(pipeline.scan.read_documents), so no call runs a parquet
schema-inference job. The (doc_id, text, _w) projection, ``_w`` being
``tokens(text)``, is materialized behind a single lazy localCheckpoint and every stage
branches off it. Quality and split are computed inline map-side, the
quality score reading ``_w`` (quality_parts(words=...), bit-identical
to re-splitting text); dedup is one window over the map-side
md5(text) — min(doc_id) per text marks the canonical row, so the
scored rows themselves carry the flag through the one shuffle and no
survivor set is joined back; both gram sides of the contamination
check (corpus and eval slice) read ``_w`` from the same checkpoint, so
no stage re-reads the parquet or re-splits the text. Contamination is
needed here only as existence: the corpus gram hashes left-semi-join
the broadcast eval hashes (duplicates on the build side are harmless,
so the eval side is not de-duplicated first) and ``doc_id IN`` the
surviving ids plans as an ExistenceJoin, which needs no distinct over
them. Catalyst does not merge separate scans, so the naive composition
read the 100 TB corpus ~4x — the checkpoint trades one materialized
id+text+tokens projection (executor-local storage, same
lineage-truncation pattern as LSH/connected-components) for the repeat
scans and splits. Nothing shuffles document text: every join and
aggregate carries ids/hashes only.

Dedup canonicalization runs over the EVAL-FILTERED corpus: the
canonical survivor of a text is its lowest non-eval doc_id, so a text
whose lowest global copy happens to sit in the eval slice still keeps
one curatable copy (r4 ADVICE: the full-corpus canonical could be an
eval doc, silently dropping every trainable copy of that text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from talna_spark.pipeline.decontam import (
    EVAL_MOD,
    SHINGLE_K,
    _shingle_hashes,
    contamination_scan_sql,
)
from talna_spark.pipeline.portable import tokens
from talna_spark.pipeline.sampling import TRAIN_PCT, VAL_PCT, _bucket
from talna_spark.pipeline.scan import fan_out, read_documents
from talna_spark.pipeline.text import quality_parts, quality_sql

QUALITY_MIN = 0.5
CLF_THRESHOLD = 0.5


def curate(
    spark: SparkSession,
    sf_dir: str,
    clf_weights=None,
    clf_bias: float = 0.0,
    clf_threshold: float = CLF_THRESHOLD,
    clf_features: int = 1024,
    keep_langs=None,
    lang_model: dict = None,
    keep_scripts=None,
) -> DataFrame:
    """(doc_id, verdict, split) for every document: verdict in
    {low_quality, classifier_reject, script_filtered,
    language_filtered, duplicate, contaminated, kept}; split only for
    kept.

    ``keep_scripts`` (r10, optional): a collection of script names
    (pipeline.text._SCRIPT_RANGES keys, plus 'none') — docs whose
    dominant Unicode script falls outside it get verdict
    ``script_filtered``. Sits BEFORE the learned language gate (the
    routing order: script is a pure map-side expression computed
    inline on the shared scan — no join, no aggregate — while the
    language gate costs a char-gram hash-agg; cheap rejections first).
    Default None keeps the plan byte-identical to the composition
    without the stage.

    ``keep_langs`` (r9, optional): a collection of language codes —
    docs whose learned-language prediction (pipeline.text.
    lang_id_learned over ``lang_model``; the demo-formula model when
    None) falls outside it get verdict ``language_filtered``. Sits
    after the quality/classifier gates and before dedup (the CCNet
    order: language-route before spending shuffles on dedup). Docs too
    short for any char gram predict 'und' — include 'und' in
    ``keep_langs`` to keep them. Default None keeps the plan (and the
    driver oracle) byte-identical to the composition without the
    stage; the gate branches off the SAME checkpoint, adding one
    id-only (doc_id, f) aggregate + broadcast-weights join, no extra
    scan.
    The source scan is widened via the shared TALNA_MIN_SCAN_TASKS
    fan-out (pipeline.scan) before the shared checkpoint — quality
    regexes + md5 + shingle hashing are the dominant map cost and would
    otherwise run on one task for a single-row-group file; a no-op at
    real scale where the source is many files.

    ``clf_weights`` (r6, optional): a trained hashing-trick classifier
    (pipeline.classifier.train_classifier) inserted between the
    rule-based quality gate and dedup — the GPT-3-style learned gate.
    Docs scoring below ``clf_threshold`` get verdict
    ``classifier_reject``. Default None keeps the plan (and the driver
    oracle) byte-identical to the rule-only composition; the classifier
    stage branches off the SAME checkpoint, adding one id-only
    (doc_id, f) aggregate + broadcast-weights join, no extra scan."""
    base = fan_out(read_documents(spark, sf_dir, "doc_id", "text")).select(
        "doc_id", "text", tokens(F.col("text")).alias("_w")
    ).localCheckpoint(eager=False)
    # eval-slice docs are the benchmark itself — excluded from curation
    corpus = base.filter(F.col("doc_id") % EVAL_MOD != 0)
    ev = base.filter(F.col("doc_id") % EVAL_MOD == 0)

    *_rest, score = quality_parts(words=F.col("_w"))
    b = _bucket(F.col("doc_id"))
    split = (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    # quality + split (+ the optional script verdict) inline on the
    # scan: text is consumed map-side and pruned before any shuffle —
    # scored rows are id-sized. Exact-dedup survivors over the
    # eval-filtered corpus: a row is canonical when its doc_id is the
    # least of its md5(text) partition — one shuffle of those id-sized
    # rows, keyed by the map-side md5 (doc_id is the documents' key)
    inline = [
        F.col("doc_id"),
        F.round(score, 6).alias("quality"),
        split.alias("_split"),
        (
            F.min("doc_id").over(Window.partitionBy(F.md5("text")))
            == F.col("doc_id")
        ).alias("_canon"),
    ]
    if keep_scripts is not None:
        from talna_spark.pipeline.text import script_parts

        script, _best, _total = script_parts()
        inline.append(script.alias("_script"))
    scored = corpus.select(*inline)
    # existence only (n_hits is never read): the doc_ids whose hashes
    # semi-join the broadcast eval hashes; the build side tolerates
    # duplicate hashes and the IN test below tolerates duplicate ids
    contam_ids = (
        _shingle_hashes(corpus, SHINGLE_K)
        .join(F.broadcast(_shingle_hashes(ev, SHINGLE_K)), "h", "left_semi")
        .select("doc_id")
    )
    # the IN subquery plans as an ExistenceJoin: a boolean per scored
    # row, so the ids need no distinct. No broadcast hint: the
    # contamination set is usually tiny and AQE broadcasts it on its own
    # when it is
    out = scored.withColumn("_hit", F.col("doc_id").isin(contam_ids))
    clf_fail = F.lit(False)
    if clf_weights is not None:
        from talna_spark.pipeline.classifier import score_documents

        clf = score_documents(
            spark,
            docs=corpus,
            weights=clf_weights,
            bias=clf_bias,
            n_features=clf_features,
        ).select("doc_id", "clf_score")
        out = out.join(clf, "doc_id", "left")
        clf_fail = F.col("clf_score") < clf_threshold
    lang_fail = F.lit(False)
    if keep_langs is not None:
        from talna_spark.pipeline.text import lang_id_learned

        lid = lang_id_learned(
            spark,
            docs=corpus.withColumn("lang", F.lit(None).cast("string")),
            model=lang_model,
        ).select("doc_id", "pred_lang")
        out = out.join(lid, "doc_id", "left")
        # pred_lang is total ('und' fallback), so NULL only means the
        # doc vanished from the left join — never filter on NULL
        lang_fail = F.col("pred_lang").isNotNull() & ~F.col(
            "pred_lang"
        ).isin(*sorted(keep_langs))
    script_fail = F.lit(False)
    if keep_scripts is not None:
        script_fail = ~F.col("_script").isin(*sorted(keep_scripts))
    verdict = (
        F.when(F.col("quality") < QUALITY_MIN, F.lit("low_quality"))
        .when(clf_fail, F.lit("classifier_reject"))
        .when(script_fail, F.lit("script_filtered"))
        .when(lang_fail, F.lit("language_filtered"))
        .when(~F.col("_canon"), F.lit("duplicate"))
        .when(F.col("_hit"), F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    return out.select(
        "doc_id",
        verdict.alias("verdict"),
        F.when(verdict == "kept", F.col("_split")).alias("split"),
    )


def curate_sql() -> str:
    """DuckDB twin composed from the SAME generated stage SQL. The keep
    CTE mirrors the Spark path's eval-filtered canonicalization (min
    NON-EVAL doc_id per distinct text)."""
    b = (
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) "
        "% 100"
    )
    return (
        f"WITH q AS (SELECT doc_id, quality FROM ({quality_sql()})), "
        f"keep AS (SELECT MIN(doc_id) AS doc_id FROM documents "
        f"WHERE doc_id % {EVAL_MOD} <> 0 GROUP BY md5(text)), "
        f"contam AS (SELECT doc_id FROM ({contamination_scan_sql(SHINGLE_K)})), "
        f"base AS (SELECT d.doc_id, q.quality, "
        f"(k.doc_id IS NOT NULL) AS canon, (c.doc_id IS NOT NULL) AS hit, "
        f"{b} AS bkt "
        f"FROM documents d JOIN q USING (doc_id) "
        f"LEFT JOIN keep k ON d.doc_id = k.doc_id "
        f"LEFT JOIN contam c ON d.doc_id = c.doc_id "
        f"WHERE d.doc_id % {EVAL_MOD} <> 0) "
        f"SELECT doc_id, "
        f"CASE WHEN quality < {QUALITY_MIN} THEN 'low_quality' "
        f"WHEN NOT canon THEN 'duplicate' "
        f"WHEN hit THEN 'contaminated' ELSE 'kept' END AS verdict, "
        f"CASE WHEN quality >= {QUALITY_MIN} AND canon AND NOT hit THEN "
        f"(CASE WHEN bkt < {TRAIN_PCT} THEN 'train' "
        f"WHEN bkt < {TRAIN_PCT + VAL_PCT} THEN 'val' ELSE 'test' END) "
        f"END AS split FROM base"
    )
