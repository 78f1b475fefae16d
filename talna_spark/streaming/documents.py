"""Streaming document curation: the incremental-crawl front door.

The batch side already has the every-crawl workflow (`pipeline.curate`
for a static corpus, `pipeline.dedup.dedup_against` for new-vs-reference
flagging); this lifts the map-only gates and the reference-dedup join to
Structured Streaming, so fresh crawl shards can be curated as they land
instead of in nightly batches.

Design for the streaming execution model:

- **Quality + rule gates run on the stream itself** — `quality_parts`
  and the Gopher rule battery are pure per-row projections (no shuffle,
  no state), so they apply to a streaming DataFrame unchanged. This is
  the payoff of keeping the batch operators map-only: the SAME column
  expressions serve batch and stream.
- **Reference dedup is a stream-static anti-join**: md5(text) of each
  streaming doc left-anti-joins the static reference corpus' hash
  projection. Stream-static joins are stateless on the stream side —
  Spark re-plans the static side per micro-batch, so a reference
  refreshed between batches is picked up without restarts.
- **Within-stream dedup is per-batch + cross-batch-by-warehouse**: the
  stream drops exact duplicates inside each micro-batch
  (`dropDuplicates` in `foreachBatch`); duplicates ACROSS batches are
  the reference corpus' job — append each curated batch to the corpus
  and the next batch's anti-join sees it. That keeps streaming state
  bounded at zero (no unbounded dedup state, no watermark needed on a
  table that has no event time), the same division of labor as
  dedup_stream vs warehouse compaction on the points side.

State bound: nothing stateful runs in the stream — every micro-batch is
a bounded batch job (gates map-only, joins against static/parquet
sides). At 100 TB-of-reference scale the anti-join is a shuffle join on
the hash (AQE picks broadcast when the reference fits), identical to the
batch dedup_against shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from talna_spark.pipeline.curate import QUALITY_MIN as CURATE_MIN_QUALITY


def gate_documents(
    doc_stream: DataFrame, batteries: tuple = ("gopher",)
) -> DataFrame:
    """Apply the map-only curation gates to a (streaming or batch)
    documents DataFrame: soft quality score >= CURATE_MIN_QUALITY and
    the selected hard-rule batteries clean ('gopher' and/or 'c4' — both
    are free-standing Column expressions, so composing them stays one
    map-only projection). fail_mask bit positions are FIXED regardless
    of which batteries are selected: gopher always owns bits
    0..len(GOPHER_RULE_NAMES)-1 and c4 always starts at
    len(GOPHER_RULE_NAMES), so masks from different gate configurations
    are directly comparable (an unselected battery simply leaves its
    bits zero). Adds (quality, fail_mask, verdict)
    — verdict 'kept' | 'low_quality' | 'rule_fail' — and keeps every
    row (filtering is the caller's one-liner) so the drop ledger stays
    auditable, like curate()'s per-doc verdicts."""
    from talna_spark.pipeline.text import (
        GOPHER_RULE_NAMES, c4_parts, gopher_parts, quality_parts,
    )

    unknown = set(batteries) - {"gopher", "c4"}
    if unknown or not batteries:
        raise ValueError(f"unknown batteries: {sorted(unknown) or batteries}")
    _, _, _, score = quality_parts()
    quality = F.round(score, 6)
    mask = F.lit(0).cast("long")
    if "gopher" in batteries:
        _, gmask, _ = gopher_parts()
        mask = mask + gmask
    if "c4" in batteries:
        # fixed offset: c4 bits start above the FULL gopher band even
        # when gopher is not selected, so masks are config-comparable
        _, cmask, _ = c4_parts()
        mask = mask + cmask * (2 ** len(GOPHER_RULE_NAMES))
    verdict = (
        F.when(mask != 0, F.lit("rule_fail"))
        .when(quality < CURATE_MIN_QUALITY, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
    )
    return doc_stream.withColumn("quality", quality).withColumn(
        "fail_mask", mask
    ).withColumn("verdict", verdict)


def dedup_against_reference(
    doc_stream: DataFrame, reference: DataFrame
) -> DataFrame:
    """Drop streaming docs whose exact text already exists in the static
    reference corpus (left-anti stream-static join on md5(text) —
    stateless on the stream; the static side is re-planned every
    micro-batch so an appended-to reference is seen without restart).
    ``reference``: any static (doc_id, text, ...) DataFrame."""
    ref_hashes = reference.select(F.md5("text").alias("_text_hash")).distinct()
    return (
        doc_stream.withColumn("_text_hash", F.md5("text"))
        .join(ref_hashes, "_text_hash", "left_anti")
        .drop("_text_hash")
    )


def dedup_against_reference_bloom(
    doc_stream: DataFrame,
    reference: DataFrame,
    bloom_words: list[int],
    k: int | None = None,
) -> DataFrame:
    """:func:`dedup_against_reference` with a Bloom fast path — the
    shape a high-volume crawl stream wants: docs whose text-hash is
    DEFINITELY not in the reference (the common case) pass through a
    pure MAP-SIDE literal-bitmap check, zero shuffle and zero static
    re-scan; only might-contain docs (true dups + the fp rate) pay the
    stream-static anti-join. No false negatives, so the output is
    row-identical to the plain variant (tested). ``bloom_words`` is the
    collected bitmap (pipeline.dedup.bloom_build -> bloom_to_words),
    built once per reference refresh OUTSIDE the stream — the sketch is
    a broadcast constant, so the gate stays stateless; its size m is
    64 x len(``bloom_words``).

    NULL-text docs pass (md5(NULL) never equals a reference hash —
    matching the anti-join's NULL-key behavior)."""
    from talna_spark.pipeline.dedup import BLOOM_K, bloom_might_contain

    k = BLOOM_K if k is None else int(k)
    might = bloom_might_contain(F.md5("text"), bloom_words, k)
    definite_new = doc_stream.filter(F.coalesce(~might, F.lit(True)))
    candidates = doc_stream.filter(F.coalesce(might, F.lit(False)))
    return definite_new.unionByName(
        dedup_against_reference(candidates, reference)
    )


def drop_near_dups_of_reference(
    batch_df: DataFrame, reference: DataFrame, max_bucket: int = 1000
) -> DataFrame:
    """Drop batch docs that NEAR-duplicate the static reference corpus —
    the streaming lift of the incremental-dedup near leg (r6): the full
    ``pipeline.dedup.dedup_against_frames`` machinery (MinHash-LSH band
    join of batch-vs-reference rows only, exact-Jaccard verification,
    hot-bucket cap on the reference side) runs as a BATCH job per
    micro-batch, which is why this lives behind ``foreachBatch`` rather
    than on the stream itself: the LSH pipeline needs checkpoints and
    windows that streaming plans cannot host, and a micro-batch is a
    bounded batch DataFrame where they are legal. Survivors are docs
    whose verdict is ``new`` (exact dups fall out too — harmlessly
    redundant with the stream-side md5 anti-join). At scale the
    reference's band rows would be materialized once, not recomputed
    per batch; this recomputes from the reference scan, which the
    stream-static exact join already re-plans per batch anyway."""
    from talna_spark.pipeline.dedup import dedup_against_frames

    keep = (
        dedup_against_frames(batch_df, reference, max_bucket=max_bucket)
        .filter(F.col("verdict") == "new")
        .select("doc_id")
    )
    return batch_df.join(keep, "doc_id")


def stream_curate(
    doc_stream: DataFrame,
    reference: DataFrame,
    out_path: str,
    checkpoint: str,
    near_dup: bool = False,
    clf_weights=None,
    clf_bias: float = 0.0,
    clf_threshold: float = 0.5,
    clf_features: int = 1024,
    keep_langs=None,
    lang_model: dict = None,
    keep_scripts=None,
):
    """End-to-end streaming curation: gate -> reference-dedup ->
    per-batch exact dedup (-> per-batch reference NEAR-dedup with
    ``near_dup=True``; -> per-batch learned-classifier gate with
    ``clf_weights``, both r6; -> SCRIPT gate with ``keep_scripts``,
    r10 — a pure row-wise expression, so unlike the batch-plan gates it
    applies directly on the STREAM before dedup spends any state; ->
    per-batch learned LANGUAGE gate with ``keep_langs``/``lang_model``,
    r9) -> parquet append. Returns the
    StreamingQuery. Each curated batch should be appended to the
    reference corpus by the caller's cadence (or point ``reference`` at
    the out_path scan) so cross-batch duplicates are caught on the next
    micro-batch — the bounded-state division of labor described in the
    module docstring.

    The classifier gate runs the EXACT batch scorer
    (pipeline.classifier.score_documents, broadcast-weights plan) on
    each micro-batch inside ``foreachBatch`` — like the near-dup leg,
    because the scorer's per-doc aggregation is a batch plan; a
    micro-batch is a bounded DataFrame where it is legal. Stream-vs-
    batch score equivalence is therefore by construction, not by a
    parallel reimplementation."""
    kept = gate_documents(doc_stream).filter(F.col("verdict") == "kept")
    if keep_scripts is not None:
        from talna_spark.pipeline.text import script_parts

        script, _best, _total = script_parts()
        kept = kept.filter(script.isin(*sorted(keep_scripts)))
    gated = dedup_against_reference(kept, reference)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # within-batch exact dedup: deterministic survivor (min doc_id)
        out = (
            batch_df.withColumn("_h", F.md5("text"))
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("_h").orderBy(F.col("doc_id").asc())
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_h", "_rn")
        )
        if near_dup:
            out = drop_near_dups_of_reference(out, reference)
        if clf_weights is not None:
            from talna_spark.pipeline.classifier import score_documents

            scores = score_documents(
                out.sparkSession,
                docs=out,
                weights=clf_weights,
                bias=clf_bias,
                n_features=clf_features,
            ).select("doc_id", "clf_score")
            # LEFT join + NULL-keeps: a doc whose NULL text yields no
            # feature rows has no score row; batch curate()'s left join
            # keeps it (NULL < threshold is not true), so the stream
            # must too — same-verdict equivalence, not just same-scorer
            out = (
                out.join(scores, "doc_id", "left")
                .filter(
                    F.col("clf_score").isNull()
                    | (F.col("clf_score") >= clf_threshold)
                )
                .drop("clf_score")
            )
        if keep_langs is not None:
            # learned language gate (r9): a batch plan like the clf
            # scorer, so it runs per micro-batch here; same
            # NULL-keeps-as-batch rule (pred_lang is total — 'und' for
            # gramless docs — so NULL only means a dropped join row)
            from talna_spark.pipeline.text import lang_id_learned

            lid = lang_id_learned(
                out.sparkSession,
                docs=out.withColumn("lang", F.lit(None).cast("string")),
                model=lang_model,
            ).select("doc_id", "pred_lang")
            out = (
                out.join(lid, "doc_id", "left")
                .filter(
                    F.col("pred_lang").isNull()
                    | F.col("pred_lang").isin(*sorted(keep_langs))
                )
                .drop("pred_lang")
            )
        out.write.mode("append").parquet(out_path)

    return (
        gated.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
