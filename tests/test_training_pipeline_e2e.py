"""Capstone integration: the full r6 training-data path on real
testdata — curate (with the learned classifier gate) → keep-set →
BPE-tokenize → FFD-pack token ids → export with manifest. Each stage is
individually oracle/unit-verified elsewhere; this pins that they
COMPOSE: ids flow through joins, token totals are conserved end to end,
and the exported corpus round-trips."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_curate_tokenize_pack_export(spark, tmp_path):
    from talna_spark.pipeline.bpe import bpe_encode_ids, bpe_train
    from talna_spark.pipeline.classifier import train_classifier
    from talna_spark.pipeline.curate import curate
    from talna_spark.pipeline.export import export_corpus, read_manifest
    from talna_spark.pipeline.packing import pack_assign_lengths

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    # 1. train the learned gate on synthetic labels, curate with it
    labels = docs.select(
        "doc_id", (F.col("doc_id") % 2).cast("double").alias("y")
    )
    model = train_classifier(docs, labels, n_features=256, iters=2, lr=4.0)
    verdicts = curate(
        spark,
        SF,
        clf_weights=model["weights"],
        clf_bias=model["bias"],
        clf_threshold=0.45,
        clf_features=256,
    )
    kept = verdicts.filter(F.col("verdict") == "kept").select(
        "doc_id", "split"
    )
    n_kept = kept.count()
    assert 0 < n_kept < docs.count()

    # 2. tokenize the kept set and pack by BPE length
    merges = bpe_train(spark, SF, n_merges=10)
    enc = (
        bpe_encode_ids(spark, SF, merges)
        .join(kept, "doc_id")
        .localCheckpoint(eager=False)
    )
    assert enc.count() == n_kept
    assign = pack_assign_lengths(
        enc.select("doc_id", F.col("n_bpe_tokens").alias("n_tokens")),
        budget=512,
    )
    packed = assign.join(enc.select("doc_id", "split", "ids"), "doc_id")
    total_tokens = packed.agg(F.sum("n_tokens")).collect()[0][0]
    assert total_tokens == enc.agg(F.sum("n_bpe_tokens")).collect()[0][0]
    per_pack = (
        packed.filter(~F.col("oversize"))
        .groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("t"))
    )
    assert per_pack.filter(F.col("t") > 512).count() == 0

    # 3. export the packed corpus with a manifest and round-trip it
    out = str(tmp_path / "corpus")
    export_corpus(
        packed.select("doc_id", "split", "pack_id", "n_tokens", "ids"),
        out,
    )
    man = read_manifest(out)
    assert man["total_rows"] == n_kept
    assert set(man["partitions"]) <= {"train", "val", "test"}
    back = spark.read.parquet(out)
    assert back.count() == n_kept
    assert back.agg(F.sum("n_tokens")).collect()[0][0] == total_tokens
    # ids survive the export byte-for-byte
    a = {r["doc_id"]: list(r["ids"]) for r in packed.collect()}
    b = {r["doc_id"]: list(r["ids"]) for r in back.collect()}
    assert a == b


def test_r10_stack_script_doremi_unigram_pack(spark, tmp_path):
    """Capstone for the r10 additions: curate with the SCRIPT gate →
    DoReMi-learned mixture over the kept set's sources → unigram-LM
    tokenize → FFD-pack token ids. Pins that the new stages COMPOSE:
    verdicts restrict the mixture's input, learned weights drive the
    keep rates, and unigram token totals are conserved through
    packing."""
    from talna_spark.pipeline.curate import curate
    from talna_spark.pipeline.packing import pack_assign_lengths
    from talna_spark.pipeline.sampling import doremi_weights
    from talna_spark.pipeline.text import script_id
    from talna_spark.pipeline.unigram import (
        unigram_encode_ids, unigram_train,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()

    # 1. curate with the script gate: keep the corpus' dominant script
    scripts = {r["script"] for r in script_id(spark, SF).collect()}
    keep = {sorted(scripts)[0]}
    verdicts = curate(spark, SF, keep_scripts=keep)
    kept = verdicts.filter(F.col("verdict") == "kept").select("doc_id")
    n_kept = kept.count()
    assert 0 < n_kept < n_docs

    # 2. learned mixture weights exist for every kept source
    w = {r["source"]: r["w_s"] for r in doremi_weights(spark, SF).collect()}
    kept_sources = {
        r["source"]
        for r in docs.join(kept, "doc_id").select("source").distinct().collect()
    }
    assert kept_sources and all(w[s] > 0 for s in kept_sources)

    # 3. unigram tokenize the kept set, pack by unigram length
    model = unigram_train(spark, SF, vocab_size=80)
    enc = (
        unigram_encode_ids(spark, SF, model)
        .join(kept, "doc_id")
        .localCheckpoint(eager=False)
    )
    assert enc.count() == n_kept
    assign = pack_assign_lengths(
        enc.select("doc_id", F.col("n_unigram_tokens").alias("n_tokens")),
        budget=256,
    )
    packed = assign.join(enc.select("doc_id", "ids"), "doc_id")
    total = packed.agg(F.sum("n_tokens")).collect()[0][0]
    assert total == enc.agg(F.sum("n_unigram_tokens")).collect()[0][0]
    assert packed.agg(F.sum(F.size("ids"))).collect()[0][0] == total
    for r in packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("t"), F.max("oversize").alias("o")
    ).collect():
        assert r["o"] or r["t"] <= 256


def test_r11_stack_bloom_dedup_wordpiece_pack_shard(spark, tmp_path):
    """Capstone for the r11 additions: Bloom-prefiltered incremental
    dedup against a reference split → WordPiece tokenize the surviving
    new docs → FFD-pack token ids → export the packed corpus as
    WebDataset shards and read it back exactly. Pins that the new
    stages COMPOSE: the sketch gate restricts the tokenizer's input,
    WordPiece token totals are conserved through packing, and the tar
    layer round-trips the final artifact."""
    import glob
    import json

    from talna_spark.pipeline.dedup import bloom_build, dedup_against_frames
    from talna_spark.pipeline.packing import pack_assign_lengths
    from talna_spark.pipeline.wordpiece import (
        wordpiece_encode_ids,
        wordpiece_train,
    )
    from talna_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    new = docs.filter(F.col("doc_id") % 4 != 0)

    # 1. bloom-prefiltered incremental dedup: keep only genuinely-new
    bm = bloom_build(ref.select(F.md5("text").alias("_h")), "_h", m=1 << 16)
    flags = dedup_against_frames(new, ref, bloom_bm=bm, m=1 << 16)
    kept = flags.filter(F.col("verdict") == "new").select("doc_id")
    n_kept = kept.count()
    assert 0 < n_kept <= new.count()

    # 2. wordpiece tokenize the survivors, pack by wordpiece length
    vocab = wordpiece_train(spark, SF, n_merges=12)
    enc = (
        wordpiece_encode_ids(spark, SF, vocab)
        .join(kept, "doc_id")
        .localCheckpoint(eager=False)
    )
    assert enc.count() == n_kept
    assign = pack_assign_lengths(
        enc.select("doc_id", F.col("n_wp_tokens").alias("n_tokens")),
        budget=256,
    )
    packed = assign.join(enc.select("doc_id", "ids"), "doc_id")
    total = packed.agg(F.sum("n_tokens")).collect()[0][0]
    assert total == enc.agg(F.sum("n_wp_tokens")).collect()[0][0]
    assert packed.agg(F.sum(F.size("ids"))).collect()[0][0] == total

    # 3. export the packed corpus as WebDataset shards: one sample per
    # doc, token ids in the json member, then read back EXACTLY
    out = str(tmp_path / "shards")
    samples = packed.select(
        F.format_string("%08d", F.col("doc_id")).alias("key"),
        F.to_json(
            F.struct(F.col("pack_id"), F.col("n_tokens"), F.col("ids"))
        ).alias("meta"),
    )
    manifest = write_webdataset(samples, out, n_shards=3).collect()
    assert sum(r["n_samples"] for r in manifest) == n_kept
    back = read_webdataset(spark, f"{out}/shard-*.tar")
    got = {
        int(r["key"]): json.loads(r["meta"]) for r in back.collect()
    }
    want = {
        r["doc_id"]: (r["pack_id"], r["n_tokens"], list(r["ids"]))
        for r in packed.collect()
    }
    assert set(got) == set(want)
    for did, meta in got.items():
        assert (meta["pack_id"], meta["n_tokens"], meta["ids"]) == want[did]
    assert len(glob.glob(f"{out}/shard-*.tar")) == len(manifest)


def test_r12_stack_dedup_bpe_tokenizer_chunk_pack(spark):
    """Capstone for the r12 additions: paragraph-dedup the corpus →
    train byte-BPE on it → chunk the surviving documents by the TRAINED
    tokenizer's token lengths (chunk_documents_tokenized) → FFD-pack the
    chunks as units. Pins that the new stage COMPOSES: every chunk fits
    the context length, stitching chunks reproduces each document's
    exact encoder id stream, and packing conserves chunk tokens into
    within-budget packs."""
    from talna_spark.pipeline.bpe import bpe_encode_ids, bpe_train
    from talna_spark.pipeline.dedup import paragraph_dedup
    from talna_spark.pipeline.packing import (
        chunk_documents_tokenized,
        pack_assign_lengths,
    )

    MAXT, STEP, BUDGET = 48, 36, 192
    # stage 1: paragraph dedup — the keep set is every doc (the signal
    # columns prove the op ran; docs whose text changed would re-chunk)
    pd_rows = paragraph_dedup(spark, SF)
    assert pd_rows.count() == 500

    # stage 2: train the tokenizer on the corpus
    merges = bpe_train(spark, SF, n_merges=12, mode="byte")
    assert len(merges) == 12

    # stage 3: tokenizer-aware chunking
    chunks = chunk_documents_tokenized(
        spark, SF, merges, tokenizer="byte", max_tokens=MAXT, step=STEP
    ).localCheckpoint(eager=False)
    got = {}
    for r in chunks.collect():
        assert r["n_tokens"] <= MAXT
        got.setdefault(r["doc_id"], {})[r["chunk_idx"]] = list(r["ids"])
    want = {
        r["doc_id"]: list(r["ids"])
        for r in bpe_encode_ids(spark, SF, merges, mode="byte").collect()
    }
    ov = MAXT - STEP
    for doc_id, by_idx in got.items():
        rebuilt = by_idx[0]
        for i in sorted(by_idx)[1:]:
            rebuilt = rebuilt + by_idx[i][ov:]
        assert rebuilt == want[doc_id], doc_id
    assert set(got) == set(want)

    # stage 4: FFD-pack the chunks as units (synthetic stable chunk uid)
    lengths = chunks.select(
        (F.col("doc_id") * 10_000 + F.col("chunk_idx")).alias("doc_id"),
        F.col("n_tokens"),
    )
    packed = pack_assign_lengths(lengths, budget=BUDGET, n_shards=8)
    rows = packed.collect()
    assert len(rows) == sum(len(v) for v in got.values())  # every chunk once
    assert not any(r["oversize"] for r in rows)  # chunks fit by construction
    fills = {}
    for r in rows:
        fills[r["pack_id"]] = fills.get(r["pack_id"], 0) + r["n_tokens"]
    assert all(v <= BUDGET for v in fills.values())
    # conservation: packed tokens == chunk tokens == stitched tokens + overlap
    assert sum(fills.values()) == sum(
        sum(len(c) for c in v.values()) for v in got.values()
    )


def test_r13_stack_incremental_crawls_prebuilt_bloom(spark):
    """r13 capstone: the RECURRING-CRAWL workflow the amortized Bloom
    API exists for — build the reference bitmap once, dedup successive
    crawls against it with `bloom_bm=`, and GROW both the reference and
    the bitmap (bloom_merge) between crawls so later crawls are checked
    against everything accepted so far. Exactness contract: verdicts at
    every step are bit-identical to the plain (no-bloom) path."""
    from talna_spark.pipeline.dedup import (
        bloom_build,
        bloom_merge,
        dedup_against_frames,
    )
    from talna_spark.pipeline.scan import read_documents

    M = 1 << 16
    d = read_documents(spark, SF, "doc_id", "text")
    ref = d.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    bm = bloom_build(
        ref.select(F.md5("text").alias("_h")), "_h", m=M
    ).localCheckpoint()

    def crawl(base_mod: int, copy_of, id_off: int):
        """Fresh docs (doc_id % 3 == base_mod) plus exact copies of
        ``copy_of`` rows under new ids — the dups the dedup must flag."""
        fresh = d.filter(F.col("doc_id") % 3 == base_mod).select(
            "doc_id", "text"
        )
        # deterministic, NULL-text-free picks: a bare limit() could
        # choose different rows per run, and a copied NULL text is not
        # an exact dup (md5(NULL) is NULL)
        copies = (
            copy_of.filter(F.col("text").isNotNull())
            .orderBy("doc_id")
            .limit(20)
            .select((F.col("doc_id") + id_off).alias("doc_id"), "text")
        )
        return fresh.unionByName(copies)

    c1 = crawl(1, ref, 1_000_000).localCheckpoint()
    v1 = dedup_against_frames(c1, ref, bloom_bm=bm, m=M)
    got1 = {r["doc_id"]: r["verdict"] for r in v1.collect()}
    plain1 = {
        r["doc_id"]: r["verdict"]
        for r in dedup_against_frames(c1, ref).collect()
    }
    assert got1 == plain1
    # every planted copy is caught; survivors join the reference
    assert all(
        got1[i] == "exact_dup" for i in got1 if i >= 1_000_000
    ) and any(v == "exact_dup" for v in got1.values())
    keep1 = c1.join(
        spark.createDataFrame(
            [(i,) for i, v in got1.items() if v == "new"], "doc_id long"
        ),
        "doc_id",
    ).localCheckpoint()

    # grow the reference AND the bitmap incrementally (no rebuild):
    ref2 = ref.unionByName(keep1)
    bm2 = bloom_merge(
        bm, bloom_build(keep1.select(F.md5("text").alias("_h")), "_h", m=M)
    ).localCheckpoint()

    # crawl 2 copies CRAWL-1 docs — only the UPDATED bitmap+ref see them
    c2 = crawl(2, keep1, 2_000_000).localCheckpoint()
    v2 = dedup_against_frames(c2, ref2, bloom_bm=bm2, m=M)
    got2 = {r["doc_id"]: r["verdict"] for r in v2.collect()}
    plain2 = {
        r["doc_id"]: r["verdict"]
        for r in dedup_against_frames(c2, ref2).collect()
    }
    assert got2 == plain2
    assert all(got2[i] == "exact_dup" for i in got2 if i >= 2_000_000)

    # the final corpus holds no duplicate text
    keep2 = c2.join(
        spark.createDataFrame(
            [(i,) for i, v in got2.items() if v == "new"], "doc_id long"
        ),
        "doc_id",
    )
    final = ref2.unionByName(keep2)
    n = final.count()
    nd = final.select("text").distinct().count()
    assert n == nd > 0


def test_r14_stack_dedup_pack_megatron_shards(spark, tmp_path):
    """r14 capstone: the pipeline's LAST mile into training tensors —
    exact-dedup survivors -> BPE token ids -> FFD pack -> concatenate
    each pack into ONE training sequence -> Megatron .bin/.idx shards
    -> read back. Pins that (a) the packed-sequence concat is
    deterministic (members ordered by doc_id), (b) the .bin/.idx sink
    accepts real pipeline output (array<long> ids pass the r14
    integral-type gate), and (c) every token survives the whole chain:
    read-back streams equal the pre-sink sequences id-for-id via the
    sink's declared placement, and the global token count is conserved
    from the encoder to the shards' manifest."""
    from talna_spark.pipeline.bpe import bpe_encode_ids, bpe_train
    from talna_spark.pipeline.dedup import exact_survivors
    from talna_spark.pipeline.packing import pack_assign_lengths
    from talna_spark.sources.megatron import (
        _shard_col,
        read_indexed_dataset,
        write_indexed_dataset,
    )
    from pyspark.sql.window import Window as W

    # 1. dedup: keep one doc per distinct text
    kept = exact_survivors(spark, SF).select(
        F.col("keep_doc").alias("doc_id")
    )

    # 2. encode the survivors
    merges = bpe_train(spark, SF, n_merges=8)
    enc = (
        bpe_encode_ids(spark, SF, merges)
        .join(kept, "doc_id")
        .filter(F.col("n_bpe_tokens") > 0)
        .localCheckpoint(eager=False)
    )
    n_docs = enc.count()
    total_tokens = enc.agg(F.sum("n_bpe_tokens")).collect()[0][0]
    assert n_docs > 100 and total_tokens > 0

    # 3. FFD-pack by real BPE length, then build the actual training
    # sequences: members concatenate in doc_id order within a pack
    BUDGET = 512
    assign = pack_assign_lengths(
        enc.select("doc_id", F.col("n_bpe_tokens").alias("n_tokens")),
        budget=BUDGET,
    ).filter(~F.col("oversize"))
    packed = (
        assign.join(enc.select("doc_id", "ids"), "doc_id")
        .groupBy("pack_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "ids"))
                    ),
                    lambda s: s["ids"],
                )
            ).alias("ids")
        )
        .select(F.col("pack_id").cast("string").alias("seq_id"), "ids")
        .localCheckpoint(eager=False)
    )
    n_packs = packed.count()
    packed_tokens = packed.agg(F.sum(F.size("ids"))).collect()[0][0]

    # 4. write Megatron shards, read back
    out = str(tmp_path / "mm")
    man = write_indexed_dataset(
        packed, out, n_shards=2, dtype="int32", key_col="seq_id"
    ).collect()
    assert sum(r["n_sequences"] for r in man) == n_packs
    assert sum(r["n_tokens"] for r in man) == packed_tokens
    back = read_indexed_dataset(spark, f"{out}/shard-*.idx")

    # 5. id-for-id equality via the sink's declared placement
    expect = packed.select(
        "seq_id",
        "ids",
        F.format_string("shard-%05d", _shard_col("seq_id", 2)).alias("shard"),
    ).withColumn(
        "seq_idx",
        F.row_number().over(
            W.partitionBy("shard").orderBy(F.col("seq_id").asc())
        )
        - F.lit(1),
    )
    joined = back.join(expect, ["shard", "seq_idx"], "full").select(
        F.coalesce(F.size(back["ids"]) == F.size(expect["ids"]), F.lit(False)
                   ).alias("len_ok"),
        F.coalesce(back["ids"] == expect["ids"], F.lit(False)).alias("ids_ok"),
    )
    bad = joined.filter(~F.col("len_ok") | ~F.col("ids_ok")).count()
    assert bad == 0
    assert back.count() == n_packs
    # global conservation: every non-oversize token reaches the shards
    # (oversize docs are excluded up front; none exist at this budget
    # on this corpus, so the strict equality also holds — asserted via
    # the subtraction so a future corpus change fails loudly here, not
    # as a mystery count drift)
    oversize_tokens = (
        pack_assign_lengths(
            enc.select("doc_id", F.col("n_bpe_tokens").alias("n_tokens")),
            budget=BUDGET,
        )
        .filter(F.col("oversize"))
        .agg(F.coalesce(F.sum("n_tokens"), F.lit(0)))
        .collect()[0][0]
    )
    assert packed_tokens == total_tokens - oversize_tokens
