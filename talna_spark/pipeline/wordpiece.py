"""Distributed WordPiece tokenizer training + encoding over the
``documents`` table — the third major tokenizer family (Schuster &
Nakajima 2012; the BERT lineage), next to BPE (pipeline.bpe) and the
unigram LM (pipeline.unigram).

WordPiece differs from BPE in exactly two places, and this module reuses
the BPE machinery everywhere else:

- the MERGE OBJECTIVE: instead of the most frequent adjacent pair, pick
  the pair maximizing the likelihood gain of the unigram LM over the
  current segmentation — score(a, b) = count(ab) / (count(a) * count(b))
  (the published criterion; counts are exact integers over the
  vocab-sized word table, so the double ratio is deterministic);
- the SYMBOL ALPHABET: the first character of a word is bare, every
  continuation character is '##'-prefixed, and merges concatenate with
  the continuation prefix stripped from the right side ('w' + '##o' ->
  'wo', '##o' + '##r' -> '##or') — no end-of-word marker.

Encoding is NOT merge replay: BERT's greedy longest-match-first walk
over the final vocabulary (whole word -> '[UNK]' when any position has
no matching piece), run inside Arrow-batched mapInPandas with a
per-distinct-word cache — map-only, the bpe_encode shape.

Scale design is pipeline.bpe's verbatim: ONE corpus scan into the
word-frequency table, every training round on that vocab-sized table
(pair explode + symbol explode, two hash aggregates, a 1-row argmax
collect), the winning merge applied as a JVM aggregate() fold, lineage
truncated with a lazy localCheckpoint EVERY round (two scans per round
make stacked folds twice as expensive as BPE's — see wordpiece_train;
measured 2x). Training is
iterative (not SQL-expressible), so this module is unit-tier: tested
for exact parity against an independent pure-Python reference and for
partitioning-independence (the pipeline.unigram test pattern).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talna_spark.pipeline.bpe import _apply_merge, _pair_counts
from talna_spark.pipeline.portable import tokens
from talna_spark.pipeline.scan import read_documents

WP_CONT = "##"     # continuation prefix (BERT convention)
WP_UNK = "[UNK]"   # whole-word fallback when no piece matches


def _wp_word_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n, syms): corpus word frequencies with each word split
    into its initial WordPiece symbols — first character bare, every
    later character '##'-prefixed. One corpus scan; vocab-sized."""
    d = read_documents(spark, sf_dir, "text")
    words = d.select(F.explode(tokens(F.col("text"))).alias("word")).filter(
        F.length("word") > 0
    )
    wt = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    chars = F.split(F.col("word"), "")
    syms = F.transform(
        chars,
        lambda c, i: F.when(i == 0, c).otherwise(
            F.concat(F.lit(WP_CONT), c)
        ),
    )
    return wt.select("word", "n", syms.alias("syms"))


def _merge_name(a: str, b: str) -> str:
    """The merged symbol: right side loses its continuation prefix."""
    return a + (b[len(WP_CONT):] if b.startswith(WP_CONT) else b)


def _sym_counts(wt: DataFrame) -> DataFrame:
    """(s, cnt): symbol frequencies over the current segmentation,
    weighted by word count — one explode + hash aggregate over the
    vocab-sized table (the denominator of the WordPiece score)."""
    return (
        wt.select("n", F.explode("syms").alias("s"))
        .groupBy("s")
        .agg(F.sum("n").alias("cnt"))
    )


def wordpiece_train(
    spark: SparkSession, sf_dir: str, n_merges: int = 50
) -> list[str]:
    """Learn a WordPiece vocabulary from the corpus: the initial
    alphabet (every bare first character and '##'-continuation seen),
    then ``n_merges`` likelihood-scored merges. Returns the vocabulary
    as a list — alphabet sorted, then merged pieces in merge order
    (the model :func:`wordpiece_encode` consumes; ordering is the
    deterministic serialization contract, tested).

    Deterministic: the score count(ab)/(count(a)*count(b)) is a double
    ratio of exact integers (same inputs -> same double on every
    engine); ties break lexicographically on (a, b), independent of
    partitioning. Merges require pair count >= 2 (the bpe_train
    early-stop / HF min_frequency=2 convention: a singleton merge just
    memorizes one word) — training stops early when nothing repeats.

    100 TB shape: identical to bpe_train — per round one pair-count
    aggregate, one symbol-count aggregate (both over the vocab-sized
    word table, map-side partials), two broadcast joins of the
    vocab-sized symbol counts onto the pair table, a single 1-row
    argmax collect, and a map-side JVM merge fold. Unlike bpe_train
    (one aggregate per round), the TWO aggregates here scan the word
    table twice per round, so lineage truncates EVERY round — a lazy
    localCheckpoint of the vocab-sized table per merge — instead of
    every _CHECKPOINT_EVERY: otherwise both scans re-evaluate the
    stacked merge folds (measured 21.7 s -> 10.8 s for 30 merges at
    sf0.1, identical vocabulary).

    Physical path (r17, the bpe_train twin): word table at most
    ``DRIVER_TRAIN_MAX_WORDS`` distinct words -> collected once, merge
    loop in-process (model-sized driver work; the likelihood score is
    the same double ratio c/(ca*cb) with each exact-integer count cast
    to double first, ties the same (a, b) order — one Spark job instead
    of three per round); larger tables take the distributed rounds
    below. Identical vocabulary either way (tested)."""
    from talna_spark.pipeline.bpe import (
        DRIVER_TRAIN_MAX_WORDS,
        _collect_word_table,
        _local_train_loop,
    )

    # checkpoint BEFORE the size probe (r18): the probe materializes it,
    # so the above-cap path's first round reuses the aggregation instead
    # of re-running the corpus scan (ADVICE r17 / VERDICT item 8)
    wt = _wp_word_table(spark, sf_dir).localCheckpoint(eager=False)
    words = _collect_word_table(wt, DRIVER_TRAIN_MAX_WORDS)
    if words is not None:
        alphabet = sorted({s for syms, _n in words for s in syms})
        vocab = list(alphabet)
        seen = set(vocab)

        def pick(pair_counts, sym_counts):
            best = None
            for (a, b), c in pair_counts.items():
                if c >= 2:
                    score = float(c) / (
                        float(sym_counts[a]) * float(sym_counts[b])
                    )
                    k = (-score, a, b)
                    if best is None or k < best:
                        best = k
            return None if best is None else (best[1], best[2])

        for a, b in _local_train_loop(words, n_merges, pick, _merge_name):
            merged = _merge_name(a, b)
            if merged not in seen:  # two merge paths can yield one name
                seen.add(merged)
                vocab.append(merged)
        return vocab
    from talna_spark.pipeline.bpe import _no_aqe

    # wt is already checkpointed (materialized by the size probe above).
    # AQE off for the loop (r18, the bpe_train rationale): the round
    # query is a fixed agg + two vocab-sized broadcasts + TakeOrdered —
    # nothing AQE can re-plan, but each exchange it materializes as a
    # query stage is one more scheduled job per round. NOTE the merges
    # themselves cannot be batched here: the likelihood score's
    # denominators (symbol counts) change under EVERY merge, including
    # symbol-disjoint ones — a pair overlapping an applied merge's
    # symbols can JUMP in score (ca shrinks, score grows), so no
    # count-table certification like bpe._safe_merge_batch exists.
    with _no_aqe(spark):
        alphabet = sorted(
            r["s"]
            for r in wt.select(
                F.explode("syms").alias("s")
            ).distinct().collect()
        )
        vocab = list(alphabet)
        seen = set(vocab)
        for _ in range(int(n_merges)):
            pc = _pair_counts(wt).filter(F.col("cnt") >= 2)
            sc = _sym_counts(wt)
            sa = sc.select(F.col("s").alias("a"), F.col("cnt").alias("ca"))
            sb = sc.select(F.col("s").alias("b"), F.col("cnt").alias("cb"))
            top = (
                pc.join(F.broadcast(sa), "a")
                .join(F.broadcast(sb), "b")
                .select(
                    "a",
                    "b",
                    (
                        F.col("cnt").cast("double")
                        # cast EACH count before multiplying: the int64
                        # product ca*cb wraps negative past 2^63
                        # (frequent symbols at corpus scale each clear
                        # 3e9), silently corrupting the argmax;
                        # double*double just loses ulps, which the
                        # tie-break tolerates
                        / (
                            F.col("ca").cast("double")
                            * F.col("cb").cast("double")
                        )
                    ).alias("score"),
                )
                .orderBy(F.col("score").desc(), F.col("a"), F.col("b"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            a, b = top[0]["a"], top[0]["b"]
            merged = _merge_name(a, b)
            if merged not in seen:  # two merge paths can yield one name
                seen.add(merged)
                vocab.append(merged)
            wt = _apply_merge(wt, a, b, merged).localCheckpoint(eager=False)
    return vocab


def wordpiece_encode(
    spark: SparkSession, sf_dir: str, vocab: list[str]
) -> DataFrame:
    """Encode every document with a trained vocabulary: BERT's greedy
    longest-match-first walk per word (first piece bare, continuations
    '##'-prefixed; a word with any unmatchable position becomes ONE
    ``[UNK]`` token — the whole-word fallback, not a partial emit).
    Arrow-batched mapInPandas with a per-distinct-word cache, map-only.
    Returns (doc_id, n_words, n_wp_tokens, n_unk_words)."""
    vs = frozenset(vocab)
    maxlen = max((len(p) for p in vs), default=1)
    d = read_documents(spark, sf_dir, "doc_id", "text").select(
        "doc_id", tokens(F.col("text")).alias("words")
    )

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, tuple[int, int]] = {}

        def word_stats(w: str) -> tuple[int, int]:
            got = cache.get(w)
            if got is not None:
                return got
            n, i, pieces = len(w), 0, 0
            out: tuple[int, int] = (1, 1)  # default: one UNK word
            while i < n:
                j = min(n, i + maxlen)
                # longest match first; continuations carry the prefix
                while j > i:
                    piece = w[i:j] if i == 0 else WP_CONT + w[i:j]
                    if piece in vs:
                        break
                    j -= 1
                if j == i:  # no piece fits -> whole word is [UNK]
                    pieces = -1
                    break
                pieces += 1
                i = j
            if pieces > 0:
                out = (pieces, 0)
            cache[w] = out
            return out

        for pdf in batches:
            nwords, toks, unks = [], [], []
            for ws in pdf["words"]:
                ws = [] if ws is None else ws  # NULL text -> empty doc
                nw = t = u = 0
                for w in ws:
                    if not w:
                        continue
                    nw += 1
                    p, k = word_stats(w)
                    t += p
                    u += k
                nwords.append(nw)
                toks.append(t)
                unks.append(u)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": nwords,
                    "n_wp_tokens": toks,
                    "n_unk_words": unks,
                }
            )

    return d.mapInPandas(
        _enc,
        schema=(
            "doc_id long, n_words long, n_wp_tokens long, n_unk_words long"
        ),
    )


def wordpiece_encode_ids(
    spark: SparkSession, sf_dir: str, vocab: list[str]
) -> DataFrame:
    """(doc_id, n_wp_tokens, ids array<long>): the actual token-id
    sequence per document — what a training loader consumes. Ids are
    the vocabulary LIST positions (the save_wordpiece persistence
    order, so a round-tripped model emits identical ids); a word that
    hits the [UNK] fallback emits the single reserved id
    ``len(vocab)``. Same greedy longest-match walk and
    per-distinct-word cache as :func:`wordpiece_encode` (token counts
    agree by construction — tested), same Arrow map-only shape: no
    shuffle, no broadcast, the model lives in the closure."""
    pid = {p: i for i, p in enumerate(vocab)}
    unk_id = len(vocab)
    maxlen = max((len(p) for p in pid), default=1)
    d = read_documents(spark, sf_dir, "doc_id", "text").select(
        "doc_id", tokens(F.col("text")).alias("words")
    )

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[int]] = {}

        def word_ids(w: str) -> list[int]:
            got = cache.get(w)
            if got is not None:
                return got
            n, i = len(w), 0
            out: list[int] = []
            while i < n:
                j = min(n, i + maxlen)
                while j > i:
                    piece = w[i:j] if i == 0 else WP_CONT + w[i:j]
                    got_id = pid.get(piece)
                    if got_id is not None:
                        break
                    j -= 1
                if j == i:
                    out = [unk_id]
                    break
                out.append(got_id)
                i = j
            cache[w] = out
            return out

        for pdf in batches:
            toks, ids = [], []
            for ws in pdf["words"]:
                ws = [] if ws is None else ws
                seq: list[int] = []
                for w in ws:
                    if w:
                        seq.extend(word_ids(w))
                toks.append(len(seq))
                ids.append(seq)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_wp_tokens": toks,
                    "ids": ids,
                }
            )

    return d.mapInPandas(
        _enc, schema="doc_id long, n_wp_tokens long, ids array<long>"
    )


# ------------------------------------------------ model persistence
def save_wordpiece(spark: SparkSession, vocab: list[str], path: str) -> None:
    """Persist a trained vocabulary as one parquet table of (id, piece)
    rows — engine-neutral, no pickle (the save_merges convention). The
    id IS the list position: alphabet first (sorted), merges in merge
    order, so a round trip reproduces the exact model list."""
    rows = list(enumerate(vocab))
    spark.createDataFrame(rows, "id long, piece string").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def load_wordpiece(spark: SparkSession, path: str) -> list[str]:
    """Inverse of :func:`save_wordpiece`. Id gaps, duplicate ids and
    duplicate pieces all fail loudly — a truncated or doubled table
    must not silently change the longest-match vocabulary."""
    rows = spark.read.parquet(path).collect()
    by_id = {int(r["id"]): r["piece"] for r in rows}
    if len(rows) != len(by_id):
        raise ValueError(f"wordpiece table at {path} has duplicate ids")
    n = len(by_id)
    if set(by_id) != set(range(n)):
        raise ValueError(f"wordpiece table at {path} has id gaps")
    out = [by_id[i] for i in range(n)]
    if len(set(out)) != n:
        raise ValueError(f"wordpiece table at {path} has duplicate pieces")
    return out
