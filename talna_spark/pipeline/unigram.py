"""Distributed unigram-LM (SentencePiece-style) tokenizer training +
encoding over the ``documents`` table — the other major tokenizer family
next to BPE (Kudo 2018, "Subword Regularization"; the T5/Llama lineage
trains this instead of merges).

Algorithm (the Kudo recipe, hard-EM variant):
1. **Seed vocabulary**: the most frequent substrings of corpus words (up
   to :data:`MAX_PIECE_LEN` chars, weighted by word frequency), plus ALL
   single characters — the coverage floor that guarantees every word
   stays segmentable no matter how hard later rounds prune.
2. **EM rounds**: E-step = Viterbi segmentation of every *distinct* word
   under the current piece log-probabilities; expected piece counts are
   the Viterbi counts weighted by word frequency (hard EM — the
   forward-backward soft E-step changes constants, not the shape).
   M-step = renormalize counts into log-probabilities.
3. **Prune**: drop the lowest-count :data:`SHRINK` fraction of
   multi-char pieces each round (single chars never pruned) until the
   vocabulary reaches the target size, then one final EM pass.

Scale design (the bpe.py discipline):
- The corpus is scanned ONCE into the word-frequency table; every
  E-step then runs on that *vocab-sized* table, never on the corpus:
  an Arrow-batched ``mapInPandas`` with the piece table in the closure
  (model-sized — the same broadcast-the-model shape as
  classifier.py scoring), followed by ONE hash aggregate of integer
  counts (shuffle ∝ vocabulary, order-free, exact).
- Driver traffic per EM iteration is the piece-count table itself —
  model-sized by definition (the piece table IS the tokenizer being
  trained, like the BPE argmax row or the k-means centroids).
- Determinism: seed selection and pruning rank by (count DESC, piece
  ASC) over exact integer counts; Viterbi log-probs are computed once
  driver-side and shipped verbatim, and the DP breaks ties by strict
  ``>`` with ascending split points — partitioning-independent
  (tested, the test_bpe.py pattern).
- Training is NOT SQL-expressible (iterative EM), so this module is
  oracle'd by unit tests against an independent pure-Python reference
  implementation instead of a DuckDB twin; see tests/test_unigram.py.

Encoding (:func:`unigram_encode`) broadcasts the learned piece table and
Viterbi-segments each word inside Arrow-batched ``mapInPandas``:
map-only, bounded memory, per-distinct-word cache — tokenizer inference
at 100 TB. Characters unseen at training time segment as single-char
pieces at :data:`UNK_LOGP` so encoding is total over any input.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talna_spark.pipeline.bpe import encode_counts, nonempty_words
from talna_spark.pipeline.portable import tokens
from talna_spark.pipeline.scan import read_documents

VOCAB_SIZE = 200     # target vocabulary (production: 32k-256k)
SEED_SIZE = 1000     # candidate pool before pruning
MAX_PIECE_LEN = 8    # longest candidate substring
EM_ITERS = 2         # EM iterations per prune round (Kudo's sub-EM)
SHRINK = 0.75        # keep-fraction per prune round
UNK_LOGP = -20.0     # per-char penalty for chars outside the vocabulary

Model = list[tuple[str, float]]  # [(piece, logp)] sorted by piece


def _viterbi(w: str, logp: dict, max_len: int, unk: float) -> list[str]:
    """Best segmentation of ``w`` under piece log-probs: DP over end
    positions, strict ``>`` improvement with ascending start index —
    fully deterministic for a fixed piece table. Single chars absent
    from the table cost ``unk`` so the DP never dead-ends."""
    n = len(w)
    best = [0.0] + [float("-inf")] * n
    back = [0] * (n + 1)
    for j in range(1, n + 1):
        for i in range(max(0, j - max_len), j):
            p = logp.get(w[i:j])
            if p is None and j - i == 1:
                p = unk
            if p is not None and best[i] + p > best[j]:
                best[j] = best[i] + p
                back[j] = i
    out: list[str] = []
    j = n
    while j > 0:
        i = back[j]
        out.append(w[i:j])
        j = i
    out.reverse()
    return out


def _word_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n): corpus word frequencies — one corpus scan, vocab-sized
    result (the bpe.py word table without the symbol split)."""
    d = read_documents(spark, sf_dir, "text")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _seed_candidates(
    wt: DataFrame, seed_size: int, max_piece_len: int
) -> dict[str, int]:
    """Seed piece -> corpus count: ALL single characters plus the top
    multi-char substrings by (count DESC, piece ASC), capped so the
    total pool is ``seed_size``. Substring explosion is a JVM nested
    transform over the vocab-sized table — the corpus is never
    rescanned."""
    ml = int(max_piece_len)
    subs = F.expr(
        "flatten(transform(sequence(1, length(word)), "
        f"i -> transform(sequence(i, least(length(word), i + {ml} - 1)), "
        "j -> substring(word, i, j - i + 1))))"
    )
    counts = (
        wt.select("n", F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
        # r18 (guide §2.3): BOTH collects below consume this aggregate
        # (single-char floor, then top multi-char) — a lazy checkpoint
        # of the candidate-sized (piece, cnt) rows runs the substring
        # explode + agg once instead of twice
        .localCheckpoint(eager=False)
    )
    chars = {
        r["piece"]: int(r["cnt"])
        for r in counts.filter(F.length("piece") == 1).collect()
    }
    room = max(int(seed_size) - len(chars), 0)
    multi = (
        counts.filter((F.length("piece") >= 2) & (F.col("cnt") >= 2))
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(room)
        .collect()
    )
    seeds = dict(chars)
    for r in multi:
        seeds[r["piece"]] = int(r["cnt"])
    return seeds


def _m_step(counts: dict[str, int]) -> dict[str, float]:
    """counts -> log-probabilities. Zero-count pieces (possible once
    Viterbi routes around them) get the 0.5-pseudo-count floor so the
    piece stays usable until pruning ranks it out — both engines (Spark
    trainer, pure-python reference) share this exact formula."""
    total = sum(counts.values())
    if total <= 0:
        raise ValueError("empty corpus: no piece received any count")
    lt = math.log(total)
    return {
        p: (math.log(c) - lt if c > 0 else math.log(0.5) - lt)
        for p, c in counts.items()
    }


def _e_step(
    wt: DataFrame,
    logp: dict[str, float],
    max_piece_len: int,
    em: str = "hard",
) -> dict[str, int]:
    """Expected piece counts for every distinct word under the current
    model: one Arrow map pass over the vocab-sized word table (piece
    table in the closure), one integer hash-agg, one model-sized
    collect.

    ``em="hard"`` counts Viterbi segmentations (integer word
    frequencies). ``em="soft"`` (r10) runs the published Kudo E-step —
    forward-backward posterior marginals over the full segmentation
    lattice — with each word's posterior count QUANTIZED to integer
    micro-units (round(post * n * 1e6)) BEFORE the aggregate, so the
    sum stays exact in any order and training remains
    partitioning-independent (the lm_score micro-nat discipline; a raw
    double sum would make the learned vocabulary depend on task
    boundaries)."""
    ml, unk = int(max_piece_len), UNK_LOGP
    pieces = dict(logp)
    soft = em == "soft"

    def _seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            local: dict[str, int] = {}
            for w, n in zip(pdf["word"], pdf["n"]):
                if soft:
                    for piece, post in _posteriors(w, pieces, ml, unk):
                        m = int(math.floor(post * int(n) * 1e6 + 0.5))
                        if m:
                            local[piece] = local.get(piece, 0) + m
                else:
                    for piece in _viterbi(w, pieces, ml, unk):
                        local[piece] = local.get(piece, 0) + int(n)
            yield pd.DataFrame(
                {"piece": list(local), "c": list(local.values())}
            )

    got = (
        wt.mapInPandas(_seg, schema="piece string, c long")
        .groupBy("piece")
        .agg(F.sum("c").alias("c"))
        .collect()
    )
    counts = {p: 0 for p in logp}  # pieces Viterbi skipped keep a 0 row
    for r in got:
        if r["piece"] in counts:  # UNK chars outside the vocab: not model
            counts[r["piece"]] = int(r["c"])
    return counts


def _posteriors(
    w: str, logp: dict, max_len: int, unk: float
) -> list[tuple[str, float]]:
    """Forward-backward posterior marginals over the segmentation
    lattice, in a fixed ascending iteration order so the floats are the
    same in every engine and partitioning."""
    n = len(w)
    arcs = []  # (i, j, lp)
    for j in range(1, n + 1):
        for i in range(max(0, j - max_len), j):
            p = logp.get(w[i:j])
            if p is None and j - i == 1:
                p = unk
            if p is not None:
                arcs.append((i, j, p))

    def lse(vals):
        m = max(vals)
        if m == float("-inf"):
            return m
        return m + math.log(sum(math.exp(v - m) for v in vals))

    alpha = [0.0] + [float("-inf")] * n
    for j in range(1, n + 1):
        alpha[j] = lse([alpha[i] + p for (i, jj, p) in arcs if jj == j])
    beta = [float("-inf")] * n + [0.0]
    for i in range(n - 1, -1, -1):
        beta[i] = lse([p + beta[j] for (ii, j, p) in arcs if ii == i])
    z = alpha[n]
    return [
        (w[i:j], math.exp(alpha[i] + p + beta[j] - z)) for (i, j, p) in arcs
    ]


def _seed_candidates_local(
    words: list, seed_size: int, max_piece_len: int
) -> dict[str, int]:
    """In-process twin of :func:`_seed_candidates` over a collected
    (word, n) table — same substring stream, integer sums, and
    (count DESC, piece ASC) cut, so the seed pool is identical."""
    ml = int(max_piece_len)
    counts: dict[str, int] = {}
    for w, n in words:
        L = len(w)
        for i in range(L):
            for j in range(i + 1, min(L, i + ml) + 1):
                p = w[i:j]
                counts[p] = counts.get(p, 0) + n
    chars = {p: c for p, c in counts.items() if len(p) == 1}
    room = max(int(seed_size) - len(chars), 0)
    multi = sorted(
        (
            (p, c)
            for p, c in counts.items()
            if len(p) >= 2 and c >= 2
        ),
        key=lambda pc: (-pc[1], pc[0]),
    )[:room]
    seeds = dict(chars)
    seeds.update(multi)
    return seeds


def _e_step_local(
    words: list, logp: dict, max_piece_len: int, em: str = "hard"
) -> dict[str, int]:
    """In-process twin of :func:`_e_step` over a collected (word, n)
    table: same Viterbi / forward-backward code, same integer
    (micro-unit) accounting — identical counts in either mode."""
    ml = int(max_piece_len)
    counts = {p: 0 for p in logp}
    if em == "soft":
        for w, n in words:
            for piece, post in _posteriors(w, logp, ml, UNK_LOGP):
                m = int(math.floor(post * int(n) * 1e6 + 0.5))
                if m and piece in counts:
                    counts[piece] += m
    else:
        for w, n in words:
            for piece in _viterbi(w, logp, ml, UNK_LOGP):
                if piece in counts:
                    counts[piece] += int(n)
    return counts


def _prune(counts: dict[str, int], keep: int) -> dict[str, int]:
    """Keep the ``keep`` best pieces by (count DESC, piece ASC); single
    characters are never pruned (the coverage floor), and count toward
    ``keep`` first."""
    chars = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )
    room = max(int(keep) - len(chars), 0)
    out = dict(chars)
    for p, c in multi[:room]:
        out[p] = c
    return out


def unigram_train(
    spark: SparkSession,
    sf_dir: str,
    vocab_size: int = VOCAB_SIZE,
    seed_size: int = SEED_SIZE,
    max_piece_len: int = MAX_PIECE_LEN,
    em_iters: int = EM_ITERS,
    shrink: float = SHRINK,
    em: str = "hard",
) -> Model:
    """Learn a unigram-LM tokenizer from the corpus. Returns the model:
    ``[(piece, logp)]`` sorted by piece — a pure function of the corpus
    (deterministic, partitioning-independent, tested). The vocabulary
    lands at ``max(vocab_size, #distinct chars)``: single characters are
    never sacrificed to the size target.

    ``em="hard"`` (default) counts Viterbi segmentations;
    ``em="soft"`` (r10) runs the published Kudo forward-backward
    E-step — expected counts over the FULL segmentation lattice, so
    probability mass that hard EM starves out of near-tied
    alternatives survives pruning. Same plan shape either way (see
    :func:`_e_step`); counts stay exact integers in both modes."""
    if vocab_size < 1:
        raise ValueError("vocab_size must be positive")
    if not 0 < shrink < 1:
        raise ValueError("shrink must be in (0, 1)")
    if em not in ("hard", "soft"):
        raise ValueError("em must be 'hard' or 'soft'")
    # r17 (the bpe_train physical-path twin): the corpus scan + word
    # aggregate always run distributed; a word table at most
    # bpe.DRIVER_TRAIN_MAX_WORDS distinct words is collected once and
    # seeding + every EM round run in-process (model-sized driver work
    # — one Spark job total instead of one per E-step/seed). Larger
    # tables keep the distributed rounds. Counts are exact integers on
    # both paths, so the learned model is identical (tested).
    from talna_spark.pipeline import bpe as _bpe

    # checkpoint BEFORE the size probe (r18): the probe materializes it,
    # so the above-cap path's seeding reuses the aggregation instead of
    # re-running the corpus scan (ADVICE r17 / VERDICT item 8)
    wt = _word_table(spark, sf_dir).localCheckpoint(eager=False)
    rows = wt.head(_bpe.DRIVER_TRAIN_MAX_WORDS + 1)
    if len(rows) <= _bpe.DRIVER_TRAIN_MAX_WORDS:
        words = [(r["word"], int(r["n"])) for r in rows]
        counts = _seed_candidates_local(words, seed_size, max_piece_len)

        def estep(lp):
            return _e_step_local(words, lp, max_piece_len, em=em)
    else:
        # AQE off per distributed action (r18, the bpe_train rationale):
        # seeding and the E-step are join-free agg + collect shapes
        # where AQE's stage materialization only adds a scheduled job
        # per action
        with _bpe._no_aqe(spark):
            counts = _seed_candidates(wt, seed_size, max_piece_len)

        def estep(lp):
            with _bpe._no_aqe(spark):
                return _e_step(wt, lp, max_piece_len, em=em)

    logp = _m_step(counts)
    while True:
        for _ in range(max(int(em_iters), 1)):
            counts = estep(logp)
            logp = _m_step(counts)
        if len(logp) <= vocab_size:
            break
        keep = max(int(vocab_size), int(len(logp) * float(shrink)))
        pruned = _prune(counts, keep)
        if len(pruned) >= len(logp):
            # No progress: the single-char coverage floor alone meets or
            # exceeds the target (>vocab_size distinct characters), so the
            # vocabulary has landed at max(vocab_size, #distinct chars).
            # Without this guard the loop would re-run EM + a no-op prune
            # forever on any corpus with more distinct chars than
            # vocab_size (e.g. CJK/multilingual input).
            break
        counts = pruned
        logp = _m_step(counts)
    return sorted(logp.items())


def unigram_encode(
    spark: SparkSession, sf_dir: str, model: Model
) -> DataFrame:
    """Encode every document with a trained model: Viterbi-segment each
    word under the broadcast piece table (Arrow mapInPandas, map-only,
    per-distinct-word cache — the bpe_encode shape). Returns (doc_id,
    n_words, n_unigram_tokens, compression), compression =
    round(chars-per-token, 6). Unseen characters segment as single-char
    UNK pieces, so encoding is total over any input."""
    pieces = {p: float(lp) for p, lp in model}
    ml = max((len(p) for p in pieces), default=1)
    unk = UNK_LOGP
    d = read_documents(spark, sf_dir, "doc_id", "text").select(
        "doc_id", tokens(F.col("text")).alias("words")
    )

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}

        def viterbi_len(w):
            got = cache.get(w)
            if got is None:
                got = cache[w] = len(_viterbi(w, pieces, ml, unk))
            return got

        for pdf in batches:
            yield encode_counts(
                pdf, "words", nonempty_words, viterbi_len, "n_unigram_tokens"
            )

    return d.mapInPandas(
        _enc,
        schema=(
            "doc_id long, n_words long, n_unigram_tokens long, "
            "compression double"
        ),
    )


# ------------------------------------------------------- token-id encode
# Closed-form id scheme (the bpe.MERGE_ID_BASE discipline): a piece's id
# is its index in the SORTED model (the model list IS the vocab — ids
# are invertible given the model), and an out-of-vocabulary single char
# takes UNK_ID_BASE + codepoint, a range that sits above any realistic
# vocabulary so the classes cannot collide.
UNK_ID_BASE = 4_194_304  # 2^22


def unigram_encode_ids(
    spark: SparkSession, sf_dir: str, model: Model
) -> DataFrame:
    """(doc_id, n_unigram_tokens, ids array<long>): the actual token-id
    sequence per document under the trained unigram model — what a
    training loader consumes. Same Viterbi loop and per-distinct-word
    cache as :func:`unigram_encode` (whose token counts this agrees
    with by construction — tested), same Arrow map-only shape: the
    piece table and the id scheme live in the closure, no shuffle, no
    vocab broadcast. Unseen characters encode as UNK_ID_BASE +
    codepoint, so the id stream is total and still invertible."""
    pieces = {p: float(lp) for p, lp in model}
    pid = {p: i for i, (p, _lp) in enumerate(sorted(model))}
    ml = max((len(p) for p in pieces), default=1)
    unk = UNK_LOGP
    unk_base = UNK_ID_BASE
    if len(pid) >= unk_base:
        raise ValueError("vocabulary too large for the UNK id range")
    d = read_documents(spark, sf_dir, "doc_id", "text").select(
        "doc_id", tokens(F.col("text")).alias("words")
    )

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[int]] = {}

        def word_ids(w):
            got = cache.get(w)
            if got is None:
                got = cache[w] = [
                    pid[p] if p in pid else unk_base + ord(p)
                    for p in _viterbi(w, pieces, ml, unk)
                ]
            return got

        for pdf in batches:
            rows = []
            for did, cell in zip(pdf["doc_id"], pdf["words"]):
                ids: list[int] = []
                for w in nonempty_words(cell):
                    ids.extend(word_ids(w))
                rows.append((int(did), len(ids), ids))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_unigram_tokens", "ids"]
            )

    return d.mapInPandas(
        _enc, schema="doc_id long, n_unigram_tokens long, ids array<long>"
    )


# ------------------------------------------------ model persistence (r10)
def save_unigram(spark: SparkSession, model: Model, path: str) -> None:
    """Persist a trained unigram model as one parquet table of
    (piece, logp) rows — engine-neutral, no pickle (the
    classifier-persistence convention)."""
    spark.createDataFrame(
        [(p, float(lp)) for p, lp in model], "piece string, logp double"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_unigram(spark: SparkSession, path: str) -> Model:
    """Inverse of :func:`save_unigram`: the piece-sorted model (the
    sorted order IS the id space of :func:`unigram_encode_ids`, so the
    round trip preserves token ids exactly). Duplicate pieces fail
    loudly."""
    rows = spark.read.parquet(path).collect()
    model = sorted((r["piece"], float(r["logp"])) for r in rows)
    if len({p for p, _ in model}) != len(model):
        raise ValueError(f"unigram table at {path} has duplicate pieces")
    return model
