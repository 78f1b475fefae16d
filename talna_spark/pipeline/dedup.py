"""Deduplication over the ``documents`` table: exact, MinHash+LSH,
SimHash, and n-gram-Jaccard — the operators a 100 TB training-data
pipeline needs.

Scale design notes (the reason each operator is shaped the way it is):
- exact: one hash-groupBy; map-side partial aggregation makes the shuffle
  carry one row per distinct hash, not per document.
- MinHash+LSH: signatures are a map-only pass; candidate generation
  explodes B band keys per doc and self-joins on the band bucket — the
  join key IS the LSH bucket, so the shuffle is proportional to candidate
  pairs, never to |docs|^2. Verification (exact Jaccard) runs only on
  band-matched pairs.
- SimHash: frequency-weighted bitwise majority of token hashes, all
  JVM-side aggregate() folds; near-dup = small Hamming distance on the
  compact signature.
- n-gram Jaccard: blocked all-pairs (same length bucket) — the classic
  quadratic verifier, kept for parity/comparison; LSH is the scale path.

Every operator has a DuckDB oracle generated from the same constants via
talna_spark.pipeline.portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talna_spark.pipeline.portable import (
    hash64,
    hash64_sql,
    shingles,
    shingles_sql,
    tokens,
    tokens_sql,
)
from talna_spark.pipeline.scan import fan_out, read_documents
from talna_spark.pipeline.sketches import _bitmap_words, lc_merge

SHINGLE_K = 3          # word 3-grams
MINHASH_H = 8          # hash functions
LSH_BANDS = 4          # bands of 2 rows each (B*R = H)
LSH_ROWS = MINHASH_H // LSH_BANDS
JACCARD_THRESHOLD = 0.8
# Production SimHash fingerprint width. Manku et al. 2007 use 64 bits; 60
# is the faithful equivalent here because hash64 is a 60-bit md5 prefix
# (bits 60-63 of every token hash are 0, so wider fingerprints gain
# nothing) and the 2^63 place-value literal would overflow the int64
# fingerprint column anyway. The band-join plan is width-independent;
# width only dials candidate volume (~2^(bits/bands) distinct band
# values). Tests exercise 16 as the cheap demo width via the `bits`
# parameter.
SIMHASH_BITS = 60
LENGTH_BUCKET = 64     # chars, blocking key for the quadratic verifier
# Hot-bucket cap: a band bucket with c members generates O(c^2) candidate
# pairs, so one degenerate key (templated/near-empty docs sharing a
# signature) turns the self-join quadratic — the classic LSH skew failure.
# Buckets larger than this are excluded from candidate generation (their
# membership is reported by lsh_hot_buckets); identical-text floods belong
# to EXACT dedup, which catches them in one hash-agg regardless.
LSH_MAX_BUCKET = 1000


# -------------------------------------------------------------- exact dedup
def exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: the surviving (canonical) doc per
    distinct text = min doc_id, with the group size. A pipeline keeps
    ``keep_doc`` and drops the rest."""
    d = read_documents(spark, sf_dir, "doc_id", "text")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc"), F.count("*").alias("n_copies"))
    )


def exact_survivors_sql() -> str:
    return (
        "SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc, "
        "COUNT(*) AS n_copies FROM documents GROUP BY md5(text)"
    )


# --------------------------------------------------------------- minhash
# Universal-hash minhash: ONE portable base hash per shingle, then H
# affine mixes (a_i * x + b_i) mod a 31-bit prime. With x < p and
# a_i < p the product stays < 2^62 — no int64 overflow in either
# engine — and the md5 evaluation count drops H-fold vs hashing every
# (i, shingle) pair (the md5+conv expression is the minhash pass's
# dominant cost; measured 8x at sf0.1).
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def _mh_ab(i: int) -> tuple[int, int]:
    a = (i * 40_503 + 12_289) % MINHASH_P or 1
    b = (i * 104_729 + 7_919) % MINHASH_P
    return a, b


def _base_hashes(sh):
    """One portable 60-bit hash per shingle, reduced mod MINHASH_P."""
    return F.transform(sh, lambda s: hash64(s) % MINHASH_P)


def _minhash_cols_from_base(bh):
    """H minhash values from a base-hash array column — all H mins in
    ONE aggregate() fold (an H-long running-min vector against literal
    coefficient arrays), extracted per column from the shared subtree.

    The simhash lesson applied to MinHash: the former per-column
    ``array_min(transform(...))`` formulation inlined the base subtree
    (shingles + md5) into every column — H full hash passes per
    document. The single fold evaluates it once, and Spark's runtime
    subexpression elimination keeps the H extractions at one evaluation
    (measured: 29.7 s -> 4.5 s for the 8-column signature over sf0.1,
    values identical including the empty-shingle NULL semantics). An
    affine value is always < MINHASH_P, so a surviving init value marks
    an empty shingle array and maps back to the array_min NULL."""
    pairs = [_mh_ab(i) for i in range(MINHASH_H)]
    coeff = F.arrays_zip(
        F.array(*[F.lit(a).cast("long") for a, _ in pairs]).alias("a"),
        F.array(*[F.lit(b).cast("long") for _, b in pairs]).alias("b"),
    )
    mins = F.aggregate(
        bh,
        F.array_repeat(F.lit(MINHASH_P).cast("long"), MINHASH_H),
        lambda acc, x: F.zip_with(
            acc,
            coeff,
            lambda m, c: F.least(m, (c["a"] * x + c["b"]) % MINHASH_P),
        ),
    )
    sig = F.transform(mins, lambda m: F.when(m < MINHASH_P, m))
    return [sig[i].alias(f"h{i}") for i in range(MINHASH_H)]


def _minhash_cols(sh):
    """H minhash values straight from the shingle array (the base-hash
    subtree is inlined into every column here — fine for one-pass
    signature extraction; operators that reference signatures several
    times materialize _base_hashes first, see lsh_near_dup_pairs)."""
    return _minhash_cols_from_base(_base_hashes(sh))


def _minhash_cols_sql():
    sh = shingles_sql(tokens_sql("text"), SHINGLE_K)
    bh = f"list_transform({sh}, s -> ({hash64_sql('s')}) % {MINHASH_P})"
    out = []
    for i in range(MINHASH_H):
        a, b = _mh_ab(i)
        out.append(
            f"list_aggregate(list_transform({bh}, "
            f"x -> ({a} * x + {b}) % {MINHASH_P}), 'min') AS h{i}"
        )
    return out


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokens materialized first (_tokenized): shingles' slice lambda
    # captures the words expression, so the inline form re-ran the
    # token SPLIT once per shingle (r12; measured 4.91 -> 2.61 s at
    # sf0.1, same fix class as the survivor rebuild)
    d = read_documents(spark, sf_dir, "doc_id", "text")
    dw = _tokenized(d, tokens(F.col("text")))
    sh = shingles(F.col("_w"), SHINGLE_K)
    return dw.select("doc_id", *_minhash_cols(sh))


def minhash_signatures_sql() -> str:
    return f"SELECT doc_id, {', '.join(_minhash_cols_sql())} FROM documents"


# ------------------------------------------------------- LSH near-dup pairs

# The default b for b-bit banding (Li & König 2010): 8 low bits per
# minhash component => 16 effective bits per 2-row band, shrinking the
# corpus-scale (band, key) shuffle ~4x vs full-width string keys while
# candidates stay a superset (masking is a projection). ONE definition
# here; the driver registration (__spark_entry__) and bench.py's
# pipe_lsh_bbit row both read it so the benched width can never drift
# from the driver-checked width (r15, was a private cross-module
# constant read).
LSH_BBIT_DEFAULT = 8


def _jaccard(a, b):
    """|a & b| / |a | b|; NULL when both sets are empty (NULL text, or
    fewer than SHINGLE_K tokens), as DuckDB's ``0::DOUBLE / 0`` in the
    SQL twins, so such a pair fails ``>= JACCARD_THRESHOLD`` in both
    engines (a bare 0 / 0 raises DIVIDE_BY_ZERO under ANSI mode)."""
    inter = F.size(F.array_intersect(a, b))
    return inter / F.nullif(F.size(a) + F.size(b) - inter, F.lit(0))


def _band_rows(sig: DataFrame, band_bits: "int | None" = None) -> DataFrame:
    """(doc_id, band, key) rows — ONLY ids through the explode: the band
    self-join shuffles O(docs x B) id-sized rows, and shingle sets are
    joined back just for the (few) surviving candidates.

    ``band_bits`` (r13) keeps only the low b bits of each minhash
    component in the band key — b-BIT MINHASH (Li & König 2010,
    "b-Bit Minwise Hashing", WWW): at corpus scale the (band, key)
    shuffle is keyed by B concatenated ~10-digit values per doc, and
    masking shrinks that key ~32x at b=8 while candidate sets can only
    GROW (equal full components => equal masked components — masking is
    a projection), so verified recall is monotonically >= the full-width
    banding's; precision is verification's job either way."""
    if band_bits is not None and not 1 <= int(band_bits) <= 31:
        raise ValueError("band_bits must be in [1, 31]")
    mask = None if band_bits is None else F.lit((1 << int(band_bits)) - 1)

    def comp(i: int):
        c = F.col(f"h{i}")
        return c if mask is None else c.bitwiseAND(mask)

    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                comp(b * LSH_ROWS + r)
                                for r in range(LSH_ROWS)
                            ],
                        ).alias("key"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_hot_buckets(
    spark: SparkSession, sf_dir: str, max_bucket: int = LSH_MAX_BUCKET
) -> DataFrame:
    """The hot-bucket report: every (band, key) bucket whose membership
    exceeds ``max_bucket`` — the buckets :func:`lsh_near_dup_pairs`
    excludes from candidate generation. Run alongside the pairs job so
    the exclusion is audited, not silent; a non-empty report means the
    corpus needs exact dedup first (identical-text floods) or a larger
    cap. One map-side-combined groupBy over id-only band rows."""
    d = read_documents(spark, sf_dir, "doc_id", "text")
    dw = _tokenized(d, tokens(F.col("text")))
    sh = shingles(F.col("_w"), SHINGLE_K)
    sig = dw.select("doc_id", *_minhash_cols(sh))
    return (
        _band_rows(sig)
        .groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > int(max_bucket))
    )


def lsh_near_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_bucket: int = LSH_MAX_BUCKET,
    band_bits: "int | None" = None,
) -> DataFrame:
    """MinHash-LSH candidates -> exact-Jaccard verification >= threshold.

    Plan shape: map-only signature pass -> explode B band keys -> shuffle
    on (band_idx, band_key) -> self-join inside buckets -> verify. The
    |docs|^2 comparison never materializes.

    Band buckets larger than ``max_bucket`` are EXCLUDED from candidate
    generation (the hot-bucket guard: one degenerate key would otherwise
    go quadratic at scale). The exclusion is never silent — call
    :func:`lsh_hot_buckets` with the same cap for the membership report;
    pairs inside an excluded bucket are undercounted here by design and
    identical-text floods are exact dedup's job.

    ``band_bits`` (r13) switches to b-BIT banding (see
    :func:`_band_rows`): ~32x smaller band-key shuffle at b=8, candidate
    sets a SUPERSET of full-width banding's (verified output therefore
    >= — every extra candidate that passes exact Jaccard is a true pair
    the full keys missed; extra non-pairs die in verification). The
    trade is more verify work per collision — pick b so the expected
    bucket size stays small (b=8 at 2-row bands = 16 effective key bits
    per band, collision floor 2^-16 per pair per band).
    """
    # the shingle+md5 base pass is the dominant map cost; the shared
    # TALNA_MIN_SCAN_TASKS fan-out (pipeline.scan) spreads a
    # single-row-group source across tasks (no-op on real multi-file
    # sources and in the default configuration)
    d = fan_out(read_documents(spark, sf_dir, "doc_id", "text"))
    dw = _tokenized(d, tokens(F.col("text")))
    sh = shingles(F.col("_w"), SHINGLE_K)
    # Materialize (shingles, base hashes) ONCE behind a lazy
    # localCheckpoint, then derive the H signature columns from the
    # stored base array. Two pathologies die here, both measured at
    # sf0.1: (a) Catalyst's projection collapse inlines the shingle +
    # md5 subtree into every minhash column and the self-join squares
    # that tree — DRIVER-SIDE planning alone was 60s of the 62s
    # end-to-end, executors idle; (b) without materialization the md5
    # pass re-evaluates for both join sides and both verify join-backs.
    # Downstream plans see a flat scan; the affine mixes recompute
    # cheaply. Same lineage-truncation cure the connected-components
    # loop uses.
    base = dw.select(
        "doc_id", sh.alias("sh"), _base_hashes(sh).alias("_bh")
    ).localCheckpoint(eager=False)
    sig = base.select("doc_id", "sh", *_minhash_cols_from_base(F.col("_bh")))
    bands = _band_rows(sig, band_bits=band_bits)
    # hot-bucket guard: per-(band, key) membership count via a window —
    # same shuffle partitioning the self-join needs anyway, id-only rows
    from pyspark.sql.window import Window

    wb = Window.partitionBy("band", "key")
    bands = (
        bands.withColumn("_bc", F.count(F.lit(1)).over(wb))
        .filter(F.col("_bc") <= int(max_bucket))
        .drop("_bc")
    )
    left = bands.alias("a")
    right = bands.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    shs = sig.select("doc_id", "sh")
    verified = (
        cand.join(shs.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(shs.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "jaccard", F.round(_jaccard(F.col("sa.sh"), F.col("sb.sh")), 6)
        )
    )
    return (
        verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def lsh_near_dup_pairs_sql(band_bits: "int | None" = None) -> str:
    sh = shingles_sql(tokens_sql("text"), SHINGLE_K)
    sig_cols = ", ".join(_minhash_cols_sql())

    def comp(i: int) -> str:
        # & masks identically in both engines: minhash affine values are
        # non-negative (< MINHASH_P), so no sign-extension trap
        return (
            f"h{i}" if band_bits is None
            else f"(h{i} & {(1 << int(band_bits)) - 1})"
        )

    band_structs = ", ".join(
        "{'band': %d, 'key': concat_ws('_', %s)}"
        % (b, ", ".join(comp(b * LSH_ROWS + r) for r in range(LSH_ROWS)))
        for b in range(LSH_BANDS)
    )
    inter = "len(list_filter(a.sh, x -> list_contains(b.sh, x)))"
    return (
        f"WITH sig AS (SELECT doc_id, {sh} AS sh, {sig_cols} FROM documents), "
        f"bands AS (SELECT doc_id, sh, unnest([{band_structs}], recursive := true) "
        f"FROM sig), "
        f"cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        f"FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key "
        f"AND a.doc_id < b.doc_id), "
        f"verified AS (SELECT doc_a, doc_b, "
        f"ROUND({inter}::DOUBLE / (len(a.sh) + len(b.sh) - {inter}), 6) AS jaccard "
        f"FROM cand JOIN sig a ON cand.doc_a = a.doc_id "
        f"JOIN sig b ON cand.doc_b = b.doc_id) "
        f"SELECT doc_a, doc_b, jaccard FROM verified "
        f"WHERE jaccard >= {JACCARD_THRESHOLD}"
    )


# ---------------------------------------------------------------- simhash
def simhash(
    spark: SparkSession, sf_dir: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """Frequency-weighted SimHash over token hashes (``bits`` wide),
    entirely as ONE JVM-side aggregate() fold — no UDF, no shuffle.

    The fold carries a ``bits``-long score VECTOR (zip_with against a
    literal powers-of-two array; exact bit test via ``h & 2^b``, never
    double division — the 53-bit-mantissa trap), so the md5 token
    transform evaluates ONCE per token. The naive per-bit formulation
    (one fold per bit) inlines that transform into every fold —
    60 md5 passes over every document — and measured 12.5x slower at
    the 60-bit production width (16.89 s vs 1.34 s over sf0.1's 5k
    docs, execution-side min-of-3; bit-identical outputs verified).
    NULL text folds to fingerprint 0 (the per-bit form's behavior,
    kept via the final coalesce)."""
    if not 1 <= int(bits) <= 60:
        raise ValueError("bits must be in [1, 60] (hash64 is 60-bit)")
    d = fan_out(read_documents(spark, sf_dir, "doc_id", "text"))
    th = F.transform(tokens(F.col("text")), lambda t: hash64(t))
    zero = F.lit(0).cast("long")
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(int(bits))])
    scores = F.aggregate(
        th,
        F.array_repeat(zero, int(bits)),
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            scores, powers, lambda s, p: F.when(s > 0, p).otherwise(zero)
        ),
        zero,
        lambda a, x: a + x,
    )
    return d.select(
        "doc_id", F.coalesce(sim, zero).alias("simhash")
    )


def simhash_sql(bits: int = SIMHASH_BITS) -> str:
    w = tokens_sql("text")
    th = f"list_transform({w}, t -> {hash64_sql('t')})"
    bit_terms = []
    for b in range(int(bits)):
        score = (
            f"list_sum(list_transform({th}, "
            f"h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END))"
        )
        bit_terms.append(f"(CASE WHEN {score} > 0 THEN {2**b} ELSE 0 END)")
    return (
        f"SELECT doc_id, CAST({' + '.join(bit_terms)} AS BIGINT) AS simhash "
        f"FROM documents"
    )


SIMHASH_BANDS = 4        # pigeonhole bands over the SIMHASH_BITS fingerprint
SIMHASH_MAX_HAMMING = 3  # verified distance; B bands guarantee recall < B
SIMHASH_MAX_BUCKET = LSH_MAX_BUCKET  # same quadratic-blowup guard as LSH


def _simhash_band_rows(sig: DataFrame, bands: int, bits: int) -> DataFrame:
    """(doc_id, simhash, b, v) — one row per (doc, band), the band value
    extracted by shift+mask. Shared by the pair join and the hot-bucket
    report so both see the identical bucket keys."""
    width = int(bits) // int(bands)
    mask = (1 << width) - 1
    bandvals = F.array(
        *[
            F.struct(
                F.lit(i).alias("b"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("v"),
            )
            for i in range(int(bands))
        ]
    )
    return sig.select(
        "doc_id", "simhash", F.explode(bandvals).alias("bv")
    ).select(
        "doc_id", "simhash", F.col("bv.b").alias("b"), F.col("bv.v").alias("v")
    )


def simhash_hot_buckets(
    spark: SparkSession,
    sf_dir: str,
    bands: int = SIMHASH_BANDS,
    bits: int = SIMHASH_BITS,
    max_bucket: int = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """The SimHash band-bucket audit (the lsh_hot_buckets twin): every
    (b, v) band bucket whose membership exceeds ``max_bucket`` — the
    buckets :func:`simhash_near_dup_pairs` excludes from candidate
    generation. Run alongside the pairs job so the exclusion is
    audited, never silent; a non-empty report means the corpus needs
    exact dedup first (identical-text floods share whole fingerprints)
    or a larger cap. One map-side-combined groupBy over id-only band
    rows."""
    if int(bands) < 1 or int(bits) % int(bands) != 0:
        raise ValueError(f"bands must divide bits ({int(bits)})")
    sig = simhash(spark, sf_dir, bits=bits)
    return (
        _simhash_band_rows(sig, bands, bits)
        .groupBy("b", "v")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > int(max_bucket))
    )


def simhash_near_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bands: int = SIMHASH_BANDS,
    bits: int = SIMHASH_BITS,
    max_bucket: int = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """SimHash near-duplicate PAIRS — the Manku et al. 2007 crawl-dedup
    method (the one Google published for web-scale near-dup detection)
    next to the MinHash-LSH pair generator: split each SimHash
    fingerprint into ``bands`` equal bit-bands; by pigeonhole, two
    fingerprints within Hamming distance < ``bands`` agree EXACTLY on
    at least one band, so candidates are a band-keyed equality
    self-join — never all pairs — and each candidate verifies by exact
    bit_count(xor) <= ``max_hamming``. Returns (doc_a, doc_b, hamming)
    with doc_a < doc_b.

    Recall contract (tested): exact for max_hamming < bands; a larger
    max_hamming is allowed but recall drops to the banding's —
    documented, not silent (the guarantee is the caller's dial).

    100 TB shape: fingerprints computed once behind a lazy
    localCheckpoint (map-only folds); the only shuffle keys
    (band, value) id-rows — the LSH band-join shape with integer band
    values instead of minhash tuples; verification is a map-side
    bit_count. Candidate volume is governed by the per-band value
    space (~2^(bits/bands) buckets): the 60-bit production default
    gives 15-bit band values; 16 is the oracle-friendly demo width
    (the plan shape is width-independent). Band buckets larger than
    ``max_bucket`` are EXCLUDED from candidate generation — the LSH
    hot-bucket guard, because one degenerate band value (boilerplate
    floods agree on whole fingerprints) otherwise turns the self-join
    quadratic. The exclusion is never silent: run
    :func:`simhash_hot_buckets` with the same cap for the membership
    report; identical-text floods are exact dedup's job."""
    b = int(bands)
    h = int(max_hamming)
    if b < 1 or int(bits) % b != 0:
        raise ValueError(f"bands must divide bits ({int(bits)})")
    if h < 0:
        raise ValueError("max_hamming must be >= 0")
    sig = simhash(spark, sf_dir, bits=bits).localCheckpoint(eager=False)
    rows = _simhash_band_rows(sig, b, int(bits))
    # hot-bucket guard: per-(b, v) membership count via a window — the
    # same shuffle partitioning the self-join needs anyway, id-only rows
    from pyspark.sql.window import Window

    wb = Window.partitionBy("b", "v")
    rows = (
        rows.withColumn("_bc", F.count(F.lit(1)).over(wb))
        .filter(F.col("_bc") <= int(max_bucket))
        .drop("_bc")
    )
    a_, b_ = rows.alias("a"), rows.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        a_.join(
            b_,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= h)
        .distinct()
    )


def simhash_near_dup_pairs_sql(
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bands: int = SIMHASH_BANDS,
    bits: int = SIMHASH_BITS,
) -> str:
    """DuckDB twin: same band split (shift+mask), same bit_count(xor)
    verification. No hot-bucket cap — the oracle states the UNCAPPED
    semantics; at the driver corpus sizes the default cap never
    triggers, so engine == oracle (the lsh_near_dup_pairs convention —
    capped runs are audited via simhash_hot_buckets instead)."""
    b = int(bands)
    width = int(bits) // b
    mask = (1 << width) - 1
    return (
        f"WITH sig AS MATERIALIZED ({simhash_sql(bits)}), "
        "bands AS (SELECT doc_id, simhash, i AS b, "
        f"(simhash >> (i * {width})) & {mask} AS v "
        f"FROM sig, unnest(generate_series(0, {b - 1})) t(i)), "
        "pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming "
        "FROM bands a JOIN bands b "
        "ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id) "
        f"SELECT doc_a, doc_b, hamming FROM pairs "
        f"WHERE hamming <= {int(max_hamming)}"
    )


# ------------------------------------------------- duplicate clustering (CC)
def dedup_clusters(spark: SparkSession, sf_dir: str, max_iter: int = 25) -> DataFrame:
    """Connected components over the verified near-dup pair graph: every
    doc gets a ``cluster`` label (the min doc_id in its component) and a
    ``keep`` flag (true for the canonical survivor) — the step that turns
    candidate pairs into an actionable drop-list.

    Algorithm: Pregel-style hash-min label propagation — each round every
    node takes the min of its label and its neighbors' labels; rounds are
    plain self-joins on the (small) edge list, so the shuffle carries only
    (id, label) longs, never document payloads. Converges in O(component
    diameter) rounds; near-dup components are shallow (chains of copies),
    so a handful of rounds suffices. At extreme diameters the alternating
    small-star/large-star variant (CC in MapReduce, Kiveris et al.) bounds
    rounds at O(log^2 n) with the same join shape. ``localCheckpoint``
    truncates the growing lineage each round — without it, plan depth (and
    task serialization time) doubles per iteration.
    """
    pairs = lsh_near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select("id", F.least("label", "nlabel").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # silent non-convergence would split components and keep multiple
        # "canonical" survivors from one duplicate class
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds "
            "(component diameter too large — raise max_iter or use the "
            "small-star/large-star variant)"
        )
    docs = read_documents(spark, sf_dir, "doc_id")
    out = docs.join(labels, docs.doc_id == labels.id, "left").select(
        "doc_id",
        F.coalesce("label", "doc_id").alias("cluster"),
    )
    return out.withColumn("keep", F.col("doc_id") == F.col("cluster"))


def dedup_clusters_sql() -> str:
    """Transitive-closure oracle: reach = all (id, reachable-id) pairs via
    a recursive CTE (safe at oracle scale — components are tiny), then
    cluster = min(id, reachable ids)."""
    return (
        f"WITH RECURSIVE pairs AS ({lsh_near_dup_pairs_sql()}), "
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
        "UNION SELECT doc_b, doc_a FROM pairs), "
        "reach(id, r) AS (SELECT src, dst FROM edges "
        "UNION SELECT reach.id, edges.dst FROM reach "
        "JOIN edges ON reach.r = edges.src), "
        "comp AS (SELECT id, MIN(r) AS mn FROM reach GROUP BY id) "
        "SELECT d.doc_id, "
        "COALESCE(LEAST(comp.id, comp.mn), d.doc_id) AS cluster, "
        "(d.doc_id = COALESCE(LEAST(comp.id, comp.mn), d.doc_id)) AS keep "
        "FROM documents d LEFT JOIN comp ON d.doc_id = comp.id"
    )


# -------------------------------------------------- n-gram jaccard (blocked)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact-Jaccard pairs (the LSH recall baseline) as a
    SORT-MERGE-style intersection instead of per-candidate-pair array
    hashing: shingle hashes explode to (doc_id, lb, h) id-rows, the
    self-join on (lb, h) touches ONLY pairs that actually share a
    shingle, and a count per (doc_a, doc_b) IS the intersection size
    (shingles are a distinct set per doc). Pairs sharing nothing have
    jaccard 0 < threshold and are correctly absent. r12 rewrite,
    measured at sf0.1 with identical output pairs: 74.7 s (string
    array_intersect per candidate pair, shingle subtree duplicated onto
    both join sides) -> 21 s (hash64 shingles) -> 0.21 s (this shape).

    Work is proportional to SHARED shingle occurrences — the useful
    work of the intersection — vs (na + nb) hash-set ops per candidate
    pair regardless of overlap. Shingle identity is the portable
    60-bit hash64; a within-pair collision (p ~ 2^-60 per shingle
    pair) would overcount by one, and the DuckDB oracle keeps the raw
    STRING formulation, so any collision is DETECTED by the driver's
    hash gate rather than silently absorbed. Identical-text floods
    (one shingle in every doc of a bucket) go quadratic per (lb, h)
    group by design — the same degenerate input the LSH hot-bucket
    guard documents; exact dedup runs first."""
    d = read_documents(spark, sf_dir, "doc_id", "text")
    # integer division on both sides: DuckDB CAST(float AS BIGINT) rounds
    # half-to-even while Spark's cast truncates — `div` / `//` sidestep it
    dt = d.select(
        "doc_id",
        tokens(F.col("text")).alias("_w"),
        F.expr(f"length(text) div {LENGTH_BUCKET}").alias("lb"),
    ).localCheckpoint(eager=False)
    hsh = F.transform(shingles(F.col("_w"), SHINGLE_K), lambda s: hash64(s))
    base = dt.select("doc_id", hsh.alias("sh"), "lb").localCheckpoint(
        eager=False
    )
    ex = base.select("doc_id", "lb", F.explode("sh").alias("h"))
    ea, eb = ex.alias("a"), ex.alias("b")
    pcnt = (
        ea.join(
            eb,
            (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = base.select("doc_id", F.size("sh").alias("n"))
    return (
        pcnt.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def ngram_jaccard_pairs_sql() -> str:
    sh = shingles_sql(tokens_sql("text"), SHINGLE_K)
    inter = "len(list_filter(a.sh, x -> list_contains(b.sh, x)))"
    return (
        f"WITH base AS (SELECT doc_id, {sh} AS sh, "
        f"length(text) // {LENGTH_BUCKET} AS lb FROM documents) "
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        f"ROUND({inter}::DOUBLE / (len(a.sh) + len(b.sh) - {inter}), 6) AS jaccard "
        f"FROM base a JOIN base b ON a.lb = b.lb AND a.doc_id < b.doc_id "
        f"WHERE ROUND({inter}::DOUBLE / (len(a.sh) + len(b.sh) - {inter}), 6) "
        f">= {JACCARD_THRESHOLD}"
    )


# ------------------------------------------------- quality-aware survivors
def neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One survivor per near-dup cluster, chosen by QUALITY (ties -> lowest
    doc_id) — the selection step a training pipeline actually runs after
    clustering: keep the best copy, not an arbitrary one.

    Scale shape: clusters and quality are both id-keyed (no text payloads
    in the shuffle); the argmax is a lexicographic struct max — one
    hash-aggregate with map-side partials, no window. The 6-dp-rounded
    quality from the quality() operator is used on BOTH engines so rounding
    cannot flip the tie-break."""
    from talna_spark.pipeline.text import quality

    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster")
    q = quality(spark, sf_dir).select("doc_id", "quality")
    joined = clusters.join(q, "doc_id")
    best = joined.groupBy("cluster").agg(
        F.max(
            F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("b")
    )
    return best.select(
        "cluster",
        (-F.col("b.neg_id")).alias("survivor_id"),
        F.round("b.quality", 6).alias("quality"),
    )


def neardup_survivors_sql() -> str:
    """Oracle: same argmax via DuckDB struct max over (quality, -doc_id);
    nested-CTE composition of the clusters + quality oracles."""
    from talna_spark.pipeline.text import quality_sql

    return (
        f"WITH clus AS ({dedup_clusters_sql()}), "
        f"qual AS ({quality_sql()}), "
        "j AS (SELECT c.cluster, q.doc_id, q.quality FROM clus c "
        "JOIN qual q ON c.doc_id = q.doc_id), "
        "best AS (SELECT cluster, "
        "MAX({'quality': quality, 'neg_id': -doc_id}) AS b FROM j "
        "GROUP BY cluster) "
        "SELECT cluster, -(b.neg_id) AS survivor_id, "
        "ROUND(b.quality, 6) AS quality FROM best"
    )


# --------------------------------------------------- duplicate-span scan
SPAN_K = 5  # word 5-grams: the unit of cross-document span duplication


def _positional_gram_hashes(words, k: int):
    """hash64 of every POSITIONAL word k-gram (overlapping, repeats kept
    — unlike :func:`portable.shingles`, which is the distinct set).
    Empty when the doc has < k words (the :func:`portable.grams`
    guard)."""
    from talna_spark.pipeline.portable import grams

    return F.transform(grams(words, k), hash64)


def _positional_gram_hashes_sql(words_expr: str, k: int) -> str:
    # generate_series(1, 0) is already empty in DuckDB — no guard needed.
    gram = f"array_to_string(({words_expr})[i:i+{k - 1}], ' ')"
    return (
        f"list_transform("
        f"generate_series(1, greatest(len({words_expr}) - {k - 1}, 0)), "
        f"i -> {hash64_sql(gram)})"
    )


def dup_spans(
    spark: SparkSession,
    sf_dir: str,
    k: int = SPAN_K,
) -> DataFrame:
    """Cross-document duplicate-span scan (the train-data dedup from
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022, adapted to word k-grams): a position in a document is
    *duplicated* when its k-gram also occurs in at least one OTHER
    document. Returns per-doc ``n_grams`` (positional k-gram count),
    ``dup_positions`` and ``dup_fraction`` — the signal used to drop or
    trim boilerplate-heavy documents.

    100 TB shape: documents stay put; only (doc_id, gram_hash) id pairs
    shuffle. The duplicated-gram set is an aggregate over those pairs
    (count of DISTINCT docs per hash — Spark plans this as two partial
    hash aggregates), and the membership test is a shuffle join on the
    hash, never a broadcast of a corpus-sized set. Within-doc repetition
    alone does NOT mark a position (that signal is
    pipeline.text.repetition); >= 2 distinct documents must share the
    gram.
    """
    dw, dpos = _dup_positions(spark, sf_dir, k)
    dcount = dpos.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dup_positions")
    )
    # n_grams needs no hashing at all — it is a pure token-count formula
    n_grams = F.greatest(F.size("_w") - (k - 1), F.lit(0))
    return (
        dw.select("doc_id", n_grams.cast("long").alias("n_grams"))
        .join(dcount, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("dup_positions", F.lit(0)).cast("long").alias("dup_positions"),
            F.round(
                F.coalesce("dup_positions", F.lit(0))
                / F.greatest(F.col("n_grams"), F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
    )


def dup_spans_sql(k: int = SPAN_K) -> str:
    gh = _positional_gram_hashes_sql(tokens_sql("text"), k)
    return (
        f"WITH g AS (SELECT doc_id, {gh} AS gh FROM documents), "
        "pos AS (SELECT doc_id, unnest(gh) AS h FROM g), "
        "dup AS (SELECT h FROM pos GROUP BY h "
        "HAVING COUNT(DISTINCT doc_id) >= 2), "
        "dc AS (SELECT doc_id, COUNT(*) AS dup_positions "
        "FROM pos JOIN dup USING (h) GROUP BY doc_id) "
        "SELECT g.doc_id, CAST(len(g.gh) AS BIGINT) AS n_grams, "
        "CAST(COALESCE(dc.dup_positions, 0) AS BIGINT) AS dup_positions, "
        "ROUND(COALESCE(dc.dup_positions, 0) / GREATEST(len(g.gh), 1), 6) "
        "AS dup_fraction "
        "FROM g LEFT JOIN dc ON g.doc_id = dc.doc_id"
    )


def _kept_by_index(arr, removed):
    """Elements of ``arr`` whose 0-based index is NOT in ``removed`` (an
    int-array column with distinct elements), in original order — the
    survivor-rebuild step shared by :func:`dup_span_clean`,
    :func:`dup_span_maximal` and :func:`paragraph_dedup` so the shape
    cannot diverge again.

    This is the only shape of the three tried that is actually
    O(n + |removed|) per row: ``array_except`` builds a real JVM
    OpenHashSet over ``removed`` ONCE per row and streams the index
    sequence through it, and ``get`` is an O(1) indexed read. The
    obvious alternatives are quadratic-or-worse because HOF lambdas are
    interpreted per element: per-element ``array_contains(removed, i)``
    scans the removal list per token, and the map shape is WORSE —
    Catalyst rewrites ``map_contains_key(m, i)`` to
    ``array_contains(map_keys(m), i)``, which COPIES the key array per
    element. Measured on 200 docs x 20k tokens x 10k removed indices
    (local[4]): array_except+get 1.06 s, array_contains 103 s,
    map_contains_key ~2700 s (274 s at 20 docs).
    """
    n = F.size(arr)
    idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(F.array_except(idx, removed), lambda i: F.get(arr, i))


def _tokenized(d, arr_expr) -> DataFrame:
    """(doc_id, _w): the document array MATERIALIZED once behind a lazy
    localCheckpoint — REQUIRED before :func:`_kept_by_index`. Its
    ``get(arr, i)`` lambda captures ``arr``; a captured EXPRESSION
    (e.g. the inline tokens() split) re-evaluates per element — one
    split per kept token, measured 61.6 s vs 0.19 s on 200 docs x 5k
    tokens — while a checkpointed column is a bound attribute read.
    The gram/paragraph position scans reuse the same frame, so the
    tokenize also runs once instead of once per consumer."""
    return d.select("doc_id", arr_expr.alias("_w")).localCheckpoint(
        eager=False
    )


def _dup_positions(spark: SparkSession, sf_dir: str, k: int) -> tuple:
    """(dw, dpos): the tokenized documents (doc_id, _w) and every
    DUPLICATED positional k-gram (h, doc_id, p), p = the 0-based gram
    start — a gram is duplicated when >= 2 distinct documents hold it.
    The one gram-position scan behind :func:`dup_spans`,
    :func:`dup_span_clean` and :func:`dup_span_maximal`."""
    d = fan_out(read_documents(spark, sf_dir, "doc_id", "text"))
    dw = _tokenized(d, tokens(F.col("text")))
    # (doc_id, p, gram_hash) computed ONCE behind a lazy localCheckpoint:
    # its consumers (dup set, the duplicated-position join) would
    # otherwise each re-evaluate the md5 transform — the LSH planning
    # pathology class (measured 27s -> ~4s at sf0.1)
    pos = dw.select(
        "doc_id",
        F.posexplode(_positional_gram_hashes(F.col("_w"), k)).alias("p", "h"),
    ).localCheckpoint(eager=False)
    dup = (
        pos.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    return dw, pos.join(dup, "h")


def _covered(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """(doc_id, _w, cov): each document with the SORTED 0-based indices
    of the tokens its duplicated k-grams cover (empty when none) — one
    (doc_id)-keyed aggregate over id rows."""
    dw, dpos = _dup_positions(spark, sf_dir, k)
    cov = (
        dpos.select(
            "doc_id",
            F.explode(F.sequence(F.col("p"), F.col("p") + (k - 1))).alias("t"),
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("t")).alias("cov"))
    )
    return dw.join(cov, "doc_id", "left").withColumn(
        "cov", F.coalesce("cov", F.array().cast("array<int>"))
    )


def dup_span_clean(
    spark: SparkSession,
    sf_dir: str,
    k: int = SPAN_K,
) -> DataFrame:
    """Duplicate-span REMOVAL — the trim step that follows the
    :func:`dup_spans` scan (Lee et al. 2022 drop the repeated span from
    all but one occurrence; this stricter form trims every token covered
    by ANY cross-document duplicated k-gram, the boilerplate-stripping
    variant). Returns (doc_id, kept_tokens, removed_tokens, clean_hash)
    where clean_hash = md5 of the space-joined surviving tokens in
    original order — so the oracle proves the reconstructed TEXT, not
    just counts.

    100 TB shape: same id-only shuffles as the scan (gram hashes once
    behind a lazy localCheckpoint, duplicated set by shuffle join), plus
    one (doc_id, token_index) coverage aggregate; the rebuild is a
    map-side indexed filter over the token array — text never crosses an
    Exchange."""
    kept = _kept_by_index(F.col("_w"), F.col("cov"))
    return (
        _covered(spark, sf_dir, k)
        .withColumn("_kept", kept)
        .select(
            "doc_id",
            F.size("_kept").cast("long").alias("kept_tokens"),
            (F.size("_w") - F.size("_kept")).cast("long").alias(
                "removed_tokens"
            ),
            F.md5(F.array_join("_kept", " ")).alias("clean_hash"),
        )
    )


def _covered_sql(w: str, k: int) -> str:
    """The CTE prefix of the clean/maximal twins: gram positions, the
    duplicated set and the covered (doc_id, t) token indices."""
    gh = _positional_gram_hashes_sql(w, k)
    return (
        # pos.i is 1-based (generate_series over the gram list), so the
        # 0-based covered token range for gram i is [i-1, i+k-2]
        f"WITH g AS (SELECT doc_id, {gh} AS gh FROM documents), "
        "pos AS (SELECT doc_id, i, gh[i] AS h FROM g, "
        "unnest(generate_series(1, len(gh))) AS u(i)), "
        "dup AS (SELECT h FROM pos GROUP BY h "
        "HAVING COUNT(DISTINCT doc_id) >= 2), "
        "cov AS (SELECT DISTINCT doc_id, "
        f"unnest(generate_series(i - 1, i + {k - 2})) AS t "
        "FROM pos JOIN dup USING (h)), "
    )


def dup_span_clean_sql(k: int = SPAN_K) -> str:
    w = tokens_sql("text")
    return (
        _covered_sql(w, k)
        + f"toks AS (SELECT doc_id, ({w})[idx] AS tok, idx "
        f"FROM documents, unnest(generate_series(1, len({w}))) AS s(idx)), "
        "clean AS (SELECT tk.doc_id, "
        "COUNT(*) AS kept, string_agg(tk.tok, ' ' ORDER BY tk.idx) AS txt "
        "FROM toks tk LEFT JOIN cov c "
        "ON tk.doc_id = c.doc_id AND tk.idx - 1 = c.t "
        "WHERE c.t IS NULL GROUP BY tk.doc_id), "
        f"n AS (SELECT doc_id, len({w}) AS n_toks FROM documents) "
        "SELECT n.doc_id, CAST(COALESCE(cl.kept, 0) AS BIGINT) AS kept_tokens, "
        "CAST(n.n_toks - COALESCE(cl.kept, 0) AS BIGINT) AS removed_tokens, "
        "md5(COALESCE(cl.txt, '')) AS clean_hash "
        "FROM n LEFT JOIN clean cl ON n.doc_id = cl.doc_id"
    )


SPAN_MIN_TOKENS = 10  # a maximal duplicated run must cover >= this many
# tokens to be removed (Lee et al. 2022 use >=50 at web scale; the
# testdata documents are tens of tokens, so the demo threshold is lower)


def dup_span_maximal(
    spark: SparkSession,
    sf_dir: str,
    k: int = SPAN_K,
    min_tokens: int = SPAN_MIN_TOKENS,
) -> DataFrame:
    """Exact-substring dedup at suffix granularity — the published
    Lee et al. 2022 shape that :func:`dup_span_clean` approximates with
    fixed k-grams: adjacent duplicated k-grams COALESCE into maximal
    variable-length duplicated runs, and only runs covering at least
    ``min_tokens`` tokens are removed. Two documents sharing a 50-token
    passage therefore dedup as ONE 50-token span (not 46 overlapping
    grams), while short incidental k-gram collisions below the
    threshold survive untouched — the behavior the suffix-array variant
    delivers, expressed over the same id-only shuffles.

    Returns (doc_id, n_spans, span_tokens, kept_tokens, clean_hash):
    maximal-run count and their total token coverage, surviving token
    count, and md5 of the space-joined surviving tokens in original
    order (the oracle proves the reconstructed TEXT).

    100 TB shape: identical to the scan — (doc_id, gram_hash) pairs
    computed once behind a lazy localCheckpoint, the duplicated set by
    shuffle join, coverage as one (doc_id)-keyed aggregate; the
    run-coalescing fold walks each doc's SORTED covered-index array
    JVM-side (map-only after the aggregate), and text never crosses an
    Exchange."""
    if min_tokens < int(k):
        raise ValueError(
            f"min_tokens must be >= k ({k}): a duplicated run always "
            "covers at least one whole k-gram"
        )
    # coalesce consecutive covered indices into maximal runs, keep runs
    # >= min_tokens: one JVM aggregate() fold per doc over the sorted
    # array — acc = (rem: removal set so far, run: current open run,
    # n: closed runs kept). No UDF, no extra shuffle.
    mt = int(min_tokens)
    empty_i = F.array().cast("array<int>")

    def _close(rem, run, n):
        big = F.size(run) >= mt
        return F.struct(
            F.when(big, F.concat(rem, run)).otherwise(rem).alias("rem"),
            empty_i.alias("run"),
            F.when(big, n + 1).otherwise(n).alias("n"),
        )

    fold = F.aggregate(
        F.col("cov"),
        F.struct(empty_i.alias("rem"), empty_i.alias("run"), F.lit(0).alias("n")),
        lambda acc, t: F.when(
            (F.size(acc["run"]) > 0)
            & (t == F.element_at(acc["run"], -1) + 1),
            F.struct(
                acc["rem"].alias("rem"),
                F.concat(acc["run"], F.array(t)).alias("run"),
                acc["n"].alias("n"),
            ),
        ).otherwise(
            F.struct(
                _close(acc["rem"], acc["run"], acc["n"])["rem"].alias("rem"),
                F.array(t).alias("run"),
                _close(acc["rem"], acc["run"], acc["n"])["n"].alias("n"),
            )
        ),
        lambda acc: _close(acc["rem"], acc["run"], acc["n"]),
    )
    kept = _kept_by_index(F.col("_w"), F.col("rem"))
    return (
        _covered(spark, sf_dir, k)
        .withColumn("_f", fold)
        .withColumn("rem", F.col("_f.rem"))
        .withColumn("_kept", kept)
        .select(
            "doc_id",
            F.col("_f.n").cast("long").alias("n_spans"),
            F.size("rem").cast("long").alias("span_tokens"),
            F.size("_kept").cast("long").alias("kept_tokens"),
            F.md5(F.array_join("_kept", " ")).alias("clean_hash"),
        )
    )


def dup_span_maximal_sql(
    k: int = SPAN_K, min_tokens: int = SPAN_MIN_TOKENS
) -> str:
    """DuckDB twin of :func:`dup_span_maximal`: the classic
    gaps-and-islands (t - ROW_NUMBER() per doc groups consecutive
    covered indices) instead of the Spark-side fold — same maximal
    runs, same threshold, same reconstruction."""
    w = tokens_sql("text")
    mt = int(min_tokens)
    return (
        _covered_sql(w, k)
        + "isl AS (SELECT doc_id, t, t - ROW_NUMBER() OVER "
        "(PARTITION BY doc_id ORDER BY t) AS grp FROM cov), "
        "runs AS (SELECT doc_id, grp, COUNT(*) AS len FROM isl "
        "GROUP BY doc_id, grp), "
        f"big AS (SELECT doc_id, grp, len FROM runs WHERE len >= {mt}), "
        "rem AS (SELECT i.doc_id, i.t FROM isl i "
        "JOIN big b ON i.doc_id = b.doc_id AND i.grp = b.grp), "
        "spans AS (SELECT doc_id, COUNT(*) AS n_spans, "
        "SUM(len) AS span_tokens FROM big GROUP BY doc_id), "
        f"toks AS (SELECT doc_id, ({w})[idx] AS tok, idx "
        f"FROM documents, unnest(generate_series(1, len({w}))) AS s(idx)), "
        "clean AS (SELECT tk.doc_id, COUNT(*) AS kept, "
        "string_agg(tk.tok, ' ' ORDER BY tk.idx) AS txt "
        "FROM toks tk LEFT JOIN rem r "
        "ON tk.doc_id = r.doc_id AND tk.idx - 1 = r.t "
        "WHERE r.t IS NULL GROUP BY tk.doc_id) "
        "SELECT d.doc_id, "
        "CAST(COALESCE(sp.n_spans, 0) AS BIGINT) AS n_spans, "
        "CAST(COALESCE(sp.span_tokens, 0) AS BIGINT) AS span_tokens, "
        "CAST(COALESCE(cl.kept, 0) AS BIGINT) AS kept_tokens, "
        "md5(COALESCE(cl.txt, '')) AS clean_hash "
        "FROM documents d "
        "LEFT JOIN spans sp ON d.doc_id = sp.doc_id "
        "LEFT JOIN clean cl ON d.doc_id = cl.doc_id"
    )


# --------------------------------------------- incremental (cross-corpus)
def dedup_against(
    spark: SparkSession,
    new_dir: str,
    ref_dir: str,
    max_bucket: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """Incremental dedup: flag each NEW document against an EXISTING
    reference corpus — the real recurring workflow (every fresh crawl
    dedups against everything already in the training set, not against
    itself). Verdict per new doc:

    - ``exact_dup``: byte-identical text exists in the reference
      (md5 anti-join semantics);
    - ``near_dup``: an LSH band collision with a reference doc verified
      at Jaccard >= threshold (same signature/band/verify machinery as
      :func:`lsh_near_dup_pairs`, but joining NEW bands against REF
      bands — no new-vs-new or ref-vs-ref pairs);
    - ``new``: neither. Output: (doc_id, verdict, ref_doc_id, jaccard)
      with ref_doc_id/jaccard populated for near-dups (the best match)
      and null otherwise.

    100 TB shape: the reference side is touched as (hash) and (band,
    key, id) projections only — never re-scanned per new doc; both
    sides' band rows meet in one shuffle join keyed by the LSH bucket,
    with the same hot-bucket cap (applied to the REF side, where floods
    accumulate). Exact flags ride a broadcast-or-shuffle join on the
    text hash (AQE decides — the hash set is corpus-sized for the
    reference, id-only rows)."""
    new_d = fan_out(read_documents(spark, new_dir, "doc_id", "text"))
    ref_d = fan_out(read_documents(spark, ref_dir, "doc_id", "text"))
    return dedup_against_frames(new_d, ref_d, max_bucket=max_bucket)


# ------------------------------------------------- Bloom filter (r11)
# The approximate-membership sketch incremental dedup runs on at 100 TB:
# the reference corpus's text-hash set compresses to an m-bit bitmap
# (mergeable across shards by bit_or) that BROADCASTS, so the fresh
# crawl prefilters map-side — only might-contain candidates (true dups
# + the fp rate) ever enter the exact-verify join. No false negatives
# by construction, so verify-after-prefilter is EXACTLY the unfiltered
# result (tested). Positions use double hashing (Kirsch & Mitzenmacher
# 2006: pos_i = (h1 + i*h2) mod m from two independent md5-based
# hashes), so the bitmap is deterministic and cross-engine (DuckDB twin
# in the tests computes identical words).
BLOOM_BITS = 1 << 16        # default m (driver-slice size; 8 KiB bitmap)
BLOOM_K = 4                 # hash functions; <= 7 (i*h2 must fit int64)
BLOOM_LITERAL_WORDS = 1024  # above this, membership switches to a join


def _bloom_positions(col, m: int, k: int) -> list:
    """The k bit positions of a value — double hashing from two
    independent portable hashes. k <= 7 keeps h1 + (k-1)*h2 < 2^63."""
    if not 1 <= int(k) <= 7:
        raise ValueError("k must be in [1, 7]")
    if int(m) < 64 or int(m) % 64 != 0:
        raise ValueError("m must be a positive multiple of 64")
    h1 = hash64(F.concat(F.lit("bl1|"), col))
    h2 = hash64(F.concat(F.lit("bl2|"), col))
    return [(h1 + F.lit(i) * h2) % F.lit(int(m)) for i in range(int(k))]


def bloom_build(
    d: DataFrame, col: str, m: int = BLOOM_BITS, k: int = BLOOM_K
) -> DataFrame:
    """(word_idx, bits): the m-bit Bloom bitmap as int64 words — a
    DISTRIBUTED, MERGEABLE sketch (one explode + a bit_or hash-agg with
    map-side partials; merging two bitmaps = union + the same agg, see
    :func:`bloom_merge`). At the default m it is 1024 rows; a 2^33-bit
    production bitmap is ~134M id-rows and still just a hash-agg.
    Absent words are implicit zeros. NULL values are not inserted (a
    NULL is not a member of anything — and an unfiltered NULL would
    produce a NULL cell that breaks the collected word list; NULL-text
    reference docs reach here as md5(NULL))."""
    pos = F.array(*_bloom_positions(F.col(col), m, k))
    return _bitmap_words(d, col, F.explode(pos))


# OR together bitmaps built with the same (m, k) — the shard-merge
# property that makes the sketch buildable incrementally (tested: merge
# of per-shard bitmaps == bitmap of the union). A Bloom bitmap merges
# exactly as a linear-counting bitmap does, so it is the same function.
bloom_merge = lc_merge


def bloom_to_words(bm: DataFrame, m: int = BLOOM_BITS) -> list[int]:
    """Collect a bitmap to the dense m/64-long word list (the broadcast
    form for the literal membership path). Model-sized by contract —
    callers above BLOOM_LITERAL_WORDS use the join path instead. A
    bitmap built with a larger m than ``m`` has words past the end of
    the list and fails with a ValueError naming both sizes."""
    words = [0] * (int(m) // 64)
    for r in bm.collect():
        i = int(r["word_idx"])
        if not 0 <= i < len(words):
            raise ValueError(
                f"bitmap word {i} needs m >= {(i + 1) * 64} bits, but m = "
                f"{int(m)} ({len(words)} words) was passed — build and "
                "probe the bitmap with the same m"
            )
        words[i] = int(r["bits"])
    return words


def _long_array_expr(values) -> "F.Column":
    """A literal array<bigint> built by ONE parsed SQL expression
    instead of per-element ``F.lit`` calls (r18, guide §1/§7.3 driver
    work): constructing the 1024-word bitmap as
    ``F.array(*[F.lit(w).cast("long") ...])`` costs 2,000+ py4j
    round-trips per gate expression — measured ~2-4 s of pure
    driver-side plan construction on a 10-row frame, independent of
    data size. One ``array(...L, ...)`` string parses in milliseconds
    and analyzes to the identical literal array (min-long literals
    parse fine on Spark 4.1 — verified)."""
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in values) + ")")


_POW64 = None


def _pow64():
    global _POW64
    if _POW64 is None:
        # bit 63 is the sign bit: 1 << 63 as a SIGNED long is -2^63
        # (py4j cannot pass the unsigned 2^63 literal; Spark's own
        # shiftleft(1L, 63) wraps to the same value)
        _POW64 = _long_array_expr(
            [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]
        )
    return _POW64


def bloom_might_contain(col, words: list[int], k: int = BLOOM_K):
    """Boolean Column: all k bits set in the LITERAL bitmap of
    m = 64 x len(``words``) bits (:func:`bloom_to_words`) — a pure
    map-side expression, zero shuffle (the broadcast is the plan
    itself; bit masks come from a literal 64-long powers array because
    shift amounts must be columns here). NULL values yield False (a
    NULL is not a member of anything).

    Plan-size discipline: the k probes fold into ONE aggregate() AND
    over a positions array, so the m/64-word literal bitmap appears in
    the tree ONCE (inside the lambda), not once per probe — k x 1024
    literal copies at the default boundary is exactly the
    plan-analysis blowup CENTROID_LITERAL_MAX documents. An
    aggregate() fold, NOT forall(): Spark 4.1's ArrayForAll eval NPEs
    unboxing a NULL lambda result on the NULL-value probe rows
    (repro'd); the fold's null-safe accumulator sidesteps it. The
    bitmap literal is built by one parsed expression, not 1024 F.lit
    py4j calls (r18, :func:`_long_array_expr` — measured 2.1 -> 0.5 s
    fixed cost per gate, interleaved)."""
    arr = _long_array_expr(words)
    positions = F.array(*_bloom_positions(col, 64 * len(words), k))
    return F.aggregate(
        positions,
        F.lit(True),
        lambda acc, p: acc
        & F.coalesce(
            F.element_at(arr, (F.shiftright(p, 6) + 1).cast("int"))
            .bitwiseAND(F.element_at(_pow64(), (p % 64 + 1).cast("int")))
            == F.element_at(_pow64(), (p % 64 + 1).cast("int")),
            F.lit(False),
        ),
    )


def bloom_prefilter(
    d: DataFrame,
    col: str,
    bm: DataFrame,
    m: int = BLOOM_BITS,
    k: int = BLOOM_K,
    id_col: str = "doc_id",
) -> DataFrame:
    """Rows of ``d`` whose ``col`` MIGHT be in the bitmap (never drops a
    true member). Strategy by bitmap size — the centroid-path
    discipline:

    - m/64 <= BLOOM_LITERAL_WORDS: collect + the literal expression
      (:func:`bloom_might_contain`) — map-only;
    - larger: explode the k (word_idx, mask) probes per DISTINCT
      (id, value) pair, join the bitmap on word_idx (id-rows only),
      keep pairs where every probe hits — one join + one
      all-hits hash-agg, no driver materialization. Counting hits per
      (id, value) — never per id alone — keeps the filter ROW-level:
      duplicate rows and ids carrying several values each pass or fail
      on their own value (a per-id count would see 2k probes for a
      duplicated row and reject a TRUE member — the regression the
      tests pin).
    Both bit-identical (tested, incl. duplicate rows)."""
    if int(m) // 64 <= BLOOM_LITERAL_WORDS:
        return d.filter(bloom_might_contain(F.col(col), bloom_to_words(bm, m), k))
    probes = (
        d.select(id_col, col)
        .distinct()
        .select(
            id_col,
            col,
            F.explode(
                F.array(*_bloom_positions(F.col(col), m, k))
            ).alias("p"),
        )
        .select(
            id_col,
            col,
            F.shiftright(F.col("p"), 6).alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"
            ).alias("mask"),
        )
    )
    hits = (
        probes.join(bm, "word_idx", "left")
        .groupBy(id_col, col)
        .agg(
            F.min(
                F.coalesce(
                    F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"),
                    F.lit(False),
                )
            ).alias("_all_hit")
        )
        .filter(F.col("_all_hit"))
        .select(id_col, col)
    )
    return d.join(hits, [id_col, col])


def _bloom_gate(
    new_hashes: DataFrame,
    bm: DataFrame,
    m: int,
    k: int = BLOOM_K,
    words: "list[int] | None" = None,
) -> "tuple[DataFrame, DataFrame]":
    """(hashes, candidates) for a new-batch (doc_id, _h) frame: the
    frame behind one lazy localCheckpoint — proxy rows, never text,
    because the gate and the caller's flag join both read it — and its
    rows whose ``_h`` MIGHT be in the bitmap (never drops a true
    member).

    In the literal regime (m/64 <= BLOOM_LITERAL_WORDS) the gate is the
    literal expression over ``words`` (collected here when the caller
    has not), computed once per new row as the boolean column ``_g``
    inside the checkpoint; the candidates are ``filter("_g")``. Larger
    bitmaps gate through :func:`bloom_prefilter`'s join path over the
    checkpoint."""
    if int(m) // 64 <= BLOOM_LITERAL_WORDS:
        if words is None:
            words = bloom_to_words(bm, m)
        hashes = new_hashes.withColumn(
            "_g", bloom_might_contain(F.col("_h"), words, int(k))
        ).localCheckpoint(eager=False)
        return hashes, hashes.filter("_g")
    hashes = new_hashes.localCheckpoint(eager=False)
    return hashes, bloom_prefilter(hashes, "_h", bm, m=int(m), k=int(k))


def _bloom_dup_hashes(cand: DataFrame, ref_hashes_raw: DataFrame) -> DataFrame:
    """(_h): the distinct candidate hashes (from :func:`_bloom_gate`)
    present in the reference set, verified with ZERO ref-side shuffle
    (r13). The candidates (true dups + fp, small by the bitmap's sizing
    contract) BROADCAST as they are, duplicates included (a semi-join
    build side tolerates them), into a semi-join that streams the RAW
    ref hashes map-side. The one aggregate is the distinct over the
    matched ref rows, keyed by candidate hash, so its exchange is
    bounded by tasks x |candidates|, not by how often a reference text
    repeats. Callers broadcast the result back over the new hashes.

    In the literal regime the candidates are a filter on the
    checkpointed gate column ``_g``, not the gate expression itself: a
    checkpoint scan carries no predicate over ``_h`` that Catalyst's
    InferFiltersFromConstraints could copy through the ``_h`` equi-join,
    so the reference scan runs md5(text) only — no k-probe gate per
    reference row, where it would reject nothing."""
    return ref_hashes_raw.join(
        F.broadcast(cand.select("_h")), "_h", "left_semi"
    ).distinct()


BLOOM_MAX_FP = 0.5  # useless-filter guard: fp above this means resize m


def lsh_collision_probability(s: float, bands: int, rows: int) -> float:
    """P(two sets at Jaccard similarity ``s`` share at least one LSH
    band) = 1 - (1 - s^rows)^bands — the banding S-curve (Mining of
    Massive Datasets §3.4). The curve the (bands, rows) trade-off
    bends: more rows -> sharper knee (fewer false candidates), more
    bands -> knee moves left (higher recall)."""
    if not 0.0 <= float(s) <= 1.0:
        raise ValueError("s must be in [0, 1]")
    if int(bands) < 1 or int(rows) < 1:
        raise ValueError("bands and rows must be >= 1")
    return 1.0 - (1.0 - float(s) ** int(rows)) ** int(bands)


def lsh_params_for(
    threshold: float,
    n_hashes: int,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """(bands, rows): the banding split of ``n_hashes`` minhashes that
    best separates pairs around the Jaccard ``threshold`` — the sizing
    rule as code (the bloom_bits_for discipline; same integral-
    minimization the datasketch library published). Over every exact
    factorization b*r = n_hashes, minimize
    fn_weight * (area of the miss region above the threshold)
    + (1-fn_weight) * (area of the false-candidate region below it),
    both by closed-quadrature sums of the S-curve. Higher ``fn_weight``
    punishes misses (recall-leaning dedup); lower punishes false
    candidates (verification-cost-leaning). Deterministic: ties break
    to the smaller band count (fewer shuffle rows)."""
    if not 0.0 < float(threshold) < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if int(n_hashes) < 1:
        raise ValueError("n_hashes must be >= 1")
    if not 0.0 <= float(fn_weight) <= 1.0:
        raise ValueError("fn_weight must be in [0, 1]")
    t = float(threshold)
    steps = 200
    best: "tuple[float, int, int] | None" = None
    for b in range(1, int(n_hashes) + 1):
        if int(n_hashes) % b:
            continue
        r = int(n_hashes) // b
        fp_area = sum(
            lsh_collision_probability(t * (i + 0.5) / steps, b, r)
            for i in range(steps)
        ) * (t / steps)
        fn_area = sum(
            1.0
            - lsh_collision_probability(
                t + (1.0 - t) * (i + 0.5) / steps, b, r
            )
            for i in range(steps)
        ) * ((1.0 - t) / steps)
        err = float(fn_weight) * fn_area + (1.0 - float(fn_weight)) * fp_area
        if best is None or err < best[0] - 1e-15:
            best = (err, b, r)
    assert best is not None
    return best[1], best[2]


def bloom_bits_for(n_values: int, fp: float = 0.01, k: int = BLOOM_K) -> int:
    """The bitmap size m (rounded up to a multiple of 64) that holds
    ``n_values`` insertions at the target false-positive rate under k
    hash functions — the sizing rule as code: fp = (1 - e^(-k n/m))^k
    solved for m. The standard figures fall out: 1% fp at k=4 needs
    ~10.5 bits/value, 14% (the bench's deliberate budget) ~4.2."""
    import math

    if n_values < 0:
        raise ValueError("n_values must be >= 0")
    if not 0 < float(fp) < 1:
        raise ValueError("fp must be in (0, 1)")
    if not 1 <= int(k) <= 7:
        raise ValueError("k must be in [1, 7]")
    if n_values == 0:
        return 64
    # m = -k n / ln(1 - fp^(1/k))
    m = -int(k) * int(n_values) / math.log(1.0 - float(fp) ** (1.0 / int(k)))
    return max(64, int(math.ceil(m / 64.0)) * 64)


def bloom_fp_estimate(bm: DataFrame, m: int, k: int = BLOOM_K) -> float:
    """The bitmap's expected false-positive rate, fill_ratio**k — one
    sketch-sized popcount aggregate (<= m/64 rows), no data work. The
    operational health check for a deployed bitmap: fp ~ 1.0 means the
    prefilter passes everything (harmless for correctness — no false
    negatives either way — but pure overhead) and ``m`` must grow."""
    row = bm.agg(
        F.coalesce(F.sum(F.bit_count(F.col("bits"))), F.lit(0)).alias("s")
    ).collect()[0]
    return (int(row["s"]) / int(m)) ** int(k)


def _words_fp(words: list[int], m: int, k: int) -> float:
    """:func:`bloom_fp_estimate` over an already-collected word list —
    the same popcount (two's-complement words, so bit 63 counts) and
    the same float expression."""
    s = sum((w & 0xFFFFFFFFFFFFFFFF).bit_count() for w in words)
    return (s / int(m)) ** int(k)


def exact_dedup_against_bloom(
    new_d: DataFrame,
    ref_d: DataFrame,
    bm: DataFrame,
    m: int = BLOOM_BITS,
    k: int = BLOOM_K,
    max_fp: float = BLOOM_MAX_FP,
) -> DataFrame:
    """Exact-dup flags for a fresh crawl against a PREBUILT reference
    bitmap — the recurring per-batch shape Bloom is FOR: build the
    bitmap once per reference generation (:func:`bloom_build`), then
    every incoming batch pays only its own map-side gate plus
    candidate-sized broadcasts; the reference is re-SCANNED (map-side,
    no shuffle) only to verify candidates. Returns (doc_id, exact_dup
    boolean), one row per distinct new doc_id (a doc_id carrying several
    texts is a dup if any of them is). Each batch beats the plain
    semi-join, but the bitmap build is repaid only after 2-3 batches —
    see the crossover rule on :func:`dedup_against_frames`.

    A SATURATED bitmap fails loudly (r13, the lc-saturation
    discipline): above ``max_fp`` expected false positives the gate
    passes ~everything and the 'candidates are small' contract behind
    the broadcasts is gone — ``max_fp=1.0`` opts out for deliberately
    degraded use. ``max_fp`` is a useless-filter backstop, NOT the
    sizing rule: the candidate broadcast is ~(true dups + fp x batch
    rows), so size m for fp x batch << the executor broadcast budget —
    at a 1B-doc batch even fp = 0.1 broadcasts 100M rows; ~10 bits/ref
    value gives ~1% fp at k=4 and is the production default.

    Plan shape, per call: in the literal regime (m/64 <=
    BLOOM_LITERAL_WORDS) the bitmap is collected ONCE and those words
    feed both the saturation check and the gate; larger bitmaps keep
    the popcount aggregate and the join-path gate. The batch hash frame
    (doc_id, md5) sits behind one lazy localCheckpoint with the literal
    gate evaluated inside it, once per new row (:func:`_bloom_gate`);
    the reference scan computes md5(text) and nothing else.
    :func:`_bloom_dup_hashes` yields the verified dup hashes; the flags
    are then one step: the new hashes left-join that broadcast set and
    one hash aggregate takes max(hit) per doc_id. No ref-side shuffle
    anywhere."""
    literal = int(m) // 64 <= BLOOM_LITERAL_WORDS
    words = bloom_to_words(bm, m) if literal else None
    fp = _words_fp(words, m, k) if literal else bloom_fp_estimate(bm, m, k)
    if fp > float(max_fp):
        raise ValueError(
            f"reference bitmap is saturated: expected fp rate {fp:.3f} > "
            f"max_fp {max_fp} — the prefilter would pass ~everything and "
            "the candidate broadcasts would be batch-sized. Grow m "
            "(~10 bits/ref value for ~1% fp at k=4) or pass max_fp=1.0 "
            "to run degraded deliberately"
        )
    new_hashes, cand = _bloom_gate(
        new_d.select("doc_id", F.md5("text").alias("_h")), bm, m, k, words
    )
    dup = _bloom_dup_hashes(cand, ref_d.select(F.md5("text").alias("_h")))
    return (
        new_hashes.join(
            F.broadcast(dup.withColumn("_hit", F.lit(True))), "_h", "left"
        )
        .groupBy("doc_id")
        .agg(F.max(F.coalesce(F.col("_hit"), F.lit(False))).alias("exact_dup"))
    )


def dedup_against_frames(
    new_d: DataFrame,
    ref_d: DataFrame,
    max_bucket: int = LSH_MAX_BUCKET,
    bloom_bm: "DataFrame | None" = None,
    m: int = BLOOM_BITS,
) -> DataFrame:
    """Frame-level core of :func:`dedup_against` — new/reference as any
    (doc_id, text, ...) DataFrames (r6: lets the driver row split one
    corpus into ref/new deterministically, and lets callers dedup
    against a warehouse scan instead of a directory).

    ``bloom_bm`` is a PREBUILT m-bit Bloom bitmap of the reference
    text-hash set (:func:`bloom_build` over md5(text)); with it the
    exact leg is :func:`exact_dedup_against_bloom` — its gate,
    saturation check and zero-ref-shuffle semi-join — and the RESULT
    stays bit-identical to the plain hash join (no false negatives by
    construction — tested). Size m for the target fp rate: ~1.2
    bytes/ref-doc at k=4 gives ~2% fp.

    CROSSOVER RULE (measured, not asserted): the bitmap pays only when
    the SAME reference serves several batches. Building it is a full
    reference pass that exchanges ~k probe rows per ref doc; one-shot,
    that is pure overhead (sf0.1: ON 7.1 s vs OFF 5.1-5.6 s, bench
    pair pipe_bloom_dedup). Amortized, each batch's exact stage beats
    the plain semi-join and the one build is repaid in 2-3 batches.
    Measured at the pipe_bloom_amortized shape (sf0.1, local[4], ~4M
    ref hashes, m=2^24 — the join regime — k=2, 5k-doc batches), two
    interleaved rounds: build 10.9 s / 6.8 s (5 jobs); per batch ON
    2.8-4.9 s (13 jobs) vs OFF 6.7-10.4 s (6 jobs), ON faster in 6/6
    pairs, saving ~4 s per batch. So build once when the reference
    serves >= 3 batches, and use the plain hash join below that. For
    unbounded streams use streaming.dedup_against_reference_bloom —
    the same amortization, per micro-batch."""
    if bloom_bm is None:
        exact = (
            new_d.select("doc_id", F.md5("text").alias("_h"))
            .join(ref_d.select(F.md5("text").alias("_h")).distinct(), "_h")
            .select("doc_id", F.lit(True).alias("_exact"))
            .distinct()
        )
    else:
        exact = (
            exact_dedup_against_bloom(new_d, ref_d, bloom_bm, m=m)
            .filter("exact_dup")
            .select("doc_id", F.lit(True).alias("_exact"))
        )

    # near: new band rows join ref band rows on the bucket
    def sig_of(d: DataFrame) -> DataFrame:
        dw = _tokenized(d, tokens(F.col("text")))
        sh = shingles(F.col("_w"), SHINGLE_K)
        base = dw.select(
            "doc_id", sh.alias("sh"), _base_hashes(sh).alias("_bh")
        ).localCheckpoint(eager=False)
        return base.select(
            "doc_id", "sh", *_minhash_cols_from_base(F.col("_bh"))
        )

    new_sig, ref_sig = sig_of(new_d), sig_of(ref_d)
    ref_bands = _band_rows(ref_sig)
    from pyspark.sql.window import Window

    wb = Window.partitionBy("band", "key")
    ref_bands = (
        ref_bands.withColumn("_bc", F.count(F.lit(1)).over(wb))
        .filter(F.col("_bc") <= int(max_bucket))
        .drop("_bc")
    )
    cand = (
        _band_rows(new_sig).alias("a")
        .join(
            ref_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("ref_doc_id"),
        )
        .dropDuplicates(["doc_id", "ref_doc_id"])
    )
    verified = (
        cand.join(
            new_sig.select(
                F.col("doc_id").alias("_nid"), F.col("sh").alias("_nsh")
            ),
            F.col("doc_id") == F.col("_nid"),
        )
        .join(
            ref_sig.select(
                F.col("doc_id").alias("_rid"), F.col("sh").alias("_rsh")
            ),
            F.col("ref_doc_id") == F.col("_rid"),
        )
        .withColumn(
            "jaccard", F.round(_jaccard(F.col("_nsh"), F.col("_rsh")), 6)
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_id", "ref_doc_id", "jaccard")
    )
    # best reference match per new doc (max jaccard, tie -> min ref id)
    best = (
        verified.groupBy("doc_id")
        .agg(
            F.max(
                F.struct(
                    F.col("jaccard"), (-F.col("ref_doc_id")).alias("neg")
                )
            ).alias("b")
        )
        .select(
            "doc_id",
            (-F.col("b.neg")).alias("ref_doc_id"),
            F.col("b.jaccard").alias("jaccard"),
        )
    )
    verdict = (
        F.when(F.col("_exact").isNotNull(), F.lit("exact_dup"))
        .when(F.col("ref_doc_id").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("new"))
    )
    return (
        new_d.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            verdict.alias("verdict"),
            F.when(verdict == "near_dup", F.col("ref_doc_id")).alias("ref_doc_id"),
            F.when(verdict == "near_dup", F.col("jaccard")).alias("jaccard"),
        )
    )


def dedup_against_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row x25: incremental dedup over a deterministic split of
    the documents table — docs with doc_id % 3 == 0 are the REFERENCE
    corpus, the rest are the NEW crawl, flagged by
    :func:`dedup_against_frames`. Nullable outputs are folded to
    sentinels (ref_doc_id -1, jaccard 0.0) because the driver's
    value-hash compare renders SQL NULL doubles as NaN.

    Two ``kind`` slices since r11: ``direct`` = the plain hash join,
    ``bloom`` = the same semantics through the Bloom-bitmap exact-path
    prefilter, with the BLOOM_BITS bitmap of the reference hashes built
    by :func:`bloom_build` and passed in — one oracle states both (the
    bitmap never drops a true member, so the verdicts must be
    identical; a false-negative bug in the bloom breaks the hash)."""
    d = read_documents(spark, sf_dir, "doc_id", "text")
    ref_d = d.filter(F.col("doc_id") % 3 == 0)

    def run(bloom_bm):
        out = dedup_against_frames(
            new_d=d.filter(F.col("doc_id") % 3 != 0),
            ref_d=ref_d,
            bloom_bm=bloom_bm,
        )
        return out.select(
            "doc_id",
            "verdict",
            F.coalesce(F.col("ref_doc_id"), F.lit(-1))
            .cast("long")
            .alias("ref_doc_id"),
            F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
        )

    bm = bloom_build(ref_d.select(F.md5("text").alias("_h")), "_h")
    return (
        run(None)
        .withColumn("kind", F.lit("direct"))
        .unionByName(run(bm).withColumn("kind", F.lit("bloom")))
    )


def dedup_against_docs_sql() -> str:
    """DuckDB twin of :func:`dedup_against_docs`: the same exact-hash
    semi-join, LSH band join (new bands vs ref bands), exact-Jaccard
    verification and best-match election, over the same doc_id%3
    split. No hot-bucket cap here — at driver scale no band bucket
    approaches LSH_MAX_BUCKET, so the capped and uncapped answers are
    identical (the cap is exercised by unit tests)."""
    sh = shingles_sql(tokens_sql("text"), SHINGLE_K)
    sig_cols = ", ".join(_minhash_cols_sql())
    band_structs = ", ".join(
        "{'band': %d, 'key': concat_ws('_', %s)}"
        % (b, ", ".join(f"h{b * LSH_ROWS + r}" for r in range(LSH_ROWS)))
        for b in range(LSH_BANDS)
    )
    inter = "len(list_filter(a.sh, x -> list_contains(b.sh, x)))"
    return (
        "WITH newd AS (SELECT * FROM documents WHERE doc_id % 3 <> 0), "
        "refd AS (SELECT * FROM documents WHERE doc_id % 3 = 0), "
        "exact AS (SELECT DISTINCT n.doc_id FROM newd n "
        "JOIN (SELECT DISTINCT md5(text) AS h FROM refd) r "
        "ON md5(n.text) = r.h), "
        f"nsig AS (SELECT doc_id, {sh} AS sh, {sig_cols} FROM newd), "
        f"rsig AS (SELECT doc_id, {sh} AS sh, {sig_cols} FROM refd), "
        f"nbands AS (SELECT doc_id, unnest([{band_structs}], "
        "recursive := true) FROM nsig), "
        f"rbands AS (SELECT doc_id, unnest([{band_structs}], "
        "recursive := true) FROM rsig), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_id, "
        "b.doc_id AS ref_doc_id FROM nbands a JOIN rbands b "
        "ON a.band = b.band AND a.key = b.key), "
        "verified AS (SELECT * FROM (SELECT c.doc_id, c.ref_doc_id, "
        f"ROUND({inter}::DOUBLE / (len(a.sh) + len(b.sh) - {inter}), 6) "
        "AS jaccard FROM cand c JOIN nsig a ON c.doc_id = a.doc_id "
        "JOIN rsig b ON c.ref_doc_id = b.doc_id) "
        f"WHERE jaccard >= {JACCARD_THRESHOLD}), "
        "best AS (SELECT doc_id, ref_doc_id, jaccard FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id "
        "ORDER BY jaccard DESC, ref_doc_id ASC) AS rn FROM verified) "
        "WHERE rn = 1) "
        "SELECT n.doc_id, "
        "CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup' "
        "WHEN b.ref_doc_id IS NOT NULL THEN 'near_dup' "
        "ELSE 'new' END AS verdict, "
        "CAST(CASE WHEN e.doc_id IS NULL AND b.ref_doc_id IS NOT NULL "
        "THEN b.ref_doc_id ELSE -1 END AS BIGINT) AS ref_doc_id, "
        "CASE WHEN e.doc_id IS NULL AND b.ref_doc_id IS NOT NULL "
        "THEN b.jaccard ELSE 0.0 END AS jaccard "
        "FROM newd n LEFT JOIN exact e ON n.doc_id = e.doc_id "
        "LEFT JOIN best b ON n.doc_id = b.doc_id"
    )


# ------------------------------------------------- paragraph-level dedup
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph deduplication (Wenzek et al. 2020): across
    the whole corpus, every duplicated paragraph keeps only its FIRST
    occurrence (lowest (doc_id, position)); later copies are removed
    and each document's text is reassembled from its surviving
    paragraphs. Paragraph identity is the trimmed line (split on \\n);
    whitespace-only lines are structure, not content, and are never
    deduplicated. Returns per doc: total paragraph count, removed
    count, and the md5 of the reassembled text (proving the exact
    surviving string, not just counts).

    100 TB shape: document text NEVER crosses a shuffle — the winner
    election groups (hash, doc_id, idx) id-tuples, the removal lists
    are int arrays joined back by doc_id, and reassembly is a JVM
    ``filter``-with-index over the document's own split array. The
    same shape as dup_span_clean, at paragraph instead of k-gram
    granularity.
    """
    d = read_documents(spark, sf_dir, "doc_id", "text")
    dw = _tokenized(d, F.split(F.col("text"), "\n"))
    # (doc_id, idx, h) id-rows for non-empty paragraphs only
    pos = (
        dw.select(
            "doc_id",
            F.posexplode(F.col("_w")).alias("idx", "para"),
        )
        .filter(F.trim("para") != "")
        .select("doc_id", "idx", hash64(F.trim(F.col("para"))).alias("h"))
        .localCheckpoint(eager=False)
    )
    first = pos.groupBy("h").agg(
        F.min(F.struct("doc_id", "idx")).alias("first")
    )
    removed = (
        pos.join(first, "h")
        .filter(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("idx") != F.col("first.idx"))
        )
        .groupBy("doc_id")
        .agg(F.collect_list("idx").alias("rm"))
    )
    kept = _kept_by_index(F.col("_w"), F.col("rm"))
    return (
        dw.join(removed, "doc_id", "left")
        .withColumn("rm", F.coalesce("rm", F.array().cast("array<int>")))
        .withColumn("_kept", kept)
        .select(
            "doc_id",
            F.size("_w").cast("long").alias("n_paras"),
            F.size("rm").cast("long").alias("removed_paras"),
            F.md5(F.array_join("_kept", "\n")).alias("clean_hash"),
        )
    )


def paragraph_dedup_sql() -> str:
    h = hash64_sql("trim(ps[i])")
    return (
        "WITH d AS (SELECT doc_id, string_split(text, chr(10)) AS ps "
        "FROM documents), "
        f"pos AS (SELECT doc_id, i - 1 AS idx, {h} AS h "
        "FROM d, unnest(generate_series(1, len(ps))) AS u(i) "
        "WHERE trim(ps[i]) <> ''), "
        "rn AS (SELECT doc_id, idx, row_number() OVER "
        "(PARTITION BY h ORDER BY doc_id, idx) AS r FROM pos), "
        "rml AS (SELECT doc_id, list(idx) AS rm FROM rn WHERE r > 1 "
        "GROUP BY doc_id) "
        "SELECT d.doc_id, CAST(len(d.ps) AS BIGINT) AS n_paras, "
        "CAST(COALESCE(len(rml.rm), 0) AS BIGINT) AS removed_paras, "
        "md5(array_to_string(list_filter(d.ps, "
        "(p, i) -> rml.rm IS NULL OR NOT list_contains(rml.rm, i - 1)), "
        "chr(10))) AS clean_hash "
        "FROM d LEFT JOIN rml ON d.doc_id = rml.doc_id"
    )


def within_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-line removal — the Gopher/C4-family
    cleanup step next to the cross-corpus :func:`paragraph_dedup`:
    inside each document, a (trimmed) line keeps only its first
    occurrence; later copies are dropped (menus, cookie banners and
    boilerplate headers repeat within pages long before they repeat
    across them). Whitespace-only lines are structure, never deduped —
    the paragraph_dedup convention. Returns (doc_id, n_lines,
    removed_lines, clean_hash) with clean_hash = md5 of the
    reassembled text (the exact surviving string, not just counts).

    100 TB shape: the best possible — a PURE map-side expression (one
    first-occurrence array_position test per line, JVM-only), no
    shuffle, no aggregate, no UDF, nothing leaves the scan stage
    (plan-tested). Per-doc cost is O(lines^2) string compares in the
    worst case, bounded by document size, not corpus size."""
    d = fan_out(read_documents(spark, sf_dir, "doc_id", "text"))
    return d.select(
        "doc_id",
        F.split(F.col("text"), "\n").alias("ps"),
    ).select(
        "doc_id",
        F.transform(F.col("ps"), lambda p: F.trim(p)).alias("pst"),
        F.col("ps"),
    ).select(
        "doc_id",
        F.size("ps").cast("long").alias("n_lines"),
        (
            F.size("ps")
            - F.size(
                F.expr(
                    "filter(ps, (p, i) -> trim(p) = '' "
                    "OR array_position(pst, trim(p)) = i + 1)"
                )
            )
        )
        .cast("long")
        .alias("removed_lines"),
        F.md5(
            F.array_join(
                F.expr(
                    "filter(ps, (p, i) -> trim(p) = '' "
                    "OR array_position(pst, trim(p)) = i + 1)"
                ),
                "\n",
            )
        ).alias("clean_hash"),
    )


def within_doc_line_dedup_sql() -> str:
    """DuckDB twin: 1-based lambda index and list_position mirror
    Spark's 0-based filter index + 1-based array_position exactly."""
    keep = (
        "list_filter(ps, (p, i) -> trim(p) = '' "
        "OR list_position(pst, trim(p)) = i)"
    )
    return (
        "WITH d AS (SELECT doc_id, string_split(text, chr(10)) AS ps "
        "FROM documents), "
        "t AS (SELECT doc_id, ps, list_transform(ps, p -> trim(p)) AS pst "
        "FROM d) "
        "SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_lines, "
        f"CAST(len(ps) - len({keep}) AS BIGINT) AS removed_lines, "
        f"md5(array_to_string({keep}, chr(10))) AS clean_hash FROM t"
    )
