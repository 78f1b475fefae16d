"""Deterministic dataset splitting / sampling for training-data curation.

Split assignment must be (a) stable across runs, cluster sizes, and task
retries — a document's split NEVER depends on partitioning — and (b)
uniform. Both engines derive a bucket in [0, 100) from the md5 of the
document id (not the text: re-crawled/cleaned text must not migrate a doc
between train and eval), then threshold: bucket < 80 -> train, < 90 ->
val, else test. No rand(), no sampleBy: seeded rand() is
partition-dependent in Spark and irreproducible in SQL, while the hash
formulation is a pure per-row expression — map-only, zero shuffle,
codegen-friendly, and the DuckDB oracle computes the identical bytes.

The same bucket column is the idiomatic deterministic sampler:
``bucket < pct`` is a stable pct% sample (used by sample_sql below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from talna_spark.pipeline.scan import fan_out, read_documents

TRAIN_PCT = 80
VAL_PCT = 10  # test = remainder


def _bucket(col: F.Column) -> F.Column:
    # first 8 md5 hex chars -> int -> mod 100: uniform, engine-portable
    # (same construction as the multimodal fake-embedding oracle)
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 100


def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bucket, split) for every document — the reproducible
    train/val/test partition of the corpus."""
    d = read_documents(spark, sf_dir, "doc_id")
    b = _bucket(F.col("doc_id"))
    split = (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return d.select("doc_id", b.alias("bucket"), split.alias("split"))


def split_assign_sql() -> str:
    b = (
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) "
        "% 100"
    )
    return (
        f"SELECT doc_id, {b} AS bucket, "
        f"CASE WHEN {b} < {TRAIN_PCT} THEN 'train' "
        f"WHEN {b} < {TRAIN_PCT + VAL_PCT} THEN 'val' "
        f"ELSE 'test' END AS split FROM documents"
    )


def deterministic_sample(
    df: DataFrame, id_col: str, pct: int
) -> DataFrame:
    """Stable ``pct``% sample of any DataFrame by id hash — survives
    retries, repartitioning, and cluster-size changes (unlike
    ``df.sample``, whose seeded rand() is partition-dependent)."""
    if not 0 < int(pct) <= 100:
        raise ValueError("pct must be in (0, 100]")
    return df.filter(_bucket(F.col(id_col)) < int(pct))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    pcts: dict,
    default_pct: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-rebalancing step
    (e.g. downsample boilerplate-heavy sources, keep 100% of rare
    languages). ``pcts`` maps stratum value -> keep percentage; strata
    not listed keep ``default_pct``%. Same id-hash bucket as
    :func:`deterministic_sample`: a pure per-row expression, zero
    shuffle, stable across runs/retries — unlike ``sampleBy``, whose
    seeded rand() is partition-dependent."""
    for v in list(pcts.values()) + [default_pct]:
        if not 0 <= int(v) <= 100:
            raise ValueError("percentages must be in [0, 100]")
    thresh = F.lit(int(default_pct))
    for value, pct in sorted(pcts.items()):
        thresh = F.when(
            F.col(stratum_col) == F.lit(value), F.lit(int(pct))
        ).otherwise(thresh)
    return df.filter(_bucket(F.col(id_col)) < thresh)


# ------------------------------------------------- domain mixture sampling
MIX_BUDGET_FRACTION = 0.5  # token budget = 50% of corpus tokens
MIX_RESOLUTION = 1_000_000  # rate quantized to 1e-6 for the hash threshold


def _mix_weight(source_col: F.Column) -> F.Column:
    """Demo mixture weights derived deterministically from the source
    name ('srcN' -> 1 + N % 3), so src1/src4/... get 2x and src2/src5/...
    get 3x the weight of src0/src3/... — a stand-in for the per-domain
    weights a DoReMi-style tuning run would hand the sampler; swap this
    one expression to plug in real per-domain weights."""
    num = F.regexp_extract(source_col, "([0-9]+)", 1).cast("long")
    return (F.lit(1) + num % 3).cast("long")


def mix_token_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared tokenized (doc_id, source, n_tokens) projection for the
    mixture-sampler family (r17 optimization round, guide §2.3: compute
    the expensive map work once, not once per consumer), behind one
    LAZY ``localCheckpoint``. Five samplers build this same frame
    internally (:func:`mixture_sample`, :func:`alpha_mixture_sample`,
    :func:`mixture_upsample`, :func:`doremi_mixture_sample`,
    :func:`token_budget_sample`); passing one base to all of them —
    the x23 registration does — materializes the corpus tokenize pass
    ONCE instead of once per sampler. 100 TB shape: the checkpoint
    holds (id, source, int64) rows only, never raw text."""
    from talna_spark.pipeline.portable import tokens

    d = fan_out(read_documents(spark, sf_dir, "doc_id", "source", "text"))
    return d.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=False)


def _mix_scaffold(
    spark: SparkSession,
    sf_dir: str,
    weight_col: F.Column | None = None,
    weights_df: DataFrame | None = None,
    base: DataFrame | None = None,
) -> tuple:
    """Shared front half of the mixture family (sample + upsample +
    alpha + doremi + tbudget): the tokenized (doc_id, source, n_tokens)
    projection behind one lazy localCheckpoint, and the per-source frame
    with weights and corpus/weight totals. Factored so the samplers
    cannot drift (review r6) — only the rate/weight expressions differ.
    ``weight_col`` is evaluated over the per-source frame (columns
    ``source``, ``t_s``) and defaults to the demo source-name weights;
    ``weights_df`` instead broadcast-joins an explicit (source, w_s)
    frame (the learned-table path — :func:`doremi_mixture_sample`).
    Either way ``w_s`` MUST be integer-valued so ``w_all`` is an exact
    any-order sum (the micro-unit discipline). ``base`` (r17) is a
    :func:`mix_token_base` frame shared across samplers — the same
    derivation, materialized once for all of them; None (the default)
    keeps every standalone plan byte-identical.

    The checkpoint: the projection feeds BOTH the per-domain totals and
    the final join; without a cut Catalyst re-evaluates the tokenize map
    once per consumer (3 corpus passes). Measured 10 s -> ~3 s at sf0.1.
    Totals ride unbounded windows over the #domains-row frame (not a
    crossJoin of a broadcast sub-aggregate, which would execute the
    upstream a second time). The TALNA_MIN_SCAN_TASKS fan-out spreads a
    single-row-group source; a no-op on real multi-file corpora."""
    d = base if base is not None else mix_token_base(spark, sf_dir)
    per_src = d.groupBy("source").agg(F.sum("n_tokens").alias("t_s"))
    if weights_df is not None:
        per_src = per_src.join(F.broadcast(weights_df), "source")
    else:
        if weight_col is None:
            weight_col = _mix_weight(F.col("source"))
        per_src = per_src.withColumn("w_s", weight_col)
    wall = Window.partitionBy(F.lit(1))
    per_src = per_src.withColumn("t_all", F.sum("t_s").over(wall)).withColumn(
        "w_all", F.sum("w_s").over(wall)
    )
    return d, per_src


def mixture_sample(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """Domain-mixture sampling to a token budget: given per-domain
    weights w_s and a total budget B (here MIX_BUDGET_FRACTION of corpus
    tokens), each domain's target is B * w_s / sum(w), its keep-rate is
    min(1, target / tokens_s), and documents are kept by a deterministic
    id-hash threshold at that rate — the mixture-rebalancing step every
    LLM data pipeline runs before training (cf. the fixed mixture tables
    of GPT-3/Pile/LLaMA corpora).

    Determinism: the keep decision hashes 'mix|doc_id', independent of
    partitioning and of the split/sample hash streams (different prefix
    -> independent bucket). The rate enters as an integer threshold in
    [0, 1e6] (floor of rate * 1e6), so both engines compare the same
    integers — no float comparison at the cut.

    100 TB shape: per-domain token totals are one tiny aggregate (rows =
    #domains); the rates broadcast-join back onto the corpus scan, and
    the keep test is a map-side integer compare — zero corpus shuffle.
    Oversampling (weights demanding more tokens than a domain has) caps
    at rate 1.0 — visible in the output as keep_ppm = 1000000 — rather
    than failing; upsampling/repetition is a training-loader concern.
    """
    d, per_src = _mix_scaffold(spark, sf_dir, base=base)
    return _budget_mixture(d, per_src)


def _budget_mixture(d: DataFrame, per_src: DataFrame) -> DataFrame:
    """Shared back half of the budgeted samplers (mixture + alpha):
    per-source keep-rates from whatever ``w_s`` the scaffold installed,
    then the deterministic 'mix|' id-hash keep. Sharing the hash stream
    across weight schemes makes the samplers NESTED (a doc kept at a
    lower rate is kept at every higher one), so switching mixture tables
    reuses, not resamples, the corpus."""
    from talna_spark.pipeline.portable import hash64

    budget = F.floor(F.col("t_all") * F.lit(MIX_BUDGET_FRACTION)).cast("long")
    # rate = min(1, (B * w_s / w_all) / t_s); evaluation order fixed so
    # both engines fold the same IEEE doubles.
    rate = F.least(
        F.lit(1.0),
        budget.cast("double") * F.col("w_s") / F.col("w_all") / F.col("t_s"),
    )
    rates = per_src.select(
        "source",
        "t_s",
        "w_s",
        F.floor(rate * MIX_RESOLUTION).cast("long").alias("keep_ppm"),
    )
    keep = hash64(F.concat(F.lit("mix|"), F.col("doc_id").cast("string")))
    return (
        d.join(F.broadcast(rates), "source")
        .filter(keep % MIX_RESOLUTION < F.col("keep_ppm"))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "keep_ppm",
            F.round(F.col("keep_ppm") / F.lit(1_000_000.0), 6).alias("rate"),
        )
    )


def alpha_weight_col(alpha: float = 0.5) -> F.Column:
    """Temperature weight w_s = floor(t_s^alpha * 1e6) as an exact
    int64 — the exponent-smoothed sampling weight of multilingual
    pipelines (XLM, Lample & Conneau 2019, alpha = 0.5; mC4/mT5, Xue et
    al. 2021, alpha = 0.3): raising corpus shares to alpha < 1 flattens
    the head so low-resource domains keep proportionally more tokens.

    alpha = 0.5 (the default and the driver-checked configuration) is
    computed with sqrt, which IEEE-754 requires to be CORRECTLY ROUNDED
    — bit-identical across Spark's JVM and DuckDB's libm. Other alphas
    go through pow, whose last-ulp rounding is libm-specific; fine for
    production use, but a cross-engine hash gate should stick to 0.5."""
    a = float(alpha)
    if not 0.0 < a <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    t = F.col("t_s").cast("double")
    root = F.sqrt(t) if a == 0.5 else F.pow(t, F.lit(a))
    return F.floor(root * MIX_RESOLUTION).cast("long")


def alpha_mixture_sample(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = 0.5,
    base: DataFrame | None = None,
) -> DataFrame:
    """Self-weighted (temperature) mixture sampling: identical budget /
    rate / keep machinery as :func:`mixture_sample`, but the per-domain
    weights come from the corpus itself — w_s proportional to t_s^alpha
    (:func:`alpha_weight_col`) — instead of a hand-tuned table. This is
    the step multilingual pipelines run when no DoReMi-style weights
    exist yet: alpha = 1 reproduces the natural distribution, alpha -> 0
    approaches uniform-per-domain.

    100 TB shape: unchanged from mixture_sample — the weight is one
    extra expression over the #domains-row aggregate; zero additional
    corpus work, zero corpus shuffle."""
    d, per_src = _mix_scaffold(
        spark, sf_dir, alpha_weight_col(alpha), base=base
    )
    return _budget_mixture(d, per_src)


_MIX_DEMO_WEIGHT_SQL = (
    "(1 + CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 3)"
)


def _budget_mixture_sql(weight_sql: str) -> str:
    """DuckDB twin of :func:`_budget_mixture`; ``weight_sql`` may
    reference ``source`` and ``t_s`` (the per-source aggregate columns)
    and must be integer-valued, mirroring the Spark contract."""
    from talna_spark.pipeline.portable import hash64_sql, tokens_sql

    w = tokens_sql("text")
    keep = hash64_sql("'mix|' || CAST(doc_id AS VARCHAR)")
    return (
        f"WITH d AS MATERIALIZED (SELECT doc_id, source, "
        f"CAST(len({w}) AS BIGINT) AS n_tokens FROM documents), "
        "per_src0 AS (SELECT source, SUM(n_tokens) AS t_s "
        "FROM d GROUP BY source), "
        f"per_src AS (SELECT source, t_s, {weight_sql} AS w_s "
        "FROM per_src0), "
        "tot AS (SELECT SUM(t_s) AS t_all, SUM(w_s) AS w_all FROM per_src), "
        "rates AS (SELECT source, t_s, w_s, "
        f"CAST(FLOOR(LEAST(1.0, CAST(FLOOR(t_all * {MIX_BUDGET_FRACTION}) "
        "AS BIGINT) * 1.0 * w_s / w_all / t_s) "
        f"* {MIX_RESOLUTION}) AS BIGINT) AS keep_ppm "
        "FROM per_src CROSS JOIN tot) "
        "SELECT d.doc_id, d.source, d.n_tokens, r.keep_ppm, "
        "ROUND(r.keep_ppm / 1000000.0, 6) AS rate "
        "FROM d JOIN rates r ON d.source = r.source "
        f"WHERE {keep} % {MIX_RESOLUTION} < r.keep_ppm"
    )


def mixture_sample_sql() -> str:
    return _budget_mixture_sql(_MIX_DEMO_WEIGHT_SQL)


def alpha_mixture_sample_sql() -> str:
    # alpha = 0.5 only: sqrt is correctly rounded in both engines (see
    # alpha_weight_col); CAST keeps the t_s -> double step explicit so
    # the Spark side's cast("double") is mirrored exactly.
    return _budget_mixture_sql(
        f"CAST(FLOOR(SQRT(CAST(t_s AS DOUBLE)) * {MIX_RESOLUTION}) AS BIGINT)"
    )


# ----------------------------- DoReMi-lite learned mixture weights (r10)
DOREMI_TEMP = 1.0  # temperature on the per-domain mean excess loss


def doremi_weights(
    spark: SparkSession, sf_dir: str, temperature: float = DOREMI_TEMP
) -> DataFrame:
    """(source, excess_micro, n_docs, w_s): per-domain mixture weights
    LEARNED from the corpus — the DoReMi idea (Xie et al. 2023,
    "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining") reduced to its one-shot excess-loss core: domains
    where a weak proxy model loses the most versus a stronger reference
    model have the most learnable signal and gain weight,
    w_s = floor(exp(mean_excess_nats / T) * 1e6). The proxy/reference
    pair here is the engine's own LM ladder — unigram
    :func:`~talna_spark.pipeline.text.lm_score` (proxy) vs interpolated
    bigram :func:`~talna_spark.pipeline.text.lm_score_bigram`
    (reference) — so the table needs no external model. (Full DoReMi
    iterates proxy training under the reweighted mixture; this is the
    single exponentiated-gradient step that produces a tuned table from
    fixed losses.)

    Float discipline: each document's excess is quantized to integer
    micro-nats (round((xent - xent2) * 1e6)) BEFORE the per-domain sum,
    so the aggregate is an exact int64 sum in any order; the mean is a
    single int64/int64 division and the only libm call is one exp() per
    domain. exp is within-1-ulp (not correctly-rounded) in both
    engines, so — like the pow() note on :func:`alpha_weight_col` — a
    cross-engine hash gate relies on the floor(x * 1e6) boundary not
    landing within ~1e-8 of the exp ulp, which holds on the shipped
    testdata at every SF (verified) and is overwhelmingly likely on any
    real corpus; production use is unaffected.

    100 TB shape: the LM scorers are the existing token-keyed hash
    aggregates (their own plans — see lm_score's 100 TB note); on top
    of them this adds one (doc_id)-keyed join of two doc-sized score
    frames and ONE #domains-row aggregate. The result is model-sized —
    it broadcasts into :func:`doremi_mixture_sample`."""
    from talna_spark.pipeline.text import (
        lm_score, lm_score_bigram, lm_token_base,
    )

    t = float(temperature)
    if not t > 0:
        raise ValueError("temperature must be positive")
    # the proxy/reference pair shares ONE corpus tokenization
    # (lm_token_base) instead of each scorer building its own
    base = lm_token_base(spark, sf_dir)
    uni = lm_score(spark, sf_dir, base=base).select("doc_id", "xent")
    bi = lm_score_bigram(spark, sf_dir, base=base).select("doc_id", "xent2")
    src = _docs_src(spark, sf_dir)
    excess_micro = F.round(
        (F.col("xent") - F.col("xent2")) * 1_000_000
    ).cast("long")
    per_doc = (
        src.join(uni, "doc_id")
        .join(bi, "doc_id")
        .select("source", excess_micro.alias("em"))
    )
    mean_nats = F.col("excess_micro") / F.col("n_docs") / 1_000_000.0
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("em").alias("excess_micro"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            "source",
            "excess_micro",
            "n_docs",
            F.floor(F.exp(mean_nats / t) * MIX_RESOLUTION)
            .cast("long")
            .alias("w_s"),
        )
    )


def _docs_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_documents(spark, sf_dir, "doc_id", "source")


def doremi_mixture_sample(
    spark: SparkSession,
    sf_dir: str,
    temperature: float = DOREMI_TEMP,
    base: DataFrame | None = None,
) -> DataFrame:
    """Budgeted mixture sampling under the LEARNED :func:`doremi_weights`
    table — identical budget / rate / keep machinery (and the same
    nested 'mix|' hash stream) as :func:`mixture_sample`; only the
    weight source changes, completing the mixture family's progression
    hand-tuned -> corpus-shape (alpha) -> learned (doremi).

    100 TB shape: the weight table is #domains rows and broadcast-joins
    into the scaffold; everything else is mixture_sample's plan — one
    tiny aggregate, rates broadcast back, map-side integer ppm compare,
    zero corpus shuffle beyond the LM scorers' own token aggregates."""
    w = doremi_weights(spark, sf_dir, temperature).select("source", "w_s")
    d, per_src = _mix_scaffold(spark, sf_dir, weights_df=w, base=base)
    return _budget_mixture(d, per_src)


def doremi_mixture_sample_sql(temperature: float = DOREMI_TEMP) -> str:
    """DuckDB twin of :func:`doremi_mixture_sample`: the lm_score /
    lm_score_bigram oracle SQL as CTE bodies (a CTE body may itself be
    a WITH query), the identical micro-nat excess aggregate, and the
    shared budget machinery."""
    from talna_spark.pipeline.portable import hash64_sql, tokens_sql
    from talna_spark.pipeline.text import lm_score_bigram_sql, lm_score_sql

    t = float(temperature)
    w = tokens_sql("text")
    keep = hash64_sql("'mix|' || CAST(doc_id AS VARCHAR)")
    return (
        f"WITH lm1 AS ({lm_score_sql()}), "
        f"lm2 AS ({lm_score_bigram_sql()}), "
        "exc AS (SELECT d0.source, "
        "SUM(CAST(ROUND((lm1.xent - lm2.xent2) * 1000000) AS BIGINT)) "
        "AS excess_micro, COUNT(*) AS n_docs "
        "FROM documents d0 JOIN lm1 USING (doc_id) JOIN lm2 USING (doc_id) "
        "GROUP BY d0.source), "
        "wts AS (SELECT source, CAST(FLOOR(EXP("
        f"excess_micro / n_docs / 1000000.0 / {t}) * {MIX_RESOLUTION}) "
        "AS BIGINT) AS w_s FROM exc), "
        # dm, not d: lm_score_bigram_sql's nested WITH also names a CTE
        # `d`, and DuckDB binds CTE names across scopes — a same-named
        # outer CTE captures the inner body's references (observed:
        # `FROM d` inside lm2 resolved to the OUTER d and lost column w)
        f"dm AS MATERIALIZED (SELECT doc_id, source, "
        f"CAST(len({w}) AS BIGINT) AS n_tokens FROM documents), "
        "per_src AS (SELECT source, SUM(n_tokens) AS t_s "
        "FROM dm GROUP BY source), "
        "ps AS (SELECT p.source, p.t_s, w.w_s FROM per_src p "
        "JOIN wts w USING (source)), "
        "tot AS (SELECT SUM(t_s) AS t_all, SUM(w_s) AS w_all FROM ps), "
        "rates AS (SELECT source, t_s, w_s, "
        f"CAST(FLOOR(LEAST(1.0, CAST(FLOOR(t_all * {MIX_BUDGET_FRACTION}) "
        "AS BIGINT) * 1.0 * w_s / w_all / t_s) "
        f"* {MIX_RESOLUTION}) AS BIGINT) AS keep_ppm "
        "FROM ps CROSS JOIN tot) "
        "SELECT dm.doc_id, dm.source, dm.n_tokens, r.keep_ppm, "
        "ROUND(r.keep_ppm / 1000000.0, 6) AS rate "
        "FROM dm JOIN rates r ON dm.source = r.source "
        f"WHERE {keep} % {MIX_RESOLUTION} < r.keep_ppm"
    )



def mixture_upsample(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """The other half of mixture rebalancing: integer-epoch UPSAMPLING.
    :func:`mixture_sample` only *drops* (rates cap at 1.0, "upsampling
    is a loader concern"); real mixture tables repeat small high-weight
    domains (LLaMA upsamples Wikipedia ~2.4 epochs). Here the budget is
    one full corpus epoch redistributed by weight — rate_s =
    t_all * w_s / (w_all * t_s), UNCAPPED — and each document's copy
    count is floor(rate) plus one more iff its 'mixup|'-hashed fraction
    falls under the fractional part, so a domain at rate 2.4 emits every
    doc twice and a deterministic 40% of docs a third time: per-domain
    expected token count = rate_s * t_s exactly, no randomness.

    Returns (doc_id, source, n_tokens, rate_ppm, copies) for EVERY doc
    (copies = 0 means dropped by a sub-1.0 rate) — the audit ledger; a
    loader materializes `copies` repetitions. Same 100 TB shape as
    mixture_sample: #domains-row aggregate broadcast back, map-side
    integer compare, zero corpus shuffle."""
    from talna_spark.pipeline.portable import hash64

    d, per_src = _mix_scaffold(spark, sf_dir, base=base)
    # one full epoch redistributed by weight; fixed evaluation order
    rate = (
        F.col("t_all").cast("double")
        * F.col("w_s")
        / F.col("w_all")
        / F.col("t_s")
    )
    rates = per_src.select(
        "source",
        F.floor(rate * MIX_RESOLUTION).cast("long").alias("rate_ppm"),
    )
    frac = hash64(
        F.concat(F.lit("mixup|"), F.col("doc_id").cast("string"))
    ) % MIX_RESOLUTION
    copies = (
        F.floor(F.col("rate_ppm") / MIX_RESOLUTION)
        + F.when(frac < F.col("rate_ppm") % MIX_RESOLUTION, 1).otherwise(0)
    ).cast("long")
    return d.join(F.broadcast(rates), "source").select(
        "doc_id",
        "source",
        "n_tokens",
        "rate_ppm",
        copies.alias("copies"),
    )


def mixture_upsample_sql() -> str:
    from talna_spark.pipeline.portable import hash64_sql, tokens_sql

    w = tokens_sql("text")
    weight = "(1 + CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 3)"
    frac = f"({hash64_sql(chr(39) + 'mixup|' + chr(39) + ' || CAST(doc_id AS VARCHAR)')} % {MIX_RESOLUTION})"
    return (
        f"WITH d AS MATERIALIZED (SELECT doc_id, source, "
        f"CAST(len({w}) AS BIGINT) AS n_tokens FROM documents), "
        f"per_src AS (SELECT source, SUM(n_tokens) AS t_s, "
        f"{weight} AS w_s FROM d GROUP BY source), "
        "tot AS (SELECT SUM(t_s) AS t_all, SUM(w_s) AS w_all FROM per_src), "
        "rates AS (SELECT source, "
        "CAST(FLOOR(CAST(t_all AS DOUBLE) * w_s / w_all / t_s "
        f"* {MIX_RESOLUTION}) AS BIGINT) AS rate_ppm "
        "FROM per_src CROSS JOIN tot) "
        "SELECT d.doc_id, d.source, d.n_tokens, r.rate_ppm, "
        f"CAST(FLOOR(r.rate_ppm / {MIX_RESOLUTION}) + "
        f"(CASE WHEN {frac} < r.rate_ppm % {MIX_RESOLUTION} "
        "THEN 1 ELSE 0 END) AS BIGINT) AS copies "
        "FROM d JOIN rates r ON d.source = r.source"
    )


# -------------------------------------------------- DSIR data selection
DSIR_BUCKETS = 1024   # hashed-feature dimensionality (paper: 10k; dial)
DSIR_SELECT_K = 100   # documents to select from the raw pool


def dsir_select(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = DSIR_BUCKETS,
    k_select: int = DSIR_SELECT_K,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): pick raw-pool documents whose hashed-n-gram
    distribution looks most like a small TARGET set. Features are word
    unigrams+bigrams hashed into ``n_buckets``; two add-one-smoothed
    bag-of-buckets models are fit (target = the benchmark stand-in slice
    ``doc_id % 97 == 0``, the decontam convention; raw = everything
    else), and each raw doc scores the sum over its gram OCCURRENCES of
    ``ln p_target(b) - ln p_raw(b)``. The top-``k_select`` scores win —
    the deterministic argmax form of the paper's Gumbel resampling (same
    estimator, reproducible across engines; sampled selection is one
    seeded-noise column away).

    Float portability: per-bucket log-ratios round to integer micro-nats
    BEFORE the per-doc sum (the lm_score discipline) so doc weights are
    exact int64 sums in any order; ranks tie-break by doc_id.

    100 TB shape: the model is one (bucket, target_c, raw_c) hash-agg —
    ``n_buckets`` rows, broadcast back — so scoring is a map-side join
    plus one (doc_id) re-agg with map-side partials; selection is the
    two-phase top-k (no single-reducer sort). The raw corpus is scanned
    once; nothing corpus-sized shuffles except (doc_id, bucket) ids.
    """
    from talna_spark.pipeline.portable import grams, hash64, tokens

    m = int(n_buckets)
    # the gram explode + hash is the dominant map cost; the shared
    # TALNA_MIN_SCAN_TASKS fan-out spreads a single-row-group source
    d = fan_out(read_documents(spark, sf_dir, "doc_id", "text"))
    # tokens materialized first: grams' slice lambda captures the words
    # expression, so the inline form re-ran the split per gram (r12,
    # the dedup._tokenized rule)
    d = d.select(
        "doc_id", "text", (F.col("doc_id") % 97 == 0).alias("is_target")
    )
    d = d.select(
        "doc_id", "is_target", tokens(F.col("text")).alias("_w")
    ).localCheckpoint(eager=False)
    toks = F.col("_w")
    feat = d.select(
        "doc_id",
        "is_target",
        F.explode(F.concat(grams(toks, 1), grams(toks, 2))).alias("gram"),
    ).select(
        "doc_id", "is_target", (hash64(F.col("gram")) % m).alias("bucket")
    )
    model = feat.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("t_c"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("r_c"),
    )
    tot = model.agg(
        F.sum("t_c").alias("t_all"), F.sum("r_c").alias("r_all")
    )
    lam = (
        model.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                (
                    F.log((F.col("t_c") + 1.0) / (F.col("t_all") + F.lit(m)))
                    - F.log((F.col("r_c") + 1.0) / (F.col("r_all") + F.lit(m)))
                )
                * 1_000_000
            )
            .cast("long")
            .alias("lam_micro"),
        )
    )
    scored = (
        feat.filter(~F.col("is_target"))
        .join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lam_micro").alias("weight_micro"),
        )
    )
    order = [F.col("weight_micro").desc(), F.col("doc_id").asc()]
    w1 = Window.partitionBy("_p").orderBy(*order)
    w2 = Window.partitionBy(F.lit(1)).orderBy(*order)
    return (
        scored.withColumn("_p", F.pmod(F.xxhash64("doc_id"), F.lit(64)))
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= int(k_select))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= int(k_select))
        .select("doc_id", "n_grams", "weight_micro", "rank")
    )


def dsir_select_sql(
    n_buckets: int = DSIR_BUCKETS, k_select: int = DSIR_SELECT_K
) -> str:
    from talna_spark.pipeline.portable import grams_sql, hash64_sql, tokens_sql

    m = int(n_buckets)
    w = tokens_sql("text")
    gram_list = f"list_concat({grams_sql(w, 1)}, {grams_sql(w, 2)})"
    bucket = f"({hash64_sql('gram')} % {m})"
    lam = (
        f"CAST(ROUND((ln((t_c + 1.0) / (t_all + {m})) - "
        f"ln((r_c + 1.0) / (r_all + {m}))) * 1000000) AS BIGINT)"
    )
    return (
        f"WITH feat AS (SELECT doc_id, (doc_id % 97 = 0) AS is_target, "
        f"{bucket} AS bucket FROM (SELECT doc_id, unnest({gram_list}) AS gram "
        "FROM documents) ), "
        "model AS (SELECT bucket, "
        "SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_c, "
        "SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS r_c "
        "FROM feat GROUP BY bucket), "
        "tot AS (SELECT SUM(t_c) AS t_all, SUM(r_c) AS r_all FROM model), "
        f"lam AS (SELECT bucket, {lam} AS lam_micro "
        "FROM model CROSS JOIN tot), "
        "scored AS (SELECT doc_id, COUNT(*) AS n_grams, "
        "SUM(lam_micro) AS weight_micro "
        "FROM feat JOIN lam USING (bucket) WHERE NOT is_target "
        "GROUP BY doc_id), "
        "ranked AS (SELECT *, ROW_NUMBER() OVER "
        "(ORDER BY weight_micro DESC, doc_id ASC) AS rank FROM scored) "
        "SELECT doc_id, n_grams, weight_micro, rank FROM ranked "
        f"WHERE rank <= {int(k_select)}"
    )


# ------------------------------------------------ per-group reservoir
RESERVOIR_K = 20  # docs kept per source in the driver registration


def reservoir_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    k: int,
) -> DataFrame:
    """EXACT-k deterministic sample per group — the fixed-size
    per-domain eval-subset cut (rate-based sampling gives a fixed
    FRACTION; dashboards, eval sets and spot-check queues need a fixed
    COUNT per stratum). Rows rank by the md5-derived hash of their id
    (the split/sample hash family, prefixed 'res|' so the stream is
    independent of every other sampling decision) and the k lowest win:
    stable across runs, retries, repartitioning and cluster size, and
    row (i <= k)'s membership never changes when k grows — the nested
    property a true reservoir has.

    100 TB shape: one hash-partitioned window per group over
    (id, group, hash) — the per-group sort is bounded by the group's
    row count, and with k << group size an AQE top-k pushdown applies;
    for pathological single-group corpora the group key itself is the
    parallelism dial (the q24 two-phase pattern would bolt on
    unchanged).
    """
    from talna_spark.pipeline.portable import hash64

    if int(k) < 1:
        raise ValueError("k must be >= 1")
    h = hash64(F.concat(F.lit("res|"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(
        F.col("_rh").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rh", h)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= int(k))
        .drop("_rh")
    )


# ------------------------------------------------- hard token budget (r13)
TB_BUCKETS_BITS = 6  # 64 range buckets = the prefix-sum parallelism


def token_budget_sample(
    spark: SparkSession,
    sf_dir: str,
    budget_fraction: float = MIX_BUDGET_FRACTION,
    base: DataFrame | None = None,
) -> DataFrame:
    """HARD-budget per-source sampling: keep each source's documents in
    deterministic ``'tb|'`` id-hash order until the cumulative token
    count reaches budget = floor(t_s * fraction) — the doc whose
    exclusive prefix is under the budget is kept, so the kept set is
    the minimal deterministic prefix COVERING the budget. The exact-cut
    complement of :func:`mixture_sample`'s rate sampling (which meets
    budgets only in expectation): epochs land on the token count the
    schedule promised, and the prefix property makes budgets NESTED
    (a doc kept at a lower fraction is kept at every higher one).

    100 TB shape — the distributed prefix-sum, never one window per
    source: the order hash's top ``TB_BUCKETS_BITS`` bits split each
    source into 64 RANGE buckets of the global order, (1) per-(source,
    bucket) token sums aggregate map-side to a sources x 64 frame, (2)
    the exclusive bucket prefix runs as a window over that TINY frame,
    (3) each doc's offset = its bucket's prefix + a within-bucket
    exclusive cumsum whose window is partitioned by (source, bucket) —
    64-way parallel per source, so a mega-source never funnels through
    one reducer. All sums are int64 — any-order exact, cross-engine.

    Returns (doc_id, source, n_tokens, cum_before, budget)."""
    from talna_spark.pipeline.portable import hash64

    d, per_src = _mix_scaffold(spark, sf_dir, base=base)
    h = hash64(F.concat(F.lit("tb|"), F.col("doc_id").cast("string")))
    dd = d.withColumn("_h", h).withColumn(
        "_b", F.shiftright(F.col("_h"), 60 - TB_BUCKETS_BITS)
    )
    bs = dd.groupBy("source", "_b").agg(F.sum("n_tokens").alias("_bt"))
    wb = (
        Window.partitionBy("source")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bp = bs.select(
        "source",
        "_b",
        F.coalesce(F.sum("_bt").over(wb), F.lit(0).cast("long")).alias(
            "_bprev"
        ),
    )
    ww = (
        Window.partitionBy("source", "_b")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    budget = F.floor(F.col("t_s") * F.lit(float(budget_fraction))).cast(
        "long"
    )
    return (
        dd.join(F.broadcast(bp), ["source", "_b"])
        .withColumn(
            "_w",
            F.coalesce(F.sum("n_tokens").over(ww), F.lit(0).cast("long")),
        )
        .withColumn("cum_before", (F.col("_bprev") + F.col("_w")).cast("long"))
        .join(F.broadcast(per_src.select("source", "t_s")), "source")
        .withColumn("budget", budget)
        .filter(F.col("cum_before") < F.col("budget"))
        .select("doc_id", "source", "n_tokens", "cum_before", "budget")
    )


def token_budget_sample_sql(
    budget_fraction: float = MIX_BUDGET_FRACTION,
) -> str:
    """DuckDB twin: the identical order hash, range buckets, two-phase
    prefix (mirrored as one partitioned window — same int64 sums, so
    the SHAPE may differ but every cell is equal) and budget cut."""
    from talna_spark.pipeline.portable import hash64_sql, tokens_sql

    w = tokens_sql("text")
    h = hash64_sql("'tb|' || CAST(doc_id AS VARCHAR)")
    return (
        f"WITH d AS MATERIALIZED (SELECT doc_id, source, "
        f"CAST(len({w}) AS BIGINT) AS n_tokens, ({h}) AS h FROM documents), "
        "per_src AS (SELECT source, SUM(n_tokens) AS t_s "
        "FROM d GROUP BY source), "
        "c AS (SELECT doc_id, source, n_tokens, "
        "COALESCE(SUM(n_tokens) OVER (PARTITION BY source "
        "ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING "
        "AND 1 PRECEDING), 0)::BIGINT AS cum_before FROM d) "
        "SELECT c.doc_id, c.source, c.n_tokens, c.cum_before, "
        f"CAST(FLOOR(p.t_s * {float(budget_fraction)}) AS BIGINT) AS budget "
        "FROM c JOIN per_src p ON c.source = p.source "
        f"WHERE c.cum_before < CAST(FLOOR(p.t_s * {float(budget_fraction)}) "
        "AS BIGINT)"
    )


def reservoir_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver registration: RESERVOIR_K docs per source with their
    within-group rank."""
    d = read_documents(spark, sf_dir, "doc_id", "source")
    return reservoir_sample(d, "doc_id", "source", RESERVOIR_K).select(
        "doc_id", "source", F.col("sample_rank").cast("long").alias("sample_rank")
    )


def reservoir_docs_sql() -> str:
    from talna_spark.pipeline.portable import hash64_sql

    h = hash64_sql("'res|' || CAST(doc_id AS VARCHAR)")
    return (
        f"SELECT doc_id, source, sample_rank FROM ("
        f"SELECT doc_id, source, ROW_NUMBER() OVER ("
        f"PARTITION BY source ORDER BY {h} ASC, doc_id ASC"
        f") AS sample_rank FROM documents) "
        f"WHERE sample_rank <= {RESERVOIR_K}"
    )


# ------------------------- weight-proportional sampling (r13)
# Efraimidis & Spirakis 2006, "Weighted random sampling with a
# reservoir" (the A-ES key construction): give row i the key
# u_i^(1/w_i) and keep the k LARGEST — equivalently, keep the k
# SMALLEST of -ln(u_i)/w_i (the exponential-race form: an Exp(w_i)
# arrival time; the k earliest arrivals are a weight-proportional
# sample WITHOUT replacement). Every per-row weighted selection the
# mixture samplers above cannot express (they weigh SOURCES, not
# rows): sample k docs proportional to a quality score, importance
# weight or length, deterministically.
WS_PREFIX = "wres|"


def _ws_key(id_col: str, weight_col: str) -> F.Column:
    """The A-ES race key -ln(u)/w rounded to 9 dp. u = (h % 2^53 + 1)
    / 2^53 is an EXACT dyadic rational in (0, 1] both engines compute
    bit-identically from the portable id hash ('wres|' prefix — the
    sampling stream stays independent of every other hash decision);
    ln and the division are one libm call + one IEEE op, pinned
    cross-engine by the 9-dp round (the lc ln-at-6dp acceptance)."""
    from talna_spark.pipeline.portable import hash64

    h = hash64(F.concat(F.lit(WS_PREFIX), F.col(id_col).cast("string")))
    u = ((h % F.lit(1 << 53)).cast("double") + F.lit(1.0)) / F.lit(
        float(1 << 53)
    )
    return F.round(-F.log(u) / F.col(weight_col).cast("double"), 9)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    group_col: "str | None" = None,
) -> DataFrame:
    """Deterministic weight-proportional sample WITHOUT replacement:
    the k rows with the smallest A-ES race keys, globally or per
    ``group_col`` stratum. Inclusion probability follows the weights
    (a weight-9 row is ~9x a weight-1 row's chance; exact ES
    semantics), yet the draw is a pure function of (id, weight) —
    stable across runs, retries, repartitioning and cluster size, and
    nested in k (growing k never evicts a sampled row). Rows with
    NULL or non-positive weight cannot win a race and are excluded
    (zero mass). Adds ``sample_rank`` (1 = smallest key) and ``_wk``
    (the key, for auditability).

    100 TB shape: grouped = one hash-partitioned window per stratum
    (the reservoir_sample shape — bounded by the group's rows, AQE
    top-k pushdown with k << group); global = per-partition top-k
    merged via sort+limit (TakeOrderedAndProject: k rows reach the
    driver, the corpus never globally sorts)."""
    if int(k) < 1:
        raise ValueError("k must be >= 1")
    base = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("_wk", _ws_key(id_col, weight_col))
    if group_col is not None:
        w = Window.partitionBy(group_col).orderBy(
            F.col("_wk").asc(), F.col(id_col).asc()
        )
        return base.withColumn(
            "sample_rank", F.row_number().over(w)
        ).filter(F.col("sample_rank") <= int(k))
    top = base.orderBy(F.col("_wk").asc(), F.col(id_col).asc()).limit(
        int(k)
    )
    # rank the k survivors (model-sized by construction)
    w = Window.orderBy(F.col("_wk").asc(), F.col(id_col).asc())
    return top.withColumn("sample_rank", F.row_number().over(w))


WS_K = 10  # docs per source in the driver registration (< the
# per-source corpus at every sf, so selection actually excludes)


def weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver registration: WS_K docs per source sampled proportional
    to character length (the simplest cross-engine weight; real
    pipelines pass a quality/classifier score) — long docs are
    proportionally likelier, short ones still reachable."""
    d = read_documents(spark, sf_dir, "doc_id", "source", "text").select(
        "doc_id", "source", F.length("text").cast("double").alias("w")
    )
    return weighted_sample(d, "doc_id", "w", WS_K, group_col="source").select(
        "doc_id",
        "source",
        F.col("sample_rank").cast("long").alias("sample_rank"),
        F.col("w").cast("long").alias("n_chars"),
        F.col("_wk").alias("key"),
    )


def weighted_docs_sql() -> str:
    from talna_spark.pipeline.portable import hash64_sql

    h = hash64_sql("'wres|' || CAST(doc_id AS VARCHAR)")
    u = f"(CAST(({h}) % {1 << 53} AS DOUBLE) + 1.0) / {float(1 << 53)!r}"
    key = f"round(-ln({u}) / CAST(length(text) AS DOUBLE), 9)"
    return (
        "SELECT doc_id, source, sample_rank, n_chars, key FROM ("
        "SELECT doc_id, source, "
        "CAST(length(text) AS BIGINT) AS n_chars, "
        f"{key} AS key, ROW_NUMBER() OVER ("
        f"PARTITION BY source ORDER BY {key} ASC, doc_id ASC"
        ") AS sample_rank FROM documents WHERE length(text) > 0) "
        f"WHERE sample_rank <= {WS_K}"
    )


# --------------------------- DoReMi iterated (r10, the full loop)
DOREMI_ROUNDS = 3
DOREMI_ETA = 1.0
_W_UNIT = 1_000_000  # ppm weight units; uniform init = one unit per domain


def _weighted_unigram_xent(tok: DataFrame, wts: DataFrame) -> DataFrame:
    """(doc_id, xent): per-doc cross-entropy under a DOMAIN-WEIGHTED
    add-one unigram LM — the proxy retrained each DoReMi round. Vocab
    counts weigh each token occurrence by its document's domain weight
    (integer ppm units, exact any-order sums); smoothing adds one
    average-weight pseudo-count (+1e6 ppm), so UNIFORM weights make
    p = (c*1e6 + 1e6)/(N*1e6 + 1e6*V) = (c+1)/(N+V) — bit-identical to
    the unweighted :func:`~talna_spark.pipeline.text.lm_score`, which
    is what pins round 1 of the iterated loop to the one-shot table
    (tested). Same micro-nat rounding chain as lm_score."""
    tw = tok.join(F.broadcast(wts), "source")
    vocab = tw.groupBy("token").agg(F.sum("w_ppm").alias("cw"))
    totals = vocab.agg(
        F.sum("cw").alias("nw"), F.count(F.lit(1)).alias("v_size")
    )
    nll_micro = F.round(
        -F.log(
            (F.col("cw") + F.lit(float(_W_UNIT)))
            / (F.col("nw") + F.lit(float(_W_UNIT)) * F.col("v_size"))
        )
        * 1_000_000
    ).cast("long")
    return (
        tok.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(nll_micro) / (F.count(F.lit(1)) * F.lit(1_000_000.0)),
                6,
            ).alias("xent")
        )
    )


def doremi_weights_iterated(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = DOREMI_ROUNDS,
    eta: float = DOREMI_ETA,
) -> tuple:
    """The FULL DoReMi loop (Xie et al. 2023) that
    :func:`doremi_weights` takes one step of: per round, retrain the
    proxy under the current mixture (the domain-weighted unigram LM —
    reweighting token counts is exactly what training on a reweighted
    mixture does to a count-based proxy), measure per-domain mean
    excess loss against the FIXED bigram reference, and take the
    exponentiated-gradient step w <- w * exp(eta * excess), integer
    ppm units throughout (renormalized to mean 1e6 per round so the
    product neither drifts to zero nor overflows).

    Round 1 from the uniform init reproduces the one-shot
    :func:`doremi_weights` table exactly up to the shared ppm
    quantization (tested — the +1-average-weight smoothing makes the
    uniformly-weighted proxy bit-identical to lm_score). Returns
    ``(weights, history)``: the final {source: w_ppm} dict and the
    per-round list of {source: excess_micro} — model-sized driver
    state, the kmeans_centroids convention.

    100 TB shape per round: one token-keyed weighted hash-agg (the
    lm_score plan with a broadcast #domains weight join on the way
    in), one (doc_id)-keyed score join, one #domains-row aggregate;
    token streams and the fixed reference are computed once behind
    lazy localCheckpoints — rounds add scoring passes, never new
    corpus scans."""
    from talna_spark.pipeline.portable import tokens
    from talna_spark.pipeline.text import lm_score_bigram

    if int(rounds) < 1:
        raise ValueError("rounds must be >= 1")
    e = float(eta)
    if not e > 0:
        raise ValueError("eta must be positive")
    d = fan_out(read_documents(spark, sf_dir, "doc_id", "source", "text"))
    src = d.select("doc_id", "source").localCheckpoint(eager=False)
    # NO empty-token filter: round-1 parity with the one-shot table
    # requires the uniformly-weighted proxy to be bit-identical to
    # lm_score, whose token stream keeps them
    tok = d.select(
        "doc_id",
        "source",
        F.explode(tokens(F.col("text"))).alias("token"),
    ).localCheckpoint(eager=False)
    # hold out nothing: the reference is fixed across rounds
    ref = (
        lm_score_bigram(spark, sf_dir)
        .select("doc_id", "xent2")
        .localCheckpoint(eager=False)
    )
    sources = sorted(r["source"] for r in src.select("source").distinct().collect())
    weights = {s: _W_UNIT for s in sources}
    history = []
    import math

    for _ in range(int(rounds)):
        wts = spark.createDataFrame(
            sorted(weights.items()), "source string, w_ppm long"
        )
        prox = _weighted_unigram_xent(tok, wts)
        excess_micro = F.round(
            (F.col("xent") - F.col("xent2")) * 1_000_000
        ).cast("long")
        agg = (
            src.join(prox, "doc_id")
            .join(ref, "doc_id")
            .select("source", excess_micro.alias("em"))
            .groupBy("source")
            .agg(F.sum("em").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        exc = {r["source"]: (int(r["s"]), int(r["n"])) for r in agg}
        history.append({s: exc[s][0] for s in exc})
        new_w = {}
        for s in sources:
            sm, n = exc.get(s, (0, 1))
            mean_nats = sm / n / 1_000_000.0
            new_w[s] = int(
                math.floor(weights[s] * math.exp(e * mean_nats))
            )
        # renormalize to mean _W_UNIT (integer arithmetic, order-free)
        total = sum(new_w.values())
        if total <= 0:
            raise ValueError("all weights collapsed to zero")
        weights = {
            s: max(
                1,
                (new_w[s] * _W_UNIT * len(sources)) // total,
            )
            for s in sources
        }
    return weights, history


def doremi_mixture_sample_iterated(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = DOREMI_ROUNDS,
    eta: float = DOREMI_ETA,
) -> DataFrame:
    """Budgeted mixture sampling under the ITERATED DoReMi table —
    unchanged budget/rate/'mix|'-hash machinery, only the weight
    source differs (unit-tier like its trainer: the loop is
    iterative)."""
    w, _hist = doremi_weights_iterated(spark, sf_dir, rounds, eta)
    wdf = spark.createDataFrame(
        sorted(w.items()), "source string, w_s long"
    )
    d, per_src = _mix_scaffold(spark, sf_dir, weights_df=wdf)
    return _budget_mixture(d, per_src)
