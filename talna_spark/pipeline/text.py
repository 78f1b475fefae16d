"""Text analysis over the ``documents`` table: token counting, quality
scoring, language-ID (marker-word heuristic), document fingerprinting.

All expressions are JVM-side builtins (whole-stage codegen; no UDFs), and
each operator ships a DuckDB oracle generated from the same constants.
At scale these are embarrassingly parallel map-side transforms — no
shuffle at all; filters on the outputs push down into the parquet scan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talna_spark.pipeline.portable import (
    grams,
    shingles,
    shingles_sql,
    tokens,
    tokens_sql,
)
from talna_spark.pipeline.scan import fan_out, read_documents

PUNCT_CLASS = "[.,!?;:]"
STOPWORDS = ("the", "a", "and", "of", "to", "in")
FINGERPRINT_K = 5  # word 5-grams, min-md5 fingerprint (winnowing-style)

# language -> marker function words (argmax score, tie -> lexicographic;
# all-zero -> 'und'). A real system would use char n-gram profiles; the
# marker heuristic keeps the operator portable to the SQL oracle while
# exercising the same Spark plumbing (array intersections, map-side only).
LANG_MARKERS = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "a", "and", "of", "is"),
    "es": ("el", "los", "las", "y", "es"),
    "fr": ("le", "la", "les", "et", "est"),
}


def _count_in(words, wordset) -> "F.Column":
    return F.size(F.filter(words, lambda w: w.isin(*wordset)))


def _count_in_sql(words_expr: str, wordset) -> str:
    lst = ", ".join(f"'{w}'" for w in wordset)
    return f"len(list_filter({words_expr}, w -> w IN ({lst})))"


# ------------------------------------------------------------ token stats
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_documents(spark, sf_dir, "doc_id", "text")
    w = tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.length("text").alias("n_chars_text"),
        F.round(F.length("text") / F.size(w), 6).alias("chars_per_token"),
    )


def token_stats_sql() -> str:
    w = tokens_sql("text")
    return (
        f"SELECT doc_id, len({w}) AS n_tokens, "
        f"length(text) AS n_chars_text, "
        f"ROUND(length(text) / len({w}), 6) AS chars_per_token "
        f"FROM documents"
    )


# -------------------------------------------------------- quality scoring
def quality_parts(words=None) -> tuple:
    """(n_tokens, punct_ratio, stop_ratio, score) expressions over a
    ``text`` column — shared by :func:`quality` and the single-scan
    curate composition (pipeline.curate computes the score inline on its
    one corpus scan instead of joining a second scan's output).

    ``words``: an already-tokenized array column to use instead of
    re-splitting ``text`` — lets :func:`_signal_scan` evaluate the
    battery over ONE shared tokenization (the expressions are otherwise
    identical, so values are bit-identical)."""
    w = tokens(F.col("text")) if words is None else words
    n_tok = F.size(w)
    punct = F.length("text") - F.length(F.regexp_replace("text", PUNCT_CLASS, ""))
    punct_ratio = punct / F.length("text")
    stop_ratio = _count_in(w, STOPWORDS) / n_tok
    # clamped linear quality: enough tokens, some stopwords, little punct
    score = (
        F.least(n_tok / F.lit(50.0), F.lit(1.0))
        * (F.lit(1.0) - punct_ratio)
        * F.least(F.lit(0.5) + stop_ratio, F.lit(1.0))
    )
    return n_tok, punct_ratio, stop_ratio, score


def quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(read_documents(spark, sf_dir, "doc_id", "text"))
    n_tok, punct_ratio, stop_ratio, score = quality_parts()
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality"),
    )


def quality_sql() -> str:
    w = tokens_sql("text")
    punct = f"(length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')))"
    stop = _count_in_sql(w, STOPWORDS)
    return (
        f"SELECT doc_id, len({w}) AS n_tokens, "
        f"ROUND({punct} / length(text), 6) AS punct_ratio, "
        f"ROUND({stop} / len({w}), 6) AS stop_ratio, "
        f"ROUND(least(len({w}) / 50.0, 1.0) * (1.0 - {punct} / length(text)) "
        f"* least(0.5 + {stop} / len({w}), 1.0), 6) AS quality "
        f"FROM documents"
    )


# ------------------------------------------------------------ language ID
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # marker scores as COLUMNS over a checkpointed token array (r12):
    # inline, the argmax when-chain textually duplicated `best` (a
    # greatest over N HOF filters, each re-splitting the text) into
    # every branch — ~N/2 x (N+1) filter evaluations per row. With
    # per-code score columns the chain compares attributes; measured
    # 0.66 -> 0.20 s at sf0.1, identical output.
    d = read_documents(spark, sf_dir, "doc_id", "text", "lang")
    codes = sorted(LANG_MARKERS)
    dw = d.select(
        "doc_id", "lang", tokens(F.col("text")).alias("_w")
    ).localCheckpoint(eager=False)
    ds = dw.select(
        "doc_id",
        "lang",
        *[
            _count_in(F.col("_w"), LANG_MARKERS[c])
            .cast("long")
            .alias(f"_s_{c}")
            for c in codes
        ],
    )
    scores = {c: F.col(f"_s_{c}") for c in codes}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # argmax with lexicographic tie-break: first code reaching the max wins
    for code in sorted(LANG_MARKERS, reverse=True):
        pred = F.when(scores[code] == best, F.lit(code)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return ds.select(
        "doc_id",
        pred.alias("pred_lang"),
        best.cast("long").alias("marker_hits"),
        F.col("lang").alias("labeled_lang"),
    )


def lang_id_sql() -> str:
    w = tokens_sql("text")
    scores = {
        code: _count_in_sql(w, mk) for code, mk in sorted(LANG_MARKERS.items())
    }
    best = f"greatest({', '.join(scores.values())})"
    whens = " ".join(
        f"WHEN {scores[c]} = {best} THEN '{c}'" for c in sorted(LANG_MARKERS)
    )
    return (
        f"SELECT doc_id, "
        f"CASE WHEN {best} > 0 THEN (CASE {whens} END) ELSE 'und' END AS pred_lang, "
        f"CAST({best} AS BIGINT) AS marker_hits, "
        f"lang AS labeled_lang "
        f"FROM documents"
    )


# ------------------------------------------------- learned language ID
# Demo dimensionality for the driver-checked scoring slice — same
# rationale as classifier.DEMO_FEATURES (small enough that the oracle's
# weight table is a range() scan, large enough for hash collisions).
LANGID_DEMO_FEATURES = 64


def _langid_weight_formula(f, ci: int):
    """Deterministic per-class demo weights over a feature-id column:
    w(f, ci) = ((37·f + 13·ci) mod 101 − 50) / 100 ∈ [−0.50, 0.50] —
    the classifier demo formula with a per-class phase shift, identical
    arithmetic in Spark and DuckDB."""
    return ((f * 37 + 13 * ci) % 101 - 50) / 100.0


def lang_id_learned(
    spark: SparkSession,
    sf_dir: str = None,
    docs: DataFrame = None,
    model: dict = None,
    n_features: int = LANGID_DEMO_FEATURES,
) -> DataFrame:
    """(doc_id, pred_lang, z_best, labeled_lang): learned language ID —
    a linear one-vs-rest model over hashed char 2-3-gram features (the
    fastText langid recipe), scored distributed. ``model`` is a
    :func:`talna_spark.pipeline.classifier.train_multiclass` result
    (e.g. from :func:`train_lang_id`); ``None`` scores the
    deterministic demo-formula weights over the marker-language class
    list — the driver-checkable configuration. The marker heuristic
    (:func:`lang_id`) remains the zero-data fallback.

    ``pred_lang`` = argmax over per-class nano-unit integer logits
    (ties -> lexicographically smallest class; docs with no char grams
    -> 'und'); ``z_best`` = the winning logit in exact nano-units.

    100 TB shape: char-gram explode → (doc_id, f) hash-agg →
    BROADCAST-join the n_features-row weight table → doc_id hash-agg →
    left join back to documents on doc_id. The corpus never shuffles
    text; per-class logits are exact int64 in any aggregation order."""
    from talna_spark.pipeline.classifier import NANO, char_ngram_features

    d = docs if docs is not None else read_documents(
        spark, sf_dir, "doc_id", "text", "lang"
    )
    if model is not None:
        classes = list(model["classes"])
        n_features = model["n_features"]
        biases = model["biases"]
    else:
        classes = sorted(LANG_MARKERS)
        biases = {c: 0.0 for c in classes}
    K = len(classes)
    feat = char_ngram_features(d, n_features)
    if model is None:
        wdf = spark.range(n_features).select(
            F.col("id").alias("f"),
            *[
                _langid_weight_formula(F.col("id"), i).alias(f"w{i}")
                for i in range(K)
            ],
        )
    else:
        import pandas as pd

        cols = {"f": range(n_features)}
        cols.update(
            {f"w{i}": model["weights"][c] for i, c in enumerate(classes)}
        )
        wdf = spark.createDataFrame(
            pd.DataFrame(cols).astype(
                {"f": "int64", **{f"w{i}": "float64" for i in range(K)}}
            )
        )
    x = F.col("tf").cast("double") / F.col("n")
    aggs = [
        F.sum(F.round(F.col(f"w{i}") * x * NANO).cast("long")).alias(f"zn{i}")
        for i in range(K)
    ]
    sc = feat.join(F.broadcast(wdf), "f").groupBy("doc_id").agg(*aggs)
    z = {
        c: F.col(f"zn{i}") + F.lit(int(round(biases[c] * NANO)))
        for i, c in enumerate(classes)
    }
    # Flat argmax: array_min over (-z, class) structs — the minimum
    # struct is (largest z, lexicographically-smallest class), matching
    # the documented tie rule exactly. A K-deep chained F.when argmax
    # strains Catalyst analysis at fastText scale (~170 classes) the
    # same way the k×d centroid literal did pre-r6; the array
    # constructor is a single flat node with K children, and the whole
    # expression stays map-side whole-stage-codegen (no extra agg).
    m = F.array_min(
        F.array(
            *[
                F.struct((-z[c]).alias("nz"), F.lit(c).alias("c"))
                for c in classes
            ]
        )
    )
    sc = sc.select(
        "doc_id", m["c"].alias("_pred"), (-m["nz"]).alias("_z")
    )
    return (
        d.select("doc_id", F.col("lang").alias("labeled_lang"))
        .join(sc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_pred"), F.lit("und")).alias("pred_lang"),
            F.coalesce(F.col("_z"), F.lit(0)).cast("long").alias("z_best"),
            "labeled_lang",
        )
    )


def lang_id_learned_sql(n_features: int = LANGID_DEMO_FEATURES) -> str:
    """DuckDB twin of the demo-formula learned-langid scoring (same
    char-gram stream, hash, weight formula, nano-unit accounting)."""
    from talna_spark.pipeline.portable import (
        char_grams_sql,
        hash64_sql,
        norm_text_sql,
    )

    classes = sorted(LANG_MARKERS)
    g2 = char_grams_sql("t", 2)
    g3 = char_grams_sql("t", 3)
    h = hash64_sql("g")
    wt_cols = ", ".join(
        f"((f * 37 + {13 * i}) % 101 - 50) / 100.0 AS w{i}"
        for i in range(len(classes))
    )
    zn_cols = ", ".join(
        f"SUM(CAST(ROUND(w{i} * (CAST(tf AS DOUBLE) / n) * 1000000000.0) "
        f"AS BIGINT)) AS zn{i}"
        for i in range(len(classes))
    )
    best = f"greatest({', '.join(f'zn{i}' for i in range(len(classes)))})"
    whens = " ".join(
        f"WHEN zn{i} = {best} THEN '{c}'" for i, c in enumerate(classes)
    )
    return (
        f"WITH txt AS (SELECT doc_id, {norm_text_sql('text')} AS t "
        "FROM documents), "
        f"gr AS (SELECT doc_id, unnest(list_concat({g2}, {g3})) AS g "
        "FROM txt), "
        f"feat AS (SELECT doc_id, {h} % {n_features} AS f, COUNT(*) AS tf "
        "FROM gr GROUP BY doc_id, f), "
        "featn AS (SELECT doc_id, f, tf, "
        "SUM(tf) OVER (PARTITION BY doc_id) AS n FROM feat), "
        f"wt AS (SELECT f, {wt_cols} FROM range({n_features}) t(f)), "
        f"sc AS (SELECT doc_id, {zn_cols} FROM featn JOIN wt USING (f) "
        "GROUP BY doc_id) "
        "SELECT d.doc_id, "
        f"COALESCE((CASE {whens} END), 'und') AS pred_lang, "
        f"CAST(COALESCE({best}, 0) AS BIGINT) AS z_best, "
        "d.lang AS labeled_lang "
        "FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id"
    )


def train_lang_id(
    docs: DataFrame,
    n_features: int = 2048,
    iters: int = 20,
    lr: float = 2.0,
    l2: float = 0.0,
    label_col: str = "lang",
    text_col: str = "text",
) -> dict:
    """Train the learned language-ID model: one-vs-rest logistic
    regression over hashed char 2-3-grams, labels from ``label_col``
    (the ``documents.lang`` column by default). Returns the
    :func:`train_multiclass` model dict, scoreable by
    :func:`lang_id_learned`."""
    from talna_spark.pipeline.classifier import train_multiclass

    labels = docs.select("doc_id", F.col(label_col).alias("y"))
    return train_multiclass(
        docs, labels, n_features=n_features, iters=iters, lr=lr, l2=l2,
        text_col=text_col,
    )


# ---------------------------------------------------------- fingerprinting
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hash-of-shingles document fingerprint (rolling-window analog of
    Karp-Rabin winnowing): the lexicographic min of md5 over word 5-grams.
    Stable under small edits away from the minimizing window."""
    from talna_spark.pipeline.dedup import _tokenized

    d = read_documents(spark, sf_dir, "doc_id", "text")
    dw = _tokenized(d, tokens(F.col("text")))
    sh = shingles(F.col("_w"), FINGERPRINT_K)
    fp = F.array_min(F.transform(sh, F.md5))
    return dw.select("doc_id", fp.alias("fingerprint"))


def fingerprint_sql() -> str:
    sh = shingles_sql(tokens_sql("text"), FINGERPRINT_K)
    return (
        f"SELECT doc_id, "
        f"list_aggregate(list_transform({sh}, s -> md5(s)), 'min') AS fingerprint "
        f"FROM documents"
    )


WINNOW_W = 4  # window width; match guarantee t = WINNOW_W + k - 1 tokens


def winnow_fingerprints(
    spark: SparkSession,
    sf_dir: str,
    k: int = FINGERPRINT_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """TRUE winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS algorithm), upgrading the single min-hash
    :func:`fingerprint` to the published LOCAL selection: over the
    positional k-gram hash stream, every window of ``w`` consecutive
    hashes selects its minimum, ties to the RIGHTMOST occurrence (the
    paper's rule), and the distinct (position, hash) pairs are the
    document's fingerprints. Guarantees (both tested): every w-window
    contains at least one selected position (density — no unfingerprinted
    gap longer than w grams), and any two documents sharing at least
    t = w + k - 1 consecutive tokens share at least one fingerprint
    HASH (the matching guarantee plagiarism/near-dup detection relies
    on). Docs with fewer than w grams emit no fingerprints.

    Returns (doc_id, pos, h): 0-based gram position and the gram hash.

    100 TB shape: the whole selection is ONE map-side array pass per
    document (positional hashes -> per-window struct transform ->
    distinct explode) — no shuffle, no UDF; per-doc cost O(grams * w)
    with w a small constant."""
    from talna_spark.pipeline.dedup import (
        _positional_gram_hashes,
        _tokenized,
    )

    if int(w) < 1:
        raise ValueError("w must be >= 1")
    # two materialization stages (r12): the per-window pick lambda
    # captures the hash-stream expression, and the hash stream's own
    # lambda captures the words expression — inline, the token split
    # re-ran per GRAM and the whole hash stream re-ran per WINDOW
    # (O(grams^2) per doc, not the declared O(grams x w)). Checkpointed
    # columns make both captures O(1) attribute reads; at sf0.1 the
    # inline form did not finish in 500 s, this one runs in 2.0 s
    # (identical fingerprints, oracle-verified).
    d = read_documents(spark, sf_dir, "doc_id", "text")
    dw = _tokenized(d, tokens(F.col("text")))
    dh = dw.select(
        "doc_id",
        _positional_gram_hashes(F.col("_w"), int(k)).alias("_h"),
    ).localCheckpoint(eager=False)
    hs = F.col("_h")
    wl = int(w)
    n_windows = F.size(hs) - (wl - 1)

    def pick(i):
        sl = F.slice(hs, i + 1, wl)
        mn = F.array_min(sl)
        jrev = F.array_position(F.reverse(sl), mn)
        return F.struct(
            (i + wl - jrev).cast("long").alias("pos"), mn.alias("h")
        )

    fps = F.when(
        n_windows >= 1,
        F.transform(F.sequence(F.lit(0), n_windows - 1), pick),
    ).otherwise(F.array().cast("array<struct<pos: bigint, h: bigint>>"))
    return (
        dh.select("doc_id", F.explode(fps).alias("f"))
        .select("doc_id", F.col("f.pos").alias("pos"), F.col("f.h").alias("h"))
        .distinct()
    )


def winnow_fingerprints_sql(
    k: int = FINGERPRINT_K, w: int = WINNOW_W
) -> str:
    """DuckDB twin: the identical per-window min + rightmost-tie
    selection via list functions (list_reverse + list_position gives
    the rightmost minimal offset, exactly the engine's reverse +
    array_position)."""
    from talna_spark.pipeline.dedup import _positional_gram_hashes_sql

    gh = _positional_gram_hashes_sql(tokens_sql("text"), int(k))
    wl = int(w)
    sl = f"hs[i + 1 : i + {wl}]"
    mn = f"list_aggregate({sl}, 'min')"
    pos = f"i + {wl} - list_position(list_reverse({sl}), {mn})"
    return (
        f"WITH g AS (SELECT doc_id, {gh} AS hs FROM documents), "
        "f AS (SELECT doc_id, unnest(list_transform("
        f"generate_series(0, len(hs) - {wl}), "
        f"i -> struct_pack(pos := CAST({pos} AS BIGINT), h := {mn}))) AS fp "
        "FROM g) "
        "SELECT DISTINCT doc_id, fp.pos AS pos, fp.h AS h FROM f"
    )


# ---------------------------------------------------------- corpus stats
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus rollup: doc count, total tokens, mean
    quality — the "dataset card" numbers a training pipeline reports per
    slice. Pure map-side expressions into one partial+final hash
    aggregate; grouping keys are low-cardinality so the shuffle carries
    one row per slice. The mean sums the 6-dp quality as EXACT integer
    micro-units (int64) — float summation order differs between Spark's
    partial/final tree and DuckDB's sequential loop, and a group landing
    on a round-half boundary would flip the last digit."""
    d = read_documents(spark, sf_dir, "doc_id", "source", "lang")
    q = quality(spark, sf_dir).select("doc_id", "n_tokens", "quality")
    micro = F.round(F.col("quality") * 1_000_000).cast("long")
    return (
        d.join(q, "doc_id")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(
                F.sum(micro) / (F.count(F.lit(1)) * F.lit(1_000_000.0)), 6
            ).alias("mean_quality"),
        )
    )


def corpus_stats_sql() -> str:
    micro = "CAST(ROUND(q.quality * 1000000) AS BIGINT)"
    return (
        f"WITH qual AS ({quality_sql()}) "
        "SELECT d.source, d.lang, COUNT(*) AS n_docs, "
        "CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens, "
        f"ROUND(SUM({micro}) / (COUNT(*) * 1000000.0), 6) AS mean_quality "
        "FROM documents d JOIN qual q ON d.doc_id = q.doc_id "
        "GROUP BY d.source, d.lang"
    )


# -------------------------------------------------------------- PII scan
# ASCII-only patterns chosen to mean the same thing in Java regex (Spark)
# and RE2 (DuckDB): no lookaround, no unicode classes.
EMAIL_RE = "[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+\\.[A-Za-z0-9.-]+"
PHONE_RE = "[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}"


def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc PII surface scan: counts of email-like and phone-like
    matches plus a has_pii flag — the screening pass before a redaction
    job. JVM-side regexp_extract_all (codegen), embarrassingly parallel,
    no shuffle; a `filter(has_pii)` on the output pushes down to the
    scan."""
    d = read_documents(spark, sf_dir, "doc_id", "text")
    emails = F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), F.lit(0)))
    phones = F.size(F.regexp_extract_all("text", F.lit(PHONE_RE), F.lit(0)))
    return d.select(
        "doc_id",
        emails.alias("n_emails"),
        phones.alias("n_phones"),
        (emails + phones > 0).alias("has_pii"),
    )


def pii_scan_sql() -> str:
    return (
        f"SELECT doc_id, "
        f"len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails, "
        f"len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones, "
        f"(len(regexp_extract_all(text, '{EMAIL_RE}')) + "
        f"len(regexp_extract_all(text, '{PHONE_RE}'))) > 0 AS has_pii "
        f"FROM documents"
    )


IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
PII_TOKENS = {"email": "[EMAIL]", "phone": "[PHONE]", "ip": "[IP]"}


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The redaction pass :func:`pii_scan` screens for: every email-,
    phone- and IPv4-shaped span replaced by a typed placeholder token,
    with per-kind counts of each pattern's matches IN THE ORIGINAL text
    (on overlap — a phone-shaped local part inside an email — the
    earlier pattern wins the replacement but both still count).
    Patterns apply in a FIXED order (email → phone → ip) so overlapping
    matches resolve identically in both engines.

    100 TB shape: pure regexp_replace projection — JVM codegen, zero
    shuffle, embarrassingly parallel; the transformed corpus streams
    straight to the export sink. (The IPv4 pattern is a shape match,
    not an octet-range validator — over-matching toward redaction is
    the safe direction for a privacy pass.)"""
    d = read_documents(spark, sf_dir, "doc_id", "text")
    emails = F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), F.lit(0)))
    phones = F.size(F.regexp_extract_all("text", F.lit(PHONE_RE), F.lit(0)))
    ips = F.size(F.regexp_extract_all("text", F.lit(IPV4_RE), F.lit(0)))
    red = F.regexp_replace("text", EMAIL_RE, PII_TOKENS["email"])
    red = F.regexp_replace(red, PHONE_RE, PII_TOKENS["phone"])
    red = F.regexp_replace(red, IPV4_RE, PII_TOKENS["ip"])
    return d.select(
        "doc_id",
        red.alias("text_redacted"),
        emails.alias("n_emails"),
        phones.alias("n_phones"),
        ips.alias("n_ips"),
    )


def pii_redact_sql() -> str:
    e, p, i = (
        PII_TOKENS["email"],
        PII_TOKENS["phone"],
        PII_TOKENS["ip"],
    )
    return (
        "SELECT doc_id, "
        "regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{EMAIL_RE}', '{e}', 'g'), '{PHONE_RE}', '{p}', 'g'), "
        f"'{IPV4_RE}', '{i}', 'g') AS text_redacted, "
        f"len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails, "
        f"len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones, "
        f"len(regexp_extract_all(text, '{IPV4_RE}')) AS n_ips "
        "FROM documents"
    )


# ------------------------------------------------------- token frequency
TOKEN_TOP_K = 50


def token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequency top-k (count DESC, token ASC rank) —
    the wordcount that seeds tokenizer/BPE training and stopword lists.

    Scale shape: the explode amplifies rows but carries only the token
    string; counting is one partial+final hash aggregate, and the top-k
    is two-phase (per-partition row_number, then final over <= k x P
    survivors) — no single-reducer sort of the full vocabulary."""
    from pyspark.sql.window import Window

    d = read_documents(spark, sf_dir, "text")
    counts = (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    order = [F.col("n").desc(), F.col("token").asc()]
    w1 = Window.partitionBy("_p").orderBy(*order)
    w2 = Window.partitionBy(F.lit(1)).orderBy(*order)
    return (
        # data-derived partial key (not spark_partition_id: retries could
        # reassign rows mid-stage and drop a true top-k token)
        counts.withColumn("_p", F.pmod(F.xxhash64("token"), F.lit(64)))
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= TOKEN_TOP_K)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOKEN_TOP_K)
        .select("token", "n", "rank")
    )


def token_freq_sql() -> str:
    w = tokens_sql("text")
    return (
        f"SELECT token, n, rank FROM ("
        f"SELECT token, COUNT(*) AS n, "
        f"ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rank "
        f"FROM (SELECT unnest({w}) AS token FROM documents) GROUP BY token"
        f") WHERE rank <= {TOKEN_TOP_K}"
    )


# ------------------------------------------- heavy hitters (sketch path)
HH_SLOTS = 512  # Misra-Gries slots per partition


def token_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOKEN_TOP_K,
    slots: int = HH_SLOTS,
    strict: bool = False,
) -> DataFrame:
    """Sketch-path token top-k — the 100 TB complement of the exact
    :func:`token_freq`, the same exact+sketch pairing as
    distinct_series/HLL and percentile/GK.

    Exact counting shuffles one row per DISTINCT token; at web-corpus
    vocabulary sizes (billions of distinct n-grams) that shuffle is the
    bottleneck. This runs Misra-Gries with ``slots`` counters inside
    each partition (mapInPandas, constant memory, zero shuffle), unions
    the surviving candidates — a superset of every token with global
    frequency > N/(slots+1) by the pigeonhole argument — then re-counts
    ONLY candidates exactly in a second pass (hash-agg over a
    broadcast-semi-joined stream).

    The MG pass is vectorized: per Arrow batch, ``value_counts()``
    (C-speed) collapses the stream to one dict op per DISTINCT token,
    and the over-capacity reduce subtracts the (slots+1)-th largest
    counter from all (the mergeable-summaries reduce, Agarwal et al.
    2012) instead of a per-token decrement epoch — same N/(slots+1)
    error bound, no interpreter-bound inner loop.

    Output rows carry ``guaranteed``: true iff the row's exact count
    clears the corpus pigeonhole floor ``N/(slots+1)``, i.e. no unseen
    token can outrank it — counts/ranks down to the last guaranteed row
    are provably exact; rows below it are best-effort (usually still
    exact for Zipfian text, as the unit tests show at 10x tighter
    slots than the bound requires). ``strict=True`` turns any
    non-guaranteed returned row into a runtime error instead.
    """
    from pyspark.sql.window import Window

    m = int(slots)
    d = read_documents(spark, sf_dir, "text")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("token"))

    def _misra_gries(batches):
        import numpy as np
        import pandas as pd

        counts: dict = {}
        for pdf in batches:
            for t, c in pdf["token"].value_counts().items():
                counts[t] = counts.get(t, 0) + int(c)
            excess = len(counts) - m
            if excess > 0:
                # subtract the (m+1)-th largest counter from every one and
                # drop non-positives: at most m values exceed it, and each
                # reduce discards >= (m+1)*v counted mass, so cumulative
                # subtraction stays <= N_part/(m+1) — the MG bound.
                vals = np.fromiter(counts.values(), dtype=np.int64)
                v = int(np.partition(vals, excess - 1)[excess - 1])
                counts = {t: c - v for t, c in counts.items() if c > v}
        yield pd.DataFrame({"token": list(counts.keys())})

    cands = toks.mapInPandas(_misra_gries, schema="token string").distinct()
    exact = (
        toks.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # corpus token total for the pigeonhole floor: map-side sum of sizes
    # (no explode), one scalar broadcast-cross-joined into the result
    total = d.select(F.sum(F.size(tokens(F.col("text")))).alias("_N"))
    order = [F.col("n").desc(), F.col("token").asc()]
    w1 = Window.partitionBy("_p").orderBy(*order)
    w2 = Window.partitionBy(F.lit(1)).orderBy(*order)
    out = (
        exact.withColumn("_p", F.pmod(F.xxhash64("token"), F.lit(64)))
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .crossJoin(F.broadcast(total))
        .withColumn("guaranteed", F.col("n") * F.lit(m + 1) > F.col("_N"))
    )
    if strict:
        # in-plan assertion: folded into the kept column so Catalyst
        # cannot prune it; fires at action time on the first row whose
        # exactness the sketch cannot certify
        chk = F.assert_true(
            F.col("guaranteed"),
            F.concat(
                F.lit("token_heavy_hitters(strict): count "),
                F.col("n"),
                F.lit(" is below the pigeonhole floor N/(slots+1) — "
                      "rank not guaranteed exact; raise slots"),
            ),
        )
        out = out.withColumn("n", F.when(chk.isNull(), F.col("n")))
    return out.select("token", "n", "rank", "guaranteed")


# -------------------------------------------------- repetition (boilerplate)
REP_GRAM_K = 3


def repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document — the boilerplate /
    degenerate-text detector: duplicated k-gram fraction (1 -
    distinct/total 3-grams) and top-word dominance (most frequent
    token's share). All JVM array builtins, map-only, zero shuffle.

    top_word_share is computed as the longest run in the SORTED token
    array via one aggregate() fold — O(n log n) per document, vs the
    naive distinct x count-each formulation that goes quadratic on long
    documents (a 100k-token doc would do ~10^9 comparisons). Same value:
    max run length in sorted order IS the max token frequency.

    r12 plan-shape fix, 28x at sf0.1 (9.20 -> 0.33 s): HOF-containing
    subtrees are excluded from Spark's subexpression elimination AND
    lambda-captured expressions evaluate per element, so the previous
    inline form (a) rebuilt the gram array three times per row via the
    size(g) guard/divisor, and (b) re-ran the token SPLIT once per gram
    inside the transform lambda. The token array is now materialized
    once behind a lazy localCheckpoint (the shared-base rule every
    HOF-over-computed-column op follows), and the guard/divisor use the
    closed form size(g) == max(n_words - k + 1, 0)."""
    d = fan_out(read_documents(spark, sf_dir, "doc_id", "text")).select(
        "doc_id", tokens(F.col("text")).alias("_w")
    ).localCheckpoint(eager=False)
    w = F.col("_w")
    g = grams(w, REP_GRAM_K)
    n_g = F.size(w) - F.lit(REP_GRAM_K - 1)
    dup_frac = F.when(
        n_g > 0,
        F.lit(1.0) - F.size(F.array_distinct(g)) / n_g,
    ).otherwise(F.lit(0.0))

    def _merge(a, x):
        run = F.when(x.eqNullSafe(a["prev"]), a["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(a["best"], run).alias("best")
        )

    max_freq = F.aggregate(
        F.array_sort(w),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        _merge,
        lambda a: a["best"],
    )
    # 0/0 -> NULL matches the previous array_max-over-empty behavior
    top_share = F.when(F.size(w) > 0, max_freq / F.size(w))
    return d.select(
        "doc_id",
        F.round(dup_frac, 6).alias("dup_gram_frac"),
        F.round(top_share, 6).alias("top_word_share"),
    )


def repetition_sql() -> str:
    w = tokens_sql("text")
    k = REP_GRAM_K
    g = (
        f"list_transform(generate_series(1, greatest(len(toks) - {k - 1}, 0)), "
        f"i -> array_to_string(toks[i:i+{k - 1}], ' '))"
    )
    return (
        f"WITH t AS (SELECT doc_id, {w} AS toks FROM documents), "
        f"g AS (SELECT doc_id, toks, {g} AS grams FROM t) "
        f"SELECT doc_id, "
        f"ROUND(CASE WHEN len(grams) > 0 "
        f"THEN 1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE) "
        f"ELSE 0.0 END, 6) AS dup_gram_frac, "
        f"ROUND(list_max(list_transform(list_distinct(toks), "
        f"x -> len(list_filter(toks, y -> y = x)))) "
        f"/ CAST(len(toks) AS DOUBLE), 6) AS top_word_share "
        f"FROM g"
    )


# ------------------------------------------------- unigram LM scoring
def lm_token_base(spark: SparkSession, sf_dir: str) -> dict:
    """Shared tokenized base for the LM scorer family (r17 optimization
    round, guide §2.3: compute the expensive map work once, not once
    per consumer). Returns the three frames ``lm_score`` /
    ``lm_score_bigram`` / ``lm_score_trigram_kn`` otherwise each build
    internally, every one behind a LAZY ``localCheckpoint`` so passing
    the same base to several scorers materializes each frame once for
    all of them:

    - ``d``:     (doc_id, _w) — the tokenized documents (one
      ``tokens(text)`` split over the corpus, THE dominant repeated map
      cost at scale);
    - ``tok``:   (doc_id, token) — the positional unigram stream;
    - ``pairs``: (doc_id, t1, t2) — the positional bigram stream.

    The scorers' per-model tables (uni/bi/tri aggregates, follower and
    continuation counts) stay per-scorer: they are model-keyed
    aggregates, cheap relative to the corpus split, and differ per
    scorer. 100 TB shape: each frame is a map-only derivation of the
    one before it; the checkpoints hold id/token rows only (never raw
    text) and replace k full corpus re-tokenizations with one."""
    d = (
        fan_out(read_documents(spark, sf_dir, "doc_id", "text"))
        .select("doc_id", tokens(F.col("text")).alias("_w"))
        .localCheckpoint(eager=False)
    )
    tok, pairs = _token_streams(d)
    return {"d": d, "tok": tok, "pairs": pairs}


def _token_streams(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(tok, pairs) of a tokenized (doc_id, _w) frame: the positional
    unigram stream (doc_id, token) and bigram stream (doc_id, t1, t2),
    each behind a lazy ``localCheckpoint``. ``d`` must be materialized
    tokens: the pair-struct lambda captures ``_w``, so an inline split
    would re-run once per pair position."""
    w = F.col("_w")
    tok = d.select("doc_id", F.explode(w).alias("token")).localCheckpoint(
        eager=False
    )
    pair_structs = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size(w)),
            lambda i: F.struct(
                F.element_at(w, i - 1).alias("t1"),
                F.element_at(w, i).alias("t2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<t1:string,t2:string>>"))
    pairs = (
        d.select("doc_id", F.explode(pair_structs).alias("p"))
        .select("doc_id", F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
        .localCheckpoint(eager=False)
    )
    return tok, pairs


def _signal_scan(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The quality battery's signal rows over one corpus scan: (doc_id,
    ``cols``, _w, q_quality, g_n_words, g_fail_mask, g_n_failed,
    c4_kept_line_frac, c4_fail_mask, c4_n_failed). The signals are
    :func:`quality_parts` / :func:`gopher_parts` / :func:`c4_parts`
    over one shared token and line split (the split columns are
    projected once and referenced by attribute — CollapseProject keeps
    non-cheap multi-referenced aliases, verified in the r18 plan dumps).

    This one projection is what :func:`signal_token_base` checkpoints
    and what a standalone rule operator (gopher, c4, cutoff) selects
    from unmaterialized: Catalyst prunes the signals it does not
    select, so the standalone plan stays one map-only scan."""
    raw = fan_out(read_documents(spark, sf_dir, "doc_id", *cols, "text")).select(
        "doc_id",
        *cols,
        "text",
        tokens(F.col("text")).alias("_w"),
        F.split(F.col("text"), "\n").alias("_lines"),
    )
    w, lines = F.col("_w"), F.col("_lines")
    _, _, _, q_score = quality_parts(words=w)
    g_n, g_mask, g_nf = gopher_parts(words=w, lines=lines)
    c_kept, c_mask, c_nf = c4_parts(lines=lines)
    return raw.select(
        "doc_id",
        *cols,
        "_w",
        F.round(q_score, 6).alias("q_quality"),
        g_n.cast("long").alias("g_n_words"),
        g_mask.alias("g_fail_mask"),
        g_nf.alias("g_n_failed"),
        c_kept.cast("double").alias("c4_kept_line_frac"),
        c_mask.alias("c4_fail_mask"),
        c_nf.alias("c4_n_failed"),
    )


def signal_token_base(spark: SparkSession, sf_dir: str) -> dict:
    """Superset of :func:`lm_token_base` for the full quality battery
    (guide §2.3): ONE corpus scan evaluates the tokenization AND the
    rule-battery signal columns, behind one lazy ``localCheckpoint``, so
    the battery's non-LM slices (cutoff / gopher / c4) do not re-read
    and re-split the corpus per slice.

    Returns the ``lm_token_base`` keys (``d`` / ``tok`` / ``pairs`` —
    drop-in for the LM scorers) plus ``signals``: the
    :func:`_signal_scan` rows with ``source``, (doc_id, source, _w,
    q_quality, g_*, c4_*).

    100 TB shape: the checkpoint holds token arrays + a handful of
    numeric signal columns per doc (never raw text); it replaces three
    additional corpus scans + text splits (quality, gopher, c4) and —
    via the shared ``tok`` stream — the classifier slice's tokenize with
    map-only derivations of one pass."""
    d_full = _signal_scan(spark, sf_dir, "source").localCheckpoint(eager=False)
    d = d_full.select("doc_id", "_w")
    tok, pairs = _token_streams(d)
    return {"d": d, "tok": tok, "pairs": pairs, "signals": d_full}


def lm_score(
    spark: SparkSession, sf_dir: str, base: "dict | None" = None
) -> DataFrame:
    """Unigram language-model cross-entropy per document — the classic
    corpus-level quality signal (CCNet/Gopher-style filtering uses a
    KenLM perplexity; the unigram LM is its distributed, dependency-free
    form and exercises the same Spark shape). The model is trained on
    the corpus being scored: add-one-smoothed unigram probabilities
    p(t) = (c(t)+1)/(N+V) over the whole-corpus token counts, and each
    document's score is the mean negative log-probability of its tokens
    (nats). High xent = tokens rare in this corpus = outlier/garbage
    candidate; low = boilerplate candidate.

    Float portability: each token's -ln p is rounded to integer
    micro-nats BEFORE the per-doc sum, so the aggregate is an exact
    int64 sum in any summation order (Spark's partial/final tree vs the
    oracle's sequential loop) — the corpus_stats trick.

    100 TB shape: vocab counts are one token-hash aggregate (map-side
    partials collapse each partition to its distinct tokens). Scoring
    re-explodes tokens and joins the vocab; natural-language vocab is
    ~1e7 rows — broadcastable — and the totals (N, V) ride along as a
    crossJoin of a broadcast 1-row aggregate, so no collect() and no
    corpus shuffle: the only wide exchange carries (doc_id, token) ids.

    ``base``: a :func:`lm_token_base` (or :func:`signal_token_base`)
    bundle shares the corpus tokenization with the other LM scorers;
    without one the call builds its own ``lm_token_base``.
    """
    tok = (base or lm_token_base(spark, sf_dir))["tok"]
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    totals = vocab.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )
    nll_micro = F.round(
        -F.log((F.col("c") + 1.0) / (F.col("n_total") + F.col("v_size")))
        * 1_000_000
    ).cast("long")
    return (
        tok.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(nll_micro) / (F.count(F.lit(1)) * F.lit(1_000_000.0)), 6
            ).alias("xent"),
        )
    )


def lm_score_sql() -> str:
    w = tokens_sql("text")
    nll = (
        "CAST(ROUND(-ln((c + 1.0) / (n_total + v_size)) * 1000000) AS BIGINT)"
    )
    return (
        f"WITH tok AS (SELECT doc_id, unnest({w}) AS token FROM documents), "
        "vocab AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token), "
        "tot AS (SELECT SUM(c) AS n_total, COUNT(*) AS v_size FROM vocab) "
        "SELECT doc_id, COUNT(*) AS n_tokens, "
        f"ROUND(SUM({nll}) / (COUNT(*) * 1000000.0), 6) AS xent "
        "FROM tok JOIN vocab USING (token) CROSS JOIN tot "
        "GROUP BY doc_id"
    )


# ------------------------------------------- adaptive quality filtering
CUTOFF_PCT = 0.10  # drop the worst decile per source


def quality_cutoff_filter(
    spark: SparkSession, sf_dir: str, base: "dict | None" = None
) -> DataFrame:
    """Adaptive per-domain quality filtering: instead of one global
    threshold (which empties low-register domains and keeps everything
    from clean ones), each source drops its own worst CUTOFF_PCT
    quantile — the per-domain percentile filtering step of
    Gopher/FineWeb-style curation. The cutoff is the EXACT interpolated
    quantile (Spark `percentile` ≡ DuckDB `quantile_cont`, the q21
    portability pair), rounded to 6 dp on both engines before the
    boundary compare so a doc sitting exactly on the cutoff is kept or
    dropped identically everywhere.

    100 TB shape: cutoffs are one #sources-row exact-percentile
    aggregate (partial+final; the shuffle carries per-source sketch rows
    only) broadcast back onto the scored scan; the keep test is a
    map-side compare. Exact percentile at this grouping is cheap because
    cardinality is #domains, not #docs — for per-token-level quantiles
    the approx_percentile sketch is the scale path (aggregate.py:73).

    The scored (doc_id, source, quality) rows are the battery signals:
    a :func:`signal_token_base` bundle's checkpoint when ``base`` is
    given, else the same projection over one scan. Source rides the
    scored row, so the oracle's doc_id join (1:1 on the unique key) has
    no Spark counterpart.
    """
    signals = base["signals"] if base else _signal_scan(spark, sf_dir, "source")
    scored = signals.select("doc_id", "source", F.col("q_quality").alias("quality"))
    cuts = scored.groupBy("source").agg(
        F.round(F.percentile("quality", F.lit(CUTOFF_PCT)), 6).alias("cutoff")
    )
    return (
        scored.join(F.broadcast(cuts), "source")
        .filter(F.col("quality") >= F.col("cutoff"))
        .select("doc_id", "source", "quality", "cutoff")
    )


def quality_cutoff_filter_sql() -> str:
    return (
        f"WITH qual AS ({quality_sql()}), "
        "scored AS (SELECT d.doc_id, d.source, q.quality FROM documents d "
        "JOIN qual q ON d.doc_id = q.doc_id), "
        "cuts AS (SELECT source, "
        f"ROUND(quantile_cont(quality, {CUTOFF_PCT}), 6) AS cutoff "
        "FROM scored GROUP BY source) "
        "SELECT s.doc_id, s.source, s.quality, c.cutoff "
        "FROM scored s JOIN cuts c ON s.source = c.source "
        "WHERE s.quality >= c.cutoff"
    )


# ---------------------------------------- CCNet perplexity buckets (r10)
PPL_TERCILES = (1 / 3, 2 / 3)  # head | middle | tail boundaries


def perplexity_buckets(
    spark: SparkSession,
    sf_dir: str,
    lm_xent: "DataFrame | None" = None,
    src: "DataFrame | None" = None,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.4): within
    each domain, documents partition into perplexity TERCILES of the
    LM cross-entropy — 'head' (most fluent third, <= p33), 'middle'
    (<= p67), 'tail' (the rest); CCNet pipelines typically train on
    head+middle and hold tail for inspection. Distinct from
    :func:`quality_cutoff_filter`: that drops a fixed worst quantile,
    this LABELS the whole corpus so the downstream mixture can choose.
    Cutpoints are the exact interpolated percentile (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, the q21 portability
    pair), 6-dp-rounded before the boundary compares so a doc sitting
    exactly on a cutpoint buckets identically everywhere.

    Returns (doc_id, source, xent, head_cut, tail_cut, bucket).

    100 TB shape: lm_score's own token-hash-agg plan + ONE
    #sources-row exact-percentile aggregate broadcast back; the bucket
    label is a map-side compare — no additional corpus shuffle.

    ``lm_xent`` (a frame carrying doc_id + xent) and ``src`` (one
    carrying doc_id + source) are the two inputs: the x22 battery passes
    its lm slice's scored frame and its :func:`signal_token_base`
    checkpoint, so the unigram pass and the scan are shared. A
    standalone call scores with :func:`lm_score` and reads the sources."""
    if lm_xent is None:
        lm_xent = lm_score(spark, sf_dir)
    if src is None:
        src = read_documents(spark, sf_dir, "doc_id", "source")
    scored = src.select("doc_id", "source").join(
        lm_xent.select("doc_id", "xent"), "doc_id"
    )
    p1, p2 = PPL_TERCILES
    cuts = scored.groupBy("source").agg(
        F.round(F.percentile("xent", F.lit(p1)), 6).alias("head_cut"),
        F.round(F.percentile("xent", F.lit(p2)), 6).alias("tail_cut"),
    )
    bucket = (
        F.when(F.col("xent") <= F.col("head_cut"), F.lit("head"))
        .when(F.col("xent") <= F.col("tail_cut"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(cuts), "source")
        .select(
            "doc_id", "source", "xent", "head_cut", "tail_cut",
            bucket.alias("bucket"),
        )
    )


def perplexity_buckets_sql() -> str:
    p1, p2 = PPL_TERCILES
    return (
        f"WITH lm AS ({lm_score_sql()}), "
        "scored AS (SELECT d.doc_id, d.source, lm.xent FROM documents d "
        "JOIN lm ON d.doc_id = lm.doc_id), "
        "cuts AS (SELECT source, "
        f"ROUND(quantile_cont(xent, {p1!r}), 6) AS head_cut, "
        f"ROUND(quantile_cont(xent, {p2!r}), 6) AS tail_cut "
        "FROM scored GROUP BY source) "
        "SELECT s.doc_id, s.source, s.xent, c.head_cut, c.tail_cut, "
        "CASE WHEN s.xent <= c.head_cut THEN 'head' "
        "WHEN s.xent <= c.tail_cut THEN 'middle' ELSE 'tail' END AS bucket "
        "FROM scored s JOIN cuts c ON s.source = c.source"
    )


# ------------------------------------------------------- Gopher rule filter
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_WLEN = (3.0, 10.0)
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
# Gopher's English required set is {the be to of and that have with}; the
# synthetic corpus' vocabulary only reaches {the, a}, so the shipped
# default is the module's corpus-calibrated STOPWORDS — swap the tuple to
# deploy the paper's set verbatim (the rule is set-parametric).
GOPHER_REQ_STOPWORDS = STOPWORDS
GOPHER_MIN_REQ_STOPS = 2
GOPHER_RULE_NAMES = (  # bit i of fail_mask = rule i violated
    "word_count", "mean_word_len", "symbol_ratio", "bullet_lines",
    "ellipsis_lines", "alpha_words", "req_stopwords",
)


def gopher_parts(words=None, lines=None) -> tuple:
    """(n_words, fail_mask, n_failed) Column expressions over a ``text``
    column — shared by :func:`gopher_rules` (directory scan) and the
    streaming gate (talna_spark.streaming.documents), the quality_parts
    pattern: keeping the rules as free-standing map-only expressions is
    what lets the SAME battery run on batch scans and micro-batches.

    ``words`` / ``lines``: pre-split token / line array columns so
    :func:`_signal_scan` shares one split across batteries; the
    expressions over them are unchanged, so values are bit-identical."""
    w = tokens(F.col("text")) if words is None else words
    n = F.size(w)
    mean_wlen = F.round(
        F.aggregate(w, F.lit(0).cast("long"),
                    lambda acc, t: acc + F.length(t)).cast("double") / n,
        6,
    )
    hash_n = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit("#"), F.lit(""))
    )
    ell_n = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.round((hash_n + ell_n) / n, 6)
    if lines is None:
        lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines)
    bullet_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda l: F.ltrim(l).startswith("-")
                | F.ltrim(l).startswith("*")
                | F.ltrim(l).startswith("•"),
            )
        )
        / n_lines,
        6,
    )
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
        / n_lines,
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter(w, lambda t: t.rlike("[a-z]"))) / n, 6
    )
    req_hits = _count_in(F.array_distinct(w), GOPHER_REQ_STOPWORDS)
    fails = [
        (n < GOPHER_MIN_WORDS) | (n > GOPHER_MAX_WORDS),
        (mean_wlen < GOPHER_MEAN_WLEN[0]) | (mean_wlen > GOPHER_MEAN_WLEN[1]),
        symbol_ratio > GOPHER_MAX_SYMBOL_RATIO,
        bullet_frac > GOPHER_MAX_BULLET_FRAC,
        ellipsis_frac > GOPHER_MAX_ELLIPSIS_FRAC,
        alpha_frac < GOPHER_MIN_ALPHA_FRAC,
        req_hits < GOPHER_MIN_REQ_STOPS,
    ]
    mask = fails[0].cast("long") * 0
    for i, f_ in enumerate(fails):
        mask = mask + f_.cast("long") * (2 ** i)
    n_failed = sum(f_.cast("long") for f_ in fails)
    return n, mask, n_failed


def _verdict(mask: str, n_failed: str) -> tuple:
    """(fail_mask, n_failed, verdict) output columns of a rule battery
    from its signal columns."""
    m = F.col(mask)
    return (
        m.alias("fail_mask"),
        F.col(n_failed).alias("n_failed"),
        F.when(m == 0, F.lit("pass")).otherwise(F.lit("fail")).alias("verdict"),
    )


def gopher_rules(
    spark: SparkSession, sf_dir: str, base: "dict | None" = None
) -> DataFrame:
    """The Gopher rule battery (Rae et al. 2021, App. A1.1) — the
    hard-rule companion to the soft ``quality`` score, the filter set
    MassiveText/RedPajama/Dolma-class pipelines run verbatim: word count
    in [50, 100k]; mean word length in [3, 10]; '#'/'...'-symbol-to-word
    ratio <= 0.1; <= 90% of lines bullet-led; <= 30% of lines
    ellipsis-ended; >= 80% of words containing a letter; >= 2 distinct
    hits on the required-stopword set {the be to of and that have with}.

    Output packs the verdict portably: ``fail_mask`` has bit *i* set iff
    rule ``GOPHER_RULE_NAMES[i]`` is violated (so the driver hash pins
    every individual rule), ``n_failed`` its popcount, ``verdict``
    'pass'/'fail'. Ratio thresholds compare on 6-dp-rounded values so
    boundary docs resolve identically in both engines.

    100 TB shape: pure map-only projection over one corpus scan — all
    JVM array/string builtins, no UDF, no shuffle, codegen end-to-end
    (same class as quality/lang_id; plan-tested with them).

    The rule columns are the battery signals: a :func:`signal_token_base`
    bundle's checkpoint when ``base`` is given, else the same projection
    over one scan.
    """
    signals = base["signals"] if base else _signal_scan(spark, sf_dir)
    return signals.select(
        "doc_id",
        F.col("g_n_words").alias("n_words"),
        *_verdict("g_fail_mask", "g_n_failed"),
    )


def gopher_rules_sql() -> str:
    w = tokens_sql("text")
    n = f"len({w})"
    mean_wlen = f"ROUND(list_sum(list_transform({w}, t -> length(t))) * 1.0 / {n}, 6)"
    hash_n = "(length(text) - length(replace(text, '#', '')))"
    ell_n = "((length(text) - length(replace(text, '...', ''))) / 3)"
    symbol_ratio = f"ROUND(({hash_n} + {ell_n}) * 1.0 / {n}, 6)"
    lines = "string_split(text, chr(10))"
    n_lines = f"len({lines})"
    bullet = (
        f"ROUND(len(list_filter({lines}, l -> ltrim(l) LIKE '-%' "
        f"OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%')) * 1.0 / {n_lines}, 6)"
    )
    ellipsis = (
        f"ROUND(len(list_filter({lines}, l -> rtrim(l) LIKE '%...')) "
        f"* 1.0 / {n_lines}, 6)"
    )
    alpha = (
        f"ROUND(len(list_filter({w}, t -> regexp_matches(t, '[a-z]'))) "
        f"* 1.0 / {n}, 6)"
    )
    req = _count_in_sql(f"list_distinct({w})", GOPHER_REQ_STOPWORDS)
    fails = [
        f"({n} < {GOPHER_MIN_WORDS} OR {n} > {GOPHER_MAX_WORDS})",
        f"({mean_wlen} < {GOPHER_MEAN_WLEN[0]} OR {mean_wlen} > {GOPHER_MEAN_WLEN[1]})",
        f"({symbol_ratio} > {GOPHER_MAX_SYMBOL_RATIO})",
        f"({bullet} > {GOPHER_MAX_BULLET_FRAC})",
        f"({ellipsis} > {GOPHER_MAX_ELLIPSIS_FRAC})",
        f"({alpha} < {GOPHER_MIN_ALPHA_FRAC})",
        f"({req} < {GOPHER_MIN_REQ_STOPS})",
    ]
    mask = " + ".join(
        f"(CASE WHEN {f_} THEN {2 ** i} ELSE 0 END)" for i, f_ in enumerate(fails)
    )
    n_failed = " + ".join(
        f"(CASE WHEN {f_} THEN 1 ELSE 0 END)" for f_ in fails
    )
    return (
        f"SELECT doc_id, CAST({n} AS BIGINT) AS n_words, "
        f"CAST({mask} AS BIGINT) AS fail_mask, "
        f"CAST({n_failed} AS BIGINT) AS n_failed, "
        f"CASE WHEN ({mask}) = 0 THEN 'pass' ELSE 'fail' END AS verdict "
        "FROM documents"
    )


# ------------------------------------------------- compression-ratio signal
def compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per document — the Gopher/Dolma-class
    degenerate-text signal the n-gram heuristics miss: highly repetitive
    or templated text compresses far below natural prose, while
    random/encrypted junk barely compresses at all (ratio ~1). Healthy
    natural language sits in a mid band; both tails are drop candidates.

    Engine note: DuckDB has no zlib, so this is a unit-oracle operator
    (tests recompute ratios with the same stdlib call doc-by-doc) — the
    codec-op pattern, not a driver SQL row.

    100 TB shape: Arrow-batched mapInPandas, bounded memory (one batch of
    texts at a time), no shuffle, embarrassingly parallel; level pinned
    so ratios are stable across zlib builds' default drift.
    """
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_bytes", LongType()),
            StructField("n_zbytes", LongType()),
            StructField("ratio", DoubleType()),
        ]
    )

    def _compress(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf["text"]]
            nb = [len(b) for b in raw]
            nz = [len(zlib.compress(b, 6)) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": nb,
                    "n_zbytes": nz,
                    "ratio": [
                        round(b / z, 6) if z else 0.0 for b, z in zip(nb, nz)
                    ],
                }
            )

    d = read_documents(spark, sf_dir, "doc_id", "text")
    return d.mapInPandas(_compress, schema=out_schema)


# ----------------------------------------------------- C4 rule battery
# Raffel et al. 2020 (§2.2): the cleaning heuristics behind C4. The
# paper's line-level removals are folded into one document-level
# retention metric (kept_line_frac) so the battery stays a single
# map-only projection; the doc-level drops are literal. No reference
# analog (SURVEY.md §2.2) — scale-pipeline extension.

C4_MIN_SENTENCES = 3         # "discarded any page with fewer than 3 sentences"
C4_LINE_MIN_WORDS = 5        # "only retained lines that contained >= 5 words"
C4_MIN_KEPT_LINE_FRAC = 0.5  # doc fails when C4 would strip most of it
C4_POLICY_PHRASES = (
    "terms of use", "privacy policy", "cookie policy", "uses cookies",
)
C4_RULE_NAMES = (  # bit i of fail_mask = rule i violated
    "too_few_sentences",   # < 3 terminal-punctuation sentences
    "lorem_ipsum",         # placeholder text anywhere
    "curly_brace",         # '{' anywhere (code page)
    "policy_phrase",       # any boilerplate policy phrase
    "low_line_retention",  # C4's line rules would keep < 50% of lines
)


def c4_parts(lines=None) -> tuple:
    """(kept_line_frac, fail_mask, n_failed) Column expressions over a
    ``text`` column — the gopher_parts pattern, reusable on batch scans
    and micro-batches alike.

    ``lines``: a pre-split line array column so
    :func:`_signal_scan` shares one line split with gopher_parts;
    the per-line rules over it are unchanged (bit-identical values)."""
    low = F.lower(F.col("text"))
    L = F.length(low)
    n_sent = sum(
        L - F.length(F.replace(low, F.lit(ch), F.lit(""))) for ch in ".!?"
    )
    if lines is None:
        lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines)

    def keep_line(l):
        r = F.rtrim(l)
        terminal = (
            r.endswith(".") | r.endswith("!") | r.endswith("?")
            | r.endswith('"')
        )
        enough = F.size(F.split(F.trim(l), r"\s+")) >= C4_LINE_MIN_WORDS
        return terminal & enough & ~F.lower(l).contains("javascript")

    kept_frac = F.round(F.size(F.filter(lines, keep_line)) / n_lines, 6)
    policy = F.lit(False)
    for p in C4_POLICY_PHRASES:
        policy = policy | low.contains(p)
    fails = [
        n_sent < C4_MIN_SENTENCES,
        low.contains("lorem ipsum"),
        low.contains("{"),
        policy,
        kept_frac < C4_MIN_KEPT_LINE_FRAC,
    ]
    mask = fails[0].cast("long") * 0
    for i, f_ in enumerate(fails):
        mask = mask + f_.cast("long") * (2 ** i)
    n_failed = sum(f_.cast("long") for f_ in fails)
    return kept_frac, mask, n_failed


def c4_rules(
    spark: SparkSession, sf_dir: str, base: "dict | None" = None
) -> DataFrame:
    """The C4 cleaning battery (Raffel et al. 2020 §2.2) as doc-level
    fail flags: fewer than 3 sentences (terminal-punctuation count);
    'lorem ipsum'; a curly brace; a boilerplate policy phrase; and C4's
    line rules (line must end in terminal punctuation, carry >= 5 words,
    not mention javascript) folded into kept_line_frac < 0.5.

    Same output contract as :func:`gopher_rules`: ``fail_mask`` bit *i*
    = ``C4_RULE_NAMES[i]`` violated, ``n_failed`` its popcount,
    ``verdict`` 'pass'/'fail'; kept_line_frac is 6-dp-rounded before the
    threshold so boundary docs resolve identically in both engines.

    100 TB shape: map-only JVM projection over one corpus scan — no
    UDF, no shuffle, codegen end-to-end (same class as gopher_rules).

    The rule columns come as in :func:`gopher_rules`.
    """
    signals = base["signals"] if base else _signal_scan(spark, sf_dir)
    return signals.select(
        "doc_id",
        F.col("c4_kept_line_frac").alias("kept_line_frac"),
        *_verdict("c4_fail_mask", "c4_n_failed"),
    )


def c4_rules_sql() -> str:
    low = "lower(text)"
    n_sent = " + ".join(
        f"(length({low}) - length(replace({low}, '{ch}', '')))"
        for ch in (".", "!", "?")
    )
    lines = "string_split(text, chr(10))"
    n_lines = f"len({lines})"
    keep = (
        "l -> (rtrim(l) LIKE '%.' OR rtrim(l) LIKE '%!' "
        "OR rtrim(l) LIKE '%?' OR rtrim(l) LIKE '%\"') "
        f"AND len(regexp_split_to_array(trim(l), '\\s+')) >= {C4_LINE_MIN_WORDS} "
        "AND NOT contains(lower(l), 'javascript')"
    )
    kept_frac = f"ROUND(len(list_filter({lines}, {keep})) * 1.0 / {n_lines}, 6)"
    policy = " OR ".join(f"contains({low}, '{p}')" for p in C4_POLICY_PHRASES)
    fails = [
        f"(({n_sent}) < {C4_MIN_SENTENCES})",
        f"contains({low}, 'lorem ipsum')",
        f"contains({low}, '{{')",
        f"({policy})",
        f"({kept_frac} < {C4_MIN_KEPT_LINE_FRAC})",
    ]
    mask = " + ".join(
        f"(CASE WHEN {f_} THEN {2 ** i} ELSE 0 END)" for i, f_ in enumerate(fails)
    )
    n_failed = " + ".join(f"(CASE WHEN {f_} THEN 1 ELSE 0 END)" for f_ in fails)
    return (
        f"SELECT doc_id, CAST({kept_frac} AS DOUBLE) AS kept_line_frac, "
        f"CAST({mask} AS BIGINT) AS fail_mask, "
        f"CAST({n_failed} AS BIGINT) AS n_failed, "
        f"CASE WHEN ({mask}) = 0 THEN 'pass' ELSE 'fail' END AS verdict "
        "FROM documents"
    )


# ------------------------------------------------- encoding-damage signals
def unicode_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake / encoding-damage scan — the cleanup signals a crawl
    pipeline checks before any text op (ftfy-class damage shows up as
    U+FFFD replacement characters and stray C0/C1 control bytes):

    - ``replacement_ratio``: U+FFFD count / char length (decode damage);
    - ``ctrl_count``: control chars other than \\t \\n \\r — the C0
      band, DEL, and the C1 band U+0080-U+009F (the classic cp1252
      mojibake range: binary bleed-through AND double-decode damage);
    - ``nonascii_ratio``: chars outside printable ASCII / char length,
      with tab/newline/CR exempt as structure (consistent with
      ctrl_count) so a clean multi-line doc scores 0 — expected nonzero
      for most languages (a *prior*, not a failure); combined with
      lang-ID it flags latin-labeled docs full of high bytes.

    100 TB shape: map-only JVM regexp counts over one corpus scan — no
    UDF, no shuffle, codegen end-to-end (the quality/lang_id class).
    """
    d = read_documents(spark, sf_dir, "doc_id", "text")
    L = F.greatest(F.length("text"), F.lit(1))
    repl = F.size(F.regexp_extract_all("text", F.lit("(�)"), 1))
    ctrl = F.size(
        F.regexp_extract_all(
            "text", F.lit("([\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f])"), 1
        )
    )
    nonascii = F.size(
        F.regexp_extract_all("text", F.lit("([^\\x20-\\x7e\\t\\n\\r])"), 1)
    )
    return d.select(
        "doc_id",
        F.round(repl / L, 6).alias("replacement_ratio"),
        ctrl.cast("long").alias("ctrl_count"),
        F.round(nonascii / L, 6).alias("nonascii_ratio"),
    )


def unicode_signals_sql() -> str:
    L = "GREATEST(length(text), 1)"
    repl = "len(regexp_extract_all(text, chr(65533)))"
    ctrl = (
        "len(regexp_extract_all(text, "
        "'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]'))"
    )
    nonascii = (
        "len(regexp_extract_all(text, '[^\\x20-\\x7e\\t\\n\\r]'))"
    )
    return (
        f"SELECT doc_id, ROUND({repl} * 1.0 / {L}, 6) AS replacement_ratio, "
        f"CAST({ctrl} AS BIGINT) AS ctrl_count, "
        f"ROUND({nonascii} * 1.0 / {L}, 6) AS nonascii_ratio "
        "FROM documents"
    )


# ------------------------------------------------- script detection (r10)
# --------------------------------------- information signals (r13)
# Character-level Shannon entropy: the information-theoretic junk
# signal alongside the ratio heuristics and the existing
# compression_ratio op (low bits/char = repetitive/templated junk;
# ~4.1 bits/char is typical English prose).
ENTROPY_UNIT = 1_000_000_000  # nano-bits: integer per-term quantization


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chars, distinct_chars, entropy_nanobits): per-doc
    Shannon entropy of the character distribution, in integer NANO-BITS
    (the DSIR micro-nat discipline: each (doc, char) term
    n_i * log2(N/n_i) / N quantizes to an int64 BEFORE the sum, so the
    cross-engine result never depends on double summation order — the
    one log per term is pinned by the quantization). Empty/NULL docs
    report zero entropy over zero chars.

    100 TB shape: explode chars -> ONE count hash-agg keyed
    (doc, char) whose map-side partials compress the stream to
    docs x alphabet rows, then a window + sum over that TINY frame
    (per-doc rows <= the alphabet, so no skew funnel)."""
    from pyspark.sql.window import Window as W

    d = read_documents(spark, sf_dir, "doc_id", "text")
    counts = (
        d.select(
            "doc_id", F.explode(F.split(F.col("text"), "")).alias("c")
        )
        .filter(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("doc_id")
    total = F.sum("n").over(w)
    term = F.round(
        F.col("n")
        * (F.log2(total.cast("double")) - F.log2(F.col("n").cast("double")))
        / total
        * F.lit(float(ENTROPY_UNIT))
    ).cast("long")
    per_doc = (
        counts.select("doc_id", F.col("n"), term.alias("t"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("long").alias("distinct_chars"),
            F.sum("t").cast("long").alias("entropy_nanobits"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
            F.coalesce("distinct_chars", F.lit(0)).alias("distinct_chars"),
            F.coalesce("entropy_nanobits", F.lit(0)).alias(
                "entropy_nanobits"
            ),
        )
    )


def char_entropy_sql() -> str:
    """DuckDB twin: identical per-term nano-bit quantization, identical
    integer sums."""
    return (
        "WITH ch AS (SELECT doc_id, c FROM (SELECT doc_id, "
        "unnest(regexp_split_to_array(text, '')) AS c FROM documents) "
        "WHERE c != ''), "
        "counts AS (SELECT doc_id, c, COUNT(*) AS n FROM ch "
        "GROUP BY 1, 2), "
        "terms AS (SELECT doc_id, n, CAST(round(n * (log2(CAST("
        "SUM(n) OVER (PARTITION BY doc_id) AS DOUBLE)) - "
        "log2(CAST(n AS DOUBLE))) / SUM(n) OVER (PARTITION BY doc_id) "
        f"* {float(ENTROPY_UNIT)!r}) AS BIGINT) AS t FROM counts), "
        "agg AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars, "
        "CAST(COUNT(*) AS BIGINT) AS distinct_chars, "
        "CAST(SUM(t) AS BIGINT) AS entropy_nanobits FROM terms "
        "GROUP BY doc_id) "
        "SELECT d.doc_id, COALESCE(a.n_chars, 0) AS n_chars, "
        "COALESCE(a.distinct_chars, 0) AS distinct_chars, "
        "COALESCE(a.entropy_nanobits, 0) AS entropy_nanobits "
        "FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id"
    )


# ------------------------------------------- encoding repair (r13)
# The REPAIR step behind unicode_signals' detection: the dominant
# mojibake class is UTF-8 bytes decoded as cp1252/latin-1 ("ftfy"-class
# damage: 'Ã©' where 'é' was meant), sometimes applied twice. Repair =
# re-encode under the sloppy single-byte codec and re-decode as UTF-8,
# accepted ONLY when the decode succeeds AND strictly reduces a damage
# score — a conservative fixed point: clean text (which round-trips to
# the same score) is never touched, and the loop re-runs until no
# round improves (double-encoded damage unwinds in two).
MOJIBAKE_MAX_ROUNDS = 3

# chars whose PRESENCE marks likely cp1252-mojibake (UTF-8 lead/
# continuation bytes viewed through cp1252), plus the C1 band and
# U+FFFD; the score counts them so a repair must strictly shrink it
_MOJIBAKE_MARKERS = "\u00c2\u00c3\u00c4\u00c5\u0082\u201a\u0192\u201e\u2026\u2020\u2021\u02c6\u2030\u0160\u2039\u0152\u017d\u2018\u2019\u201c\u201d\u2022\u2013\u2014\u02dc\u2122\u0161\u203a\u0153\u017e\u0178\ufffd"


# the damage score is one precompiled character-class findall over C1
# (U+0080-U+009F) + the marker set — C-speed (~13x over a per-character
# loop on clean 9 KB text, the common case, where the score gates the
# whole repair loop)
_MOJIBAKE_RE = re.compile("[\x80-\x9f" + re.escape(_MOJIBAKE_MARKERS) + "]")


def _mojibake_fix_one(text: str, max_rounds: int) -> tuple[str, int]:
    """(fixed_text, rounds_applied): undo up to ``max_rounds`` layers of
    cp1252/latin-1 double decoding, each only if it strictly lowers the
    damage score."""
    rounds = 0
    cur = text
    cur_score = len(_MOJIBAKE_RE.findall(cur))
    while rounds < max_rounds and cur_score > 0:
        try:
            raw = cur.encode("cp1252")
        except UnicodeEncodeError:
            try:
                raw = cur.encode("latin-1")
            except UnicodeEncodeError:
                break
        try:
            cand = raw.decode("utf-8")
        except UnicodeDecodeError:
            break
        cand_score = len(_MOJIBAKE_RE.findall(cand))
        if cand_score >= cur_score:
            break
        cur, cur_score = cand, cand_score
        rounds += 1
    return cur, rounds


def fix_mojibake(
    df: DataFrame,
    text_col: str = "text",
    out: str = "text_fixed",
    max_rounds: int = MOJIBAKE_MAX_ROUNDS,
) -> DataFrame:
    """Repair cp1252/latin-1 double-decode mojibake in ``text_col``,
    adding ``out`` (the repaired text) and ``{out}_rounds`` (how many
    decode layers unwound; 0 = untouched). NULL text passes through as
    NULL with rounds 0. Conservative by construction — see the module
    comment; unit-oracled against byte-level fixtures (codecs are not
    SQL-expressible, so this op is unit-tier like the tokenizer seams).

    100 TB shape: Arrow-batched mapInPandas, map-only, zero shuffle —
    the multimodal-codec seam discipline; all other columns pass
    through untouched."""
    import pandas as pd

    cols = df.columns
    if text_col not in cols:
        raise ValueError(f"fix_mojibake input needs {text_col!r}")
    rounds_col = f"{out}_rounds"
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    # StructType.add mutates in place — never touch df.schema itself
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(out, StringType()), StructField(rounds_col, IntegerType())]
    )
    mr = int(max_rounds)

    def _fix(batches):
        for pdf in batches:
            fixed, nr = [], []
            for t in pdf[text_col]:
                if t is None:
                    fixed.append(None)
                    nr.append(0)
                else:
                    f, r = _mojibake_fix_one(t, mr)
                    fixed.append(f)
                    nr.append(r)
            pdf = pdf.copy()
            pdf[out] = pd.Series(fixed, index=pdf.index, dtype=object)
            pdf[rounds_col] = pd.Series(nr, index=pdf.index, dtype="int32")
            yield pdf

    return df.mapInPandas(_fix, schema=out_schema)


def nfc_normalize_text(
    df: DataFrame, text_col: str = "text", out: str = "text_nfc"
) -> DataFrame:
    """Unicode NFC normalization of ``text_col`` into ``out`` — the
    canonical-composition step quality signals and dedup hashes assume
    (decomposed 'e'+COMBINING ACUTE and composed 'é' must hash alike).
    Spark has no normalization builtin, so this is the Arrow
    mapInPandas seam running CPython's unicodedata NFC; the driver
    slice proves it against DuckDB's nfc_normalize — two INDEPENDENT
    implementations of the same published Unicode algorithm must agree
    byte-for-byte (x01 ``kind=nfc``). NFKC (compatibility folding) is
    deliberately NOT applied: 'ﬁ'/'²' are meaning-bearing and their
    folding is a separate, lossy decision.

    100 TB shape: map-only, zero shuffle, all columns pass through."""
    import pandas as pd

    if text_col not in df.columns:
        raise ValueError(f"nfc_normalize_text input needs {text_col!r}")
    from pyspark.sql.types import StringType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField(out, StringType())]
    )

    def _norm(batches):
        import unicodedata

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out] = pd.Series(
                [
                    None if t is None else unicodedata.normalize("NFC", t)
                    for t in pdf[text_col]
                ],
                index=pdf.index,
                dtype=object,
            )
            yield pdf

    return df.mapInPandas(_norm, schema=out_schema)


# the closed-form decorations the x01 `nfc` driver slice appends to each
# doc (doc_id % len picks one): denormalized sequences NFC must compose
# (combining marks, Hangul jamo) plus an NFKC-only form NFC must LEAVE
# (the algorithm-identity check, not just the plumbing)
NFC_DECORATIONS = (
    "e\u0301",        # -> é
    "A\u030a",        # -> Å
    "o\u0308q\u0307",  # -> ö + q̇ (q has no precomposed dot form)
    "\u1100\u1161",   # Hangul jamo -> 가
    "\ufb01\u00b2",   # NFKC-only forms: NFC must keep ﬁ and ²
    "s\u0323\u0307",  # s + dot-below + dot-above -> ṩ (reorder + compose)
)


def nfc_demo_decoration(doc_id_col) -> F.Column:
    """The doc's decoration as a Column (element_at is 1-based)."""
    return F.element_at(
        F.array(*[F.lit(d) for d in NFC_DECORATIONS]),
        (doc_id_col % F.lit(len(NFC_DECORATIONS))).cast("int") + F.lit(1),
    )


def nfc_demo_decoration_sql(doc_id_expr: str) -> str:
    arr = ", ".join(
        "'" + d.replace("'", "''") + "'" for d in NFC_DECORATIONS
    )
    return (
        f"list_value({arr})[CAST(({doc_id_expr}) % "
        f"{len(NFC_DECORATIONS)} AS INT) + 1]"
    )


# Unicode script ranges (BMP; name -> inclusive codepoint ranges). The
# routing signal fastText-class pipelines compute BEFORE language ID:
# script narrows the candidate language set and catches mislabeled
# docs cheaply. Latin excludes the Latin-1 math signs (U+00D7/U+00F7).
_SCRIPT_RANGES = (
    ("arabic", ((0x0600, 0x06FF), (0x0750, 0x077F))),
    ("cyrillic", ((0x0400, 0x04FF),)),
    ("devanagari", ((0x0900, 0x097F),)),
    ("greek", ((0x0370, 0x03FF),)),
    ("han", ((0x4E00, 0x9FFF), (0x3400, 0x4DBF))),
    ("hangul", ((0xAC00, 0xD7AF), (0x1100, 0x11FF))),
    ("kana", ((0x3040, 0x30FF),)),
    (
        "latin",
        (
            (0x41, 0x5A),
            (0x61, 0x7A),
            (0xC0, 0xD6),
            (0xD8, 0xF6),
            (0xF8, 0x024F),
        ),
    ),
)
_SCRIPT_PAD = 9_999_999_999  # > any char count; keys sort by count DESC


def _script_class_java(ranges) -> str:
    return "".join(f"\\u{a:04x}-\\u{b:04x}" for a, b in ranges)


def _script_class_re2(ranges) -> str:
    # DuckDB regexps are RE2: \x{...} syntax, not \uXXXX
    return "".join(
        f"\\x{{{a:04X}}}-\\x{{{b:04X}}}" for a, b in ranges
    )


def script_parts(text_col=None):
    """(script, best, total) Column triple over a text column — the
    expression core of :func:`script_id`, reusable inline wherever the
    scan already flows (the curate() script gate computes it map-side
    with no extra join)."""
    t = F.coalesce(
        text_col if text_col is not None else F.col("text"), F.lit("")
    )
    cnts = [
        F.size(
            F.regexp_extract_all(
                t, F.lit(f"([{_script_class_java(r)}])"), 1
            )
        ).cast("long")
        for _n, r in _SCRIPT_RANGES
    ]
    keys = [
        F.concat(
            F.lpad((F.lit(_SCRIPT_PAD) - c).cast("string"), 10, "0"),
            F.lit("|"),
            F.lit(n),
        )
        for (n, _r), c in zip(_SCRIPT_RANGES, cnts)
    ]
    win = F.array_min(F.array(*keys))
    best = F.lit(_SCRIPT_PAD) - F.split(win, r"\|").getItem(0).cast("long")
    total = cnts[0]
    for c in cnts[1:]:
        total = total + c
    script = F.when(best == 0, F.lit("none")).otherwise(
        F.split(win, r"\|").getItem(1)
    )
    return script, best, total


def script_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant Unicode script per document — ISO 15924-style routing:
    count characters in each script's codepoint ranges, pick the argmax
    (ties break alphabetically on script name), report the winner, its
    character count, the total scripted-character count, and the
    dominance ratio. Documents with no scripted characters (digits,
    punctuation, empty) report ``none``.

    Determinism: the argmax is a string MIN over
    lpad(PAD - count) || '|' || name keys — counts compare numerically
    via the zero-padded prefix, ties fall through to the name, and both
    engines compare identical ASCII bytes.

    100 TB shape: map-only JVM regexp counts over one corpus scan (one
    codegen'd regexp_extract_all per script), no UDF, no shuffle — the
    unicode_signals class."""
    d = read_documents(spark, sf_dir, "doc_id", "text")
    script, best, total = script_parts()
    return d.select(
        "doc_id",
        script.alias("script"),
        best.alias("script_chars"),
        total.alias("scripted_chars"),
        F.round(best / F.greatest(total, F.lit(1)), 6).alias("script_ratio"),
    )


def script_id_sql() -> str:
    cnt_sqls = [
        (
            n,
            "len(regexp_extract_all(COALESCE(text, ''), "
            f"'[{_script_class_re2(r)}]'))",
        )
        for n, r in _SCRIPT_RANGES
    ]
    keys = ", ".join(
        f"lpad(CAST({_SCRIPT_PAD} - {c} AS VARCHAR), 10, '0') || '|{n}'"
        for n, c in cnt_sqls
    )
    total = " + ".join(c for _n, c in cnt_sqls)
    return (
        f"WITH s AS (SELECT doc_id, list_min([{keys}]) AS win, "
        f"CAST({total} AS BIGINT) AS total FROM documents), "
        f"b AS (SELECT doc_id, win, total, "
        f"{_SCRIPT_PAD} - CAST(split_part(win, '|', 1) AS BIGINT) AS best "
        "FROM s) "
        "SELECT doc_id, CASE WHEN best = 0 THEN 'none' "
        "ELSE split_part(win, '|', 2) END AS script, "
        "CAST(best AS BIGINT) AS script_chars, "
        "total AS scripted_chars, "
        "ROUND(best * 1.0 / GREATEST(total, 1), 6) AS script_ratio "
        "FROM b"
    )


# --------------------------------------- bigram LM scoring (lm upgrade)
LM2_LAMBDA = 0.7  # interpolation weight on the bigram term


def lm_score_bigram(
    spark: SparkSession, sf_dir: str, base: "dict | None" = None
) -> DataFrame:
    """Interpolated bigram language-model cross-entropy per document —
    one rung up the KenLM ladder from :func:`lm_score`: position i >= 2
    scores -ln(L*p_bi + (1-L)*p_uni) with add-one-smoothed
    p_bi(t2|t1) = (c(t1,t2)+1)/(c(t1)+V) and the unigram p_uni of
    lm_score; the first token scores unigram-only. Context makes the
    signal sharper than unigram xent: shuffled-word salad scores high
    even when every word is common, which no unigram model can see.

    Same float discipline as lm_score (per-position integer micro-nats
    before the doc sum) and same 100 TB shape: unigram AND bigram
    vocabs are token-keyed hash aggregates broadcast back over the
    positional stream; the only wide exchange carries id/token rows.

    ``base``: as in :func:`lm_score`, the tokenized ``d``/``tok``/
    ``pairs`` frames shared with the other LM scorers.
    """
    base = base or lm_token_base(spark, sf_dir)
    d, tok, pairs = base["d"], base["tok"], base["pairs"]
    w = F.col("_w")
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    totals = uni.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )
    bi = pairs.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = uni.select(F.col("token").alias("t1"), F.col("c").alias("c1"))
    cu = uni.select(F.col("token").alias("t2"), F.col("c").alias("cu"))
    uni, bi, c1, cu = (F.broadcast(x) for x in (uni, bi, c1, cu))
    lam = float(LM2_LAMBDA)
    p_bi = (F.col("c2") + 1.0) / (F.col("c1") + F.col("v_size"))
    p_uni = (F.col("cu") + 1.0) / (F.col("n_total") + F.col("v_size"))
    pair_micro = F.round(
        -F.log(lam * p_bi + (1.0 - lam) * p_uni) * 1_000_000
    ).cast("long")
    pair_scores = (
        pairs.join(bi, ["t1", "t2"])
        .join(c1, "t1")
        .join(cu, "t2")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", pair_micro.alias("micro"))
    )
    first_micro = F.round(
        -F.log((F.col("c") + 1.0) / (F.col("n_total") + F.col("v_size")))
        * 1_000_000
    ).cast("long")
    first_scores = (
        d.select("doc_id", F.element_at(w, 1).alias("token"))
        .join(uni, "token")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", first_micro.alias("micro"))
    )
    return (
        first_scores.unionByName(pair_scores)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("micro") / (F.count(F.lit(1)) * F.lit(1_000_000.0)), 6
            ).alias("xent2"),
        )
    )


def lm_score_bigram_sql() -> str:
    w = tokens_sql("text")
    lam = float(LM2_LAMBDA)
    pair_micro = (
        f"CAST(ROUND(-ln({lam} * (c2 + 1.0) / (c1 + v_size) "
        f"+ {1.0 - lam} * (cu + 1.0) / (n_total + v_size)) "
        "* 1000000) AS BIGINT)"
    )
    first_micro = (
        "CAST(ROUND(-ln((c + 1.0) / (n_total + v_size)) * 1000000) AS BIGINT)"
    )
    return (
        f"WITH d AS (SELECT doc_id, {w} AS w FROM documents), "
        "tok AS (SELECT doc_id, unnest(w) AS token FROM d), "
        "uni AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token), "
        "tot AS (SELECT SUM(c) AS n_total, COUNT(*) AS v_size FROM uni), "
        "pairs AS (SELECT doc_id, w[i - 1] AS t1, w[i] AS t2 "
        "FROM d, unnest(generate_series(2, len(w))) AS s(i)), "
        "bi AS (SELECT t1, t2, COUNT(*) AS c2 FROM pairs GROUP BY t1, t2), "
        "pair_scores AS (SELECT doc_id, "
        f"{pair_micro} AS micro "
        "FROM pairs JOIN bi USING (t1, t2) "
        "JOIN (SELECT token AS t1, c AS c1 FROM uni) USING (t1) "
        "JOIN (SELECT token AS t2, c AS cu FROM uni) USING (t2) "
        "CROSS JOIN tot), "
        "first_scores AS (SELECT doc_id, "
        f"{first_micro} AS micro "
        "FROM (SELECT doc_id, w[1] AS token FROM d) "
        "JOIN uni USING (token) CROSS JOIN tot), "
        "allscores AS (SELECT * FROM first_scores "
        "UNION ALL SELECT * FROM pair_scores) "
        "SELECT doc_id, COUNT(*) AS n_tokens, "
        "ROUND(SUM(micro) / (COUNT(*) * 1000000.0), 6) AS xent2 "
        "FROM allscores GROUP BY doc_id"
    )


# ------------------------- trigram Kneser-Ney LM scoring (lm3, r6)
LM3_DISCOUNT = 0.75  # absolute discount D (the standard KN setting)


def lm_score_trigram_kn(
    spark: SparkSession, sf_dir: str, base: "dict | None" = None
) -> DataFrame:
    """Interpolated trigram Kneser-Ney cross-entropy per document — the
    next rung up the KenLM ladder from :func:`lm_score_bigram`, and a
    different smoothing FAMILY: absolute discounting with continuation
    counts (Kneser & Ney 1995) instead of add-one interpolation.

    Model (trained on the scored corpus; D = LM3_DISCOUNT):

    - p1(t)       = (N1+(.,t) + 1) / (NBT + V) — the CONTINUATION
      unigram: how many distinct words precede t, over the distinct-
      bigram-type total (add-one so corpus-initial-only tokens never
      zero out);
    - p2(t|u)     = max(c(u,t)-D, 0)/c(u) + (D * N1+(u,.)/c(u)) * p1(t);
    - p3(t|u,v)   = max(c(u,v,t)-D, 0)/c(u,v)
                    + (D * N1+(u,v,.)/c(u,v)) * p2(t|v).

    Position 1 scores p1, position 2 scores p2, positions >= 3 score
    p3 — every factor exists because the model is trained on the same
    corpus (observed grams have count >= 1), except the continuation
    count of a strictly-corpus-initial token, which the add-one absorbs.

    Why it earns its slice: KN continuation probability demotes tokens
    that are frequent only inside one fixed collocation, and the
    trigram context detects reorderings that leave the BIGRAM multiset
    intact — a document with exactly the corpus' bigram statistics but
    alien trigram order scores high here and identically to its
    ordered twin under lm2 (tested).

    Float discipline: per-position integer micro-nats before the doc
    sum (the lm_score rule). 100 TB shape: every model table is a
    token-keyed hash aggregate (uni, bi, tri, the two follower counts
    and the continuation count — "two more hash-aggs" on top of lm2)
    broadcast back over the positional streams; the only wide exchanges
    carry id/token rows; no collect().

    ``base``: as in :func:`lm_score`. Only the tris stream is per-call
    (no other scorer consumes it).
    """
    D = float(LM3_DISCOUNT)
    base = base or lm_token_base(spark, sf_dir)
    d, tok, pairs = base["d"], base["tok"], base["pairs"]
    w = F.col("_w")
    tri_structs = F.when(
        F.size(w) >= 3,
        F.transform(
            F.sequence(F.lit(3), F.size(w)),
            lambda i: F.struct(
                F.element_at(w, i - 2).alias("t1"),
                F.element_at(w, i - 1).alias("t2"),
                F.element_at(w, i).alias("t3"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<t1:string,t2:string,t3:string>>")
    )
    tris = (
        d.select("doc_id", F.explode(tri_structs).alias("p"))
        .select(
            "doc_id",
            F.col("p.t1").alias("t1"),
            F.col("p.t2").alias("t2"),
            F.col("p.t3").alias("t3"),
        )
        .localCheckpoint(eager=False)
    )

    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    bi = pairs.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("c2"))
    tri = tris.groupBy("t1", "t2", "t3").agg(F.count(F.lit(1)).alias("c3"))
    # tri already holds one row per distinct trigram: the follower count
    # N1+(u,v,.) is a plain COUNT(*) re-aggregate of it — r17, replacing
    # a second full scan of the positional tris stream with a
    # countDistinct (the same derivation bi -> n2f/cont uses below; the
    # re-aggregate shuffles #distinct-trigram id rows instead of
    # re-reading every position)
    n3f = tri.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("n3f"))
    # bi already holds one row per distinct pair: follower / continuation
    # counts are plain COUNT(*) re-aggregates of it
    n2f = bi.groupBy("t1").agg(F.count(F.lit(1)).alias("n2f"))
    cont = bi.groupBy("t2").agg(F.count(F.lit(1)).alias("cont"))
    # model-table consolidation (one broadcast per KEY, not per stat):
    # token-keyed stats (count, follower count, continuation count) fold
    # into ONE table, as do the pair-keyed stats (pair count, trigram
    # follower count) — the positional scoring streams then join 2-3
    # small tables instead of 6, halving broadcast materializations
    uni_stats = (
        uni.join(n2f.withColumnRenamed("t1", "token"), "token", "left")
        .join(cont.withColumnRenamed("t2", "token"), "token", "left")
        .select(
            "token", "c",
            F.coalesce("n2f", F.lit(0)).alias("n2f"),
            F.coalesce("cont", F.lit(0)).alias("cont"),
        )
    )
    bi_stats = bi.join(n3f, ["t1", "t2"], "left").select(
        "t1", "t2", "c2", F.coalesce("n3f", F.lit(0)).alias("n3f")
    )
    totals = (
        uni.agg(F.count(F.lit(1)).alias("v_size"))
        .crossJoin(bi.agg(F.count(F.lit(1)).alias("nbt")))
    )
    # broadcast the TOKEN-keyed stats only: the unigram table is
    # vocab-sized (safely broadcastable), but the pair and trigram
    # tables grow with corpus n-gram diversity — AQE picks broadcast
    # vs shuffle for those from their measured size (measured at
    # sf0.1: forcing tri's broadcast cost ~2x the whole operator)
    uni_stats = F.broadcast(uni_stats)

    def p1(cont_col):
        return (cont_col + 1.0) / (F.col("nbt") + F.col("v_size"))

    def p2(c2_col, c1_col, n2f_col, p1_expr):
        return (
            F.greatest(c2_col - D, F.lit(0.0)) / c1_col
            + (D * n2f_col / c1_col) * p1_expr
        )

    micro = lambda p: F.round(-F.log(p) * 1_000_000).cast("long")  # noqa: E731

    # position 1: continuation unigram (uni_stats carries cont=0 for a
    # token that only ever starts documents; add-one covers it)
    first_scores = (
        d.select("doc_id", F.element_at(w, 1).alias("token"))
        .join(uni_stats, "token")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", micro(p1(F.col("cont"))).alias("micro"))
    )
    # position 2: bigram KN (all factors exist: the pair was observed)
    second_scores = (
        d.filter(F.size(w) >= 2)
        .select(
            "doc_id",
            F.element_at(w, 1).alias("t1"),
            F.element_at(w, 2).alias("t2"),
        )
        .join(bi_stats.select("t1", "t2", "c2"), ["t1", "t2"])
        .join(
            uni_stats.select(
                F.col("token").alias("t1"),
                F.col("c").alias("c1"),
                F.col("n2f").alias("n2f"),
            ),
            "t1",
        )
        .join(
            uni_stats.select(
                F.col("token").alias("t2"), F.col("cont").alias("cont")
            ),
            "t2",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            micro(
                p2(F.col("c2"), F.col("c1"), F.col("n2f"), p1(F.col("cont")))
            ).alias("micro"),
        )
    )
    # positions >= 3: trigram KN backing off through bigram (t2, t3)
    tri_scores = (
        tris.join(tri, ["t1", "t2", "t3"])
        .join(
            bi_stats.select(
                "t1", "t2",
                F.col("c2").alias("c2_12"), F.col("n3f").alias("n3f"),
            ),
            ["t1", "t2"],
        )
        .join(
            bi_stats.select(
                F.col("t1").alias("t2"),
                F.col("t2").alias("t3"),
                F.col("c2").alias("c2_23"),
            ),
            ["t2", "t3"],
        )
        .join(
            uni_stats.select(
                F.col("token").alias("t2"),
                F.col("c").alias("c1_2"),
                F.col("n2f").alias("n2f"),
            ),
            "t2",
        )
        .join(
            uni_stats.select(
                F.col("token").alias("t3"), F.col("cont").alias("cont")
            ),
            "t3",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            micro(
                F.greatest(F.col("c3") - D, F.lit(0.0)) / F.col("c2_12")
                + (D * F.col("n3f") / F.col("c2_12"))
                * p2(
                    F.col("c2_23"),
                    F.col("c1_2"),
                    F.col("n2f"),
                    p1(F.col("cont")),
                )
            ).alias("micro"),
        )
    )
    return (
        first_scores.unionByName(second_scores)
        .unionByName(tri_scores)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("micro") / (F.count(F.lit(1)) * F.lit(1_000_000.0)), 6
            ).alias("xent3"),
        )
    )


def lm_score_trigram_kn_sql() -> str:
    w = tokens_sql("text")
    D = float(LM3_DISCOUNT)
    p1 = "((cont + 1.0) / (nbt + v_size))"
    p1_first = "((COALESCE(cont, 0) + 1.0) / (nbt + v_size))"

    def p2(c2, c1, n2f, p1e):
        return (
            f"(GREATEST({c2} - {D}, 0.0) / {c1} "
            f"+ ({D} * {n2f} / {c1}) * {p1e})"
        )

    def micro(p):
        return f"CAST(ROUND(-ln({p}) * 1000000) AS BIGINT)"

    p3 = (
        f"(GREATEST(c3 - {D}, 0.0) / c2_12 "
        f"+ ({D} * n3f / c2_12) * {p2('c2_23', 'c1_2', 'n2f', p1)})"
    )
    # MATERIALIZED: DuckDB inlines plain CTEs, and the multi-join
    # tri_scores stage over re-inlined unnest subtrees planned 1000x
    # slower (159 s for 27k rows at sf0.001, measured); materializing
    # the token/gram tables mirrors the Spark side's localCheckpoints
    return (
        f"WITH d AS MATERIALIZED (SELECT doc_id, {w} AS w FROM documents), "
        "tok AS MATERIALIZED (SELECT doc_id, unnest(w) AS token FROM d), "
        "pairs AS MATERIALIZED (SELECT doc_id, w[i - 1] AS t1, w[i] AS t2 "
        "FROM d, unnest(generate_series(2, len(w))) AS s(i)), "
        "tris AS MATERIALIZED (SELECT doc_id, w[i - 2] AS t1, w[i - 1] AS t2, "
        "w[i] AS t3 FROM d, unnest(generate_series(3, len(w))) AS s(i)), "
        "uni AS MATERIALIZED (SELECT token, COUNT(*) AS c FROM tok GROUP BY token), "
        "bi AS MATERIALIZED (SELECT t1, t2, COUNT(*) AS c2 FROM pairs GROUP BY t1, t2), "
        "tri AS MATERIALIZED (SELECT t1, t2, t3, COUNT(*) AS c3 FROM tris "
        "GROUP BY t1, t2, t3), "
        "n3f AS MATERIALIZED (SELECT t1, t2, COUNT(DISTINCT t3) AS n3f FROM tris "
        "GROUP BY t1, t2), "
        "n2f AS MATERIALIZED (SELECT t1, COUNT(*) AS n2f FROM bi GROUP BY t1), "
        "contt AS MATERIALIZED (SELECT t2, COUNT(*) AS cont FROM bi GROUP BY t2), "
        "tot AS (SELECT (SELECT COUNT(*) FROM uni) AS v_size, "
        "(SELECT COUNT(*) FROM bi) AS nbt), "
        "first_scores AS (SELECT doc_id, "
        f"{micro(p1_first)} AS micro "
        "FROM (SELECT doc_id, w[1] AS t2 FROM d) f "
        "JOIN uni ON f.t2 = uni.token "
        "LEFT JOIN contt USING (t2) CROSS JOIN tot), "
        "second_scores AS (SELECT doc_id, "
        + micro(p2("c2", "c1", "n2f", p1))
        + " AS micro "
        "FROM (SELECT doc_id, w[1] AS t1, w[2] AS t2 FROM d "
        "WHERE len(w) >= 2) s "
        "JOIN bi USING (t1, t2) "
        "JOIN (SELECT token AS t1, c AS c1 FROM uni) USING (t1) "
        "JOIN n2f USING (t1) JOIN contt USING (t2) CROSS JOIN tot), "
        "tri_scores AS (SELECT doc_id, "
        f"{micro(p3)} AS micro "
        "FROM tris "
        "JOIN tri USING (t1, t2, t3) "
        "JOIN (SELECT t1, t2, c2 AS c2_12 FROM bi) USING (t1, t2) "
        "JOIN n3f USING (t1, t2) "
        "JOIN (SELECT t1 AS t2, t2 AS t3, c2 AS c2_23 FROM bi) "
        "USING (t2, t3) "
        "JOIN (SELECT token AS t2, c AS c1_2 FROM uni) USING (t2) "
        "JOIN (SELECT t1 AS t2, n2f FROM n2f) USING (t2) "
        "JOIN (SELECT t2 AS t3, cont FROM contt) USING (t3) "
        "CROSS JOIN tot), "
        "allscores AS (SELECT * FROM first_scores "
        "UNION ALL SELECT * FROM second_scores "
        "UNION ALL SELECT * FROM tri_scores) "
        "SELECT doc_id, COUNT(*) AS n_tokens, "
        "ROUND(SUM(micro) / (COUNT(*) * 1000000.0), 6) AS xent3 "
        "FROM allscores GROUP BY doc_id"
    )
