"""Hashing-trick quality classifier — the fastText-style linear gate.

The reference engine (marvin-j97/talna) has no ML surface; this module is
part of the LLM-training-data extension layer. Real curation pipelines
(GPT-3 Appendix A, CCNet, LLaMA) gate web documents with a LINEAR
classifier over hashed bag-of-words features, trained to separate a
high-quality reference corpus from random crawl text. This is its
distributed, dependency-free form:

- **features**: token counts hashed into ``n_features`` buckets (the
  hashing trick — Weinberger et al. 2009), term-frequency normalized per
  document. No vocabulary object exists anywhere: the feature id is a
  pure expression of the token, so featurization is map-side and
  stateless at any corpus size.
- **scoring**: ``sigmoid(b + Σ_f w[f]·x[f])`` with the weight vector as
  a BROADCAST table joined on the hashed feature id — the corpus never
  shuffles; the only exchanges carry (doc_id, f) id rows.
- **training**: full-batch logistic regression by gradient descent.
  Each round is two hash-aggregates: per-doc score (model broadcast in),
  per-feature gradient (``n_features`` rows collected out). The model —
  never the corpus — crosses the driver boundary, the Lloyd's-k-means
  shape (similarity.py): per-round shuffle is O(n_features + n_docs)
  id rows, independent of corpus bytes.

Float portability discipline (the corpus_stats trick): every per-term
product is rounded to integer nano-units BEFORE aggregation, so sums are
exact int64 in any partial/final order — Spark's tree aggregation, the
DuckDB oracle's sequential loop, and the numpy reference trainer all
produce bit-identical logits and gradients.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from talna_spark.pipeline.portable import (
    hash64,
    hash64_sql,
    norm_text,
    tokens,
    tokens_sql,
)
from talna_spark.pipeline.scan import fan_out, read_documents

# Demo dimensionality for the driver-checked scoring row: small enough
# that the oracle's weight table is a range() scan, large enough that
# hash collisions occur (the hashing trick's defining behavior).
DEMO_FEATURES = 64
DEMO_BIAS = 0.0

NANO = 1_000_000_000.0
MICRO = 1_000_000.0


# ------------------------------------------------------------- features
def hashed_features(
    docs: DataFrame,
    n_features: int,
    text_col: str = "text",
    tok: "DataFrame | None" = None,
) -> DataFrame:
    """(doc_id, f, tf, n) rows: term frequency per hashed feature bucket
    plus the document's token total (``Σ tf`` per doc — every token
    lands in some bucket, so no second scan is needed; the total rides a
    window over the already-id-only (doc_id, f) rows). The normalized
    feature value is ``x = tf / n``.

    100 TB shape: one corpus scan, one (doc_id, f) hash-aggregate with
    map-side partials, one doc_id window over id rows. Text never
    crosses an exchange (fan_out is a no-op unless the bench env var
    explicitly widens single-row-group scans — r17: tokenize+hash is
    compute-in-scan work, and without it the whole featurize ran on ONE
    task on the bench file, measured 4.4 s of a 5.5 s training run).

    ``tok`` (r18): an already-exploded (doc_id, token) stream — the x22
    battery passes ``signal_token_base(...)["tok"]`` so sibling
    consumers share one corpus tokenization. A standalone call derives
    its own (doc_id, token) stream from ``docs`` with the same
    derivation as that ``tok`` (same tokens() split, same explode), so
    features are bit-identical either way."""
    if tok is None:
        tok = fan_out(docs).select(
            "doc_id", F.explode(tokens(F.col(text_col))).alias("token")
        )
    feat = tok.groupBy(
        "doc_id", (hash64(F.col("token")) % n_features).alias("f")
    ).agg(F.count(F.lit(1)).alias("tf"))
    return feat.withColumn(
        "n", F.sum("tf").over(Window.partitionBy("doc_id"))
    )


LANGID_GRAM_KS = (2, 3)  # fastText-style char 2+3-gram feature stream


def char_ngram_features(
    docs: DataFrame,
    n_features: int,
    text_col: str = "text",
    ks: tuple = LANGID_GRAM_KS,
) -> DataFrame:
    """(doc_id, f, tf, n): the char-n-gram analog of
    :func:`hashed_features` — hashed counts of ALL character 2- and
    3-grams of the whitespace-normalized text. The feature stream
    learned language ID trains over: char n-grams separate close
    languages and short documents where word markers cannot
    (fastText's langid recipe).

    Same 100 TB shape as the word featurizer: one corpus scan, one
    (doc_id, f) hash-aggregate with map-side partials, one doc_id
    window over id rows. Text never crosses an exchange.

    Two perf rules shape this plan (both measured on 5k docs at sf0.1):
    (1) the normalized text is pinned behind a lazy localCheckpoint —
    projection collapse would otherwise inline the whitespace-normalize
    regexp chain into per-gram evaluation (28.7 s before the pin);
    (2) grams are produced by explode(position sequence) + substr in a
    codegen'd projection, NOT a higher-order transform() — HOF lambdas
    evaluate interpreted per element (6.4 s HOF vs 3.6 s codegen warm;
    what remains is the portable md5 hash itself). r17 adds (3): the
    char-gram explode + hash is compute-in-scan work, so the input is
    fan_out-widened (a no-op unless the bench env var is set — on the
    single-row-group bench file the whole featurize otherwise ran on
    ONE task)."""
    base = fan_out(docs).select(
        "doc_id", norm_text(F.col(text_col)).alias("_t")
    ).localCheckpoint(eager=False)
    parts = []
    for k in ks:
        n = F.length("_t") - (k - 1)
        seq = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        )
        parts.append(
            base.select("doc_id", "_t", F.explode(seq).alias("i")).select(
                "doc_id", F.col("_t").substr(F.col("i"), F.lit(k)).alias("g")
            )
        )
    g = parts[0]
    for p in parts[1:]:
        g = g.unionByName(p)
    feat = g.groupBy(
        "doc_id", (hash64(F.col("g")) % n_features).alias("f")
    ).agg(F.count(F.lit(1)).alias("tf"))
    return feat.withColumn(
        "n", F.sum("tf").over(Window.partitionBy("doc_id"))
    )


def demo_weight_expr(f):
    """The driver row's deterministic weight formula over a feature-id
    column: w(f) = ((37·f) mod 101 − 50) / 100 ∈ [−0.50, 0.50] — a full-
    period affine walk, identical arithmetic in Spark and DuckDB."""
    return ((f * 37) % 101 - 50) / 100.0


def weights_df(
    spark: SparkSession, n_features: int, weights: "dict | list | None" = None
) -> DataFrame:
    """The (f, w) weight table. ``weights`` as a dict/list pins trained
    values; ``None`` generates the demo formula — either way the table
    is ``n_features`` rows, broadcastable by construction."""
    if weights is None:
        return spark.range(n_features).select(
            F.col("id").alias("f"), demo_weight_expr(F.col("id")).alias("w")
        )
    if isinstance(weights, dict):
        rows = [(int(f), float(weights.get(f, 0.0))) for f in range(n_features)]
    else:
        if len(weights) != n_features:
            raise ValueError(
                f"weights length {len(weights)} != n_features {n_features}"
            )
        rows = [(i, float(w)) for i, w in enumerate(weights)]
    return spark.createDataFrame(rows, "f long, w double")


# -------------------------------------------------------------- scoring
def score_documents(
    spark: SparkSession,
    sf_dir: str = None,
    docs: DataFrame = None,
    weights: "dict | list | None" = None,
    bias: float = DEMO_BIAS,
    n_features: int = DEMO_FEATURES,
    tok: "DataFrame | None" = None,
) -> DataFrame:
    """(doc_id, n_tokens, clf_score): the linear quality score per
    document. ``clf_score = sigmoid(bias + Σ_f w[f]·tf[f]/n)``, each
    term rounded to integer nano-units before the per-doc sum (exact
    int64 in any order), the logit rounded to 6 dp before the sigmoid so
    both engines exponentiate the identical double.

    Plan: token explode → (doc_id, f) hash-agg → broadcast-join the
    n_features-row weight table → doc_id hash-agg. Map-side scoring
    against a broadcast model, the production quality-gate shape.

    ``tok`` (r18): pass-through to :func:`hashed_features` — the x22
    battery passes ``signal_token_base``'s shared (doc_id, token)
    stream; a standalone call derives its own with the same derivation
    (bit-identical features)."""
    if docs is None and tok is None:
        docs = read_documents(spark, sf_dir, "doc_id", "text")
    feat = hashed_features(docs, n_features, tok=tok)
    wdf = weights_df(spark, n_features, weights)
    nano = F.round(
        F.col("w") * (F.col("tf").cast("double") / F.col("n")) * NANO
    ).cast("long")
    z = F.round(F.col("zn") / F.lit(NANO) + F.lit(float(bias)), 6)
    return (
        feat.join(F.broadcast(wdf), "f")
        .groupBy("doc_id")
        .agg(F.max("n").alias("n_tokens"), F.sum(nano).alias("zn"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias(
                "clf_score"
            ),
        )
    )


def score_documents_sql(
    bias: float = DEMO_BIAS, n_features: int = DEMO_FEATURES
) -> str:
    """DuckDB twin of the demo-weight scoring row (same hash, same
    weight formula, same nano-unit rounding)."""
    w = tokens_sql("text")
    h = hash64_sql("token")
    return (
        f"WITH tok AS (SELECT doc_id, unnest({w}) AS token FROM documents), "
        f"feat AS (SELECT doc_id, {h} % {n_features} AS f, COUNT(*) AS tf "
        "FROM tok GROUP BY doc_id, f), "
        "featn AS (SELECT doc_id, f, tf, "
        "SUM(tf) OVER (PARTITION BY doc_id) AS n FROM feat), "
        f"wt AS (SELECT f, ((f * 37) % 101 - 50) / 100.0 AS w "
        f"FROM range({n_features}) t(f)), "
        "z AS (SELECT doc_id, MAX(n) AS n_tokens, "
        "SUM(CAST(ROUND(w * (CAST(tf AS DOUBLE) / n) * 1000000000.0) "
        "AS BIGINT)) AS zn "
        "FROM featn JOIN wt USING (f) GROUP BY doc_id) "
        "SELECT doc_id, n_tokens, "
        f"ROUND(1.0 / (1.0 + exp(-ROUND(zn / 1000000000.0 + {float(bias)!r}, 6))), 6) "
        "AS clf_score FROM z"
    )


# ------------------------------------------------------------- training
def _away_from_zero(v: float) -> int:
    """Round half away from zero — the rounding Spark's ROUND and
    DuckDB's round() share (Python's round() is banker's; don't)."""
    return int(math.floor(abs(v) + 0.5) * (1 if v >= 0 else -1))


def train_classifier(
    docs: DataFrame,
    labels: DataFrame,
    n_features: int = 1024,
    iters: int = 20,
    lr: float = 1.0,
    l2: float = 0.0,
    text_col: str = "text",
) -> dict:
    """Full-batch logistic regression over hashed features. ``labels``
    is a (doc_id, y) DataFrame with y ∈ {0.0, 1.0} (e.g. 1 = a curated
    reference corpus, 0 = random crawl sample — the GPT-3 recipe).

    Returns {"weights": list[n_features], "bias": float,
    "loss_history": list[iters]} where loss is mean log-loss in
    micro-nats (exact int accounting, so the history is deterministic
    and partitioning-independent).

    Per iteration (r18 single-pass shape, guide §2.4 — no per-round
    corpus shuffle): broadcast the weight table in, compute the per-doc
    logit as a window sum over the doc_id-clustered cached features
    (the cache preserves the featurizer's hashpartitioning(doc_id), so
    the window plans NO Exchange), derive the residual r = σ(z) − y on
    every feature row in place, and fold loss + bias gradient + feature
    gradient into ONE n_features-row aggregate (the loss/bias terms ride
    the doc's min-f row, so no sentinel union and no second action).
    The only per-round exchange carries n_features partial-agg rows;
    the r17 shape shuffled the corpus-sized feature rows every round
    (doc_id hash-agg + residual shuffle join). Micro/nano-unit integer
    terms keep every sum order-independent, so weights, bias and the
    loss history are bit-identical to the r17 two-pass form (pinned in
    tests/test_classifier.py).

    The featurized corpus is persist()-pinned (not localCheckpoint: a
    checkpoint erases the plan's output partitioning, which would put
    a per-round doc_id Exchange back under the window) so the
    tokenize+hash subtree runs once, not per-iteration (the shared-base
    rule from LSH/curate); it is unpersisted before returning."""
    spark = docs.sparkSession
    # one label per doc, deterministically (max y on conflict): a
    # duplicated label row would double its doc's feature rows through
    # the join and bias every gradient toward it (review r6)
    lab = (
        labels.select("doc_id", F.col("y").cast("double").alias("y"))
        .groupBy("doc_id")
        .agg(F.max("y").alias("y"))
    )
    feat = (
        hashed_features(docs, n_features, text_col)
        .join(lab, "doc_id")
        .persist()
    )
    # normalize by the docs the sums actually cover: labels without a
    # matching doc (or docs whose NULL text yields no feature rows) fall
    # out of the inner join above, and counting them would silently
    # shrink every gradient (an effective-lr bug, review r6)
    n_docs = feat.select("doc_id").distinct().count()
    if n_docs == 0:
        raise ValueError("no labeled documents with features")
    wvec = [0.0] * n_features
    bias = 0.0
    history = []
    x = F.col("tf").cast("double") / F.col("n")
    import pandas as pd

    w_doc = Window.partitionBy("doc_id")
    for _ in range(int(iters)):
        # Arrow path: one batch for the n_features-row model table, not
        # n_features py4j row conversions per round
        wdf = spark.createDataFrame(
            pd.DataFrame(
                {"f": range(n_features), "w": wvec}
            ).astype({"f": "int64", "w": "float64"})
        )
        nano = F.round(F.col("w") * x * NANO).cast("long")
        # per-doc logit via a window sum over the doc_id-clustered cache
        # (no Exchange: the cached plan's hashpartitioning(doc_id)
        # satisfies the window); min(f) marks ONE row per doc to carry
        # the doc-level loss/bias terms — no orderBy, so the window
        # only sorts by the partition key
        scored = feat.join(F.broadcast(wdf), "f").select(
            "y",
            "f",
            x.alias("x"),
            F.sum(nano).over(w_doc).alias("zn"),
            (F.col("f") == F.min("f").over(w_doc)).alias("first"),
        )
        p = F.lit(1.0) / (
            F.lit(1.0) + F.exp(-(F.col("zn") / F.lit(NANO) + F.lit(bias)))
        )
        eps = 1e-12
        loss_term = F.round(
            -(
                F.col("y") * F.log(p + eps)
                + (1.0 - F.col("y")) * F.log(F.lit(1.0) - p + eps)
            )
            * MICRO
        ).cast("long")
        resid_term = F.round((p - F.col("y")) * MICRO).cast("long")
        grad_term = F.round((p - F.col("y")) * F.col("x") * MICRO).cast(
            "long"
        )
        zero = F.lit(0).cast("long")
        # ONE action per round: the n_features-row aggregate carries the
        # feature gradient (a) plus the doc-level loss/bias sums (la/lb,
        # riding each doc's min-f row); the driver folds la/lb across
        # the collected rows — exact integer sums in any order, so the
        # split-then-resum is bit-identical to one global sum
        rows = (
            scored.groupBy("f")
            .agg(
                F.sum(grad_term).alias("a"),
                F.sum(F.when(F.col("first"), loss_term).otherwise(zero)).alias(
                    "la"
                ),
                F.sum(
                    F.when(F.col("first"), resid_term).otherwise(zero)
                ).alias("lb"),
            )
            .collect()
        )
        history.append(sum(int(r["la"]) for r in rows) / MICRO / n_docs)
        g_bias = sum(int(r["lb"]) for r in rows) / MICRO / n_docs
        grad = {r["f"]: r["a"] / MICRO / n_docs for r in rows}
        wvec = [
            w - lr * (grad.get(f, 0.0) + l2 * w)
            for f, w in enumerate(wvec)
        ]
        bias -= lr * g_bias
    feat.unpersist()
    return {"weights": wvec, "bias": bias, "loss_history": history}


# ---------------------------------------------------- multiclass trainer
def train_multiclass(
    docs: DataFrame,
    labels: DataFrame,
    n_features: int = 1024,
    iters: int = 20,
    lr: float = 1.0,
    l2: float = 0.0,
    text_col: str = "text",
    featurizer=None,
) -> dict:
    """One-vs-rest logistic regression over hashed features — the
    multiclass generalization of :func:`train_classifier` that learned
    language ID trains with (classes = the distinct label values).
    ``labels`` is a (doc_id, y) DataFrame with y a STRING class label.
    ``featurizer(docs, n_features, text_col)`` defaults to
    :func:`char_ngram_features`; pass :func:`hashed_features` for a
    word-feature multiclass model.

    All K binary problems train SIMULTANEOUSLY, in the binary trainer's
    r18 single-pass round shape (guide §2.4): weights in as a broadcast
    (f, w_0..w_{K-1}) table, K per-doc logits as window sums over the
    doc_id-clustered cached features (no per-round Exchange of the
    corpus — the cache preserves the featurizer's
    hashpartitioning(doc_id)), residuals derived in place on every
    feature row, and ONE n_features-row aggregate per round carrying the
    K feature gradients plus the K doc-level loss/bias sums (riding each
    doc's min-f row). Per-round driver crossing is n_features x K
    doubles — the model, never the corpus. The r17 shape ran TWO actions
    per round (loss agg + residual shuffle join), each shuffling
    corpus-sized rows. Same exact-integer accounting as the binary
    trainer — bit-identical results (pinned in tests/test_langid.py) —
    so the result is deterministic and partitioning-independent.

    Returns {"classes": [sorted labels], "weights": {c: list},
    "biases": {c: float}, "n_features": int, "loss_history": list}
    (loss = summed-over-classes mean log-loss).
    """
    spark = docs.sparkSession
    feats = featurizer or char_ngram_features
    lab = (
        labels.select("doc_id", F.col("y").cast("string").alias("y"))
        .groupBy("doc_id")
        .agg(F.max("y").alias("y"))  # dedup: max on conflict (review r6)
    )
    classes = sorted(
        r["y"] for r in lab.select("y").distinct().collect() if r["y"]
    )
    if len(classes) < 2:
        raise ValueError(f"need >= 2 label classes, got {classes}")
    feat = (
        feats(docs, n_features, text_col)
        .join(lab, "doc_id")
        .persist()  # r18: persist (not localCheckpoint) keeps the
        # plan's hashpartitioning(doc_id) visible, so the per-round
        # window plans no Exchange; unpersisted before returning
    )
    n_docs = feat.select("doc_id").distinct().count()
    if n_docs == 0:
        feat.unpersist()
        raise ValueError("no labeled documents with features")
    K = len(classes)
    wmat = {c: [0.0] * n_features for c in classes}
    biases = {c: 0.0 for c in classes}
    history = []
    x = F.col("tf").cast("double") / F.col("n")
    eps = 1e-12
    import pandas as pd

    w_doc = Window.partitionBy("doc_id")
    zero = F.lit(0).cast("long")
    for _ in range(int(iters)):
        cols = {"f": range(n_features)}
        cols.update({f"w{i}": wmat[c] for i, c in enumerate(classes)})
        wdf = spark.createDataFrame(
            pd.DataFrame(cols).astype(
                {"f": "int64", **{f"w{i}": "float64" for i in range(K)}}
            )
        )
        sel = [
            "y",
            "f",
            x.alias("x"),
            (F.col("f") == F.min("f").over(w_doc)).alias("first"),
        ]
        for i in range(K):
            zn = F.sum(
                F.round(F.col(f"w{i}") * x * NANO).cast("long")
            ).over(w_doc)
            sel.append(zn.alias(f"zn{i}"))
        scored = feat.join(F.broadcast(wdf), "f").select(*sel)
        round_aggs = []
        for i, c in enumerate(classes):
            yc = F.when(F.col("y") == c, 1.0).otherwise(0.0)
            p = F.lit(1.0) / (
                F.lit(1.0)
                + F.exp(-(F.col(f"zn{i}") / F.lit(NANO) + F.lit(biases[c])))
            )
            loss_term = F.round(
                -(yc * F.log(p + eps) + (1.0 - yc) * F.log(1.0 - p + eps))
                * MICRO
            ).cast("long")
            resid_term = F.round((p - yc) * MICRO).cast("long")
            grad_term = F.round((p - yc) * F.col("x") * MICRO).cast("long")
            round_aggs.append(F.sum(grad_term).alias(f"gm{i}"))
            round_aggs.append(
                F.sum(F.when(F.col("first"), loss_term).otherwise(zero)).alias(
                    f"lm{i}"
                )
            )
            round_aggs.append(
                F.sum(
                    F.when(F.col("first"), resid_term).otherwise(zero)
                ).alias(f"rm{i}")
            )
        grad_rows = scored.groupBy("f").agg(*round_aggs).collect()
        history.append(
            sum(int(r[f"lm{i}"]) for r in grad_rows for i in range(K))
            / MICRO
            / n_docs
        )
        for i, c in enumerate(classes):
            grad = {r["f"]: r[f"gm{i}"] / MICRO / n_docs for r in grad_rows}
            wmat[c] = [
                w - lr * (grad.get(f, 0.0) + l2 * w)
                for f, w in enumerate(wmat[c])
            ]
            biases[c] -= lr * (
                sum(int(r[f"rm{i}"]) for r in grad_rows) / MICRO / n_docs
            )
    feat.unpersist()
    return {
        "classes": classes,
        "weights": wmat,
        "biases": biases,
        "n_features": n_features,
        "loss_history": history,
    }


def save_multiclass(spark: SparkSession, model: dict, path: str) -> None:
    """Persist a multiclass model as one parquet table of (c, f, w)
    rows with each class's bias at f = -1 (the :func:`save_classifier`
    layout with a class column — engine-portable, no pickle)."""
    import pandas as pd

    recs = []
    for c in model["classes"]:
        recs.extend(
            {"c": c, "f": f, "w": float(w)}
            for f, w in enumerate(model["weights"][c])
        )
        recs.append({"c": c, "f": -1, "w": float(model["biases"][c])})
    pdf = pd.DataFrame(recs).astype({"c": "str", "f": "int64", "w": "float64"})
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(path)


def load_multiclass(spark: SparkSession, path: str) -> dict:
    """Inverse of :func:`save_multiclass`."""
    rows = spark.read.parquet(path).collect()
    wmap, biases = {}, {}
    for r in rows:
        if r["f"] == -1:
            biases[r["c"]] = float(r["w"])
        else:
            wmap.setdefault(r["c"], {})[int(r["f"])] = float(r["w"])
    classes = sorted(wmap)
    if not classes:
        raise ValueError(f"no classes in multiclass table at {path}")
    n = max(max(m) + 1 for m in wmap.values())
    for c in classes:
        if set(wmap[c]) != set(range(n)):
            raise ValueError(f"multiclass table at {path} has gaps in f ({c})")
    return {
        "classes": classes,
        "weights": {c: [wmap[c][f] for f in range(n)] for c in classes},
        "biases": {c: biases.get(c, 0.0) for c in classes},
        "n_features": n,
    }


# ---------------------------------------------------------- persistence
def save_classifier(spark: SparkSession, model: dict, path: str) -> None:
    """Persist a trained model as one parquet table of (f, w) rows with
    the bias at f = -1 — readable by any engine, no pickle. The
    streaming gate's cross-session path: train once in batch, load in
    the job that opens the stream."""
    import pandas as pd

    w = model["weights"]
    pdf = pd.DataFrame(
        {
            "f": list(range(len(w))) + [-1],
            "w": [float(x) for x in w] + [float(model["bias"])],
        }
    ).astype({"f": "int64", "w": "float64"})
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        path
    )


def load_classifier(spark: SparkSession, path: str) -> dict:
    """Inverse of :func:`save_classifier`: returns
    {"weights": list, "bias": float, "n_features": int}."""
    rows = spark.read.parquet(path).collect()
    bias = 0.0
    wmap = {}
    for r in rows:
        if r["f"] == -1:
            bias = float(r["w"])
        else:
            wmap[int(r["f"])] = float(r["w"])
    n = max(wmap) + 1 if wmap else 0
    if set(wmap) != set(range(n)):
        raise ValueError(f"classifier table at {path} has gaps in f")
    return {
        "weights": [wmap[f] for f in range(n)],
        "bias": bias,
        "n_features": n,
    }
