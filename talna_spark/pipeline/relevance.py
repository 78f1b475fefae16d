"""Lexical relevance scoring over the ``documents`` table: Okapi BM25
top-k retrieval — the text-side retrieval primitive next to the embedding
ANN operators (pipeline.similarity), and the scorer behind corpus curation
passes like "keep documents most relevant to a seed query set".

Scale shape (the reason this is NOT the textbook explode->join plan):

1. ONE corpus-stats aggregate computes every global the formula needs —
   doc count N, total token count (so avgdl = sum_dl/N is derived from
   exact INTEGER sums, identical across engines), and per-query-term
   document frequencies as conditional sums. Map-side partials, one tiny
   final row; no explode, no per-term shuffle.
2. The 1-row stats result broadcast-joins onto the documents scan, and
   the whole score — per-term tf via array filters, idf, length
   normalization — evaluates map-side in whole-stage codegen. Zero
   shuffles over the corpus.
3. Top-k uses the repo's two-phase rank (partial per data-derived bucket,
   final over <= k x 64 survivors) — no full-corpus single-reducer sort.

Determinism across engines: every input to the float expression (tf, dl,
N, sum_dl, df) is an integer, the arithmetic is written in the same
left-associated order on both sides, and scores are rounded to 6 dp
before ranking with a doc_id tie-break.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from talna_spark.aggregate import round6
from talna_spark.pipeline.portable import tokens, tokens_sql
from talna_spark.pipeline.scan import fan_out, read_documents

K1 = 1.2
B = 0.75
BM25_QUERY = "hash join query"
BM25_TOP_K = 10


def _terms(query: str) -> list[str]:
    # same normalization as the corpus tokenizer; dedup keeps the scoring
    # loop one-pass-per-distinct-term (repeated query terms don't reweight)
    return list(dict.fromkeys(query.strip().lower().split()))


def bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    query: str = BM25_QUERY,
    k: int = BM25_TOP_K,
) -> DataFrame:
    """Top-``k`` documents by BM25 score for ``query``; returns
    ``(doc_id, score, rank)`` with rank ties broken by doc_id."""
    from pyspark.sql.window import Window

    terms = _terms(query)
    # BM25 tokenizes and scores map-side inside the scan stage — widen
    # single-row-group sources (no-op unless TALNA_MIN_SCAN_TASKS is set;
    # integer stats + per-row scoring are partition-independent)
    d = fan_out(read_documents(spark, sf_dir, "doc_id", "text")).select(
        "doc_id", tokens(F.col("text")).alias("_w")
    )
    # (1) one integer-valued stats aggregate: N, sum of doc lengths, and
    # df per query term as conditional sums — map-side partials only
    aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.size("_w")).alias("_sum_dl"),
    ]
    for i, t in enumerate(terms):
        aggs.append(
            F.sum(F.array_contains("_w", t).cast("long")).alias(f"_df{i}")
        )
    stats = d.agg(*aggs)

    # (2) broadcast the 1-row stats and score map-side
    scored = d.crossJoin(F.broadcast(stats))
    n = F.col("_n").cast("double")
    avgdl = F.col("_sum_dl").cast("double") / n
    dl = F.size("_w").cast("double")
    norm = F.lit(K1) * (F.lit(1.0) - F.lit(B) + F.lit(B) * dl / avgdl)

    def term_score(i: int, t: str) -> Column:
        df_t = F.col(f"_df{i}").cast("double")
        idf = F.log((n - df_t + F.lit(0.5)) / (df_t + F.lit(0.5)) + F.lit(1.0))
        tf = F.size(F.filter("_w", lambda x: x == F.lit(t))).cast("double")
        return idf * (tf * F.lit(K1 + 1.0)) / (tf + norm)

    score = term_score(0, terms[0])
    for i, t in enumerate(terms[1:], start=1):
        score = score + term_score(i, t)  # fixed left-assoc order (oracle twin)
    scored = scored.select("doc_id", round6(score).alias("score"))

    # (3) two-phase top-k (data-derived partial key; see QueryBuilder.top)
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    w1 = Window.partitionBy("_p").orderBy(*order)
    w2 = Window.partitionBy(F.lit(1)).orderBy(*order)
    return (
        scored.withColumn("_p", F.pmod(F.xxhash64("doc_id"), F.lit(64)))
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("doc_id", "score", "rank")
    )


def bm25_topk_sql(query: str = BM25_QUERY, k: int = BM25_TOP_K) -> str:
    """DuckDB twin of :func:`bm25_topk` — same integer inputs, same
    left-associated float expression, same rounding and tie-break."""
    terms = _terms(query)
    w = tokens_sql("text")
    dfs = ", ".join(
        f"SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(terms)
    )
    avgdl = "(CAST(s.sum_dl AS DOUBLE) / CAST(s.n AS DOUBLE))"
    norm = f"{K1} * (1.0 - {B} + {B} * CAST(len(toks) AS DOUBLE) / {avgdl})"
    parts = []
    for i, t in enumerate(terms):
        idf = (
            f"ln((CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5) / "
            f"(CAST(df{i} AS DOUBLE) + 0.5) + 1.0)"
        )
        tf = f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE)"
        parts.append(f"{idf} * ({tf} * {K1 + 1.0}) / ({tf} + {norm})")
    score = " + ".join(f"({p})" for p in parts)
    return (
        f"WITH w AS (SELECT doc_id, {w} AS toks FROM documents), "
        f"s AS (SELECT COUNT(*) AS n, SUM(len(toks)) AS sum_dl, {dfs} FROM w), "
        f"sc AS (SELECT doc_id, (ROUND({score}, 6) + 0) AS score FROM w, s) "
        f"SELECT doc_id, score, CAST(rank AS BIGINT) AS rank FROM ("
        f"SELECT doc_id, score, "
        f"ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank FROM sc"
        f") WHERE rank <= {k}"
    )
