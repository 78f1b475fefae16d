"""Benchmark decontamination scan: flag corpus documents sharing word
n-grams with an evaluation/benchmark set — the step every serious LLM
training pipeline runs so test sets don't leak into training data
(the standard method: exact n-gram overlap, n in 8..13 for real corpora;
5 here to fit the synthetic corpus's ~60-token documents).

Scale shape:
1. the eval set is tiny by definition — its shingle hashes broadcast
   to every executor;
2. the corpus side explodes each document's word k-grams to 60-bit
   hashes (pipeline.portable.hash64 — cross-engine portable) and
   broadcast-joins them against the eval hashes: map-side semi-join,
   the only shuffle is the per-document hit-count aggregation over the
   MATCHED rows (contaminated docs only, a tiny fraction);
3. no text crosses a shuffle — hashes and doc ids only.

The eval set is carved deterministically from the corpus itself
(doc_id % EVAL_MOD == 0) as the stand-in for reading a real benchmark
file; `contaminated_against` takes an arbitrary eval DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talna_spark.pipeline.portable import (
    grams,
    hash64,
    hash64_sql,
    shingles_sql,
    tokens,
    tokens_sql,
)
from talna_spark.pipeline.scan import read_documents

EVAL_MOD = 97   # doc_id % 97 == 0 -> the benchmark stand-in
SHINGLE_K = 5


def _shingle_hashes(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, h) per word k-gram occurrence. ``docs``: (doc_id, text),
    or a frame that already carries the token array ``_w`` (read as is —
    the caller's checkpoint holds it). Every consumer asks only whether
    a hash matches, or counts DISTINCT matching hashes, so the grams are
    not de-duplicated and sorted per document the way
    pipeline.portable.shingles does: same answers, no per-document
    array_sort with its interpreted comparator.

    Each gram is hashed inside the array and the hashes are exploded, so
    md5 runs once per gram: a hash64 projected after the explode is an
    expression, and the joins' inferred ``IsNotNull(h)`` filter pushed
    below that projection would evaluate it a second time."""
    if "_w" not in docs.columns:
        # tokens materialized first: the grams' slice lambda captures
        # the words expression, so the inline form re-ran the split per
        # gram (r12, the dedup._tokenized rule)
        from talna_spark.pipeline.dedup import _tokenized

        docs = _tokenized(docs, tokens(F.col("text")))
    return docs.select(
        "doc_id",
        F.explode(F.transform(grams(F.col("_w"), k), hash64)).alias("h"),
    )


def contaminated_against(
    corpus: DataFrame, eval_docs: DataFrame, k: int = SHINGLE_K
) -> DataFrame:
    """(doc_id, n_hits) for corpus documents sharing >= 1 word k-shingle
    with any eval document. ``corpus``/``eval_docs``: (doc_id, text)."""
    ev = _shingle_hashes(eval_docs, k).select("h").distinct()
    hits = _shingle_hashes(corpus, k).join(F.broadcast(ev), "h")
    return hits.groupBy("doc_id").agg(F.count_distinct("h").alias("n_hits"))


def contamination_scan(
    spark: SparkSession, sf_dir: str, k: int = SHINGLE_K
) -> DataFrame:
    """Scan the documents corpus against its deterministic eval slice."""
    d = read_documents(spark, sf_dir, "doc_id", "text")
    ev = d.filter(F.col("doc_id") % EVAL_MOD == 0)
    corpus = d.filter(F.col("doc_id") % EVAL_MOD != 0)
    return contaminated_against(corpus, ev, k)


def contamination_scan_sql(k: int = SHINGLE_K) -> str:
    """DuckDB twin from the same portable primitives."""
    toks = tokens_sql("text")
    sh = shingles_sql("toks", k)
    h = hash64_sql("s")
    return (
        f"WITH t AS (SELECT doc_id, {toks} AS toks FROM documents), "
        f"x AS (SELECT doc_id, unnest({sh}) AS s FROM t), "
        f"hs AS (SELECT doc_id, {h} AS h FROM x), "
        f"ev AS (SELECT DISTINCT h FROM hs WHERE doc_id % {EVAL_MOD} = 0) "
        f"SELECT doc_id, COUNT(DISTINCT h) AS n_hits FROM hs "
        f"WHERE doc_id % {EVAL_MOD} <> 0 AND h IN (SELECT h FROM ev) "
        f"GROUP BY doc_id"
    )
