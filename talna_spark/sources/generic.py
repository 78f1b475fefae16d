"""Generic source adapter: map ANY tabular DataFrame onto the logical
points model ``(metric, ts, value, tags)``.

The events adapter (talna_spark.sources.events) is one hand-tuned
instance of this shape; this module exposes the general mapping so a
user can point the engine at CSV / JSON / JDBC-shaped tables without
writing a module:

    pts = points_from_table(
        df,
        metric=F.lit("sensors.temp"),
        ts=F.col("observed_at").cast("long") * 1_000_000_000,
        value=F.col("temp_c"),
        tags={"site": F.col("site_id").cast("string"),
              "unit": F.lit("c")},
    )
    Database.from_points(spark, pts).avg("sensors.temp", "site")...

Tags with NULL values are dropped from the map (absent tag ≡ the
reference's missing tag, src/agg/builder.rs:120-122). All expressions are
Column expressions — the mapping stays inside whole-stage codegen and
filters on metric/ts push down into the file scan exactly like any
projection.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def points_from_table(
    df: DataFrame,
    *,
    metric: Column,
    ts: Column,
    value: Column,
    tags: Mapping[str, Column],
) -> DataFrame:
    """Project a tabular DataFrame to points.

    ``metric``/``ts``/``value``: Column expressions producing
    string / int64-ns / double. ``tags``: tag key -> string Column; NULL
    entries are filtered out of the map per reference semantics.
    """
    entries = []
    for k, col in tags.items():
        entries.extend([F.lit(k), col.cast("string")])
    tag_map = F.map_filter(
        F.create_map(*entries) if entries else F.create_map(),
        lambda _k, v: v.isNotNull(),
    )
    return df.select(
        metric.cast("string").alias("metric"),
        ts.cast("long").alias("ts"),
        value.cast("double").alias("value"),
        tag_map.alias("tags"),
    )


def points_from_csv(
    spark,
    path: str,
    *,
    metric: Column,
    ts: Column,
    value: Column,
    tags: Mapping[str, Column],
    **reader_options,
) -> DataFrame:
    """CSV convenience wrapper (header + schema inference by default)."""
    opts = {"header": "true", "inferSchema": "true", **reader_options}
    df = spark.read.options(**opts).csv(path)
    return points_from_table(df, metric=metric, ts=ts, value=value, tags=tags)


def documents_from_jsonl(
    spark,
    path_glob: str,
    *,
    id_field: str = "id",
    text_field: str = "text",
    lang_field: str | None = None,
    source_field: str | None = None,
    **reader_options,
) -> DataFrame:
    """JSON-lines corpus shards (the Dolma/RedPajama/C4 interchange
    layout, plain or .gz — Spark's json reader decompresses by
    extension) -> the engine's documents shape ``(doc_id, text, lang,
    source, n_chars, orig_id)``.

    Real corpora carry string ids; ``doc_id`` is the deterministic
    60-bit hash of the id (the split/sample/dedup hash streams key off
    it, so it must be stable across re-reads — same rule as
    warc_documents), with the original id kept alongside. Missing
    lang/source fields default to 'und' and the source FILE name, so a
    directory of per-source shards is profiled for free.

    100 TB shape: files are the parallelism unit (millions of ~100 MB
    shards map 1:1 onto tasks); the projection is map-only JVM
    expressions and unreferenced JSON fields are pruned at the scan.
    """
    from talna_spark.pipeline.portable import hash64

    df = spark.read.options(**reader_options).json(path_glob)
    # every EXPLICITLY named field must exist — a typo'd lang_field
    # silently labeling the whole corpus 'und' is worse than an error
    for needed in (id_field, text_field, lang_field, source_field):
        if needed and needed not in df.columns:
            raise ValueError(f"jsonl corpus lacks field {needed!r}")
    lang = (
        F.col(lang_field).cast("string") if lang_field else F.lit("und")
    )
    source = (
        F.col(source_field).cast("string")
        if source_field
        else F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    orig = F.col(id_field).cast("string")
    # a line missing its id would hash to doc_id NULL and merge with
    # every other such line in the id-keyed streams — fail loud instead
    checked = F.when(
        orig.isNull(),
        F.raise_error(
            F.lit(f"jsonl document with null {id_field!r} — stable "
                  "doc_id hashing requires an id on every line")
        ),
    ).otherwise(orig)
    return df.select(
        hash64(checked).alias("doc_id"),
        F.col(text_field).cast("string").alias("text"),
        lang.alias("lang"),
        source.alias("source"),
        F.length(F.col(text_field)).cast("long").alias("n_chars"),
        orig.alias("orig_id"),
    )
