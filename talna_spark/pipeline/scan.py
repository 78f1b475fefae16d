"""Shared source-scan fan-out (r6, replacing six per-operator
``parallelism`` knobs).

Compute-heavy document operators (LSH signatures, curation, DSIR,
mixture, dup-span, n-gram LM scoring) do most of their work INSIDE the
scan stage — with broadcast models the scoring runs where the text is
read. On a real multi-file source that stage is as parallel as the file
count and this module is a no-op; on a single-row-group bench/test file
the whole operator would serialize onto ONE task. ``fan_out`` widens
such a scan to ``TALNA_MIN_SCAN_TASKS`` tasks — and ONLY then: the
default (unset/0) keeps every operator's declared plan shape
(shuffle-free where the plan tests assert it), because the repartition
IS an Exchange that moves document text.

Benchmarks set the env var once instead of threading a knob through
every call site; production jobs on many-file sources never need it.

The module is also the documents table's only reader:
:func:`read_documents` reads the columns an operator names under their
declared :data:`DOCUMENTS_COLUMNS` types, so no reader runs a parquet
schema-inference job and a missing column fails with one typed error.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from talna_spark.errors import MissingColumnError

ENV_VAR = "TALNA_MIN_SCAN_TASKS"


def min_scan_tasks() -> int:
    return int(os.environ.get(ENV_VAR, "0") or 0)


def fan_out(d: DataFrame, key: str = "doc_id") -> DataFrame:
    """Repartition ``d`` on ``key`` up to ``TALNA_MIN_SCAN_TASKS`` tasks
    when its scan currently plans FEWER tasks than that; identity
    otherwise (including the unset default). Called by the
    compute-in-scan operators only — map-only projections keep their
    zero-shuffle plans regardless of the env var."""
    m = min_scan_tasks()
    if m > 0 and d.rdd.getNumPartitions() < m:
        return d.repartition(m, key)
    return d


# The documents table's column types. Readers name the columns they use
# and read them under this declared schema: an undeclared parquet read
# runs a schema-inference job on every call, one Spark job per reader.
DOCUMENTS_COLUMNS = {
    "doc_id": "BIGINT",
    "text": "STRING",
    "lang": "STRING",
    "source": "STRING",
    "n_chars": "BIGINT",
}


def read_documents(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The named columns of ``{sf_dir}/documents.parquet``, in that
    order, read under their declared :data:`DOCUMENTS_COLUMNS` types: no
    schema-inference job, other file columns never read. A narrower
    integer doc_id in the file widens to BIGINT; a file type that cannot
    be read as the declared one fails the scan with Spark's typed error.
    A named column the file lacks raises :class:`MissingColumnError`
    (checked against the parquet footer on the driver, no Spark job):
    a declared-schema read would return it as NULL on every row. A
    column stored with the parquet NULL type (pandas writes an
    all-``None`` column so) cannot be read as its declared type; it is
    returned as a NULL of that type, as the undeclared read returns it."""
    path = f"{sf_dir}/documents.parquet"
    footer = ds.dataset(path, format="parquet").schema
    missing = [c for c in cols if c not in footer.names]
    if missing:
        raise MissingColumnError(f"{path} has no column {', '.join(missing)}")
    nulls = {c for c in cols if pa.types.is_null(footer.field(c).type)}
    schema = ", ".join(f"{c} {DOCUMENTS_COLUMNS[c]}" for c in cols if c not in nulls)
    d = spark.read.schema(schema or StructType()).parquet(path)
    if not nulls:
        return d
    return d.select(
        *[
            F.lit(None).cast(DOCUMENTS_COLUMNS[c]).alias(c) if c in nulls else c
            for c in cols
        ]
    )
