"""talna_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference embeddable time-series
database (marvin-j97/talna, see /root/reference), re-designed Spark-first.

Capability surface (SURVEY.md §2):
  tag-filter DSL -> series selection -> time-range scan -> group-by-one-tag
  -> bucketed aggregation (avg | sum | min | max | count)
plus large-scale training-data pipeline extensions (dedup, similarity
search, text analysis, multimodal columns).

Storage is Parquet (columnar, partition-pruned) instead of the reference's
LSM tree; execution is Catalyst/Tungsten instead of a hand-fused iterator
pipeline. See SURVEY.md §1.4 for the full mapping.

UDF closures and the package: the package registers itself with
``pyspark.cloudpickle.register_pickle_by_value`` on import, so every
closure Spark ships to a Python worker (pandas UDFs, ``mapInPandas``,
``applyInPandas``) carries the talna_spark functions, classes and
constants it refers to by value. Workers never import talna_spark, so
they run from any directory and in sessions the library did not build;
closures call module helpers and read module constants directly.
Functions that run on a worker must not import talna_spark themselves.
"""

import sys

from pyspark import cloudpickle

from talna_spark.database import BinaryQueryBuilder, Database, QueryBuilder
from talna_spark.duration import Duration
from talna_spark.errors import InvalidQueryError, InvalidValueError, TalnaError
from talna_spark.metric import validate_metric_name

MINUTE_NS = 60_000_000_000  # default bucket width (reference src/db.rs:21)

cloudpickle.register_pickle_by_value(sys.modules[__name__])

__all__ = [
    "Database",
    "QueryBuilder",
    "BinaryQueryBuilder",
    "Duration",
    "TalnaError",
    "InvalidQueryError",
    "InvalidValueError",
    "validate_metric_name",
    "MINUTE_NS",
]
