from __future__ import annotations

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("talna_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def make_points(spark, rows):
    """rows: list of (metric, ts, value, tags-dict)."""
    from talna_spark.schema import POINTS_SCHEMA

    data = [(m, int(ts), float(v), dict(tags)) for (m, ts, v, tags) in rows]
    return spark.createDataFrame(data, POINTS_SCHEMA)


def segment_ids(ts_desc, width, drop=False):
    """Per-point bucket ids (0-based, newest bucket 0) from the engine's
    live greedy scans over one group's DESC timestamps: the re-anchor
    scan ``_greedy_starts``, or with ``drop`` the reference-faithful
    ``_boundaries_drop``, whose dropped boundary points get -1."""
    import numpy as np
    import pandas as pd

    from talna_spark.aggregate import _boundaries_drop, _greedy_starts

    ts = np.asarray(ts_desc, dtype=np.int64)
    pdf = pd.DataFrame({"grp": "g", "ts": ts})
    if drop:
        starts, keep, _ = _boundaries_drop(pdf, width)
    else:
        starts, keep = _greedy_starts(pdf, width), None
    is_start = np.zeros(len(ts), dtype=np.int64)
    is_start[starts] = 1
    ids = np.cumsum(is_start) - 1
    if keep is not None:
        ids[~keep] = -1
    return ids
