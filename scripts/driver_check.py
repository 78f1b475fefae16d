"""Local mirror of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry at sf0.01 next to its
``oracle_sql()`` DuckDB twin and compare rows + schema + values.

The value compare is STRICTER than a hash: floats compare by their IEEE
bit pattern (so ``-0.0`` vs ``0.0`` — the r1 q22 failure class — is
caught), after sorting columns by name and rows by all columns, exactly
the driver's documented normalization.

Usage: python scripts/driver_check.py [query ...]   (default: all)
"""

from __future__ import annotations

import hashlib
import math
import os
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

SF_DIR = os.environ.get("TALNA_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )
    return df


def _cell_key(v):
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return struct.pack(">d", f).hex()  # bit-exact: -0.0 != 0.0
    if v is None:
        return "null"
    return repr(v)


def _values_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if len(a) != len(b):
        return False, f"row count {len(a)} vs {len(b)}"
    for i in range(len(a)):
        for c in a.columns:
            ka, kb = _cell_key(a[c].iloc[i]), _cell_key(b[c].iloc[i])
            if ka != kb:
                return False, (
                    f"row {i} col {c}: spark={a[c].iloc[i]!r} ({ka}) "
                    f"oracle={b[c].iloc[i]!r} ({kb})"
                )
    return True, ""


def _frame_hash(df: pd.DataFrame) -> str:
    """md5 over the normalized frame's bit-exact cell keys, so two runs
    can be compared value for value."""
    h = hashlib.md5(",".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update("|".join(_cell_key(v) for v in row).encode())
    return h.hexdigest()[:12]


def main() -> int:
    only = set(sys.argv[1:])
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('TALNA_CHECK_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .appName("driver-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"{name}: rows={len(sdf)} (no oracle — rows-only)")
            continue
        try:
            odf = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"{name}: ORACLE ERROR {type(e).__name__}: {e}")
            continue
        a, b = _norm(sdf), _norm(odf)
        schema_ok = list(a.columns) == list(b.columns)
        if not schema_ok:
            failures.append(name)
            print(f"{name}: SCHEMA {list(a.columns)} vs {list(b.columns)}")
            continue
        ok, why = _values_equal(a, b)
        if ok:
            print(f"{name}: OK rows={len(a)} hash={_frame_hash(a)}")
        else:
            failures.append(name)
            print(f"{name}: VALUE MISMATCH {why}")
    print(f"\n{'FAIL: ' + ', '.join(failures) if failures else 'ALL GREEN'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
