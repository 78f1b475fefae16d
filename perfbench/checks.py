"""Correctness checks: every result the benchmark times is compared here,
after the timed phase, against an independent evaluation in DuckDB over
the same generated inputs.

- dashboard queries: aligned buckets in SQL, with the filter compiled by
  the oracle's own DSL compiler (``talna_spark.oracle.oracle_filter_sql``);
- curation verdicts against ``curate_sql()``;
- Bloom-amortized exact-dedup flags against the duplicates the
  generator planted.

Each checker returns a list of failure messages (empty = correct).
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pyarrow as pa

from talna_spark.oracle import oracle_filter_sql

TAG_KEYS = ("host", "service", "region")
_AGG = {"avg": "AVG(value)", "sum": "SUM(value)", "min": "MIN(value)",
        "max": "MAX(value)", "count": "CAST(COUNT(*) AS DOUBLE)"}


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _same_rows(got: list, want: list) -> str | None:
    """Order-insensitive compare of (grp, start_ts, end_ts, value, len)."""
    g, w = sorted(got, key=lambda r: (r[0], r[1])), sorted(want, key=lambda r: (r[0], r[1]))
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    for a, b in zip(g, w):
        if a[0] != b[0] or a[1] != b[1] or a[2] != b[2] or a[4] != b[4] \
                or not _close(float(a[3]), float(b[3])):
            return f"row {a} != expected {b}"
    return None


class QueryOracle:
    """DuckDB over the generated points, one row per point with its tags."""

    def __init__(self, pts) -> None:
        self.con = duckdb.connect()
        idx = pts.series
        table = pa.table({
            "ts": pts.ts,
            "value": pts.value,
            "host": np.asarray(pts.hosts)[idx],
            "service": np.asarray(pts.services)[idx],
            "region": np.asarray(pts.regions)[idx],
        })
        self.con.register("pts_arrow", table)
        self.con.execute("CREATE TABLE pts AS SELECT * FROM pts_arrow")
        self.con.unregister("pts_arrow")
        self._cache: dict = {}

    def _where(self, q) -> str:
        pred = oracle_filter_sql(q.flt, lambda k: k if k in TAG_KEYS else "NULL")
        return (f"({pred}) AND {q.group_by} IS NOT NULL "
                f"AND ts >= {q.start} AND ts <= {q.end}")

    def expected(self, q) -> list:
        if q.signature not in self._cache:
            sql = (
                f"SELECT {q.group_by} AS grp, MIN(ts), MAX(ts), {_AGG[q.kind]}, "
                f"COUNT(*) FROM pts WHERE {self._where(q)} "
                f"GROUP BY {q.group_by}, ts // {q.granularity}"
            )
            self._cache[q.signature] = [tuple(r) for r in self.con.execute(sql).fetchall()]
        return self._cache[q.signature]

    def check(self, q, got: list) -> list:
        why = _same_rows(got, self.expected(q))
        return [] if why is None else [f"{q}: {why}"]


class CurateOracle:
    """``curate_sql()`` in DuckDB over the corpus, evaluated once: every
    curation step reads the same documents."""

    def __init__(self, docs: list) -> None:
        from talna_spark.pipeline.curate import curate_sql

        con = duckdb.connect()
        con.register("documents", pa.table({
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs], pa.string()),
        }))
        self.want = sorted(tuple(r) for r in con.execute(curate_sql()).fetchall())
        con.close()

    def check(self, got: list) -> list:
        """``got``: (doc_id, verdict, split) rows from ``curate``."""
        have = sorted(tuple(r) for r in got)
        if have == self.want:
            return []
        diff = sorted(set(self.want) ^ set(have))[:3]
        return [f"curate: {len(have)} verdicts vs {len(self.want)} expected; "
                f"first differences {diff}"]


def check_dedup(corpus, batch: list, got: list) -> list:
    """``got``: (doc_id, exact_dup) rows from the exact dedup of
    ``batch``: planted exact copies must be flagged, everything else
    (near copies and fresh text) must not."""
    flags = dict(got)
    bad = []
    if len(flags) != len(batch) or len(got) != len(batch):
        bad.append(f"dedup: {len(got)} flags for {len(batch)} docs")
    for doc_id, _text in batch:
        want = doc_id in corpus.planted_exact
        if flags.get(doc_id) is not want:
            bad.append(f"dedup: doc {doc_id} flagged {flags.get(doc_id)}, expected {want}")
    return bad
