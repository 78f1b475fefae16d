"""Custom stateful streaming operator: greedy bucket rollup with
``applyInPandasWithState``.

The reference's greedy bucketizer (src/agg/stream.rs:60-97) is a
sequential per-group segmentation; its batch form lives in
talna_spark.aggregate.greedy_buckets. This is the streaming form: per
group tag, the open bucket survives across micro-batches as explicit
state, closed buckets are emitted as soon as a point lands beyond the
bucket width.

Semantics (documented deviation): streams arrive oldest->newest, so the
anchor is the bucket's FIRST (oldest) point and a point joins while
``ts - anchor <= width`` — the forward-in-time mirror of the reference's
newest-anchored rule (which assumes a newest-first scan). On reversed
input the two rules segment identically for the same width. Late points
older than the open bucket's anchor are absorbed into it (they extend
``start_ts`` downward) — the streaming stand-in for the reference's
insert-at-key-position visibility (src/db.rs:342-343).

Scale shape: state is O(groups) fixed-size tuples (7 numbers), shuffled
once per micro-batch on the group key; per-batch work is a linear numpy
pass over the batch rows. No watermark needed — state never grows with
time, only with group cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("anchor", LongType()),   # open bucket's oldest ts
        StructField("end_ts", LongType()),   # open bucket's newest ts
        StructField("acc_sum", DoubleType()),
        StructField("acc_min", DoubleType()),
        StructField("acc_max", DoubleType()),
        StructField("n", LongType()),
    ]
)

OUT_SCHEMA = StructType(
    [
        StructField("grp", StringType()),
        StructField("start_ts", LongType()),
        StructField("end_ts", LongType()),
        StructField("value", DoubleType()),
        StructField("len", LongType()),
    ]
)


def greedy_rollup_stream(
    points_stream: DataFrame,
    group_by: str,
    kind: str = "avg",
    width_ns: int = 60_000_000_000,
) -> DataFrame:
    """Greedy-bucketed streaming aggregation keyed by a tag.

    Emits one row per CLOSED bucket (a bucket closes when a later point
    falls beyond ``width_ns`` of its anchor); the open bucket per group
    stays in the operator state until a closing point arrives. Supported
    kinds: avg | sum | min | max | count (bounded accumulators only —
    percentile state would be unbounded by construction).
    """
    if kind not in ("avg", "sum", "min", "max", "count"):
        raise ValueError(f"unsupported streaming greedy kind: {kind}")
    kind_b = kind
    w = int(width_ns)

    def _roll(key, pdfs, state):
        import pandas as pd  # noqa: F401 (worker-side import)

        grp = key[0]
        if state.exists:
            anchor, end_ts, s, mn, mx, n = state.get
        else:
            anchor = None
        closed = []

        def finish(s_, mn_, mx_, n_):
            if kind_b == "avg":
                return s_ / n_
            if kind_b == "sum":
                return s_
            if kind_b == "min":
                return mn_
            if kind_b == "max":
                return mx_
            return float(n_)

        # Materialize the batch's chunks BEFORE sorting: the iterator's
        # cross-chunk order follows shuffle fetch order, which is
        # nondeterministic — sorting each chunk alone can replay a
        # micro-batch's rows out of time order and close a bucket early
        # (observed as a rare suite-order flake). Memory is bounded by
        # this group's rows in THIS micro-batch, the same bound any
        # per-group batch pass has.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            whole = whole.sort_values("ts", kind="mergesort")
        else:
            whole = None
        if whole is not None:
            for ts, v in zip(whole["ts"].tolist(), whole["value"].tolist()):
                if anchor is None:
                    anchor, end_ts, s, mn, mx, n = ts, ts, v, v, v, 1
                    continue
                if ts - anchor > w:
                    closed.append((grp, anchor, end_ts, finish(s, mn, mx, n), n))
                    anchor, end_ts, s, mn, mx, n = ts, ts, v, v, v, 1
                else:
                    # absorbs late points too (ts may be < anchor)
                    anchor = min(anchor, ts)
                    end_ts = max(end_ts, ts)
                    s += v
                    mn = min(mn, v)
                    mx = max(mx, v)
                    n += 1
        if anchor is not None:
            state.update((anchor, end_ts, s, mn, mx, n))
        if closed:
            yield pd.DataFrame(
                closed, columns=["grp", "start_ts", "end_ts", "value", "len"]
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    grp_col = F.col("tags").getItem(group_by)
    prepared = (
        points_stream.filter(grp_col.isNotNull())
        .select(grp_col.alias("grp"), "ts", "value")
    )
    return prepared.groupBy("grp").applyInPandasWithState(
        _roll,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
