"""DuckDB-oracle SQL generation for the declared query inventory
(SURVEY.md §2.3). The oracle shares NO code with the engine it checks
(r9, VERDICT r8 item 6): the filter DSL is compiled by an ORACLE-LOCAL
recursive-descent compiler (:func:`oracle_filter_sql` below — a second
independent implementation of the grammar at reference
src/query/filter.rs:154-293 / lexer.rs:3-35, emitting SQL directly with
no AST), differential-tested against the engine's shunting-yard +
Column compiler on generated filter strings. The events->points column
mapping (sources.events.TAG_SQL) remains shared by design — it is the
INPUT schema contract, not engine logic.

Output contract (driver hash-compare): columns (grp, start_ts, end_ts,
value, len); aggregate ``value`` rounded to 6 decimals on BOTH sides to
absorb summation-order float differences between Spark's partial/final
aggregation and DuckDB's sequential aggregation.
"""

from __future__ import annotations

from typing import Optional

import re as _re

from talna_spark.errors import InvalidQueryError
from talna_spark.sources.events import METRIC_SQL, TAG_SQL, TS_SQL

# ------------------------------------------------------------------
# Oracle-local filter-DSL compiler: text -> SQL boolean, one pass of
# recursive descent over a token scan — deliberately a DIFFERENT
# architecture from the engine's lexer + shunting-yard + AST + Column
# compiler, so a front-end bug cannot corrupt both sides identically.
# Grammar (precedence NOT > AND > OR, '*' whole-expression only):
#   query  := '*' | expr
#   expr   := term (OR term)*
#   term   := fact (AND fact)*
#   fact   := '!' fact | '(' expr ')' | leaf
#   leaf   := KEY ':' ('[' V (',' V)* ']' | V? '*' | V)
_ORC_KEY = r"[a-zA-Z_-]+"
_ORC_VAL = r"[a-zA-Z0-9_.\-]+"
_ORC_TOKENS = (
    # inside SET brackets the whitespace class is the reference's exact
    # [ \r\t\n\f] too (r15, matching the engine lexer — Python \s is a
    # Unicode superset and previously leaked in here on both twins)
    ("SET", _re.compile(
        rf"({_ORC_KEY}):\[[ \r\t\n\f]*({_ORC_VAL}(?:[ \r\t\n\f]*,[ \r\t\n\f]*{_ORC_VAL})*)[ \r\t\n\f]*\]")),
    ("WILD", _re.compile(rf"({_ORC_KEY}):((?:{_ORC_VAL})?)\*")),
    ("EQ", _re.compile(rf"({_ORC_KEY}):({_ORC_VAL})")),
    ("AND", _re.compile(r"AND\b")),
    ("OR", _re.compile(r"OR\b")),
    ("NOT", _re.compile(r"!")),
    ("LP", _re.compile(r"\(")),
    ("RP", _re.compile(r"\)")),
    ("STAR", _re.compile(r"\*")),
)


def _orc_scan(text: str) -> list[tuple]:
    toks, pos = [], 0
    while pos < len(text):
        # the grammar's whitespace is EXACTLY the reference lexer's skip
        # class (src/query/lexer.rs:4) — not Unicode isspace(); a
        # vertical tab or U+00A0 between tokens is a lex error on both
        # sides (r14, the engine lexer pins this in tests/test_dsl.py)
        if text[pos] in " \r\t\n\f":
            pos += 1
            continue
        for kind, rx in _ORC_TOKENS:
            m = rx.match(text, pos)
            if m:
                toks.append((kind,) + m.groups())
                pos = m.end()
                break
        else:
            raise InvalidQueryError(
                f"invalid filter query: unexpected character at {pos}"
            )
    return toks


def oracle_filter_sql(text: str, lookup) -> str:
    """Compile a filter-DSL string to a SQL boolean expression —
    the oracle's independent second implementation (``lookup`` maps a
    tag key to its VARCHAR SQL expression, NULL-when-absent)."""
    if text.strip() == "*":
        return "TRUE"
    toks = _orc_scan(text)
    if not toks:
        raise InvalidQueryError("invalid filter query: empty expression")
    i = 0

    def peek():
        return toks[i][0] if i < len(toks) else None

    def esc(v: str) -> str:
        return v.replace("'", "''")

    def leaf(tok) -> str:
        kind = tok[0]
        if kind == "EQ":
            return f"COALESCE({lookup(tok[1])} = '{esc(tok[2])}', FALSE)"
        if kind == "WILD":
            if tok[2] == "":
                return f"({lookup(tok[1])} IS NOT NULL)"
            pfx = esc(tok[2]).replace("%", r"\%").replace("_", r"\_")
            return (
                f"COALESCE({lookup(tok[1])} LIKE '{pfx}%' ESCAPE '\\', "
                "FALSE)"
            )
        # SET -> OR-of-Eq, left-nested like the engine's desugaring
        vals = [v.strip(" \r\t\n\f") for v in tok[2].split(",")]
        sql = f"COALESCE({lookup(tok[1])} = '{esc(vals[0])}', FALSE)"
        for v in vals[1:]:
            sql = (
                f"({sql} OR "
                f"COALESCE({lookup(tok[1])} = '{esc(v)}', FALSE))"
            )
        return sql

    def fact() -> str:
        nonlocal i
        k = peek()
        if k == "NOT":
            i += 1
            return f"(NOT {fact()})"
        if k == "LP":
            i += 1
            sql = expr()
            if peek() != "RP":
                raise InvalidQueryError(
                    "invalid filter query: unbalanced '('"
                )
            i += 1
        elif k in ("EQ", "WILD", "SET"):
            tok = toks[i]
            i += 1
            if peek() in ("EQ", "WILD", "SET"):
                raise InvalidQueryError(
                    "invalid filter query: adjacent operands"
                )
            sql = leaf(tok)
        elif k == "STAR":
            raise InvalidQueryError(
                "invalid filter query: '*' is only valid as the whole "
                "expression"
            )
        else:
            raise InvalidQueryError("invalid filter query: dangling operator")
        # POSTFIX '!': the engine's shunting-yard pushes NOT onto the op
        # stack with no position check, so a '!' AFTER a complete operand
        # (or group) pops as a unary on it — 'a:1 !' == '!a:1',
        # '(x:1 OR y:2)!' == '!(x:1 OR y:2)'. A quirk of the ported
        # grammar (reference src/query/filter.rs) that the differential
        # corpus surfaced; reproduced here deliberately.
        while peek() == "NOT":
            i += 1
            sql = f"(NOT {sql})"
        return sql

    def term() -> str:
        nonlocal i
        sql = fact()
        while peek() == "AND":
            i += 1
            sql = f"({sql} AND {fact()})"
        return sql

    def expr() -> str:
        nonlocal i
        sql = term()
        while peek() == "OR":
            i += 1
            sql = f"({sql} OR {term()})"
        return sql

    sql = expr()
    if i != len(toks):
        raise InvalidQueryError("invalid filter query: malformed expression")
    return sql

_AGG_SQL = {
    "avg": "AVG(value)",
    "sum": "SUM(value)",
    "min": "MIN(value)",
    "max": "MAX(value)",
    "count": "CAST(COUNT(*) AS DOUBLE)",
    "stddev": "STDDEV_SAMP(value)",
    # snapshot: value at max ts, ties -> larger value (struct max is
    # lexicographic in DuckDB exactly as in Spark)
    "latest": "(MAX({'ts': ts, 'v': value})).v",
    # net change: value at max ts minus value at min ts (struct extrema)
    "delta": "(MAX({'ts': ts, 'v': value})).v - (MIN({'ts': ts, 'v': value})).v",
}


def round6_sql(expr: str) -> str:
    """6-dp ROUND with signed-zero normalization — the SQL mirror of
    ``talna_spark.aggregate.round6`` (``-0.0 + 0 == 0.0``; the driver's
    value-hash distinguishes the two zero encodings)."""
    return f"(ROUND({expr}, 6) + 0)"


def _agg_sql(kind: str) -> str:
    """Aggregate expression for a kind, including percentile extension
    kinds ("p95" -> quantile_cont: linear interpolation, same as Spark's
    `percentile`)."""
    if kind in _AGG_SQL:
        return _AGG_SQL[kind]
    q = _oracle_percentile_q(kind)
    if q is not None:
        return f"quantile_cont(value, {q!r}::DOUBLE)"
    raise ValueError(f"unknown aggregation: {kind}")


def _oracle_percentile_q(kind: str) -> Optional[float]:
    """``"p95"`` -> 0.95; None otherwise. Oracle-local re-statement of the
    percentile kind grammar (mirrors talna_spark.aggregate.percentile_q
    without importing it — the oracle shares no code with the engine it
    checks). Same grammar as the engine: anything after the ``p`` that
    float-parses to q in (0, 1) is a percentile kind (``"p.5"``,
    ``"p+5"`` included); ``"pa*"`` is the approx-percentile prefix, not
    an exact percentile (ADVICE r8: the old ``isdigit`` gate drifted)."""
    if len(kind) < 2 or kind[0] != "p" or kind.startswith("pa"):
        return None
    try:
        q = float(kind[1:]) / 100.0
    except ValueError:
        return None
    return q if 0.0 < q < 1.0 else None

_PTS_CTE = (
    "WITH pts AS (SELECT "
    + METRIC_SQL
    + " AS metric, "
    + TS_SQL
    + " AS ts, value, "
    + ", ".join(f"{expr} AS tag_{k}" for k, expr in TAG_SQL.items())
    + " FROM events)"
)


def _tag_lookup(key: str) -> str:
    return f"tag_{key}" if key in TAG_SQL else "NULL"


def _grp_sql(group_by) -> tuple[str, list[str]]:
    """Group expression + not-null predicates. ``group_by`` is one tag key
    (reference semantics) or a sequence of keys (multi-group extension:
    grp = "k1:v1,k2:v2", mirroring QueryBuilder._group_col)."""
    if isinstance(group_by, str):
        grp = _tag_lookup(group_by)
        return grp, [f"{grp} IS NOT NULL"]
    parts = " || ',' || ".join(
        f"'{k}:' || {_tag_lookup(k)}" for k in group_by
    )
    return parts, [f"{_tag_lookup(k)} IS NOT NULL" for k in group_by]


_VALUE_PRED_OPS = (">", ">=", "<", "<=", "==", "!=")


def events_query_sql(
    kind: str,
    metric: str,
    group_by,
    flt: str = "*",
    start: Optional[int] = None,
    end: Optional[int] = None,
    granularity: Optional[int] = 60_000_000_000,
    round_value: bool = True,
    value_pred: Optional[tuple] = None,
) -> str:
    """DuckDB SQL equivalent of an aligned-mode events query.
    ``round_value=False`` leaves ``value`` unrounded — for wrappers
    (rolling) that aggregate bucket values further before rounding.
    ``value_pred`` = (op, threshold) mirrors QueryBuilder.where_value —
    the row-level value predicate the reference has no surface for."""
    pred = oracle_filter_sql(flt, _tag_lookup)
    grp, notnull = _grp_sql(group_by)
    where = [f"metric = '{metric}'", f"({pred})"] + notnull
    if start is not None:
        where.append(f"ts >= {int(start)}")
    if end is not None:
        where.append(f"ts <= {int(end)}")
    if value_pred is not None:
        op, x = value_pred
        if op not in _VALUE_PRED_OPS:
            raise ValueError(f"unknown value predicate op: {op}")
        where.append(f"value {'=' if op == '==' else op} {float(x)!r}")
    src = "pts"
    having = ""
    if kind == "distinct_series":
        # series identity = the full tagset (bijective with the canonical
        # series key the Spark side hashes): distinct tag tuples
        tup = ", ".join(f"tag_{k}" for k in TAG_SQL)
        agg = f"CAST(COUNT(DISTINCT ({tup})) AS DOUBLE)"
    elif kind == "twa":
        agg = "SUM(value * wgt) / SUM(wgt)"
    else:
        agg = _agg_sql({"rate": "avg", "increase": "sum"}.get(kind, kind))
    rate_cte = ""
    if kind == "twa":
        # mirror talna_spark.database._twa_transform: weight = ns until the
        # series' next point (0 for its last); zero-weight buckets dropped
        part = ", ".join(f"tag_{k}" for k in TAG_SQL)
        rate_cte = (
            f", sel AS (SELECT * FROM pts WHERE {' AND '.join(where)}), "
            f"wtd AS (SELECT {grp} AS grpv, ts, value, "
            f"COALESCE(LEAD(ts) OVER w - ts, 0) AS wgt FROM sel "
            f"WINDOW w AS (PARTITION BY {part} ORDER BY ts, value))"
        )
        src = "wtd"
        grp = "grpv"
        where = ["1=1"]
        having = " HAVING SUM(wgt) > 0"
    if kind in ("rate", "increase"):
        # Mirror talna_spark.database._rate_transform/_increase_transform:
        # filters and time bounds apply BEFORE the window (they select
        # which points exist, hence which pairs are consecutive); series
        # identity = the full tagset; ties ordered by value; dt=0 pairs
        # dropped. increase: reset-aware delta (smaller reading = restart
        # from 0, the new reading IS the increase).
        part = ", ".join(f"tag_{k}" for k in TAG_SQL)
        if kind == "increase":
            vexpr = (
                "CASE WHEN value >= LAG(value) OVER w "
                "THEN value - LAG(value) OVER w ELSE value END"
            )
        else:
            vexpr = "(value - LAG(value) OVER w) / ((ts - LAG(ts) OVER w) / 1e9)"
        rate_cte = (
            f", sel AS (SELECT * FROM pts WHERE {' AND '.join(where)}), "
            f"rated AS (SELECT {grp} AS grpv, ts, "
            f"{vexpr} AS value, LAG(ts) OVER w AS prev_ts FROM sel "
            f"WINDOW w AS (PARTITION BY {part} ORDER BY ts, value))"
        )
        src = "rated"
        grp = "grpv"
        where = ["prev_ts IS NOT NULL", "ts > prev_ts"]
    group_keys = [grp]
    if granularity is not None:
        group_keys.append(f"(ts // {int(granularity)})")
    val = round6_sql(agg) if round_value else agg
    return (
        f"{_PTS_CTE}{rate_cte} "
        f"SELECT {grp} AS grp, MIN(ts) AS start_ts, MAX(ts) AS end_ts, "
        f"{val} AS value, COUNT(*) AS len "
        f"FROM {src} WHERE {' AND '.join(where)} "
        f"GROUP BY {', '.join(group_keys)}{having}"
    )


def _spark_round6(x: float) -> float:
    """Bit-exact replica of Spark's ``round(double, 6)`` + signed-zero
    normalization: Spark rounds via ``BigDecimal.valueOf(d)`` (shortest
    round-trip decimal — what Python ``repr`` also produces) with
    HALF_UP at scale 6."""
    import decimal

    with decimal.localcontext() as ctx:
        ctx.prec = 60
        d = decimal.Decimal(repr(float(x))).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    f = float(d)
    return 0.0 if f == 0.0 else f


def _greedy_runs(ts_desc, width: int):
    """Independent second port of the reference greedy bucketizer
    (src/agg/stream.rs:60-97), deliberately written in a different style
    from the engine's ``talna_spark.aggregate._greedy_starts`` scan
    (plain-Python run accumulation over a list — no group codes, no
    start-index array) so the driver oracle shares NO code with the
    engine it certifies
    (VERDICT r7 item 1). Returns ``[(start_index, length), ...]`` runs
    over a DESC-sorted timestamp sequence: a run's anchor is its newest
    (first) timestamp, a point joins while ``anchor - ts <= width``
    (inclusive, stream.rs:76), otherwise the point re-anchors a new run.
    ``tests/test_greedy.py`` cross-checks both ports on the fixtures and
    on randomized streams.

    DOCUMENTED DEVIATION (adjudicated r14, shared with the engine): the
    reference's else branch (src/agg/stream.rs:81-86) DROPS the
    bucket-closing point — ``std::mem::take`` returns the bucket, the
    consumed point joins nothing, and the next call initializes from the
    following item. Both this oracle and the engine RE-ANCHOR that point
    as the next bucket's first member instead (the reference silently
    loses data at every boundary and never tests one); the deviation is
    pinned executable in aggregate._boundaries_drop."""
    runs: list[tuple[int, int]] = []
    anchor = None
    for i, t in enumerate(ts_desc):
        if anchor is None or anchor - t > width:
            runs.append((i, 1))
            anchor = t
        else:
            s, n = runs[-1]
            runs[-1] = (s, n + 1)
    return runs


def _greedy_runs_drop(ts_desc, width: int):
    """Independent oracle-side port of the reference's ACTUAL boundary
    behavior (src/agg/stream.rs:81-86; the drop semantics adjudicated
    r14): the point whose arrival closes a bucket is consumed and joins
    NO run; the point after it initializes the next run. Written
    independently of the engine's ``aggregate._boundaries_drop`` scan
    (plain-Python run list, three-way branch on an Optional anchor —
    no numpy, no keep mask) so the
    driver's q17 ``kind=dropref`` row certifies the engine with shared
    ZERO code. Returns ``[(start_index, length), ...]`` — dropped
    points lie strictly BETWEEN runs, so each run is contiguous."""
    runs: list[tuple[int, int]] = []
    anchor = None
    for i, t in enumerate(ts_desc):
        if anchor is None:
            runs.append((i, 1))  # stream.rs:67-73 — initialize
            anchor = t
        elif anchor - t <= width:
            s, n = runs[-1]      # stream.rs:76-80 — join
            runs[-1] = (s, n + 1)
        else:
            anchor = None        # stream.rs:81-86 — point joins nothing
    return runs


def greedy_events_values_sql(
    kind: str,
    metric: str,
    group_by,
    flt: str,
    start: Optional[int],
    end: Optional[int],
    width: int,
    sf_dir: Optional[str] = None,
    boundary: str = "reanchor",
) -> Optional[str]:
    """Driver-checkable oracle for GREEDY mode (reference O27,
    src/agg/stream.rs:60-97) — the one semantic DuckDB SQL cannot express
    (a sequential data-anchored scan).

    The expected rows are computed here, at oracle-generation time, by an
    independent single-threaded evaluation: DuckDB extracts the filtered
    (grp, ts, value) stream using the SAME generated mapping/predicate SQL
    as every aligned oracle, each group is ordered (ts DESC, value ASC) —
    the engine's pinned merge order — and the literal port of the
    reference loop (``_greedy_runs`` above — an oracle-local port written
    independently of the engine's ``_greedy_starts``) segments it. Bucket
    values replicate the engine's aggregation order bit-for-bit, then
    Spark-style 6-dp rounding; the result is emitted as a VALUES table the
    driver can run like any other oracle SQL. Returns None when the
    testdata directory is absent (driver then records rows-only).

    ``boundary="drop"`` (r15) computes the expected rows under the
    reference's bit-faithful drop semantics instead (``_greedy_runs_drop``
    above), so BOTH adjudicated boundary behaviors are hash-checked
    end-to-end — the q17 ``kind=dropref`` slice proves the deviation is
    exactly one dropped point per boundary, executable rather than
    prose. Drop-run values reduce with the same numpy reduceat
    primitive as the reanchor path (reduceat's per-segment order is
    not plain left-to-right, so the primitive must be shared for bit
    identity); the INDEPENDENT part is the run segmentation.

    The driver contract fixes the comparison scale at sf=0.01
    (__spark_entry__ docstring); ``TALNA_ORACLE_SF_DIR`` overrides."""
    if boundary not in ("reanchor", "drop"):
        raise ValueError(f"unknown greedy boundary semantics: {boundary!r}")
    import os

    import numpy as np

    sf_dir = sf_dir or os.environ.get(
        "TALNA_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    path = f"{sf_dir}/events.parquet"
    if not os.path.exists(path):
        return None
    import duckdb

    pred = oracle_filter_sql(flt, _tag_lookup)
    grp, notnull = _grp_sql(group_by)
    where = [f"metric = '{metric}'", f"({pred})"] + notnull
    if start is not None:
        where.append(f"ts >= {int(start)}")
    if end is not None:
        where.append(f"ts <= {int(end)}")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    pdf = con.sql(
        f"{_PTS_CTE} SELECT {grp} AS grp, ts, value FROM pts "
        f"WHERE {' AND '.join(where)} ORDER BY grp, ts DESC, value"
    ).df()
    con.close()

    out_rows: list[tuple[str, int, int, float, int]] = []
    w = int(width)
    if boundary == "drop":
        # segment per _greedy_runs_drop (the independent port), then
        # aggregate the KEPT rows with the same reduceat calls as the
        # reanchor oracle below — matching the engine's float reduction
        # bit-for-bit (reduceat's per-segment reduction order is NOT
        # plain left-to-right, so sharing the primitive is the point;
        # independence lives in the run computation, exactly as it does
        # for the reanchor twin). Dropped points sit strictly between
        # runs, so the kept-row concat keeps every segment contiguous.
        for g, gdf in pdf.groupby("grp", sort=True):
            ts = gdf["ts"].to_numpy(dtype=np.int64)
            val = gdf["value"].to_numpy(dtype=np.float64)
            runs = _greedy_runs_drop(ts.tolist(), w)
            if not runs:
                continue
            kval = val[np.concatenate(
                [np.arange(s, s + n) for s, n in runs]
            )]
            lens = np.array([n for _, n in runs], dtype=np.int64)
            starts = np.concatenate(
                ([0], np.cumsum(lens)[:-1])
            ).astype(np.int64)
            if kind == "avg":
                vals = np.add.reduceat(kval, starts) / lens
            elif kind == "sum":
                vals = np.add.reduceat(kval, starts)
            elif kind == "min":
                vals = np.minimum.reduceat(kval, starts)
            elif kind == "max":
                vals = np.maximum.reduceat(kval, starts)
            elif kind == "count":
                vals = lens.astype("float64")
            else:
                raise ValueError(
                    f"greedy oracle supports the five basics, not {kind}"
                )
            for i, (s, n) in enumerate(runs):
                out_rows.append(
                    (str(g), int(ts[s + n - 1]), int(ts[s]),
                     _spark_round6(float(vals[i])), int(n))
                )
        return _greedy_values_table(out_rows)
    for g, gdf in pdf.groupby("grp", sort=True):
        ts = gdf["ts"].to_numpy(dtype=np.int64)
        val = gdf["value"].to_numpy(dtype=np.float64)
        runs = _greedy_runs(ts.tolist(), w)
        starts = np.array([s for s, _ in runs], dtype=np.int64)
        lens = np.array([n for _, n in runs], dtype=np.int64)
        if kind == "avg":
            vals = np.add.reduceat(val, starts) / lens
        elif kind == "sum":
            vals = np.add.reduceat(val, starts)
        elif kind == "min":
            vals = np.minimum.reduceat(val, starts)
        elif kind == "max":
            vals = np.maximum.reduceat(val, starts)
        elif kind == "count":
            vals = lens.astype("float64")
        else:
            raise ValueError(f"greedy oracle supports the five basics, not {kind}")
        ends = ts[starts]
        begs = ts[np.append(starts[1:], len(ts)) - 1]
        for i in range(len(starts)):
            out_rows.append(
                (str(g), int(begs[i]), int(ends[i]),
                 _spark_round6(float(vals[i])), int(lens[i]))
            )

    return _greedy_values_table(out_rows)


def _greedy_values_table(out_rows) -> str:
    """Emit expected greedy rows as a DuckDB-runnable VALUES table —
    shared by both boundary variants of greedy_events_values_sql."""
    cols = (
        "CAST(c0 AS VARCHAR) AS grp, CAST(c1 AS BIGINT) AS start_ts, "
        "CAST(c2 AS BIGINT) AS end_ts, CAST(c3 AS DOUBLE) AS value, "
        "CAST(c4 AS BIGINT) AS len"
    )
    if not out_rows:
        return (
            f"SELECT {cols} FROM (VALUES ('', 0, 0, 0.0, 0)) "
            f"t(c0, c1, c2, c3, c4) WHERE 1 = 0"
        )
    lits = ", ".join(
        "('{}', {}, {}, CAST('{!r}' AS DOUBLE), {})".format(
            g.replace("'", "''"), s, e, v, n
        )
        for g, s, e, v, n in out_rows
    )
    return f"SELECT {cols} FROM (VALUES {lits}) t(c0, c1, c2, c3, c4)"


def events_calendar_sql(
    kind: str,
    metric: str,
    group_by,
    flt: str = "*",
    unit: str = "week",
    start: Optional[int] = None,
    end: Optional[int] = None,
) -> str:
    """DuckDB twin of an aligned CALENDAR-bucket query
    (``QueryBuilder.calendar(unit)``): the group key is the
    days-since-epoch of the UTC period start, computed at the DATE level
    (epoch ns -> whole days by integer division -> calendar date ->
    date_trunc) so no timestamp type and no session timezone is
    involved; weeks are ISO Monday in both engines. Oracle-local
    re-statement of talna_spark.aggregate.calendar_bucket_col — no
    engine import."""
    if unit not in ("day", "week", "month", "quarter", "year"):
        raise ValueError(f"unknown calendar unit: {unit}")
    pred = oracle_filter_sql(flt, _tag_lookup)
    grp, notnull = _grp_sql(group_by)
    where = [f"metric = '{metric}'", f"({pred})"] + notnull
    if start is not None:
        where.append(f"ts >= {int(start)}")
    if end is not None:
        where.append(f"ts <= {int(end)}")
    # FLOOR division, not DuckDB's truncating `//` — pre-epoch ts in
    # (-1 day, 0) belongs to 1969-12-31 (same correction as the engine's
    # calendar_bucket_col and events_sliding_sql's floordiv).
    _d = 86400000000000
    day = (
        f"((ts // {_d}) - "
        f"(CASE WHEN ts % {_d} < 0 THEN 1 ELSE 0 END))"
    )
    bucket = (
        f"(date_trunc('{unit}', DATE '1970-01-01' "
        f"+ CAST({day} AS INTEGER)) - DATE '1970-01-01')"
    )
    return (
        f"{_PTS_CTE} "
        f"SELECT {grp} AS grp, MIN(ts) AS start_ts, MAX(ts) AS end_ts, "
        f"{round6_sql(_agg_sql(kind))} AS value, COUNT(*) AS len "
        f"FROM pts WHERE {' AND '.join(where)} "
        f"GROUP BY {grp}, {bucket}"
    )


def events_rolling_sql(
    kind: str,
    metric: str,
    group_by,
    flt: str,
    granularity: int,
    k: int,
) -> str:
    """Oracle for QueryBuilder.rolling(k): trailing k-bucket moving average
    over the aligned buckets, RANGE-framed on the bucket index — mirrors
    talna_spark.aggregate.rolling_buckets (rounding only at the end)."""
    g = int(granularity)
    base = events_query_sql(
        kind, metric, group_by, flt, None, None, g, round_value=False
    )
    return (
        f"WITH agg AS ({base}) "
        f"SELECT grp, start_ts, end_ts, "
        + round6_sql(
            f"AVG(value) OVER (PARTITION BY grp ORDER BY (start_ts // {g}) "
            f"RANGE BETWEEN {int(k) - 1} PRECEDING AND CURRENT ROW)"
        )
        + " AS value, len FROM agg"
    )


def events_zscore_sql(
    kind: str,
    metric: str,
    group_by,
    flt: str,
    granularity: int,
    k: int,
) -> str:
    """Oracle for QueryBuilder.zscore(k): rolling z-score vs the trailing
    k buckets, RANGE-framed on the bucket index — mirrors
    talna_spark.aggregate.zscore_buckets (NULL when the frame has < 2 rows
    or zero variance)."""
    g = int(granularity)
    # Base values 6-dp-rounded (round_value default) BEFORE the window —
    # mirrors zscore_buckets, pinning the zero-variance NULLIF knife edge
    # identically on both engines.
    base = events_query_sql(kind, metric, group_by, flt, None, None, g)
    frame = (
        f"(PARTITION BY grp ORDER BY (start_ts // {g}) "
        f"RANGE BETWEEN {int(k) - 1} PRECEDING AND CURRENT ROW)"
    )
    # Unscored buckets (frame < 2 rows / zero variance) are dropped: the
    # driver's pandas-side compare renders SQL NULL floats as NaN and
    # would flag them against Spark-side None (same gotcha as locf
    # gapfill) — both engine wrapper and oracle filter identically.
    return (
        f"WITH agg AS ({base}), scored AS ("
        f"SELECT grp, start_ts, end_ts, "
        + round6_sql(
            f"(value - AVG(value) OVER {frame}) / "
            f"NULLIF(STDDEV_SAMP(value) OVER {frame}, 0.0)"
        )
        + " AS value, len FROM agg) "
        f"SELECT * FROM scored WHERE value IS NOT NULL"
    )


def events_sliding_sql(
    kind: str,
    metric: str,
    group_by,
    flt: str,
    width: int,
    slide: int,
) -> str:
    """Oracle for QueryBuilder.sliding: hopping windows via a
    generate_series explode of window indices — mirrors
    talna_spark.aggregate.sliding_buckets (window i covers
    [i*slide, i*slide + width - 1])."""
    pred = oracle_filter_sql(flt, _tag_lookup)
    grp, notnull = _grp_sql(group_by)
    w, s = int(width), int(slide)
    where = [f"metric = '{metric}'", f"({pred})"] + notnull

    # DuckDB's // truncates toward zero like Spark's div, but the window
    # math needs FLOOR division (they differ when ts < width) — same
    # explicit integer floor as talna_spark.aggregate.sliding_buckets.
    def floordiv(num: str) -> str:
        return (
            f"(({num}) // {s}) - "
            f"(CASE WHEN ({num}) % {s} <> 0 AND ({num}) < 0 THEN 1 ELSE 0 END)"
        )

    return (
        f"{_PTS_CTE}, sel AS (SELECT * FROM pts WHERE {' AND '.join(where)}), "
        f"win AS (SELECT {grp} AS grpv, ts, value, "
        f"unnest(generate_series({floordiv(f'ts - {w} + {s}')}, {floordiv('ts')})) AS i "
        f"FROM sel) "
        f"SELECT grpv AS grp, i * {s} AS win_start, "
        f"MIN(ts) AS start_ts, MAX(ts) AS end_ts, "
        f"{round6_sql(_agg_sql(kind))} AS value, COUNT(*) AS len "
        f"FROM win GROUP BY grpv, i"
    )


def events_sessions_sql(
    kind: str,
    metric: str,
    group_by,
    flt: str,
    gap: int,
    start: Optional[int] = None,
    end: Optional[int] = None,
) -> str:
    """Oracle for QueryBuilder.sessions: lag -> boundary flag -> running
    sum -> per-session aggregation, mirroring
    talna_spark.aggregate.session_buckets (same (ts, value) tie order)."""
    pred = oracle_filter_sql(flt, _tag_lookup)
    grp, notnull = _grp_sql(group_by)
    where = [f"metric = '{metric}'", f"({pred})"] + notnull
    if start is not None:
        where.append(f"ts >= {int(start)}")
    if end is not None:
        where.append(f"ts <= {int(end)}")
    g = int(gap)
    return (
        f"{_PTS_CTE}, sel AS (SELECT {grp} AS grpv, ts, value FROM pts "
        f"WHERE {' AND '.join(where)}), "
        f"flg AS (SELECT grpv, ts, value, "
        f"CASE WHEN ts - LAG(ts) OVER w > {g} THEN 1 ELSE 0 END AS brk "
        f"FROM sel WINDOW w AS (PARTITION BY grpv ORDER BY ts, value)), "
        f"ses AS (SELECT grpv, ts, value, SUM(brk) OVER "
        f"(PARTITION BY grpv ORDER BY ts, value "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM flg) "
        f"SELECT grpv AS grp, MIN(ts) AS start_ts, MAX(ts) AS end_ts, "
        f"{round6_sql(_agg_sql(kind))} AS value, COUNT(*) AS len "
        f"FROM ses GROUP BY grpv, sid"
    )


def events_binary_sql(
    op: str,
    kind: str,
    left_metric: str,
    right_metric: str,
    group_by,
    flt: str = "*",
    start: Optional[int] = None,
    end: Optional[int] = None,
    granularity: Optional[int] = 60_000_000_000,
) -> str:
    """Oracle for Database.binary/ratio: each side is the single-metric
    aligned query (unrounded), inner-joined on (group, bucket index);
    ``div`` NULLs a zero denominator, mirroring BinaryQueryBuilder."""
    sym = {"add": "+", "sub": "-", "mul": "*", "div": "/"}[op]
    lsql = events_query_sql(
        kind, left_metric, group_by, flt, start, end, granularity,
        round_value=False,
    )
    rsql = events_query_sql(
        kind, right_metric, group_by, flt, start, end, granularity,
        round_value=False,
    )
    rv = "NULLIF(r.value, 0)" if op == "div" else "r.value"
    on = "l.grp = r.grp"
    if granularity is not None:
        g = int(granularity)
        on += f" AND (l.start_ts // {g}) = (r.start_ts // {g})"
    return (
        f"WITH l AS ({lsql}), r AS ({rsql}) "
        f"SELECT l.grp AS grp, "
        f"LEAST(l.start_ts, r.start_ts) AS start_ts, "
        f"GREATEST(l.end_ts, r.end_ts) AS end_ts, "
        f"{round6_sql(f'(l.value {sym} {rv})')} AS value, "
        f"l.len + r.len AS len "
        f"FROM l JOIN r ON {on}"
    )


def events_gapfill_sql(
    kind: str,
    metric: str,
    group_by: str,
    flt: str,
    start: Optional[int],
    end: Optional[int],
    granularity: int,
    mode: str,
) -> str:
    """Oracle for QueryBuilder.gapfill: per-group bucket spine
    (generate_series), left join, fill per mode — mirrors
    talna_spark.aggregate.gapfill_buckets."""
    g = int(granularity)
    base = events_query_sql(kind, metric, group_by, flt, start, end, g)
    if start is not None and end is not None:
        rng = (
            f"rng AS (SELECT grp, {start // g} AS lo, {end // g} AS hi "
            f"FROM (SELECT DISTINCT grp FROM agg))"
        )
    else:
        rng = (
            f"rng AS (SELECT grp, MIN(start_ts // {g}) AS lo, "
            f"MAX(start_ts // {g}) AS hi FROM agg GROUP BY grp)"
        )
    value = "value"
    if mode == "zero":
        value = "COALESCE(value, 0.0) AS value"
    elif mode == "locf":
        value = (
            "last_value(value IGNORE NULLS) OVER (PARTITION BY grp ORDER BY b "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value"
        )
    return (
        f"WITH agg AS ({base}), {rng}, "
        f"spine AS (SELECT grp, unnest(generate_series(lo, hi)) AS b FROM rng), "
        f"filled AS (SELECT s.grp, s.b, "
        f"COALESCE(a.start_ts, s.b * {g}) AS start_ts, "
        f"COALESCE(a.end_ts, s.b * {g} + {g - 1}) AS end_ts, "
        f"a.value AS value, COALESCE(a.len, 0) AS len "
        f"FROM spine s LEFT JOIN agg a ON a.grp = s.grp "
        f"AND a.start_ts // {g} = s.b) "
        f"SELECT grp, start_ts, end_ts, {value}, len FROM filled"
    )


def events_topk_sql(
    kind: str,
    metric: str,
    group_by: str,
    flt: str = "*",
    k: int = 5,
    granularity: Optional[int] = None,
) -> str:
    """Oracle for QueryBuilder.top(k): rank aggregated rows by 6-dp-rounded
    value DESC with (grp, start_ts) ASC tie-break — identical ordering to
    the Spark side."""
    base = events_query_sql(kind, metric, group_by, flt, None, None, granularity)
    return (
        f"WITH agg AS ({base}) "
        f"SELECT grp, start_ts, end_ts, value, len, rank FROM ("
        f"SELECT *, ROW_NUMBER() OVER "
        f"(ORDER BY value DESC, grp ASC, start_ts ASC) AS rank FROM agg) "
        f"WHERE rank <= {int(k)}"
    )


def events_histogram_sql(
    metric: str,
    group_by,
    flt: str,
    width: Optional[int],
    lo: float,
    hi: float,
    nbins: int,
) -> str:
    """Oracle for QueryBuilder.histogram: fixed-bin per-bucket value
    distribution — mirrors talna_spark.aggregate.histogram_buckets
    (bin = floor((value - lo)/binw), underflow -1, overflow nbins; bin
    edges as the identical double arithmetic, 6-dp-rounded on emit)."""
    pred = oracle_filter_sql(flt, _tag_lookup)
    grp, notnull = _grp_sql(group_by)
    lo, hi, nbins = float(lo), float(hi), int(nbins)
    binw = (hi - lo) / nbins
    where = [f"metric = '{metric}'", f"({pred})"] + notnull
    bucket = f"(ts // {int(width)})" if width is not None else "0"
    w = int(width) if width is not None else 0
    bin_ = (
        f"(CASE WHEN value < {lo!r} THEN -1 "
        f"WHEN value >= {hi!r} THEN {nbins} "
        f"ELSE LEAST(CAST(FLOOR((value - {lo!r}) / {binw!r}) AS INTEGER), "
        f"{nbins - 1}) END)"
    )
    return (
        f"{_PTS_CTE}, sel AS (SELECT * FROM pts "
        f"WHERE {' AND '.join(where)}), "
        f"b AS (SELECT {grp} AS grpv, {bucket} AS bkt, {bin_} AS bin "
        f"FROM sel) "
        f"SELECT grpv AS grp, CAST(bkt * {w} AS BIGINT) AS bucket_start, "
        f"bin, "
        f"{round6_sql(f'({lo!r} + bin * {binw!r})')} AS bin_lo, "
        f"{round6_sql(f'({lo!r} + (bin + 1) * {binw!r})')} AS bin_hi, "
        f"COUNT(*) AS n "
        f"FROM b GROUP BY grpv, bkt, bin"
    )


def events_cube_sql(
    kind: str,
    metric: str,
    group_by,
    flt: str = "*",
    start: Optional[int] = None,
    end: Optional[int] = None,
    granularity: Optional[int] = 60_000_000_000,
    sets: str = "cube",
) -> str:
    """DuckDB SQL twin of QueryBuilder.cube() / rollup_sets() —
    grouping-sets subtotals via DuckDB's NATIVE ``CUBE`` / ``ROLLUP`` +
    ``GROUPING()`` (a genuinely independent algorithm from the Spark
    side's explode/Expand): every subset (cube) or prefix subset
    (rollup) of the group tags aggregates, rolled-up slots shown as
    ``k:*`` in the composed group key. Group-drop (O25) still applies:
    rows must carry ALL group tags."""
    if sets not in ("cube", "rollup"):
        raise ValueError(f"unknown grouping-sets mode: {sets}")
    if isinstance(group_by, str) or len(tuple(group_by)) < 2:
        raise ValueError("cube requires at least two group tags")
    keys = tuple(group_by)
    pred = oracle_filter_sql(flt, _tag_lookup)
    _, notnull = _grp_sql(keys)
    where = [f"metric = '{metric}'", f"({pred})"] + notnull
    if start is not None:
        where.append(f"ts >= {int(start)}")
    if end is not None:
        where.append(f"ts <= {int(end)}")
    grp = " || ',' || ".join(
        f"'{k}:' || CASE WHEN GROUPING({_tag_lookup(k)}) = 1 "
        f"THEN '*' ELSE {_tag_lookup(k)} END"
        for k in keys
    )
    cube_cols = ", ".join(_tag_lookup(k) for k in keys)
    group_keys = [f"{sets.upper()}({cube_cols})"]
    if granularity is not None:
        group_keys.insert(0, f"(ts // {int(granularity)})")
    agg = round6_sql(_agg_sql(kind))
    return (
        f"{_PTS_CTE} "
        f"SELECT {grp} AS grp, MIN(ts) AS start_ts, MAX(ts) AS end_ts, "
        f"{agg} AS value, COUNT(*) AS len "
        f"FROM pts WHERE {' AND '.join(where)} "
        f"GROUP BY {', '.join(group_keys)}"
    )
