"""Property-based tests (SURVEY.md §5: "property-based round-trip of
series-key canonicalization" + parser/greedy invariants), via hypothesis.

Spark-involving properties batch all hypothesis examples into ONE job
(collect a list of cases, run a single createDataFrame) so the property
pass doesn't cost one Spark job per example.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from talna_spark.dsl.ast import AllStar, And, Eq, Node, Not, Or, Wildcard
from talna_spark.dsl.parser import parse_filter_query
from tests.conftest import segment_ids

# DSL charsets (reference src/query/lexer.rs:3-26)
KEY_ALPHA = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ_-"
VAL_ALPHA = KEY_ALPHA + "0123456789."

keys = st.text(KEY_ALPHA, min_size=1, max_size=8)
vals = st.text(VAL_ALPHA, min_size=1, max_size=8)


# --------------------------------------------------- parser round-trip
def render(n: Node) -> str:
    """Fully-parenthesized DSL rendering — parsing it must reproduce the
    exact AST (precedence can't interfere under full parens)."""
    if isinstance(n, AllStar):
        return "*"
    if isinstance(n, Eq):
        return f"{n.key}:{n.value}"
    if isinstance(n, Wildcard):
        return f"{n.key}:{n.prefix}*"
    if isinstance(n, And):
        return f"({render(n.left)} AND {render(n.right)})"
    if isinstance(n, Or):
        return f"({render(n.left)} OR {render(n.right)})"
    if isinstance(n, Not):
        return f"!({render(n.child)})"
    raise AssertionError(n)


def ast_nodes() -> st.SearchStrategy[Node]:
    leaves = st.one_of(
        st.builds(Eq, keys, vals),
        st.builds(Wildcard, keys, st.one_of(st.just(""), vals)),
    )
    return st.recursive(
        leaves,
        lambda inner: st.one_of(
            st.builds(And, inner, inner),
            st.builds(Or, inner, inner),
            st.builds(Not, inner),
        ),
        max_leaves=8,
    )


@given(ast_nodes())
@settings(max_examples=200, deadline=None)
def test_parser_round_trips_rendered_ast(node):
    assert parse_filter_query(render(node)) == node


# ------------------------------------------- greedy segmentation invariants
@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=200),
    st.integers(min_value=1, max_value=10**5),
)
@settings(max_examples=200, deadline=None)
def test_greedy_invariants(ts_values, width):
    ts = np.array(sorted(ts_values, reverse=True), dtype=np.int64)
    seg = segment_ids(ts, width)
    # bucket ids are 0-based, contiguous, nondecreasing over the DESC scan
    assert seg[0] == 0
    assert set(np.diff(seg).tolist()) <= {0, 1}
    # within a bucket every point is within `width` of the bucket's anchor
    # (its newest = first element); across a boundary the gap exceeds width
    starts = np.flatnonzero(np.diff(seg, prepend=-1))
    for i, s in enumerate(starts):
        e = starts[i + 1] if i + 1 < len(starts) else len(ts)
        assert ts[s] - ts[e - 1] <= width  # anchor - oldest member
        if e < len(ts):
            assert ts[s] - ts[e] > width  # first excluded point


# ------------------------------------- series-key canonicalization (Spark)
def _py_series_key(metric: str, tags: dict[str, str]) -> str:
    joined = ";".join(f"{k}:{tags[k]}" for k in sorted(tags))
    return f"{metric}#{joined}"


def test_series_key_spark_matches_python(spark):
    import pyspark.sql.functions as F

    from talna_spark.ingest import series_key_col

    # one Spark job over many generated cases (hypothesis-free batch: the
    # per-example Spark round-trip would dominate runtime)
    rng = np.random.default_rng(7)
    cases = []
    for _ in range(300):
        nk = int(rng.integers(0, 5))
        tags = {
            "".join(rng.choice(list(KEY_ALPHA), size=int(rng.integers(1, 6)))): "".join(
                rng.choice(list(VAL_ALPHA), size=int(rng.integers(1, 6)))
            )
            for _ in range(nk)
        }
        cases.append(("app.metric", tags))
    df = spark.createDataFrame(
        [(m, t) for m, t in cases], "metric string, tags map<string,string>"
    )
    got = [
        r[0]
        for r in df.select(
            series_key_col(F.col("metric"), F.col("tags"))
        ).collect()
    ]
    expected = [_py_series_key(m, t) for m, t in cases]
    assert got == expected


def _reference_parse_key_value_pairs(s: str) -> dict:
    """Literal port of the reference's tagset decoder
    (src/tag_sets.rs:43-56): split on ';', then each pair splitn(2, ':');
    a segment without ':' PANICS there ("Invalid parsed tag")."""
    out = {}
    for pair in s.split(";"):
        k, sep, v = pair.partition(":")
        if not sep:
            raise RuntimeError(f"Invalid parsed tag: {pair!r}")
        out[k] = v
    return out


def test_series_key_separator_ambiguity_is_reference_shared(spark):
    """r15 audit of src/series_key.rs:20-41 + tag_sets.rs:43-56 +
    db.rs:324-351: the reference validates NO tag charset on write, and
    its unescaped `metric#k:v;k:v` format is not injective — a tag
    VALUE containing ';'/':' collides with a different tagset. The
    reference then decodes the stored string back at query time, so
    {a: 'b;c:d'} silently RE-PARSES as {a:'b', c:'d'} (wrong tags) and
    {a: 'b;cd'} PANICS ('Invalid parsed tag'). This engine shares the
    identity format deliberately (bug-compatible series_id, same
    collision — documented in database.py and ingest.py) but never
    round-trips tags through the string: the tags MAP column stays the
    source of truth, so filtering/grouping on the colliding-but-clean
    tagset remains correct and nothing ever panics."""
    import pyspark.sql.functions as F

    from talna_spark.ingest import series_key_col

    adversarial = {"a": "b;c:d"}
    clean = {"a": "b", "c": "d"}
    # 1. identity collision — BOTH formats produce the same key
    assert _py_series_key("m", adversarial) == _py_series_key("m", clean)
    df = spark.createDataFrame(
        [("m", adversarial), ("m", clean)],
        "metric string, tags map<string,string>",
    )
    keys = [
        r[0]
        for r in df.select(
            series_key_col(F.col("metric"), F.col("tags"))
        ).collect()
    ]
    assert keys[0] == keys[1] == "m#a:b;c:d"
    # 2. the reference's decode: the adversarial tagset silently comes
    # back as the OTHER tagset...
    assert _reference_parse_key_value_pairs("a:b;c:d") == clean
    # ...and a ';' whose tail lacks ':' panics at query time there
    with pytest.raises(RuntimeError, match="Invalid parsed tag"):
        _reference_parse_key_value_pairs("a:b;cd")
    # 3. this engine never decodes the string — the map column is the
    # truth, so a tags-map filter still sees the REAL adversarial value
    got = df.filter(F.col("tags").getItem("a") == "b;c:d").count()
    assert got == 1


@settings(max_examples=12, deadline=None)
@given(
    ts=st.lists(
        st.integers(min_value=0, max_value=2_000), min_size=1, max_size=120
    ),
    width=st.integers(min_value=1, max_value=60),
    slice_mult=st.integers(min_value=2, max_value=20),
)
def test_sliced_greedy_equals_single_task_on_random_data(
    spark, ts, width, slice_mult
):
    # the two-level greedy decomposition must be bit-identical to the
    # one-task scan for ANY timestamp multiset / width / slice width
    from pyspark.sql import functions as F

    from talna_spark.aggregate import greedy_buckets, greedy_buckets_sliced
    from tests.conftest import make_points

    rows = [
        ("m", t, float((i * 7919) % 1000) / 8.0, {"h": "a" if i % 3 else "b"})
        for i, t in enumerate(ts)
    ]
    pts = make_points(spark, rows).filter(F.col("metric") == "m")
    grp = F.col("tags").getItem("h")
    single = sorted(
        map(tuple, greedy_buckets(pts, grp, "sum", width).collect())
    )
    sliced = sorted(
        map(
            tuple,
            greedy_buckets_sliced(
                pts, grp, "sum", width, width * slice_mult
            ).collect(),
        )
    )
    assert sliced == single


# ------------------------- unigram Viterbi / lattice properties (r10)
@given(
    st.text(alphabet="abcd", min_size=1, max_size=8),
    st.lists(
        st.text(alphabet="abcd", min_size=2, max_size=4),
        max_size=6,
        unique=True,
    ),
)
@settings(max_examples=200, deadline=None)
def test_unigram_viterbi_is_optimal_and_total(word, extra_pieces):
    """Viterbi vs brute-force enumeration over ALL segmentations of a
    short word: same best score (and the DP's segmentation achieves
    it), every piece either in the model or a single UNK char, and the
    pieces concatenate exactly to the word."""
    import itertools
    import math

    from talna_spark.pipeline.unigram import UNK_LOGP, _viterbi

    logp = {c: math.log(0.2) for c in "ab"}  # 'c','d' are UNK chars
    for i, p in enumerate(extra_pieces):
        logp[p] = math.log(0.3) - 0.1 * i

    def arc(piece):
        if piece in logp:
            return logp[piece]
        if len(piece) == 1:
            return UNK_LOGP
        return None

    segs = _viterbi(word, logp, max_len=4, unk=UNK_LOGP)
    assert "".join(segs) == word
    assert all(arc(p) is not None for p in segs)
    got = sum(arc(p) for p in segs)

    # brute force: all compositions of the word into 1..4-char pieces
    n = len(word)
    best = float("-inf")
    for cuts in range(1 << (n - 1)):
        bounds = [0] + [i + 1 for i in range(n - 1) if cuts >> i & 1] + [n]
        if any(b - a > 4 for a, b in zip(bounds, bounds[1:])):
            continue
        score = 0.0
        ok = True
        for a, b in zip(bounds, bounds[1:]):
            s = arc(word[a:b])
            if s is None:
                ok = False
                break
            score += s
        if ok:
            best = max(best, score)
    assert got == pytest.approx(best, abs=1e-9)


@given(st.text(alphabet="abc", min_size=1, max_size=7))
@settings(max_examples=100, deadline=None)
def test_unigram_soft_posteriors_cover_each_position_once(word):
    """The lattice marginal identity: for every character position, the
    posteriors of the arcs covering it sum to 1 — the invariant that
    makes soft-EM expected counts conserve corpus mass."""
    import math

    from tests.test_unigram import _ref_posteriors

    logp = {c: math.log(0.3) for c in "abc"}
    logp["ab"] = math.log(0.25)
    logp["bc"] = math.log(0.2)
    logp["abc"] = math.log(0.15)
    post = _ref_posteriors(word, logp, max_len=3)
    # locate arcs: re-walk the same (i, j) enumeration order
    n = len(word)
    arcs = []
    for j in range(1, n + 1):
        for i in range(max(0, j - 3), j):
            p = logp.get(word[i:j])
            if p is None and j - i == 1:
                p = -20.0
            if p is not None:
                arcs.append((i, j))
    assert len(arcs) == len(post)
    for pos in range(n):
        cover = sum(
            pr for (i, j), (_pc, pr) in zip(arcs, post) if i <= pos < j
        )
        assert cover == pytest.approx(1.0, abs=1e-9)


# ---------------------------------------------------------------- r12 ops
@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),  # n elements
            st.data(),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_kept_by_index_matches_python(spark, docs):
    """dedup._kept_by_index == the obvious Python comprehension for
    random arrays and random distinct removal index sets (including
    empty arrays, empty removals, and full removal)."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.dedup import _kept_by_index

    rows = []
    for i, (n, data) in enumerate(docs):
        arr = [f"t{j % 7}" for j in range(n)]
        rem = sorted(
            data.draw(
                st.sets(st.integers(min_value=0, max_value=max(n - 1, 0)), max_size=n)
            )
        ) if n else []
        rows.append((i, arr, [int(r) for r in rem]))
    df = spark.createDataFrame(
        rows, "doc_id long, arr array<string>, rem array<int>"
    )
    got = {
        r["doc_id"]: list(r["k"])
        for r in df.withColumn(
            "k", _kept_by_index(F.col("arr"), F.col("rem"))
        ).collect()
    }
    for i, arr, rem in rows:
        want = [x for j, x in enumerate(arr) if j not in set(rem)]
        assert got[i] == want, (i, arr, rem)


@settings(max_examples=6, deadline=None)
@given(
    st.integers(min_value=1, max_value=120),  # n ids
    st.integers(min_value=1, max_value=20),   # max_tokens
    st.data(),
)
def test_chunk_token_ids_properties(spark, n, ms, data):
    """Random (n, max_tokens, step): every chunk fits max_tokens,
    consecutive chunks share exactly the overlap, stitching reproduces
    the original ids, and the redundant-last-window rule holds."""
    from pyspark.sql import functions as F  # noqa: F401

    from talna_spark.pipeline.packing import chunk_token_ids

    st_ = data.draw(st.integers(min_value=1, max_value=ms))
    ov = ms - st_
    df = spark.createDataFrame([(0, list(range(n)))], "doc_id long, ids array<long>")
    chunks = {
        r["chunk_idx"]: list(r["ids"])
        for r in chunk_token_ids(df, max_tokens=ms, step=st_).collect()
    }
    assert sorted(chunks) == list(range(len(chunks)))
    rebuilt = list(chunks[0])
    assert len(chunks[0]) <= ms
    for i in sorted(chunks)[1:]:
        assert len(chunks[i]) <= ms
        assert chunks[i][:ov] == rebuilt[-ov:] if ov else True
        rebuilt.extend(chunks[i][ov:])
    assert rebuilt == list(range(n))
    # no redundant last window: every chunk past the first contributes
    # at least one new id
    for i in sorted(chunks)[1:]:
        assert len(chunks[i]) > ov


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.text(alphabet="abcd", min_size=1, max_size=4), max_size=60),
    st.integers(min_value=1, max_value=4),
)
def test_lc_merge_and_estimate_properties(spark, values, n_shards):
    """Random value lists split into random shards: the OR-merge of
    per-shard bitmaps equals the union's bitmap, and the estimate
    matches the closed form from the set-bit count."""
    import math

    from talna_spark.pipeline.sketches import lc_build, lc_estimate, lc_merge

    m = 256
    df = spark.createDataFrame([(v,) for v in values] or [(None,)], "v string")
    full = lc_build(df, "v", m=m)
    shards = [
        lc_build(df.filter(f"abs(hash(v)) % {n_shards} = {i}"), "v", m=m)
        for i in range(n_shards)
    ]
    merged = lc_merge(*shards) if shards else full
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )
    est = lc_estimate(full, m=m).collect()[0]
    z = est["zero_bits"]
    if z > 0:
        assert est["est"] == round(m * math.log(m / z), 6)
    else:
        assert est["est"] is None


# ------------------------------------------- r13 sketch/repair properties
def _hash64_py(s: str) -> int:
    """Pure-Python third implementation of portable.hash64 (md5 prefix)
    — lets properties cross-check the SQL twins without Spark."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


@given(
    st.lists(
        st.text(
            "abcdefghijklmnopqrstuvwxyz0123456789:/.-", min_size=1, max_size=24
        ),
        min_size=0,
        max_size=60,
    )
)
@settings(max_examples=60, deadline=None)
def test_hll_registers_sql_match_pure_python_model(values):
    """DuckDB's hll register twin == an independent pure-Python model of
    the published construction (bucket = low p bits of the hash's low 32
    bits, rho = trailing zeros of the rest + 1 capped at Q) — with the
    Spark side already driver-checked equal to DuckDB, all THREE
    implementations agree."""
    import duckdb

    from talna_spark.pipeline.sketches import hll_grouped_registers_sql  # noqa: F401
    from talna_spark.pipeline.sketches import hll_registers_sql

    p = 7
    q = 33 - p
    want: dict[int, int] = {}
    for v in set(values):
        h32 = _hash64_py("hll|" + v) & 0xFFFFFFFF
        bucket = h32 & ((1 << p) - 1)
        w = h32 >> p
        if w == 0:
            rho = q
        else:
            rho = min((w & -w).bit_length(), q)  # tz + 1
        want[bucket] = max(want.get(bucket, 0), rho)

    if values:
        vsql = "SELECT * FROM (VALUES " + ", ".join(
            "('" + v.replace("'", "''") + "')" for v in values
        ) + ") t(v)"
    else:
        vsql = "SELECT CAST(NULL AS VARCHAR) AS v WHERE 1 = 0"
    got = dict(duckdb.execute(hll_registers_sql(vsql, p=p)).fetchall())
    assert got == want


@given(
    st.lists(
        st.text("abcdefghijklmnopqrstuvwxyz0123456789-", min_size=1, max_size=16),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=60, deadline=None)
def test_bk_cardinality_sql_matches_pure_python_model(values):
    """DuckDB's KMV twin == the pure-Python model: exact below k, else
    (k-1) * 2^60 / k-th smallest hash."""
    import duckdb

    from talna_spark.pipeline.sketches import bk_cardinality_sql

    k = 8
    hs = sorted({_hash64_py("bk|" + v) for v in values})[:k]
    if len(hs) < k:
        want = (len(hs), round(float(len(hs)), 6))
    else:
        want = (k, round((k - 1) * float(1 << 60) / hs[-1], 6))
    if values:
        vsql = "SELECT * FROM (VALUES " + ", ".join(
            "('" + v.replace("'", "''") + "')" for v in values
        ) + ") t(v)"
    else:
        vsql = "SELECT CAST(NULL AS VARCHAR) AS v WHERE 1 = 0"
    got = duckdb.execute(bk_cardinality_sql(vsql, k=k)).fetchall()[0]
    assert got == want


_ACCENTS = "\u00e9\u00e8\u00fc\u00f1\u00e5\u00df\u00e7\u00f8"


@given(
    st.text("abcdefghijklmnopqrstuvwxyz " + _ACCENTS, min_size=1, max_size=60)
)
@settings(max_examples=120, deadline=None)
def test_mojibake_repair_inverts_latin1_damage_and_fixes_clean_text(s):
    """For any text over ASCII + Latin-1-supplement accents: pure ASCII
    passes untouched, and one layer of decoded-as-latin-1 damage
    repairs back to the original in exactly one round."""
    from talna_spark.pipeline.text import _mojibake_fix_one

    if all(ord(c) < 0x80 for c in s):
        assert _mojibake_fix_one(s, 3) == (s, 0)
        return
    damaged = s.encode("utf-8").decode("latin-1")
    assert _mojibake_fix_one(damaged, 3) == (s, 1)
