"""Mergeable frequency sketches — the bounded-memory summaries a
100 TB pipeline carries between stages where exact aggregation is
either too big to broadcast or must merge across shards/streams:

- COUNT-MIN (this module; Cormode & Muthukrishnan 2005): a d x w grid
  of counters; every key increments one counter per hash row, a point
  query reads the MINIMUM of its d cells. Estimates NEVER undercount
  (every cell the key touches holds its true count plus collisions), so
  the sketch is safe for heavy-hitter gates: anything the sketch says
  is rare truly is. Sketches of shards ADD cell-wise into the sketch of
  the union (tested) — the merge property that makes it buildable
  incrementally and usable as broadcast state for a stream.
- Bloom membership lives in pipeline.dedup (bloom_build — same
  discipline, bit_or instead of sum; it builds and merges its bitmap
  with this module's linear-counting bitmap code).
- BOTTOM-K (this module; Broder 1997 / Beyer et al. 2007): the k
  smallest distinct hashes — resemblance, containment AND cardinality
  (the KMV estimator) of value sets from k-row sketches; merge = union
  + re-truncate.
- HYPERLOGLOG (this module; Flajolet et al. 2007): the large-range
  distinct-count leg — 2^p max-rank registers good to ~2^32/30
  distincts where linear counting saturates; merge = register-wise
  MAX. Register sums stay integer so the twin is cell-identical.
- LINEAR COUNTING (this module; Whang, Vander-Zanden & Taylor 1990):
  the portable distinct-count leg. Every value sets ONE bit of an m-bit
  bitmap; the estimate is m * ln(m / zero_bits), a pure function of the
  bitmap, so two engines that build identical bitmaps report identical
  estimates — unlike Spark's approx_count_distinct (HLL++, engine-
  specific and therefore unit-tier only). Bitmaps of shards OR into the
  bitmap of the union (tested) — same merge discipline as Bloom.

All hashing is the portable md5-based hash64 with a per-row prefix, so
the cell grid is deterministic and cross-engine: the DuckDB twin
computes identical cells (driver-checked as the x26 ``cms`` slice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from talna_spark.pipeline.portable import hash64

CMS_W = 1 << 12  # counters per hash row (the collision dial)
CMS_D = 4        # hash rows (the confidence dial)


def _not_null(*cols):
    """Row predicate: every named column is non-NULL."""
    cond = F.col(cols[0]).isNotNull()
    for c in cols[1:]:
        cond = cond & F.col(c).isNotNull()
    return cond


def _cms_cells(col, w: int, depth: int):
    """The ``depth`` probe cells of a key, exploded as ``rc`` structs
    (r, c): row r's counter index is one independent md5-based hash
    per row (prefix 'cm{r}|'), reduced mod w."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("r"),
                    (
                        hash64(F.concat(F.lit(f"cm{i}|"), col)) % F.lit(int(w))
                    ).alias("c"),
                )
                for i in range(int(depth))
            ]
        )
    ).alias("rc")


def cms_build(
    d: DataFrame, col: str, w: int = CMS_W, depth: int = CMS_D
) -> DataFrame:
    """(r, c, cnt): the d x w count-min sketch of ``col``'s value
    frequencies — one explode + one sum hash-agg (map-side partials),
    at most d*w rows regardless of corpus size. NULL keys are not
    counted (a NULL is not a value). Mergeable: see :func:`cms_merge`.

    100 TB shape: the ONLY shuffle carries (r, c) id-rows capped at the
    sketch size; the corpus never aggregates by key, which is the point
    — per-key exact counts of a high-cardinality column would shuffle
    the full key set."""
    if int(w) < 1 or int(depth) < 1:
        raise ValueError("w and depth must be >= 1")
    cells = d.filter(F.col(col).isNotNull()).select(
        _cms_cells(F.col(col), w, depth)
    )
    return (
        cells.groupBy(
            F.col("rc.r").alias("r"), F.col("rc.c").alias("c")
        ).agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise ADD of sketches built with the same (w, depth): the
    sketch of a union of shards (tested) — incremental builds and
    per-shard parallel builds compose."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    keys: DataFrame,
    col: str,
    sketch: DataFrame,
    w: int = CMS_W,
    depth: int = CMS_D,
) -> DataFrame:
    """(col, est): the count-min point estimate for each key — min over
    the key's d cells (absent cells are exact zeros: the key was never
    counted). est >= the true count ALWAYS; equality when no collision
    (tested both ways). Plan: explode d probes per key, one join
    against the sketch-sized cell table, one min hash-agg — only
    (key, r, c) rows shuffle."""
    probes = keys.select(col, _cms_cells(F.col(col), w, depth)).select(
        col, F.col("rc.r").alias("r"), F.col("rc.c").alias("c")
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "c"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def cms_sql_cells(values_sql: str, w: int = CMS_W, depth: int = CMS_D) -> str:
    """DuckDB twin of :func:`cms_build` over ``values_sql`` (one column
    named v): identical (r, c, cnt) cells."""
    from talna_spark.pipeline.portable import hash64_sql

    h = hash64_sql("'cm' || CAST(i AS VARCHAR) || '|' || v")
    return (
        f"SELECT i AS r, ({h}) % {int(w)} AS c, COUNT(*) AS cnt "
        f"FROM ({values_sql}) "
        f"CROSS JOIN unnest(generate_series(0, {int(depth) - 1})) t(i) "
        "WHERE v IS NOT NULL GROUP BY 1, 2"
    )


def cms_estimate_sql(
    keys_sql: str, values_sql: str, w: int = CMS_W, depth: int = CMS_D
) -> str:
    """DuckDB twin of build + estimate: per-key min over the d cells."""
    from talna_spark.pipeline.portable import hash64_sql

    h = hash64_sql("'cm' || CAST(i AS VARCHAR) || '|' || v")
    return (
        f"WITH cells AS ({cms_sql_cells(values_sql, w, depth)}), "
        f"probes AS (SELECT v, i AS r, ({h}) % {int(w)} AS c "
        f"FROM ({keys_sql}) "
        f"CROSS JOIN unnest(generate_series(0, {int(depth) - 1})) t(i)) "
        "SELECT p.v, MIN(COALESCE(cells.cnt, 0)) AS est FROM probes p "
        "LEFT JOIN cells ON p.r = cells.r AND p.c = cells.c GROUP BY p.v"
    )


# ------------------------------------------------------ linear counting
LC_M = 1 << 14  # bitmap bits (256 int64 words); good to ~LC_M distincts


def lc_build(d: DataFrame, col: str, m: int = LC_M) -> DataFrame:
    """(word_idx, bits): the m-bit linear-counting bitmap of ``col``'s
    distinct values as int64 words — each value sets bit
    hash64('lc|' || v) % m. Same distributed bitmap discipline as
    pipeline.dedup.bloom_build: ONE map-side projection + ONE bit_or
    hash-agg capped at m/64 rows regardless of corpus size; absent
    words are implicit zeros; NULLs are not counted (a NULL is not a
    value). Mergeable: see :func:`lc_merge`."""
    if int(m) < 64 or int(m) % 64 != 0:
        raise ValueError("m must be a positive multiple of 64")
    p = hash64(F.concat(F.lit("lc|"), F.col(col))) % F.lit(int(m))
    return _bitmap_words(d, col, p)


def _bitmap_words(d: DataFrame, col: str, p) -> DataFrame:
    """(word_idx, bits): the int64-word bitmap with bit ``p`` set for
    every row whose ``col`` is not NULL — ``p`` is a bit-position
    column, or an explode of several. ONE map-side projection + ONE
    bit_or hash-agg (map-side partials) with one row per touched word.
    The builder of both :func:`lc_build` and dedup.bloom_build."""
    return (
        d.filter(F.col(col).isNotNull())
        .select(p.alias("p"))
        .select(
            F.shiftright(F.col("p"), 6).alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def lc_merge(*bitmaps: DataFrame) -> DataFrame:
    """OR together bitmaps built with the same m: the bitmap of the
    union of the shards (tested cell-identical) — incremental and
    per-shard parallel builds compose. Bloom bitmaps built with the
    same (m, k) merge the same way (dedup.bloom_merge is this
    function)."""
    out = bitmaps[0]
    for bm in bitmaps[1:]:
        out = out.unionByName(bm)
    return out.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))


def lc_estimate(bitmap: DataFrame, m: int = LC_M) -> DataFrame:
    """One row (set_bits, zero_bits, est): the linear-counting distinct
    estimate m * ln(m / zero_bits) — deterministic given the bitmap,
    cross-engine identical at 6 dp (the ln/round twin is pinned by the
    driver slice). A SATURATED bitmap (zero_bits = 0) estimates NULL:
    the sketch is past its design load and callers must grow m. Plan:
    one sketch-sized popcount aggregate — no data-sized work."""
    mm = int(m)
    set_bits = F.coalesce(
        F.sum(F.bit_count(F.col("bits"))), F.lit(0)
    ).cast("long")
    z = (F.lit(mm) - set_bits).cast("double")
    est = F.when(
        z > 0,
        F.round(F.lit(float(mm)) * F.log(F.lit(float(mm)) / z), 6),
    )
    return bitmap.agg(
        set_bits.alias("set_bits"),
        (F.lit(mm) - set_bits).cast("long").alias("zero_bits"),
        est.alias("est"),
    )


def lc_sql_words(values_sql: str, m: int = LC_M) -> str:
    """DuckDB twin of :func:`lc_build` over ``values_sql`` (one column
    named v): identical (word_idx, bits) words. Bit 63 needs the
    explicit signed-wrap literal — DuckDB's BIGINT << raises on
    overflow where Spark's shiftleft wraps."""
    from talna_spark.pipeline.portable import hash64_sql

    h = hash64_sql("'lc|' || v")
    return (
        f"SELECT p // 64 AS word_idx, "
        "bit_or(CASE WHEN p % 64 = 63 THEN -9223372036854775808 "
        "ELSE 1::BIGINT << CAST(p % 64 AS INT) END) AS bits "
        f"FROM (SELECT ({h}) % {int(m)} AS p FROM ({values_sql}) "
        "WHERE v IS NOT NULL) GROUP BY 1"
    )


def lc_estimate_sql(values_sql: str, m: int = LC_M) -> str:
    """DuckDB twin of build + estimate: identical (set_bits, zero_bits,
    est) row, ln over explicit DOUBLE casts (DuckDB's decimal-literal
    arithmetic would otherwise round before the log)."""
    mm = int(m)
    return (
        f"WITH w AS ({lc_sql_words(values_sql, m)}), "
        "s AS (SELECT COALESCE(SUM(bit_count(bits)), 0)::BIGINT AS set_bits "
        "FROM w) "
        f"SELECT set_bits, ({mm} - set_bits)::BIGINT AS zero_bits, "
        f"CASE WHEN set_bits < {mm} THEN "
        f"round(CAST({mm} AS DOUBLE) * ln(CAST({mm} AS DOUBLE) / "
        f"CAST({mm} - set_bits AS DOUBLE)), 6) END AS est FROM s"
    )


# ------------------------------------------------- bottom-k resemblance
# (r13) Broder 1997, "On the resemblance and containment of documents":
# the k smallest hash values of a value SET are a mergeable sketch from
# which the Jaccard resemblance of two sets is estimated WITHOUT any
# pairwise or corpus-sized work — the similarity leg completing the
# sketch family (Bloom membership, CMS frequencies, LC cardinality,
# bottom-k resemblance). est = |bottom_k(A u B) ∩ bk(A) ∩ bk(B)| /
# |bottom_k(A u B)|, and bottom_k(A u B) is computable from the two
# sketches alone (it only needs the k smallest of the union, all of
# which are in one of the sketches). EXACT whenever |A u B| <= k.
BK_K = 256


def bk_build(d: DataFrame, col: str, k: int = BK_K) -> DataFrame:
    """(h): the k smallest DISTINCT portable hashes of ``col`` — the
    bottom-k sketch of the value set. NULLs are not values.

    100 TB shape: one distinct hash-agg (map-side partials on the
    60-bit hash) + a global top-k (per-partition partial limits, k rows
    total) — the corpus never sorts, and the sketch is k rows
    regardless of corpus size."""
    if int(k) < 1:
        raise ValueError("k must be >= 1")
    h = hash64(F.concat(F.lit("bk|"), F.col(col)))
    return (
        d.filter(F.col(col).isNotNull())
        .select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(int(k))
    )


def bk_merge(a: DataFrame, b: DataFrame, k: int = BK_K) -> DataFrame:
    """bottom-k sketch of the UNION of the two sketched sets, from the
    sketches alone (the k smallest of A u B all appear in bk(A) or
    bk(B)) — the shard-merge property (tested: merge of per-shard
    sketches == sketch of the union)."""
    return a.unionByName(b).distinct().orderBy("h").limit(int(k))


def _bk_overlap(a: DataFrame, b: DataFrame, k: int, *keys) -> DataFrame:
    r"""(\*keys, n_union_k, n_a_k, n_common): the bottom-k overlap counts
    behind every resemblance and containment estimator — X =
    bottom_k(A u B) per key group, n_union_k = |X|, n_a_k = |X ∩ A|,
    n_common = |X ∩ A ∩ B|. ``keys`` is ``()`` for two scalar sketches
    (the global aggregate: exactly one row, zero counts on empty input)
    and ``("g",)`` for two grouped ones. One tagged union, one
    membership max-agg per (keys, h), one rank window and one count
    aggregate — all sketch-sized, no driver action."""
    from pyspark.sql.window import Window as W

    def tag(sk, ina, inb):
        return sk.select(
            *keys, "h", F.lit(ina).alias("_a"), F.lit(inb).alias("_b")
        )

    x = (
        tag(a, 1, 0)
        .unionByName(tag(b, 0, 1))
        .groupBy(*keys, "h")
        .agg(F.max("_a").alias("_a"), F.max("_b").alias("_b"))
        .withColumn(
            "_r", F.row_number().over(W.partitionBy(*keys).orderBy("h"))
        )
        .filter(F.col("_r") <= int(k))
    )
    return x.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_union_k"),
        F.coalesce(F.sum("_a"), F.lit(0)).cast("long").alias("n_a_k"),
        F.coalesce(F.sum(F.col("_a") * F.col("_b")), F.lit(0))
        .cast("long")
        .alias("n_common"),
    )


def _bk_ratio(num: str, den: str):
    """num / den at 6 dp, rounded half away from zero like the DuckDB
    twins; NULL when den = 0 (no ANSI divide-by-zero)."""
    return F.when(
        F.col(den) > 0,
        F.round(F.col(num).cast("double") / F.col(den).cast("double"), 6),
    ).alias("est")


def bk_resemblance(a: DataFrame, b: DataFrame, k: int = BK_K) -> DataFrame:
    """One row (n_union_k, n_common, est): Broder's resemblance
    estimator between the two sketched sets — est = n_common /
    n_union_k at 6 dp, where n_union_k = |bottom_k(A u B)| and
    n_common counts union-sketch members present in BOTH input
    sketches. Deterministic given the sketches (portable hash64), so
    two engines report the identical estimate; exact when the union
    has <= k distinct values. Two empty sketches give (0, 0, NULL).
    Plan: :func:`_bk_overlap`, sketch-sized work only."""
    return _bk_overlap(a, b, k).select(
        "n_union_k", "n_common", _bk_ratio("n_common", "n_union_k")
    )


def bk_sql(values_sql: str, k: int = BK_K) -> str:
    """DuckDB twin of :func:`bk_build` over ``values_sql`` (one column
    named v): the identical k smallest hashes."""
    from talna_spark.pipeline.portable import hash64_sql

    h = hash64_sql("'bk|' || v")
    return (
        f"SELECT DISTINCT ({h}) AS h FROM ({values_sql}) "
        f"WHERE v IS NOT NULL ORDER BY h LIMIT {int(k)}"
    )


def bk_resemblance_sql(a_sql: str, b_sql: str, k: int = BK_K) -> str:
    """DuckDB twin of build + build + :func:`bk_resemblance`: the
    identical (n_union_k, n_common, est) row."""
    return (
        f"WITH ha AS ({bk_sql(a_sql, k)}), hb AS ({bk_sql(b_sql, k)}), "
        f"x AS (SELECT h FROM (SELECT DISTINCT h FROM "
        f"(SELECT h FROM ha UNION ALL SELECT h FROM hb)) "
        f"ORDER BY h LIMIT {int(k)}), "
        "c AS (SELECT COUNT(*) AS n_common FROM x "
        "WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)), "
        "u AS (SELECT COUNT(*) AS n_union_k FROM x) "
        "SELECT CAST(n_union_k AS BIGINT) AS n_union_k, "
        "CAST(n_common AS BIGINT) AS n_common, "
        "CASE WHEN n_union_k > 0 THEN "
        "round(CAST(n_common AS DOUBLE) / CAST(n_union_k AS DOUBLE), 6) "
        "END AS est FROM u CROSS JOIN c"
    )


def bk_containment(a: DataFrame, b: DataFrame, k: int = BK_K) -> DataFrame:
    """One row (n_a_k, n_common, est): the CONTAINMENT of the first
    sketched set in the second — est = |X ∩ A ∩ B| / |X ∩ A| at 6 dp
    with X = bottom_k(A u B) (Broder 1997 §3: the union's bottom-k is a
    uniform sample of A u B, so the members drawn from A estimate
    |A ∩ B| / |A|). The decontamination-style question ("what fraction
    of corpus A already sits in B?") answered from two k-row sketches,
    no corpus work. Deterministic; exact when |A u B| <= k; est NULL
    when no union member comes from A."""
    return _bk_overlap(a, b, k).select(
        "n_a_k", "n_common", _bk_ratio("n_common", "n_a_k")
    )


def bk_containment_sql(a_sql: str, b_sql: str, k: int = BK_K) -> str:
    """DuckDB twin of :func:`bk_containment`: the identical
    (n_a_k, n_common, est) row."""
    return (
        f"WITH ha AS ({bk_sql(a_sql, k)}), hb AS ({bk_sql(b_sql, k)}), "
        f"x AS (SELECT h FROM (SELECT DISTINCT h FROM "
        f"(SELECT h FROM ha UNION ALL SELECT h FROM hb)) "
        f"ORDER BY h LIMIT {int(k)}), "
        "xa AS (SELECT h FROM x WHERE h IN (SELECT h FROM ha)), "
        "c AS (SELECT COUNT(*) AS n_common FROM xa "
        "WHERE h IN (SELECT h FROM hb)), "
        "u AS (SELECT COUNT(*) AS n_a_k FROM xa) "
        "SELECT CAST(n_a_k AS BIGINT) AS n_a_k, "
        "CAST(n_common AS BIGINT) AS n_common, "
        "CASE WHEN n_a_k > 0 THEN "
        "round(CAST(n_common AS DOUBLE) / CAST(n_a_k AS DOUBLE), 6) "
        "END AS est FROM u CROSS JOIN c"
    )


def bk_build_grouped(
    d: DataFrame, group_col: str, col: str, k: int = BK_K
) -> DataFrame:
    """(g, h): a bottom-k sketch PER GROUP in one distributed pass —
    the per-domain form of :func:`bk_build` (crawl-over-crawl drift
    reports sketch every domain at once, never one job per domain).

    100 TB shape — the _per_query_topk discipline (similarity.py): a
    single row_number window partitioned by group alone would funnel
    each group's full distinct-hash set through ONE reducer, so phase 1
    takes the per-(group, input-partition) top-k first (bounded
    k x partitions survivors per group), and phase 2 ranks the
    survivors; distinct runs group-keyed with map-side partials."""
    if int(k) < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql.window import Window as W

    h = hash64(F.concat(F.lit("bk|"), F.col(col)))
    dh = (
        d.filter(F.col(col).isNotNull() & F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("g"), h.alias("h"))
        .distinct()
    )
    w1 = W.partitionBy("g", "_p").orderBy("h")
    w2 = W.partitionBy("g").orderBy("h")
    return (
        dh.withColumn("_p", F.spark_partition_id())
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= int(k))
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= int(k))
        .select("g", "h")
    )


def bk_resemblance_grouped(
    a: DataFrame, b: DataFrame, k: int = BK_K
) -> DataFrame:
    """Per-group Broder resemblance between two grouped sketches, as
    ONE DataFrame op (no driver-side counts — groups can number in the
    millions): (g, n_union_k, n_common, est). Groups present in only
    one input estimate 0.0 against an empty other side. The same
    :func:`_bk_overlap` body as the scalar form, keyed by group."""
    return _bk_overlap(a, b, k, "g").select(
        "g", "n_union_k", "n_common", _bk_ratio("n_common", "n_union_k")
    )


def bk_grouped_sql(values_sql: str, k: int = BK_K) -> str:
    """DuckDB twin of :func:`bk_build_grouped` over ``values_sql``
    (columns g, v): identical (g, h) rows (single partitioned window —
    different shape, same cells)."""
    from talna_spark.pipeline.portable import hash64_sql

    h = hash64_sql("'bk|' || v")
    return (
        f"SELECT g, h FROM (SELECT g, h, ROW_NUMBER() OVER "
        f"(PARTITION BY g ORDER BY h) AS r FROM (SELECT DISTINCT g, "
        f"({h}) AS h FROM ({values_sql}) WHERE v IS NOT NULL "
        f"AND g IS NOT NULL)) WHERE r <= {int(k)}"
    )


def bk_resemblance_grouped_sql(
    a_sql: str, b_sql: str, k: int = BK_K
) -> str:
    """DuckDB twin of grouped build + build + resemblance: identical
    (g, n_union_k, n_common, est) rows."""
    return (
        f"WITH ha AS ({bk_grouped_sql(a_sql, k)}), "
        f"hb AS ({bk_grouped_sql(b_sql, k)}), "
        "x AS (SELECT g, h FROM (SELECT g, h, ROW_NUMBER() OVER "
        "(PARTITION BY g ORDER BY h) AS r FROM (SELECT DISTINCT g, h "
        "FROM (SELECT g, h FROM ha UNION ALL SELECT g, h FROM hb))) "
        f"WHERE r <= {int(k)}) "
        "SELECT x.g, CAST(COUNT(*) AS BIGINT) AS n_union_k, "
        "CAST(SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL "
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_common, "
        "round(SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL "
        "THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6) AS est "
        "FROM x LEFT JOIN ha a ON x.g = a.g AND x.h = a.h "
        "LEFT JOIN hb b ON x.g = b.g AND x.h = b.h GROUP BY x.g"
    )


# --------------------------------------------------- quantile sample (r13)
# Deterministic mergeable quantile estimation, this module's discipline
# applied to order statistics: a hash-gated uniform sample (keep a row
# iff hash64('qs|' || id) % 1e6 < rate_ppm) is (a) DETERMINISTIC — no
# rand(), retry/partitioning stable, cross-engine identical, (b)
# MERGEABLE — the union of shard samples IS the sample of the union,
# because membership depends only on the row itself, and (c) sized
# predictably (expected rate x n rows). Quantiles are then EXACT type-1
# order statistics of the sample (rank ceil(q*m), ties impossible to
# mis-break — the value at a rank is a value, not an interpolation), so
# two engines holding the same sample report identical cells. Sampling
# error: the q-th sample quantile deviates by O(sqrt(q(1-q)/m)) in rank
# — size rate for the m you need. (KLL/t-digest compact adaptively but
# randomize or data-depend; this trades a size guarantee for exact
# determinism, the hash-gate 'mix|' sampling discipline.)
QS_RATE_PPM = 10_000  # 1% default sample


def _qs_sample(
    d: DataFrame, col: str, id_col: str, rate_ppm: int, *keys
) -> DataFrame:
    r"""(\*keys, v): rows of ``d`` whose 'qs|'-prefixed id-hash falls
    under ``rate_ppm``, with NULL values and NULL keys dropped — the
    one gate behind :func:`qs_build` (``keys=()``) and
    :func:`qs_build_grouped` (``keys=("g",)``). Map-only."""
    if not 0 < int(rate_ppm) <= 1_000_000:
        raise ValueError("rate_ppm must be in (0, 1e6]")
    gate = (
        hash64(F.concat(F.lit("qs|"), F.col(id_col).cast("string")))
        % F.lit(1_000_000)
    )
    return (
        d.filter(_not_null(col, *keys))
        .filter(gate < F.lit(int(rate_ppm)))
        .select(*keys, F.col(col).alias("v"))
    )


def _qs_rank(sample: DataFrame, probs: list, *keys) -> DataFrame:
    r"""(\*keys, p, v): exact type-1 quantiles of each key group's
    sample — v = the element at rank max(1, ceil(p * m)) of the group's
    ascending sort. One window partitioned by ``keys`` (the whole
    sample when ``keys=()``) plus a broadcast probe join; empty groups
    return no rows."""
    from pyspark.sql.window import Window as W

    spark = sample.sparkSession
    ps = spark.createDataFrame([(float(p),) for p in probs], "p double")
    w = W.partitionBy(*keys)
    ranked = sample.select(
        *keys,
        "v",
        F.row_number().over(w.orderBy(F.col("v").asc())).alias("_r"),
        F.count(F.lit(1)).over(w).alias("_m"),
    )
    want = F.greatest(
        F.lit(1), F.ceil(F.col("p") * F.col("_m")).cast("long")
    )
    return (
        ranked.join(F.broadcast(ps), F.col("_r") == want)
        .select(*keys, "p", "v")
    )


def qs_build(
    d: DataFrame,
    col: str,
    id_col: str = "doc_id",
    rate_ppm: int = QS_RATE_PPM,
) -> DataFrame:
    """(v): the deterministic quantile sample of ``col`` — rows whose
    'qs|'-prefixed id-hash falls under ``rate_ppm``. NULL values are
    not order statistics and are excluded. Map-only (one filter +
    projection, zero shuffle); merge shard samples with a plain union
    (same gate => same rows, tested)."""
    return _qs_sample(d, col, id_col, rate_ppm)


def qs_quantiles(sample: DataFrame, probs: list) -> DataFrame:
    """(p, v): exact type-1 quantiles of the (sketch-sized) sample —
    v = the element at rank max(1, ceil(p * m)) of the ascending sort.
    One window over the sample (model-sized by the rate contract) plus
    a broadcast of the probe list; empty samples return no rows (no
    order statistics exist) — callers treat absence as 'grow the
    rate'."""
    return _qs_rank(sample, probs)


def qs_sql(values_sql: str, rate_ppm: int = QS_RATE_PPM) -> str:
    """DuckDB twin of :func:`qs_build` over ``values_sql`` (columns
    doc_id, v): the identical sample rows."""
    from talna_spark.pipeline.portable import hash64_sql

    h = hash64_sql("'qs|' || CAST(doc_id AS VARCHAR)")
    return (
        f"SELECT v FROM ({values_sql}) WHERE v IS NOT NULL "
        f"AND ({h}) % 1000000 < {int(rate_ppm)}"
    )


def qs_quantiles_sql(
    values_sql: str, probs: list, rate_ppm: int = QS_RATE_PPM
) -> str:
    """DuckDB twin of build + quantiles: identical (p, v) rows."""
    # CAST each prob: DuckDB types bare VALUES decimals as DECIMAL,
    # which round-trips as decimal.Decimal instead of float
    plist = ", ".join(f"(CAST({float(p)} AS DOUBLE))" for p in probs)
    return (
        f"WITH s AS ({qs_sql(values_sql, rate_ppm)}), "
        "r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v ASC) AS rk, "
        "COUNT(*) OVER () AS m FROM s), "
        f"ps (p) AS (VALUES {plist}) "
        "SELECT ps.p, r.v FROM r JOIN ps "
        "ON r.rk = GREATEST(1, CAST(CEIL(ps.p * r.m) AS BIGINT))"
    )


def qs_build_grouped(
    d: DataFrame,
    group_col: str,
    col: str,
    id_col: str = "doc_id",
    rate_ppm: int = QS_RATE_PPM,
) -> DataFrame:
    """(g, v): the deterministic quantile sample PER GROUP in one
    map-only pass — the per-domain form of :func:`qs_build` (the
    "p99 doc length per domain" dashboard cut). Same hash gate, so a
    row's membership is independent of its group: shard samples union
    exactly, and regrouping never resamples."""
    keyed = d.select(
        F.col(group_col).alias("g"),
        F.col(col).alias("_v"),
        F.col(id_col).alias("_id"),
    )
    return _qs_sample(keyed, "_v", "_id", rate_ppm, "g")


def qs_quantiles_grouped(sample: DataFrame, probs: list) -> DataFrame:
    """(g, p, v): exact type-1 quantiles of each group's sample — the
    scalar :func:`qs_quantiles` rank rule applied group-wise (the same
    :func:`_qs_rank` body, partitioned by group); empty groups return
    no rows."""
    return _qs_rank(sample, probs, "g")


def qs_grouped_sql(values_sql: str, rate_ppm: int = QS_RATE_PPM) -> str:
    """DuckDB twin of :func:`qs_build_grouped` over ``values_sql``
    (columns doc_id, g, v): the identical (g, v) sample rows."""
    from talna_spark.pipeline.portable import hash64_sql

    h = hash64_sql("'qs|' || CAST(doc_id AS VARCHAR)")
    return (
        f"SELECT g, v FROM ({values_sql}) WHERE v IS NOT NULL "
        f"AND g IS NOT NULL AND ({h}) % 1000000 < {int(rate_ppm)}"
    )


def qs_quantiles_grouped_sql(
    values_sql: str, probs: list, rate_ppm: int = QS_RATE_PPM
) -> str:
    """DuckDB twin of grouped build + quantiles: identical (g, p, v)
    rows."""
    plist = ", ".join(f"(CAST({float(p)} AS DOUBLE))" for p in probs)
    return (
        f"WITH s AS ({qs_grouped_sql(values_sql, rate_ppm)}), "
        "r AS (SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g "
        "ORDER BY v ASC) AS rk, COUNT(*) OVER (PARTITION BY g) AS m "
        "FROM s), "
        f"ps (p) AS (VALUES {plist}) "
        "SELECT r.g, ps.p, r.v FROM r JOIN ps "
        "ON r.rk = GREATEST(1, CAST(CEIL(ps.p * r.m) AS BIGINT))"
    )


# --------------------------------------------------- bottom-k cardinality
# (r13) The KMV estimator (Bar-Yossef et al. 2002; Beyer et al. 2007
# "On synopses for distinct-value estimation"): the k-th smallest of n
# uniform hashes on [0, H) sits near k/(n+1) * H, so n is estimated
# from the sketch's max as (k-1) * H / h_k (the unbiased KMV form).
# Together with bk_resemblance this gives theta-sketch-style SET
# ALGEBRA from sketches alone: |A u B| = bk_cardinality(bk_merge(a,b)),
# |A n B| = resemblance * |A u B| — crawl-overlap accounting with zero
# corpus-sized work. hash64 is 15 hex digits => H = 2^60.
BK_HASH_SPACE = 1 << 60


def bk_cardinality(sk: DataFrame, k: int = BK_K) -> DataFrame:
    """One row (n_k, est): the distinct-value count of the set behind a
    :func:`bk_build` sketch. EXACT when the sketch holds fewer than k
    hashes (the set had < k distinct values, and the sketch IS its
    distinct hash set); otherwise the KMV estimate
    (k-1) * 2^60 / max(h), rounded to 6 dp. Deterministic given the
    sketch — a single division on integer inputs, so two engines report
    the identical estimate. Plan: one sketch-sized aggregate."""
    if int(k) < 1:
        raise ValueError("k must be >= 1")
    n_k = F.count(F.lit(1)).cast("long")
    mx = F.max("h").cast("double")
    est = F.when(
        n_k < F.lit(int(k)), F.round(n_k.cast("double"), 6)
    ).otherwise(
        F.round(F.lit(float(int(k) - 1) * BK_HASH_SPACE) / mx, 6)
    )
    return sk.agg(n_k.alias("n_k"), est.alias("est"))


def bk_cardinality_sql(values_sql: str, k: int = BK_K) -> str:
    """DuckDB twin of build + :func:`bk_cardinality`: the identical
    (n_k, est) row."""
    num = float(int(k) - 1) * BK_HASH_SPACE
    return (
        f"WITH s AS ({bk_sql(values_sql, k)}) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_k, "
        f"CASE WHEN COUNT(*) < {int(k)} "
        "THEN round(CAST(COUNT(*) AS DOUBLE), 6) "
        f"ELSE round({num!r} / CAST(MAX(h) AS DOUBLE), 6) END AS est "
        "FROM s"
    )


# ------------------------------------------------------------ HyperLogLog
# (r13) Flajolet, Fusy, Gandouet & Meunier 2007 — the LARGE-cardinality
# leg pairing linear counting (which saturates past ~LC_M distincts and
# estimates NULL): m = 2^p registers, each holding the maximum rank of
# any value hashing into its bucket, estimate = alpha_m * m^2 /
# sum(2^-reg). Portable-twin design decisions (each keeps the estimate
# a pure function of integers both engines compute identically — the
# lc discipline, NOT Spark's approx_count_distinct, whose HLL++ is
# engine-private):
# - the paper's 32-bit-hash formulation: bucket = low p bits of the
#   hash's low 32 bits, rank from the remaining 32-p bits, with the
#   paper's small-range (linear counting over empty registers) and
#   large-range (2^32 collision) corrections;
# - rank = TRAILING zeros + 1 rather than leading (same geometric
#   distribution; tz = bit_count((w & -w) - 1) is branch-free integer
#   algebra in both engines, where a leading-zero count needs unsigned
#   shifts Spark has and DuckDB lacks); w = 0 caps at Q = 32 - p + 1;
# - the register sum is kept INTEGER: sum(2^(Q - rho)) as BIGINT
#   (absent registers contribute 2^Q), so no cross-engine
#   double-summation-order hazard exists; the one division
#   alpha*m^2*2^Q / S happens once, on exact integer inputs.
# Standard error ~ 1.04/sqrt(m): p=12 => ~1.6%. Registers of shards
# MAX-merge into the registers of the union (tested) — the same
# shard/stream composition discipline as CMS (+), Bloom/LC (|).
HLL_P = 12


def _hll_alpha(m: int) -> float:
    """The paper's alpha_m bias constant (m >= 128 closed form)."""
    return 0.7213 / (1.0 + 1.079 / m)


def _hll_check_p(p: int) -> tuple[int, int, int]:
    if not 7 <= int(p) <= 16:
        raise ValueError("p must be in [7, 16]")
    p = int(p)
    return p, 1 << p, 33 - p


# Saturation threshold for the large-range correction: NULL at
# e_raw >= 2^32*(1 - 1e-12), not at 2^32 exactly — the 1e-12 margin
# (~4500 double-ulps at 2^32) covers the rounding window where
# e_raw/2^32 could round to exactly 1.0 and ln(0) be reached INSIDE
# the correction branch (Spark F.log(0) -> NULL, DuckDB ln(0.0) ->
# error: a cross-engine divergence; ADVICE r14). Strict IEEE754 makes
# that quotient exact and < 1 for any double e_raw < 2^32, so the
# margin is DEFENSIVE — it protects against an engine evaluating the
# division at different precision, at the cost of a relative 1e-12
# threshold shift (invisible at round(...,6) output precision). ONE
# constant consumed by BOTH the Column twin (_hll_est_cols) and the
# SQL twin (_hll_est_case_sql); tests assert both texts carry it.
HLL_SAT_THRESHOLD = float(1 << 32) * (1.0 - 1e-12)


def _hll_est_cols(p: int) -> tuple:
    """(zeros, est) Columns over the (_cnt, _st) aggregate row — the
    three-branch corrected estimate, shared by the scalar and grouped
    estimators.

    SATURATION -> NULL, explicitly (ADVICE r13, the lc precedent):
    with every register near max rank, e_raw reaches ~alpha * 2^33 >
    2^32 and the large-range correction's ln(1 - e_raw/2^32) leaves
    its domain — Spark would return NULL silently while DuckDB ERRORS,
    a cross-engine divergence. Both engines now branch to an explicit
    NULL first: a saturated 32-bit HLL has no usable estimate (the
    paper's correction tops out at 2^32 distinct) — raise p or count
    exactly. Pinned by test_hll_saturation_nulls_on_both_engines.

    The guard covers the ROUNDING WINDOW, not just e_raw >= 2^32
    (ADVICE r14, see HLL_SAT_THRESHOLD): an e_raw within half an ulp
    below 2^32 makes e_raw/2^32 round to exactly 1.0, so ln(0) is hit
    INSIDE the correction branch — Spark F.log(0) yields NULL while
    DuckDB ln(0.0) raises, re-opening the divergence the r14 guard
    closed. The 1e-12 displacement of the threshold is invisible at
    round(..., 6) output precision. Same constant in the SQL twin
    (_hll_est_case_sql)."""
    _, m, q = _hll_check_p(p)
    a_num = _hll_alpha(m) * m * m * float(1 << q)
    two32 = float(1 << 32)
    sat = HLL_SAT_THRESHOLD
    zeros = (F.lit(m) - F.col("_cnt")).cast("long")
    s_scaled = (
        (F.lit(m) - F.col("_cnt")).cast("long") * F.lit(1 << q)
        + F.col("_st")
    ).cast("double")
    e_raw = F.lit(a_num) / s_scaled
    est = (
        F.when(
            (e_raw <= F.lit(2.5 * m)) & (zeros > 0),
            F.round(
                F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
                6,
            ),
        )
        .when(e_raw >= F.lit(sat), F.lit(None).cast("double"))
        .when(
            e_raw > F.lit(two32 / 30.0),
            F.round(
                -F.lit(two32) * F.log(F.lit(1.0) - e_raw / F.lit(two32)), 6
            ),
        )
        .otherwise(F.round(e_raw, 6))
    )
    return zeros, est


def _hll_est_case_sql(m: int, q: int) -> str:
    """The estimate CASE over (cnt, zeros, e_raw) — ONE text shared by
    the scalar and grouped SQL twins. The NULL branch uses the same
    rounding-window guard as _hll_est_cols (HLL_SAT_THRESHOLD) so
    neither engine can reach ln(1 - e_raw/2^32) with a ratio that
    rounds to exactly 1.0."""
    two32 = float(1 << 32)
    sat = HLL_SAT_THRESHOLD
    return (
        f"CASE WHEN e_raw <= {2.5 * m!r} AND zeros > 0 THEN "
        f"round(CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / "
        "CAST(zeros AS DOUBLE)), 6) "
        f"WHEN e_raw >= {sat!r} THEN NULL "
        f"WHEN e_raw > {two32 / 30.0!r} THEN "
        f"round(-{two32!r} * ln(1.0 - e_raw / {two32!r}), 6) "
        "ELSE round(e_raw, 6) END"
    )




def _hll_build(d: DataFrame, col: str, p: int, *keys) -> DataFrame:
    r"""(\*keys, bucket, rho): the register table per key group — the
    one bucket/rank pipeline behind :func:`hll_build` (``keys=()``)
    and :func:`hll_build_grouped` (``keys=("g",)``). Rows with a NULL
    value or key are dropped; then one projection to (bucket, rho) and
    ONE max hash-agg keyed on (keys, bucket)."""
    p, m, q = _hll_check_p(p)
    h32 = hash64(F.concat(F.lit("hll|"), F.col(col))).bitwiseAND(
        F.lit(4294967295)
    )
    rows = (
        d.filter(_not_null(col, *keys))
        .select(*keys, h32.alias("_h"))
        .select(
            *keys,
            F.col("_h").bitwiseAND(F.lit(m - 1)).alias("bucket"),
            F.shiftright(F.col("_h"), p).alias("_w"),
        )
        .select(
            *keys,
            "bucket",
            F.least(
                F.bit_count(
                    F.col("_w").bitwiseAND(-F.col("_w")) - F.lit(1)
                )
                + F.lit(1),
                F.lit(q),
            )
            .cast("int")
            .alias("rho"),
        )
    )
    return rows.groupBy(*keys, "bucket").agg(F.max("rho").alias("rho"))


def _hll_merge(sketches, *keys) -> DataFrame:
    """Register-wise MAX of register tables built with the same p, per
    key group — the body of :func:`hll_merge` and
    :func:`hll_merge_grouped`."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*keys, "bucket").agg(F.max("rho").alias("rho"))


def _hll_estimate(sketch: DataFrame, p: int, *keys) -> DataFrame:
    r"""(\*keys, buckets_set, zeros, est): one sketch-sized aggregate per
    key group — the set-register count and the integer scaled register
    sum S' = sum(2^(Q - rho)) — then the shared corrected estimate
    (:func:`_hll_est_cols`). ``keys=()`` is the global aggregate:
    exactly one row, also for an empty sketch."""
    _, _, q = _hll_check_p(p)
    agg = sketch.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("_cnt"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {q} - rho)")),
            F.lit(0),
        )
        .cast("long")
        .alias("_st"),
    )
    zeros, est = _hll_est_cols(p)
    return agg.select(
        *keys,
        F.col("_cnt").alias("buckets_set"),
        zeros.alias("zeros"),
        est.alias("est"),
    )


def hll_build(d: DataFrame, col: str, p: int = HLL_P) -> DataFrame:
    """(bucket, rho): the HyperLogLog register table of ``col``'s
    distinct values — bucket = low ``p`` bits of the portable hash's
    low 32 bits, rho = max over the bucket's values of (trailing zeros
    of the remaining 32-p bits) + 1, capped at Q = 33 - p. Absent
    buckets are implicit rho = 0. NULLs are not values. Mergeable:
    see :func:`hll_merge`.

    100 TB shape: one map-side projection + one max hash-agg capped at
    2^p rows regardless of corpus size — the same bounded-shuffle
    discipline as lc_build, good to ~2^32/30 distincts where LC's
    bitmap saturates at ~LC_M."""
    return _hll_build(d, col, p)


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """MAX together register tables built with the same p: the
    registers of the union of the shards (tested cell-identical) —
    incremental and per-shard parallel builds compose."""
    return _hll_merge(sketches)


def hll_estimate(sketch: DataFrame, p: int = HLL_P) -> DataFrame:
    """One row (buckets_set, zeros, est): the HLL distinct estimate
    with the paper's corrections — linear counting over empty
    registers when the raw estimate <= 2.5m and zeros remain; the
    2^32 collision correction when raw > 2^32/30; raw otherwise.
    Deterministic given the registers: the register sum is exact
    BIGINT algebra and the estimate is one division (+ one ln on the
    correction paths), cross-engine identical at 6 dp (the lc
    precedent). A SATURATED sketch (e_raw >= 2^32 — every register
    near max rank) estimates NULL explicitly on both engines, like lc;
    see ``_hll_est_cols``. Plan: one sketch-sized aggregate."""
    return _hll_estimate(sketch, p)


def _hll_rho_sql(p: int, q: int) -> str:
    """The rank expression over a low-32-bit hash column h — ONE text
    shared by the scalar and grouped register twins."""
    return (
        f"CAST(LEAST(bit_count(((h >> {p}) & -(h >> {p})) - 1) + 1, "
        f"{q}) AS INT)"
    )


def hll_registers_sql(values_sql: str, p: int = HLL_P) -> str:
    """DuckDB twin of :func:`hll_build` over ``values_sql`` (one column
    named v): identical (bucket, rho) registers."""
    from talna_spark.pipeline.portable import hash64_sql

    p, m, q = _hll_check_p(p)
    h = hash64_sql("'hll|' || v")
    return (
        f"SELECT h & {m - 1} AS bucket, "
        f"MAX({_hll_rho_sql(p, q)}) AS rho "
        f"FROM (SELECT ({h}) & 4294967295 AS h FROM ({values_sql}) "
        "WHERE v IS NOT NULL) GROUP BY 1"
    )


def hll_estimate_sql(values_sql: str, p: int = HLL_P) -> str:
    """DuckDB twin of build + estimate: the identical
    (buckets_set, zeros, est) row. SUM(BIGINT) is HUGEINT in DuckDB —
    cast back before the integer scale-up so both engines feed the
    division the same exact value."""
    p, m, q = _hll_check_p(p)
    a_num = _hll_alpha(m) * m * m * float(1 << q)
    return (
        f"WITH r AS ({hll_registers_sql(values_sql, p)}), "
        "a AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt, "
        f"CAST(COALESCE(SUM(1::BIGINT << ({q} - rho)), 0) AS BIGINT) "
        "AS st FROM r), "
        f"e AS (SELECT cnt, CAST({m} - cnt AS BIGINT) AS zeros, "
        f"{a_num!r} / CAST(({m} - cnt) * {1 << q} + st AS DOUBLE) "
        "AS e_raw FROM a) "
        "SELECT cnt AS buckets_set, zeros, "
        f"{_hll_est_case_sql(m, q)} AS est FROM e"
    )


def hll_build_grouped(
    d: DataFrame, group_col: str, col: str, p: int = HLL_P
) -> DataFrame:
    """(g, bucket, rho): a HyperLogLog register table PER GROUP in one
    distributed pass — the per-domain form of :func:`hll_build` (a
    crawl dashboard sketches every domain's distinct-URL count at
    once, never one job per domain). Same register semantics (the one
    :func:`_hll_build` body); mergeable with :func:`hll_merge_grouped`.

    100 TB shape: ONE max hash-agg keyed on (group, bucket) with
    map-side partials — shuffle rows capped at groups x 2^p, and no
    per-group funneling (the agg key carries the bucket, so a
    mega-group spreads across reducers)."""
    keyed = d.select(F.col(group_col).alias("g"), F.col(col).alias("_v"))
    return _hll_build(keyed, "_v", p, "g")


def hll_merge_grouped(*sketches: DataFrame) -> DataFrame:
    """MAX together grouped register tables built with the same p —
    per-shard crawl sketches compose into the union's per-group
    registers (tested cell-identical)."""
    return _hll_merge(sketches, "g")


def hll_estimate_grouped(sketch: DataFrame, p: int = HLL_P) -> DataFrame:
    """(g, buckets_set, zeros, est): the per-group HLL estimate — the
    scalar :func:`hll_estimate` body keyed on the group, so a fix to
    one cannot miss the other. Plan: one sketch-sized hash-agg keyed
    on the group."""
    return _hll_estimate(sketch, p, "g")


def hll_grouped_registers_sql(
    values_sql: str, p: int = HLL_P
) -> str:
    """DuckDB twin of :func:`hll_build_grouped` over ``values_sql``
    (columns g, v): identical (g, bucket, rho) registers."""
    from talna_spark.pipeline.portable import hash64_sql

    p, m, q = _hll_check_p(p)
    h = hash64_sql("'hll|' || v")
    return (
        f"SELECT g, h & {m - 1} AS bucket, "
        f"MAX({_hll_rho_sql(p, q)}) AS rho "
        f"FROM (SELECT g, ({h}) & 4294967295 AS h FROM ({values_sql}) "
        "WHERE v IS NOT NULL AND g IS NOT NULL) GROUP BY 1, 2"
    )


def hll_estimate_grouped_sql(values_sql: str, p: int = HLL_P) -> str:
    """DuckDB twin of grouped build + estimate: identical
    (g, buckets_set, zeros, est) rows."""
    p, m, q = _hll_check_p(p)
    a_num = _hll_alpha(m) * m * m * float(1 << q)
    return (
        f"WITH r AS ({hll_grouped_registers_sql(values_sql, p)}), "
        "a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS cnt, "
        f"CAST(COALESCE(SUM(1::BIGINT << ({q} - rho)), 0) AS BIGINT) "
        "AS st FROM r GROUP BY g), "
        f"e AS (SELECT g, cnt, CAST({m} - cnt AS BIGINT) AS zeros, "
        f"{a_num!r} / CAST(({m} - cnt) * {1 << q} + st AS DOUBLE) "
        "AS e_raw FROM a) "
        "SELECT g, cnt AS buckets_set, zeros, "
        f"{_hll_est_case_sql(m, q)} AS est FROM e"
    )
