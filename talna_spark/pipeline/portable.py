"""Portable expression helpers: constructs proven to produce IDENTICAL
results in Spark SQL and DuckDB 1.0, used to build extension operators and
their oracles from one spec.

Verified primitives (see tests/test_portable.py):
- md5(utf8 string) -> same lowercase hex in both engines
- 64-bit hash: first 15 hex chars of md5 -> int  (< 2^60, fits BIGINT)
    Spark:  CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)
    DuckDB: CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
- tokens: regexp split of trimmed, lowercased text on \\s+
- word k-shingles: k consecutive tokens joined by ' '; both sides guard
  the "< k tokens" case to an empty list (Spark's sequence(1,0) counts
  DOWN, DuckDB's generate_series(1,0) is empty — the guard hides the
  divergence).
- cosine similarity over DOUBLE arrays: Spark zip_with+aggregate fold vs
  DuckDB list_cosine_similarity; equal after ROUND(.., 6).

All floats that feed a driver value-hash must be rounded (6 dp) on both
sides.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- hashing
def hash64(col: Column) -> Column:
    """Deterministic 60-bit int hash of a string (md5-prefix based)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash64_sql(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


# ---------------------------------------------------------------- tokens
def tokens(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def tokens_sql(expr: str) -> str:
    return rf"regexp_split_to_array(trim(lower({expr})), '\s+')"


# ---------------------------------------------------------------- shingles
def shingles(words: Column, k: int) -> Column:
    """Distinct word k-shingles as a SORTED list (canonical set encoding —
    DuckDB's list_distinct does not preserve input order, so only the
    sorted form is cross-engine deterministic); empty when < k words."""
    n = F.size(words) - (k - 1)
    return F.when(
        n >= 1,
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n),
                    lambda i: F.array_join(F.slice(words, i, k), " "),
                )
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_sql(words_expr: str, k: int) -> str:
    return (
        f"list_sort(list_distinct(list_transform("
        f"generate_series(1, greatest(len({words_expr}) - {k - 1}, 0)), "
        f"i -> array_to_string(({words_expr})[i:i+{k - 1}], ' '))))"
    )


def grams(words: Column, k: int) -> Column:
    """ALL word k-grams in document order, multiplicity kept — the
    feature stream for count-based models (DSIR hashed n-grams), where
    :func:`shingles`' distinct-set encoding would lose the counts.
    Empty when < k words (same guard as shingles: Spark's sequence
    counts DOWN on an empty range, DuckDB's generate_series is empty)."""
    n = F.size(words) - (k - 1)
    return F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def grams_sql(words_expr: str, k: int) -> str:
    return (
        f"list_transform("
        f"generate_series(1, greatest(len({words_expr}) - {k - 1}, 0)), "
        f"i -> array_to_string(({words_expr})[i:i+{k - 1}], ' '))"
    )


def norm_text(text: Column) -> Column:
    """Whitespace-collapsed, trimmed, lowercased text — the char-gram
    canonical form (runs of whitespace carry no language signal; a
    single space marks word boundaries so boundary grams like ``" th"``
    survive)."""
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def norm_text_sql(expr: str) -> str:
    return rf"regexp_replace(trim(lower({expr})), '\s+', ' ', 'g')"


def char_grams_sql(expr: str, k: int) -> str:
    return (
        f"list_transform("
        f"generate_series(1, greatest(length({expr}) - {k - 1}, 0)), "
        f"i -> substr({expr}, i, {k}))"
    )


# ---------------------------------------------------------------- cosine
def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side fold
    (no UDF): zip_with products, sequential aggregate sum — the same
    left-to-right accumulation DuckDB's list_cosine_similarity performs.

    A ZERO-NORM side yields NULL explicitly (cosine undefined), via
    ``try_divide``: NULL on a zero divisor even under Spark 4's default
    ANSI mode (where a bare division would ABORT the whole job with
    DIVIDE_BY_ZERO the first time a degenerate vector appears), and for
    a nonzero divisor the exact same division — bit-identical to the
    unguarded form. NOT the when(den > 0, num/den) guard shape: these
    aggregate() folds are interpreted with no subexpression
    elimination, so the predicate's copy of den re-ran BOTH norm dots
    per row — 5 dot-folds per cosine instead of 3, measured as the r11
    pipe_ann_ivf regression (+25% end-to-end; interleaved A/B r10 {1.19,
    1.34, 1.25} s vs r11-shape {1.52, 1.62, 1.56} s, and try_divide
    0.200 s vs when-guard 0.282 s vs bare 0.197 s on a 20k-row cosine
    microbench)."""

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    # nanvl: a NaN component in either vector makes its self-dot NaN
    # (NaN*0 = NaN), so the old guard's when(NaN > 0) -> false mapped a
    # corrupt vector to NULL; bare try_divide would propagate NaN, which
    # Spark sorts ABOVE every real double — the corrupt vector would
    # become the #1 neighbor in every top-k. One extra O(1) op, single
    # evaluation of each dot.
    return F.nanvl(
        F.try_divide(dot(a, b), F.sqrt(dot(a, a) * dot(b, b))),
        F.lit(None).cast("double"),
    )


def cosine_sql(a: str, b: str) -> str:
    return f"list_cosine_similarity({a}, {b})"
