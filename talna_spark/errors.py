"""Error model, mirroring the reference's ``Error`` enum
(reference: src/error.rs:1-45 — variants Io | Storage | InvalidQuery).

Io/Storage map onto Spark/Parquet exceptions which we do not wrap; the
user-facing error our engine can raise itself is ``InvalidQueryError``.
"""


class TalnaError(Exception):
    """Base class for engine errors."""


class InvalidQueryError(TalnaError):
    """Malformed filter DSL or invalid API-boundary parameter.

    Mirrors ``Error::InvalidQuery`` (reference src/error.rs, raised from
    the parser paths in src/query/filter.rs:154-293 and src/db.rs:190-192).

    NOTE (ADVICE r16): this type covers API-boundary validation
    GENERALLY, not just query construction — ingest-side value checks
    raise the :class:`InvalidValueError` subclass below, so callers that
    catch ``InvalidQueryError`` around query building keep working while
    ingest callers can catch the narrower (and ``ValueError``-compatible)
    type.
    """


class InvalidValueError(InvalidQueryError, ValueError):
    """A value outside the engine's domain at an API boundary —
    ingest-side NaN (``write``/``write_at``) or a negative/overflowing
    timestamp (shared by ingest and query-bound setters). Subclasses
    both :class:`InvalidQueryError` (backward compatibility: every
    existing catch site keeps matching) and :class:`ValueError` (the
    Pythonic type for a bad value)."""


class MissingColumnError(TalnaError, ValueError):
    """An input table lacks a column the operator reads; the message
    names the column and the file."""


class InvalidMetricNameError(TalnaError):
    """Metric name fails charset validation (reference src/metric_name.rs:15-25)."""
