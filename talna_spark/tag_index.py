"""Tag-index probe.

Series selection has one path: the filter AST compiled onto the series
dim's tag map (``talna_spark.dsl.compiler.compile_to_column``), the
matched rows broadcast-joined into the fact or rollup scan
(``talna_spark.database.WarehouseBackend``) — the reference's
inverted-index role (src/tag_index.rs:103-146) as one predicate over a
table with one row per series. No postings table is built; a
``series_tag/`` directory left in an older warehouse is never read.
"""

from __future__ import annotations

import os


def has_tag_index(warehouse_path: str) -> bool:
    """True when a ``series_tag/_FRESH`` marker exists, i.e. an older
    writer's compaction left a postings table. Nothing in this package
    writes or reads that table; queries never depend on it."""
    return os.path.exists(os.path.join(warehouse_path, "series_tag", "_FRESH"))
