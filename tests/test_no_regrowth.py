"""No-regrowth guard for copied code under ``talna_spark/`` (Spark-free).

The duplicate-block scan: in every module, strip each line and drop blank
and comment lines; every 8-line window of what remains that occurs more
than once anywhere in the package marks its lines as repeated. The total
of repeated lines may only go down. A change that lowers it lowers
``MAX_REPEATED_LINES`` with it.
"""

from __future__ import annotations

import collections
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "talna_spark")
WINDOW = 8
MAX_REPEATED_LINES = 0


def repeated_lines(root: str = PKG) -> dict:
    """{module path relative to root: sorted source line numbers that lie
    in a repeated window}."""
    files = {}
    for d, _, names in os.walk(root):
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(d, n)
                with open(path, encoding="utf-8") as f:
                    files[os.path.relpath(path, root)] = [
                        (s, i)
                        for i, s in enumerate((ln.strip() for ln in f), 1)
                        if s and not s.startswith("#")
                    ]
    where = collections.defaultdict(list)
    for rel, lines in files.items():
        for i in range(len(lines) - WINDOW + 1):
            where[tuple(s for s, _ in lines[i:i + WINDOW])].append((rel, i))
    out = collections.defaultdict(set)
    for hits in where.values():
        if len(hits) > 1:
            for rel, i in hits:
                out[rel].update(n for _, n in files[rel][i:i + WINDOW])
    return {rel: sorted(ns) for rel, ns in out.items()}


def test_repeated_lines_do_not_grow():
    rep = repeated_lines()
    total = sum(len(v) for v in rep.values())
    detail = {rel: (len(v), v[0], v[-1]) for rel, v in sorted(rep.items())}
    assert total <= MAX_REPEATED_LINES, (
        f"{total} repeated lines > {MAX_REPEATED_LINES}: "
        f"{{module: (lines, first, last)}} = {detail}"
    )


def _lines(path: str):
    with open(path, encoding="utf-8") as f:
        yield from enumerate(f, 1)


def test_documents_table_has_one_reader():
    """Only pipeline/scan.py names the documents file: every other module
    reads it through ``read_documents`` under the declared schema. The
    bench and the scripts read it that way too (naming the file to test
    that it exists is not a read)."""
    hits = []
    for d, _, names in os.walk(PKG):
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(d, n)
                rel = os.path.relpath(path, PKG)
                hits += [
                    f"{rel}:{i}"
                    for i, ln in _lines(path)
                    if "documents.parquet" in ln
                    and rel != os.path.join("pipeline", "scan.py")
                ]
    root = os.path.dirname(PKG)
    scripts = os.path.join(root, "scripts")
    outside = [os.path.join(root, "bench.py")] + [
        os.path.join(scripts, n) for n in sorted(os.listdir(scripts))
        if n.endswith(".py")
    ]
    for path in outside:
        hits += [
            f"{os.path.relpath(path, root)}:{i}"
            for i, ln in _lines(path)
            if "read.parquet" in ln and "documents.parquet" in ln
        ]
    assert not hits, hits


def test_scan_finds_a_planted_copy(tmp_path):
    body = "".join(f"x{i} = {i}\n" for i in range(WINDOW))
    (tmp_path / "a.py").write_text("# a\n" + body)
    (tmp_path / "b.py").write_text("y = 0\n\n" + body + "z = 1\n")
    rep = repeated_lines(str(tmp_path))
    assert rep == {"a.py": list(range(2, 2 + WINDOW)),
                   "b.py": list(range(3, 3 + WINDOW))}
