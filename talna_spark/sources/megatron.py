"""Megatron-style indexed-dataset sink/source — the ".bin/.idx token
shard" layout GPT-class training loaders mmap directly, the step after
tokenize+pack that turns the curated corpus into training tensors on
disk.

Layout follows the PUBLIC Megatron-LM / fairseq mmap indexed-dataset
format (megatron `indexed_dataset.py`, index header ``MMIDIDX``), one
(.bin, .idx) pair per shard:

  .idx:  magic ``MMIDIDX\\x00\\x00`` (9 bytes)
         | version   u64 LE  (= 1)
         | dtype     u8      (code table below)
         | n_seq     u64     (sequence count)
         | n_docidx  u64     (doc_idx length = documents + 1)
         | sizes     i32[n_seq]     token counts per sequence
         | pointers  i64[n_seq]     BYTE offsets into .bin
         | doc_idx   i64[n_docidx]  sequence index of each document
                                    start (leading 0, trailing n_seq)
  .bin:  token ids back-to-back in the declared dtype, little-endian.

Each input row writes as one document holding one sequence (the
GPT-style layout: a "document" is a pack/chunk), so doc_idx is
[0, 1, ..., n_seq]. Only the INTEGER dtype codes are supported —
published forks disagree on the float codes, and token ids are the
only payload this sink exists for.

Scale design (the write_webdataset discipline, sources/webdataset.py):
- the only corpus-sized move is ONE hash shuffle of the sequence rows
  into shard partitions sorted on (_shard, key); shard assignment is
  the PORTABLE 'mm|' id-hash (not engine-private xxhash), so an oracle
  can recompute every sequence's (shard, ordinal) without this code;
- each task STREAMS its shard's .bin to disk batch-by-batch; per-task
  memory is one Arrow batch plus the shard's index arrays (12 bytes
  per SEQUENCE — the format's own index cost, which any writer must
  hold to emit sizes/pointers contiguously), never the token payload;
- shards publish atomically (tmp + rename), .bin strictly BEFORE .idx
  — a reader keyed on .idx presence never sees a torn pair; tmp names
  carry the task attempt id so speculative attempts cannot interleave.

FILESYSTEM CONTRACT — shared POSIX only (unlike every other source in
this package): WARC/WebDataset take whole-file bytes from Spark's
``binaryFile`` and work on any Hadoop-compatible FS, but a .bin payload
can be ~100 GB per shard — whole-file transfer is exactly what the
mmap format exists to avoid — so the reader RANGED-reads the local
path with ``open()``/``seek()``, and the writer streams + publishes
with ``os.replace`` (whose atomicity object stores do not provide).
Executors must therefore see ``out_dir``/the shards at the SAME POSIX
path (NFS/Lustre/GPFS — the environment Megatron-LM itself assumes).
Non-``file:`` URIs (s3://, hdfs://, ...) are REJECTED loudly at both
ends rather than failing deep in a task — UNLESS a filesystem seam is
registered for the scheme (r15): :func:`register_fs_seam` routes the
ranged reads (``open``/``seek``/``read``), the streamed writes, and
the rename-publish through a pluggable object implementing the small
:class:`FilesystemSeam` contract (an fsspec AbstractFileSystem slots
in via :class:`FsspecFilesystemSeam` when fsspec is installed). The
loud rejection stays the fallback for unregistered schemes, because
the contract REQUIRES atomic rename — register a seam only for
filesystems that provide it (HDFS, NFS/Lustre mounts, fsspec local/
dir/memory); raw object stores (S3 without a rename layer) must keep
being rejected, never silently given copy+delete "renames" that can
tear a shard pair under a concurrent reader.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talna_spark.pipeline.scan import read_documents

MMIDX_MAGIC = b"MMIDIDX\x00\x00"
MMIDX_VERSION = 1


def _require_posix_path(p: str, what: str) -> str:
    """Enforce the module's shared-POSIX contract (docstring above):
    reject URI schemes other than ``file:`` LOUDLY — without this, an
    s3://... out_dir would be created as a literal local directory and
    an hdfs://... .bin would surface as a baffling FileNotFoundError
    deep in an executor task. Returns the path with any ``file:``
    prefix stripped.

    ``file://`` URIs with an AUTHORITY are handled per RFC 8089 §2
    (ADVICE r14): an empty or ``localhost`` authority strips to the
    local path; anything else (``file://nas01/data``) names a REMOTE
    host this process cannot reach through ``open()`` — rejected
    loudly rather than silently resolved to the RELATIVE local path
    ``nas01/data`` (the pre-r15 behavior, pointing at the wrong
    location)."""
    if p.startswith("file://"):
        rest = p[len("file://"):]
        if rest.startswith("/") or rest == "":
            return rest or "/"  # empty authority: file:///path
        authority, slash, tail = rest.partition("/")
        if authority == "localhost":
            return "/" + tail if slash else "/"
        raise ValueError(
            f"{what} {p!r} is a file:// URI with non-local authority "
            f"{authority!r}: this process can only open local/shared-"
            "POSIX paths. Use file:///abs/path (empty authority), "
            "file://localhost/abs/path, or a plain path."
        )
    if p.startswith("file:"):
        return p[len("file:"):]
    import re

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]+)://", p)
    if m:
        raise ValueError(
            f"{what} {p!r} uses scheme {m.group(1)!r}: the Megatron "
            ".bin/.idx sink/source requires a shared POSIX filesystem "
            "(ranged reads + atomic rename; see talna_spark/sources/"
            "megatron.py module docstring). Copy shards to POSIX "
            "storage, or register a FilesystemSeam for the scheme "
            "(megatron.register_fs_seam) if the filesystem provides "
            "ranged reads and ATOMIC rename."
        )
    return p


# --------------------------------------------------------- filesystem seam
class FilesystemSeam:
    """The small filesystem contract that lifts the shared-POSIX
    restriction (r15, VERDICT r14 item 3). Subclass (or duck-type) and
    :func:`register_fs_seam` for a URI scheme; every path the sink/
    source touches under that scheme then routes through these seven
    methods instead of ``os``/``open``.

    HARD REQUIREMENT — ``rename`` must be ATOMIC (a reader keyed on
    .idx presence must never observe a torn shard pair, and the
    .bin-before-.idx publish ordering relies on it). HDFS, NFS/Lustre/
    GPFS, and fsspec's local/dir/memory filesystems qualify; raw
    object-store "rename" (copy + delete) does NOT — leave such
    schemes unregistered and let the loud rejection stand.

    Instances are captured into executor-side closures by value
    (cloudpickle), so a seam must be PICKLABLE and must address a
    filesystem that executors can reach (a per-process in-memory fs
    works driver-side and in tests, but executors see their own empty
    copy — use a shared-visibility backend for distributed runs)."""

    def open(self, path: str, mode: str):
        """Return a file-like for ``path``; binary modes only ('rb'/'wb').
        The 'rb' handle must support seek()+read() (ranged reads)."""
        raise NotImplementedError

    def size(self, path: str) -> int:
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        """mkdir -p; must be idempotent."""
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        """ATOMIC rename; replaces ``dst`` if present (os.replace)."""
        raise NotImplementedError

    def remove(self, path: str) -> None:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def glob(self, pattern: str) -> list:
        """Expand a glob pattern to a sorted list of paths (reader-side
        shard discovery; driver-side only)."""
        raise NotImplementedError


class FsspecFilesystemSeam(FilesystemSeam):
    """Adapter mounting an ``fsspec.AbstractFileSystem`` behind the
    seam contract. fsspec is NOT a dependency of this package — pass a
    constructed filesystem in (import-gated at the call site). The
    caller owns the atomic-rename judgment: fsspec's local, dir and
    memory filesystems rename atomically; object-store backends
    generally do not and should not be mounted here.

    ``strip_scheme`` (default True) removes the registered scheme
    prefix (``mock://bucket/x`` -> ``bucket/x``) before handing paths
    to filesystems that expect bare keys (memory/dir); pass False for
    filesystems that resolve full URIs themselves."""

    def __init__(self, fs, scheme: "str | None" = None,
                 strip_scheme: bool = True):
        self._fs = fs
        self._scheme = scheme
        self._strip = strip_scheme

    def _p(self, path: str) -> str:
        if self._strip and self._scheme:
            pre = f"{self._scheme}://"
            if path.startswith(pre):
                return path[len(pre):]
        return path

    def open(self, path: str, mode: str):
        return self._fs.open(self._p(path), mode)

    def size(self, path: str) -> int:
        return int(self._fs.size(self._p(path)))

    def makedirs(self, path: str) -> None:
        self._fs.makedirs(self._p(path), exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        self._fs.mv(self._p(src), self._p(dst))

    def remove(self, path: str) -> None:
        self._fs.rm(self._p(path))

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def glob(self, pattern: str) -> list:
        # re-prefix results with the scheme; backends that return
        # leading-slash paths (fsspec's MemoryFileSystem yields
        # '/shards/f.bin') would otherwise produce 'memory:///shards/…'
        # (ADVICE r15) — normalize so the round trip is exact. open()
        # still works either way: fsspec's _strip_protocol re-adds the
        # slash for backends that want it.
        # ADVICE r16 + r17 review: the re-prefix must ROUND-TRIP through
        # _p() exactly. A single leading slash is dropped ('/x' ->
        # 'scheme://x' — the MemoryFileSystem dialect; fsspec's
        # _strip_protocol re-adds it on open), but a '//'-prefixed path
        # keeps BOTH slashes ('//unc/x' -> 'scheme:////unc/x', which _p
        # strips back to '//unc/x' verbatim — dropping one would make
        # open() target a different key than glob found). Results that
        # already carry a scheme ('other://...') are never re-prefixed.
        pre = f"{self._scheme}://" if self._strip and self._scheme else ""
        out = []
        for p in self._fs.glob(self._p(pattern)):
            p = str(p)
            if pre and not p.startswith(pre) and "://" not in p:
                if p.startswith("/") and not p.startswith("//"):
                    p = p[1:]
                p = pre + p
            out.append(p)
        return sorted(out)


_FS_SEAMS: dict = {}
_SCHEME_RE_TEXT = r"^([A-Za-z][A-Za-z0-9+.\-]+)://"


def register_fs_seam(scheme: str, seam: FilesystemSeam) -> None:
    """Route Megatron sink/source I/O for ``scheme://...`` paths through
    ``seam`` (see :class:`FilesystemSeam` — rename MUST be atomic).
    ``file:`` and plain paths always use local POSIX and cannot be
    overridden (their atomicity is already guaranteed)."""
    s = str(scheme).lower().rstrip(":")
    if s in ("", "file"):
        raise ValueError("file:/plain paths are always local POSIX")
    # registration and resolution must agree (ADVICE r15): _resolve_fs
    # matches schemes with _SCHEME_RE_TEXT (>= 2 chars, letter-first),
    # so a scheme that pattern can never match would register silently
    # and then never be consulted — 'x://p' would fall through to being
    # treated as a plain local relative path. Reject it here, loudly.
    import re

    if not re.match(_SCHEME_RE_TEXT, f"{s}://"):
        raise ValueError(
            f"scheme {scheme!r} can never match the URI pattern "
            f"{_SCHEME_RE_TEXT!r} used for path resolution (schemes "
            "must be >= 2 chars, start with a letter, and contain only "
            "[A-Za-z0-9+.-]) — a seam registered for it would be "
            "silently ignored"
        )
    for need in ("open", "size", "makedirs", "rename", "remove",
                 "exists", "glob"):
        if not callable(getattr(seam, need, None)):
            raise TypeError(f"seam for {s!r} lacks a callable {need}()")
    _FS_SEAMS[s] = seam


def unregister_fs_seam(scheme: str) -> None:
    _FS_SEAMS.pop(str(scheme).lower().rstrip(":"), None)


def _resolve_fs(p: str, what: str):
    """(path, seam) for ``p``: local POSIX paths (plain or ``file:``)
    resolve through :func:`_require_posix_path` with seam None (the
    os/open fast path); a registered scheme returns the path verbatim
    with its seam; an unregistered scheme raises the loud contract
    error from ``_require_posix_path``."""
    import re

    m = re.match(_SCHEME_RE_TEXT, p)
    if m and m.group(1).lower() != "file":
        seam = _FS_SEAMS.get(m.group(1).lower())
        if seam is not None:
            return p, seam
    return _require_posix_path(p, what), None

# the public integer dtype codes (fairseq/Megatron indexed_dataset);
# float codes (6/7) vary across published forks and are not written
# dtypes carry an EXPLICIT little-endian byte order: the format is LE
# (the header is packed with '<'), and native-endian numpy arrays would
# silently emit/parse byte-swapped sizes/pointers/ids on a big-endian
# host — shards must be portable across architectures.
MM_DTYPES: dict[str, tuple[int, np.dtype]] = {
    "uint8": (1, np.dtype("<u1")),
    "int8": (2, np.dtype("<i1")),
    "int16": (3, np.dtype("<i2")),
    "int32": (4, np.dtype("<i4")),
    "int64": (5, np.dtype("<i8")),
    "uint16": (8, np.dtype("<u2")),
}
_CODE_TO_NP = {code: np_t for code, np_t in MM_DTYPES.values()}
_LE_I4 = np.dtype("<i4")
_LE_I8 = np.dtype("<i8")


def _shard_col(key_col: str, n_shards: int) -> F.Column:
    from talna_spark.pipeline.portable import hash64

    h = hash64(F.concat(F.lit("mm|"), F.col(key_col).cast("string")))
    return (h % F.lit(int(n_shards))).cast("int")


def shard_expr_sql(key_expr: str, n_shards: int) -> str:
    """DuckDB twin of the shard assignment — an oracle recomputes
    every sequence's shard without any sink code."""
    from talna_spark.pipeline.portable import hash64_sql

    h = hash64_sql(f"'mm|' || CAST({key_expr} AS VARCHAR)")
    return f"(({h}) % {int(n_shards)})"


def write_indexed_dataset(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 4,
    dtype: str = "int32",
    key_col: str = "seq_id",
    ids_col: str = "ids",
) -> DataFrame:
    """Write (key, ids) sequence rows as Megatron mmap indexed-dataset
    shards under ``out_dir`` (shard-00000.bin/.idx ... deterministic
    bytes: portable-hash sharding, key-sorted within a shard). Ids out
    of the declared dtype's range fail LOUDLY (a silent wrap would
    corrupt training data); NULL id arrays fail loudly; empty arrays
    are legal zero-length sequences. Returns the manifest DataFrame
    (shard, n_sequences, n_tokens, bin_bytes, idx_bytes) — collect it
    to force the write and audit the layout.

    ``out_dir`` must be a shared-POSIX path (module docstring) or use
    a scheme with a registered :class:`FilesystemSeam` (r15); the
    ``ids`` column must be an array of an INTEGRAL type — a float array
    would silently truncate fractional token ids in the long cast
    before the range check could catch anything, so it fails here."""
    if int(n_shards) < 1:
        raise ValueError("n_shards must be >= 1")
    out_dir, fs_seam = _resolve_fs(str(out_dir), "out_dir")
    if dtype not in MM_DTYPES:
        raise ValueError(
            f"dtype must be one of {sorted(MM_DTYPES)} (integer token "
            f"ids only), got {dtype!r}"
        )
    for need in (key_col, ids_col):
        if need not in df.columns:
            raise ValueError(f"write_indexed_dataset input needs {need!r}")
    from pyspark.sql import types as T

    ids_type = df.schema[ids_col].dataType
    ok = isinstance(ids_type, T.ArrayType) and isinstance(
        ids_type.elementType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    if not ok:
        raise ValueError(
            f"ids column {ids_col!r} must be array of an integral type, "
            f"got {ids_type.simpleString()}: a lossy cast (float/decimal/"
            "string) would corrupt token ids before the range check"
        )
    code, np_t = MM_DTYPES[dtype]
    lo = int(np.iinfo(np_t).min)
    hi = int(np.iinfo(np_t).max)
    itemsize = np_t.itemsize
    data = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ids_col).cast("array<long>").alias("ids"),
        _shard_col(key_col, n_shards).alias("_shard"),
    )

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        # fs_seam is captured by value (cloudpickle); None = local POSIX
        # via plain os/open — byte-identical to the pre-seam behavior.
        if fs_seam is None:
            fopen, fsize = open, os.path.getsize
            freplace, fexists, fremove = os.replace, os.path.exists, os.remove

            def fmkdirs(p):
                os.makedirs(p, exist_ok=True)
        else:
            fopen, fsize = fs_seam.open, fs_seam.size
            freplace, fexists, fremove = (
                fs_seam.rename, fs_seam.exists, fs_seam.remove
            )
            fmkdirs = fs_seam.makedirs

        state: dict = {"shard": None}
        manifests: list[tuple] = []

        def close_shard():
            if state["shard"] is None:
                return
            state["bin"].close()
            sizes = np.asarray(state["sizes"], dtype=_LE_I4)
            pointers = np.asarray(state["pointers"], dtype=_LE_I8)
            n_seq = len(sizes)
            doc_idx = np.arange(n_seq + 1, dtype=_LE_I8)
            idx_tmp = state["idx_tmp"]
            with fopen(idx_tmp, "wb") as f:
                f.write(MMIDX_MAGIC)
                f.write(struct.pack("<Q", MMIDX_VERSION))
                f.write(struct.pack("<B", code))
                f.write(struct.pack("<Q", n_seq))
                f.write(struct.pack("<Q", len(doc_idx)))
                f.write(sizes.tobytes())
                f.write(pointers.tobytes())
                f.write(doc_idx.tobytes())
            bin_bytes = fsize(state["bin_tmp"])
            idx_bytes = fsize(idx_tmp)
            # publish .bin first: a reader keyed on .idx presence never
            # sees an index whose payload is missing
            freplace(state["bin_tmp"], os.path.join(out_dir, state["bin_name"]))
            freplace(idx_tmp, os.path.join(out_dir, state["idx_name"]))
            manifests.append(
                (
                    state["name"],
                    n_seq,
                    int(sizes.sum()),
                    bin_bytes,
                    idx_bytes,
                )
            )
            state["shard"] = None

        def open_shard(shard_id: int):
            close_shard()
            fmkdirs(out_dir)
            from pyspark import TaskContext

            ctx = TaskContext.get()
            attempt = ctx.taskAttemptId() if ctx is not None else 0
            name = f"shard-{shard_id:05d}"
            bin_tmp = os.path.join(out_dir, f".{name}.bin.{attempt}.tmp")
            state.update(
                shard=shard_id,
                name=name,
                bin_name=f"{name}.bin",
                idx_name=f"{name}.idx",
                bin_tmp=bin_tmp,
                idx_tmp=os.path.join(out_dir, f".{name}.idx.{attempt}.tmp"),
                bin=fopen(bin_tmp, "wb"),
                sizes=[],
                pointers=[],
                offset=0,
            )

        try:
            for pdf in batches:
                for key, ids, sid in zip(
                    pdf["key"], pdf["ids"], pdf["_shard"]
                ):
                    sid = int(sid)
                    if state["shard"] != sid:
                        open_shard(sid)
                    if ids is None:
                        raise ValueError(
                            f"NULL ids array for sequence {key!r}"
                        )
                    arr = np.asarray(ids, dtype=np.int64)
                    if len(arr) and (
                        arr.min() < lo or arr.max() > hi
                    ):
                        raise ValueError(
                            f"sequence {key!r} has ids outside "
                            f"{dtype} range [{lo}, {hi}]: "
                            f"[{arr.min()}, {arr.max()}]"
                        )
                    state["bin"].write(arr.astype(np_t).tobytes())
                    state["sizes"].append(len(arr))
                    state["pointers"].append(state["offset"])
                    state["offset"] += len(arr) * itemsize
            close_shard()
        except BaseException:
            if state["shard"] is not None:
                try:
                    state["bin"].close()
                except Exception:
                    pass
                for t in (state["bin_tmp"], state["idx_tmp"]):
                    if fexists(t):
                        fremove(t)
            raise
        yield pd.DataFrame(
            manifests,
            columns=[
                "shard",
                "n_sequences",
                "n_tokens",
                "bin_bytes",
                "idx_bytes",
            ],
        )

    return (
        data.repartition(int(n_shards), "_shard")
        .sortWithinPartitions("_shard", "key")
        .mapInPandas(
            _write,
            schema=(
                "shard string, n_sequences long, n_tokens long, "
                "bin_bytes long, idx_bytes long"
            ),
        )
    )


MM_READ_SCHEMA = "shard string, seq_idx long, n_tokens long, ids array<long>"
MM_READ_CHUNK_BYTES = 64 << 20  # ranged-read granularity (bounds task memory)


def read_indexed_dataset(spark: SparkSession, idx_glob: str) -> DataFrame:
    """Read Megatron indexed-dataset shards back as (shard, seq_idx,
    n_tokens, ids) rows — ``seq_idx`` is the sequence's ordinal within
    its shard (the format stores no keys; writer order is key-sorted).
    Header corruption, dtype/doc_idx inconsistencies and torn
    bin/pointer layouts fail LOUDLY (tested). Files are the
    parallelism unit: the small .idx ships via binaryFile; the token
    payload RANGED-reads from the sibling .bin executor-side via local
    ``open()``/``seek()`` — which is why this source, unlike
    WARC/WebDataset, requires a shared POSIX filesystem (module
    docstring): a 100 GB .bin cannot ship as one binaryFile blob.
    Non-``file:`` URIs are rejected loudly, driver-side — unless the
    scheme has a registered :class:`FilesystemSeam` (r15): shard
    discovery then goes through ``seam.glob`` driver-side, the path
    list parallelizes one-file-per-row (files stay the parallelism
    unit), and each task reads its .idx whole and RANGED-reads its
    .bin through ``seam.open``/``seek`` — same chunked memory bound."""
    idx_glob, fs_seam = _resolve_fs(str(idx_glob), "idx_glob")
    if fs_seam is None:
        files = spark.read.format("binaryFile").load(idx_glob).select(
            "path", "content"
        )
    else:
        shard_paths = [str(p) for p in fs_seam.glob(idx_glob)]
        if not shard_paths:
            raise ValueError(f"no .idx files match {idx_glob!r}")
        files = spark.createDataFrame(
            [(p, None) for p in shard_paths], "path string, content binary"
        ).repartition(len(shard_paths), "path")

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                if content is None:
                    # seam branch: .idx is index-sized — read it whole
                    with fs_seam.open(path, "rb") as f:
                        raw = f.read()
                else:
                    raw = bytes(content)
                if raw[:9] != MMIDX_MAGIC:
                    raise ValueError(f"{path}: bad index magic")
                (ver,) = struct.unpack_from("<Q", raw, 9)
                if ver != MMIDX_VERSION:
                    raise ValueError(f"{path}: unsupported version {ver}")
                (code,) = struct.unpack_from("<B", raw, 17)
                if code not in _CODE_TO_NP:
                    raise ValueError(f"{path}: unsupported dtype code {code}")
                np_t = _CODE_TO_NP[code]
                n_seq, n_docidx = struct.unpack_from("<QQ", raw, 18)
                off = 34
                sizes = np.frombuffer(raw, _LE_I4, n_seq, off)
                off += 4 * n_seq
                pointers = np.frombuffer(raw, _LE_I8, n_seq, off)
                off += 8 * n_seq
                doc_idx = np.frombuffer(raw, _LE_I8, n_docidx, off)
                off += 8 * n_docidx
                if off != len(raw):
                    raise ValueError(
                        f"{path}: trailing bytes ({len(raw) - off})"
                    )
                if n_docidx != n_seq + 1 or doc_idx[0] != 0 or (
                    n_seq and doc_idx[-1] != n_seq
                ):
                    raise ValueError(f"{path}: inconsistent doc_idx")
                itemsize = np_t.itemsize
                want = pointers + sizes.astype(np.int64) * itemsize
                if n_seq and (
                    (pointers[1:] != want[:-1]).any() or pointers[0] != 0
                ):
                    raise ValueError(f"{path}: non-contiguous pointers")
                if fs_seam is not None:
                    local = path
                    getsize, bopen = fs_seam.size, fs_seam.open
                    shard = path.rsplit("/", 1)[-1][: -len(".idx")]
                else:
                    # the driver validated idx_glob, but a non-file
                    # default FS can still hand binaryFile a remote URI —
                    # same loud contract error, not a FileNotFoundError
                    import re as _re

                    if path.startswith("file://"):
                        local = path[len("file://"):]
                    elif path.startswith("file:"):
                        local = path[len("file:"):]
                    elif _re.match(r"^[A-Za-z][A-Za-z0-9+.\-]+://", path):
                        raise ValueError(
                            f"{path}: non-POSIX scheme — the .bin payload "
                            "is ranged-read locally (megatron.py module "
                            "docstring); copy shards to shared POSIX "
                            "storage or register a FilesystemSeam"
                        )
                    else:
                        local = path
                    getsize, bopen = os.path.getsize, open
                    shard = os.path.basename(local)[: -len(".idx")]
                bin_path = local[: -len(".idx")] + ".bin"
                expect = int(want[-1]) if n_seq else 0
                if getsize(bin_path) != expect:
                    raise ValueError(
                        f"{bin_path}: size {getsize(bin_path)} "
                        f"!= index's {expect}"
                    )
                # stream the payload: contiguous sequence CHUNKS of
                # ~CHUNK_BYTES each, one ranged read + one DataFrame per
                # chunk — per-task memory is bounded by the chunk, never
                # the shard (the writer's own discipline)
                with bopen(bin_path, "rb") as f:
                    lo_i = 0
                    while lo_i < n_seq:
                        hi_i = lo_i
                        span = 0
                        while hi_i < n_seq and (
                            span == 0
                            or span + int(sizes[hi_i]) * itemsize
                            <= MM_READ_CHUNK_BYTES
                        ):
                            span += int(sizes[hi_i]) * itemsize
                            hi_i += 1
                        f.seek(int(pointers[lo_i]))
                        buf = f.read(span)
                        if len(buf) != span:
                            raise ValueError(
                                f"{bin_path}: short read at sequence "
                                f"{lo_i}"
                            )
                        base = int(pointers[lo_i])
                        ids = [
                            np.frombuffer(
                                buf, np_t, int(sizes[i]),
                                int(pointers[i]) - base,
                            ).astype(np.int64)
                            for i in range(lo_i, hi_i)
                        ]
                        yield pd.DataFrame(
                            {
                                "shard": shard,
                                "seq_idx": np.arange(
                                    lo_i, hi_i, dtype=np.int64
                                ),
                                "n_tokens": sizes[lo_i:hi_i].astype(
                                    np.int64
                                ),
                                "ids": ids,
                            }
                        )
                        lo_i = hi_i

    return files.mapInPandas(_parse, schema=MM_READ_SCHEMA)


MM_RT_SHARDS = 4


def mm_roundtrip_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver slice (x24 ``kind=mm``, schema doc_id/s1/s2): prove the
    binary token-shard layer end-to-end against a straight-SQL oracle
    — every document's whitespace-token LENGTH array (a closed-form id
    stream both engines derive from the text alone) writes into
    .bin/.idx shards and reads back; s1 = shard name, s2 =
    "seq_idx:n_tokens:id-stream-md5". The format stores no keys, so
    doc_id is recovered by joining the read-back (shard, seq_idx) to
    the sink's declared placement rule (portable hash shard +
    key-sorted ordinal) computed from the INPUT side — the join itself
    pins that placement. A header bug, a pointer off-by-one, a dtype
    wrap or a dropped/duplicated/reordered sequence all break the
    hash; the oracle recomputes everything from the documents table
    with NO binary code. Materializes behind an EAGER localCheckpoint
    so the scratch dir is removed before consumption."""
    import shutil
    import tempfile

    from pyspark.sql.window import Window as W

    from talna_spark.pipeline.portable import tokens

    docs = read_documents(spark, sf_dir, "doc_id", "text").select(
        "doc_id",
        F.col("doc_id").cast("string").alias("seq_id"),
        F.transform(
            tokens(F.col("text")), lambda t: F.length(t).cast("long")
        ).alias("ids"),
    )
    expect = docs.select(
        "doc_id",
        F.format_string(
            "shard-%05d", _shard_col("seq_id", MM_RT_SHARDS)
        ).alias("shard"),
        "seq_id",
    ).withColumn(
        "seq_idx",
        F.row_number().over(
            W.partitionBy("shard").orderBy(F.col("seq_id").asc())
        )
        - F.lit(1),
    )
    d = tempfile.mkdtemp(prefix="talna_mm_rt_")
    try:
        write_indexed_dataset(
            docs.select("seq_id", "ids"), d, n_shards=MM_RT_SHARDS,
            dtype="uint16",
        ).collect()
        out = (
            read_indexed_dataset(spark, f"{d}/shard-*.idx")
            .join(expect, ["shard", "seq_idx"])
            .select(
                "doc_id",
                F.col("shard").alias("s1"),
                F.concat_ws(
                    ":",
                    F.col("seq_idx").cast("string"),
                    F.col("n_tokens").cast("string"),
                    F.md5(
                        F.encode(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.col("ids"),
                                    lambda x: x.cast("string"),
                                ),
                            ),
                            "UTF-8",
                        )
                    ),
                ).alias("s2"),
                F.lit("mm").alias("kind"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


def mm_roundtrip_layer_sql() -> str:
    """DuckDB twin of :func:`mm_roundtrip_layer`: shard, ordinal and
    id-stream md5 recomputed from the documents table directly — no
    binary code anywhere in the oracle."""
    from talna_spark.pipeline.portable import tokens_sql

    shard = shard_expr_sql("doc_id", MM_RT_SHARDS)
    lens = f"list_transform({tokens_sql('text')}, t -> len(t))"
    return (
        "SELECT doc_id, "
        "'shard-' || lpad(CAST(shard AS VARCHAR), 5, '0') AS s1, "
        "CAST(ROW_NUMBER() OVER ("
        "PARTITION BY shard ORDER BY CAST(doc_id AS VARCHAR)"
        ") - 1 AS VARCHAR) || ':' || CAST(len(ids) AS VARCHAR) "
        "|| ':' || md5(array_to_string(ids, ',')) AS s2, "
        "'mm' AS kind "
        f"FROM (SELECT {shard} AS shard, doc_id, {lens} AS ids "
        "FROM documents)"
    )
