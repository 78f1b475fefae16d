"""WebDataset tar-shard source/sink: the standard large-scale multimodal
interchange format (webdataset.github.io — tar archives whose members
group into samples by the part of the filename before the FIRST dot:
``000123.jpg`` + ``000123.txt`` + ``000123.json`` is one sample).

Scale design is the WARC template (sources/warc.py): FILES are the
parallelism unit — one ``binaryFile`` row per .tar shard maps 1:1 onto
tasks, the member walk runs executor-side in Arrow-batched mapInPandas
with stdlib ``tarfile``, and a whole shard is the bounded per-task
memory footprint (shards are sized ~100 MB-1 GB for exactly this
reason). No shuffle, no driver involvement, no delimiter scanning:
tar's 512-byte header framing sizes every member, and a corrupted
member fails LOUDLY (tarfile.ReadError / truncation ValueError), never
silently skips — a half-read shard must not quietly shrink the corpus.

The reader emits one row per sample with the three conventional typed
members decoded (``.txt`` -> text utf-8, ``.json`` -> meta string,
first image extension -> raw bytes, opaque — decode composes downstream
with pipeline.multimodal's bmp_decode_payloads / bmp_resize_payloads,
tested) plus the total member count, so unknown extensions are counted,
not dropped silently.

The writer is the round-trip twin: samples hash-partition into
``n_shards`` tars by key and STREAM batch-by-batch through sorted
partitions (one Arrow batch of per-task memory, never a whole shard),
members laid out contiguously per sample in sorted-extension order with
zeroed mtime/uid/gid so shard bytes are deterministic; duplicate keys
in a shard fail loudly. Returns the manifest (shard, n_samples,
n_members, n_bytes) — the audit artifact, never a silent write.

Citation: the reference has no multimodal source surface (SURVEY.md
§2.2) — pure scale-pipeline extension, format per the public
WebDataset spec.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talna_spark.pipeline.scan import read_documents

IMAGE_EXTS = ("bmp", "jpg", "jpeg", "png")

WDS_SCHEMA = (
    "shard string, key string, text string, image binary, "
    "image_ext string, meta string, n_members long"
)


def read_webdataset(spark: SparkSession, path_glob: str) -> DataFrame:
    """Parse every sample of every matched .tar shard. Returns one row
    per sample: (shard, key, text, image, image_ext, meta, n_members).
    Keys group members WITHIN a shard (samples never span shards, per
    the format); sample order inside a shard follows first appearance,
    but nothing downstream may rely on row order — the contract is the
    key set."""
    files = spark.read.format("binaryFile").load(path_glob).select(
        "path", "content"
    )

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import os
        import tarfile

        for pdf in batches:
            rows = []
            for path, raw in zip(pdf["path"], pdf["content"]):
                raw = bytes(raw)
                samples: dict[str, dict[str, bytes]] = {}
                order: list[str] = []
                end = 0  # offset just past the last member's padded data
                # tarfile raises tarfile.ReadError on corrupt framing and
                # this loop raises on short member data — but a file cut
                # exactly at a member boundary just ENDS the iterator, so
                # the end-of-archive marker (two 512-byte zero blocks) is
                # verified explicitly below: trailing truncation must not
                # silently shrink the corpus.
                with tarfile.open(fileobj=io.BytesIO(raw)) as tf:
                    for mem in tf:
                        end = mem.offset_data + 512 * ((mem.size + 511) // 512)
                        if not mem.isfile():
                            continue
                        base = os.path.basename(mem.name)
                        if "." in base:
                            key, ext = base.split(".", 1)
                        else:
                            key, ext = base, ""
                        f = tf.extractfile(mem)
                        data = f.read() if f is not None else b""
                        if len(data) != mem.size:
                            raise ValueError(
                                f"truncated member {mem.name} in {path}: "
                                f"{len(data)} of {mem.size} bytes"
                            )
                        if key not in samples:
                            samples[key] = {}
                            order.append(key)
                        if ext in samples[key]:
                            raise ValueError(
                                f"duplicate member {base} in {path}"
                            )
                        samples[key][ext] = data
                tail = raw[end:]
                if len(tail) < 1024 or any(tail[:1024]):
                    raise ValueError(
                        f"missing end-of-archive marker in {path} "
                        "(truncated shard?)"
                    )
                for key in order:
                    mem_map = samples[key]
                    text = mem_map.get("txt")
                    meta = mem_map.get("json")
                    image = image_ext = None
                    for ext in IMAGE_EXTS:
                        if ext in mem_map:
                            image, image_ext = mem_map[ext], ext
                            break
                    rows.append(
                        (
                            path,
                            key,
                            text.decode("utf-8") if text is not None else None,
                            image,
                            image_ext,
                            meta.decode("utf-8") if meta is not None else None,
                            len(mem_map),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "shard",
                    "key",
                    "text",
                    "image",
                    "image_ext",
                    "meta",
                    "n_members",
                ],
            )

    return files.mapInPandas(_parse, schema=WDS_SCHEMA)


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 4,
    image_ext: str = "bmp",
) -> DataFrame:
    """Write (key, text, image, meta) rows as WebDataset tar shards
    under ``out_dir`` (shard-00000.tar ... deterministic bytes: keys
    hash-partition by xxhash64, samples sort by key inside a shard,
    members emit in sorted-extension order with zeroed mtime/uid/gid).
    NULL members are simply omitted from the sample. Duplicate keys
    fail loudly. Returns the manifest DataFrame
    (shard, n_samples, n_members, n_bytes) — collect it to force the
    write and audit the layout.

    100 TB shape: one hash shuffle of the sample rows into shard
    partitions SORTED on (_shard, key), then an Arrow mapInPandas
    STREAMS each shard's tar to disk batch-by-batch (members append to
    an open file as rows arrive; a shard is never materialized in
    memory — per-task footprint is one Arrow batch, not
    corpus/n_shards, so a mis-sized n_shards degrades wall time, not
    memory). Shard count is the parallelism dial (the reader's too);
    size it so shards land ~100 MB-1 GB, the format's convention."""
    if int(n_shards) < 1:
        raise ValueError("n_shards must be >= 1")
    if str(image_ext) in ("txt", "json") or not str(image_ext):
        # 'txt' and 'json' are the reserved text/meta member names — an
        # image under either would silently overwrite the other member
        # in the sample dict
        raise ValueError(f"image_ext may not be {image_ext!r}")
    cols = df.columns
    for need in ("key",):
        if need not in cols:
            raise ValueError(f"write_webdataset input needs a '{need}' column")
    sel = [F.col("key").cast("string").alias("key")]
    sel.append(
        (F.col("text") if "text" in cols else F.lit(None)).cast("string").alias("text")
    )
    sel.append(
        (F.col("image") if "image" in cols else F.lit(None)).cast("binary").alias("image")
    )
    sel.append(
        (F.col("meta") if "meta" in cols else F.lit(None)).cast("string").alias("meta")
    )
    data = df.select(*sel).withColumn(
        "_shard", F.pmod(F.xxhash64("key"), F.lit(int(n_shards))).cast("int")
    )
    img_ext = str(image_ext)

    def _write(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import io
        import os
        import tarfile

        # streaming per-shard state: sortWithinPartitions guarantees a
        # shard's rows arrive contiguously and key-sorted across batches
        state = {
            "shard": None, "tf": None, "tmp": None, "name": None,
            "n_samples": 0, "n_members": 0, "last_key": None,
        }
        manifests: list[tuple] = []

        def close_shard():
            if state["tf"] is None:
                return
            state["tf"].close()
            n_bytes = os.path.getsize(state["tmp"])
            final = os.path.join(out_dir, state["name"])
            os.replace(state["tmp"], final)  # atomic publish
            manifests.append(
                (state["name"], state["n_samples"], state["n_members"], n_bytes)
            )
            state.update(
                shard=None, tf=None, tmp=None, name=None,
                n_samples=0, n_members=0, last_key=None,
            )

        def open_shard(shard_id: int):
            close_shard()
            os.makedirs(out_dir, exist_ok=True)
            name = f"shard-{shard_id:05d}.tar"
            # tmp name carries the task attempt id: under speculative
            # execution two attempts of the same task would otherwise
            # interleave writes into one tmp file; the atomic rename
            # then publishes whichever attempt finishes (identical
            # bytes — the write is deterministic)
            from pyspark import TaskContext

            ctx = TaskContext.get()
            attempt = ctx.taskAttemptId() if ctx is not None else 0
            tmp = os.path.join(out_dir, f".{name}.{attempt}.tmp")
            state.update(
                shard=shard_id,
                tf=tarfile.open(tmp, mode="w"),
                tmp=tmp,
                name=name,
            )

        try:
            for pdf in batches:
                # zip over columns, not iterrows: a Series per row is
                # ~10-100x slower and this is the bulk write path
                for key, text, image, meta, sid in zip(
                    pdf["key"], pdf["text"], pdf["image"],
                    pdf["meta"], pdf["_shard"],
                ):
                    sid = int(sid)
                    if state["shard"] != sid:
                        open_shard(sid)
                    if key == state["last_key"]:
                        raise ValueError(
                            f"duplicate sample keys in shard {sid}: {key!r}"
                        )
                    state["last_key"] = key
                    members = {}
                    if meta is not None:
                        members["json"] = meta.encode("utf-8")
                    if text is not None:
                        members["txt"] = text.encode("utf-8")
                    if image is not None:
                        members[img_ext] = bytes(image)
                    for ext in sorted(members):
                        info = tarfile.TarInfo(name=f"{key}.{ext}")
                        info.size = len(members[ext])
                        info.mtime = 0
                        info.uid = info.gid = 0
                        info.uname = info.gname = ""
                        state["tf"].addfile(info, io.BytesIO(members[ext]))
                        state["n_members"] += 1
                    state["n_samples"] += 1
            close_shard()
        except BaseException:
            # remove this attempt's partial tmp so an in-process task
            # failure never leaks a shard-sized orphan; a hard-killed
            # executor can still leak its tmp (same residue class as a
            # Hadoop committer's _temporary on kill) — tmps are
            # dot-prefixed and glob-invisible to the reader either way
            if state["tf"] is not None:
                try:
                    state["tf"].close()
                except Exception:
                    pass
            if state["tmp"] is not None and os.path.exists(state["tmp"]):
                os.remove(state["tmp"])
            raise
        yield pd.DataFrame(
            manifests,
            columns=["shard", "n_samples", "n_members", "n_bytes"],
        )

    return (
        data.repartition(int(n_shards), "_shard")
        .sortWithinPartitions("_shard", "key")
        .mapInPandas(
            _write,
            schema=(
                "shard string, n_samples long, n_members long, n_bytes long"
            ),
        )
    )


def roundtrip_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver slice (x24 ``kind=wds``): prove the tar layer end-to-end
    against a straight-SQL oracle — every document (text + its
    deterministic BMP payload) writes into shards and reads back, and
    the emitted values must equal what the oracle derives from the
    ``documents`` table WITHOUT any tar code: s1 = zero-padded key,
    s2 = md5(text utf-8) ':' byte-length of the BMP payload (closed
    form from doc_id arithmetic — 54-byte header + padded bottom-up
    rows). A framing bug, an encoding bug, or a dropped/duplicated
    member all break the hash. The shard round trip materializes behind
    an EAGER localCheckpoint so the scratch dir can be removed before
    the DataFrame is consumed."""
    import shutil
    import tempfile

    from talna_spark.pipeline.multimodal import bmp_media_table

    docs = read_documents(spark, sf_dir, "doc_id", "text")
    media = bmp_media_table(spark, sf_dir).select(
        "doc_id", F.col("payload").alias("image")
    )
    df = docs.join(media, "doc_id").select(
        F.format_string("%08d", F.col("doc_id")).alias("key"),
        "text",
        "image",
    )
    d = tempfile.mkdtemp(prefix="talna_wds_rt_")
    try:
        write_webdataset(df, d, n_shards=4).collect()
        out = (
            read_webdataset(spark, f"{d}/shard-*.tar")
            .select(
                F.col("key").cast("long").alias("doc_id"),
                F.col("key").alias("s1"),
                F.concat(
                    F.md5(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")),
                    F.lit(":"),
                    F.length("image").cast("string"),
                ).alias("s2"),
                F.lit("wds").alias("kind"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


def roundtrip_layer_sql() -> str:
    """DuckDB twin of :func:`roundtrip_layer`: everything from the
    documents table directly — md5 of the text, BMP byte size by the
    writer's closed form (no tar, no BMP code)."""
    return (
        "SELECT doc_id, "
        "lpad(CAST(doc_id AS VARCHAR), 8, '0') AS s1, "
        "md5(COALESCE(text, '')) || ':' || CAST("
        "54 + (3 * (3 + doc_id % 6) "
        "+ (4 - (3 * (3 + doc_id % 6)) % 4) % 4) * (2 + doc_id % 5) "
        "AS VARCHAR) AS s2, "
        "'wds' AS kind FROM documents"
    )
