"""WebDataset tar-shard connector: read and write the de-facto storage
format for large multimodal training corpora (POSIX tar shards whose
members are ``<key>.<ext>`` files; all members sharing a key form one
sample — e.g. ``000123.jpg`` + ``000123.txt`` + ``000123.json``).

The reference loads curated corpora through parquet/HuggingFace/WARC
loaders (loaders/huggingface_loader.py, loaders/commoncrawl_loader.py)
and has no tar-shard path; multimodal training stacks (img2dataset
output, OpenCLIP/LAION pipelines) ship exactly this layout, so a factory
that feeds them needs the connector in both directions. Built from the
public WebDataset format convention only.

Spark-first shape, mirroring the WARC source (sources/warc.py):
  * reading is a ``binaryFile`` scan (one input split per shard — tar has
    no internal split points, and shards are sized ~100 MB-1 GB precisely
    so FILE-level parallelism is the right granularity at 100 TB) plus one
    Arrow-batched ``mapInPandas`` parse; the parse stage is a pure
    (path, content) -> rows function, testable without I/O;
  * per-shard error containment: a corrupt tar skips the REST of that
    shard (members already parsed survive), never fails the task;
  * writing hash-partitions samples into a fixed shard count (the same
    stable md5-derived bucket the samplers use -> reproducible shard
    membership run-to-run), sorts each shard by key, and streams one tar
    per shard via ``applyInPandas`` with tmp+rename atomicity and
    zeroed tar metadata (mtime/uid/gid) so identical inputs produce
    byte-identical shards. ``out_dir`` must be shared storage on a real
    cluster (every executor writes its own shards there directly —
    exactly how img2dataset and webdataset's own ShardWriter operate).
"""

from __future__ import annotations

import io
import os
import re
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# extensions decoded to utf-8 string columns; everything else stays binary
TEXT_EXTS = frozenset({"txt", "text", "caption", "cls", "json", "jsonl", "csv", "md"})

_COL_RE = re.compile(r"[^0-9a-zA-Z_]")


def _ext_col(ext: str) -> str:
    """Member extension -> column name (dots and dashes sanitized so
    ``seg.png`` -> ``seg_png`` stays addressable without backticks)."""
    return _COL_RE.sub("_", ext)


def wds_schema(extensions: tuple[str, ...]) -> str:
    if not extensions:
        raise ValueError("webdataset read needs at least one extension to surface")
    cols = ", ".join(
        f"{_ext_col(e)} {'string' if e.split('.')[-1] in TEXT_EXTS else 'binary'}"
        for e in extensions
    )
    return f"__key__ string, __shard__ string, {cols}"


def parse_tar_bytes(
    data: bytes, shard_path: str, extensions: tuple[str, ...]
) -> Iterator[dict]:
    """Yield one dict per sample from one tar shard's bytes.

    Sample grouping follows the WebDataset contract: the key is the member
    name up to the FIRST dot (directories stripped), the extension is
    everything after it (so ``a/0001.seg.png`` has key ``0001`` and ext
    ``seg.png``); members of one sample are stored contiguously, so a key
    change flushes the current sample — per-shard memory is one sample,
    never the shard. Members with extensions outside ``extensions`` are
    skipped without reading their payload. A corrupt member/header ends
    the shard (tar has no resync point past a bad header — unlike WARC
    there is no boundary line to scan for), keeping what parsed so far.
    """
    want = {e: _ext_col(e) for e in extensions}
    text_like = {e for e in extensions if e.split(".")[-1] in TEXT_EXTS}
    cur_key: str | None = None
    cur: dict = {}

    def flush():
        nonlocal cur, cur_key
        if cur_key is not None:
            out = {"__key__": cur_key, "__shard__": shard_path}
            out.update({c: None for c in want.values()})
            out.update(cur)
            yield out
        cur, cur_key = {}, None

    try:
        with tarfile.open(fileobj=io.BytesIO(data), mode="r:*") as tf:
            while True:
                m = tf.next()
                if m is None:
                    break
                if not m.isfile():
                    continue
                base = os.path.basename(m.name)
                if "." not in base:
                    continue  # no extension: not a sample member
                key, ext = base.split(".", 1)
                # extension filter BEFORE the key-change flush: a key whose
                # members are all unrequested (an auxiliary stats.json in a
                # jpg+txt read) must not fabricate an all-NULL sample row
                if ext not in want:
                    continue
                if key != cur_key:
                    yield from flush()
                    cur_key = key
                payload = tf.extractfile(m).read()
                cur[want[ext]] = (
                    payload.decode("utf-8", "replace") if ext in text_like else payload
                )
    except (tarfile.TarError, OSError, EOFError):
        pass  # corrupt shard: keep samples parsed so far, skip the rest
    yield from flush()


def parse_wds_files(files: DataFrame, extensions: tuple[str, ...]) -> DataFrame:
    """(path, content) rows -> sample rows (the I/O-free parse stage)."""
    schema = wds_schema(extensions)
    names = [c.split()[0] for c in schema.split(", ")]

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                rows.extend(parse_tar_bytes(bytes(content), p, extensions))
            yield pd.DataFrame(rows, columns=names)

    return files.mapInPandas(_parse, schema)


def read_webdataset(
    spark: SparkSession,
    path: str,
    *,
    extensions: tuple[str, ...] = ("jpg", "txt", "json"),
    max_samples: int | None = None,
) -> DataFrame:
    """Tar shards under ``path`` (file/dir/glob) -> one row per sample with
    ``__key__``, ``__shard__`` and one column per requested extension
    (text-like extensions decode to string, the rest stay binary —
    the engine's opaque-bytes multimodal contract)."""
    wds_schema(extensions)  # validate BEFORE the scan (clear error first)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(path)
        .select("path", "content")
    )
    out = parse_wds_files(files, extensions)
    return out.limit(max_samples) if max_samples is not None else out


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    *,
    key_col: str = "__key__",
    columns: dict[str, str] | None = None,
    num_shards: int = 64,
    prefix: str = "shard",
) -> DataFrame:
    """Write samples as ``{out_dir}/{prefix}-{00000..}.tar`` WebDataset
    shards; returns the per-shard manifest (shard, path, samples, bytes)
    as a DataFrame (driver-small: one row per shard).

    ``columns`` maps DataFrame column -> member extension (default: every
    non-key column under its own name). Shard membership is the stable
    md5-derived hash of the key — reproducible across runs and partition
    layouts, like every sampler in this engine — and each shard is sorted
    by key and written with zeroed tar metadata, so the SAME rows always
    produce byte-identical shards (resumable/verifiable output). NULL
    members are skipped (a sample missing its caption still ships its
    image). One ``applyInPandas`` task writes each shard — and holds that
    ENTIRE shard as one Arrow/pandas group in executor memory while doing
    so: size ``num_shards`` so ``corpus_bytes / num_shards`` stays in the
    hundreds of MB (the standard WebDataset shard size and comfortably
    under Arrow's 2 GB group limit); it is the exact analog of
    img2dataset's one-shard-per-worker buffer.
    """
    from mega_data_factory_spark.functions.hashing import hash64_from_md5

    cols = columns or {c: c for c in df.columns if c != key_col and not c.startswith("__")}
    if not cols:
        raise ValueError("write_webdataset: no payload columns to write")
    missing = [c for c in [key_col, *cols] if c not in df.columns]
    if missing:
        raise ValueError(f"write_webdataset: columns not in frame: {missing}")
    os.makedirs(out_dir, exist_ok=True)
    width = max(5, len(str(num_shards - 1)))

    shard = (hash64_from_md5(key_col, seed="wds") % num_shards).alias(
        "__shard_id__"
    )
    # NULL keys cannot name tar members AND would land in a NULL shard id
    # (int(None) kills the writer task) — drop them up front
    tagged = df.filter(F.col(key_col).isNotNull()).select(
        shard, F.col(key_col).alias("__key__"), *[F.col(c) for c in cols]
    )

    col_ext = dict(cols)

    def _write(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf["__shard_id__"].iloc[0])
        pdf = pdf.sort_values("__key__", kind="mergesort")
        path = os.path.join(out_dir, f"{prefix}-{sid:0{width}d}.tar")
        tmp = path + ".inprogress"
        n = 0
        with tarfile.open(tmp, "w") as tf:
            for _, row in pdf.iterrows():
                key = row["__key__"]
                if key is None:
                    continue  # no stable identity -> cannot name members
                wrote = False
                for c, ext in col_ext.items():
                    v = row[c]
                    if v is None or (isinstance(v, float) and pd.isna(v)):
                        continue
                    payload = v if isinstance(v, (bytes, bytearray)) else str(v).encode()
                    info = tarfile.TarInfo(name=f"{key}.{ext}")
                    info.size = len(payload)
                    info.mtime = 0  # zeroed metadata -> byte-identical reruns
                    info.uid = info.gid = 0
                    info.uname = info.gname = ""
                    tf.addfile(info, io.BytesIO(bytes(payload)))
                    wrote = True
                n += int(wrote)
        os.replace(tmp, path)  # atomic publish: readers never see partials
        return pd.DataFrame(
            {"shard": [sid], "path": [path], "samples": [n], "bytes": [os.path.getsize(path)]}
        )

    manifest = tagged.groupBy("__shard_id__").applyInPandas(
        _write, schema="shard int, path string, samples long, bytes long"
    )
    # materialize ON THE DRIVER so the write happens exactly once here (a
    # lazily returned plan would re-write shards on every downstream action)
    rows = manifest.collect()
    return df.sparkSession.createDataFrame(
        rows or [], "shard int, path string, samples long, bytes long"
    )
