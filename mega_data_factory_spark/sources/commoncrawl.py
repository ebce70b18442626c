"""Remote CommonCrawl source: crawl index listing + per-task WARC download
with retry, feeding the WARC parser.

Reference: loaders/commoncrawl_loader.py — ``get_file_list`` streams
``crawl-data/{crawl_id}/warc.paths.gz`` (:38-64), ``_download`` fetches each
WARC with 3 attempts and exponential backoff to a local cache (:147-175).

Spark-first split of those responsibilities:

  * the DRIVER fetches only the paths index (a few MB of gzipped text) and
    derives the file list — same sizing rule as the reference (~5k records
    per WARC file, so ``max_samples//5000`` files, at least one per worker);
  * each EXECUTOR task downloads and parses its own WARC files inside
    ``mapInPandas`` — payload bytes never touch the driver, and file-level
    parallelism is the task boundary, exactly like the local
    ``binaryFile`` path in warc.py. At 1000 executors this is 1000
    concurrent ranged fetches against the CC S3 mirror, which is the
    access pattern CommonCrawl documents for bulk readers.

Everything network-touching funnels through ``fetch_with_retry`` so tests
can exercise the retry/backoff contract against a local http.server.
"""

from __future__ import annotations

import gzip
import os
import tempfile
import time
import urllib.error
import http.client
import urllib.request
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from mega_data_factory_spark.session import local_frame
from mega_data_factory_spark.sources.warc import WARC_SCHEMA, parse_warc_bytes

DEFAULT_BASE_URL = "https://data.commoncrawl.org/"
RECORDS_PER_FILE = 5000  # reference sizing heuristic, commoncrawl_loader.py:44-46


def fetch_with_retry(
    url: str,
    *,
    retries: int = 3,
    timeout: float = 300.0,
    backoff: float = 2.0,
    sleep=time.sleep,
) -> bytes:
    """GET ``url`` with ``retries`` attempts and exponential backoff
    (reference _download, commoncrawl_loader.py:160-175: 3 attempts,
    ``2**attempt`` seconds between). Raises the last error when exhausted."""
    last: Exception | None = None
    for attempt in range(retries):
        try:
            with urllib.request.urlopen(url, timeout=timeout) as r:
                return r.read()
        except (urllib.error.URLError, OSError, http.client.HTTPException) as e:
            # HTTPException covers IncompleteRead (mid-body connection
            # drop) — it subclasses neither URLError nor OSError, so it
            # used to escape the retry contract on the first attempt
            last = e
            if attempt < retries - 1:
                sleep(backoff**attempt)
    raise RuntimeError(f"download failed after {retries} attempts: {url}") from last


def list_warc_paths(
    crawl_id: str,
    *,
    base_url: str = DEFAULT_BASE_URL,
    num_files: int | None = None,
    max_samples: int | None = None,
    num_workers: int = 1,
) -> list[str]:
    """Fetch ``crawl-data/{crawl_id}/warc.paths.gz`` and return the first N
    WARC paths (reference get_file_list, commoncrawl_loader.py:38-64)."""
    if num_files is None and max_samples:
        num_files = max(num_workers, max_samples // RECORDS_PER_FILE + 1)
    url = f"{base_url.rstrip('/')}/crawl-data/{crawl_id}/warc.paths.gz"
    raw = gzip.decompress(fetch_with_retry(url))
    paths = [p for p in raw.decode("utf-8", "ignore").splitlines() if p.strip()]
    return paths[:num_files] if num_files else paths


def _cached_fetch(base_url: str, warc_path: str, cache_dir: str) -> bytes:
    """Download one WARC to the executor-local cache (atomic rename, so
    concurrent tasks on one host never read a half-written file) and return
    its bytes. Cache layout mirrors the reference (~/.cache/commoncrawl)."""
    # hash prefix keeps the key injective: bare '/'->'_' replacement lets
    # distinct remote paths collide onto one cache file and silently serve
    # the wrong WARC bytes
    import hashlib

    digest = hashlib.md5(warc_path.encode()).hexdigest()[:12]
    local = os.path.join(cache_dir, f"{digest}_{os.path.basename(warc_path)}")
    if not os.path.exists(local):
        data = fetch_with_retry(f"{base_url.rstrip('/')}/{warc_path.lstrip('/')}")
        os.makedirs(cache_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=cache_dir)
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        os.replace(tmp, local)
    with open(local, "rb") as f:
        return f.read()


def read_commoncrawl(
    spark: SparkSession,
    crawl_id: str,
    *,
    base_url: str = DEFAULT_BASE_URL,
    num_files: int | None = None,
    max_samples: int | None = None,
    cache_dir: str | None = None,
) -> DataFrame:
    """Remote CommonCrawl -> DataFrame with the WARC text-record schema.

    The paths index is listed on the driver; each task then fetches and
    parses its own files (one partition per WARC file, the reference's
    file->worker sharding, executor.py:237-310)."""
    import pandas as pd

    num_workers = spark.sparkContext.defaultParallelism
    paths = list_warc_paths(
        crawl_id,
        base_url=base_url,
        num_files=num_files,
        max_samples=max_samples,
        num_workers=num_workers,
    )
    if not paths:
        return local_frame(spark, [], WARC_SCHEMA)
    cache = cache_dir or os.path.join(tempfile.gettempdir(), "commoncrawl-cache")
    base, cid = base_url, crawl_id

    # round-robin repartition (NO column): hash-partitioning by path value
    # birthday-collides files into shared partitions (~37% empty at n=32,
    # stragglers downloading 2-3 multi-GB WARCs serially); columnless
    # repartition deals exactly one file per task
    files = spark.createDataFrame([(p,) for p in paths], "warc_path string").repartition(len(paths))

    def _fetch_parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["crawl_id", "warc_path", "url", "warc_date", "title", "text", "text_length"]
        for pdf in batches:
            for p in pdf["warc_path"]:
                rows = list(parse_warc_bytes(_cached_fetch(base, p, cache), p, cid))
                # one frame per file: bounded memory even on fat WARCs
                yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(_fetch_parse, WARC_SCHEMA)
