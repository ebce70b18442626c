"""Image-family queries over deterministic in-query BMP fixtures.

The test tables have no binary image column, so these queries synthesize
their input inside the plan (``fixtures.image_df`` — generated distributed
via ``mapInPandas``, pure function of id). Metadata is oracle-checkable
because width/height/file-size are integer arithmetic on the id
(``fixtures.image_size_sql``). Pixel statistics (entropy, artifacts) and
the DCT phash are not ANSI-SQL-expressible — but the FILTER and DEDUP
stages downstream of them are plain relational algebra, so since round 12
those two queries materialize the refiner's numeric/hash columns to a
deterministic parquet path and BOTH engines run their stage over the same
materialized input (the tests/test_natural_funnel.py pattern): the pixel
kernels keep their value-level pytest bar (tests/test_images.py), while
the conjunctive threshold filter and the first-wins phash dedup become
hash-checkable driver rows instead of rows-only.

Reference contract: operators/refiners/image_metadata.py:25-67,
image_technical_quality.py:41-193, operators/dedup/image_phash_dedup.py:30-84.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mega_data_factory_spark.fixtures import image_df, image_size_sql

N_META = 120
N_PHASH = 150
PHASH_PERIOD = 50  # pixel content repeats every 50 ids -> 100 planted dups

# Materialized-refiner-output root: the oracle mirrors the post-refiner
# stage over the exact rows Spark wrote, so the path must be static (the
# oracle SQL is a constant string) and absolute (driver cwd is arbitrary).
# Contents are a pure function of id — every rewrite is byte-stable.
_MAT_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".localdata",
    "oracle_mat",
)
# the one data file under each materialized name
_PART = "part-00000.parquet"


def _materialize(df: DataFrame, name: str) -> str:
    """Write ``df`` to the deterministic oracle-input path and return it.
    ``coalesce(1)`` keeps the layout stable (one part file) — these are
    120-150 row frames, not scale-path data. The file is written to a
    staging directory of its own and renamed over ``<name>/_PART``, an
    atomic step, so a process reading the name while another writes it
    sees a complete file, never an empty or half-written directory.
    Rewrites are byte-stable, so a reader that listed the old file reads
    the new one at the same length."""
    path = os.path.join(_MAT_ROOT, name)
    staging = os.path.join(_MAT_ROOT, ".staging", f"{name}-{os.getpid()}-{uuid.uuid4().hex}")
    df.coalesce(1).write.parquet(staging)
    (part,) = [f for f in os.listdir(staging) if f.startswith("part-") and f.endswith(".parquet")]
    os.makedirs(path, exist_ok=True)
    os.replace(os.path.join(staging, part), os.path.join(path, _PART))
    shutil.rmtree(staging, ignore_errors=True)
    for f in set(os.listdir(path)) - {_PART}:  # an overwrite-in-place writer's files
        stale = os.path.join(path, f)
        with contextlib.suppress(FileNotFoundError):
            shutil.rmtree(stale) if os.path.isdir(stale) else os.remove(stale)
    return path


def image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only metadata parse (no pixel decode) over varied-size BMPs;
    every output column is a deterministic function of id."""
    from mega_data_factory_spark.operators.images import ImageMetadataRefiner

    df = image_df(spark, N_META, vary_size=True)
    out = ImageMetadataRefiner().apply(df)
    return out.select(
        "id",
        F.col("image_width").cast("int").alias("width"),
        F.col("image_height").cast("int").alias("height"),
        F.col("image_file_size_bytes").cast("long").alias("file_size"),
        F.col("image_format").alias("format"),
    ).orderBy("id")


def _metadata_oracle() -> str:
    w, h, size = image_size_sql("r")
    return f"""
SELECT r AS id,
       CAST({w} AS INTEGER) AS width,
       CAST({h} AS INTEGER) AS height,
       CAST({size} AS BIGINT) AS file_size,
       'BMP' AS format
FROM range(0, {N_META}) t(r)
ORDER BY id
"""


def image_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused featurization (one Arrow crossing: metadata + entropy +
    artifacts), numeric columns materialized to parquet, then the
    conjunctive quality filter applied OVER the materialized frame — the
    stage the oracle mirrors threshold-for-threshold (incl. the missing
    -value coalesces). ``entropy_r3`` is pre-rounded at materialization
    so neither engine re-does float math in the compared output."""
    from mega_data_factory_spark.operators.filters import ImageQualityFilter
    from mega_data_factory_spark.operators.images import ImageFeatureExtractor

    feats = ImageFeatureExtractor(with_phash=False).apply(image_df(spark, N_META, vary_size=True))
    path = _materialize(
        feats.select(
            "id",
            F.col("image_width").cast("int").alias("image_width"),
            F.col("image_height").cast("int").alias("image_height"),
            F.col("image_compression_artifacts").cast("double").alias("image_compression_artifacts"),
            F.col("image_information_entropy").cast("double").alias("image_information_entropy"),
            F.round(F.col("image_information_entropy").cast("double"), 3).alias("entropy_r3"),
        ),
        "image_features_quality",
    )
    # width>=48 keeps ids with id%5>=2; entropy>=3.0 passes for random pixels
    kept = ImageQualityFilter(
        min_width=48, min_height=32, max_compression_artifacts=0.99, min_entropy=3.0
    ).apply(spark.read.parquet(path))
    return kept.select(
        "id",
        F.col("image_width").alias("width"),
        F.col("entropy_r3").alias("entropy"),
    ).orderBy("id")


def _quality_filter_oracle() -> str:
    """Mirror of ImageQualityFilter.predicate_sql (operators/filters.py) over
    the materialized refiner output — same coalesce defaults (missing
    values fail), same inclusive thresholds."""
    path = os.path.join(_MAT_ROOT, "image_features_quality")
    return f"""
SELECT id, image_width AS width, entropy_r3 AS entropy
FROM read_parquet('{path}/*.parquet')
WHERE COALESCE(image_width, 0) >= 48
  AND COALESCE(image_height, 0) >= 32
  AND COALESCE(image_compression_artifacts, 1.0) <= 0.99
  AND COALESCE(image_information_entropy, 0.0) >= 3.0
ORDER BY id
"""


def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash dedup over planted pixel-identical duplicates
    (content period 50 over 150 ids): the fused extractor precomputes
    ``phash`` (hex string), the (id, phash) pairs are materialized, and
    the first-wins dedup runs OVER the materialized frame — compact keys
    in the shuffle, bytes cross into Python exactly once, and the dedup
    stage is plain SQL the oracle mirrors (min-id per phash, undecodable
    rows keyed by id so they never collide)."""
    from mega_data_factory_spark.operators.images import ImageFeatureExtractor, ImagePhashDeduplicator

    feats = ImageFeatureExtractor().apply(image_df(spark, N_PHASH, content_period=PHASH_PERIOD))
    path = _materialize(feats.select("id", "phash"), "image_phash_pairs")
    out = ImagePhashDeduplicator().apply(spark.read.parquet(path))
    return out.select("id", "phash").orderBy("id")


def _phash_dedup_oracle() -> str:
    """Mirror of ImagePhashDeduplicator over the materialized (id, phash)
    pairs: first-wins = min(id) per key; a NULL phash (undecodable image)
    keys on the id so it never collides (operators/images.py key())."""
    path = os.path.join(_MAT_ROOT, "image_phash_pairs")
    return f"""
SELECT id, phash
FROM read_parquet('{path}/*.parquet')
QUALIFY id = MIN(id) OVER (
    PARTITION BY COALESCE(phash, 'id:' || CAST(id AS VARCHAR)))
ORDER BY id
"""


QUERIES = {
    "image_metadata": image_metadata,
    "image_quality_filter": image_quality_filter,
    "image_phash_dedup": image_phash_dedup,
}

ORACLE = {
    "image_metadata": _metadata_oracle(),
    "image_quality_filter": _quality_filter_oracle(),
    "image_phash_dedup": _phash_dedup_oracle(),
}
