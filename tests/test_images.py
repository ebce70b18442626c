"""Image operator tests on synthesized PNG/BMP bytes (no PIL in this
container — the engine ships its own minimal decoders; these tests verify
the full Spark plumbing: nested struct columns, Arrow batching, refiner/
filter/dedup composition)."""

import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from mega_data_factory_spark.operators.images import (
    ImageMetadataRefiner,
    ImagePhashDeduplicator,
    ImageTechnicalQualityRefiner,
    decode_image,
    dct_phash,
    parse_image_meta,
    shannon_entropy,
)


def make_png(arr: np.ndarray) -> bytes:
    """Minimal 8-bit PNG encoder (filter type 0, one IDAT)."""
    h, w = arr.shape[:2]
    ch = 1 if arr.ndim == 2 else arr.shape[2]
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", zlib.crc32(tag + data))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_bmp(arr: np.ndarray) -> bytes:
    """Minimal 24-bit bottom-up BMP encoder."""
    h, w = arr.shape[:2]
    row_size = ((w * 3 + 3) // 4) * 4
    header = b"BM" + struct.pack("<IHHI", 54 + row_size * h, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row_size * h, 2835, 2835, 0, 0)
    body = bytearray()
    for y in range(h - 1, -1, -1):
        row = arr[y][:, [2, 1, 0]].tobytes()  # RGB -> BGR
        body += row + b"\x00" * (row_size - len(row))
    return header + info + bytes(body)


RNG = np.random.default_rng(42)
SOLID = np.full((64, 64, 3), 128, dtype=np.uint8)
NOISE = RNG.integers(0, 256, (64, 64, 3), dtype=np.uint8).astype(np.uint8)
GRADIENT = np.tile(np.arange(64, dtype=np.uint8) * 4, (64, 1))[..., None].repeat(3, axis=2)


def test_parse_meta_formats():
    assert parse_image_meta(make_png(SOLID)) == (64, 64, "PNG")
    assert parse_image_meta(make_bmp(SOLID)) == (64, 64, "BMP")
    gif = b"GIF89a" + struct.pack("<HH", 10, 20) + b"\x00" * 20
    assert parse_image_meta(gif) == (10, 20, "GIF")
    jpeg = b"\xff\xd8\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 10
    jpeg += b"\xff\xc0" + struct.pack(">HBHH", 11, 8, 480, 640) + b"\x00" * 6
    assert parse_image_meta(jpeg) == (640, 480, "JPEG")
    assert parse_image_meta(b"garbage") == (0, 0, "ERROR")
    assert parse_image_meta(None) == (0, 0, "ERROR")


def test_decoders_roundtrip():
    for img in (SOLID, NOISE, GRADIENT):
        assert np.array_equal(decode_image(make_png(img)), img)
        assert np.array_equal(decode_image(make_bmp(img)), img)
    assert decode_image(b"junk") is None


def test_entropy_direction():
    # solid -> 0 bits; seeded noise -> near 8 bits (reference test pattern,
    # tests/test_rust_accelerated_ops.py:20-38)
    assert shannon_entropy(SOLID) == 0.0
    assert shannon_entropy(NOISE) > 7.5


def test_phash_properties():
    a = dct_phash(SOLID)
    b = dct_phash(NOISE)
    assert a != b
    assert dct_phash(NOISE) == b  # deterministic
    assert len(a) == 16  # 63 bits -> 16 hex chars


@pytest.fixture(scope="module")
def images_df(spark):
    rows = [
        (1, make_png(SOLID), None),
        (2, make_png(NOISE), None),
        (3, make_bmp(GRADIENT), None),
        (4, b"corrupt-bytes", None),
        (5, make_png(NOISE), None),  # exact dup of 2 by pixels -> same phash
        (6, make_png(SOLID), "precomputed-hash"),  # must reuse, not decode
        (7, make_png(GRADIENT.transpose(1, 0, 2).copy()), "precomputed-hash"),  # collides with 6
    ]
    df = spark.createDataFrame(rows, "id int, img binary, phash string")
    # HF-style nested struct {bytes, path}
    return df.select(
        "id", F.struct(F.col("img").alias("bytes"), F.lit("p").alias("path")).alias("image"), "phash"
    )


def test_image_metadata_refiner(spark, images_df):
    out = ImageMetadataRefiner().apply(images_df).select("id", "image_width", "image_height", "image_format", "image_file_size_bytes")
    got = {r.id: (r.image_width, r.image_height, r.image_format) for r in out.collect()}
    assert got[1] == (64, 64, "PNG")
    assert got[3] == (64, 64, "BMP")
    assert got[4] == (0, 0, "ERROR")
    sizes = {r.id: r.image_file_size_bytes for r in out.collect()}
    assert sizes[1] == len(make_png(SOLID))


def test_image_quality_refiner(spark, images_df):
    out = ImageTechnicalQualityRefiner().apply(images_df).select("id", "image_information_entropy", "image_compression_artifacts")
    got = {r.id: (r.image_information_entropy, r.image_compression_artifacts) for r in out.collect()}
    assert got[1][0] == 0.0  # solid
    assert got[2][0] > 7.5  # noise
    assert got[4] == (None, None)  # undecodable
    for v in (got[1][1], got[2][1]):
        assert v is not None and 0.0 <= v <= 1.0


def test_image_phash_dedup(spark, images_df):
    d = ImagePhashDeduplicator(id_col="id")
    survivors = {r.id for r in d.apply(images_df).collect()}
    assert 2 in survivors and 5 not in survivors  # pixel-identical pair deduped
    assert 6 in survivors and 7 not in survivors  # precomputed-hash collision respected
    assert 4 in survivors  # undecodable keys on its id, never collides
    rej = {r.id: r for r in d.rejected(images_df).select("id", "_rejection_details.*").collect()}
    assert rej[5]["representative_id"] == "2"
    assert rej[7]["representative_id"] == "6"
    assert rej[7]["dedup_key"] == "precomputed-hash"


def test_image_quality_filter_composition(spark, images_df):
    """Refine -> filter composition: the reference z_image pipeline shape."""
    from mega_data_factory_spark.operators.filters import ImageQualityFilter

    refined = ImageTechnicalQualityRefiner().apply(ImageMetadataRefiner().apply(images_df))
    kept = ImageQualityFilter(min_width=32, min_height=32, min_entropy=3.0, max_compression_artifacts=0.9).apply(
        refined
    )
    ids = {r.id for r in kept.select("id").collect()}
    assert 2 in ids  # noise: high entropy, decodable
    assert 1 not in ids  # solid: entropy 0 < 3.0
    assert 4 not in ids  # corrupt: nulls treated as failing


def test_image_feature_extractor_fused(spark, images_df):
    """The fused one-crossing stage must agree with the per-operator chain
    (same metadata/quality values, same phash) and feed the dedup with a
    precomputed phash column."""
    from mega_data_factory_spark.operators.images import ImageFeatureExtractor

    fused = ImageFeatureExtractor().apply(images_df.drop("phash"))
    unfused = ImageTechnicalQualityRefiner().apply(ImageMetadataRefiner().apply(images_df.drop("phash")))
    f = {r.id: r for r in fused.collect()}
    u = {r.id: r for r in unfused.collect()}
    for i in u:
        assert (f[i].image_width, f[i].image_height, f[i].image_format) == (
            u[i].image_width,
            u[i].image_height,
            u[i].image_format,
        )
        assert f[i].image_file_size_bytes == u[i].image_file_size_bytes
        if u[i].image_information_entropy is None:
            assert f[i].image_information_entropy is None or np.isnan(f[i].image_information_entropy)
        else:
            assert abs(f[i].image_information_entropy - u[i].image_information_entropy) < 1e-6
            assert abs(f[i].image_compression_artifacts - u[i].image_compression_artifacts) < 1e-6
    # phash matches the standalone kernel and drives the dedup without Python
    assert f[2].phash == dct_phash(NOISE) == f[5].phash
    assert f[4].phash is None
    survivors = {r.id for r in ImagePhashDeduplicator(id_col="id").apply(fused).collect()}
    assert 2 in survivors and 5 not in survivors and 4 in survivors


def test_dct_phash_matches_batch_on_flat_images():
    # one hash definition: per-image delegates to the batched kernel, so
    # flat/degenerate images (float-noise DCT coefficients) can't drift
    from mega_data_factory_spark.operators.images import batch_phash

    for img in (SOLID, NOISE, GRADIENT, np.full((64, 64, 3), 7, dtype=np.uint8)):
        assert dct_phash(img) == batch_phash(img[None, ...])[0]
    gray = NOISE[..., 0]
    assert dct_phash(gray) == batch_phash(gray[None, ..., None])[0]


def test_refiner_reapply_replaces_columns(spark, images_df):
    once = ImageMetadataRefiner().apply(images_df)
    twice = ImageMetadataRefiner().apply(once)
    assert sorted(twice.columns) == sorted(once.columns)  # no duplicate names
    # downstream reference must not be ambiguous
    assert twice.filter(F.col("image_width") == 64).count() == once.filter(F.col("image_width") == 64).count()


def test_png_sub_up_filters_roundtrip():
    """Encoder writes filter-type 1 (Sub) and 2 (Up) scanlines; the
    vectorized lane-cumsum unfilter must reconstruct exactly."""
    from mega_data_factory_spark.operators.images import decode_image as dec

    arr = GRADIENT
    h, w = arr.shape[:2]
    bpp = arr.shape[2]
    raw = bytearray()
    prev = np.zeros((w, bpp), dtype=np.int64)
    for y in range(h):
        row = arr[y].astype(np.int64)
        if y % 2 == 0:  # Sub
            filt = row.copy()
            filt[1:] = (row[1:] - row[:-1]) & 0xFF
            raw += b"\x01" + filt.astype(np.uint8).tobytes()
        else:  # Up
            raw += b"\x02" + ((row - prev) & 0xFF).astype(np.uint8).tobytes()
        prev = row

    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", zlib.crc32(tag + data))

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(dec(png), arr)


def test_phash_near_dedup_matches_bruteforce(spark):
    """Banded 64-bit hamming survivor set == brute-force python check over
    precomputed phash hexes spanning sign-bit values, near misses at the
    threshold boundary, exact copies, and undecodable (NULL) rows."""
    from mega_data_factory_spark.operators.images import ImagePhashNearDeduplicator

    def flip(hex16, *bits):
        v = int(hex16, 16)
        for b in bits:
            v ^= 1 << b
        return f"{v:016x}"

    base = "f0e1d2c3b4a59687"  # high bit set: sign-bit path exercised
    far = "0123456789abcdef"
    rows = [
        (1, base),                       # winner
        (2, flip(base, 0, 17, 33)),      # distance 3 -> dup of 1
        (3, flip(base, 63)),             # distance 1 (sign bit) -> dup of 1
        (4, flip(base, 1, 2, 3, 40)),    # distance 4 -> boundary dup (k=4)
        (5, flip(base, 50, 51, 52, 53, 54)),  # distance 5 from base, >=8 from all dups -> survives at k=4
        (6, far),                        # unrelated survivor
        (7, far),                        # exact copy -> dup of 6
        (8, None),                       # no hash: never banded, never rejected
    ]
    df = spark.createDataFrame(rows, "id long, phash string")
    d = ImagePhashNearDeduplicator(max_hamming=4, id_col="id")
    survivors = {r.id for r in d.apply(df).collect()}

    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    expect = set()
    for i, h in rows:
        if h is None:
            expect.add(i)
            continue
        if not any(hj is not None and j < i and ham(h, hj) <= 4 for j, hj in rows):
            expect.add(i)
    assert survivors == expect == {1, 5, 6, 8}
    rej = {r.id: r for r in d.rejected(df).collect()}
    assert set(rej) == {2, 3, 4, 7}
    assert all(x._rejection_details.representative_id == "1" for x in (rej[2], rej[3], rej[4]))
    assert rej[7]._rejection_details.representative_id == "6"


def test_phash_near_dedup_from_bytes(spark):
    """Without a precomputed column the signature falls back to decode+DCT:
    an exact byte copy is distance 0 and collapses."""
    from mega_data_factory_spark.operators.images import ImagePhashNearDeduplicator

    rng = np.random.default_rng(3)
    img = make_png(rng.integers(0, 255, (24, 24, 3), dtype=np.uint8))
    other = make_png(np.random.default_rng(9).integers(0, 255, (24, 24, 3), dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, img), (2, img), (3, other)], "id long, image binary"
    )
    out = {r.id for r in ImagePhashNearDeduplicator(max_hamming=2, id_col="id").apply(df).collect()}
    assert 1 in out and 2 not in out and 3 in out


def test_phash_near_dedup_single_udf_evaluation(spark):
    """The decode+DCT UDF appears exactly once per join side in the
    physical plan (inlining the hex expression three times planted three
    UDF copies — the private-binding rule, Refiner docstring)."""
    from mega_data_factory_spark.operators.images import ImagePhashNearDeduplicator

    df = spark.createDataFrame(
        [(1, make_png(SOLID)), (2, make_png(NOISE))], "id long, image binary"
    )
    pairs = ImagePhashNearDeduplicator(max_hamming=2, id_col="id")._dup_pairs(df)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    import re as _re

    for node in _re.findall(r"ArrowEvalPython \[[^\]]*\]", plan):
        assert node.count("phash_udf") == 1, node


def test_materialize_concurrent_writers_never_expose_partial_output(spark):
    """Concurrent ``_materialize`` calls of one name (the image queries run
    twice from one checkout at once): every returned path reads back every
    row. The write is staged and renamed into place; an overwrite in place
    let a reader see the other writer's empty or half-written directory
    (UNABLE_TO_INFER_SCHEMA)."""
    import os
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    from mega_data_factory_spark.plans import image_queries as Q

    name = "concurrent_materialize_probe"
    df = spark.range(200).withColumn("v", F.col("id") * 3)

    def run(_):
        reads = []
        for _ in range(3):
            path = Q._materialize(df, name)
            reads.append(sorted(r.id for r in spark.read.parquet(path).select("id").collect()))
        return path, reads

    try:
        with ThreadPoolExecutor(6) as pool:  # more writers than cores
            results = list(pool.map(run, range(6), timeout=600))
        assert {path for path, _ in results} == {os.path.join(Q._MAT_ROOT, name)}
        assert all(ids == list(range(200)) for _, reads in results for ids in reads)
        assert os.listdir(os.path.join(Q._MAT_ROOT, name)) == [Q._PART]
    finally:
        shutil.rmtree(os.path.join(Q._MAT_ROOT, name), ignore_errors=True)
