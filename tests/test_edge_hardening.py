"""Edge-input hardening for the dedup/similarity family: NULL keys, NULL
text, NULL/zero embeddings, empty inputs, short vectors, string ids —
the silent-data-loss and crash-on-valid-input cases a 100 TB corpus WILL
contain (review findings, round 6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_key_dedup_null_placement_no_collision(spark):
    """("a", NULL) vs (NULL, "a") vs ("a", "") are three DISTINCT keys
    (SQL PARTITION BY semantics); concat_ws's null-skip used to collapse
    them and drop unrelated rows as duplicates."""
    from mega_data_factory_spark.operators.dedup import KeyDeduplicator

    df = spark.createDataFrame(
        [(1, "a", None), (2, None, "a"), (3, "a", ""), (4, "a", None)],
        "id long, k1 string, k2 string",
    )
    out = KeyDeduplicator(["k1", "k2"], order_col="id", id_col="id").apply(df)
    # only the true duplicate pair (1, 4) collapses
    assert {r.id for r in out.collect()} == {1, 2, 3}
    with pytest.raises(ValueError, match="non-empty"):
        KeyDeduplicator([], order_col="id")


def test_key_dedup_null_keys_distinct_mode(spark):
    """null_keys="distinct": rows with a NULL key component carry NO
    identity — every one survives and none is rejected (the default
    window mode groups them, which for derived keys like url_canonical
    mass-drops unrelated URL-less documents as 'duplicates')."""
    from mega_data_factory_spark.operators.dedup import KeyDeduplicator

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "a"), (5, None), (6, "b")],
        "id long, k string",
    )
    # default: NULLs form one group -> 2 survives, 3/5 rejected
    grouped = KeyDeduplicator(["k"], order_col="id").apply(df)
    assert {r.id for r in grouped.collect()} == {1, 2, 6}
    # distinct: every NULL-keyed row survives; real dup still collapses
    d = KeyDeduplicator(["k"], order_col="id", null_keys="distinct")
    assert {r.id for r in d.apply(df).collect()} == {1, 2, 3, 5, 6}
    rej = d.rejected(df)
    assert {r.id for r in rej.collect()} == {4}
    # multi-column: ANY NULL component = no identity
    df2 = spark.createDataFrame(
        [(1, "a", None), (2, "a", None), (3, "a", "x"), (4, "a", "x")],
        "id long, k1 string, k2 string",
    )
    d2 = KeyDeduplicator(["k1", "k2"], order_col="id", null_keys="distinct")
    assert {r.id for r in d2.apply(df2).collect()} == {1, 2, 3}
    with pytest.raises(ValueError, match="null_keys"):
        KeyDeduplicator(["k"], order_col="id", null_keys="skip")


def test_incremental_key_dedup_null_keys_distinct(spark, tmp_path):
    """Store-backed variant: NULL-keyed rows are exempt in-batch, never
    appended to the store, and never matched by it on later runs."""
    from mega_data_factory_spark.operators.dedup import IncrementalKeyDeduplicator

    store = str(tmp_path / "store")
    d = IncrementalKeyDeduplicator(store, ["k"], id_col="id", null_keys="distinct")
    b1 = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "a")], "id long, k string"
    )
    out1 = d.apply(b1)
    assert {r.id for r in out1.collect()} == {1, 2, 3}
    d.update_store(out1, survivors=True)
    # the store remembers only the real key "a" — no synthetic NULL keys
    stored = {r.content_key for r in spark.read.parquet(store).collect()}
    assert stored == {"a"}
    # batch 2 replays id=2 (still NULL key) plus new NULL rows: all survive;
    # the known key is rejected with the STORED representative
    d2 = IncrementalKeyDeduplicator(store, ["k"], id_col="id", null_keys="distinct")
    b2 = spark.createDataFrame(
        [(2, None), (7, None), (8, "a")], "id long, k string"
    )
    assert {r.id for r in d2.apply(b2).collect()} == {2, 7}
    rej = d2.rejected(b2).collect()
    assert [r.id for r in rej] == [8]


def test_simhash_null_text_rows_never_collide(spark):
    """All-NULL-text rows (failed extractions) must each survive exact
    simhash dedup — NULL signatures used to form ONE window group."""
    from mega_data_factory_spark.operators.dedup import SimHashDeduplicator

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, "real text here"), (5, "real text here")],
        "doc_id long, text string",
    )
    out = SimHashDeduplicator(id_col="doc_id").apply(df)
    assert {r.doc_id for r in out.collect()} == {1, 2, 3, 4}  # only the real dup drops


def test_embedding_cosine_empty_and_string_ids(spark):
    from mega_data_factory_spark.operators.dedup import EmbeddingCosineDeduplicator

    d = EmbeddingCosineDeduplicator(threshold=0.99, id_col="doc_id", vec_col="v")
    # empty input: no AxisError, empty output
    empty = spark.createDataFrame([], "doc_id long, v array<float>")
    assert d.apply(empty).count() == 0
    # all-NULL vectors: nothing comparable, everything survives
    nulls = spark.createDataFrame([(1, None), (2, None)], "doc_id long, v array<float>")
    assert d.apply(nulls).count() == 2
    # string ids through the numpy broadcast path (min-id rule = lexicographic)
    rows = [("a", [1.0, 0.0]), ("b", [1.0, 0.0]), ("c", [0.0, 1.0])]
    sdf = spark.createDataFrame(rows, "doc_id string, v array<float>")
    out = d.apply(sdf)
    assert {r.doc_id for r in out.collect()} == {"a", "c"}
    rej = d.rejected(sdf)
    assert [(r.doc_id, r["_rejection_details"]["representative_id"]) for r in rej.collect()] == [("b", "a")]


def test_semantic_dedup_null_embeddings_survive(spark):
    from mega_data_factory_spark.operators.clustering import SemanticDeduplicator

    rows = [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, None), (4, [0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<float>")
    d = SemanticDeduplicator(threshold=0.99, k=2, id_col="doc_id")
    out = d.apply(df)
    # the exact dup (2) drops; NULL and zero-norm rows pass through
    assert {r.doc_id for r in out.collect()} == {1, 3, 4}
    # fully empty-after-filter input: no k-means fit, no crash
    only_bad = spark.createDataFrame([(7, None)], "doc_id long, embedding array<float>")
    assert d.apply(only_bad).count() == 1


def test_rplsh_short_vectors_clamped(spark):
    """Default bits=8/stride=32 on 16-dim vectors used to read past the
    array end (ANSI throw / silent bucket collapse); the clamp keeps every
    bucket expression in range and query/table agree on the clamp."""
    from mega_data_factory_spark.operators.similarity import RandomProjectionLSH

    rows = [(i, [float((i >> b) & 1) for b in range(16)]) for i in range(32)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lsh = RandomProjectionLSH(k=3)
    with pytest.warns(UserWarning, match="clamped"):
        bucketed = lsh.with_bucket(df)
    n_buckets = bucketed.select("bucket").distinct().count()
    assert n_buckets > 1  # not collapsed
    q = df.filter(F.col("vec_id") == 5).select(F.col("embedding").alias("qv"))
    with pytest.warns(UserWarning, match="clamped"):
        top = lsh.topk(df, q).collect()
    assert top and top[0].vec_id == 5  # the vector itself is its bucket's best match
    with pytest.raises(ValueError, match="sign-bucket"):
        lsh.with_bucket(spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<float>"))


def test_minhash_hash_family_bound(spark):
    from mega_data_factory_spark.operators.dedup import MinHashLSHDeduplicator

    with pytest.raises(ValueError, match="universal-hash family"):
        MinHashLSHDeduplicator(num_hashes=32, bands=8)


def test_text_exact_url_mode_null_text_fallback(spark):
    """url_col mode: NULL-text rows sharing a url must NOT collide — the
    id fallback fires because concat (unlike concat_ws) propagates NULL."""
    from mega_data_factory_spark.operators.dedup import TextExactDeduplicator

    df = spark.createDataFrame(
        [
            (1, "http://a.com", None),
            (2, "http://a.com", None),
            (3, "http://a.com", "same words"),
            (4, "http://a.com", "same words"),
        ],
        "doc_id long, url string, text string",
    )
    out = TextExactDeduplicator(url_col="url", id_col="doc_id").apply(df)
    assert {r.doc_id for r in out.collect()} == {1, 2, 3}


def test_sampler_and_splitter_decorrelated(spark):
    """Composing WeightedSourceSampler then DatasetSplitRefiner with
    DEFAULTS must fill every split: a shared hash salt made survivors of a
    0.3-weight source land 100% in train (val/test empty, verified before
    the distinct per-operator default salts)."""
    from mega_data_factory_spark.operators.sampling import (
        DatasetSplitRefiner,
        WeightedSourceSampler,
    )

    df = spark.range(20_000).selectExpr("id AS doc_id", "'cc' AS source")
    sampled = WeightedSourceSampler({"cc": 0.3}, id_col="doc_id").apply(df)
    labeled = DatasetSplitRefiner(id_col="doc_id").apply(sampled)
    counts = {r["split"]: r["n"] for r in labeled.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts.get("val", 0) > 0 and counts.get("test", 0) > 0, counts
    # ratios roughly hold among survivors
    total = sum(counts.values())
    assert counts["train"] / total > 0.8


def test_split_null_id_gets_null_split(spark):
    """NULL ids carry no stable identity: they must get a NULL split, not
    silently pile into the last declared split (eval contamination)."""
    from mega_data_factory_spark.operators.sampling import DatasetSplitRefiner

    df = spark.createDataFrame([(1,), (None,)], "doc_id long")
    rows = {r.doc_id: r["split"] for r in DatasetSplitRefiner(id_col="doc_id").apply(df).collect()}
    assert rows[None] is None and rows[1] in {"train", "val", "test"}


def test_profiler_low_cardinality_percentiles(spark):
    """Sketch-mode percentile sampling must be ROW-independent: a 4-value
    status column used to sample whole VALUES (often all of them out),
    yielding NULL or single-value percentiles."""
    from mega_data_factory_spark.operators.profiling import ColumnProfiler

    df = spark.range(10_000).selectExpr("CAST(element_at(array(200, 301, 404, 500), CAST(id % 4 + 1 AS INT)) AS LONG) AS status")
    prof = ColumnProfiler(["status"]).profile(df)
    pcts = {r.stat: r.value for r in prof.collect() if r.stat.startswith("p")}
    assert pcts["p25"] is not None and pcts["p75"] is not None
    assert 200 <= pcts["p25"] <= pcts["p50"] <= pcts["p75"] <= 500
    assert pcts["p25"] != pcts["p75"]  # not collapsed onto one sampled value
    # fractional percentile labels do not truncate/collide
    prof2 = ColumnProfiler(["status"], percentiles=(0.99, 0.999)).profile(df)
    stats = {r.stat for r in prof2.collect()}
    assert "p99" in stats and "p99.9" in stats


def test_phash_dedup_on_pruned_bytes_frame(spark):
    """A frame that kept only the precomputed phash (bytes column pruned —
    the module's advertised pattern) must dedup without referencing the
    missing binary column."""
    from mega_data_factory_spark.operators.images import ImagePhashDeduplicator

    df = spark.createDataFrame(
        [(1, "aabb"), (2, "aabb"), (3, "ccdd"), (4, None)],
        "id long, phash string",
    )
    out = ImagePhashDeduplicator(id_col="id").apply(df)
    # exact-hash dup drops; the NULL-phash row keys on its id and survives
    assert {r.id for r in out.collect()} == {1, 3, 4}


def test_warc_parser_skips_corrupt_records():
    """One corrupt record (bad Content-Length) or a truncated gzip file
    must not raise — the remaining records still parse."""
    from mega_data_factory_spark.sources.warc import parse_warc_bytes

    html = b"<html><title>T</title><body>" + b"word " * 40 + b"</body></html>"
    good = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://ok.com\r\n"
        b"Content-Length: " + str(len(html) + 40).encode() + b"\r\n\r\n"
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html + b"\r\n\r\n"
    )
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://bad.com\r\n"
        b"Content-Length: 12a3\r\n\r\njunk\r\n\r\n"
    )
    rows = list(parse_warc_bytes(bad + good, "f.warc", "c1"))
    assert [r["url"] for r in rows] == ["http://ok.com"]
    # truncated gzip: skipped wholesale, no EOFError
    import gzip

    truncated = gzip.compress(good)[:-10]
    assert list(parse_warc_bytes(truncated, "f.warc.gz", "c1")) == []


def test_url_filter_survives_malformed_urls(spark):
    """ANSI parse_url throws INVALID_URL on malformed URLs — one bad crawl
    URL must not abort the job, and an unparsable host is NOT blocklisted
    (kept, the documented no-domain semantics)."""
    from mega_data_factory_spark.operators.filters import UrlFilter

    df = spark.createDataFrame(
        [
            (1, "http://exa mple.com/x"),     # space -> INVALID_URL under parse_url
            (2, "http://spam.com/offer"),
            (3, "http:///pathonly"),           # parses, NULL host
            (4, "http://ok.org/page"),
        ],
        "doc_id long, url string",
    )
    out = UrlFilter(blocked_domains=["spam.com"]).apply(df)
    assert {r.doc_id for r in out.collect()} == {1, 3, 4}


def test_word_occurrences_escapes_metacharacters(spark):
    from mega_data_factory_spark.functions.text import word_occurrences_sql

    df = spark.createDataFrame([("aXb text a.b end",)], "text string")
    n = df.selectExpr(f"{word_occurrences_sql('`text`', 'a.b')} AS n").first()["n"]
    assert n == 1  # literal 'a.b' only — the dot must not match 'aXb'


def test_pipeline_materializes_derived_refiner_columns(spark):
    """Pipeline routes Refiners through ``tag``; threshold columns that
    derive from UDF scores (image_is_aigc, img_vd_overall_quality) read the
    private UDF binding by name in the SQL text and must exist on the
    pipeline path."""
    from mega_data_factory_spark.config import PipelineConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline

    spark.createDataFrame(
        [(1, [0.1] * 64), (2, None)], "id long, image_emb array<float>"
    ).createOrReplaceTempView("aigc_src")
    cfg = PipelineConfig.from_dict(
        {
            "pipeline": {
                "name": "aigc",
                "id_col": "id",
                "source": {"table": "aigc_src"},
                "stages": [{"name": "s", "operators": [
                    {"name": "AigcDetectorRefiner"},
                    {"name": "VisualDegradationsRefiner"},
                ]}],
            }
        }
    )
    out = Pipeline(cfg).build(spark)
    try:
        cols = set(out.columns)
        assert {"image_aigc_score", "image_is_aigc", "img_vd_overall_quality"} <= cols
        row = out.filter(F.col("id") == 1).first()
        assert row["image_is_aigc"] == (row["image_aigc_score"] > 0.5)
        assert abs(
            row["img_vd_overall_quality"]
            - (1.0 - (0.2 * row["img_vd_color_cast"] + 0.3 * row["img_vd_blurriness"]
                      + 0.25 * row["img_vd_watermark"] + 0.25 * row["img_vd_noise"]))
        ) < 1e-6
    finally:
        Pipeline(cfg).release_intermediates()


def test_resize_grayscale_emits_rgb_bytes(spark):
    """1-channel decodes must expand to the promised RGB layout (w*h*3
    bytes) — a stride-w*3 consumer would misread 1-channel output."""
    import numpy as np

    from mega_data_factory_spark.operators.multimodal import ImageResizeRefiner
    from tests.test_images import make_png

    gray = np.full((8, 8, 1), 128, np.uint8)  # grayscale PNG decodes (h, w, 1)
    df = spark.createDataFrame([(1, bytearray(make_png(gray)))], "id long, image binary")
    r = ImageResizeRefiner(4, 4).apply(df).select("image_resized.*").first()
    assert len(r["bytes"]) == 4 * 4 * 3 and (r["width"], r["height"]) == (4, 4)


def test_cosine_query_udf_ragged_vectors_null(spark):
    from mega_data_factory_spark.functions.vectors import cosine_to_query_udf

    cos = cosine_to_query_udf([1.0, 0.0, 0.0])
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0]), (3, None)], "id long, v array<float>"
    )
    got = {r.id: r.c for r in df.select("id", cos(F.col("v")).alias("c")).collect()}
    assert got[1] == 1.0 and got[2] is None and got[3] is None


def test_gray_alpha_excludes_alpha_channel():
    """Gray+alpha decodes (PNG color type 4): alpha is NOT a color plane —
    averaging it corrupted luminance/entropy/phash vs the PIL path."""
    import numpy as np

    from mega_data_factory_spark.operators.images import _batch_gray, batch_entropy

    gray = np.full((1, 4, 4, 1), 100, np.uint8)
    ga = np.concatenate([gray, np.full((1, 4, 4, 1), 255, np.uint8)], axis=3)
    assert np.array_equal(_batch_gray(ga), gray[..., 0].astype(np.float64))
    assert batch_entropy(ga) == batch_entropy(gray)


def test_rejected_sink_carries_run_id(spark, tmp_path):
    """The rejected sink is append-mode; run provenance lets the report
    scope its sample tables to one run on a shared path."""
    from mega_data_factory_spark.config import PipelineConfig, SinkConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline

    spark.createDataFrame([(1, 0.1), (2, 5.0)], "event_id long, value double").createOrReplaceTempView(
        "runid_src"
    )
    cfg = PipelineConfig.from_dict(
        {
            "pipeline": {
                "name": "runid",
                "id_col": "event_id",
                "source": {"table": "runid_src"},
                "stages": [{"name": "s", "operators": [
                    {"name": "NumericRangeFilter", "params": {"column": "value", "lo": 1.0}},
                ]}],
            }
        }
    )
    cfg.sink = SinkConfig(path=str(tmp_path / "out"))
    cfg.rejected_sink = SinkConfig(path=str(tmp_path / "rej"))
    res = Pipeline(cfg).run(spark)
    rej = spark.read.parquet(str(tmp_path / "rej"))
    assert [r.run_id for r in rej.collect()] == [res.run_id]


def test_pipeline_key_dedup_respects_null_keys_distinct(spark, tmp_path):
    """The PIPELINE tagging path must honor null_keys='distinct' too: it
    builds the window key itself (Deduplicator.tag), and using the raw key
    instead of op._effective_key() silently collapsed every NULL-key row
    into one window partition — all but one URL-less document in the
    corpus rejected as 'duplicates'."""
    from mega_data_factory_spark.config import PipelineConfig, SinkConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "a"), (5, None), (6, "b")],
        "doc_id long, k string",
    ).write.parquet(src)
    cfg = PipelineConfig.from_dict(
        {
            "pipeline": {
                "name": "p",
                "id_col": "doc_id",
                "source": {"path": src},
                "operators": [
                    {
                        "name": "KeyDeduplicator",
                        "params": {"key_cols": ["k"], "order_col": "doc_id", "null_keys": "distinct"},
                    }
                ],
            }
        }
    )
    cfg.sink = SinkConfig(path=str(tmp_path / "out"), mode="overwrite")
    cfg.rejected_sink = SinkConfig(path=str(tmp_path / "rej"), mode="overwrite")
    result = Pipeline(cfg).run(spark)
    passed = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert passed == {1, 2, 3, 5, 6}
    assert result.output_records == 5


def test_wrong_schema_store_raises_not_empty(spark, tmp_path):
    """A store directory with the WRONG schema must raise, not silently
    read as first-run-empty (which would re-admit every historical
    duplicate and corrupt the store with mixed-schema appends)."""
    from pyspark.errors import AnalysisException

    from mega_data_factory_spark.operators.dedup import (
        IncrementalExactDeduplicator,
        IncrementalMinHashDeduplicator,
    )

    exact_store = str(tmp_path / "exact")
    band_store = str(tmp_path / "bands")
    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    IncrementalExactDeduplicator(store_path=exact_store).update_store(df)
    IncrementalMinHashDeduplicator(store_path=band_store).update_store(df)
    # point each at the OTHER's store: schema mismatch must surface
    with pytest.raises(AnalysisException):
        IncrementalExactDeduplicator(store_path=band_store).apply(df).count()
    with pytest.raises(AnalysisException):
        IncrementalMinHashDeduplicator(store_path=exact_store).apply(df).count()


def test_simhash_near_ignores_null_text(spark):
    """NULL/empty-text rows have NULL signatures: they must not enter the
    banded self-join (all of them would share band keys '0'..'k-1',
    an O(n_null^2 x bands) blow-up filtered to nothing) — and they all
    survive (no evidence)."""
    from mega_data_factory_spark.operators.dedup import SimHashNearDeduplicator

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, None), (4, None), (5, None)],
        "doc_id long, text string",
    )
    d = SimHashNearDeduplicator(max_hamming=3)
    assert {r.doc_id for r in d.apply(df).collect()} == {1, 3, 4, 5}
    # the pairs plan contains no NULL-signature rows at all
    pairs = d._dup_pairs(df)
    assert pairs.count() == 1


def test_embedding_dedup_mixed_dims_survive(spark):
    """Mixed embedding dims (old-refiner shards beside current ones) must
    not crash the block matmul with a ragged np.array: the modal dim is
    deduped, minority-dim rows survive with a warning."""
    import warnings as _warnings

    from mega_data_factory_spark.operators.dedup import EmbeddingCosineDeduplicator

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0]),
         (4, [1.0, 0.0]), (5, [1.0, 0.0])],  # minority dim: survive, even as exact copies
        "vec_id long, embedding array<double>",
    )
    d = EmbeddingCosineDeduplicator(threshold=0.95)
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        out = {r.vec_id for r in d.apply(df).collect()}
    assert out == {1, 3, 4, 5}
    assert any("mixed embedding dims" in str(x.message) for x in w)


def test_semantic_decontamination_dim_contracts(spark):
    """Mixed-dim BENCHMARK fails loud (two embedding models in one
    benchmark = silent misses otherwise); wrong-dim TRAINING rows survive
    (no comparable evidence against this benchmark)."""
    from mega_data_factory_spark.operators.dedup import SemanticDecontaminationFilter

    bench_mixed = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0, 0.0])], "bench_id long, embedding array<double>"
    )
    train = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, [1.0, 0.0])], "doc_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="mixes embedding dims"):
        SemanticDecontaminationFilter(bench_mixed, benchmark_id_col="bench_id").apply(train).count()
    bench = bench_mixed.filter("bench_id = 2")  # 3-dim only
    d = SemanticDecontaminationFilter(bench, threshold=0.9, benchmark_id_col="bench_id")
    # 10 is an exact copy (cut); 11 is 2-dim (no comparable evidence: survives)
    assert {r.doc_id for r in d.apply(train).collect()} == {11}


def test_minhash_bands_guard_is_valueerror(spark):
    from mega_data_factory_spark.operators.dedup import MinHashLSHDeduplicator

    with pytest.raises(ValueError, match="divide"):
        MinHashLSHDeduplicator(num_hashes=16, bands=5)


def test_null_order_rows_always_survive(spark):
    """A NULL order_col row has no position: it must survive in every
    mode and never become a representative (it used to WIN every
    NULLS FIRST window partition it shared)."""
    from mega_data_factory_spark.operators.dedup import KeyDeduplicator

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (None, "a"), (None, "b"), (3, None)],
        "id long, k string",
    )
    d = KeyDeduplicator(["k"], order_col="id")
    out = {(r.id, r.k) for r in d.apply(df).collect()}
    # id=1 wins group a (not the NULL-order row); NULL-order rows survive
    assert out == {(1, "a"), (None, "a"), (None, "b"), (3, None)}
    rej = {(r.id, r.k) for r in d.rejected(df).collect()}
    assert rej == {(2, "a")}


def test_resume_manifest_not_marked_on_truncated_or_auditonly_runs(spark, tmp_path):
    """mark_processed must NOT fire when max_samples truncated the read or
    when only a rejected sink landed — both would permanently skip
    unshipped records on the next real run."""
    import json
    import os

    from mega_data_factory_spark.config import PipelineConfig, SinkConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline

    src = str(tmp_path / "src")
    spark.createDataFrame([(i, "x" * 200) for i in range(100)], "doc_id long, text string").write.parquet(src)

    def base_cfg(manifest):
        return {
            "pipeline": {
                "name": "p",
                "id_col": "doc_id",
                "source": {"path": src, "resume_manifest": manifest},
                "operators": [{"name": "TextLengthFilter", "params": {"min_length": 1}}],
            }
        }

    def processed(manifest):
        if not os.path.exists(manifest):
            return 0
        with open(manifest) as f:
            return sum(1 for _ in f)

    # truncated read: files must stay pending
    m1 = str(tmp_path / "m1.jsonl")
    c = PipelineConfig.from_dict(base_cfg(m1))
    c.max_samples = 10
    c.sink = SinkConfig(path=str(tmp_path / "o1"), mode="overwrite")
    Pipeline(c).run(spark)
    assert processed(m1) == 0

    # rejected-sink-only audit: files must stay pending
    m2 = str(tmp_path / "m2.jsonl")
    c2 = PipelineConfig.from_dict(base_cfg(m2))
    c2.rejected_sink = SinkConfig(path=str(tmp_path / "o2"), mode="overwrite")
    Pipeline(c2).run(spark)
    assert processed(m2) == 0

    # full run with a passed sink: files checkpoint
    m3 = str(tmp_path / "m3.jsonl")
    c3 = PipelineConfig.from_dict(base_cfg(m3))
    c3.sink = SinkConfig(path=str(tmp_path / "o3"), mode="overwrite")
    Pipeline(c3).run(spark)
    assert processed(m3) > 0


def test_pretagged_input_metrics(spark, tmp_path):
    """Rows arriving ALREADY tagged (chained recipes) must not inflate
    output_records: they count in the input but in no operator's
    rejections."""
    from mega_data_factory_spark.config import PipelineConfig, SinkConfig
    from mega_data_factory_spark.operators.base import REJECTION_STRUCT_DDL
    from mega_data_factory_spark.plans.pipeline import Pipeline
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(1, "x" * 200, "earlier_op"), (2, "x" * 200, None), (3, "y", None)],
        "doc_id long, text string, pre string",
    ).withColumn(
        "_rejection_details",
        F.when(
            F.col("pre").isNotNull(),
            F.expr("named_struct('reason', 'filtered', 'operator', pre, 'dedup_key', NULL, 'representative_id', NULL)").cast(REJECTION_STRUCT_DDL),
        ),
    ).drop("pre")
    df.write.parquet(src)
    cfg = PipelineConfig.from_dict(
        {
            "pipeline": {
                "name": "p",
                "id_col": "doc_id",
                "source": {"path": src},
                "operators": [{"name": "TextLengthFilter", "params": {"min_length": 100}}],
            }
        }
    )
    cfg.sink = SinkConfig(path=str(tmp_path / "out"), mode="overwrite")
    result = Pipeline(cfg).run(spark)
    written = spark.read.parquet(str(tmp_path / "out")).count()
    assert result.input_records == 3
    assert result.output_records == written == 1  # doc 2 only
    # the funnel starts from the 2 rows this run could pass
    assert result.operators[0].input_records == 2
    assert result.operators[0].output_records == 1


def test_wide_payload_null_key_duplicates_are_rejected(spark):
    """Standalone window path: NULL keys form ONE group (default mode) and
    their duplicates must appear in rejected() — an equi-join on the key
    would silently lose them (NULL never equi-joins)."""
    from mega_data_factory_spark.operators.dedup import KeyDeduplicator

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "a")], "id long, k string"
    )
    d = KeyDeduplicator(["k"], order_col="id")
    assert {r.id for r in d.apply(df).collect()} == {1, 3}
    assert {r.id for r in d.rejected(df).collect()} == {2}


def test_pipeline_fused_key_dedup_null_semantics(spark, tmp_path):
    """The round-7 fused pipeline key-dedup (one projection, window exprs
    inline — no temp columns) preserves every NULL contract through the
    config path: null_keys='distinct' exempts NULL-key rows, a NULL
    order_col row has no position and always survives, a DEAD same-key row
    never wins a window over alive rows, and the representative
    attribution carries the winner id."""
    from mega_data_factory_spark.config import PipelineConfig, SinkConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline

    rows = [
        (1, "a", 10, 50), (2, None, 20, 60), (3, None, 30, 70), (4, "a", 40, 80),
        (5, "b", None, 90), (6, "b", 60, 95), (7, "b", 5, 5),
    ]
    spark.createDataFrame(rows, "id long, k string, ord long, n long").createOrReplaceTempView("fkd_in")
    cfg = PipelineConfig.from_dict(
        {
            "pipeline": {
                "name": "fkd", "id_col": "id", "source": {"table": "fkd_in"},
                "stages": [{"name": "s", "operators": [
                    {"name": "NumericRangeFilter", "params": {"column": "n", "lo": 10}},
                    {"name": "KeyDeduplicator",
                     "params": {"key_cols": ["k"], "order_col": "ord", "id_col": "id", "null_keys": "distinct"}},
                ]}],
            }
        }
    )
    cfg.sink = SinkConfig(path=str(tmp_path / "out"))
    cfg.rejected_sink = SinkConfig(path=str(tmp_path / "rej"))
    Pipeline(cfg).run(spark)
    out = {r.id for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    rej = spark.read.parquet(str(tmp_path / "rej"))
    # 7 is dead (filter): its ord=5 must NOT win the 'b' window; 5's NULL
    # ord has no position (always survives); 2/3 NULL-key exempt; 4 dups 1
    assert out == {1, 2, 3, 5, 6}
    assert {(r.id, r.operator) for r in rej.select("id", "operator").collect()} == {
        (7, "NumericRangeFilter"), (4, "KeyDeduplicator"),
    }
    assert rej.filter("id = 4").first()["_rejection_details"]["representative_id"] == "1"


def test_struct_field_and_backtick_column_names(spark, tmp_path):
    """An operator's column parameter is read the way F.col reads it:
    ``meta.text`` is the ``text`` field of struct ``meta``, and
    ```te``xt``` — or the raw ``te`xt``, which F.col rejects — the column
    named te`xt. Every SQL-authored operator resolves both, standalone and
    through Pipeline.run, with the values it gives over a plain ``text``
    column."""
    from mega_data_factory_spark.config import PipelineConfig, SinkConfig
    from mega_data_factory_spark.operators import dedup as D
    from mega_data_factory_spark.operators import filters as Fi
    from mega_data_factory_spark.operators import refiners as R
    from mega_data_factory_spark.plans.pipeline import Pipeline

    texts = [
        "The cat sat. The cat sat.\nThe cat sat. The cat sat.",
        "the CAT  sat. the cat sat.\nThe cat sat. The cat sat.",
        None,
        "der die und das el la",
        "word " * 30,
        "",
    ]
    base = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    df = base.selectExpr("doc_id", "text", "named_struct('text', text) AS meta", "text AS `te``xt`")
    df.createOrReplaceTempView("names_in")
    names = ["text", "meta.text", "`te``xt`", "te`xt"]

    def ops(col):
        return [
            ("TextStatsRefiner", {"text_col": col}),
            ("LanguageIdRefiner", {"text_col": col}),
            ("QualityScoreRefiner", {"text_col": col}),
            ("GopherQualityRefiner", {"text_col": col}),
            ("RepetitionStatsRefiner", {"text_col": col}),
            ("IntraDocDedupRefiner", {"text_col": col}),
            ("TextLengthFilter", {"min_length": 10, "max_length": 200, "text_col": col}),
            ("TextExactDeduplicator", {"text_col": col, "id_col": "doc_id"}),
            ("KeyDeduplicator", {"key_cols": [col], "order_col": "doc_id"}),
        ]

    def rows(frame):
        return sorted(tuple(str(v) for v in r) for r in frame.collect())

    classes = {**vars(R), **vars(Fi), **vars(D)}
    standalone = {n: [rows(classes[k](**p).apply(df)) for k, p in ops(n)] for n in names}
    for n in names[1:]:
        assert standalone[n] == standalone["text"], n

    runs = {}
    for i, n in enumerate(names[:3]):
        cfg = PipelineConfig.from_dict(
            {
                "pipeline": {
                    "name": "names", "id_col": "doc_id", "source": {"table": "names_in"},
                    "stages": [{"name": "s", "operators": [{"name": k, "params": p} for k, p in ops(n)]}],
                }
            }
        )
        cfg.sink = SinkConfig(path=str(tmp_path / f"out{i}"))
        cfg.rejected_sink = SinkConfig(path=str(tmp_path / f"rej{i}"))
        result = Pipeline(cfg).run(spark)
        funnel = [(m.operator, m.input_records, m.output_records) for m in result.operators]
        runs[n] = (funnel, rows(spark.read.parquet(str(tmp_path / f"out{i}"))))
    assert runs["meta.text"] == runs["text"]
    assert runs["`te``xt`"] == runs["text"]
    assert runs["text"][0][-1][2] < len(texts)  # the chain rejects something
