"""Multimodal model-refiner tests: embedding plumbing, head scoring with
column reuse, resize, video frame-sample plumbing — structural parity with
the reference's ML operators (stub weights, real glue)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mega_data_factory_spark.operators.multimodal import (
    AestheticScoreRefiner,
    AigcDetectorRefiner,
    ImageEmbeddingRefiner,
    ImageResizeRefiner,
    VideoFrameSampleRefiner,
)
from tests.test_images import GRADIENT, NOISE, SOLID, make_bmp, make_png


@pytest.fixture(scope="module")
def imgs(spark):
    rows = [
        (1, make_png(SOLID)),
        (2, make_png(NOISE)),
        (3, make_bmp(GRADIENT)),
        (4, b"corrupt"),
    ]
    return spark.createDataFrame(rows, "id int, image binary")


def test_embedding_contract(spark, imgs):
    out = ImageEmbeddingRefiner(dim=64).apply(imgs).select("id", "image_emb").collect()
    embs = {r.id: np.array(r.image_emb) for r in out}
    for i in (1, 2, 3):
        assert embs[i].shape == (64,)
        assert abs(np.linalg.norm(embs[i]) - 1.0) < 1e-5  # L2-normalized
    assert np.allclose(embs[4], 0.0)  # failure default: zero vector
    # deterministic: same input -> identical embedding
    again = {r.id: np.array(r.image_emb) for r in ImageEmbeddingRefiner(dim=64).apply(imgs).collect()}
    assert np.array_equal(embs[2], again[2])
    # different content -> different embedding
    assert not np.allclose(embs[1], embs[2])


def test_head_scores_reuse_embedding_column(spark, imgs):
    """Aesthetic + AIGC heads consume the PRECOMPUTED embedding column —
    the reference's column-reuse pattern (no image re-encode)."""
    with_emb = ImageEmbeddingRefiner(dim=64).apply(imgs)
    scored = AigcDetectorRefiner(dim=64).apply(AestheticScoreRefiner(dim=64).apply(with_emb))
    rows = {r.id: r for r in scored.select("id", "image_aesthetic_score", "image_aigc_score", "image_is_aigc").collect()}
    for i in (1, 2, 3):
        assert 1.0 <= rows[i].image_aesthetic_score <= 10.0
        assert 0.0 <= rows[i].image_aigc_score <= 1.0
        assert rows[i].image_is_aigc == (rows[i].image_aigc_score > 0.5)
    # wrong-dim / missing embedding -> defaults (reference :176-187)
    bad = spark.createDataFrame([(9, [0.1, 0.2]), (10, None)], "id int, image_emb array<float>")
    out = {r.id: r for r in AestheticScoreRefiner(dim=64).apply(bad).collect()}
    assert out[9].image_aesthetic_score == 0.0 and out[10].image_aesthetic_score == 0.0


def test_resize(spark, imgs):
    out = {r.id: r.image_resized for r in ImageResizeRefiner(16, 16).apply(imgs).collect()}
    assert out[1].width == 16 and out[1].height == 16
    assert len(out[1].bytes) == 16 * 16 * 3
    # solid image stays solid after area-mean resize
    assert set(bytes(out[1].bytes)) == {128}
    assert out[4] is None or out[4].bytes is None  # corrupt -> nulls


def test_video_frame_sampling_plumbing(spark):
    fake = b"FAKEVID" + bytes([25]) + bytes(range(100))  # 25 frames x 4 bytes
    mp4 = b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 16  # real container, no decoder
    df = spark.createDataFrame([(1, fake), (2, mp4), (3, None)], "id int, video binary")
    out = {r.id: r.video_frames for r in VideoFrameSampleRefiner(every_n=10).apply(df).collect()}
    frames = out[1]
    assert [f.frame_index for f in frames] == [0, 10, 20]
    assert [f.timestamp_ms for f in frames] == [0, 400, 800]
    assert frames[1].frame_bytes == bytes(range(40, 44)).hex()
    assert out[2] is None  # real container -> NotImplementedError -> NULL (stub documented)
    assert out[3] is None
    assert VideoFrameSampleRefiner.sniff_container(mp4) == "MP4"


def test_visual_degradations_heads(spark, imgs):
    """Four degradation scores in (0,1) + overall = 1 - weighted sum
    (reference trainer.py:276-280); NULL heads on missing embedding."""
    from mega_data_factory_spark.operators.multimodal import VisualDegradationsRefiner

    emb = ImageEmbeddingRefiner(dim=64).apply(imgs)
    out = VisualDegradationsRefiner(dim=64).apply(emb)
    rows = {r.id: r for r in out.collect()}
    w = VisualDegradationsRefiner.WEIGHTS
    for i in (1, 2, 3):
        r = rows[i]
        scores = {k: getattr(r, f"img_vd_{k}") for k in w}
        assert all(0.0 < v < 1.0 for v in scores.values()), scores
        expect = 1.0 - sum(scores[k] * wt for k, wt in w.items())
        assert abs(r.img_vd_overall_quality - expect) < 1e-5
    # corrupt image -> zero-vector embedding is still dim-valid; missing emb -> NULLs
    bad = spark.createDataFrame([(9, None)], "id int, image_emb array<float>")
    br = VisualDegradationsRefiner(dim=64).apply(bad).collect()[0]
    assert br.img_vd_color_cast is None and br.img_vd_overall_quality is None


def test_audio_metadata_wav_headers(spark):
    """RIFF/WAVE header decode: real parse of synthesized WAV bytes;
    non-WAV bytes -> ERROR defaults (reference image_metadata.py error
    contract applied to audio)."""
    import struct

    from mega_data_factory_spark.operators.multimodal import AudioMetadataRefiner

    def wav(rate, ch, bits, n_frames):
        data_size = n_frames * ch * (bits // 8)
        hdr = b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
        fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, rate, rate * ch * bits // 8, ch * bits // 8, bits)
        return hdr + fmt + b"data" + struct.pack("<I", data_size) + b"\x00" * data_size

    rows = [
        (1, wav(16000, 1, 16, 16000)),   # 1.0 s mono
        (2, wav(44100, 2, 16, 88200)),   # 2.0 s stereo
        (3, b"not audio at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id int, audio binary")
    out = {r.id: r for r in AudioMetadataRefiner().apply(df).collect()}
    assert (out[1].audio_sample_rate, out[1].audio_channels, out[1].audio_bits) == (16000, 1, 16)
    assert abs(out[1].audio_duration_sec - 1.0) < 1e-6
    assert (out[2].audio_sample_rate, out[2].audio_channels) == (44100, 2)
    assert abs(out[2].audio_duration_sec - 2.0) < 1e-6
    assert out[1].audio_format == out[2].audio_format == "WAV"
    assert out[3].audio_format == "ERROR" and out[3].audio_sample_rate == 0
    assert out[4].audio_format == "ERROR"


def _pcm16_wav(samples, rate, ch=1):
    """Pack a float [-1,1] numpy signal as a 16-bit PCM WAV blob."""
    import struct

    import numpy as np

    pcm = (np.clip(samples, -1.0, 1.0) * 32767.0).astype("<i2").tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, rate, rate * ch * 2, ch * 2, 16)
    return hdr + fmt + b"data" + struct.pack("<I", len(pcm)) + pcm


def test_audio_spectral_features(spark):
    """Real DSP, pinned to physics: a 440 Hz tone's spectral centroid and
    half its zero-crossing rate both land on 440 Hz and its flatness is
    ~0; white noise has flatness near 1 and centroid ~ rate/4; a clipped
    tone trips clip_ratio; digital silence has silence_ratio 1 with NULL
    spectral stats; undecodable rows are all-NULL, never a crash."""
    import numpy as np

    from mega_data_factory_spark.operators.multimodal import AudioSpectralFeaturesRefiner

    rate = 16000
    t = np.arange(rate * 2) / rate  # 2 s
    tone = 0.5 * np.sin(2 * np.pi * 440.0 * t)
    rng = np.random.default_rng(7)
    noise = 0.3 * rng.standard_normal(rate * 2).clip(-1, 1)
    rows = [
        (1, _pcm16_wav(tone, rate)),
        (2, _pcm16_wav(noise, rate)),
        (3, _pcm16_wav(np.clip(tone * 10, -1, 1), rate)),  # hard-clipped
        (4, _pcm16_wav(np.zeros(rate), rate)),             # digital silence
        (5, b"not audio"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id int, audio binary")
    out = {r.id: r for r in AudioSpectralFeaturesRefiner().apply(df).collect()}

    # tone: centroid within one FFT bin (rate/2048 ~ 7.8 Hz) of 440
    assert abs(out[1].audio_spec_centroid_hz - 440.0) < 10.0
    assert abs(out[1].audio_zcr_hz / 2.0 - 440.0) < 5.0
    assert out[1].audio_spec_flatness < 0.01
    assert abs(out[1].audio_rms - 0.5 / np.sqrt(2)) < 0.01
    assert out[1].audio_clip_ratio == 0.0 and out[1].audio_silence_ratio == 0.0
    # white noise: flat spectrum, centroid near rate/4
    assert out[2].audio_spec_flatness > 0.5
    assert abs(out[2].audio_spec_centroid_hz - rate / 4) < rate * 0.05
    assert out[2].audio_spec_rolloff_hz > out[1].audio_spec_rolloff_hz
    # clipped tone: a third of samples pinned at full scale
    assert out[3].audio_clip_ratio > 0.2
    # silence: level stats real, spectral stats NULL
    assert out[4].audio_rms == 0.0 and out[4].audio_silence_ratio == 1.0
    assert out[4].audio_spec_centroid_hz is None
    # failure rows: all-NULL
    for rid in (5, 6):
        assert all(
            out[rid][f"audio_{f}"] is None
            for f in ("rms", "zcr_hz", "spec_centroid_hz", "spec_flatness")
        )


def test_audio_spectral_formats_and_cap():
    """Decoder unit coverage pytest can't see through Spark: stereo
    downmix, 8-bit unsigned and float32 payloads, and the max_seconds
    cap (a long clip decodes only its head)."""
    import struct

    import numpy as np

    from mega_data_factory_spark.operators.multimodal import _wav_pcm_mono

    rate = 8000
    t = np.arange(rate) / rate
    tone = 0.5 * np.sin(2 * np.pi * 100.0 * t)

    # stereo: L = tone, R = -tone -> mean downmix is (near) silence
    inter = np.empty(2 * len(tone))
    inter[0::2], inter[1::2] = tone, -tone
    x, r = _wav_pcm_mono(_pcm16_wav(inter, rate, ch=2), max_seconds=30)
    assert r == rate and np.abs(x).max() < 1e-3

    def wav_raw(payload, tag, bits, ch=1):
        hdr = b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
        fmt = b"fmt " + struct.pack(
            "<IHHIIHH", 16, tag, ch, rate, rate * ch * bits // 8, ch * bits // 8, bits
        )
        return hdr + fmt + b"data" + struct.pack("<I", len(payload)) + payload

    # 8-bit unsigned: 128 is the midpoint (decodes to 0.0)
    x8, _ = _wav_pcm_mono(wav_raw(bytes([128, 255, 0, 128]), 1, 8), max_seconds=30)
    assert np.allclose(x8, [0.0, 127 / 128, -1.0, 0.0])
    # float32 passthrough
    xf, _ = _wav_pcm_mono(wav_raw(tone.astype("<f4").tobytes(), 3, 32), max_seconds=30)
    assert np.allclose(xf, tone, atol=1e-7)
    # 24-bit (unsupported width) -> None, not garbage
    assert _wav_pcm_mono(wav_raw(b"\x00" * 300, 1, 24), max_seconds=30) is None
    # cap: 1 s decoded from a 2 s clip
    long_clip = _pcm16_wav(np.tile(tone, 2), rate)
    xc, _ = _wav_pcm_mono(long_clip, max_seconds=1.0)
    assert len(xc) == rate


def test_model_numpy_torch_parity():
    """The torch backend must compute the same projection as numpy (same
    seeded weights, fp32 on CPU). Skips where torch isn't installed — the
    numpy fallback is what every other test in this file exercises."""
    torch = pytest.importorskip("torch")
    from mega_data_factory_spark.operators.multimodal import _Model

    m = _Model("embed", 16, 7)
    assert m._torch is not None
    x = np.random.default_rng(0).standard_normal((5, 64)).astype(np.float32)
    got = m(x)
    np.testing.assert_allclose(got, x @ m.w, rtol=1e-5, atol=1e-5)
    head = _Model("head", 16, 11)
    e = np.random.default_rng(1).standard_normal((5, 16)).astype(np.float32)
    np.testing.assert_allclose(head(e), (e @ head.w)[:, 0], rtol=1e-5, atol=1e-5)


def test_model_numpy_fallback_without_torch(monkeypatch):
    """Force the ImportError branch: _Model must work with torch absent."""
    import builtins

    from mega_data_factory_spark.operators import multimodal as mm

    real_import = builtins.__import__

    def no_torch(name, *a, **kw):
        if name == "torch":
            raise ImportError("torch disabled for test")
        return real_import(name, *a, **kw)

    monkeypatch.setattr(builtins, "__import__", no_torch)
    m = mm._Model("head", 8, 3)
    assert m._torch is None
    x = np.ones((2, 8), dtype=np.float32)
    np.testing.assert_allclose(m(x), (x @ m.w)[:, 0])
    assert m(np.empty((0, 8), np.float32)).shape == (0,)


def _one_operator_pipeline(op):
    """A Pipeline running just ``op`` (ImageFeatureExtractor is not in the
    registry, so it cannot come from a config)."""
    from mega_data_factory_spark.config import PipelineConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline

    pipe = Pipeline(PipelineConfig.from_dict({"pipeline": {"name": "t", "source": {"table": "t"}, "stages": []}}))
    pipe._ops = [("s", op)]
    return pipe


def _udf_refiner_cases(spark):
    """(refiner, input frame) for every Python-UDF refiner; row id 1 is
    the one a pipeline test pre-rejects."""
    from mega_data_factory_spark.operators.images import (
        ImageFeatureExtractor,
        ImageMetadataRefiner,
        ImageTechnicalQualityRefiner,
    )
    from mega_data_factory_spark.operators.multimodal import (
        AudioMetadataRefiner,
        AudioSpectralFeaturesRefiner,
        VisualDegradationsRefiner,
    )
    from mega_data_factory_spark.operators.packing import SpanCorruptionBuilder
    from mega_data_factory_spark.operators.refiners import CompressionRatioRefiner, UnicodeNormalizeRefiner

    wav = _pcm16_wav(0.5 * np.sin(2 * np.pi * 440.0 * np.arange(1600) / 16000), 16000)
    emb = [float(x) for x in np.random.default_rng(5).normal(size=64)]
    idf = spark.createDataFrame([(1, make_png(NOISE)), (2, make_png(GRADIENT))], "id int, image binary")
    adf = spark.createDataFrame([(1, wav), (2, wav)], "id int, audio binary")
    edf = spark.createDataFrame([(1, emb), (2, emb)], "id int, image_emb array<float>")
    tdf = spark.createDataFrame(
        [(1, 0, 1, list(range(40))), (2, 0, 2, list(range(7, 47)))],
        "id int, pack_bucket int, seq_id long, tokens array<int>",
    )
    xdf = spark.createDataFrame([(1, "cafÃ© text " * 5), (2, "plain prose, plain prose.")], "id int, text string")
    fake = b"FAKEVID" + bytes([25]) + bytes(range(100))
    vdf = spark.createDataFrame([(1, fake), (2, fake)], "id int, video binary")
    return [
        (ImageMetadataRefiner(), idf),
        (ImageTechnicalQualityRefiner(), idf),
        (ImageFeatureExtractor(), idf),
        (AudioMetadataRefiner(), adf),
        (AudioSpectralFeaturesRefiner(), adf),
        (VisualDegradationsRefiner(), edf),
        (SpanCorruptionBuilder(sentinel_start=1000), tdf),
        (CompressionRatioRefiner(), xdf),
        (UnicodeNormalizeRefiner(fix_mojibake=True), xdf),
        (ImageEmbeddingRefiner(), idf),
        (AestheticScoreRefiner(), edf),
        (AigcDetectorRefiner(), edf),
        (ImageResizeRefiner(), idf),
        (VideoFrameSampleRefiner(every_n=5), vdf),
    ]


def test_struct_udf_refiners_evaluate_once(spark):
    """Every Python-UDF refiner runs its UDF ONCE per row, on the
    standalone path and on the pipeline path, with a downstream filter on
    any one of its outputs: nondeterministic expressions are never CSE'd,
    so a struct reference per field measured 5x/8x/4x evaluations (found
    with a live accumulator), and a deterministic UDF gets substituted into
    the filter and kept in the projection (2x). Pin the plan shape — one
    ArrowEvalPython node with one UDF call — and the alive gate: the
    pre-rejected row's outputs are NULL, the alive row's equal apply's."""
    import re

    from mega_data_factory_spark.operators.base import REJECTION_STRUCT_DDL, rejection_details_sql

    dead = F.when(F.col("id") == 1, F.expr(rejection_details_sql("filtered", "Pre"))).otherwise(
        F.lit(None).cast(REJECTION_STRUCT_DDL)
    )
    for ref, df in _udf_refiner_cases(spark):
        name = type(ref).__name__
        applied = ref.apply(df)
        tagged = _one_operator_pipeline(ref).apply_ops(df.withColumn("_rejection_details", dead))
        outputs = [c for c in applied.columns if c not in df.columns]
        assert outputs and not any(c.startswith("__") for c in tagged.columns), name
        for path, out in (("apply", applied), ("pipeline", tagged)):
            for field in outputs:
                plan = out.filter(F.col(field).isNotNull())._jdf.queryExecution().executedPlan().toString()
                nodes = re.findall(r"ArrowEvalPython \[(.*?)\], \[(.*?)\]", plan)
                assert len(nodes) == 1, f"{name} {path} {field}: {len(nodes)} ArrowEvalPython nodes"
                assert len(nodes[0][1].split(", ")) == 1, f"{name} {path} {field}: {nodes[0]}"
        rows = {r.id: r for r in tagged.select("id", *outputs).collect()}
        assert all(rows[1][c] is None for c in outputs), f"{name}: dead row scored"
        alive = applied.filter("id = 2").select("id", *outputs).collect()[0]
        assert rows[2] == alive, f"{name}: {rows[2]} != {alive}"


def _subclasses(base) -> set:
    """Every operator class under ``base``, all operator modules imported."""
    import importlib
    import pkgutil

    import mega_data_factory_spark.operators as ops

    for mod in pkgutil.iter_modules(ops.__path__):
        importlib.import_module(f"{ops.__name__}.{mod.name}")
    classes, todo = set(), [base]
    while todo:
        for sub in todo.pop().__subclasses__():
            classes.add(sub)
            todo.append(sub)
    return classes


def test_refiners_author_sql_text_only(spark):
    """The one Refiner authoring rule: no subclass overrides ``columns``
    or brings back a ``derived_columns`` stage, and every Python UDF call
    is a ``udf_columns`` binding under a private ``__`` name. Every class
    that binds a UDF is among the evaluate-once cases above."""
    from mega_data_factory_spark.operators.base import Refiner

    classes = _subclasses(Refiner)
    assert len(classes) >= 25
    assert not hasattr(Refiner, "derived_columns")
    for cls in classes:
        assert "columns" not in vars(cls) and "derived_columns" not in vars(cls), cls.__name__
    cases = _udf_refiner_cases(spark)
    assert {c for c in classes if "udf_columns" in vars(c)} <= {type(r) for r, _ in cases}
    for ref, df in cases:
        keys = ref.udf_columns(df)
        assert keys and all(k.startswith("__") for k in keys), (type(ref).__name__, list(keys))


def test_filters_and_dedups_author_sql_text_only(spark, imgs):
    """The one authoring rule for the other two operator kinds: a Filter
    authors only ``predicate_sql`` and a key Deduplicator only
    ``key_sql`` — no class, bases included, carries a Column ``predicate``,
    ``key`` or ``keep`` hook — and ``udf_columns`` is the one place any
    operator binds Python: only Refiner and Deduplicator classes define
    it, under ``__`` names, and no Filter path ever calls it."""
    from mega_data_factory_spark.operators.base import (
        REJECTION_STRUCT_DDL,
        Deduplicator,
        Filter,
        JoinDeduplicator,
        Operator,
        Refiner,
    )
    from mega_data_factory_spark.operators.filters import NumericRangeFilter
    from mega_data_factory_spark.operators.images import ImagePhashDeduplicator, ImagePhashNearDeduplicator

    filters, dedups = _subclasses(Filter), _subclasses(Deduplicator)
    assert len(filters) >= 9 and len(dedups) >= 17
    for cls in filters | dedups | {Filter, Deduplicator, JoinDeduplicator}:
        for hook in ("predicate", "key", "keep", "_KEEP", "RAW_KEY_COL"):
            assert not hasattr(cls, hook), (cls.__name__, hook)
    assert all("predicate_sql" in vars(c) for c in filters), [c.__name__ for c in filters]
    keyed = {c for c in dedups if not issubclass(c, JoinDeduplicator)}
    assert keyed and all(any("key_sql" in vars(b) for b in c.__mro__ if b is not Deduplicator) for c in keyed)
    binders = {c for c in _subclasses(Operator) if "udf_columns" in vars(c)}
    assert binders and all(issubclass(c, (Refiner, Deduplicator)) for c in binders), binders
    assert {c for c in binders if issubclass(c, Deduplicator)} == {ImagePhashDeduplicator, ImagePhashNearDeduplicator}
    for op in (ImagePhashDeduplicator(), ImagePhashNearDeduplicator()):
        keys = op.udf_columns(imgs)
        assert keys and all(k.startswith("__") for k in keys), (type(op).__name__, list(keys))

    def no_binding(df):
        raise AssertionError("a Filter path bound a Python call")

    df = spark.range(4).withColumn("_rejection_details", F.lit(None).cast(REJECTION_STRUCT_DDL))
    op = NumericRangeFilter("id", lo=2)
    op.udf_columns = no_binding
    assert [r.id for r in op.apply(df).collect()] == [2, 3]
    assert [r.id for r in op.rejected(df).collect()] == [0, 1]
    assert op.tag(df).filter("_rejection_details IS NULL").count() == 2
