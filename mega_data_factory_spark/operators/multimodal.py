"""Multimodal model refiners: embeddings, learned scores, resize, frame
sampling — the reference's ML operator family (SURVEY §2.3: CLIP/SigLIP
embeddings, aesthetic MLP, AIGC detector head, visual degradations) with
Spark-first plumbing and deterministic stand-in weights.

The real models (OpenCLIP, SigLIP2, torch MLP heads) are not in this
container; what IS real here — and what the reference itself tests
(SURVEY §5: "parity-by-construction ... testing glue not weights") — is:

  * the lazy per-executor model singleton pattern (load once per Python
    worker, reference image_clip_embedding.py:74-106);
  * Arrow-batched inference with bounded mini-batches;
  * output contracts: ``array<float>`` embeddings (L2-normalized, zero
    vector on failure — image_clip_embedding.py:161-162), float32 scores,
    ``score > threshold`` booleans (image_aigc_detector.py:214-223);
  * embedding-column reuse across operators (aesthetic/AIGC consume a
    precomputed embedding column instead of re-encoding — the reference's
    column-reuse pattern, image_aesthetic_quality.py:167-194).

Stand-in weights are seeded deterministic projections, so tests can assert
exact behavior. When torch is importable, ``_Model`` applies the same
weights through torch (fp16 on CUDA, one ``no_grad`` matmul per Arrow
batch) — the import-gated hook where trained checkpoints slot in; without
torch the numpy path computes identical results.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from mega_data_factory_spark.functions.text import sql_number_literal
from mega_data_factory_spark.operators.base import Refiner
from mega_data_factory_spark.operators.images import _bytes_col, decode_image

# --------------------------------------------------------- model singletons

_MODEL_CACHE: dict[tuple, object] = {}


class _Model:
    """One projection/head with seeded deterministic weights and a choice of
    backend: torch when importable (fp16 on CUDA, fp32 on CPU, ``no_grad``),
    numpy otherwise. Both backends apply the SAME weights, so swapping in a
    trained checkpoint changes only ``__init__``'s weight source (reference
    image_clip_embedding.py:74-106 loads OpenCLIP the same lazy way).

    ``__call__`` takes a (B, in_dim) float32 matrix — one matmul per Arrow
    batch, never per row.
    """

    def __init__(self, kind: str, dim: int, seed: int):
        rng = np.random.default_rng(seed)
        if kind == "embed":
            # stand-in visual tower: fixed random projection of 64-bin
            # luminance histogram features -> dim
            self.w = rng.standard_normal((64, dim)).astype(np.float32)
        else:  # "head": scoring vector over embeddings -> (B,) logits
            self.w = rng.standard_normal((dim, 1)).astype(np.float32)
        self.kind = kind
        self._torch = None
        try:  # import-gated torch backend
            import torch

            self._device = "cuda" if torch.cuda.is_available() else "cpu"
            dtype = torch.float16 if self._device == "cuda" else torch.float32
            self._tw = torch.as_tensor(self.w, dtype=dtype, device=self._device)
            self._torch = torch
        except ImportError:
            pass

    def __call__(self, x: np.ndarray) -> np.ndarray:
        out_shape = (x.shape[0], self.w.shape[1]) if self.kind == "embed" else (x.shape[0],)
        if x.shape[0] == 0:
            return np.zeros(out_shape, dtype=np.float32)
        if self._torch is not None:
            t = self._torch.as_tensor(np.ascontiguousarray(x), dtype=self._tw.dtype, device=self._device)
            with self._torch.no_grad():
                y = (t @ self._tw).float().cpu().numpy()
        else:
            y = x @ self.w
        return y if self.kind == "embed" else y[:, 0]


def _get_model(kind: str, dim: int, seed: int) -> _Model:
    """Lazy per-executor-process model instance (the per-actor lazy-load
    pattern of the reference, image_visual_degradations.py:73-102). The
    cache lives in the Python worker process; each executor pays one load."""
    key = (kind, dim, seed)
    if key not in _MODEL_CACHE:
        _MODEL_CACHE[key] = _Model(kind, dim, seed)
    return _MODEL_CACHE[key]


def _histogram_features(img: np.ndarray) -> np.ndarray:
    if img.ndim == 3:
        gray = img[..., : min(3, img.shape[2])].astype(np.float64).mean(axis=2)
    else:
        gray = img.astype(np.float64)
    counts = np.bincount((gray / 4).astype(np.int64).clip(0, 63).reshape(-1), minlength=64)
    return (counts / counts.sum()).astype(np.float32)


class ImageEmbeddingRefiner(Refiner):
    """Adds ``image_emb`` (array<float>, L2-normalized, ``dim`` wide; zero
    vector when undecodable — the reference CLIP refiner's failure default).
    Inference runs in Arrow batches with an internal mini-batch size knob
    (``inference_batch_size``, reference image_clip_embedding.py:122-169)."""

    def __init__(
        self,
        *,
        image_col: str = "image",
        output_col: str = "image_emb",
        dim: int = 64,
        seed: int = 7,
        inference_batch_size: int = 32,
        name: str | None = None,
    ):
        super().__init__(name)
        self.image_col = image_col
        self.output_col = output_col
        self.dim = dim
        self.seed = seed
        self.batch = inference_batch_size

    def udf_columns(self, df: DataFrame) -> dict[str, Column]:
        import pandas as pd

        dim, seed, batch = self.dim, self.seed, self.batch

        @F.pandas_udf(ArrayType(FloatType()))
        def embed_udf(data):
            model = _get_model("embed", dim, seed)
            out = []
            buf: list[np.ndarray | None] = []

            def flush():
                # one (mini-batch, 64) @ (64, dim) matmul per flush — the
                # torch backend sees a single fp16 GEMM, never row loops
                valid = [f for f in buf if f is not None]
                vecs = model(np.stack(valid)) if valid else np.empty((0, dim), np.float32)
                norms = np.linalg.norm(vecs, axis=1, keepdims=True)
                vecs = np.where(norms > 0, vecs / np.maximum(norms, 1e-30), vecs)
                it = iter(vecs)
                for feats in buf:
                    out.append([0.0] * dim if feats is None else next(it).tolist())
                buf.clear()

            for b in data:
                img = decode_image(b)
                buf.append(None if img is None else _histogram_features(img))
                if len(buf) >= batch:
                    flush()
            flush()
            return pd.Series(out)

        return {"__image_emb": embed_udf.asNondeterministic()(_bytes_col(df, self.image_col))}

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        return {self.output_col: "`__image_emb`"}


class AestheticScoreRefiner(Refiner):
    """Adds ``image_aesthetic_score`` (float ~1-10) from a PRECOMPUTED
    embedding column — column reuse, no re-encode (reference
    image_aesthetic_quality.py:71-233; default 0.0 on missing/wrong-dim
    embeddings, :176-187)."""

    def __init__(self, *, emb_col: str = "image_emb", dim: int = 64, seed: int = 11, name: str | None = None):
        super().__init__(name)
        self.emb_col = emb_col
        self.dim = dim
        self.seed = seed

    def udf_columns(self, df: DataFrame) -> dict[str, Column]:
        import pandas as pd

        dim, seed = self.dim, self.seed

        @F.pandas_udf(FloatType())
        def score_udf(embs):
            model = _get_model("head", dim, seed)
            rows = [np.asarray(e, dtype=np.float32) if e is not None and len(e) == dim else None for e in embs]
            valid = [r for r in rows if r is not None]
            logits = (model(np.stack(valid)) if valid else np.empty(0, np.float32)).astype(np.float64)
            scores = 1.0 + 9.0 / (1.0 + np.exp(-logits))  # squash to ~1..10
            it = iter(scores)
            out = [0.0 if r is None else float(next(it)) for r in rows]
            return pd.Series(out, dtype="float32")

        return {"__aesthetic_score": score_udf.asNondeterministic()(F.col(self.emb_col))}

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        return {"image_aesthetic_score": "`__aesthetic_score`"}


class AigcDetectorRefiner(Refiner):
    """Adds ``image_aigc_score`` (sigmoid of head logit) and
    ``image_is_aigc`` (score > threshold, default 0.5) from a precomputed
    embedding column (reference image_aigc_detector.py:48-233)."""

    def __init__(
        self,
        *,
        emb_col: str = "image_emb",
        dim: int = 64,
        seed: int = 13,
        threshold: float = 0.5,
        name: str | None = None,
    ):
        super().__init__(name)
        self.emb_col = emb_col
        self.dim = dim
        self.seed = seed
        self.threshold = threshold

    def udf_columns(self, df: DataFrame) -> dict[str, Column]:
        import pandas as pd

        dim, seed = self.dim, self.seed

        @F.pandas_udf(FloatType())
        def aigc_udf(embs):
            model = _get_model("head", dim, seed)
            rows = [np.asarray(e, dtype=np.float32) if e is not None and len(e) == dim else None for e in embs]
            valid = [r for r in rows if r is not None]
            scores = 1.0 / (1.0 + np.exp(-model(np.stack(valid)).astype(np.float64))) if valid else np.empty(0)
            it = iter(scores)
            out = [None if r is None else float(next(it)) for r in rows]
            return pd.Series(out, dtype="float32")

        return {"__aigc_score": aigc_udf.asNondeterministic()(F.col(self.emb_col))}

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        # the boolean reads the bound score (not the UDF twice)
        return {
            "image_aigc_score": "`__aigc_score`",
            "image_is_aigc": f"(`__aigc_score` > {sql_number_literal(self.threshold)})",
        }


class AudioMetadataRefiner(Refiner):
    """Adds ``audio_sample_rate:int``, ``audio_channels:int``,
    ``audio_bits:int``, ``audio_duration_sec:float``, ``audio_format:string``
    from an opaque ``binary`` audio column — the audio counterpart of
    ImageMetadataRefiner (reference image_metadata.py:25-67: header-only
    decode, 0/"ERROR" defaults on failure). RIFF/WAVE header parsing is
    pure-python struct reads (REAL decode, no audio lib needed); other
    containers report format "ERROR" until a decoder is plugged in.
    Header-only = the bytes column is never materialized beyond the Arrow
    batch, and only ~44 bytes per row are touched."""

    def __init__(self, *, audio_col: str = "audio", name: str | None = None):
        super().__init__(name)
        self.audio_col = audio_col

    @staticmethod
    def _parse_wav(b: bytes):
        import struct

        if b is None or len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            return None
        pos, n = 12, len(b)
        fmt = None
        data_size = None
        while pos + 8 <= n:
            cid, csize = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
            if cid == b"fmt " and pos + 8 + 16 <= n:
                _tag, ch, rate = struct.unpack_from("<HHI", b, pos + 8)
                bits = struct.unpack_from("<H", b, pos + 8 + 14)[0]
                fmt = (ch, rate, bits)
            elif cid == b"data":
                data_size = csize
            pos += 8 + csize + (csize & 1)
        if fmt is None:
            return None
        ch, rate, bits = fmt
        if not (ch and rate and bits) or data_size is None:
            return None
        frames = data_size // (ch * (bits // 8)) if bits >= 8 else 0
        return ch, rate, bits, frames / rate

    _FIELDS = {
        "audio_sample_rate": "sample_rate",
        "audio_channels": "channels",
        "audio_bits": "bits",
        "audio_duration_sec": "duration_sec",
        "audio_format": "format",
    }

    @classmethod
    def _udf(cls):
        import pandas as pd

        parse = cls._parse_wav

        @F.pandas_udf(
            "sample_rate int, channels int, bits int, duration_sec float, format string"
        )
        def meta_udf(blobs):
            rows = []
            for b in blobs:
                p = parse(bytes(b) if b is not None else None)
                if p is None:
                    rows.append({"sample_rate": 0, "channels": 0, "bits": 0, "duration_sec": 0.0, "format": "ERROR"})
                else:
                    ch, rate, bits, dur = p
                    rows.append(
                        {"sample_rate": rate, "channels": ch, "bits": bits, "duration_sec": dur, "format": "WAV"}
                    )
            return pd.DataFrame(rows)

        return meta_udf

    def udf_columns(self, df: DataFrame) -> dict[str, Column]:
        # ONE parse per row, fields read by name (Refiner docstring): a
        # struct reference per field measured 5 evaluations per row
        return {"__audio_meta": self._udf().asNondeterministic()(_bytes_col(df, self.audio_col))}

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        return {dst: f"`__audio_meta`.{src}" for dst, src in self._FIELDS.items()}


def _wav_pcm_mono(b: bytes | None, *, max_seconds: float):
    """Decode RIFF/WAVE PCM bytes to (mono float64 in [-1, 1], sample_rate),
    or None when the container/codec is unsupported. Real decode, no audio
    lib: PCM integer (fmt tag 1; 8-bit unsigned / 16- or 32-bit signed) and
    IEEE-float (tag 3) payloads, multi-channel downmixed by mean. Analysis
    is capped at ``max_seconds`` of samples — the per-row cost bound that
    keeps a 3-hour podcast row from stalling its whole Arrow batch."""
    import struct

    if b is None or len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, n = 12, len(b)
    fmt = None
    data_span = None
    while pos + 8 <= n:
        cid, csize = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"fmt " and pos + 8 + 16 <= n:
            tag, ch, rate = struct.unpack_from("<HHI", b, pos + 8)
            bits = struct.unpack_from("<H", b, pos + 8 + 14)[0]
            fmt = (tag, ch, rate, bits)
        elif cid == b"data":
            data_span = (pos + 8, min(csize, n - pos - 8))
        pos += 8 + csize + (csize & 1)
    if fmt is None or data_span is None:
        return None
    tag, ch, rate, bits = fmt
    if not (ch and rate) or (tag, bits) not in {(1, 8), (1, 16), (1, 32), (3, 32)}:
        return None
    start, size = data_span
    bytes_per_frame = ch * (bits // 8)
    max_frames = int(max_seconds * rate)
    size = min(size, max_frames * bytes_per_frame)
    size -= size % bytes_per_frame  # cut a trailing partial frame
    if size <= 0:
        return None
    raw = np.frombuffer(
        b,
        dtype={(1, 8): np.uint8, (1, 16): "<i2", (1, 32): "<i4", (3, 32): "<f4"}[(tag, bits)],
        count=size // (bits // 8),
        offset=start,
    )
    if tag == 3:
        x = raw.astype(np.float64)
    elif bits == 8:  # 8-bit WAV PCM is UNSIGNED, midpoint 128
        x = (raw.astype(np.float64) - 128.0) / 128.0
    else:
        x = raw.astype(np.float64) / float(1 << (bits - 1))
    if ch > 1:
        x = x.reshape(-1, ch).mean(axis=1)
    return x, rate


_SPECTRAL_FIELDS = (
    "rms",
    "clip_ratio",
    "zcr_hz",
    "silence_ratio",
    "spec_centroid_hz",
    "spec_bandwidth_hz",
    "spec_rolloff_hz",
    "spec_flatness",
)


def audio_spectral_features(x: "np.ndarray", rate: int, *, frame: int = 2048) -> dict:
    """Standard DSP descriptors of a mono [-1, 1] signal — the audio
    analog of the image entropy/blockiness kernels (operators/images.py):

    * ``rms`` — overall level; ``clip_ratio`` — fraction of samples at
      full scale (clipping/loudness-war damage detector);
    * ``zcr_hz`` — zero crossings per second (a pure f-Hz tone crosses
      2f times/s — the unit the tests pin);
    * ``silence_ratio`` — fraction of frames under -60 dBFS (dead air);
    * spectral centroid / bandwidth / 85% rolloff (Hz) and flatness
      (geometric/arithmetic power-spectrum mean: ->1 for white noise,
      ->0 for a tone) over the Hann-windowed mean power spectrum of
      non-overlapping ``frame``-sample frames.

    Pure numpy (one vectorized rFFT over the frame matrix). All values
    are plain floats; callers map failure to NULLs, not zeros — a silent
    clip and an undecodable clip must stay distinguishable."""
    n = len(x)
    if n == 0:
        return {}
    rms = float(np.sqrt(np.mean(x * x)))
    # 0.99, not 0.999: 8-bit PCM's positive rail decodes to 127/128 =
    # 0.9921875 — a stricter cut would miss positive-side clipping
    # entirely for 8-bit audio (16-bit rails sit at 0.99997/1.0)
    clip_ratio = float(np.mean(np.abs(x) >= 0.99))
    zcr_hz = float(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1])) / n * rate)
    if n < frame:  # short clip: one zero-padded frame
        x = np.pad(x, (0, frame - n))
    frames = x[: len(x) - len(x) % frame].reshape(-1, frame)
    frame_rms = np.sqrt(np.mean(frames * frames, axis=1))
    silence_ratio = float(np.mean(frame_rms < 1e-3))  # -60 dBFS
    win = np.hanning(frame)
    spec = np.abs(np.fft.rfft(frames * win, axis=1)) ** 2
    s = spec.mean(axis=0)
    freqs = np.fft.rfftfreq(frame, 1.0 / rate)
    tot = float(s.sum())
    if tot <= 0.0:  # digital silence: level stats are real, spectrum undefined
        centroid = bandwidth = rolloff = flatness = None
    else:
        centroid = float((freqs * s).sum() / tot)
        bandwidth = float(np.sqrt(((freqs - centroid) ** 2 * s).sum() / tot))
        rolloff = float(freqs[np.searchsorted(np.cumsum(s), 0.85 * tot)])
        flatness = float(np.exp(np.mean(np.log(s + 1e-30))) / (s.mean() + 1e-30))
    return {
        "rms": rms,
        "clip_ratio": clip_ratio,
        "zcr_hz": zcr_hz,
        "silence_ratio": silence_ratio,
        "spec_centroid_hz": centroid,
        "spec_bandwidth_hz": bandwidth,
        "spec_rolloff_hz": rolloff,
        "spec_flatness": flatness,
    }


class AudioSpectralFeaturesRefiner(Refiner):
    """Adds ``audio_rms``, ``audio_clip_ratio``, ``audio_zcr_hz``,
    ``audio_silence_ratio``, ``audio_spec_centroid_hz``,
    ``audio_spec_bandwidth_hz``, ``audio_spec_rolloff_hz``,
    ``audio_spec_flatness`` (all float, NULL when the clip can't be
    decoded) from an opaque ``binary`` WAV column — REAL signal
    processing (PCM decode + vectorized rFFT), the audio counterpart of
    ``ImageTechnicalQualityRefiner``'s entropy/blockiness kernels. No
    reference analog (its multimodal surface is image/video only) —
    beyond-reference per the build brief's multimodal mandate, with the
    same posture: the Spark plumbing, batching, and failure contract are
    first-class; compressed codecs (MP3/OGG/FLAC) are out of scope until
    a decoder dependency exists (rows report NULLs, never crash a batch).

    Scale shape: one Arrow crossing per batch, bytes touched once and
    never returned to the JVM; ``max_seconds`` (default 30) caps per-row
    decode+FFT cost so one pathological row cannot stall its task; no
    shuffle anywhere. Curation use: ``silence_ratio``/``rms`` cut dead
    or near-silent clips, ``clip_ratio`` flags distorted ones,
    ``spec_flatness`` separates noise from tonal content.
    """

    def __init__(self, *, audio_col: str = "audio", max_seconds: float = 30.0, name: str | None = None):
        super().__init__(name)
        self.audio_col = audio_col
        self.max_seconds = float(max_seconds)

    def _udf(self):
        import pandas as pd

        max_seconds = self.max_seconds
        fields = _SPECTRAL_FIELDS

        @F.pandas_udf(", ".join(f"{f} float" for f in fields))
        def feats_udf(blobs):
            rows = []
            for b in blobs:
                dec = _wav_pcm_mono(bytes(b) if b is not None else None, max_seconds=max_seconds)
                feats = audio_spectral_features(*dec) if dec is not None else {}
                rows.append({f: feats.get(f) for f in fields})
            return pd.DataFrame(rows, dtype="float32")

        return feats_udf

    def udf_columns(self, df: DataFrame) -> dict[str, Column]:
        # ONE decode+FFT per row, fields read by name (Refiner docstring):
        # a struct reference per field measured 8 per row
        return {"__audio_spectral": self._udf().asNondeterministic()(_bytes_col(df, self.audio_col))}

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        return {f"audio_{f}": f"`__audio_spectral`.{f}" for f in _SPECTRAL_FIELDS}


class VisualDegradationsRefiner(Refiner):
    """Adds the multi-head degradation scores ``img_vd_color_cast``,
    ``img_vd_blurriness``, ``img_vd_watermark``, ``img_vd_noise`` and
    ``img_vd_overall_quality`` from a precomputed embedding column
    (reference image_visual_degradations.py:40-192; head weights and the
    overall formula ``1 - (0.2*cc + 0.3*blur + 0.25*wm + 0.25*noise)`` from
    models/image_quality_assessment/trainer.py:276-280,333-336). The four
    sigmoid heads here are deterministic stand-ins for the trained CNN
    heads — the Spark plumbing (one Arrow batch pass, four scores + the
    derived overall, NULLs without a valid embedding) is the real contract.
    """

    HEAD_SEEDS = {"color_cast": 17, "blurriness": 19, "watermark": 23, "noise": 29}
    WEIGHTS = {"color_cast": 0.2, "blurriness": 0.3, "watermark": 0.25, "noise": 0.25}

    def __init__(self, *, emb_col: str = "image_emb", dim: int = 64, name: str | None = None):
        super().__init__(name)
        self.emb_col = emb_col
        self.dim = dim

    def _udf(self):
        import pandas as pd

        dim = self.dim
        seeds = self.HEAD_SEEDS

        @F.pandas_udf("color_cast float, blurriness float, watermark float, noise float")
        def heads_udf(embs):
            models = {k: _get_model("head", dim, s) for k, s in seeds.items()}
            rows = [np.asarray(e, dtype=np.float32) if e is not None and len(e) == dim else None for e in embs]
            valid = [r for r in rows if r is not None]
            mat = np.stack(valid) if valid else np.empty((0, dim), np.float32)
            scored = {k: 1.0 / (1.0 + np.exp(-m(mat).astype(np.float64))) for k, m in models.items()}  # one matmul per head
            out = {k: [] for k in models}
            vi = 0
            for r in rows:
                for k in models:
                    out[k].append(None if r is None else float(scored[k][vi]))
                vi += r is not None
            return pd.DataFrame(out, dtype="float32")

        return heads_udf

    def udf_columns(self, df: DataFrame) -> dict[str, Column]:
        # ONE evaluation of the four heads, fields read by name (Refiner
        # docstring): a struct reference per field measured 4
        return {"__vd_heads": self._udf().asNondeterministic()(F.col(self.emb_col))}

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        heads = {f"img_vd_{k}": f"`__vd_heads`.{k}" for k in self.HEAD_SEEDS}
        penalty = " + ".join(f"(`__vd_heads`.{k} * {sql_number_literal(w)})" for k, w in self.WEIGHTS.items())
        return {**heads, "img_vd_overall_quality": f"cast((1.0D - ({penalty})) as float)"}


class ImageResizeRefiner(Refiner):
    """Adds ``image_resized`` struct<bytes: binary (raw RGB row-major),
    width: int, height: int> via deterministic area-mean resize — the
    preprocessing step GPU embedding stages consume. Real numpy, no PIL."""

    def __init__(self, width: int = 32, height: int = 32, *, image_col: str = "image", name: str | None = None):
        super().__init__(name)
        self.width = width
        self.height = height
        self.image_col = image_col

    def udf_columns(self, df: DataFrame) -> dict[str, Column]:
        import pandas as pd

        tw, th = self.width, self.height

        def _resize(data):
            out_b, out_w, out_h = [], [], []
            for b in data:
                img = decode_image(b)
                if img is None:
                    out_b.append(None)
                    out_w.append(None)
                    out_h.append(None)
                    continue
                if img.ndim == 2:
                    img = img[..., None]
                # channel-normalize to the promised RGB contract: 1-channel
                # (grayscale PNG decodes as (h, w, 1), NOT 2-D, so the old
                # ndim check missed it and emitted 1-channel bytes under an
                # RGB contract — a stride-w*3 consumer misreads) and
                # 2-channel (gray+alpha: alpha is NOT a color plane)
                # replicate the luma; 4-channel drops alpha
                if img.shape[2] < 3:
                    img = img[..., :1].repeat(3, axis=2)
                img = img[..., :3]
                h, w = img.shape[:2]
                # area-mean resize as two reduceat passes (the batch_phash
                # kernel, images.py batch_phash) — no per-pixel Python loop.
                # A duplicate bucket index (upscale) makes reduceat emit the
                # single source row/col, count clamped to 1.
                ys = (np.arange(th) * h) // th
                xs = (np.arange(tw) * w) // tw
                band = np.add.reduceat(img.astype(np.float64), ys, axis=0)
                sums = np.add.reduceat(band, xs, axis=1)
                ycnt = np.maximum(np.diff(np.append(ys, h)), 1)
                xcnt = np.maximum(np.diff(np.append(xs, w)), 1)
                small = (sums / (ycnt[:, None, None] * xcnt[None, :, None])).astype(np.uint8)
                out_b.append(small.tobytes())
                out_w.append(tw)
                out_h.append(th)
            return pd.DataFrame({"bytes": out_b, "width": out_w, "height": out_h})

        resize_udf = F.pandas_udf(
            _resize,
            StructType(
                [
                    StructField("bytes", BinaryType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                ]
            ),
        )
        return {"__image_resized": resize_udf.asNondeterministic()(_bytes_col(df, self.image_col))}

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        return {"image_resized": "`__image_resized`"}


VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("frame_index", IntegerType()),
        StructField("timestamp_ms", IntegerType()),
        StructField("frame_bytes", StringType()),  # placeholder until a real decoder lands
    ]
)


class VideoFrameSampleRefiner(Refiner):
    """Frame sampling over an opaque video ``binary`` column.

    Real video decode needs ffmpeg/pyav (absent here), so decode is STUBBED:
    container sniffing (MP4/WebM/MKV magic) is real, and the Spark plumbing —
    schema ``array<struct<frame_index,timestamp_ms,frame_bytes>>``, Arrow
    batching, every-Nth-frame sampling contract — is real and tested via the
    deterministic ``FAKEVID`` container (header + fixed-size frame payloads)
    the tests synthesize. Swap ``_decode_frames`` for a pyav implementation
    to go live; nothing else changes.
    """

    def __init__(self, every_n: int = 10, *, video_col: str = "video", name: str | None = None):
        super().__init__(name)
        if every_n < 1:
            # fail at construction (config validation), not as a per-task
            # range() ValueError inside the UDF
            raise ValueError(f"every_n must be >= 1, got {every_n}")
        self.every_n = every_n
        self.video_col = video_col

    @staticmethod
    def sniff_container(b: bytes | None) -> str:
        if not b or len(b) < 12:
            return "ERROR"
        if b[4:8] == b"ftyp":
            return "MP4"
        if b[:4] == b"\x1a\x45\xdf\xa3":
            return "WEBM/MKV"
        if b[:7] == b"FAKEVID":
            return "FAKEVID"
        return "UNKNOWN"

    @staticmethod
    def _decode_frames(b: bytes, every_n: int):
        kind = VideoFrameSampleRefiner.sniff_container(b)
        if kind == "FAKEVID":
            # FAKEVID layout: b"FAKEVID" + uint8 n_frames + n_frames x 4 bytes
            n = b[7]
            frames = []
            for i in range(0, n, every_n):
                payload = b[8 + 4 * i : 12 + 4 * i]
                frames.append((i, i * 40, payload.hex()))  # 25 fps -> 40 ms
            return frames
        if kind in ("MP4", "WEBM/MKV"):
            raise NotImplementedError(
                "real video decode requires pyav/ffmpeg; install and replace "
                "VideoFrameSampleRefiner._decode_frames"
            )
        return None

    def udf_columns(self, df: DataFrame) -> dict[str, Column]:
        import pandas as pd

        every_n = self.every_n

        @F.pandas_udf(ArrayType(VIDEO_FRAME_SCHEMA))
        def frames_udf(data):
            out = []
            for b in data:
                try:
                    frames = None if b is None else self._decode_frames(bytes(b), every_n)
                except NotImplementedError:
                    frames = None
                out.append(frames)
            return pd.Series(out)

        return {"__video_frames": frames_udf.asNondeterministic()(_bytes_col(df, self.video_col))}

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        return {"video_frames": "`__video_frames`"}
