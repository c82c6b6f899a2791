"""Multimodal (image/audio/video) column processing.

Design for a 100 TB multimodal corpus: media lives in ``binary``
columns with a typed metadata struct beside them. All heavy per-item
work (decode, feature-extract, resize, frame-sample) runs as
Arrow-batched ``mapInPandas`` stages — the executor-side loop touches
one batch at a time, so memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` × item size, and the
stage is map-only (no shuffle of binary payloads, ever). Downstream
relational work (joins, dedup on features) happens on the *small*
derived columns, never the blobs.

Decode is real for two formats, with the stdlib only: PNG
(:func:`decode_png`, 8-bit non-interlaced, all five scanline filters)
and RIFF/WAVE PCM (:func:`decode_wav`, 8/16-bit). Every other format
goes to a PIL-gated decoder that raises :class:`NotImplementedError`
when PIL is not installed. The deterministic fake path derives features
from the md5 digest of the bytes, so tests (and the DuckDB oracle, via
``md5_number_lower``) can verify the full Spark plumbing — schema,
batching, UDF signature — end to end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("kind", StringType()),  # 'image' | 'audio' | 'video'
        StructField("format", StringType()),  # 'png', 'wav', 'mp4', ...
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("sample_rate", IntegerType()),
    ]
)

N_FAKE_FEATURES = 8


def attach_media_columns(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Test-shape helper: derive a binary ``content`` column (UTF-8
    bytes of a text column) plus a plausible metadata struct. In
    production ``content`` comes from the ingest source (tar/webdataset
    shards → binary column); only the schema matters here."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
        F.struct(
            F.lit("image").alias("kind"),
            F.lit("png").alias("format"),
            (F.pmod(F.col(id_col), F.lit(640)) + 32).cast("int").alias("width"),
            (F.pmod(F.col(id_col), F.lit(480)) + 32).cast("int").alias("height"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _make_png_decoder():
    """Factory for the stdlib-only PNG decoder.

    Built by a factory so the returned function's qualname is nested —
    cloudpickle then serializes it BY VALUE into Python workers (a
    module-level function would pickle by reference and fail to import
    on workers that don't have this package on their path, the same
    constraint the mapInPandas closures document below)."""

    def decode_png(content: bytes) -> tuple[int, int, int, list[float]]:
        """Decode a PNG with the stdlib only (zlib + struct): returns
        ``(width, height, channels, per_channel_means)`` with means in
        [0, 1]. Supports the common 8-bit non-interlaced color types —
        0 gray, 2 RGB, 4 gray+alpha, 6 RGBA — and all five scanline
        filters (None/Sub/Up/Average/Paeth, RFC 2083 §6). This is the
        dependency-free fallback that makes ``fake=False`` real
        in-container; a production stack swaps in PIL/turbojpeg for
        speed and the exotic formats."""
        import struct
        import zlib

        if content[:8] != PNG_MAGIC:
            raise ValueError("not a PNG (bad signature)")
        pos = 8
        width = height = None
        bit_depth = color_type = interlace = None
        idat = bytearray()
        while pos + 8 <= len(content):
            (length,) = struct.unpack(">I", content[pos : pos + 4])
            ctype = content[pos + 4 : pos + 8]
            data = content[pos + 8 : pos + 8 + length]
            pos += 12 + length  # length + type + data + crc
            if pos > len(content):
                raise ValueError("truncated PNG chunk")
            if ctype == b"IHDR":
                if length != 13:
                    raise ValueError("bad PNG IHDR length")
                width, height, bit_depth, color_type, _comp, _filt, interlace = (
                    struct.unpack(">IIBBBBB", data)
                )
            elif ctype == b"IDAT":
                idat.extend(data)
            elif ctype == b"IEND":
                break
        if width is None:
            raise ValueError("PNG missing IHDR")
        if bit_depth != 8 or interlace != 0:
            raise NotImplementedError(
                f"stdlib PNG path supports 8-bit non-interlaced only "
                f"(got depth={bit_depth}, interlace={interlace})"
            )
        channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
        if channels is None:
            raise NotImplementedError(
                f"unsupported PNG color type {color_type} (palette needs PLTE)"
            )
        try:
            raw = zlib.decompress(bytes(idat))
        except zlib.error as e:
            raise ValueError(f"corrupt PNG image data: {e}") from e
        stride = width * channels
        if len(raw) != (stride + 1) * height:
            raise ValueError("PNG pixel data length mismatch")
        prev = bytearray(stride)
        sums = [0] * channels
        for y in range(height):
            off = y * (stride + 1)
            ftype = raw[off]
            line = bytearray(raw[off + 1 : off + 1 + stride])
            if ftype == 1:  # Sub
                for i in range(channels, stride):
                    line[i] = (line[i] + line[i - channels]) & 0xFF
            elif ftype == 2:  # Up
                for i in range(stride):
                    line[i] = (line[i] + prev[i]) & 0xFF
            elif ftype == 3:  # Average
                for i in range(stride):
                    a = line[i - channels] if i >= channels else 0
                    line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
            elif ftype == 4:  # Paeth
                for i in range(stride):
                    a = line[i - channels] if i >= channels else 0
                    b = prev[i]
                    c = prev[i - channels] if i >= channels else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    if pa <= pb and pa <= pc:
                        pr = a
                    elif pb <= pc:
                        pr = b
                    else:
                        pr = c
                    line[i] = (line[i] + pr) & 0xFF
            elif ftype != 0:
                raise ValueError(f"bad PNG filter type {ftype}")
            for i in range(stride):
                sums[i % channels] += line[i]
            prev = line
        n_px = width * height
        means = [s / (n_px * 255.0) for s in sums]
        return width, height, channels, means

    return decode_png


decode_png = _make_png_decoder()


def _make_wav_decoder():
    """Factory for the stdlib-only WAV decoder (same by-value pickling
    rationale as :func:`_make_png_decoder`)."""

    def decode_wav(content: bytes) -> tuple[int, int, int, dict]:
        """Decode a RIFF/WAVE PCM payload with the stdlib only
        (``wave`` + ``struct``): returns ``(sample_rate, n_frames,
        channels, stats)`` where ``stats`` carries normalized [-1, 1]
        ``mean`` / ``rms`` / ``peak`` over all channels and the
        channel-0 zero-crossing rate. Supports 16-bit and 8-bit PCM
        (the formats ``wave`` itself reads); samples unpack with
        explicit little-endian struct codes, so the result is
        platform-independent."""
        import io
        import math
        import struct
        import wave

        with wave.open(io.BytesIO(content), "rb") as w:
            ch = w.getnchannels()
            sw = w.getsampwidth()
            sr = w.getframerate()
            n = w.getnframes()
            raw = w.readframes(n)
        count = len(raw) // sw
        if sw == 2:
            samples = struct.unpack(f"<{count}h", raw)
            scale = 32768.0
        elif sw == 1:  # 8-bit WAV is unsigned, midpoint 128
            samples = tuple(b - 128 for b in raw)
            scale = 128.0
        else:
            raise NotImplementedError(
                f"stdlib WAV path supports 8/16-bit PCM only (got {8 * sw}-bit)"
            )
        if not samples:
            return sr, 0, ch, {"mean": 0.0, "rms": 0.0, "peak": 0.0, "zcr": 0.0}
        total = sum(samples)
        sq = sum(s * s for s in samples)
        peak = max(abs(s) for s in samples)
        ch0 = samples[::ch]
        crossings = sum(
            1 for a, b in zip(ch0, ch0[1:]) if (a >= 0) != (b >= 0)
        )
        stats = {
            "mean": total / (len(samples) * scale),
            "rms": math.sqrt(sq / len(samples)) / scale,
            "peak": peak / scale,
            "zcr": crossings / max(1, len(ch0) - 1),
        }
        return sr, n, ch, stats

    return decode_wav


decode_wav = _make_wav_decoder()


def _make_png_featurizer():
    """Factory (same by-value pickling rationale as the decoders) for
    the ONE feature-assembly implementation shared by the driver-side
    helper and the mapInPandas worker closure — no drift possible."""
    decode = decode_png

    def png_features(content: bytes, n_feats: int = N_FAKE_FEATURES) -> list[float]:
        """Real image feature vector matching :data:`FEATURE_SCHEMA`'s
        width: [width, height, channels, mean_ch0..mean_ch3 (0.0 when
        absent), overall mean] — dims + channel statistics, the
        metadata/quality signals a multimodal curation pass filters
        on."""
        w, h, ch, means = decode(content)
        padded = (means + [0.0] * 4)[:4]
        overall = sum(means) / len(means)
        return [float(w), float(h), float(ch), *padded, overall][:n_feats]

    return png_features


png_features = _make_png_featurizer()


def _make_wav_featurizer():
    """Factory twin of :func:`_make_png_featurizer` for WAV."""
    decode = decode_wav

    def wav_features(content: bytes, n_feats: int = N_FAKE_FEATURES) -> list[float]:
        """Real WAV feature vector matching :data:`FEATURE_SCHEMA`'s
        width: [sample_rate, n_frames, channels, rms, peak, mean,
        zero-crossing rate] — the loudness/silence/clipping signals an
        audio curation pass filters on — plus duration in seconds."""
        sr, n, ch, st = decode(content)
        dur = (n / sr) if sr else 0.0
        return [
            float(sr), float(n), float(ch),
            st["rms"], st["peak"], st["mean"], st["zcr"], dur,
        ][:n_feats]

    return wav_features


wav_features = _make_wav_featurizer()


FEATURE_SCHEMA = StructType(
    [StructField("media_id", LongType())]
    + [StructField(f"f{j}", DoubleType()) for j in range(N_FAKE_FEATURES)]
)


def extract_features(
    df: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    fake: bool = True,
) -> DataFrame:
    """Feature extraction over binary media via Arrow-batched
    ``mapInPandas``.

    The batch loop is the production shape (decode → featurize per
    item, vectorized emit per batch). ``fake=False`` dispatches each
    payload by its magic bytes: PNG (:func:`decode_png`) and RIFF/WAVE
    PCM (:func:`decode_wav`) decode with the stdlib only; every other
    format, and a PNG the stdlib decoder rejects (16-bit, interlaced,
    palette, corrupt or truncated), routes to the PIL-gated decoder,
    which raises :class:`NotImplementedError` when PIL is absent.

    The worker function is deliberately self-contained (stdlib +
    pandas only): Python workers are fresh processes that may not have
    this package on their path, and cloudpickle serializes references
    to module globals by name. The featurizers are factory-built so
    they pickle by value into the closure.
    """
    n_feats = N_FAKE_FEATURES
    pngf = png_features
    wavf = wav_features
    magic = PNG_MAGIC

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        def fake_features(content: bytes) -> list[float]:
            digest = _hashlib.md5(content).digest()
            return [digest[8 + j] / 255.0 for j in range(n_feats)]

        def real_features(content: bytes) -> list[float]:
            content = bytes(content)
            # a PNG variant the stdlib decoder does not cover falls
            # THROUGH to the PIL block below rather than failing the
            # job; ValueError too, not just NotImplementedError, so one
            # corrupt or truncated blob routes to PIL (or its loud
            # NotImplementedError) rather than abort the whole pass
            if content[:8] == magic:
                try:
                    return pngf(content, n_feats)
                except (NotImplementedError, ValueError):
                    pass
            if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
                return wavf(content, n_feats)
            try:
                import io

                from PIL import Image

                img = Image.open(io.BytesIO(content))
                px = list(img.convert("L").getdata())
                mean = (sum(px) / (len(px) * 255.0)) if px else 0.0
                bands = len(img.getbands())
                return [
                    float(img.width), float(img.height), float(bands),
                    mean, 0.0, 0.0, 0.0, mean,
                ][:n_feats]
            except ImportError as e:
                raise NotImplementedError(
                    "non-PNG/WAV decode requires PIL; install pillow or use fake=True"
                ) from e

        for pdf in batches:
            feats = [
                fake_features(c) if fake else real_features(c)
                for c in pdf[content_col]
            ]
            out = _pd.DataFrame(feats, columns=[f"f{j}" for j in range(n_feats)])
            out.insert(0, "media_id", pdf[id_col].values)
            yield out

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


def extract_features_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB oracle for the fake-feature path over UTF-8 text content."""
    feats = ", ".join(
        f"ROUND(((md5_number_lower({text_col}) >> {8 * j}) & 255) / 255.0, 6) AS f{j}"
        for j in range(N_FAKE_FEATURES)
    )
    return f"SELECT {id_col} AS media_id, {feats} FROM {table}"


def rounded_features(feats: DataFrame, nd: int = 6) -> DataFrame:
    """Oracle-comparison projection: round features for stable hashing."""
    return feats.select(
        "media_id",
        *[F.round(F.col(f"f{j}"), nd).alias(f"f{j}") for j in range(N_FAKE_FEATURES)],
    )


def frame_sample(
    df: DataFrame,
    every_k: int,
    id_col: str = "media_id",
    meta_col: str = "meta",
) -> DataFrame:
    """Video frame sampling *plumbing*: one output row per sampled
    frame index (0, k, 2k, ...) based on ``meta.n_frames``. The frame
    decode itself is the stubbed step; the explode keeps Spark-side
    lineage so a real decoder plugs into a downstream mapInPandas.

    Items without ``n_frames`` (images/audio) emit no rows.
    """
    n = F.col(f"{meta_col}.n_frames")
    idx = F.sequence(F.lit(0), n - 1, F.lit(every_k))
    return (
        df.filter(n.isNotNull() & (n > 0))
        .select(F.col(id_col), F.explode(idx).alias("frame_idx"))
    )


def resize_plan(
    df: DataFrame,
    target_w: int,
    target_h: int,
    id_col: str = "media_id",
    meta_col: str = "meta",
) -> DataFrame:
    """Resize planning (aspect-preserving fit): computes per-item scale
    factors and output dims declaratively; the pixel work is the
    stubbed mapInPandas step. Keeping the arithmetic in Catalyst means
    the planner can prune items already at target size."""
    w = F.col(f"{meta_col}.width").cast("double")
    h = F.col(f"{meta_col}.height").cast("double")
    scale = F.least(F.lit(float(target_w)) / w, F.lit(float(target_h)) / h)
    return df.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        F.round(w * scale).cast("int").alias("out_w"),
        F.round(h * scale).cast("int").alias("out_h"),
        (scale < 1.0).alias("needs_downscale"),
    )
