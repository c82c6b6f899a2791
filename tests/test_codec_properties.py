"""Property-based pinning of the stdlib media decoders.

The PNG/WAV decode paths are real in-container code (zlib/struct/wave),
so they get the same treatment as the decimal conventions: random
inputs round-trip through the encoder twin and the decoded statistics
must equal an exact driver-side reference computed directly from the
raw samples — across every color type, scanline filter, channel
layout, and sample width the decoders claim to support.
"""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from oracle_duckdb_sync_spark.operators import multimodal as MM
from tests.test_training_ops import _write_png, _write_wav

_PROP_SETTINGS = settings(max_examples=40, deadline=None)


@st.composite
def png_cases(draw):
    color_type = draw(st.sampled_from([0, 2, 4, 6]))
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    w = draw(st.integers(min_value=1, max_value=12))
    h = draw(st.integers(min_value=1, max_value=10))
    pixels = [
        tuple(
            draw(st.integers(min_value=0, max_value=255)) for _ in range(ch)
        )
        for _ in range(w * h)
    ]
    filters = [draw(st.integers(min_value=0, max_value=4)) for _ in range(h)]
    return color_type, ch, w, h, pixels, filters


@given(case=png_cases())
@_PROP_SETTINGS
def test_png_roundtrip_exact_means(case):
    color_type, ch, w, h, pixels, filters = case
    blob = _write_png(w, h, pixels, color_type, filters=filters)
    gw, gh, gch, means = MM.decode_png(blob)
    assert (gw, gh, gch) == (w, h, ch)
    n = w * h
    for c in range(ch):
        exact = sum(px[c] for px in pixels) / (n * 255.0)
        assert means[c] == exact  # integer sums + one division: bit-exact


@st.composite
def wav_cases(draw):
    channels = draw(st.integers(min_value=1, max_value=2))
    n_frames = draw(st.integers(min_value=1, max_value=200))
    sampwidth = draw(st.sampled_from([1, 2]))
    if sampwidth == 2:
        samples = [
            draw(st.integers(min_value=-32768, max_value=32767))
            for _ in range(n_frames * channels)
        ]
    else:
        samples = [
            draw(st.integers(min_value=0, max_value=255))
            for _ in range(n_frames * channels)
        ]
    sr = draw(st.sampled_from([4000, 8000, 16000, 44100]))
    return channels, n_frames, sampwidth, samples, sr


@given(case=wav_cases())
@_PROP_SETTINGS
def test_wav_roundtrip_exact_stats(case):
    channels, n_frames, sampwidth, samples, sr = case
    blob = _write_wav(sr, channels, samples, sampwidth=sampwidth)
    gsr, gn, gch, st_ = MM.decode_wav(blob)
    assert (gsr, gn, gch) == (sr, n_frames, channels)
    signed = samples if sampwidth == 2 else [s - 128 for s in samples]
    scale = 32768.0 if sampwidth == 2 else 128.0
    assert st_["mean"] == sum(signed) / (len(signed) * scale)
    assert st_["rms"] == math.sqrt(
        sum(s * s for s in signed) / len(signed)
    ) / scale
    assert st_["peak"] == max(abs(s) for s in signed) / scale
    ch0 = signed[::channels]
    crossings = sum(1 for a, b in zip(ch0, ch0[1:]) if (a >= 0) != (b >= 0))
    assert st_["zcr"] == crossings / max(1, len(ch0) - 1)
