"""Multimodal column operators over opaque ``binary`` payloads with
typed metadata — all Arrow-batched ``mapInPandas``, no per-row Python
UDFs.

Images: ``decode_images`` and ``verify_images`` read the image table's
block formats through :func:`demeton_spark.codec.decode_block` — the
reference's three DEM encodings (``png16``, ``hgt``, AW3D ``tiff``)
plus the engine's ``raw`` strips — the same decoder the tile engine
uses.  Audio: ``audio_features`` decodes WAV/PCM via the from-scratch
RIFF codec in :mod:`demeton_spark.audio`.  Any other format, and any
malformed payload, raises ``ValueError``, which ``on_error='skip'``
turns into a dropped row.

``verify_images`` implements the per-row invariant from the build
target: decoded pixels must hash to the row's ``phash`` (allclose/
PSNR≥40dB reduces to exact equality for these lossless formats) and
the caption must parse.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from . import codec

DECODED_SCHEMA = (
    "image_id string, w int, h int, fmt string, pixels binary, "
    "caption string, phash long"
)


def decode_images(
    images: DataFrame, on_error: str = "raise"
) -> DataFrame:
    """images table → decoded int16 pixel blocks (same row count).

    ``on_error='skip'`` drops undecodable rows instead of failing the
    task (dead-letter them with a separate filter first if you need the
    quarantine — at 10^12-row scale one poison row must not kill the
    job)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "image_id", "w", "h", "fmt", "pixels", "caption", "phash")}
            for r in pdf.itertuples():
                try:
                    block = codec.decode_block(r.fmt, r.bytes, int(r.w))
                except ValueError:
                    # unknown format or corrupt payload: at 10^12-row
                    # scale one poison row must not kill the job
                    if on_error == "skip":
                        continue
                    raise
                out["image_id"].append(r.image_id)
                out["w"].append(int(r.w))
                out["h"].append(int(r.h))
                out["fmt"].append(r.fmt)
                out["pixels"].append(block.tobytes())
                out["caption"].append(r.caption)
                out["phash"].append(int(r.phash))
            yield pd.DataFrame(out)

    return images.mapInPandas(run, schema=DECODED_SCHEMA)


VERIFY_SCHEMA = (
    "image_id string, phash_ok boolean, caption_ok boolean"
)


def verify_images(images: DataFrame) -> DataFrame:
    """Per-row invariant check: sha256-derived pixel hash == phash column
    and the caption parses (input_hint: decoded-pixel parity + caption
    equality)."""
    from .engine import _CAPTION_PATTERN
    import re

    pat = re.compile(_CAPTION_PATTERN)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, p_ok, c_ok = [], [], []
            for r in pdf.itertuples():
                block = codec.decode_block(r.fmt, r.bytes, int(r.w))
                got = int.from_bytes(
                    hashlib.sha256(block.tobytes()).digest()[:8],
                    "big",
                    signed=True,
                )
                ids.append(r.image_id)
                p_ok.append(got == int(r.phash))
                c_ok.append(bool(pat.search(r.caption)))
            yield pd.DataFrame(
                {"image_id": ids, "phash_ok": p_ok, "caption_ok": c_ok}
            )

    return images.mapInPandas(run, schema=VERIFY_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "audio_id string, n_samples long, sample_rate int, duration_ms double, "
    "rms double, peak int, zero_crossings long, spectral_centroid_hz double"
)


def audio_features(audio: DataFrame, on_error: str = "raise") -> DataFrame:
    """Per-clip curation features over WAV/PCM ``binary`` payloads.

    Real decode end-to-end: the from-scratch RIFF/WAVE codec in
    :mod:`demeton_spark.audio` (PCM16 / PCM8 / float32, chunk-walking
    container) feeds numpy DSP — duration, RMS, peak,
    zero-crossing count, spectral centroid (rfft).  Expects columns
    ``(audio_id, bytes)``; ``on_error='skip'`` quarantines corrupt
    containers the same way :func:`decode_images` does.  Compressed
    audio (mp3/aac/…) is out of scope — see the module docstring of
    :mod:`demeton_spark.audio`.
    """
    from . import audio as audio_codec

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in (
                "audio_id", "n_samples", "sample_rate", "duration_ms",
                "rms", "peak", "zero_crossings", "spectral_centroid_hz")}
            for r in pdf.itertuples():
                try:
                    f = audio_codec.wav_features(bytes(r.bytes))
                except ValueError:
                    if on_error == "skip":
                        continue
                    raise
                rows["audio_id"].append(r.audio_id)
                for k in (
                    "n_samples", "sample_rate", "duration_ms", "rms",
                    "peak", "zero_crossings", "spectral_centroid_hz",
                ):
                    rows[k].append(f[k])
            yield pd.DataFrame(rows)

    return audio.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)
