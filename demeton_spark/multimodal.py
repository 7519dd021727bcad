"""Multimodal column operators over opaque ``binary`` payloads with
typed metadata — per-row kernels on the engine's one Arrow row map
(``engine.map_rows``), no per-row Python UDFs.

Images: ``decode_images`` and ``verify_images`` read the image table's
block formats through :func:`demeton_spark.codec.decode_block` — the
reference's three DEM encodings (``png16``, ``hgt``, AW3D ``tiff``)
plus the engine's ``raw`` strips — the same decoder the tile engine
uses.  Any other format, and any malformed payload, raises
``ValueError``, which ``on_error='skip'`` turns into a dropped row.

``verify_images`` implements the per-row invariant from the build
target: decoded pixels must hash to the row's ``phash`` (allclose/
PSNR≥40dB reduces to exact equality for these lossless formats) and
the caption must parse.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame

from . import codec
from .engine import _CAPTION_PATTERN, map_rows

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

    def decode(image_id, data, w, h, fmt, caption, phash):
        try:
            block = codec.decode_block(fmt, data, w)
        except ValueError:
            # unknown format or corrupt payload: at 10^12-row scale one
            # poison row must not kill the job
            if on_error == "skip":
                return
            raise
        yield image_id, w, h, fmt, block.tobytes(), caption, phash

    return map_rows(
        images, ("image_id", "bytes", "w", "h", "fmt", "caption", "phash"),
        decode, DECODED_SCHEMA,
    )


VERIFY_SCHEMA = (
    "image_id string, phash_ok boolean, caption_ok boolean"
)


def verify_images(images: DataFrame) -> DataFrame:
    """Per-row invariant check: sha256-derived pixel hash == phash column
    and the caption parses (input_hint: decoded-pixel parity + caption
    equality)."""
    pat = re.compile(_CAPTION_PATTERN)

    def verify(image_id, data, w, fmt, phash, caption):
        block = codec.decode_block(fmt, data, w)
        got = int.from_bytes(
            hashlib.sha256(block.tobytes()).digest()[:8], "big", signed=True
        )
        yield image_id, got == phash, bool(pat.search(caption))

    return map_rows(
        images, ("image_id", "bytes", "w", "fmt", "phash", "caption"),
        verify, VERIFY_SCHEMA,
    )

