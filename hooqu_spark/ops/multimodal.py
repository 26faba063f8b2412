"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, processed through Arrow-batched UDFs.

The Spark-side machinery (schemas, batch shapes, partition-size
control, UDF signatures) is real and tested.  Decoding is pluggable:
:func:`attach_binary_metadata` takes a decoder object and picks
:class:`PillowImageDecoder` automatically when Pillow is importable;
in this sandbox (no media libraries) it falls back to
:class:`FakeImageDecoder`, the ``DETERMINISTIC_FAKE_DECODE`` stand-in
that derives stable pseudo-metadata from the payload bytes so the
plumbing is exercised end-to-end.  Audio/video feature extraction
remains stubbed the same way (swap in torchaudio with an identical
signature).
"""

from __future__ import annotations

import zlib
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # pragma: no cover - sandbox has no Pillow
    import PIL.Image  # noqa: F401

    _PILLOW_AVAILABLE = True
except ImportError:
    _PILLOW_AVAILABLE = False

# True when the deterministic stand-in (not a real media decoder) is
# the active default — i.e. Pillow is absent from the environment.
DETERMINISTIC_FAKE_DECODE = not _PILLOW_AVAILABLE

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

_MAGIC = [
    (b"\x89PNG", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"GIF8", "gif"),
    (b"RIFF", "riff"),
    (b"<htm", "html"),
    (b"<!do", "html"),
]


def _sniff_format(payload: bytes) -> str:
    head = payload[:4].lower() if payload[:1] in b"<\x00" else payload[:4]
    for magic, name in _MAGIC:
        if payload[: len(magic)] == magic or head == magic:
            return name
    return "unknown"


class FakeImageDecoder:
    """DETERMINISTIC_FAKE_DECODE stand-in: format from magic-byte
    sniffing, width/height from a stable byte hash — exercises the
    full schema/batch path without any media library."""

    def decode_meta(self, payload: bytes):
        """-> (format, width, height) for a non-None payload."""
        h = zlib.crc32(payload)
        return (
            _sniff_format(payload),
            64 + h % 1920,
            64 + (h >> 11) % 1080,
        )


class PillowImageDecoder:
    """Real decode path (auto-selected when Pillow is importable):
    ``PIL.Image.open`` on the payload bytes; payloads Pillow cannot
    parse degrade to magic-sniffed format with NULL dimensions instead
    of failing the task."""

    def decode_meta(self, payload: bytes):
        import io

        from PIL import Image

        try:
            with Image.open(io.BytesIO(payload)) as im:
                return ((im.format or "unknown").lower(), im.width, im.height)
        except Exception:
            return (_sniff_format(payload), None, None)


def default_image_decoder():
    """Pillow when available, else the deterministic fake."""
    return PillowImageDecoder() if _PILLOW_AVAILABLE else FakeImageDecoder()


class FakeImageResizer:
    """DETERMINISTIC_FAKE_DECODE stand-in for resize: emits a stable
    synthetic payload — an 8-byte ``FAKERSZ0`` magic, the target
    dimensions, and the crc32 of the source bytes — so tests can
    verify determinism, size bounds and that distinct sources stay
    distinct, without any media library."""

    def resize(self, payload: bytes, width: int, height: int) -> bytes:
        h = zlib.crc32(payload)
        return (
            b"FAKERSZ0"
            + width.to_bytes(4, "big")
            + height.to_bytes(4, "big")
            + h.to_bytes(4, "big")
        )


class PillowImageResizer:
    """Real resize path (auto-selected when Pillow is importable):
    decode → ``Image.resize`` → re-encode PNG.  Payloads Pillow cannot
    parse return NULL instead of failing the task."""

    def resize(self, payload: bytes, width: int, height: int):
        import io

        from PIL import Image

        try:
            with Image.open(io.BytesIO(payload)) as im:
                out = io.BytesIO()
                im.resize((width, height)).save(out, format="PNG")
                return out.getvalue()
        except Exception:
            return None


def default_image_resizer():
    """Pillow when available, else the deterministic fake."""
    return PillowImageResizer() if _PILLOW_AVAILABLE else FakeImageResizer()


def resize_images(
    df: DataFrame,
    binary_col: str = "html",
    width: int = 224,
    height: int = 224,
    resizer: Optional[object] = None,
    out_col: str = "resized",
) -> DataFrame:
    """Resize every image payload to ``width``×``height`` (the
    train-time normalization step), vectorized in mapInPandas so the
    binary never round-trips as rows.

    ``resizer`` is any object with ``resize(payload: bytes, width,
    height) -> bytes | None`` — defaults to
    :func:`default_image_resizer` (Pillow if importable, else the
    deterministic fake).  NULL payloads stay NULL.  At scale the only
    plan node is one Python eval over the scan: no shuffle, output
    size bounded by ``width*height`` per row regardless of input
    payload size."""
    if resizer is None:
        resizer = default_image_resizer()
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.BinaryType())]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [
                None
                if b is None
                else resizer.resize(bytes(b), width, height)
                for b in pdf[binary_col].tolist()
            ]
            yield pdf

    return df.mapInPandas(gen, schema=out_schema)


def attach_binary_metadata(
    df: DataFrame, binary_col: str = "html", decoder: Optional[object] = None
) -> DataFrame:
    """Typed metadata struct for an opaque binary column; decode runs
    vectorized in mapInPandas so the binary never round-trips as rows.

    ``decoder`` is any object with ``decode_meta(payload: bytes) ->
    (format, width, height)`` — defaults to
    :func:`default_image_decoder` (Pillow if importable, else the
    deterministic fake).  The decoder ships to executors by value
    (cloudpickle), so test doubles must be defined inside functions."""
    if decoder is None:
        decoder = default_image_decoder()
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("media_meta", IMAGE_META_SCHEMA)]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [
                (0, "unknown", None, None)
                if b is None
                else (len(bytes(b)), *decoder.decode_meta(bytes(b)))
                for b in pdf[binary_col].tolist()
            ]
            pdf = pdf.copy()
            pdf["media_meta"] = [
                {"n_bytes": m[0], "format": m[1], "width": m[2], "height": m[3]}
                for m in metas
            ]
            yield pdf

    return df.mapInPandas(gen, schema=out_schema)


def extract_binary_features(
    df: DataFrame, binary_col: str = "html", n_features: int = 16
) -> DataFrame:
    """Fixed-size feature vector per payload (STUB: byte-histogram
    projection; production: CNN/CLIP embedding in the same signature)."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("media_features", T.ArrayType(T.FloatType()))]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for b in pdf[binary_col].tolist():
                if b is None:
                    feats.append([0.0] * n_features)
                    continue
                arr = np.frombuffer(bytes(b), dtype=np.uint8)
                hist = np.bincount(arr % n_features, minlength=n_features)
                total = hist.sum() or 1
                feats.append((hist / total).astype(np.float32).tolist())
            pdf = pdf.copy()
            pdf["media_features"] = feats
            yield pdf

    return df.mapInPandas(gen, schema=out_schema)

