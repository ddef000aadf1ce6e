"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched pandas
iterators (mapInPandas).

The codec is an injectable seam with two implementations:

- ``FakeCodec`` -- deterministic test double deriving metadata /
  thumbnails / frames from the payload md5.  This is what the
  oracle-gated queries use (the sandbox has no media libraries), so the
  Spark-side plumbing (schema, batch iteration, partition parallelism,
  UDF signature, 1->N fan-out) is real and tested while decode itself
  is hermetic.
- ``PilCodec`` -- real image decode via Pillow when importable:
  metadata from ``Image.open``, resize via ``thumbnail``, frames via
  ``seek``.  Constructing it without PIL raises NotImplementedError.

Operators take ``codec=``; with ``codec=None`` resolution is:
explicit codec > ``fake=True`` -> FakeCodec > PIL importable ->
PilCodec > PngCodec (pure-stdlib real branch, PNG-only).  The codec
object is pickled into the
mapInPandas closure, so implementations must be import-light and
stateless (PIL is imported lazily inside methods, on the executor).

At 100 TB: binary payloads ride in their own column (parquet keeps them
out of unrelated scans via column pruning); decode fan-out happens in
mapInPandas so each Arrow batch streams through a Python worker without
driver involvement; per-file blobs would come in via
spark.read.format("binaryFile").
"""

from __future__ import annotations

import hashlib
import importlib.util
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, FloatType, IntegerType,
                               LongType, StringType, StructField, StructType)

DECODED_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("format", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
])


class FakeCodec:
    """Deterministic codec double: every output is a pure function of
    the payload bytes, so results are stable across executors, runs,
    and engines (the DuckDB oracles replay the same md5 arithmetic)."""

    def decode(self, payload: bytes) -> dict:
        h = hashlib.md5(payload).digest()
        return {
            "format": ["jpeg", "png", "wav", "mp4"][h[0] % 4],
            "width": 16 + h[1] % 240,
            "height": 16 + h[2] % 240,
            "n_frames": 1 + h[3] % 32,
        }

    def resize(self, payload: bytes, w: int, h: int) -> bytes:
        return hashlib.md5(payload + f"|{w}x{h}".encode()).digest()

    def frame(self, payload: bytes, idx: int) -> bytes:
        return hashlib.md5(payload + b"|" + str(idx).encode()).digest()


def pil_available() -> bool:
    return importlib.util.find_spec("PIL") is not None


class PilCodec:
    """Real image codec via Pillow.  Import-light: PIL loads inside the
    methods (executor-side), the instance itself pickles trivially."""

    def __init__(self) -> None:
        if not pil_available():
            raise NotImplementedError(
                "PilCodec requires Pillow; install it or use FakeCodec"
            )

    @staticmethod
    def _open(payload: bytes):
        import io

        from PIL import Image

        return Image.open(io.BytesIO(payload))

    def decode(self, payload: bytes) -> dict:
        img = self._open(payload)
        return {
            "format": (img.format or "unknown").lower(),
            "width": img.width,
            "height": img.height,
            "n_frames": int(getattr(img, "n_frames", 1)),
        }

    def resize(self, payload: bytes, w: int, h: int) -> bytes:
        import io

        img = self._open(payload)
        img.thumbnail((w, h))
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        return buf.getvalue()

    def frame(self, payload: bytes, idx: int) -> bytes:
        import io

        img = self._open(payload)
        if getattr(img, "n_frames", 1) > 1:
            img.seek(idx)
        buf = io.BytesIO()
        img.convert("RGB").save(buf, format="PNG")
        return buf.getvalue()


class PngCodec:
    """Real PNG codec in pure stdlib (zlib + struct): the no-dependency
    real branch, so the non-fake decode path is exercised in every
    environment (the sandbox has no Pillow).  Supports 8-bit RGB/RGBA
    (color types 2 and 6), all five PNG scanline filters on decode,
    nearest-neighbor thumbnail resize, filter-0 RGB encode.  Non-PNG or
    unsupported payloads raise ValueError — real-codec semantics, unlike
    FakeCodec which fabricates metadata for any bytes."""

    _SIG = b"\x89PNG\r\n\x1a\n"

    # -- chunk plumbing ---------------------------------------------------

    @classmethod
    def _chunks(cls, payload: bytes):
        import struct

        if payload[:8] != cls._SIG:
            raise ValueError("not a PNG payload")
        pos = 8
        while pos + 8 <= len(payload):
            (ln,), tag = struct.unpack(">I", payload[pos:pos + 4]), payload[pos + 4:pos + 8]
            data = payload[pos + 8:pos + 8 + ln]
            if len(data) < ln:
                raise ValueError(f"truncated PNG chunk at offset {pos}")
            yield tag, data
            pos += 12 + ln  # len + tag + data + crc

    @classmethod
    def _ihdr(cls, payload: bytes) -> tuple[int, int, int, int]:
        import struct

        for tag, data in cls._chunks(payload):
            if tag == b"IHDR":
                w, h, depth, ctype = struct.unpack(">IIBB", data[:10])
                return w, h, depth, ctype
        raise ValueError("PNG without IHDR")

    # -- decode -----------------------------------------------------------

    def decode(self, payload: bytes) -> dict:
        w, h, _, _ = self._ihdr(payload)
        return {"format": "png", "width": w, "height": h, "n_frames": 1}

    @classmethod
    def _pixels(cls, payload: bytes) -> tuple[int, int, int, bytearray]:
        """(width, height, bpp, raw pixel bytes) after unfiltering."""
        import zlib

        w, h, depth, ctype = cls._ihdr(payload)
        if depth != 8 or ctype not in (2, 6):
            raise ValueError(f"unsupported PNG (depth={depth}, color type={ctype})")
        bpp = 3 if ctype == 2 else 4
        raw = zlib.decompress(
            b"".join(d for t, d in cls._chunks(payload) if t == b"IDAT")
        )
        stride = w * bpp
        out = bytearray(h * stride)
        prev = bytearray(stride)
        for y in range(h):
            ftype = raw[y * (stride + 1)]
            line = bytearray(raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)])
            if ftype == 1:    # Sub
                for i in range(bpp, stride):
                    line[i] = (line[i] + line[i - bpp]) & 0xFF
            elif ftype == 2:  # Up
                for i in range(stride):
                    line[i] = (line[i] + prev[i]) & 0xFF
            elif ftype == 3:  # Average
                for i in range(stride):
                    left = line[i - bpp] if i >= bpp else 0
                    line[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
            elif ftype == 4:  # Paeth
                for i in range(stride):
                    a = line[i - bpp] if i >= bpp else 0
                    b = prev[i]
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    line[i] = (line[i] + pred) & 0xFF
            elif ftype != 0:
                raise ValueError(f"bad PNG filter type {ftype}")
            out[y * stride:(y + 1) * stride] = line
            prev = line
        return w, h, bpp, out

    # -- encode -----------------------------------------------------------

    @staticmethod
    def encode_rgb(w: int, h: int, pixels: bytes) -> bytes:
        """Minimal RGB8 PNG writer (filter 0 rows)."""
        import struct
        import zlib

        def chunk(tag: bytes, data: bytes) -> bytes:
            return (struct.pack(">I", len(data)) + tag + data
                    + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

        stride = w * 3
        raw = b"".join(
            b"\x00" + bytes(pixels[y * stride:(y + 1) * stride]) for y in range(h)
        )
        return (PngCodec._SIG
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b""))

    def resize(self, payload: bytes, w: int, h: int) -> bytes:
        """Thumbnail semantics: fit within (w, h) preserving aspect,
        never upscale; nearest-neighbor resample; RGB8 PNG out."""
        sw, sh, bpp, px = self._pixels(payload)
        scale = min(w / sw, h / sh, 1.0)
        tw, th = max(1, int(sw * scale)), max(1, int(sh * scale))
        out = bytearray(tw * th * 3)
        for y in range(th):
            sy = min(sh - 1, int(y * sh / th))
            for x in range(tw):
                sx = min(sw - 1, int(x * sw / tw))
                src = (sy * sw + sx) * bpp
                dst = (y * tw + x) * 3
                out[dst:dst + 3] = px[src:src + 3]
        return self.encode_rgb(tw, th, bytes(out))

    def frame(self, payload: bytes, idx: int) -> bytes:
        """PNGs are single-frame: re-encode the image as RGB."""
        sw, sh, bpp, px = self._pixels(payload)
        if bpp == 3:
            return self.encode_rgb(sw, sh, bytes(px))
        rgb = bytearray(sw * sh * 3)
        for i in range(sw * sh):
            rgb[i * 3:i * 3 + 3] = px[i * 4:i * 4 + 3]
        return self.encode_rgb(sw, sh, bytes(rgb))


def resolve_codec(fake: bool, codec=None):
    """explicit codec > fake double > PIL if importable > pure-stdlib
    PNG codec (real branch, PNG-only)."""
    if codec is not None:
        return codec
    if fake:
        return FakeCodec()
    if pil_available():
        return PilCodec()
    return PngCodec()


def attach_binary(df: DataFrame, text_col: str = "text",
                  out_col: str = "payload") -> DataFrame:
    """Synthesize an opaque binary column (UTF-8 bytes of text) -- the
    testdata has no real media, so this provides the binary plumbing."""
    return df.withColumn(out_col, F.col(text_col).cast("binary"))


def decode_media(df: DataFrame, id_col: str = "doc_id",
                 payload_col: str = "payload", fake: bool = True,
                 codec=None) -> DataFrame:
    """Arrow-batched decode: mapInPandas over (id, payload)."""
    cdc = resolve_codec(fake, codec)

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                meta = cdc.decode(raw)
                rows.append({
                    "doc_id": doc_id, "n_bytes": len(raw), **meta,
                })
            yield pd.DataFrame(rows, columns=[f.name for f in DECODED_SCHEMA.fields])

    return df.select(id_col, payload_col).mapInPandas(decode_batches, DECODED_SCHEMA)


# --- feature extraction -----------------------------------------------------

FEATURE_DIM = 8

FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("features", ArrayType(FloatType())),
])


def extract_features(df: DataFrame, id_col: str = "doc_id",
                     payload_col: str = "payload", fake: bool = True,
                     featurizer=None) -> DataFrame:
    """Media -> fixed-dim feature vector (the embedding-model seam).

    Fake featurizer: FEATURE_DIM floats from the payload md5, each byte
    scaled to [0, 1).  Real deployments inject featurizer=(bytes ->
    list[float]) backed by CLIP/wav2vec etc.; the Spark side (Arrow
    batches, array<float> output column ready for the similarity
    operators) is identical either way."""
    if featurizer is None:
        if not fake:
            raise NotImplementedError(
                "feature models unavailable; pass fake=True or inject featurizer="
            )

        def featurizer(raw: bytes) -> list[float]:
            h = hashlib.md5(raw).digest()
            return [h[i] / 256.0 for i in range(FEATURE_DIM)]

    def feat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                out.append({"doc_id": doc_id, "features": featurizer(raw)})
            yield pd.DataFrame(out, columns=["doc_id", "features"])

    return df.select(id_col, payload_col).mapInPandas(feat_batches, FEATURES_SCHEMA)


# --- resize -----------------------------------------------------------------

RESIZED_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("thumb", BinaryType()),
])


def resize_media(df: DataFrame, target_w: int = 64, target_h: int = 64,
                 id_col: str = "doc_id", payload_col: str = "payload",
                 fake: bool = True, codec=None) -> DataFrame:
    """Media -> bounded thumbnail.  Aspect ratio is preserved: the
    decoded (width, height) scales down to fit (target_w, target_h),
    never up.  Thumbnail bytes come from the codec's resize."""
    cdc = resolve_codec(fake, codec)

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                meta = cdc.decode(raw)
                scale = min(target_w / meta["width"], target_h / meta["height"], 1.0)
                w, h = max(1, int(meta["width"] * scale)), max(1, int(meta["height"] * scale))
                thumb = cdc.resize(raw, w, h)
                out.append({"doc_id": doc_id, "width": w, "height": h, "thumb": thumb})
            yield pd.DataFrame(out, columns=["doc_id", "width", "height", "thumb"])

    return df.select(id_col, payload_col).mapInPandas(resize_batches, RESIZED_SCHEMA)


# --- frame sampling ---------------------------------------------------------

FRAMES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame", BinaryType()),
])


def frame_sample(df: DataFrame, every_k: int = 4, id_col: str = "doc_id",
                 payload_col: str = "payload", fake: bool = True,
                 codec=None) -> DataFrame:
    """Video -> every k-th frame, one output row per sampled frame (the
    1->N fan-out shape: mapInPandas yields more rows than it consumes,
    so the explode happens executor-side with no driver involvement).
    Frame bytes come from the codec's frame extractor."""
    cdc = resolve_codec(fake, codec)

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                meta = cdc.decode(raw)
                for idx in range(0, meta["n_frames"], every_k):
                    out.append({"doc_id": doc_id, "frame_idx": idx,
                                "frame": cdc.frame(raw, idx)})
            yield pd.DataFrame(out, columns=["doc_id", "frame_idx", "frame"])

    return df.select(id_col, payload_col).mapInPandas(frame_batches, FRAMES_SCHEMA)
