"""Multimodal columns: images as opaque BinaryType + typed metadata
(SURVEY §2.8 E4/E5, north star).

The reference downloads images to local disk in a thread pool
(utils.py:76-131), transforms them with PIL (transformations/*.py), and
carries only a path column. Here images are **data**: a ``binary`` column
flows through the plan, decode/transform/encode run as column-preserving
Arrow-batched ``mapInPandas`` UDFs, failures become NULL content (P7/P8) —
no shared filesystem required, which is the difference between "works on one
box" and "works on 1000 executors".

Codec strategy: PIL is not in this container, so the *Spark-side plumbing*
(schema, batch shape, partitioning, error paths) is exercised with RawGrid —
a deterministic toy raster format implemented on numpy alone. The PIL path is
plugged behind an import-guard with the same interface; swapping it in
changes no plan. Transformations mirror the reference's chain semantics:

* Resize → thumbnail-style max-dimension downscale, aspect preserved
  (resize_transformation.py:6-16)
* Compress → quality metadata rewrite (compression_transformation.py:8-16)
* WebP → format re-encode + extension rewrite (webp_transformation.py:7-24)
* chain driver → fold over transforms, error ⇒ failure row
  (utils.py:134-145; config compiler transformations/__init__.py:9-33)
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

try:  # real codec, used automatically when the container has PIL
    from PIL import Image  # noqa: F401

    HAS_PIL = True
except ImportError:
    HAS_PIL = False


class RawGrid:
    """Toy raster codec: 6-byte header (w, h, c as uint16 BE) + uint8 pixels.

    Deterministic and dependency-free — exists so the multimodal plumbing is
    REAL and testable without PIL. Not a production image format.
    """

    MAGIC = b"RG"

    @staticmethod
    def encode(arr: np.ndarray) -> bytes:
        h, w = arr.shape[:2]
        c = 1 if arr.ndim == 2 else arr.shape[2]
        return RawGrid.MAGIC + struct.pack(">HHH", w, h, c) + arr.astype(np.uint8).tobytes()

    @staticmethod
    def decode(data: bytes) -> np.ndarray:
        if data[:2] != RawGrid.MAGIC:
            raise ValueError("not a RawGrid payload")
        w, h, c = struct.unpack(">HHH", data[2:8])
        arr = np.frombuffer(data[8:], dtype=np.uint8)
        if arr.size != w * h * c:
            raise ValueError("truncated RawGrid payload")
        return arr.reshape((h, w, c)) if c > 1 else arr.reshape((h, w))


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}  # channels -> PNG color type


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib

    return struct.pack(">I", len(data)) + tag + data + struct.pack(
        ">I", zlib.crc32(tag + data) & 0xFFFFFFFF
    )


def encode_png(arr: np.ndarray) -> bytes:
    """Encode a uint8 array as PNG with the stdlib only (zlib + struct).

    Supports 8-bit gray / gray+alpha / RGB / RGBA, no interlace, filter 0
    per scanline — a valid, universally readable PNG (parity target:
    the reference's PIL ``Image.save(format="PNG")``, utils.py:64-73).
    Exists because this container ships no PIL; the PIL path is used
    automatically when available.
    """
    import zlib

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        h, w, c = arr.shape[0], arr.shape[1], 1
    elif arr.ndim == 3 and arr.shape[2] in (1, 2, 3, 4):
        h, w, c = arr.shape
    else:
        raise ValueError(f"encode_png: unsupported array shape {arr.shape}")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _PNG_COLOR_TYPE[c], 0, 0, 0)
    raw = arr.reshape(h, w * c)
    # filter byte 0 (None) prepended to every scanline
    scanlines = np.concatenate([np.zeros((h, 1), np.uint8), raw], axis=1).tobytes()
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scanlines, 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced PNG (all 5 scanline filters) to a
    uint8 array — gray → (h, w), multi-channel → (h, w, c).

    Dependency-free counterpart of ``encode_png`` so binary image columns
    round-trip without PIL; not a general-purpose decoder (no palette, no
    16-bit, no interlace).
    """
    import zlib

    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = len(_PNG_SIG), None, b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0:
        raise ValueError("decode_png: only 8-bit non-interlaced PNGs supported")
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"decode_png: unsupported color type {color}")
    stride = w * channels
    flat = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    if flat.size != h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    rows = flat.reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = channels  # bytes per pixel at depth 8
    for y in range(h):
        ftype, line = rows[y, 0], rows[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need the running left pixel
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                up = prev[x]
                ul = prev[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    base = left
                elif ftype == 3:
                    base = (left + up) // 2
                elif ftype == 4:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    base = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                else:
                    raise ValueError(f"decode_png: bad filter type {ftype}")
                cur[x] = (line[x] + base) & 0xFF
        out[y] = cur.astype(np.uint8)
    arr = out.reshape(h, w, channels)
    return arr[:, :, 0] if channels == 1 else arr


@dataclass(frozen=True)
class ImageTransformationBase:
    """Parity with transformations/image_transformation_base.py:6-16."""

    def apply(self, arr: np.ndarray) -> np.ndarray:  # pragma: no cover - abstract
        raise NotImplementedError


@dataclass(frozen=True)
class ResizeTransformation(ImageTransformationBase):
    """Thumbnail semantics (max W/H, aspect preserved) via stride sampling —
    the numpy stand-in for PIL.thumbnail (resize_transformation.py:6-16)."""

    max_width: int = 640
    max_height: int = 640

    def apply(self, arr: np.ndarray) -> np.ndarray:
        h, w = arr.shape[:2]
        scale = max(w / self.max_width, h / self.max_height, 1.0)
        if scale == 1.0:
            return arr
        step = int(np.ceil(scale))
        return arr[::step, ::step]


@dataclass(frozen=True)
class CompressTransformation(ImageTransformationBase):
    """Quantization stand-in for PIL optimize/dpi
    (compression_transformation.py:8-16): drop the low bits — deterministic,
    size-preserving, visibly 'compressed'."""

    bits: int = 4

    def apply(self, arr: np.ndarray) -> np.ndarray:
        mask = 0xFF << (8 - self.bits) & 0xFF
        return (arr & mask).astype(np.uint8)


@dataclass(frozen=True)
class WebPTransformation(ImageTransformationBase):
    """Format re-encode marker (webp_transformation.py:7-24). RawGrid has one
    layout, so the fake is the identity on pixels; the format tag column is
    rewritten by the chain driver (path .png→.webp parity)."""

    lossless: bool = True
    quality: int = 80

    def apply(self, arr: np.ndarray) -> np.ndarray:
        return arr


_TRANSFORM_REGISTRY = {
    "resize": ResizeTransformation,
    "compress": CompressTransformation,
    "webp": WebPTransformation,
}


def transformations_from_config(spec: Sequence[dict]) -> list[ImageTransformationBase]:
    """Config→chain compiler, mirroring create_image_transformations_from_config
    (transformations/__init__.py:9-33). Each entry: {type: str, **params}."""
    out = []
    for entry in spec:
        kind = entry["type"]
        if kind not in _TRANSFORM_REGISTRY:
            raise ValueError(f"unknown image transformation {kind!r}")
        params = {k: v for k, v in entry.items() if k != "type"}
        out.append(_TRANSFORM_REGISTRY[kind](**params))
    return out


def _with_binary(schema: StructType, col: str) -> StructType:
    """``schema`` with ``col`` a nullable binary field, in place or appended."""
    field = StructField(col, BinaryType(), True)
    if col in schema.names:
        return StructType([field if f.name == col else f for f in schema.fields])
    return StructType([*schema.fields, field])


def apply_image_transformations(
    df: DataFrame,
    transforms: Sequence[ImageTransformationBase],
    content_col: str = "content",
    format_col: str = "format",
) -> DataFrame:
    """E5: fold the transformation chain over a binary image column.

    Arrow-batched mapInPandas; decode → fold → re-encode per row, other
    columns passed through. Errors yield NULL content and keep the format (P8
    failure mask: filter ``content IS NOT NULL``); WebP sets ``webp`` on success.
    """
    to_webp = any(isinstance(t, WebPTransformation) for t in transforms)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # zip over columns, not .iterrows(): iterrows materializes a Series
        # per row and dominates the batch cost.
        for pdf in batches:
            blobs, fmts = [], []
            for content, fmt in zip(pdf[content_col], pdf[format_col]):
                try:
                    arr = RawGrid.decode(content)
                    for t in transforms:
                        arr = t.apply(arr)
                    blobs.append(RawGrid.encode(arr))
                    fmts.append("webp" if to_webp else fmt)
                except Exception:
                    blobs.append(None)
                    fmts.append(fmt)
            pdf[content_col] = blobs
            pdf[format_col] = fmts
            yield pdf

    return df.mapInPandas(run, _with_binary(df.schema, content_col))


def decode_image_metadata(
    df: DataFrame, id_col: str = "wikicaps_id", content_col: str = "content"
) -> DataFrame:
    """Feature extraction over the binary column: dimensions + mean
    intensity. The decode step is RawGrid (PIL absent); with PIL installed the
    same UDF decodes real formats."""
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("channels", IntegerType()),
            StructField("mean_intensity", DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, cs, ms = [], [], [], []
            for content in pdf[content_col]:
                try:
                    arr = RawGrid.decode(content)
                    h, w = arr.shape[:2]
                    c = 1 if arr.ndim == 2 else arr.shape[2]
                    ws.append(w)
                    hs.append(h)
                    cs.append(c)
                    ms.append(round(float(arr.mean()), 6))
                except Exception:
                    ws.append(None)
                    hs.append(None)
                    cs.append(None)
                    ms.append(None)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "channels": pd.array(cs, dtype="Int32"),
                    "mean_intensity": ms,
                }
            )

    return df.select(id_col, content_col).mapInPandas(run, schema)


def synth_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic RawGrid test images derived from an id column.

    Closed-form content so downstream decode/transform results are
    SQL-predictable (the multimodal oracle): for id k, a (h × w) single-
    channel grid with ``w = 8 + k % 64``, ``h = 8 + (7k) % 64`` and pixel
    ``p(i, j) = (k + 3i + 5j) % 256``. This is the stand-in for a real
    drop-folder of images; the Spark-side plumbing (binary column, Arrow
    batches, decode errors) is identical.
    """
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("content", BinaryType()),
            StructField("format", StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for k in pdf[id_col]:
                k = int(k)
                w, h = 8 + k % 64, 8 + (7 * k) % 64
                i = np.arange(h)[:, None]
                j = np.arange(w)[None, :]
                arr = ((k + 3 * i + 5 * j) % 256).astype(np.uint8)
                ids.append(k)
                blobs.append(RawGrid.encode(arr))
            yield pd.DataFrame({id_col: ids, "content": blobs, "format": "rawgrid"})

    return df.select(id_col).mapInPandas(run, schema)


def fetch_images(
    df: DataFrame,
    fetcher: Callable[[str, str], bytes | None] | None = None,
    url_col: str = "url",
    fallback_url_col: str | None = "fallback_url",
) -> DataFrame:
    """S7/E4: HTTP fetch as a distributed source operator.

    Direct-URL then fallback-URL retry, parity with download_wikimedia_img
    (utils.py:76-131: 0.5 s timeout, custom User-Agent, two-stage URL).
    ``fetcher(url, fallback) -> bytes | None`` is injectable so tests run
    without network; the default uses requests. Input columns pass through,
    plus a binary ``content`` column, NULL on failure (P7 null-drop shape).
    Idempotence against an existing sink is an anti-join on the id column
    done by the caller (utils.py:84-86 parity).
    """
    real_fetcher = fetcher or _default_fetcher

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            fbs = pdf[fallback_url_col] if fallback_url_col else [None] * len(pdf)
            for url, fb in zip(pdf[url_col], fbs):
                try:
                    blobs.append(real_fetcher(url, fb))
                except Exception:
                    blobs.append(None)
            pdf["content"] = blobs
            yield pdf

    return df.mapInPandas(run, _with_binary(df.schema, "content"))


def persist_images(
    df: DataFrame,
    dst_dir: str,
    fmt: str = "npy",
    id_col: str = "wikicaps_id",
    content_col: str = "content",
) -> None:
    """S8 binary sink (persist_img, utils.py:64-73; ImageOutputFormat enum
    utils.py:31-36): write each row's image to ``dst_dir/<id>.<fmt>``.

    Executor-side ``foreachPartition`` — each task writes its own partition's
    files, no driver collect; ``dst_dir`` must be shared storage on a real
    cluster. npy/npz encode the decoded array via numpy; png and jpg use PIL
    when present and the in-repo stdlib codecs otherwise (``encode_png``;
    baseline-DCT ``jpeg.encode_jpeg``, quality 85).
    """
    if fmt not in ("npy", "npz", "png", "jpg"):
        raise ValueError(f"unknown image output format {fmt!r}")

    def write_partition(rows) -> None:
        import io
        import os

        os.makedirs(dst_dir, exist_ok=True)
        for row in rows:
            content = row[content_col]
            if content is None:
                continue
            arr = RawGrid.decode(bytes(content))
            path = os.path.join(dst_dir, f"{row[id_col]}.{fmt}")
            if fmt == "npy":
                with open(path, "wb") as f:
                    np.save(f, arr)
            elif fmt == "npz":
                with open(path, "wb") as f:
                    np.savez_compressed(f, img=arr)
            elif fmt == "png" and not HAS_PIL:
                with open(path, "wb") as f:
                    f.write(encode_png(arr))
            elif fmt == "jpg" and not HAS_PIL:
                from wicsmmiretl_spark.multimodal.jpeg import encode_jpeg

                with open(path, "wb") as f:
                    f.write(encode_jpeg(arr, quality=85))
            else:  # pragma: no cover - requires PIL
                from PIL import Image

                buf = io.BytesIO()
                Image.fromarray(arr).save(buf, format="PNG" if fmt == "png" else "JPEG")
                with open(path, "wb") as f:
                    f.write(buf.getvalue())

    df.select(id_col, content_col).foreachPartition(write_partition)


def _default_fetcher(url: str, fallback: str | None) -> bytes | None:
    """requests-based fetcher with the reference's timeout/fallback behavior."""
    import requests

    headers = {"User-Agent": "wicsmmiretl-spark/0.1 (image fetch operator)"}
    for u in [url] + ([fallback] if fallback else []):
        try:
            resp = requests.get(u, timeout=0.5, headers=headers)
            if resp.status_code == 200:
                return resp.content
        except requests.RequestException:
            continue
    return None


class RawVideo:
    """Toy video container: 2-byte magic + uint16 frame count, then each
    frame as a length-prefixed RawGrid payload. Exists for the same reason
    as RawGrid — the frame-sampling plumbing (binary column in, binary
    column out, Arrow batches) is real; the codec is swappable for a real
    one (PyAV/ffmpeg) without touching the plan."""

    MAGIC = b"RV"

    @staticmethod
    def encode(frames: list[np.ndarray]) -> bytes:
        out = [RawVideo.MAGIC, struct.pack(">H", len(frames))]
        for arr in frames:
            blob = RawGrid.encode(arr)
            out.append(struct.pack(">I", len(blob)))
            out.append(blob)
        return b"".join(out)

    @staticmethod
    def decode(data: bytes) -> list[np.ndarray]:
        if data[:2] != RawVideo.MAGIC:
            raise ValueError("not a RawVideo payload")
        (n,) = struct.unpack(">H", data[2:4])
        frames, off = [], 4
        for _ in range(n):
            (ln,) = struct.unpack(">I", data[off : off + 4])
            off += 4
            frames.append(RawGrid.decode(data[off : off + ln]))
            off += ln
        return frames


def synth_videos(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic RawVideo per id: ``n_frames = 1 + k % 7`` frames, frame
    f is the 8×8 grid ``p(i,j) = (k + f + i + j) % 256`` — closed-form so
    downstream sampling is SQL-predictable."""
    schema = StructType(
        [StructField(id_col, LongType()), StructField("video", BinaryType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for k in pdf[id_col]:
                k = int(k)
                n = 1 + k % 7
                i = np.arange(8)[:, None]
                j = np.arange(8)[None, :]
                frames = [((k + f + i + j) % 256).astype(np.uint8) for f in range(n)]
                blobs.append(RawVideo.encode(frames))
            yield pd.DataFrame({id_col: pdf[id_col].values, "video": blobs})

    return df.select(id_col).mapInPandas(run, schema)


def sample_frames(
    df: DataFrame, every_k: int = 2, id_col: str = "doc_id", video_col: str = "video"
) -> DataFrame:
    """North-star frame sampling: keep every k-th frame (frame 0 always).

    One row per sampled frame: (id, frame_idx, frame, mean_intensity) —
    decode → stride-sample → re-encode per frame, Arrow-batched. Failures
    (corrupt container) drop the row, the P8 anti-join shape."""
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame", BinaryType()),
            StructField("mean_intensity", DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, blobs, means = [], [], [], []
            for k, blob in zip(pdf[id_col], pdf[video_col]):
                try:
                    frames = RawVideo.decode(bytes(blob))
                except Exception:
                    continue
                for fi in range(0, len(frames), every_k):
                    ids.append(int(k))
                    idxs.append(fi)
                    blobs.append(RawGrid.encode(frames[fi]))
                    means.append(round(float(frames[fi].mean()), 6))
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="Int32"),
                    "frame": blobs,
                    "mean_intensity": means,
                }
            )

    return df.select(id_col, video_col).mapInPandas(run, schema)
