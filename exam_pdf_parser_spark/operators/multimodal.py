"""Multimodal column handling: media payloads as opaque ``binary``
columns with typed metadata, processed in Arrow batches.

The IMAGE path is fully real: PNG (full baseline spec — all five
color types, depths 1-16, all filters, Adam7) and GIF (incl.
animation compositing) decode via the repo's stdlib codecs
(``core/{png,gif}.py``), with genuine pixel features
(``image_pixel_features``) and pixel-level block-mean resize.
``parse_meta`` recognizes only containers that some decoder here
handles; any other container reads corrupt.  Audio and video exist
only as kinds of the synthetic XMED1 container below: Spark-side its
schemas, batch shapes, ``mapInPandas`` signatures, partitioning, frame
slicing and a codec-free byte-histogram embedding are real and tested.

XMED1 payload format (synthetic): b"XMED1" + kind(1B: I/A/V) +
width(2B) + height(2B) + n_frames(2B) + body bytes (seeded).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType,
    LongType, StringType, StructField, StructType,
)

MAGIC = b"XMED1"
KINDS = {"I": "image", "A": "audio", "V": "video"}

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("payload", BinaryType(), False),
])

META_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_frames", IntegerType(), True),
    StructField("n_bytes", IntegerType(), False),
    StructField("valid", StringType(), False),
])


def encode_media(media_id: int, kind: str, width: int, height: int,
                 n_frames: int, seed: int = 42) -> bytes:
    rng = np.random.default_rng(seed * 1_000_003 + media_id)
    body = rng.integers(0, 256, size=width * height // 16,
                        dtype=np.uint8).tobytes()
    k = {v: k for k, v in KINDS.items()}[kind]
    return (MAGIC + k.encode()
            + struct.pack(">HHH", width, height, n_frames) + body)


def media_corpus(spark: SparkSession, n: int, seed: int = 42,
                 partitions: int = 8) -> DataFrame:
    """Deterministic synthetic media table, generated distributed."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, payloads = [], [], []
            for i in pdf["id"]:
                i = int(i)
                kind = ["image", "audio", "video"][i % 3]
                w, h = 64 + (i % 8) * 16, 64 + (i % 5) * 16
                frames = 1 if kind == "image" else 8 + i % 24
                ids.append(i)
                kinds.append(kind)
                payloads.append(encode_media(i, kind, w, h, frames, seed))
            yield pd.DataFrame(
                {"media_id": ids, "kind": kinds, "payload": payloads})

    return spark.range(0, n, 1, partitions).mapInPandas(gen, MEDIA_SCHEMA)


def parse_meta(payload: bytes) -> dict:
    """Decode the typed header: the synthetic container, plus REAL
    header-only metadata for every container the decoders here handle
    — PNG IHDR and GIF screen descriptor + frame count.  Header probes
    never need a pixel codec; see ``decode_image`` for what PAYLOAD
    decode covers."""
    if payload[:5] == MAGIC and len(payload) >= 12:
        kind = KINDS.get(chr(payload[5]))
        w, h, f = struct.unpack(">HHH", payload[6:12])
        return {"kind": kind, "width": w, "height": h, "n_frames": f,
                "valid": "ok"}
    for probe in (_png_dims, _gif_dims):
        meta = probe(payload)
        if meta is not None:
            return meta
    return {"kind": None, "width": None, "height": None,
            "n_frames": None, "valid": "corrupt"}


def _png_dims(payload: bytes) -> dict | None:
    """PNG IHDR: width/height are big-endian uint32 at bytes 16-24."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n" or len(payload) < 24:
        return None
    w, h = struct.unpack(">II", payload[16:24])
    return {"kind": "image", "width": w, "height": h, "n_frames": 1,
            "valid": "ok"}


def _gif_dims(payload: bytes) -> dict | None:
    """GIF logical screen descriptor: width/height are LITTLE-endian
    uint16 at bytes 6-10; n_frames counts image descriptors via the
    block walk (``core/gif.py``, no pixel decode) — NULL for a
    truncated or descriptor-less stream."""
    from ..core.gif import gif_frame_count

    if payload[:6] not in (b"GIF87a", b"GIF89a") or len(payload) < 10:
        return None
    w, h = struct.unpack("<HH", payload[6:10])
    return {"kind": "image", "width": w, "height": h,
            "n_frames": gif_frame_count(payload), "valid": "ok"}


_I32_MAX = (1 << 31) - 1


def _sat32(v: int | None) -> int | None:
    """Saturate to the int32 schema column.  A count read from a
    payload header is outside input, not bounded by the schema; silent
    Arrow wraparound would report a wrong (possibly negative) count,
    so clamp at the schema max."""
    return v if v is None or v <= _I32_MAX else _I32_MAX


def extract_metadata(media: DataFrame) -> DataFrame:
    """payload → typed metadata columns (Arrow-batched, no shuffle).
    ``n_frames`` saturates at int32 max (see ``_sat32``); Python
    callers get the exact value from ``parse_meta`` directly."""
    src = media.select("media_id", "kind", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(
                    pdf["media_id"], pdf["kind"], pdf["payload"]):
                payload = bytes(payload)
                meta = parse_meta(payload)
                rows.append({
                    "media_id": int(mid),
                    "kind": kind,
                    "width": meta["width"],
                    "height": meta["height"],
                    "n_frames": _sat32(meta["n_frames"]),
                    "n_bytes": len(payload),
                    "valid": meta["valid"],
                })
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              META_SCHEMA.fields])

    return src.mapInPandas(run, META_SCHEMA)


FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("feature", ArrayType(FloatType()), False),
])


def byte_histogram_features(media: DataFrame, bins: int = 16) -> DataFrame:
    """Codec-free feature extraction: normalized byte histogram of the
    body — a real, deterministic embedding usable by the similarity
    operators (``operators.similarity``)."""
    src = media.select("media_id", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                body = np.frombuffer(bytes(payload)[12:], dtype=np.uint8)
                if body.size == 0:
                    hist = np.zeros(bins, dtype=np.float32)
                else:
                    hist = np.bincount(body >> 4, minlength=bins)[:bins]
                    hist = (hist / hist.sum()).astype(np.float32)
                ids.append(int(mid))
                feats.append(hist.tolist())
            yield pd.DataFrame({"media_id": ids, "feature": feats})

    return src.mapInPandas(run, FEATURE_SCHEMA)


class _PassThrough(Exception):
    """Internal: route a resize_media row through unchanged."""


def resize_media(media: DataFrame, scale_num: int = 1,
                 scale_den: int = 2) -> DataFrame:
    """Resize stage: emits payloads with scaled dimensions and a
    deterministically downsampled body (every ``scale_den``-th byte of
    every ``scale_num``) — the Spark-side shape of a real resize (a
    codec would produce resampled pixels here; the header arithmetic,
    schema, and batch plumbing are the real thing)."""
    src = media.select("media_id", "kind", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one output frame PER input batch — never buffer the whole
        # partition's binaries in memory
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "payload": []}
            for mid, kind, payload in zip(
                    pdf["media_id"], pdf["kind"], pdf["payload"]):
                payload = bytes(payload)
                try:
                    meta = parse_meta(payload)
                    # only the synthetic XMED container is re-headered
                    # here (real formats resize via resize_images);
                    # everything else — including corrupt payloads —
                    # passes through untouched, nothing is dropped
                    if payload[:5] != MAGIC or meta["valid"] != "ok":
                        raise _PassThrough
                    # header fields are uint16 — clamp upscales
                    w = min(65535, max(
                        1, meta["width"] * scale_num // scale_den))
                    h = min(65535, max(
                        1, meta["height"] * scale_num // scale_den))
                    body = payload[12:]
                    stride = max(1, scale_den // max(1, scale_num))
                    k = {v: kk for kk, v in KINDS.items()}[meta["kind"]]
                    out_payload = (
                        MAGIC + k.encode()
                        + struct.pack(">HHH", w, h,
                                      min(65535, meta["n_frames"] or 0))
                        + body[::stride])
                except Exception:   # quarantine contract: never fail
                    out_payload = payload
                rows["media_id"].append(int(mid))
                rows["kind"].append(kind)
                rows["payload"].append(out_payload)
            if rows["media_id"]:
                yield pd.DataFrame(rows)

    return src.mapInPandas(run, MEDIA_SCHEMA)


FRAME_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_idx", IntegerType(), False),
    StructField("frame", BinaryType(), False),
])


def sample_frames(media: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame sampling for video payloads: slice the body into n_frames
    segments, keep every ``every_n``-th (real slicing over the synthetic
    container; a real decoder would produce pixel buffers here)."""
    src = media.filter(F.col("kind") == "video").select("media_id", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload)
                meta = parse_meta(payload)
                if meta["valid"] != "ok" or not meta["n_frames"]:
                    continue
                body = payload[12:]
                n = meta["n_frames"]
                size = max(1, len(body) // n)
                for idx in range(0, n, every_n):
                    rows.append({
                        "media_id": int(mid),
                        "frame_idx": idx,
                        "frame": body[idx * size:(idx + 1) * size],
                    })
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx",
                                              "frame"])

    return src.mapInPandas(run, FRAME_SCHEMA)


def decode_image(payload: bytes) -> np.ndarray:
    """Image decode via the repo's stdlib codecs: grayscale PNG
    (``core/png.py``) and single-frame GIF incl. interlace
    (``core/gif.py``, full variable-width LZW) — both REAL, no raster
    library.  Any other container raises ``NotImplementedError``."""
    from ..core.gif import GIF_SIGS, decode_gif_gray
    from ..core.png import PNG_SIG, decode_png_gray

    if payload[:8] == PNG_SIG:
        return decode_png_gray(payload)
    if payload[:6] in GIF_SIGS:
        return decode_gif_gray(payload)
    raise NotImplementedError("unrecognized image container stubbed")


# --- REAL image pipeline over PNG payloads (core/png.py codec) ---------------

IMAGE_FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("mean_intensity", FloatType(), True),
    StructField("std_intensity", FloatType(), True),
    StructField("edge_density", FloatType(), True),
    StructField("valid", StringType(), False),
])


def png_media_corpus(spark: SparkSession, n: int, seed: int = 42,
                     partitions: int = 8) -> DataFrame:
    """Deterministic media table whose payloads are REAL grayscale
    PNGs (seeded gradient + noise patterns), generated distributed."""
    from ..core.png import encode_png_gray

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "payload": []}
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng(seed * 1_000_003 + i)
                w, h = 32 + (i % 8) * 8, 32 + (i % 5) * 8
                yy, xx = np.mgrid[0:h, 0:w]
                img = ((xx * 255 // max(1, w - 1)) // 2
                       + rng.integers(0, 64, size=(h, w))).astype(np.uint8)
                rows["media_id"].append(i)
                rows["kind"].append("image")
                rows["payload"].append(encode_png_gray(img))
            yield pd.DataFrame(rows)

    return spark.range(0, n, 1, partitions).mapInPandas(gen, MEDIA_SCHEMA)


def real_media_corpus(spark: SparkSession, n: int, seed: int = 42,
                      partitions: int = 8) -> DataFrame:
    """Deterministic image table that rotates through the REAL
    encoders this repo carries — the shape of a mixed crawl batch:
    rows alternate PNG/GIF.  Every payload round-trips through
    parse_meta and ``image_pixel_features`` (see
    ``test_real_media_corpus_mixed`` for the end-to-end drive)."""
    from ..core.gif import encode_gif_gray
    from ..core.png import encode_png_gray

    def one(i: int) -> bytes:
        rng = np.random.default_rng(seed * 1_000_003 + i)
        w, h = 24 + (i % 6) * 8, 24 + (i % 4) * 8
        yy, xx = np.mgrid[0:h, 0:w]
        img = ((xx * 4 + yy * 2) % 240
               + rng.integers(0, 16, (h, w))).astype(np.uint8)
        if i % 2 == 0:
            return encode_png_gray(img)
        return encode_gif_gray(img)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "payload": []}
            for i in pdf["id"]:
                rows["media_id"].append(int(i))
                rows["kind"].append("image")
                rows["payload"].append(one(int(i)))
            if rows["media_id"]:
                yield pd.DataFrame(rows)

    return spark.range(0, n, 1, partitions).mapInPandas(gen, MEDIA_SCHEMA)


def image_pixel_features(media: DataFrame) -> DataFrame:
    """REAL decode + pixel statistics per image (Arrow-batched, no
    shuffle): dimensions, mean/std intensity, and edge density
    (mean absolute horizontal gradient / 255).  Corrupt payloads are
    quarantined as rows with valid='corrupt', never dropped."""
    src = media.select("media_id", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in IMAGE_FEATURE_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    img = decode_image(bytes(payload))
                    gx = np.abs(np.diff(img.astype(np.int16), axis=1))
                    rows.append({
                        "media_id": int(mid),
                        "width": img.shape[1], "height": img.shape[0],
                        "mean_intensity": float(img.mean()),
                        "std_intensity": float(img.std()),
                        "edge_density": float(gx.mean() / 255.0)
                        if gx.size else 0.0,
                        "valid": "ok",
                    })
                except Exception:
                    rows.append({
                        "media_id": int(mid), "width": None, "height": None,
                        "mean_intensity": None, "std_intensity": None,
                        "edge_density": None, "valid": "corrupt",
                    })
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(run, IMAGE_FEATURE_SCHEMA)


def resize_images(media: DataFrame, factor: int = 2) -> DataFrame:
    """REAL pixel resize: block-mean downsampling by an integer factor,
    re-encoded as PNG.  Corrupt payloads pass through untouched."""
    from ..core.png import encode_png_gray

    if factor < 1:
        raise ValueError("factor must be >= 1")
    src = media.select("media_id", "kind", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "payload": []}
            for mid, kind, payload in zip(
                    pdf["media_id"], pdf["kind"], pdf["payload"]):
                payload = bytes(payload)
                try:
                    img = decode_image(payload)
                    h, w = img.shape
                    h2, w2 = max(1, h // factor), max(1, w // factor)
                    small = (
                        img[:h2 * factor, :w2 * factor]
                        .reshape(h2, factor, w2, factor)
                        .mean(axis=(1, 3)).astype(np.uint8)
                    )
                    payload = encode_png_gray(small)
                except Exception:
                    pass   # corrupt → pass through; metadata stage flags
                rows["media_id"].append(int(mid))
                rows["kind"].append(kind)
                rows["payload"].append(payload)
            if rows["media_id"]:
                yield pd.DataFrame(rows)

    return src.mapInPandas(run, MEDIA_SCHEMA)
