"""Multimodal column handling: image/audio/video as opaque ``binary``
columns with typed metadata, processed in Arrow batches.

The IMAGE path is fully real: PNG (full baseline spec — all five
color types, depths 1-16, all filters, Adam7), GIF (incl. animation
compositing), baseline/progressive JPEG incl. EXIF orientation,
12-bit precision and 4-component Adobe CMYK/YCCK frames,
TIFF (none/LZW+predictor/
JPEG-strips/deflate/PackBits, strip- or tile-organized, gray incl.
16-bit/RGB/RGBA/palette/CMYK/YCbCr) and BMP (1/4/8/16/24/32-bit,
BI_BITFIELDS, RLE4/RLE8, OS/2 core header) decode via the repo's
stdlib codecs (``core/{png,gif,jpeg,tiff,bmp}.py``), with genuine
pixel features (``image_pixel_features``) and pixel-level block-mean
resize.  The AUDIO path (``core/audio.py``): WAV PCM 8/16/24/32 +
WAVE_FORMAT_EXTENSIBLE, G.711 µ-law/a-law, mono+stereo IMA-ADPCM,
AIFF/AIFF-C, Sun AU, AVI audio tracks and the PCM/G.711 tracks of
ISO BMFF and Matroska — ``decode_audio`` + ``wav_audio_features``
(duration, RMS, peak, zero crossings).  The VIDEO path: MJPEG/rawvideo-in-AVI
(``core/avi.py`` RIFF walk + per-frame JPEG/BMP), MJPEG-in-BMFF
(``core/mp4.py``), MJPEG-in-Matroska (``core/ebml.py``) and animated
GIF — ``decode_video`` + per-frame ``video_frame_features`` (dims,
mean intensity, motion) with image-style quarantine.  ``parse_meta``
and ``track_inventory`` recognize only containers that some decoder
here handles; BMFF/Matroska tracks in other codecs (H.264, VP9, AAC…)
report their header metadata and ``decodable=false`` and fail loudly
(``NotImplementedError``) at sample decode.  Spark-side everything is
real and tested: schemas, batch shapes, ``mapInPandas`` signatures,
partitioning, and a codec-free byte-histogram embedding.

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
    ArrayType, BinaryType, BooleanType, FloatType, IntegerType,
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
    — PNG IHDR, JPEG SOF, GIF screen descriptor + frame count, TIFF
    first IFD, BMP, AVI avih, ISO BMFF mp4/mov/m4a (moov/mvhd
    duration, tkhd dims, hdlr kinds), Matroska/WebM EBML (Segment/Info
    duration, Tracks dims), WAV fmt (incl. compressed codecs), AIFF,
    AU.  Header probes never need a pixel/sample codec; see
    ``decode_image`` / ``decode_audio`` / ``decode_video`` for what
    PAYLOAD decode covers.  BMFF/EBML results carry an extra
    ``duration_ms`` key for Python callers."""
    if payload[:5] == MAGIC and len(payload) >= 12:
        kind = KINDS.get(chr(payload[5]))
        w, h, f = struct.unpack(">HHH", payload[6:12])
        return {"kind": kind, "width": w, "height": h, "n_frames": f,
                "valid": "ok"}
    for probe in (_png_dims, _jpeg_dims, _gif_dims, _tiff_bmp_dims,
                  _avi_dims, _bmff_meta, _ebml_probe, _wav_meta,
                  _aiff_au_meta):
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


def _jpeg_dims(payload: bytes) -> dict | None:
    """JPEG: walk the marker stream from SOI to the first frame header
    (SOF0-SOF15 except DHT/JPG/DAC), whose body is
    ``precision u8, height u16be, width u16be``."""
    if payload[:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:          # desynchronized marker stream
            return None
        marker = payload[i + 1]
        if marker == 0xFF:              # fill byte
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2                      # standalone markers, no length
            continue
        seg_len = struct.unpack(">H", payload[i + 2:i + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > n:
                return None
            h, w = struct.unpack(">HH", payload[i + 5:i + 9])
            if marker == 0xC3 and i + 10 <= n and payload[i + 9] in (2, 4):
                # lossless CFA mosaic (CR2/DNG shape): the decoder
                # re-interleaves nc samples per MCU, so the real
                # raster width is SOF-width × nc
                w *= payload[i + 9]
            from ..core.jpeg import exif_orientation

            if exif_orientation(payload) >= 5:   # transposing EXIF
                w, h = h, w
            return {"kind": "image", "width": w, "height": h,
                    "n_frames": 1, "valid": "ok"}
        if marker == 0xDA:              # scan start before any SOF
            return None
        i += 2 + seg_len
    return None


def _wav_meta(payload: bytes) -> dict | None:
    """RIFF/WAVE header → (kind=audio, width=sample rate, height=
    channels, n_frames=sample frames) — real audio metadata with no
    codec work.  Walks the fmt chunk directly (``core/audio.py``), so
    compressed WAVs (µ-law/a-law/ADPCM) report their headers too."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    from ..core.audio import wav_info

    try:
        info = wav_info(payload)
    except Exception:
        info = None
    if info is None:
        return {"kind": "audio", "width": None, "height": None,
                "n_frames": None, "valid": "corrupt"}
    return {"kind": "audio", "width": info["rate"],
            "height": info["channels"],
            "n_frames": info["n_frames"], "valid": "ok"}


def _aiff_au_meta(payload: bytes) -> dict | None:
    """AIFF/AIFF-C and Sun AU headers → audio metadata."""
    from ..core.audio import aiff_info, au_info

    info = None
    if payload[:4] == b"FORM" and payload[8:12] in (b"AIFF", b"AIFC"):
        info = aiff_info(payload)
    elif payload[:4] == b".snd":
        info = au_info(payload)
    if info is None:
        return None
    ok = info.get("rate") is not None
    return {"kind": "audio", "width": info.get("rate"),
            "height": info.get("channels"),
            "n_frames": info.get("n_frames"),
            "valid": "ok" if ok else "corrupt"}


def _tiff_bmp_dims(payload: bytes) -> dict | None:
    """TIFF first-IFD / BMP header → real image dims, no pixel work."""
    from ..core.bmp import bmp_dims
    from ..core.tiff import tiff_dims

    dims = tiff_dims(payload) or bmp_dims(payload)
    if dims is None:
        return None
    return {"kind": "image", "width": dims[0], "height": dims[1],
            "n_frames": 1, "valid": "ok"}


def _avi_dims(payload: bytes) -> dict | None:
    """AVI avih header → real video dims with no codec
    (``core/avi.py`` bounded RIFF scan)."""
    from ..core.avi import avi_meta

    meta = avi_meta(payload)
    if meta is None:
        return None
    return {"kind": "video", "width": meta["width"],
            "height": meta["height"], "n_frames": meta["n_frames"],
            "valid": "ok"}


def _bmff_meta(payload: bytes) -> dict | None:
    """ISO BMFF (mp4/mov/m4a) header metadata via ``core/mp4.py``:
    dims from tkhd, duration from mvhd, kind from the hdlr track
    handlers.  ``duration_ms`` rides along as an extra key for Python
    callers (the Spark META_SCHEMA keeps its stable five columns).  A
    moov-less payload (init segment / truncated progressive file) is
    reported corrupt rather than fabricating dims."""
    from ..core.mp4 import mp4_meta

    m = mp4_meta(payload)
    if m is None:
        return None
    return {"kind": m["kind"], "width": m["width"], "height": m["height"],
            "n_frames": None, "duration_ms": m["duration_ms"],
            "valid": "ok" if m["complete"] else "corrupt"}


def _ebml_probe(payload: bytes) -> dict | None:
    """Matroska/WebM header metadata via ``core/ebml.py``: dims from
    Tracks/Video, duration from Segment/Info, kind from TrackType."""
    from ..core.ebml import ebml_meta

    m = ebml_meta(payload)
    if m is None:
        return None
    ok = m["doctype"] is not None and m["n_tracks"] > 0
    return {"kind": m["kind"], "width": m["width"], "height": m["height"],
            "n_frames": None, "duration_ms": m["duration_ms"],
            "valid": "ok" if ok else "corrupt"}


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
    """Saturate to the int32 schema column.  WAV frame counts are
    uint32 (data size / block align), spec-legal beyond int32; silent
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


def encode_audio_wav(samples: np.ndarray, rate: int = 16_000) -> bytes:
    """float32/float64 mono samples in [-1, 1] → 16-bit PCM WAV."""
    import io
    import wave

    pcm = np.clip(samples, -1.0, 1.0)
    pcm = (pcm * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL audio decode (``core/audio.py``, stdlib only): → (mono
    float64 samples in [-1, 1], sample rate).  Supported: WAV with
    PCM 8/16/24/32-bit, G.711 µ-law/a-law, and IMA-ADPCM (the
    RIFF fmt chunk is walked directly — the stdlib ``wave`` module
    refuses non-PCM); AIFF/AIFF-C; Sun AU (µ-law/a-law/PCM); an
    AVI's interleaved audio track (reassembled as a WAV from the auds
    WAVEFORMATEX + ``..wb`` chunks, then re-dispatched); and the
    PCM/G.711 audio tracks of ISO BMFF and Matroska.  Multi-channel
    input is averaged to mono.  Anything else raises
    ``NotImplementedError``."""
    from ..core.audio import decode_audio_any

    return decode_audio_any(payload)


AUDIO_FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("sample_rate", IntegerType(), True),
    StructField("duration_s", FloatType(), True),
    StructField("rms", FloatType(), True),
    StructField("peak", FloatType(), True),
    StructField("zero_crossings", IntegerType(), True),
    StructField("valid", StringType(), False),
])


def wav_audio_features(media: DataFrame) -> DataFrame:
    """REAL decode + signal statistics per WAV payload (Arrow-batched,
    no shuffle): duration, RMS, peak, zero-crossing count.  Corrupt or
    non-WAV payloads quarantine as valid='corrupt', never dropped."""
    src = media.select("media_id", "payload")
    cols = [f.name for f in AUDIO_FEATURE_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    x, rate = decode_audio(bytes(payload))
                    rows.append({
                        "media_id": int(mid), "sample_rate": rate,
                        "duration_s": float(len(x) / rate),
                        "rms": float(np.sqrt(np.mean(x * x))) if len(x)
                        else 0.0,
                        "peak": float(np.max(np.abs(x))) if len(x) else 0.0,
                        "zero_crossings": int(np.sum(
                            np.abs(np.diff(np.signbit(x))))) if len(x)
                        else 0,
                        "valid": "ok",
                    })
                except Exception:
                    rows.append({
                        "media_id": int(mid), "sample_rate": None,
                        "duration_s": None, "rms": None, "peak": None,
                        "zero_crossings": None, "valid": "corrupt",
                    })
            yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(run, AUDIO_FEATURE_SCHEMA)


def decode_image(payload: bytes) -> np.ndarray:
    """Image decode via the repo's stdlib codecs: grayscale PNG
    (``core/png.py``), single-frame GIF incl. interlace
    (``core/gif.py``, full variable-width LZW), baseline +
    progressive JPEG (``core/jpeg.py``, Huffman + successive
    approximation + IDCT, luma plane; 4-component Adobe CMYK/YCCK via
    the ink transform), TIFF (``core/tiff.py`` —
    none/LZW+predictor/JPEG-strips/deflate/PackBits, gray/RGB/RGBA/
    palette/CMYK/YCbCr incl. subsampled data units) and BMP
    (``core/bmp.py``, 1/4/8/16/24/32-bit incl. BI_BITFIELDS,
    RLE4/RLE8 and the OS/2 core header) — all REAL, no raster
    library.  Any other container raises ``NotImplementedError``."""
    from ..core.bmp import BMP_SIG, decode_bmp_gray
    from ..core.gif import GIF_SIGS, decode_gif_gray
    from ..core.jpeg import decode_jpeg_gray
    from ..core.png import PNG_SIG, decode_png_gray
    from ..core.tiff import TIFF_SIGS, decode_tiff_gray

    if payload[:8] == PNG_SIG:
        return decode_png_gray(payload)
    if payload[:6] in GIF_SIGS:
        return decode_gif_gray(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg_gray(payload)
    if payload[:4] in TIFF_SIGS:
        return decode_tiff_gray(payload)
    if payload[:2] == BMP_SIG:
        return decode_bmp_gray(payload)
    raise NotImplementedError("unrecognized image container stubbed")


# --- REAL video pipeline: MJPEG-in-AVI (core/avi.py + core/jpeg.py) ----------


def encode_video_avi(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """Grayscale frame arrays → an MJPEG AVI (each frame through the
    stdlib JPEG encoder, wrapped in the RIFF container)."""
    from ..core.avi import encode_avi_mjpeg
    from ..core.jpeg import encode_jpeg_gray

    h, w = frames[0].shape
    return encode_avi_mjpeg([encode_jpeg_gray(f) for f in frames],
                            w, h, fps)


def decode_video(payload: bytes) -> list[np.ndarray]:
    """REAL video decode for AVI: RIFF walk (``core/avi.py``) hands
    each frame chunk to the stdlib JPEG decoder (MJPEG), or — when the
    stream format declares BI_RGB 'rawvideo' — wraps the headerless
    DIB pixel array with its strf BITMAPINFOHEADER as a BMP, reusing
    the tested 1/4/8/16/24/32-bpp depth matrix.  Every other container
    (mp4/webm/mkv — inter-frame codecs with no stdlib path) stays a
    fail-loud stub for SAMPLE decode; their header metadata (dims,
    duration, track kinds) parses via ``parse_meta`` (``core/mp4.py``,
    ``core/ebml.py``)."""
    from ..core.avi import decode_avi
    from ..core.gif import GIF_SIGS, decode_gif_frames

    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        frames, meta = decode_avi(payload)
        if not frames:
            raise ValueError("AVI with no video frame chunks")
        strf = meta.get("strf")
        if strf is not None and strf[16:20] == b"\x00\x00\x00\x00":
            # biCompression == BI_RGB: raw DIB frames.  A BMP file is
            # exactly BITMAPFILEHEADER + this strf (header+palette) +
            # the pixel array, so synthesize one per frame.
            off = 14 + len(strf)
            return [decode_image(
                b"BM" + struct.pack("<IHHI", off + len(f), 0, 0, off)
                + strf + f) for f in frames]
        return [decode_image(f) for f in frames]
    if payload[:6] in GIF_SIGS:
        # animated GIF: canvas-composited frames (transparency and
        # disposal honored) — a single-frame GIF yields one frame
        return decode_gif_frames(payload)
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        from ..core.mp4 import mp4_tracks

        vids = [t for t in mp4_tracks(payload) if t["kind"] == "vide"]
        mj = next((t for t in vids if t["codec"] == "jpeg"), None)
        if mj is not None:
            # MJPEG-in-BMFF: every stbl sample is a whole JPEG stream
            return [decode_image(payload[o:o + s])
                    for o, s in mj["samples"]]
        codecs = sorted({t["codec"] for t in vids})
        raise NotImplementedError(
            f"BMFF video codec(s) {codecs or ['<none>']} are "
            "inter-frame codecs with no stdlib path; only MJPEG "
            "('jpeg') sample tracks decode — fail-loud by design")
    if payload[:4] == b"\x1aE\xdf\xa3":
        from ..core.ebml import mkv_tracks

        vids = [t for t in mkv_tracks(payload) if t["kind"] == "video"]
        mj = next(
            (t for t in vids
             if t["codec_id"] == "V_MJPEG"
             or (t["codec_id"] == "V_MS/VFW/FOURCC"
                 and t["codec_private"][16:20] == b"MJPG")), None)
        if mj is not None:
            # MJPEG-in-Matroska: every Block frame is a whole JPEG
            return [decode_image(payload[o:o + s])
                    for o, s in mj["frames"]]
        codecs = sorted({t["codec_id"] for t in vids})
        raise NotImplementedError(
            f"Matroska video codec(s) {codecs or ['<none>']} are "
            "inter-frame codecs with no stdlib path; only MJPEG "
            "(V_MJPEG / VFW 'MJPG') tracks decode — fail-loud by "
            "design")
    raise NotImplementedError(
        "only MJPEG/rawvideo-in-AVI, MJPEG-in-BMFF/Matroska and "
        "animated GIF decode natively (core/{avi,mp4,ebml,gif,jpeg}"
        ".py); other containers need real inter-frame codecs absent "
        "from this environment — fail-loud by design")


VIDEO_FRAME_FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_idx", IntegerType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("mean_intensity", FloatType(), True),
    StructField("motion", FloatType(), True),
    StructField("valid", StringType(), False),
])


def video_frame_features(media: DataFrame, every_n: int = 1) -> DataFrame:
    """REAL per-frame features for MJPEG-in-AVI payloads
    (Arrow-batched, no shuffle): every ``every_n``-th frame decodes to
    pixels and reports dimensions, mean intensity, and motion (mean
    |Δ| vs the previous DECODED frame, scaled to [0,1]).  Same
    quarantine contract as images: a corrupt or non-AVI payload yields
    one valid='corrupt' row, never a failed task."""
    src = media.filter(F.col("kind") == "video").select(
        "media_id", "payload")
    cols = [f.name for f in VIDEO_FRAME_FEATURE_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    frames = decode_video(bytes(payload))
                    prev = None
                    for idx in range(0, len(frames), max(1, every_n)):
                        img = frames[idx].astype(np.float64)
                        motion = (
                            float(np.mean(np.abs(img - prev)) / 255.0)
                            if prev is not None and prev.shape == img.shape
                            else None)
                        rows.append({
                            "media_id": int(mid), "frame_idx": idx,
                            "width": int(img.shape[1]),
                            "height": int(img.shape[0]),
                            "mean_intensity": float(np.mean(img)),
                            "motion": motion, "valid": "ok",
                        })
                        prev = img
                except Exception:
                    rows.append({
                        "media_id": int(mid), "frame_idx": None,
                        "width": None, "height": None,
                        "mean_intensity": None, "motion": None,
                        "valid": "corrupt",
                    })
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(run, VIDEO_FRAME_FEATURE_SCHEMA)


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
    """Deterministic media table that rotates through the REAL
    encoders this repo carries — the shape of a mixed crawl batch:
    images cycle PNG/GIF/JPEG/TIFF (codec-rotated)/BMP, audio cycles
    WAV-PCM/µ-law/IMA-ADPCM/AIFF/AU, video cycles the four
    container paths MJPEG-AVI / rawvideo-AVI / MJPEG-in-BMFF /
    MJPEG-in-Matroska.  Every payload round-trips through parse_meta
    and its kind's feature operator (see ``test_real_media_corpus_mixed``
    for the end-to-end drive)."""
    from ..core.audio import encode_aiff, encode_au, encode_wav
    from ..core.avi import encode_avi_raw8
    from ..core.bmp import encode_bmp_gray
    from ..core.ebml import encode_mkv_mjpeg
    from ..core.gif import encode_gif_gray
    from ..core.jpeg import encode_jpeg_gray
    from ..core.mp4 import encode_mp4_mjpeg
    from ..core.png import encode_png_gray
    from ..core.tiff import encode_tiff_gray

    def one(i: int) -> tuple[str, bytes]:
        rng = np.random.default_rng(seed * 1_000_003 + i)
        kind = ["image", "audio", "video"][i % 3]
        if kind == "image":
            w, h = 24 + (i % 6) * 8, 24 + (i % 4) * 8
            yy, xx = np.mgrid[0:h, 0:w]
            img = ((xx * 4 + yy * 2) % 240
                   + rng.integers(0, 16, (h, w))).astype(np.uint8)
            enc = (i // 3) % 5
            if enc == 0:
                return kind, encode_png_gray(img)
            if enc == 1:
                return kind, encode_gif_gray(img)
            if enc == 2:
                return kind, encode_jpeg_gray(img)
            if enc == 3:
                codec = ("none", "packbits", "lzw")[(i // 15) % 3]
                pred = 2 if codec == "lzw" else 1
                return kind, encode_tiff_gray(img, codec=codec,
                                              predictor=pred)
            return kind, encode_bmp_gray(img)
        if kind == "audio":
            t = np.arange(2000 + (i % 5) * 400) / 8000.0
            sine = 0.4 * np.sin(2 * np.pi * (200 + i % 7 * 60) * t)
            enc = (i // 3) % 5
            if enc == 0:
                return kind, encode_wav(sine, 8000, "pcm")
            if enc == 1:
                return kind, encode_wav(sine, 8000, "ulaw")
            if enc == 2:
                return kind, encode_wav(sine, 8000, "adpcm")
            if enc == 3:
                return kind, encode_aiff(sine, 8000)
            return kind, encode_au(sine, 8000, "pcm16")
        frames = [np.full((16, 16), (f * 37 + i) % 255, np.uint8)
                  for f in range(3 + i % 4)]
        enc = (i // 3) % 4
        if enc == 1:
            return kind, encode_avi_raw8(frames, fps=10)
        if enc >= 2:
            jf = [encode_jpeg_gray(f) for f in frames]
            mux = encode_mp4_mjpeg if enc == 2 else encode_mkv_mjpeg
            return kind, mux(jf, 16, 16, fps=10)
        return kind, encode_video_avi(frames, fps=10)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "payload": []}
            for i in pdf["id"]:
                kind, payload = one(int(i))
                rows["media_id"].append(int(i))
                rows["kind"].append(kind)
                rows["payload"].append(payload)
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


# --- Track inventory: the cheap routing pass before any decode ---------------

TRACK_INVENTORY_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("container", StringType(), True),
    StructField("track_idx", IntegerType(), True),
    StructField("kind", StringType(), True),
    StructField("codec", StringType(), True),
    StructField("n_samples", IntegerType(), True),
    StructField("decodable", BooleanType(), True),
    StructField("valid", StringType(), False),
])

# WAVEFORMATEX tags the WAV decode matrix handles (PCM, G.711, IMA)
_WAV_DECODABLE_TAGS = {0x0001, 0x0006, 0x0007, 0x0011}


def track_inventory(payload: bytes) -> list[dict]:
    """Per-track container inventory WITHOUT decoding any sample —
    the cheap metadata pass a 100 TB crawl runs first, so the
    expensive decode stage only ever sees payloads it can decode and
    undecodable media is counted/routed, not discovered by exception.

    Each row: ``{container, track_idx, kind, codec, n_samples,
    decodable, valid}``.  ``decodable`` reflects this repo's shipped
    codec matrix (header-level: an unusual in-stream feature can
    still quarantine at decode time).  Malformed containers raise —
    the Spark wrapper (``media_track_inventory``) quarantines them as
    a single valid='corrupt' row."""

    def row(container, idx, kind, codec, n, dec):
        return {"container": container, "track_idx": idx, "kind": kind,
                "codec": codec, "n_samples": n, "decodable": bool(dec),
                "valid": "ok"}

    # --- AVI: counting walk, no frame copies -------------------------
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        from ..core.avi import riff_chunks

        end = min(len(payload),
                  8 + struct.unpack_from("<I", payload, 4)[0])
        streams: list[dict] = []
        counts: dict[int, int] = {}

        def walk(s, e):
            for fourcc, body, size in riff_chunks(payload, s, e):
                if fourcc == b"LIST":
                    lt = payload[body:body + 4]
                    if lt in (b"hdrl", b"strl", b"movi", b"rec "):
                        walk(body + 4, body + size)
                elif fourcc == b"strh" and size >= 8:
                    st = payload[body:body + 4]
                    streams.append({
                        "kind": ("video" if st == b"vids" else
                                 "audio" if st == b"auds" else "other"),
                        "codec": None, "tag": None})
                elif fourcc == b"strf" and streams:
                    # size minimums mirror decode_avi's: a shorter strf
                    # is dropped there, so it must not read decodable
                    s0 = streams[-1]
                    if s0["kind"] == "video" and size >= 40:
                        comp = payload[body + 16:body + 20]
                        s0["codec"] = (
                            "rawvideo" if comp == b"\x00\x00\x00\x00"
                            else comp.decode("latin-1").strip("\0 ")
                            .lower())
                    elif s0["kind"] == "audio" and size >= 16:
                        (tag,) = struct.unpack_from("<H", payload, body)
                        if tag == 0xFFFE and size >= 40:
                            (tag,) = struct.unpack_from(
                                "<H", payload, body + 24)
                        s0["tag"] = tag
                        s0["codec"] = f"wav_0x{tag:04x}"
                elif fourcc[2:4] in (b"dc", b"db", b"wb") \
                        and fourcc[:2].isdigit():
                    si = int(fourcc[:2])
                    counts[si] = counts.get(si, 0) + 1

        walk(12, end)
        if not streams:
            raise ValueError("AVI without stream headers")
        # decode_video/avi_audio_wav also need at least one chunk
        return [row("avi", i, s0["kind"], s0["codec"], counts.get(i),
                    bool(counts.get(i))
                    and (s0["codec"] in ("mjpg", "rawvideo")
                         if s0["kind"] == "video"
                         else s0["tag"] in _WAV_DECODABLE_TAGS))
                for i, s0 in enumerate(streams)]

    # --- ISO BMFF: stbl walk ships (offset, size) tuples only --------
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        from ..core.mp4 import mp4_tracks

        rows = []
        for i, t in enumerate(mp4_tracks(payload)):
            kind = ("video" if t["kind"] == "vide" else
                    "audio" if t["kind"] == "soun" else "other")
            if kind == "video":
                dec = t["codec"] == "jpeg"
            elif kind == "audio":
                # the decoder also demands a sample rate, and the PCM
                # widths mirror _decode_bmff_audio exactly: 'twos'
                # ships the depths _pcm_to_float handles, 'sowt' is
                # 16-bit by definition (any other declared depth
                # refuses loudly in the decoder)
                dec = bool(t["rate"]) and (
                    t["codec"] in ("ulaw", "alaw")
                    or (t["codec"] == "twos"
                        and (t["sample_bits"] or 16) in (8, 16, 24, 32))
                    or (t["codec"] == "sowt"
                        and (t["sample_bits"] or 16) == 16)
                    or (t["codec"] == "raw "
                        and (t["sample_bits"] or 8) == 8))
            else:
                dec = False
            rows.append(row("mp4", i, kind, t["codec"].strip(),
                            len(t["samples"]), dec))
        return rows

    # --- Matroska/WebM: Cluster walk ships extents only --------------
    if payload[:4] == b"\x1aE\xdf\xa3":
        from ..core.ebml import mkv_tracks

        rows = []
        for i, t in enumerate(mkv_tracks(payload)):
            kind = t["kind"] or "other"
            cid = t["codec_id"]
            if kind == "video":
                dec = (cid == "V_MJPEG"
                       or (cid == "V_MS/VFW/FOURCC"
                           and t["codec_private"][16:20] == b"MJPG"))
            elif kind == "audio":
                if cid == "A_MS/ACM" and len(t["codec_private"]) >= 16:
                    # rate/channels come from the WAVEFORMATEX itself
                    (tag,) = struct.unpack_from(
                        "<H", t["codec_private"], 0)
                    dec = tag in _WAV_DECODABLE_TAGS
                elif cid in ("A_PCM/INT/LIT", "A_PCM/INT/BIG"):
                    # mirror the decode path: rate required, PCM width
                    # must be one the sample machinery ships
                    dec = bool(t["rate"]) and \
                        (t["bit_depth"] or 16) in (8, 16, 24, 32)
                elif cid == "A_PCM/FLOAT/IEEE":
                    dec = bool(t["rate"]) and \
                        t["bit_depth"] in (32, 64)
                else:
                    dec = False
            else:
                dec = False
            rows.append(row("mkv", i, kind, cid, len(t["frames"]), dec))
        return rows

    # --- single-track formats: magic → one row -----------------------
    meta = parse_meta(payload)
    if meta["valid"] != "ok" or meta["kind"] is None:
        raise ValueError("unrecognized or corrupt media container")
    n = meta.get("n_frames")
    if payload[:5] == MAGIC:
        return [row("synthetic", 0, meta["kind"], "xmed1", n, True)]
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return [row("png", 0, "image", "png", 1, True)]
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return [row("gif", 0, "image", "gif-lzw", n, True)]
    if payload[:2] == b"\xff\xd8":
        return [row("jpeg", 0, "image", "jpeg", 1, True)]
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return [row("tiff", 0, "image", "tiff", 1, True)]
    if payload[:2] == b"BM":
        return [row("bmp", 0, "image", "bmp", 1, True)]
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        from ..core.audio import wav_info

        info = wav_info(payload) or {}
        tag = info.get("format")
        dec = tag in _WAV_DECODABLE_TAGS and (
            tag != 0x0001
            or info.get("bits_per_sample") in (8, 16, 24, 32))
        return [row("wav", 0, "audio",
                    f"wav_0x{tag:04x}" if tag is not None else None,
                    n, dec)]
    if payload[:4] == b"FORM" and payload[8:12] in (b"AIFF", b"AIFC"):
        from ..core.audio import aiff_info

        # aiff_info parses via the same stdlib module the decoder
        # uses; an unsupported AIFC compression leaves rate None
        info = aiff_info(payload) or {}
        return [row("aiff", 0, "audio", "aiff", n,
                    info.get("rate") is not None)]
    if payload[:4] == b".snd":
        from ..core.audio import au_info

        info = au_info(payload) or {}
        return [row("au", 0, "audio",
                    f"au_enc{info.get('encoding')}", n,
                    info.get("encoding") in (1, 2, 3, 27)
                    and bool(info.get("rate")))]
    # parse_meta recognized it but no container branch did: report the
    # kind without codec detail rather than invent one
    return [row("unknown", 0, meta["kind"], None, n, False)]


def media_track_inventory(media: DataFrame) -> DataFrame:
    """Arrow-batched, zero-shuffle track inventory over a media table:
    one row per container track with its codec identity, sample count
    and shipped-codec decodability — the routing predicate that keeps
    undecodable payloads out of the expensive decode stages at crawl
    scale.  Malformed containers quarantine as one valid='corrupt'
    row, never dropped."""
    src = media.select("media_id", "payload")
    cols = [f.name for f in TRACK_INVENTORY_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    for r in track_inventory(bytes(payload)):
                        rows.append({"media_id": int(mid), **r})
                except Exception:
                    rows.append({
                        "media_id": int(mid), "container": None,
                        "track_idx": None, "kind": None, "codec": None,
                        "n_samples": None, "decodable": None,
                        "valid": "corrupt"})
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(run, TRACK_INVENTORY_SCHEMA)
