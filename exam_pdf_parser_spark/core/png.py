"""Dependency-free PNG encoder, crop geometry and block rasterizer.

The sandbox ships no raster library, but a valid PNG needs only
``zlib`` + CRC-framed chunks — so the crop sink (S11, reference
src/cropper/cropper.py:73-74) can emit REAL image files any viewer
opens, instead of stubbed bytes.  The encoder writes 8-bit-gray
filter-0 scanlines; ``pad_clamp`` and ``render_region`` turn a question
region's layout blocks into the pixels it encodes, and
``crop_document`` runs all three over one payload.  The Spark crop sink
and the single-node oracle share this one copy.

Deterministic: fixed zlib level, no timestamps, no ancillary chunks.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .assemble import decode_payload
from .detector import detect_regions

PNG_SIG = b"\x89PNG\r\n\x1a\n"

PAD = 10.0  # crop padding, reference default src/cropper/cropper.py:64
ZLIB_LEVEL = 6  # the oracle hash pins the compressed bytes


def pad_clamp(bbox, page_w: float,
              page_h: float) -> tuple[float, float, float, float]:
    """F16: ``max(0, x0-PAD) … min(page_w, x1+PAD)``
    (src/cropper/cropper.py:64-71).  Lives beside the rasterizer so
    the Spark crop sink and the single-node oracle share ONE copy."""
    x0, y0, x1, y1 = bbox
    return (max(0.0, x0 - PAD), max(0.0, y0 - PAD),
            min(page_w, x1 + PAD), min(page_h, y1 + PAD))


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))


def encode_png_gray(img: np.ndarray) -> bytes:
    """(h, w) uint8 array → PNG bytes (color type 0, bit depth 8,
    filter 0 per scanline)."""
    if img.ndim != 2 or img.dtype != np.uint8:
        raise ValueError("expected (h, w) uint8 array")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    # prepend the filter byte (0 = None) to every scanline
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), img], axis=1).tobytes()
    idat = zlib.compress(raw, ZLIB_LEVEL)
    return (PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
            + _chunk(b"IEND", b""))


# deterministic shade per block type — the crop render is a
# rasterization of the layout GEOMETRY (the sandbox has no PDF
# renderer, so there are no source pixels; this is the honest
# deterministic replacement, documented in the crop sink)
BLOCK_SHADES = {"text": 200, "image": 150, "table": 100}
MAX_DIM = 512


def render_region(blocks: list[dict], crop_bbox) -> np.ndarray:
    """Rasterize the page blocks clipped to ``crop_bbox`` onto a white
    canvas: each intersecting block fills its intersection with a
    per-type shade.  1 px per layout pt, capped at ``MAX_DIM`` on the
    long side (uniform downscale)."""
    x0, y0, x1, y1 = crop_bbox
    w_pt, h_pt = max(x1 - x0, 1.0), max(y1 - y0, 1.0)
    scale = 1.0
    if max(w_pt, h_pt) > MAX_DIM:
        scale = MAX_DIM / max(w_pt, h_pt)
    w = max(1, int(round(w_pt * scale)))
    h = max(1, int(round(h_pt * scale)))
    img = np.full((h, w), 255, dtype=np.uint8)
    for b in blocks:
        bb = b.get("bbox")
        if bb is None:
            continue
        ix0, iy0 = max(bb[0], x0), max(bb[1], y0)
        ix1, iy1 = min(bb[2], x1), min(bb[3], y1)
        if ix0 >= ix1 or iy0 >= iy1:
            continue
        px0 = int(round((ix0 - x0) * scale))
        py0 = int(round((iy0 - y0) * scale))
        px1 = max(px0 + 1, int(round((ix1 - x0) * scale)))
        py1 = max(py0 + 1, int(round((iy1 - y0) * scale)))
        shade = BLOCK_SHADES.get(b.get("type", "text"), 200)
        img[py0:min(py1, h), px0:min(px1, w)] = shade
    return img


def crop_document(html: bytes) -> list[tuple]:
    """One payload → its crops, one per (question, page): ``(
    question_number, page_idx, file_name, x0, y0, x1, y1, png)`` with
    the padded bbox and the reference's file-naming scheme
    ``q{n:02d}`` / ``q{n:02d}_p{k}`` (src/cropper/cropper.py:76-79)."""
    pages = decode_payload(html).get("pages", [])
    sizes = {p.get("page_idx", 0): (p.get("page_size") or [842, 1191])
             for p in pages}
    page_blocks = {p.get("page_idx", 0): p.get("blocks", []) for p in pages}
    regions = detect_regions(pages)
    multi = {r.question_number for r in regions if r.spans_page}
    out = []
    for r in regions:
        pw, ph = sizes.get(r.page_idx, [842, 1191])
        bbox = pad_clamp((r.x0, r.y0, r.x1, r.y1), pw, ph)
        name = (f"q{r.question_number:02d}_p{r.page_idx}"
                if r.question_number in multi
                else f"q{r.question_number:02d}")
        img = render_region(page_blocks.get(r.page_idx, []), bbox)
        out.append((r.question_number, r.page_idx, f"{name}.png", *bbox,
                    encode_png_gray(img)))
    return out
