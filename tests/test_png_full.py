"""PNG encoder output, checked by the strict test-side reader.

``core/png.py`` writes one shape: 8-bit gray, no interlace, filter 0 on
every scanline.  ``tests/png_reader.py`` accepts exactly that shape, so
the round trips in ``test_compare_crop_report.py`` and
``test_properties.py`` hold the encoder to the PNG specification.  These
tests pin both halves: the encoder's bytes and input guards, and the
reader's refusal of every valid PNG the encoder never writes (scanline
filters 1-4, colour, palette, low and 16-bit depths, alpha, Adam7).  A
reader loosened to accept any of them fails here.  The files are built
with this module's own chunk writer and forward filters.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pytest

from exam_pdf_parser_spark.core.png import PNG_SIG, encode_png_gray

from .png_reader import read_png_gray


def chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def png(w, h, depth, ctype, raw, plte=b"", interlace=0):
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    out = PNG_SIG + chunk(b"IHDR", ihdr)
    if plte:
        out += chunk(b"PLTE", plte)
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def filt_rows(px: np.ndarray, filters: list[int], bpp: int) -> bytes:
    """Spec-side (forward) filtering: the stream stores x - predictor."""
    h, wb = px.shape
    out = bytearray()
    prev = np.zeros(wb, np.int32)
    for y in range(h):
        row = px[y].astype(np.int32)
        f = filters[y % len(filters)]
        out.append(f)
        for x in range(wb):
            a = int(row[x - bpp]) if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:                        # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else \
                    (b if pb <= pc else c)
            out.append((int(row[x]) - pred) & 0xFF)
        prev = row
    return bytes(out)


def test_rgb_all_filters():
    """Filter 0 gray reads back; any scanline filter 1-4 is refused,
    and so is RGB under every filter type."""
    w, h = 6, 5
    px = np.random.default_rng(1).integers(0, 256, (h, w)).astype(np.uint8)
    assert np.array_equal(read_png_gray(png(w, h, 8, 0,
                                            filt_rows(px, [0], 1))), px)
    for f in (1, 2, 3, 4):
        raw = filt_rows(px, [0, f], bpp=1)
        with pytest.raises(AssertionError, match="filter byte"):
            read_png_gray(png(w, h, 8, 0, raw))

    rgb = np.random.default_rng(2).integers(
        0, 256, (h, w, 3)).astype(np.uint8)
    for f in range(5):
        raw = filt_rows(rgb.reshape(h, w * 3), [f], bpp=3)
        with pytest.raises(AssertionError, match="IHDR"):
            read_png_gray(png(w, h, 8, 2, raw))


def test_palette_and_low_depths():
    """Palette files are refused with or without a PLTE chunk, and so
    are 1-, 2- and 4-bit gray, each with a correctly sized stream."""
    plte = bytes(v for i in range(4) for v in (i * 60,) * 3)
    raw = bytes([0, 0, 1, 2, 0, 3, 2, 1])           # 3x2, 8-bit indices
    with pytest.raises(AssertionError, match="PLTE"):
        read_png_gray(png(3, 2, 8, 3, raw, plte))
    with pytest.raises(AssertionError, match="IHDR"):
        read_png_gray(png(3, 2, 8, 3, raw))

    w = 10
    for depth in (1, 2, 4):
        row_bytes = (w * depth + 7) // 8
        raw = bytes([0]) + bytes(range(row_bytes))
        with pytest.raises(AssertionError, match="IHDR"):
            read_png_gray(png(w, 1, depth, 0, raw))


def test_16bit_rgba_gray_alpha():
    """16-bit gray, RGBA and gray+alpha are valid PNGs the encoder never
    writes; each is refused at IHDR."""
    cases = [
        (16, 0, bytes([0, 0x12, 0x34, 0xAB, 0xCD, 0xFF, 0xFF])),  # 3x1
        (8, 6, bytes([0, 10, 20, 30, 255, 40, 50, 60, 0])),      # 2x1
        (8, 4, bytes([0, 7, 255, 9, 0, 11, 128])),               # 3x1
    ]
    widths = {0: 3, 6: 2, 4: 3}
    for depth, ctype, raw in cases:
        with pytest.raises(AssertionError, match="IHDR"):
            read_png_gray(png(widths[ctype], 1, depth, ctype, raw))


def test_adam7_interlace():
    """Adam7 is refused by the IHDR flag alone.  A 1x1 image's single
    pass has the same bytes as the plain stream, so only the flag can
    tell them apart; the 2x2 stream is the hand-worked pass split
    (pass 1: (0,0); pass 6: (0,1); pass 7: row 1)."""
    assert np.array_equal(read_png_gray(png(1, 1, 8, 0, b"\x00\x07")),
                          np.array([[7]], np.uint8))
    with pytest.raises(AssertionError, match="IHDR"):
        read_png_gray(png(1, 1, 8, 0, b"\x00\x07", interlace=1))
    adam7 = bytes([0, 1, 0, 2, 0, 3, 4])
    with pytest.raises(AssertionError, match="IHDR"):
        read_png_gray(png(2, 2, 8, 0, adam7, interlace=1))


def test_encoder_output_unchanged_and_guards():
    """The encoder's bytes are pinned and read back bit-exactly; it
    refuses anything but a 2-D uint8 array; and the reader refuses
    every truncation and every single-byte flip of its output."""
    img = np.arange(200, dtype=np.uint8).reshape(10, 20)
    blob = encode_png_gray(img)
    assert np.array_equal(read_png_gray(blob), img)
    assert hashlib.sha256(blob).hexdigest() == (
        "85be1ff202381c63a9b1ab14121bd6515d8924739365b42c86bf365675a67d9c")

    for bad in (img.astype(np.uint16), img.astype(np.float32),
                img[None], img[0]):
        with pytest.raises(ValueError, match="uint8"):
            encode_png_gray(bad)

    for n in range(len(blob)):
        with pytest.raises(AssertionError):
            read_png_gray(blob[:n])
    rng = np.random.default_rng(9)
    for _ in range(150):
        bad = bytearray(blob)
        bad[int(rng.integers(0, len(bad)))] ^= int(rng.integers(1, 256))
        with pytest.raises(AssertionError):
            read_png_gray(bytes(bad))
