"""Strict test-side PNG reader for the one shape ``core/png.py`` writes:
colour type 0, 8 bits, no interlace, filter 0 on every scanline.

It is written apart from the package encoder on purpose, so a round
trip through both checks the bytes against the PNG spec rather than
against the encoder's own idea of it.  Anything outside that shape
fails an assertion.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

SIGNATURE = b"\x89PNG\r\n\x1a\n"


def read_png_gray(data: bytes) -> np.ndarray:
    """PNG bytes → (h, w) uint8 array, asserting every structural rule."""
    assert data[:8] == SIGNATURE, "bad signature"
    chunks, pos = [], 8
    while pos < len(data):
        assert pos + 12 <= len(data), "truncated chunk header"
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        assert pos + 12 + length <= len(data), f"truncated {tag!r} chunk"
        body = data[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length:pos + 12 + length])
        assert zlib.crc32(tag + body) == crc, f"bad CRC in {tag!r}"
        chunks.append((tag, body))
        pos += 12 + length
    tags = [tag for tag, _ in chunks]
    assert tags == [b"IHDR", b"IDAT", b"IEND"], tags
    assert len(chunks[0][1]) == 13, "IHDR length"
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", chunks[0][1])
    assert (depth, ctype, comp, filt, interlace) == (8, 0, 0, 0, 0), \
        "IHDR is not 8-bit gray, filter method 0, no interlace"
    assert chunks[2][1] == b""
    raw = zlib.decompress(chunks[1][1])
    assert len(raw) == h * (w + 1), "scanline data size"
    rows = np.frombuffer(raw, np.uint8).reshape(h, w + 1)
    assert not rows[:, 0].any(), "scanline filter byte other than 0"
    return rows[:, 1:].copy()
