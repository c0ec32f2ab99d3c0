"""EBML (Matroska/WebM) metadata and frame tables — stdlib-only
element walk.

Metadata (``ebml_meta``): DocType from the EBML header, duration from
``Segment/Info`` (TimestampScale × Duration), dimensions and track
kinds from ``Segment/Tracks/TrackEntry`` — against the published
Matroska element registry (public spec; no reference-repo counterpart
exists).

Frame extraction (``mkv_tracks``): the Cluster/Block walk (track
vint, lacing modes none/Xiph/fixed/EBML) is pure container math, so
INTRA-frame tracks decode with codecs the repo already ships — MJPEG
(``V_MS/VFW/FOURCC`` with an 'MJPG' BITMAPINFOHEADER, or ``V_MJPEG``)
via ``core/jpeg.py`` and PCM-family audio (``A_PCM/INT/{LIT,BIG}``,
``A_PCM/FLOAT/IEEE``, ``A_MS/ACM`` PCM/G.711) via ``core/audio.py``.
Inter-frame video (VP8/VP9/AV1/H.264) and perceptual audio
(A_VORBIS/A_OPUS/A_AAC) have no stdlib implementation and stay
fail-loud at the dispatch sites.

Robustness contract: for ``ebml_meta`` a non-EBML payload returns
None and a truncated or malformed stream never raises — the walk
clamps to the buffer and reports whatever was parsed.  ``mkv_tracks``
is a decode path: malformed block/lacing structure raises
``ValueError`` for upstream quarantine.
"""

from __future__ import annotations

import struct

_EBML_MAGIC = b"\x1aE\xdf\xa3"

# element IDs (with marker bits, as they appear on the wire)
_EBML_HEADER = 0x1A45DFA3
_DOCTYPE = 0x4282
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TIMESTAMP_SCALE = 0x2AD7B1
_DURATION = 0x4489
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_TRACK_TYPE = 0x83
_VIDEO = 0xE0
_AUDIO_EL = 0xE1
_PIXEL_WIDTH = 0xB0
_PIXEL_HEIGHT = 0xBA

_TRACK_TYPE_VIDEO = 1
_TRACK_TYPE_AUDIO = 2

# frame-table elements (mkv_tracks)
_TRACK_NUMBER = 0xD7
_CODEC_ID = 0x86
_CODEC_PRIVATE = 0x63A2
_SAMPLING_FREQ = 0xB5
_CHANNELS = 0x9F
_BIT_DEPTH = 0x6264
_CLUSTER = 0x1F43B675
_SIMPLE_BLOCK = 0xA3
_BLOCK_GROUP = 0xA0
_BLOCK = 0xA1


def _vint(buf: bytes, pos: int, keep_marker: bool):
    """Read one EBML variable-length integer; returns (value, next_pos)
    or (None, pos) on truncation/invalid marker.  Element IDs keep the
    length-marker bit (wire form); sizes clear it."""
    if pos >= len(buf) or buf[pos] == 0:
        return None, pos
    b0 = buf[pos]
    length = 1
    mask = 0x80
    while not (b0 & mask):
        mask >>= 1
        length += 1
    if pos + length > len(buf):
        return None, pos
    val = int.from_bytes(buf[pos:pos + length], "big")
    if not keep_marker:
        val &= (1 << (7 * length)) - 1
        if val == (1 << (7 * length)) - 1:
            val = -1            # all-ones = unknown size (streamed)
    return val, pos + length


def _elements(buf: bytes, pos: int, end: int):
    """Yield ``(element_id, body_start, body_end)`` for the element
    sequence in ``buf[pos:end]``; unknown-size elements extend to the
    container end, truncated bodies clamp to it."""
    while pos < end:
        eid, p = _vint(buf, pos, keep_marker=True)
        if eid is None:
            return
        size, p = _vint(buf, p, keep_marker=False)
        if size is None:
            return
        body_end = end if size < 0 else min(p + size, end)
        yield eid, p, body_end
        pos = body_end


def _uint(buf: bytes, s: int, e: int) -> int:
    return int.from_bytes(buf[s:e], "big")


def _lace_vint(buf: bytes, pos: int, end: int):
    """Marker-cleared vint WITHOUT the all-ones→unknown-size mapping
    (track numbers and lace sizes have no streaming semantics; the
    all-ones pattern is an ordinary value there).  Returns
    ``(value, length, next_pos)``; raises on truncation."""
    if pos >= end or buf[pos] == 0:
        raise ValueError("truncated vint in Block")
    b0, length = buf[pos], 1
    mask = 0x80
    while not (b0 & mask):
        mask >>= 1
        length += 1
    if pos + length > end:
        raise ValueError("truncated vint in Block")
    val = int.from_bytes(buf[pos:pos + length], "big") \
        & ((1 << (7 * length)) - 1)
    return val, length, pos + length


def _enc_vint_size(n: int) -> bytes:
    """Encode a size as an EBML vint (shortest wire form)."""
    for length in range(1, 9):
        # all-ones is reserved for "unknown size"; step up a length
        if n < (1 << (7 * length)) - 1:
            return (n | (1 << (7 * length))).to_bytes(length, "big")
    raise ValueError("size too large for an EBML vint")


def _el(eid: bytes, body: bytes) -> bytes:
    return eid + _enc_vint_size(len(body)) + body


def encode_mkv_mjpeg(jpeg_frames: list[bytes], width: int, height: int,
                     fps: int = 10) -> bytes:
    """Forward writer: wrap whole JPEG streams as a ``V_MJPEG`` video
    track in a minimal Matroska file — unlaced SimpleBlocks in one
    Cluster, real Info (TimestampScale × Duration) and Video
    (PixelWidth/PixelHeight) so ``ebml_meta`` reports dims and
    duration.  Exists (like ``encode_avi_mjpeg``) to generate test
    vectors and the mixed-format corpus; it is NOT a general-purpose
    muxer."""
    if not jpeg_frames:
        raise ValueError("encode_mkv_mjpeg needs at least one frame")

    def uint(v: int) -> bytes:
        return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")

    header = _el(_EBML_MAGIC, _el(b"\x42\x82", b"matroska"))
    info = _el(b"\x15\x49\xa9\x66",
               _el(b"\x2a\xd7\xb1", uint(1_000_000))     # 1 ms ticks
               + _el(b"\x44\x89", struct.pack(
                   ">d", len(jpeg_frames) * 1000.0 / fps)))
    track = _el(b"\xae",
                _el(b"\xd7", uint(1))                    # TrackNumber
                + _el(b"\x83", uint(_TRACK_TYPE_VIDEO))
                + _el(b"\x86", b"V_MJPEG")
                + _el(b"\xe0",                           # Video
                      _el(b"\xb0", uint(width))
                      + _el(b"\xba", uint(height))))
    tracks = _el(b"\x16\x54\xae\x6b", track)
    # SimpleBlock: track vint 1, relative timestamp, keyframe flag,
    # no lacing — one whole JPEG per block.  All blocks share one
    # Cluster (timestamp base 0), so the signed-16-bit relative
    # timestamp caps the writer at ~32767 ms of frames — fail loudly
    # instead of letting struct.pack raise an opaque struct.error
    last_ts = (len(jpeg_frames) - 1) * 1000 // fps
    if last_ts > 0x7FFF:
        raise ValueError(
            f"encode_mkv_mjpeg: {len(jpeg_frames)} frames at fps={fps} "
            f"needs a relative timestamp of {last_ts} ms, past the "
            "signed-16-bit SimpleBlock limit of one Cluster — this "
            "test-vector writer does not split clusters")
    blocks = b"".join(
        _el(b"\xa3", b"\x81" + struct.pack(">h", i * 1000 // fps)
            + b"\x80" + f)
        for i, f in enumerate(jpeg_frames))
    cluster = _el(b"\x1f\x43\xb6\x75", blocks)
    return header + _el(b"\x18\x53\x80\x67", info + tracks + cluster)


def ebml_meta(payload: bytes) -> dict | None:
    """Header metadata for an EBML (mkv/webm) payload, or None if the
    payload does not start with the EBML magic.

    Returns ``{doctype, kind, width, height, duration_ms, n_tracks,
    n_video_tracks, n_audio_tracks}``; fields missing from the stream
    stay None/0."""
    if payload[:4] != _EBML_MAGIC:
        return None
    out = {
        "doctype": None, "kind": None, "width": None, "height": None,
        "duration_ms": None, "n_tracks": 0,
        "n_video_tracks": 0, "n_audio_tracks": 0,
    }
    for eid, s, e in _elements(payload, 0, len(payload)):
        if eid == _EBML_HEADER:
            for eid2, s2, e2 in _elements(payload, s, e):
                if eid2 == _DOCTYPE:
                    out["doctype"] = payload[s2:e2].split(b"\x00")[0] \
                        .decode("latin-1")
        elif eid == _SEGMENT:
            for eid2, s2, e2 in _elements(payload, s, e):
                if eid2 == _INFO:
                    tscale, dur = 1_000_000, None   # ns default
                    for eid3, s3, e3 in _elements(payload, s2, e2):
                        if eid3 == _TIMESTAMP_SCALE:
                            tscale = _uint(payload, s3, e3) or tscale
                        elif eid3 == _DURATION and e3 - s3 in (4, 8):
                            fmt = ">f" if e3 - s3 == 4 else ">d"
                            (dur,) = struct.unpack(
                                fmt, payload[s3:e3])
                    if dur is not None and dur >= 0:
                        out["duration_ms"] = int(dur * tscale / 1e6)
                elif eid2 == _TRACKS:
                    for eid3, s3, e3 in _elements(payload, s2, e2):
                        if eid3 != _TRACK_ENTRY:
                            continue
                        out["n_tracks"] += 1
                        for eid4, s4, e4 in _elements(payload, s3, e3):
                            if eid4 == _TRACK_TYPE:
                                t = _uint(payload, s4, e4)
                                if t == _TRACK_TYPE_VIDEO:
                                    out["n_video_tracks"] += 1
                                elif t == _TRACK_TYPE_AUDIO:
                                    out["n_audio_tracks"] += 1
                            elif eid4 == _VIDEO:
                                for eid5, s5, e5 in _elements(
                                        payload, s4, e4):
                                    if eid5 == _PIXEL_WIDTH:
                                        out["width"] = out["width"] or \
                                            _uint(payload, s5, e5)
                                    elif eid5 == _PIXEL_HEIGHT:
                                        out["height"] = out["height"] or \
                                            _uint(payload, s5, e5)
    if out["n_video_tracks"]:
        out["kind"] = "video"
    elif out["n_audio_tracks"]:
        out["kind"] = "audio"
    else:
        out["kind"] = "video"       # Matroska default presentation
    return out


def _block_frames(buf: bytes, s: int, e: int) -> tuple[int, list]:
    """Parse one (Simple)Block body: returns ``(track_number,
    [(abs_offset, size), ...])`` honoring all four lacing modes
    (none / Xiph / fixed-size / EBML).  Malformed structure raises
    ``ValueError``."""
    track, _, p = _lace_vint(buf, s, e)
    if track <= 0 or p + 3 > e:
        raise ValueError("truncated Block header")
    p += 3                          # 2-byte rel. timestamp + flags
    lacing = (buf[p - 1] >> 1) & 0x3
    if lacing == 0:                 # no lacing: one frame to body end
        return track, [(p, e - p)]
    if p >= e:
        raise ValueError("laced Block without a frame count")
    n = buf[p] + 1
    p += 1
    sizes: list[int] = []
    if lacing == 2:                 # fixed-size
        total = e - p
        if n == 0 or total % n:
            raise ValueError("fixed lacing does not divide the body")
        sizes = [total // n] * n
    elif lacing == 1:               # Xiph: 255-run + terminator each
        for _ in range(n - 1):
            sz = 0
            while True:
                if p >= e:
                    raise ValueError("truncated Xiph lace sizes")
                sz += buf[p]
                stop = buf[p] < 255
                p += 1
                if stop:
                    break
            sizes.append(sz)
        sizes.append(e - p - sum(sizes))
    elif n == 1:                    # EBML lacing, single frame: no
        sizes.append(e - p)         # size fields at all
    else:                           # EBML: first unsigned, then deltas
        first, _, p = _lace_vint(buf, p, e)
        sizes.append(first)
        for _ in range(n - 2):
            raw, length, p = _lace_vint(buf, p, e)
            # signed vint: stored value minus (2^(7*len-1) - 1)
            sizes.append(sizes[-1] + raw - ((1 << (7 * length - 1)) - 1))
        sizes.append(e - p - sum(sizes))
    frames = []
    for sz in sizes:
        if sz < 0 or p + sz > e:
            raise ValueError("lace sizes exceed the Block body")
        frames.append((p, sz))
        p += sz
    return track, frames


def mkv_tracks(payload: bytes) -> list[dict]:
    """Per-track frame tables from the Matroska/WebM Cluster walk —
    pure container math (TrackEntry codec identity, SimpleBlock/Block
    frame extents under all four lacing modes), no codec.  This is
    what makes intra-frame tracks (MJPEG video, PCM-family audio)
    decodable with the codecs the repo already ships, while
    inter-frame codecs stay fail-loud at the dispatch site.

    Returns ``[{kind ('video'/'audio'/''), codec_id, codec_private,
    channels, rate, bit_depth, frames: [(abs_offset, size), ...]},
    ...]`` — audio fields are None for video tracks, frames are in
    stream order.  Unlike ``ebml_meta`` (a never-raise probe), this is
    a decode path: malformed tables raise ``ValueError`` for upstream
    quarantine."""
    from collections import deque

    if payload[:4] != _EBML_MAGIC:
        raise ValueError("not an EBML payload")
    tracks: dict[int, dict] = {}
    blocks: list[tuple[int, int]] = []
    saw_tracks = False

    def parse_tracks(ts: int, te: int) -> None:
        nonlocal saw_tracks
        saw_tracks = True
        for eid3, s3, e3 in _elements(payload, ts, te):
            if eid3 != _TRACK_ENTRY:
                continue
            t = {"kind": "", "codec_id": "",
                 "codec_private": b"", "channels": None,
                 "rate": None, "bit_depth": None, "frames": []}
            num = None
            for eid4, s4, e4 in _elements(payload, s3, e3):
                if eid4 == _TRACK_NUMBER:
                    num = _uint(payload, s4, e4)
                elif eid4 == _TRACK_TYPE:
                    tt = _uint(payload, s4, e4)
                    t["kind"] = ("video"
                                 if tt == _TRACK_TYPE_VIDEO
                                 else "audio"
                                 if tt == _TRACK_TYPE_AUDIO
                                 else "")
                elif eid4 == _CODEC_ID:
                    t["codec_id"] = payload[s4:e4] \
                        .split(b"\x00")[0].decode("latin-1")
                elif eid4 == _CODEC_PRIVATE:
                    t["codec_private"] = payload[s4:e4]
                elif eid4 == _AUDIO_EL:
                    for eid5, s5, e5 in _elements(payload, s4, e4):
                        if eid5 == _SAMPLING_FREQ \
                                and e5 - s5 in (4, 8):
                            fmt = ">f" if e5 - s5 == 4 else ">d"
                            (t["rate"],) = struct.unpack(
                                fmt, payload[s5:e5])
                        elif eid5 == _CHANNELS:
                            t["channels"] = _uint(payload, s5, e5)
                        elif eid5 == _BIT_DEPTH:
                            t["bit_depth"] = _uint(payload, s5, e5)
            if num is None:
                raise ValueError("TrackEntry without a TrackNumber")
            tracks[num] = t

    for eid, s, e in _elements(payload, 0, len(payload)):
        if eid != _SEGMENT:
            continue
        for eid2, s2, e2 in _elements(payload, s, e):
            if eid2 == _TRACKS:
                parse_tracks(s2, e2)
            elif eid2 == _CLUSTER:
                # buffer — a Cluster may legally precede Tracks.
                # Streamed Matroska writes UNKNOWN-SIZE Clusters, whose
                # body then extends to the Segment end and swallows all
                # later top-level elements as child elements — walk
                # nested Clusters (FIFO: a LIFO stack would reverse
                # sibling order and scramble the frame stream) and
                # Tracks elements terminating the unknown-size body;
                # iteratively, since each nested Cluster contains the
                # next and recursion depth would equal the count.
                queue = deque([(s2, e2)])
                while queue:
                    cs, ce = queue.popleft()
                    for eid3, s3, e3 in _elements(payload, cs, ce):
                        if eid3 == _SIMPLE_BLOCK:
                            blocks.append((s3, e3))
                        elif eid3 == _BLOCK_GROUP:
                            blocks.extend(
                                (s4, e4) for eid4, s4, e4 in
                                _elements(payload, s3, e3)
                                if eid4 == _BLOCK)
                        elif eid3 == _CLUSTER:
                            queue.append((s3, e3))
                        elif eid3 == _TRACKS:
                            parse_tracks(s3, e3)
    if not saw_tracks:
        raise ValueError("EBML without a Segment/Tracks element")
    for s4, e4 in blocks:
        num, frames = _block_frames(payload, s4, e4)
        if num not in tracks:
            raise ValueError(f"Block for unknown track {num}")
        tracks[num]["frames"].extend(frames)
    return [tracks[k] for k in sorted(tracks)]
