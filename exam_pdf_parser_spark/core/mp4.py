"""ISO BMFF (MP4/MOV/3GP/M4A) metadata and sample tables — stdlib-only
box walk.

Metadata (``mp4_meta``): dimensions from ``trak/tkhd``, duration from
``moov/mvhd``, per-track handler kinds from ``trak/mdia/hdlr`` —
against the published ISO 14496-12 box layout (public spec; no
reference-repo counterpart exists: /root/reference contains no media
parsing at all).

Sample extraction (``mp4_tracks``): the stbl tables are pure container
math, so INTRA-frame tracks decode with codecs the repo already ships
— MJPEG ('jpeg') video via ``core/jpeg.py`` and PCM-family audio
('sowt'/'twos'/'raw '/'ulaw'/'alaw') via ``core/audio.py``.
Inter-frame video (H.264/HEVC/AV1) and perceptual audio (AAC) have no
stdlib implementation and stay fail-loud at the dispatch sites.

Robustness contract (shared with core/{tiff,bmp,audio}.py): a
non-BMFF payload returns None; a BMFF payload that is truncated or
inconsistent never raises — the walk stops at the first malformed box
and reports whatever was parsed, with ``complete=False``.
"""

from __future__ import annotations

_U32_MAX = 0xFFFFFFFF
_U64_MAX = 0xFFFFFFFFFFFFFFFF

# brands that identify audio-only BMFF files even without an hdlr walk
_AUDIO_BRANDS = {"M4A ", "M4B ", "M4P "}


def _boxes(buf: bytes, start: int, end: int):
    """Yield ``(fourcc, body_start, body_end)`` for the box sequence in
    ``buf[start:end]``; stops (without raising) at the first malformed
    or truncated box header."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(buf[pos:pos + 4], "big")
        fourcc = buf[pos + 4:pos + 8]
        header = 8
        if size == 1:                       # 64-bit largesize
            if pos + 16 > end:
                return
            size = int.from_bytes(buf[pos + 8:pos + 16], "big")
            header = 16
        elif size == 0:                     # box extends to container end
            size = end - pos
        if size < header or pos + size > end:
            return                          # corrupt/truncated: stop
        yield fourcc, pos + header, pos + size
        pos += size


def _box(fourcc: bytes, body: bytes) -> bytes:
    return (len(body) + 8).to_bytes(4, "big") + fourcc + body


def encode_mp4_mjpeg(jpeg_frames: list[bytes], width: int, height: int,
                     fps: int = 10) -> bytes:
    """Forward writer: wrap whole JPEG streams as an MJPEG ('jpeg')
    video track in a minimal ISO BMFF file — one mdat chunk, per-sample
    stsz, a single stsc rule, real mvhd/tkhd so ``mp4_meta`` reports
    dims and duration.  Exists (like ``encode_avi_mjpeg``) to
    generate test vectors and the mixed-format corpus; it is NOT a
    general-purpose muxer."""
    if not jpeg_frames:
        raise ValueError("encode_mp4_mjpeg needs at least one frame")

    def u32(v):
        return int(v).to_bytes(4, "big")

    def u16(v):
        return int(v).to_bytes(2, "big")

    ftyp = _box(b"ftyp", b"isom" + u32(0) + b"isom")
    mdat = _box(b"mdat", b"".join(jpeg_frames))
    off0 = len(ftyp) + 8                       # first sample offset

    timescale = 1000
    duration = len(jpeg_frames) * timescale // fps
    # identity transform matrix (16.16 / 2.30 fixed point)
    matrix = (u32(0x10000) + u32(0) * 3 + u32(0x10000) + u32(0) * 3
              + u32(0x40000000))
    mvhd = _box(b"mvhd", u32(0) + u32(0) + u32(0) + u32(timescale)
                + u32(duration) + u32(0x10000) + u16(0x100) + b"\0" * 10
                + matrix + b"\0" * 24 + u32(2))
    tkhd = _box(b"tkhd", b"\0\0\0\x07" + u32(0) + u32(0) + u32(1)
                + u32(0) + u32(duration) + b"\0" * 16 + matrix
                + u32(width << 16) + u32(height << 16))
    entry = u32(86) + b"jpeg" + b"\0" * 78
    stbl = _box(b"stbl",
                _box(b"stsd", u32(0) + u32(1) + entry)
                + _box(b"stsz", u32(0) + u32(0) + u32(len(jpeg_frames))
                       + b"".join(u32(len(f)) for f in jpeg_frames))
                + _box(b"stsc", u32(0) + u32(1)
                       + u32(1) + u32(len(jpeg_frames)) + u32(1))
                + _box(b"stco", u32(0) + u32(1) + u32(off0)))
    hdlr = _box(b"hdlr", u32(0) + b"\0\0\0\0" + b"vide" + b"\0" * 12)
    mdia = _box(b"mdia", hdlr + _box(b"minf", stbl))
    moov = _box(b"moov", mvhd + _box(b"trak", tkhd + mdia))
    return ftyp + mdat + moov


def mp4_meta(payload: bytes) -> dict | None:
    """Header metadata for an ISO BMFF payload, or None if the payload
    is not BMFF (no ``ftyp`` box at the head).

    Returns ``{brand, kind, width, height, duration_ms, timescale,
    n_tracks, n_video_tracks, n_audio_tracks, complete}`` —
    ``complete`` is False when no ``moov`` was found (init segment /
    truncated progressive file), in which case dims/duration are None.
    """
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        return None
    out = {
        "brand": payload[8:12].decode("latin-1"),
        "kind": None, "width": None, "height": None,
        "duration_ms": None, "timescale": None,
        "n_tracks": 0, "n_video_tracks": 0, "n_audio_tracks": 0,
        "complete": False,
    }
    for fourcc, s, e in _boxes(payload, 0, len(payload)):
        if fourcc != b"moov":
            continue
        out["complete"] = True
        for f2, s2, e2 in _boxes(payload, s, e):
            if f2 == b"mvhd" and e2 - s2 >= 20:
                ver = payload[s2]
                if ver == 1 and e2 - s2 >= 32:
                    ts = int.from_bytes(payload[s2 + 20:s2 + 24], "big")
                    dur = int.from_bytes(payload[s2 + 24:s2 + 32], "big")
                    unknown = dur == _U64_MAX
                else:
                    ts = int.from_bytes(payload[s2 + 12:s2 + 16], "big")
                    dur = int.from_bytes(payload[s2 + 16:s2 + 20], "big")
                    unknown = dur == _U32_MAX
                out["timescale"] = ts or None
                if ts and not unknown:
                    out["duration_ms"] = dur * 1000 // ts
            elif f2 == b"trak":
                out["n_tracks"] += 1
                for f3, s3, e3 in _boxes(payload, s2, e2):
                    if f3 == b"tkhd" and e3 - s3 >= 24:
                        ver = payload[s3]
                        # after version/flags(4): v0 packs times/id/
                        # reserved/duration in 20 bytes, v1 in 32; then
                        # reserved(8) layer(2) alt_group(2) volume(2)
                        # reserved(2) matrix(36) precede the 16.16
                        # fixed-point width/height
                        p = s3 + 4 + (32 if ver == 1 else 20) + 52
                        if p + 8 <= e3:
                            w = int.from_bytes(payload[p:p + 4], "big") >> 16
                            h = int.from_bytes(
                                payload[p + 4:p + 8], "big") >> 16
                            if w and h:     # audio tracks carry 0×0
                                out["width"] = out["width"] or w
                                out["height"] = out["height"] or h
                    elif f3 == b"mdia":
                        for f4, s4, e4 in _boxes(payload, s3, e3):
                            if f4 == b"hdlr" and e4 - s4 >= 12:
                                handler = payload[s4 + 8:s4 + 12]
                                if handler == b"vide":
                                    out["n_video_tracks"] += 1
                                elif handler == b"soun":
                                    out["n_audio_tracks"] += 1
    if out["n_video_tracks"]:
        out["kind"] = "video"
    elif out["n_audio_tracks"] or out["brand"] in _AUDIO_BRANDS:
        out["kind"] = "audio"
    else:
        out["kind"] = "video"       # BMFF default presentation
    return out


def mp4_tracks(payload: bytes) -> list[dict]:
    """Per-track sample tables from the ISO 14496-12 stbl boxes —
    pure container math (stsd codec entry, stsz sizes, stsc
    sample-to-chunk map, stco/co64 chunk offsets), no codec.  This is
    what makes intra-frame tracks (MJPEG video, PCM-family audio)
    decodable with the codecs the repo already ships, while
    inter-frame codecs stay fail-loud at the dispatch site.

    Returns ``[{kind, codec, channels, sample_bits, rate, samples:
    [(abs_offset, size), ...]}, ...]`` — audio fields are None for
    video tracks.  Unlike ``mp4_meta`` (a never-raise probe), this is
    a decode path: malformed or inconsistent tables raise
    ``ValueError`` for upstream quarantine."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload")

    def find(start, end, fourcc):
        for f, s, e in _boxes(payload, start, end):
            if f == fourcc:
                return s, e
        return None

    def u16(p):
        return int.from_bytes(payload[p:p + 2], "big")

    def u32(p):
        return int.from_bytes(payload[p:p + 4], "big")

    moov = find(0, len(payload), b"moov")
    if moov is None:
        raise ValueError("BMFF without moov (init segment?)")
    tracks: list[dict] = []
    for f2, s2, e2 in _boxes(payload, *moov):
        if f2 != b"trak":
            continue
        mdia = find(s2, e2, b"mdia")
        if mdia is None:
            continue
        hdlr = find(*mdia, b"hdlr")
        kind = (payload[hdlr[0] + 8:hdlr[0] + 12].decode("latin-1")
                if hdlr else "")
        minf = find(*mdia, b"minf")
        stbl = find(*minf, b"stbl") if minf else None
        if stbl is None:
            continue
        stsd = find(*stbl, b"stsd")
        stsz = find(*stbl, b"stsz")
        stsc = find(*stbl, b"stsc")
        stco, wide = find(*stbl, b"stco"), False
        if stco is None:
            stco, wide = find(*stbl, b"co64"), True
        if not (stsd and stsz and stsc and stco):
            raise ValueError("stbl missing a sample table box")
        # stsd first entry: codec fourcc (+ audio params for soun)
        p = stsd[0]
        if u32(p + 4) < 1 or stsd[1] - p < 16:
            raise ValueError("empty stsd")
        entry = p + 8
        codec = payload[entry + 4:entry + 8].decode("latin-1")
        channels = bits = rate = None
        if kind == "soun" and stsd[1] - entry >= 36:
            channels = u16(entry + 24)
            bits = u16(entry + 26)
            rate = u32(entry + 32) >> 16      # 16.16 fixed
        # stsz: uniform size or per-sample table
        p = stsz[0]
        uniform, n = u32(p + 4), u32(p + 8)
        if uniform:
            # bound BEFORE materializing: a hostile header claiming
            # 2^32 samples must quarantine, not OOM the executor
            if uniform * n > len(payload):
                raise ValueError("stsz claims more bytes than the file")
            sizes = [uniform] * n
        else:
            if stsz[1] - p - 12 < 4 * n:
                raise ValueError("truncated stsz")
            sizes = [u32(p + 12 + 4 * i) for i in range(n)]
        # stco/co64 chunk offsets (absolute into the file)
        p = stco[0]
        n_chunks = u32(p + 4)
        step = 8 if wide else 4
        if stco[1] - p - 8 < step * n_chunks:
            raise ValueError("truncated chunk offset table")
        offs = [int.from_bytes(payload[p + 8 + step * i:
                                       p + 8 + step * (i + 1)], "big")
                for i in range(n_chunks)]
        # stsc rules: (first_chunk, samples_per_chunk) runs
        p = stsc[0]
        n_rules = u32(p + 4)
        if stsc[1] - p - 8 < 12 * n_rules:
            raise ValueError("truncated stsc")
        rules = [(u32(p + 8 + 12 * i), u32(p + 12 + 12 * i))
                 for i in range(n_rules)]
        samples: list[tuple[int, int]] = []
        k = 0
        for ci in range(1, n_chunks + 1):
            spc = 0
            for first, cnt in rules:
                if first <= ci:
                    spc = cnt
                else:
                    break
            off = offs[ci - 1]
            for _ in range(spc):
                if k >= n:
                    break
                if off + sizes[k] > len(payload):
                    raise ValueError("sample range outside the payload")
                samples.append((off, sizes[k]))
                off += sizes[k]
                k += 1
        if k != n:
            raise ValueError(
                f"sample table inconsistent: {k} of {n} samples mapped")
        tracks.append({"kind": kind, "codec": codec,
                       "channels": channels, "sample_bits": bits,
                       "rate": rate, "samples": samples})
    return tracks
