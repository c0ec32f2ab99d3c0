"""Stdlib audio codecs beyond plain PCM WAV.

The sandbox has no media libraries, but Python 3.11's stdlib still
carries real telephony/audio codecs: ``audioop`` decodes G.711 μ-law
and a-law and IMA/DVI ADPCM, ``aifc`` reads AIFF/AIFF-C, and the Sun
AU header is eight big-endian words.  This module walks the WAV RIFF
``fmt ``/``data`` chunks itself (the stdlib ``wave`` module refuses
anything but format 1), so compressed-WAV payloads decode natively:

  * WAV: PCM 8/16/24/32-bit (format 1), a-law (6), μ-law (7),
    IMA ADPCM (17, per-block headers honored)
  * AIFF / AIFF-C via ``aifc`` (big-endian PCM; ulaw/alaw handled by
    the module)
  * Sun AU (``.snd``): μ-law (1), 8-bit signed PCM (2), 16-bit PCM
    (3), a-law (27)
  * AVI audio tracks (re-dispatched through the WAV path) and the
    PCM/G.711 tracks of ISO BMFF and Matroska

mp3/ogg/aac stay fail-loud ``NotImplementedError`` — their
perceptual decoders hinge on literal spec Huffman codebooks that
cannot be independently verified in this sandbox.  Everything returns
(mono float64 samples in [-1, 1], sample rate); multi-channel input
is averaged to mono.  Structural problems raise ``ValueError`` and
unsupported codecs ``NotImplementedError`` — Spark stages quarantine
either way.
"""

from __future__ import annotations

import struct
import warnings

import numpy as np

with warnings.catch_warnings():
    warnings.simplefilter("ignore", DeprecationWarning)
    import audioop


# --- WAV (RIFF) ---------------------------------------------------------------

WAVE_PCM, WAVE_ALAW, WAVE_MULAW, WAVE_IMA_ADPCM = 1, 6, 7, 17
_WAV_FMT_NAMES = {2: "MS-ADPCM", 3: "IEEE-float", 80: "MPEG",
                  85: "MP3", 65534: "WAVE_FORMAT_EXTENSIBLE"}


def wav_info(payload: bytes) -> dict | None:
    """RIFF/WAVE ``fmt `` header → {format, channels, rate,
    bits_per_sample, block_align, data_size, n_frames} without any
    codec work; None when not a WAV."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    from .avi import riff_chunks

    info: dict = {}
    end = min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0])
    for cid, body, size in riff_chunks(payload, 12, end):
        if cid == b"fmt " and size >= 16:
            fmt, nch, rate, _, balign, bits = struct.unpack_from(
                "<HHIIHH", payload, body)
            if fmt == 0xFFFE and size >= 40:
                # WAVE_FORMAT_EXTENSIBLE: the real codec is the first
                # two GUID bytes of SubFormat (fmt chunk offset 24)
                (fmt,) = struct.unpack_from("<H", payload, body + 24)
            info.update(format=fmt, channels=nch, rate=rate,
                        block_align=balign, bits_per_sample=bits)
        elif cid == b"data":
            info["data_size"] = size
            info["data_off"] = body
    if "format" not in info or "data_size" not in info:
        return None
    f, bits = info["format"], info["bits_per_sample"]
    nch = max(1, info["channels"])
    if f == WAVE_PCM:
        frame = max(1, nch * max(1, bits // 8))
        info["n_frames"] = info["data_size"] // frame
    elif f in (WAVE_ALAW, WAVE_MULAW):
        info["n_frames"] = info["data_size"] // nch
    elif f == WAVE_IMA_ADPCM and info["block_align"]:
        ba = info["block_align"]
        per_block = (ba - 4 * nch) * 2 // nch + 1
        info["n_frames"] = (info["data_size"] // ba) * per_block
    else:
        info["n_frames"] = None
    return info


def _to_mono(x: np.ndarray, nch: int) -> np.ndarray:
    if nch > 1:
        x = x[: len(x) - len(x) % nch].reshape(-1, nch).mean(axis=1)
    return x


def _pcm_to_float(raw: bytes, bits: int, little: bool = True) -> np.ndarray:
    if bits == 16:
        return np.frombuffer(raw, "<i2" if little else ">i2") \
            .astype(np.float64) / 32768.0
    if bits == 8:
        return (np.frombuffer(raw, np.uint8).astype(np.float64)
                - 128.0) / 128.0
    if bits == 32:
        return np.frombuffer(raw, "<i4" if little else ">i4") \
            .astype(np.float64) / 2147483648.0
    if bits == 24:
        b = np.frombuffer(raw, np.uint8)
        b = b[: len(b) - len(b) % 3].reshape(-1, 3).astype(np.uint32)
        if little:
            v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        else:
            v = b[:, 2] | (b[:, 1] << 8) | (b[:, 0] << 16)
        v = v.astype(np.int32)
        v[v >= 1 << 23] -= 1 << 24
        return v.astype(np.float64) / 8388608.0
    raise NotImplementedError(f"{bits}-bit PCM not supported")


_NIBBLE_SWAP = bytes(((b & 0x0F) << 4) | (b >> 4) for b in range(256))


def _swap_nibbles(data: bytes) -> bytes:
    """WAV IMA-ADPCM packs the FIRST sample of each byte into the LOW
    nibble; ``audioop``'s Intel/DVI routines consume the HIGH nibble
    first — swap per byte to translate between the two conventions."""
    return bytes(data).translate(_NIBBLE_SWAP)


def _decode_ima_blocks(data: bytes, nch: int, block_align: int) -> bytes:
    """WAV IMA-ADPCM → 16-bit LE interleaved PCM.  Each block opens
    with a 4-byte state header per channel (predictor int16, step
    index u8, pad); ``audioop.adpcm2lin`` implements the same IMA step
    tables, so seeding its state from the block header reproduces the
    stream — after the per-byte nibble swap (WAV is low-nibble-first,
    audioop high-nibble-first).  Stereo blocks interleave the channels
    in 4-byte (8-nibble) groups after the headers."""
    if nch not in (1, 2):
        raise NotImplementedError(f"{nch}-channel IMA-ADPCM not supported")
    if block_align < 4 * nch + 1:
        raise ValueError(f"IMA-ADPCM block_align {block_align} too small")
    out = bytearray()
    for off in range(0, len(data) - 4 * nch + 1, block_align):
        block = data[off:off + block_align]
        states = []
        for c in range(nch):
            pred, idx = struct.unpack_from("<hB", block, 4 * c)
            states.append((pred, min(idx, 88)))   # clamp corrupt index
        body = block[4 * nch:]
        if nch == 1:
            out += struct.pack("<h", states[0][0])
            lin, _ = audioop.adpcm2lin(_swap_nibbles(body), 2, states[0])
            out += lin
            continue
        groups = len(body) // 8
        arr = np.frombuffer(body[: groups * 8], np.uint8) \
            .reshape(groups, 2, 4)
        chans = []
        for c, st in enumerate(states):
            lin, _ = audioop.adpcm2lin(
                _swap_nibbles(arr[:, c, :].tobytes()), 2, st)
            chans.append(np.concatenate(
                [np.array([st[0]], "<i2"), np.frombuffer(lin, "<i2")]))
        inter = np.empty(2 * len(chans[0]), "<i2")
        inter[0::2], inter[1::2] = chans[0], chans[1]
        out += inter.tobytes()
    return bytes(out)


# --- AIFF ---------------------------------------------------------------------

def _decode_aiff(payload: bytes) -> tuple[np.ndarray, int]:
    import io

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import aifc

        try:
            with aifc.open(io.BytesIO(payload)) as af:
                nch, width = af.getnchannels(), af.getsampwidth()
                rate = int(af.getframerate())
                raw = af.readframes(af.getnframes())
        except aifc.Error as e:   # normalize to the documented type
            raise ValueError(f"corrupt AIFF: {e}") from e
    # aifc decompresses ulaw/alaw/G722 to linear frames itself;
    # PCM frames are BIG-endian
    x = _pcm_to_float(raw, width * 8, little=False)
    return _to_mono(x, nch), rate


def aiff_info(payload: bytes) -> dict | None:
    if payload[:4] != b"FORM" or payload[8:12] not in (b"AIFF", b"AIFC"):
        return None
    import io

    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            import aifc

            with aifc.open(io.BytesIO(payload)) as af:
                return {"rate": int(af.getframerate()),
                        "channels": af.getnchannels(),
                        "n_frames": af.getnframes()}
    except Exception:
        return {"rate": None, "channels": None, "n_frames": None}


# --- Sun AU -------------------------------------------------------------------

AU_MULAW, AU_PCM8, AU_PCM16, AU_ALAW = 1, 2, 3, 27


def au_info(payload: bytes) -> dict | None:
    if payload[:4] != b".snd" or len(payload) < 24:
        return None
    off, size, enc, rate, nch = struct.unpack_from(">5I", payload, 4)
    if size == 0xFFFFFFFF:
        size = max(0, len(payload) - off)
    bytes_per = {AU_MULAW: 1, AU_PCM8: 1, AU_PCM16: 2, AU_ALAW: 1}.get(enc)
    frames = (size // (bytes_per * max(1, nch))) if bytes_per else None
    return {"encoding": enc, "rate": rate, "channels": nch,
            "data_off": off, "data_size": size, "n_frames": frames}


def _decode_au(payload: bytes) -> tuple[np.ndarray, int]:
    info = au_info(payload)
    if info is None:
        raise ValueError("not an AU payload")
    raw = payload[info["data_off"]:info["data_off"] + info["data_size"]]
    enc, nch = info["encoding"], max(1, info["channels"])
    if enc == AU_MULAW:
        x = _pcm_to_float(audioop.ulaw2lin(raw, 2), 16)
    elif enc == AU_ALAW:
        x = _pcm_to_float(audioop.alaw2lin(raw, 2), 16)
    elif enc == AU_PCM16:
        x = _pcm_to_float(raw, 16, little=False)
    elif enc == AU_PCM8:
        x = np.frombuffer(raw, np.int8).astype(np.float64) / 128.0
    else:
        raise NotImplementedError(f"AU encoding {enc} not supported")
    return _to_mono(x, nch), info["rate"]


# --- dispatch -----------------------------------------------------------------

def decode_audio_any(payload: bytes) -> tuple[np.ndarray, int]:
    """Dispatch on container magic; see the module docstring for the
    supported matrix."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        info = wav_info(payload)
        if info is None:
            raise ValueError("WAV without fmt/data chunks")
        raw = payload[info["data_off"]:info["data_off"] + info["data_size"]]
        fmt, nch, rate = info["format"], max(1, info["channels"]), info["rate"]
        if fmt == WAVE_PCM:
            x = _pcm_to_float(raw, info["bits_per_sample"])
        elif fmt == WAVE_MULAW:
            x = _pcm_to_float(audioop.ulaw2lin(raw, 2), 16)
        elif fmt == WAVE_ALAW:
            x = _pcm_to_float(audioop.alaw2lin(raw, 2), 16)
        elif fmt == WAVE_IMA_ADPCM:
            x = _pcm_to_float(
                _decode_ima_blocks(raw, nch, info["block_align"]), 16)
        else:
            name = _WAV_FMT_NAMES.get(fmt, f"format {fmt}")
            raise NotImplementedError(f"WAV codec {name} not supported")
        return _to_mono(x, nch), rate
    if payload[:4] == b"FORM" and payload[8:12] in (b"AIFF", b"AIFC"):
        return _decode_aiff(payload)
    if payload[:4] == b".snd":
        return _decode_au(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        # an AVI's interleaved audio track: synthesized into a WAV
        # (auds strf IS a WAVEFORMATEX) and re-dispatched through the
        # same matrix
        from .avi import avi_audio_wav

        return decode_audio_any(avi_audio_wav(payload))
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        return _decode_bmff_audio(payload)
    if payload[:4] == b"\x1aE\xdf\xa3":
        return _decode_ebml_audio(payload)
    raise NotImplementedError(
        "only WAV (PCM/µ-law/a-law/IMA-ADPCM), AIFF and AU "
        "decode natively; mp3/ogg/aac need perceptual codecs whose "
        "spec Huffman codebooks cannot be verified in this sandbox — "
        "fail-loud by design")


# --- encoders (self-contained round-trip tests) ------------------------------

def _f64_to_pcm16(samples: np.ndarray) -> bytes:
    return (np.clip(samples, -1.0, 1.0) * 32767.0).astype("<i2").tobytes()


def encode_wav(samples: np.ndarray, rate: int, codec: str = "pcm") -> bytes:
    """Mono float samples → WAV in the requested codec
    (pcm | ulaw | alaw | adpcm)."""
    pcm = _f64_to_pcm16(samples)
    if codec == "pcm":
        fmt, bits, data = WAVE_PCM, 16, pcm
        balign = 2
    elif codec == "ulaw":
        fmt, bits, data = WAVE_MULAW, 8, audioop.lin2ulaw(pcm, 2)
        balign = 1
    elif codec == "alaw":
        fmt, bits, data = WAVE_ALAW, 8, audioop.lin2alaw(pcm, 2)
        balign = 1
    elif codec == "adpcm":
        fmt, bits = WAVE_IMA_ADPCM, 4
        balign = 1024
        samples_per_block = (balign - 4) * 2 + 1
        x = np.frombuffer(pcm, "<i2")
        if len(x) % 2 == 0 and len(x):      # keep nibble pairs whole
            x = x[:-1]
        chunks = []
        idx = 0                              # step index carries across
        for off in range(0, len(x), samples_per_block):
            blk = x[off:off + samples_per_block]
            if len(blk) < 3:
                break
            pred = int(blk[0])
            rest = blk[1:]
            if len(rest) % 2:
                rest = rest[:-1]
            nib, st = audioop.lin2adpcm(
                rest.astype("<i2").tobytes(), 2, (pred, idx))
            body = struct.pack("<hBB", pred, idx, 0) + _swap_nibbles(nib)
            idx = st[1]
            chunks.append(body.ljust(balign, b"\x00"))
        data = b"".join(chunks)
    else:
        raise ValueError(codec)
    hdr = struct.pack("<HHIIHH", fmt, 1, rate,
                      rate * balign if fmt != WAVE_PCM else rate * 2,
                      balign, bits)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(hdr)) + hdr
            + b"data" + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) & 1 else b""))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_aiff(samples: np.ndarray, rate: int) -> bytes:
    import io

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import aifc

        class _KeepOpen(io.BytesIO):
            def close(self):      # aifc closes its file on close()
                pass

        buf = _KeepOpen()
        af = aifc.open(buf, "wb")
        af.setnchannels(1)
        af.setsampwidth(2)
        af.setframerate(rate)
        af.writeframes(
            (np.clip(samples, -1.0, 1.0) * 32767.0)
            .astype(">i2").tobytes())
        af.close()                # flushes header sizes
        data = buf.getvalue()
        io.BytesIO.close(buf)
        return data


def encode_au(samples: np.ndarray, rate: int, codec: str = "ulaw") -> bytes:
    pcm = _f64_to_pcm16(samples)
    if codec == "ulaw":
        enc, data = AU_MULAW, audioop.lin2ulaw(pcm, 2)
    elif codec == "pcm16":
        enc = AU_PCM16
        data = np.frombuffer(pcm, "<i2").astype(">i2").tobytes()
    else:
        raise ValueError(codec)
    return (b".snd" + struct.pack(">5I", 24, len(data), enc, rate, 1)
            + data)


def _decode_bmff_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM-family audio tracks in ISO BMFF (MP4/MOV/M4A): the stbl
    sample table (``core/mp4.py``) yields raw PCM runs in file order;
    codecs 'sowt' (LE s16), 'twos' (BE signed 8/16), 'raw ' (unsigned
    8-bit) and G.711 'ulaw'/'alaw' decode with the WAV machinery.
    Perceptual codecs (AAC) raise — no stdlib path."""
    from .mp4 import mp4_tracks

    tracks = [t for t in mp4_tracks(payload) if t["kind"] == "soun"]
    if not tracks:
        raise ValueError("BMFF without an audio track")
    t = tracks[0]
    raw = b"".join(payload[o:o + s] for o, s in t["samples"])
    codec = t["codec"]
    nch = max(1, t["channels"] or 1)
    rate = t["rate"]
    bits = t["sample_bits"] or 16
    if not rate:
        raise ValueError("BMFF audio track without a sample rate")
    if codec == "sowt":
        # 'sowt' IS 16-bit LE by definition; a track declaring any
        # other depth is malformed — refuse loudly rather than
        # reinterpret the bytes (mirrors track_inventory's predicate)
        if bits != 16:
            raise NotImplementedError(
                f"BMFF 'sowt' audio declaring {bits}-bit samples is "
                "malformed — 'sowt' is 16-bit by definition")
        x = _pcm_to_float(raw, 16, little=True)
    elif codec == "twos":
        # big-endian SIGNED at any _pcm_to_float depth (8-bit 'twos'
        # is signed, unlike WAV's unsigned 8-bit convention); other
        # declared depths (e.g. 20) raise inside _pcm_to_float, and
        # track_inventory routes them decodable=false to match
        x = (np.frombuffer(raw, np.int8).astype(np.float64) / 128.0
             if bits == 8 else _pcm_to_float(raw, bits, little=False))
    elif codec == "raw ":
        # 'raw ' is the QuickTime offset-binary (unsigned) 8-bit
        # description; 16-bit PCM uses 'sowt'/'twos'.  A missing/zero
        # stsd bits field defaults to 8 (the definition) — matching
        # track_inventory's decodability predicate — and any OTHER
        # declared depth refuses loudly rather than decode as noise.
        if (t["sample_bits"] or 8) != 8:
            raise NotImplementedError(
                f"BMFF 'raw ' audio with {bits}-bit samples has no "
                "defined stdlib mapping — fail-loud by design")
        x = _pcm_to_float(raw, 8)
    elif codec == "ulaw":
        x = _pcm_to_float(audioop.ulaw2lin(raw, 2), 16)
    elif codec == "alaw":
        x = _pcm_to_float(audioop.alaw2lin(raw, 2), 16)
    else:
        raise NotImplementedError(
            f"BMFF audio codec {codec!r} is a perceptual codec with "
            "no stdlib path — fail-loud by design")
    return _to_mono(x, nch), rate


def _decode_ebml_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM-family audio tracks in Matroska/WebM: the Cluster frame
    table (``core/ebml.py mkv_tracks``) yields raw runs in stream
    order; ``A_PCM/INT/LIT`` (LE signed, 8-bit unsigned per WAV
    convention), ``A_PCM/INT/BIG`` (BE signed incl. signed 8-bit, the
    AIFF convention), ``A_PCM/FLOAT/IEEE`` (LE f32/f64) decode
    directly, and ``A_MS/ACM`` re-dispatches through the WAV matrix
    (CodecPrivate IS a WAVEFORMATEX — same move as ``avi_audio_wav``).
    Perceptual codecs (A_VORBIS/A_OPUS/A_AAC) raise — no stdlib
    path."""
    from .ebml import mkv_tracks

    tracks = [t for t in mkv_tracks(payload) if t["kind"] == "audio"]
    if not tracks:
        raise ValueError("EBML without an audio track")
    t = tracks[0]
    raw = b"".join(payload[o:o + s] for o, s in t["frames"])
    codec = t["codec_id"]
    nch = max(1, t["channels"] or 1)
    rate = int(round(t["rate"] or 0))
    bits = t["bit_depth"] or 16
    if codec == "A_MS/ACM":
        if len(t["codec_private"]) < 16:
            raise ValueError("A_MS/ACM without a WAVEFORMATEX")
        from .avi import build_wav

        return decode_audio_any(build_wav(t["codec_private"], raw))
    if not rate:
        raise ValueError("EBML audio track without a sample rate")
    if codec == "A_PCM/INT/LIT":
        x = _pcm_to_float(raw, bits, little=True)
    elif codec == "A_PCM/INT/BIG":
        x = (np.frombuffer(raw, np.int8).astype(np.float64) / 128.0
             if bits == 8 else _pcm_to_float(raw, bits, little=False))
    elif codec == "A_PCM/FLOAT/IEEE" and bits in (32, 64):
        x = np.frombuffer(raw, "<f4" if bits == 32 else "<f8") \
            .astype(np.float64)
    else:
        raise NotImplementedError(
            f"Matroska audio codec {codec!r} is a perceptual codec "
            "with no stdlib path — fail-loud by design")
    return _to_mono(x, nch), rate
