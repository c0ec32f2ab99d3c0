"""Boilerplate stripping + multimodal plumbing tests."""

from __future__ import annotations

import pytest

from exam_pdf_parser_spark.operators.htmlstrip import (
    block_scores, strip_html_bytes, strip_html_documents, strip_text_lines,
)
from exam_pdf_parser_spark.operators.multimodal import (
    MEDIA_SCHEMA, byte_histogram_features, decode_image, extract_metadata,
    media_corpus, sample_frames,
)

HTML = """
<html><head><script>var x=1;</script><style>.a{}</style></head>
<body>
<nav><a href="/">home</a> | <a href="/n">news</a></nav>
<div class="menu"><a href="/a">aaa</a> <a href="/b">bbb</a> <a href="/c">c</a></div>
<p>This is the real article content, long enough to keep and clearly prose.</p>
<p>Second paragraph of body text with plenty of characters to stay above the gate.</p>
<p>tiny</p>
<footer>© example.com | <a href="/privacy">privacy</a></footer>
</body></html>
""".encode("utf-8")


def test_strip_html_keeps_prose_drops_nav():
    out = strip_html_bytes(HTML)
    assert "real article content" in out
    assert "Second paragraph" in out
    assert "aaa" not in out          # link-dense menu dropped
    assert "tiny" not in out         # under min length
    assert "privacy" not in out      # footer removed with the tag


def test_block_scores_link_density():
    blocks = block_scores(HTML.decode())
    menu = [b for b in blocks if "aaa" in b["text"]]
    assert menu and menu[0]["link_density"] > 0.5
    prose = [b for b in blocks if "real article" in b["text"]]
    assert prose and prose[0]["link_density"] == 0.0


def test_strip_html_documents_spark(spark):
    df = spark.createDataFrame(
        [("u1", HTML), ("u2", b"<p>" + b"content words here repeated " * 3 + b"</p>")],
        "url string, html binary")
    out = {r["url"]: r["main_content"]
           for r in strip_html_documents(df).collect()}
    assert "real article content" in out["u1"]
    assert "content words here" in out["u2"]


def test_strip_text_lines_on_corpus(spark):
    from exam_pdf_parser_spark.operators.extract import corpus_df

    docs = corpus_df(spark, 10, partitions=2)
    out = strip_text_lines(docs).select("url", "text", "main_text").collect()
    for r in out:
        assert "HOME | NEWS" in r["text"]
        assert "HOME | NEWS" not in r["main_text"]
        assert "all rights reserved" not in r["main_text"]
        assert len(r["main_text"]) > 0


@pytest.fixture(scope="module")
def media(spark):
    df = media_corpus(spark, 60, partitions=4).persist()
    yield df
    df.unpersist()


def test_media_metadata(spark, media):
    meta = extract_metadata(media).collect()
    assert len(meta) == 60
    assert all(m["valid"] == "ok" for m in meta)
    kinds = {m["media_id"]: m["kind"] for m in meta}
    assert kinds[0] == "image" and kinds[1] == "audio" and kinds[2] == "video"
    imgs = [m for m in meta if m["kind"] == "image"]
    assert all(m["n_frames"] == 1 for m in imgs)


def test_media_corrupt_payload_flagged(spark):
    bad = spark.createDataFrame(
        [(99, "image", b"\x00junk")],
        "media_id long, kind string, payload binary")
    meta = extract_metadata(bad).collect()[0]
    assert meta["valid"] == "corrupt"


def test_byte_histogram_features(spark, media):
    feats = byte_histogram_features(media).collect()
    assert len(feats) == 60
    for f in feats:
        assert len(f["feature"]) == 16
        assert abs(sum(f["feature"]) - 1.0) < 1e-5


def test_frame_sampling(spark, media):
    frames = sample_frames(media, every_n=4)
    rows = frames.collect()
    assert rows, "video rows must produce frames"
    meta = {m["media_id"]: m for m in extract_metadata(media).collect()}
    by_media: dict[int, list] = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, fr in by_media.items():
        assert meta[mid]["kind"] == "video"
        expected = (meta[mid]["n_frames"] + 3) // 4
        assert len(fr) == expected
        assert all(len(x["frame"]) > 0 for x in fr)


def test_decode_stub_is_explicit():
    # PNG/GIF/baseline-JPEG decode natively; everything else raises
    with pytest.raises(NotImplementedError):
        decode_image(b"anything")


def test_resize_media(spark, media):
    from exam_pdf_parser_spark.operators.multimodal import resize_media

    resized = resize_media(media, 1, 2)
    meta = {m["media_id"]: m for m in extract_metadata(media).collect()}
    out = {m["media_id"]: m for m in
           extract_metadata(resized).collect()}
    assert set(out) == set(meta)
    for mid, m in out.items():
        assert m["valid"] == "ok"
        assert m["width"] == max(1, meta[mid]["width"] // 2)
        assert m["height"] == max(1, meta[mid]["height"] // 2)
        assert m["n_frames"] == meta[mid]["n_frames"]
        assert m["n_bytes"] < meta[mid]["n_bytes"]


def test_png_image_pipeline_real_decode(spark):
    """The image path is REAL end-to-end: PNG corpus → decode → pixel
    features → block-mean resize → re-decode."""
    import numpy as np

    from exam_pdf_parser_spark.core.png import decode_png_gray
    from exam_pdf_parser_spark.operators.multimodal import (
        image_pixel_features, png_media_corpus, resize_images,
    )

    media = png_media_corpus(spark, 12, partitions=2).persist()
    feats = {r["media_id"]: r for r in image_pixel_features(media).collect()}
    assert len(feats) == 12
    for mid, r in feats.items():
        assert r["valid"] == "ok"
        assert r["width"] >= 32 and r["height"] >= 32
        # left-to-right gradient pattern → nonzero spread and edges
        assert r["std_intensity"] > 0
        assert r["edge_density"] > 0

    resized = resize_images(media, factor=2)
    rfeats = {r["media_id"]: r
              for r in image_pixel_features(resized).collect()}
    for mid, r in rfeats.items():
        assert r["valid"] == "ok"
        assert r["width"] == feats[mid]["width"] // 2
        assert r["height"] == feats[mid]["height"] // 2
        # block-mean preserves overall brightness closely
        assert abs(r["mean_intensity"] - feats[mid]["mean_intensity"]) < 3.0

    # spot-check the pixel math against a local decode of one payload
    row = media.filter("media_id = 0").first()
    img = decode_png_gray(bytes(row["payload"]))
    h2, w2 = img.shape[0] // 2, img.shape[1] // 2
    want = (img[:h2 * 2, :w2 * 2].reshape(h2, 2, w2, 2)
            .mean(axis=(1, 3)).astype(np.uint8))
    got = decode_png_gray(bytes(
        resized.filter("media_id = 0").first()["payload"]))
    assert (got == want).all()
    media.unpersist()


def test_image_pipeline_quarantines_corrupt(spark):
    from exam_pdf_parser_spark.operators.multimodal import (
        image_pixel_features, resize_images,
    )

    bad = spark.createDataFrame(
        [(0, "image", bytearray(b"garbage-not-a-png"))], MEDIA_SCHEMA)
    feats = image_pixel_features(bad).collect()
    assert len(feats) == 1 and feats[0]["valid"] == "corrupt"
    out = resize_images(bad).collect()   # passes through untouched
    assert bytes(out[0]["payload"]) == b"garbage-not-a-png"


def test_header_only_media_dims():
    """Real-format dimensions parse from headers alone — no pixel
    codec: JPEG SOF0, progressive JPEG SOF2, GIF LSD, PNG IHDR."""
    import struct

    import numpy as np

    from exam_pdf_parser_spark.core.png import encode_png_gray
    from exam_pdf_parser_spark.operators.multimodal import parse_meta

    def jpeg(w, h, sof=0xC0):
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof0 = (bytes([0xFF, sof]) + struct.pack(">H", 11) + b"\x08"
                + struct.pack(">HH", h, w) + b"\x01\x01\x11\x00")
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"

    m = parse_meta(jpeg(640, 480))
    assert (m["kind"], m["width"], m["height"], m["valid"]) == \
        ("image", 640, 480, "ok")
    m = parse_meta(jpeg(31, 7, sof=0xC2))        # progressive
    assert (m["width"], m["height"], m["valid"]) == (31, 7, "ok")

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    m = parse_meta(gif)
    assert (m["kind"], m["width"], m["height"], m["n_frames"]) == \
        ("image", 320, 200, None)

    png = encode_png_gray(np.zeros((12, 34), dtype=np.uint8))
    m = parse_meta(png)
    assert (m["width"], m["height"], m["valid"]) == (34, 12, "ok")

    # truncated / desynchronized inputs stay quarantined, never raise
    for bad in (b"\xff\xd8\x00\x00", b"GIF89a\x01", b"\x89PNG\r\n\x1a\n", b""):
        assert parse_meta(bad)["valid"] == "corrupt"

    # int32 saturation of the Spark n_frames column
    from exam_pdf_parser_spark.operators.multimodal import _sat32
    assert _sat32(3 << 31) == (1 << 31) - 1
    assert _sat32(None) is None and _sat32(7) == 7


def test_header_only_dims_through_spark(spark):
    """The extract_metadata stage reads real-format headers end-to-end."""
    import struct

    from exam_pdf_parser_spark.operators.multimodal import (
        MEDIA_SCHEMA, extract_metadata,
    )

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 10, 20) + b"\x01\x01\x11\x00")
    rows = [
        (0, "image", b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"),
        (1, "image", b"GIF87a" + struct.pack("<HH", 99, 44) + b"\x00"),
        (2, "image", b"not media at all"),
    ]
    out = {r["media_id"]: r for r in extract_metadata(
        spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    assert (out[0]["width"], out[0]["height"]) == (20, 10)
    assert (out[1]["width"], out[1]["height"]) == (99, 44)
    assert out[2]["valid"] == "corrupt"


def test_gif_codec_roundtrip_and_lzw():
    """Real GIF decode: encoder round-trip, dictionary-growth LZW (via
    Python's lzw-free reference: a patterned image whose compressed
    form exercises KwKwK and width growth), luma palette mapping, and
    loud failures on truncation/interlace."""
    import numpy as np
    import pytest

    from exam_pdf_parser_spark.core.gif import (
        decode_gif_gray, encode_gif_gray,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(23, 41), dtype=np.uint8)
    assert np.array_equal(decode_gif_gray(encode_gif_gray(img)), img)

    # gradient + repetition: many repeated runs (KwKwK patterns when a
    # real compressor is used; our uncompressed stream still stresses
    # the CLEAR/reset path every 254 codes)
    yy, xx = np.mgrid[0:50, 0:77]
    img2 = ((xx + yy) % 7 * 36).astype(np.uint8)
    assert np.array_equal(decode_gif_gray(encode_gif_gray(img2)), img2)

    blob = encode_gif_gray(img)
    with pytest.raises(ValueError):
        decode_gif_gray(blob[:40])          # truncated
    with pytest.raises(ValueError):
        decode_gif_gray(b"GIF89a" + blob[6:20])  # mangled container

    # decode_image dispatches GIFs to the real codec
    from exam_pdf_parser_spark.operators.multimodal import decode_image
    assert np.array_equal(decode_image(blob), img)


def test_gif_lzw_dictionary_growth():
    """Decode a stream produced by a REAL LZW compressor (reference
    implementation inline) so dictionary growth + width bumps + the
    KwKwK case are exercised — not just the uncompressed encoder."""
    import numpy as np

    from exam_pdf_parser_spark.core.gif import _lzw_decode

    def lzw_compress(data: bytes, min_code: int) -> bytes:
        CLEAR, END = 1 << min_code, (1 << min_code) + 1
        table = {bytes([i]): i for i in range(CLEAR)}
        next_code = END + 1
        width = min_code + 1
        acc = nbits = 0
        out = bytearray()

        def emit(code):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        emit(CLEAR)
        w = b""
        for ch in data:
            wc = w + bytes([ch])
            if wc in table:
                w = wc
                continue
            emit(table[w])
            if next_code < 4096:
                table[wc] = next_code
                next_code += 1
                # encoder widens one add AFTER the decoder's
                # len(table)==2^w bump point (decoder adds lag the
                # encoder by one data code) — verified against real
                # GIFs (idlelib icons)
                if next_code == (1 << width) + 1 and width < 12:
                    width += 1
            w = bytes([ch])
        if w:
            emit(table[w])
        emit(END)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    # KwKwK classic: abababab... plus random tail, 8bpp
    data = (b"ab" * 600 + bytes(np.random.default_rng(3).integers(
        0, 256, 800, dtype=np.uint8)))
    comp = lzw_compress(data, 8)
    assert len(comp) < len(data)            # really compressed
    assert _lzw_decode(comp, 8, len(data)) == data


def test_gif_decode_real_world_files():
    """The decoder handles GIFs produced by real encoders (Python's
    idlelib ships several) — pins the LZW width-growth convention
    against files we did not write."""
    import glob
    import os

    import pytest

    import idlelib
    from exam_pdf_parser_spark.core.gif import decode_gif_gray

    icons = os.path.join(os.path.dirname(idlelib.__file__), "Icons")
    gifs = sorted(glob.glob(os.path.join(icons, "*.gif")))
    if not gifs:
        pytest.skip("no idlelib icons present")
    decoded = 0
    import struct
    for f in gifs:
        payload = open(f, "rb").read()
        img = decode_gif_gray(payload)
        w, h = struct.unpack("<HH", payload[6:10])
        # frame dims may be smaller than the logical screen, never larger
        assert img.shape[0] <= h and img.shape[1] <= w and img.size > 0
        decoded += 1
    assert decoded == len(gifs)   # every icon, interlaced included


def test_gif_interlace_deinterlaces():
    """Synthetic interlace: store rows in 4-pass order, set the
    interlace flag, and expect the display-order image back."""
    import numpy as np

    from exam_pdf_parser_spark.core.gif import (
        decode_gif_gray, encode_gif_gray,
    )

    h, w = 13, 9
    img = (np.arange(h * w, dtype=np.uint32) % 251).astype(np.uint8)
    img = img.reshape(h, w)
    order = ([*range(0, h, 8)] + [*range(4, h, 8)]
             + [*range(2, h, 4)] + [*range(1, h, 2)])
    storage = img[order]                   # rows as an encoder stores them
    blob = bytearray(encode_gif_gray(storage))
    flags_at = 6 + 7 + 768 + 1 + 8         # sig+LSD+GCT+sep+descriptor
    assert blob[flags_at] == 0
    blob[flags_at] = 0x40                  # mark interlaced
    assert np.array_equal(decode_gif_gray(bytes(blob)), img)


def test_jpeg_codec_roundtrip_and_real_files():
    """JPEG decode is real: encoder round-trip within a PSNR bound on
    smooth content, progressive decode bit-identical to baseline, and
    real-world files decode to plausible luma."""
    import glob
    import os

    import numpy as np
    import pytest

    from exam_pdf_parser_spark.core.jpeg import (
        decode_jpeg_gray, encode_jpeg_gray,
    )

    yy, xx = np.mgrid[0:50, 0:70]
    img = ((xx * 3 + yy * 2) % 256).astype(np.uint8)
    dec = decode_jpeg_gray(encode_jpeg_gray(img))
    assert dec.shape == img.shape
    mse = float(np.mean((dec.astype(float) - img.astype(float)) ** 2))
    assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) > 30.0   # dB

    # lossy but deterministic: same bytes every run
    assert encode_jpeg_gray(img) == encode_jpeg_gray(img)

    with pytest.raises(ValueError):
        decode_jpeg_gray(b"\xff\xd8trunc")

    # progressive successive-approximation stream (DC first Al=1 →
    # AC first Al=1 → DC refine → AC refine) decodes BIT-IDENTICAL to
    # the baseline encoding — exercises the whole refinement engine
    prog_blob = encode_jpeg_gray(img, progressive=True)
    assert np.array_equal(decode_jpeg_gray(prog_blob), dec)

    # spec-legal 0xFF fill bytes before a marker must not desync the
    # multi-scan walk (T.81 B.1.1.2)
    second_sos = prog_blob.index(b"\xff\xda", 2 + prog_blob.index(b"\xff\xda"))
    padded = prog_blob[:second_sos] + b"\xff" + prog_blob[second_sos:]
    assert np.array_equal(decode_jpeg_gray(padded), dec)

    # a stray restart marker raises the documented ValueError, not a
    # private exception type
    blob = encode_jpeg_gray(img)
    scan_at = blob.index(b"\xff\xda")
    broken = blob[:scan_at + 20] + b"\xff\xd0" + blob[scan_at + 20:]
    with pytest.raises(ValueError):
        decode_jpeg_gray(broken)

    # real-world JPEGs from the Python installation, when present —
    # plus any real PROGRESSIVE photo shipped with system docs
    stdlib = os.path.dirname(os.__file__)
    files = glob.glob(os.path.join(stdlib, "test", "imghdrdata", "*.jpg"))
    files += [f for f in glob.glob(
        "/root/.rustup/toolchains/*/share/doc/rust/html/embedded-book/"
        "assets/*.jp*g")][:2]
    if not files:
        pytest.skip("no stdlib sample JPEGs on this machine")
    for f in sorted(files):
        out = decode_jpeg_gray(open(f, "rb").read())
        assert out.size > 0 and out.std() > 0   # decoded, non-constant

    # decode_image dispatches JPEG to the native codec
    from exam_pdf_parser_spark.operators.multimodal import decode_image
    assert np.array_equal(decode_image(encode_jpeg_gray(img)), dec)


def test_jpeg_codec_scales_linearly():
    """Review regression: the bit accumulators must stay masked — an
    unmasked acc made 512x512 decode take ~12 s (quadratic in stream
    length).  Asserted RELATIVELY (512² vs 128² codec time, best-of-2
    per size): linear ≈16×, quadratic ≈256×; the 80× bound separates
    the regimes without depending on this shared VM's absolute clock.
    """
    import time

    import numpy as np

    from exam_pdf_parser_spark.core.jpeg import (
        decode_jpeg_gray, encode_jpeg_gray,
    )

    def codec_time(n: int) -> float:
        img = (np.arange(n * n, dtype=np.uint32) % 256).astype(
            np.uint8).reshape(n, n)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            blob = encode_jpeg_gray(img)
            decode_jpeg_gray(blob)
            best = min(best, time.perf_counter() - t0)
        return best

    small, big = codec_time(128), codec_time(512)
    assert big < 80 * max(small, 1e-3), (
        f"512² codec {big:.3f}s vs 128² {small:.3f}s — super-linear; "
        "check the _BitReader accumulator masking")


def test_tiff_bmp_decode():
    """Baseline TIFF (none/PackBits strips, II and MM byte orders,
    gray + RGB) and uncompressed BMP (8-bit palette + 24-bit) decode
    natively; unsupported variants stay loud."""
    import struct

    import numpy as np
    import pytest

    from exam_pdf_parser_spark.core.bmp import encode_bmp_gray
    from exam_pdf_parser_spark.core.tiff import (
        encode_tiff_gray, packbits, unpackbits,
    )
    from exam_pdf_parser_spark.operators.multimodal import (
        decode_image, parse_meta,
    )

    rng = np.random.default_rng(5)
    img = ((np.arange(48 * 64).reshape(48, 64) % 256)
           ^ rng.integers(0, 32, (48, 64))).astype(np.uint8)

    for blob in (encode_tiff_gray(img),
                 encode_tiff_gray(img, use_packbits=True),
                 encode_bmp_gray(img)):
        assert np.array_equal(decode_image(blob), img)
        m = parse_meta(blob)
        assert (m["kind"], m["width"], m["height"], m["valid"]) == \
            ("image", 64, 48, "ok")

    # PackBits round-trips arbitrary run-heavy data
    for _ in range(40):
        data = bytes(rng.integers(0, 4, int(rng.integers(0, 300)))
                     .astype(np.uint8))
        assert unpackbits(packbits(data)) == data

    # big-endian RGB TIFF (inline SHORTs live in the FIRST two bytes
    # of the value field) → luma mean
    def be_tiff_rgb(img3):
        h, w, _ = img3.shape
        data = img3.astype(np.uint8).tobytes()
        entries = [(256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8),
                   (259, 3, 1, 1), (262, 3, 1, 2), (273, 4, 1, None),
                   (277, 3, 1, 3), (278, 4, 1, h), (279, 4, 1, len(data))]
        data_off = 8 + 2 + 12 * len(entries) + 4
        out = bytearray(b"MM\x00*" + struct.pack(">I", 8)
                        + struct.pack(">H", len(entries)))
        for tag, typ, cnt, val in entries:
            if tag == 273:
                val = data_off
            vf = (struct.pack(">HH", val, 0) if typ == 3
                  else struct.pack(">I", val))
            out += struct.pack(">HHI", tag, typ, cnt) + vf
        return bytes(out + struct.pack(">I", 0) + data)

    img3 = rng.integers(0, 256, (20, 30, 3)).astype(np.uint8)
    assert np.array_equal(decode_image(be_tiff_rgb(img3)),
                          img3.mean(axis=2).astype(np.uint8))

    # 24-bit bottom-up BMP with row padding
    h, w = 5, 3
    px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    row_bytes = (w * 3 + 3) & ~3
    body = b"".join(px[r].tobytes().ljust(row_bytes, b"\x00")
                    for r in range(h - 1, -1, -1))
    bmp24 = (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
             + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                           len(body), 0, 0, 0, 0) + body)
    assert np.array_equal(decode_image(bmp24),
                          px.mean(axis=2).astype(np.uint8))

    # old-style JPEG TIFF and depth-mismatched RLE4 stay loud (RLE4
    # itself decodes since round 5 — test_bmp_low_depth_rle4_16bit_os2)
    blob = bytearray(encode_tiff_gray(img))
    struct.pack_into("<I", blob, 8 + 2 + 12 * 3 + 8, 6)   # comp → old-JPEG
    with pytest.raises(NotImplementedError, match="old-JPEG"):
        decode_image(bytes(blob))
    blob = bytearray(encode_bmp_gray(img))
    struct.pack_into("<I", blob, 30, 2)       # BI_RLE4 on 8-bit pixels
    with pytest.raises(NotImplementedError, match="4-bit"):
        decode_image(bytes(blob))


def test_palette_tiff_rle8_bmp_gif_frames():
    """Round-4 follow-ons: palette TIFF maps through its ColorMap,
    BI_RLE8 BMP decodes its run stream, GIF metadata counts frames."""
    import struct

    import numpy as np

    from exam_pdf_parser_spark.core.bmp import _decode_rle8
    from exam_pdf_parser_spark.core.gif import (
        encode_gif_gray, gif_frame_count,
    )
    from exam_pdf_parser_spark.operators.multimodal import (
        decode_image, parse_meta,
    )

    # palette TIFF: hand-built photometric-3 file with an INVERTED
    # colormap — decoded pixels must be 255 - index
    rng = np.random.default_rng(6)
    idx = rng.integers(0, 256, (10, 14)).astype(np.uint8)
    cmap = np.zeros(768, "<u2")
    ramp = ((255 - np.arange(256)).astype("<u2")
            * np.uint16(257))            # 8-bit → full 16-bit range
    cmap[:256] = cmap[256:512] = cmap[512:] = ramp

    def palette_tiff(idx, cmap):
        data = idx.tobytes()
        entries = [(256, 4, 1, idx.shape[1]), (257, 4, 1, idx.shape[0]),
                   (258, 3, 1, 8), (259, 3, 1, 1), (262, 3, 1, 3),
                   (273, 4, 1, None), (277, 3, 1, 1),
                   (279, 4, 1, len(data)), (320, 3, 768, None)]
        ifd = 8
        data_off = ifd + 2 + 12 * len(entries) + 4
        cmap_off = data_off + len(data)
        out = bytearray(b"II*\x00" + struct.pack("<I", ifd)
                        + struct.pack("<H", len(entries)))
        for tag, typ, cnt, val in entries:
            if tag == 273:
                val = data_off
            if tag == 320:
                val = cmap_off
            out += struct.pack("<HHII", tag, typ, cnt, val)
        out += struct.pack("<I", 0) + data + cmap.tobytes()
        return bytes(out)

    got = decode_image(palette_tiff(idx, cmap))
    assert np.array_equal(got, (255 - idx).astype(np.uint8))

    # RLE8 stream: encoded run, absolute run, EOL, delta, EOB
    rle = bytes([3, 7,            # 7 7 7
                 0, 3, 1, 2, 3, 0,  # absolute 1 2 3 (+pad)
                 0, 0,            # end of line
                 0, 2, 2, 1,      # delta: skip 2 cols, 1 row
                 2, 9,            # 9 9
                 0, 1])           # end of bitmap
    out = _decode_rle8(rle, 6, 4)
    assert out.shape == (4, 6)
    assert list(out[0]) == [7, 7, 7, 1, 2, 3]
    assert list(out[2]) == [0, 0, 9, 9, 0, 0]

    # GIF frame counting through parse_meta (encoder emits one frame)
    img = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3)
    m = parse_meta(encode_gif_gray(img))
    assert m["n_frames"] == 1
    assert gif_frame_count(b"GIF89a" + struct.pack("<HH", 3, 3)
                           + b"\x00\x00\x00") is None


def _build_tiff(w, h, photo, spp, body, extra_tags=()):
    """Hand-assemble a little-endian uncompressed strip TIFF.
    extra_tags: (tag, typ, values) where typ 3 packs inline SHORTs
    and typ 5 appends RATIONAL num/den pairs after the pixel data."""
    import struct

    entries = [(256, 4, [w]), (257, 4, [h]), (258, 3, [8]),
               (259, 3, [1]), (262, 3, [photo]), (273, 4, None),
               (277, 3, [spp]), (279, 4, [len(body)])]
    entries += [(t, typ, list(v)) for t, typ, v in extra_tags]
    entries.sort()
    ifd = 8
    data_off = ifd + 2 + 12 * len(entries) + 4
    tail = bytearray()                   # out-of-line values
    tail_off = data_off + len(body)
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd)
                    + struct.pack("<H", len(entries)))
    for tag, typ, vals in entries:
        if tag == 273:
            out += struct.pack("<HHII", tag, 4, 1, data_off)
            continue
        if typ == 5:                     # RATIONAL: value/1 pairs
            out += struct.pack("<HHII", tag, 5, len(vals),
                               tail_off + len(tail))
            for v in vals:
                tail += struct.pack("<II", int(v), 1)
            continue
        cnt = len(vals)
        if typ == 3 and cnt <= 2:        # inline SHORTs
            packed = struct.pack("<" + "H" * cnt, *vals).ljust(4, b"\0")
            out += struct.pack("<HHI", tag, 3, cnt) + packed
        else:
            out += struct.pack("<HHII", tag, 4, cnt, vals[0])
    out += struct.pack("<I", 0) + body + tail
    return bytes(out)


def test_tiff_cmyk_ycbcr_photometrics():
    """Round-5 TIFF closure: CMYK inks resolve through the (255-ink)
    (255-K)/255 transform; YCbCr data units (1x1 and 2x2 subsampling)
    reconstruct BT.601 RGB with ReferenceBlackWhite honored.  Every
    expectation is hand-computed from the TIFF 6.0 formulas, not from
    the decoder."""
    import numpy as np
    import pytest

    from exam_pdf_parser_spark.core.tiff import decode_tiff_gray

    # --- CMYK: pure K=255 -> black; no ink -> white; mixed checked
    # against the spec formula computed right here
    px = [(0, 0, 0, 0), (0, 0, 0, 255), (51, 102, 153, 64),
          (255, 0, 0, 0)]
    body = bytes(v for p in px for v in p)
    got = decode_tiff_gray(_build_tiff(4, 1, 5, 4, body))

    def cmyk_gray(c, m, y, k):
        rgb = [(255 - v) * (255 - k) / 255.0 for v in (c, m, y)]
        return min(255, int(sum(rgb) / 3.0 + 0.5))

    assert [int(v) for v in got[0]] == [cmyk_gray(*p) for p in px]
    assert int(got[0][0]) == 255 and int(got[0][1]) == 0

    # --- YCbCr 1x1: each unit is Y,Cb,Cr; neutral chroma (128,128)
    # must reproduce Y exactly under the default ReferenceBlackWhite
    ys = [0, 64, 128, 255]
    body = bytes(b for y in ys for b in (y, 128, 128))
    got = decode_tiff_gray(_build_tiff(4, 1, 6, 3,
                                       body, [(530, 3, (1, 1))]))
    assert [int(v) for v in got[0]] == ys

    # non-neutral chroma, hand-computed BT.601 reconstruction
    def ycc_gray(y, cb, cr):
        cb, cr = cb - 128.0, cr - 128.0
        r = y + cr * (2 - 2 * 0.299)
        b = y + cb * (2 - 2 * 0.114)
        g = (y - 0.299 * r - 0.114 * b) / 0.587
        return int(min(255.0, max(0.0, (r + g + b) / 3.0 + 0.5)))

    body = bytes([100, 90, 200])
    got = decode_tiff_gray(_build_tiff(1, 1, 6, 3,
                                       body, [(530, 3, (1, 1))]))
    assert int(got[0][0]) == ycc_gray(100, 90, 200)

    # --- YCbCr 2x2 (the tag-530 default): one unit = 4 Y row-major
    # + Cb + Cr shared by the 2x2 block; two units across a 4x2 image
    unit1 = bytes([10, 20, 30, 40, 128, 128])
    unit2 = bytes([50, 60, 70, 80, 128, 128])
    got = decode_tiff_gray(_build_tiff(4, 2, 6, 3, unit1 + unit2))
    assert got.tolist() == [[10, 20, 50, 60], [30, 40, 70, 80]]

    # odd width: w=3 with 2x2 subsampling still uses 2 units/row,
    # the 4th Y column is padding and must be cropped out
    got = decode_tiff_gray(_build_tiff(3, 2, 6, 3, unit1 + unit2))
    assert got.tolist() == [[10, 20, 50], [30, 40, 70]]

    # --- ReferenceBlackWhite headroom/footroom (16..235 video range)
    # scales Y back to full range: Y'=16 -> 0, Y'=235 -> 255
    body = bytes([16, 128, 128, 235, 128, 128])
    blob = _build_tiff(2, 1, 6, 3, body,
                       [(530, 3, (1, 1)),
                        (532, 5, (16, 235, 128, 240, 128, 240))])
    got = decode_tiff_gray(blob)
    assert [int(v) for v in got[0]] == [0, 255]

    # truncated unit stream raises (quarantine, not garbage)
    with pytest.raises(ValueError, match="shorter"):
        decode_tiff_gray(_build_tiff(4, 2, 6, 3, unit1))

    # review fix: multi-strip YCbCr whose RowsPerStrip is not a
    # multiple of the vertical subsampling would shift every later
    # strip through unit-row padding — must raise, not render
    import struct as _st
    entries = [(256, 1, [2]), (257, 1, [4]), (258, 1, [8]),
               (259, 1, [1]), (262, 1, [6]), (273, 2, [0, 0]),
               (277, 1, [3]), (278, 1, [3]), (279, 2, [6, 6]),
               (530, 0, [2, 2])]
    ifd = 8
    arr_off = ifd + 2 + 12 * len(entries) + 4
    blob = bytearray(b"II*\x00" + _st.pack("<I", ifd)
                     + _st.pack("<H", len(entries)))
    for tag, mode, vals in entries:
        if mode == 2:                    # two-LONG array, out-of-line
            blob += _st.pack("<HHII", tag, 4, 2, arr_off)
            arr_off += 8
        elif mode == 0:                  # two inline SHORTs
            blob += _st.pack("<HHI", tag, 3, 2) + _st.pack("<HH", *vals)
        else:
            blob += _st.pack("<HHII", tag, 4, 1, vals[0])
    blob += _st.pack("<I", 0)
    data_off = len(blob) + 16
    blob += _st.pack("<II", data_off, data_off + 6)      # strip offs
    blob += _st.pack("<II", 6, 6)                        # strip cnts
    blob += b"\x00" * 12
    with pytest.raises(ValueError, match="RowsPerStrip"):
        decode_tiff_gray(bytes(blob))


def test_tiff_tiled_and_16bit():
    """Round-5 TIFF closure, part 2: tile-organized files (tags
    322-325) assemble their grid with edge-tile crop and per-tile
    predictor restart; 16-bit grayscale maps through its high byte
    in either byte order."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from exam_pdf_parser_spark.core.tiff import decode_tiff_gray

    def tiled_tiff(w, h, tw, tl, tiles, comp=1, predictor=1, bits=8):
        """Little-endian tiled TIFF; tiles = list of raw tile bytes
        in row-major grid order."""
        entries = [(256, [w]), (257, [h]), (258, [bits]), (259, [comp]),
                   (262, [1]), (277, [1]), (317, [predictor]),
                   (322, [tw]), (323, [tl]),
                   (324, None), (325, [len(t) for t in tiles])]
        ifd = 8
        n = len(entries)
        # the two array tags (324/325) need out-of-line storage when
        # longer than one value
        arr_off = ifd + 2 + 12 * n + 4
        cnt_bytes = 4 * len(tiles)
        data_off = arr_off + 2 * cnt_bytes
        offsets = []
        pos = data_off
        for t in tiles:
            offsets.append(pos)
            pos += len(t)
        out = bytearray(b"II*\x00" + struct.pack("<I", ifd)
                        + struct.pack("<H", n))
        for tag, vals in entries:
            if tag == 324:
                vals = offsets
            if len(vals) == 1:
                out += struct.pack("<HHII", tag, 4, 1, vals[0])
            elif tag == 324:
                out += struct.pack("<HHII", tag, 4, len(vals), arr_off)
            else:                        # 325 counts
                out += struct.pack("<HHII", tag, 4, len(vals),
                                   arr_off + cnt_bytes)
        out += struct.pack("<I", 0)
        out += b"".join(struct.pack("<I", v) for v in offsets)
        out += b"".join(struct.pack("<I", len(t)) for t in tiles)
        for t in tiles:
            out += t
        return bytes(out)

    # 6x5 image in 4x4 tiles → 2x2 grid; edge tiles padded, and the
    # padding must be cropped out of the result
    img = np.arange(30, dtype=np.uint8).reshape(5, 6) * 7
    tiles = []
    for ti in range(2):
        for tj in range(2):
            t = np.zeros((4, 4), np.uint8)
            blk = img[ti * 4:ti * 4 + 4, tj * 4:tj * 4 + 4]
            t[: blk.shape[0], : blk.shape[1]] = blk
            tiles.append(t.tobytes())
    got = decode_tiff_gray(tiled_tiff(6, 5, 4, 4, tiles))
    assert np.array_equal(got, img)

    # deflate-compressed tiles with the horizontal predictor: the
    # differencing restarts at every tile's left edge
    dtiles = []
    for ti in range(2):
        for tj in range(2):
            t = np.zeros((4, 4), np.int16)
            blk = img[ti * 4:ti * 4 + 4, tj * 4:tj * 4 + 4]
            t[: blk.shape[0], : blk.shape[1]] = blk
            diff = np.diff(t.astype(np.int16), axis=1,
                           prepend=np.zeros((4, 1), np.int16))
            dtiles.append(zlib.compress(
                (diff.astype(np.int16) & 0xFF).astype(np.uint8)
                .tobytes()))
    got = decode_tiff_gray(tiled_tiff(6, 5, 4, 4, dtiles, comp=8,
                                      predictor=2))
    assert np.array_equal(got, img)

    # 16-bit grayscale, little-endian: output is the high byte
    vals = np.array([[0, 256, 65535, 40000]], "<u2")
    body = vals.tobytes()
    blob = _build_tiff(4, 1, 1, 1, body)
    # patch BitsPerSample 8 → 16 in the hand builder's IFD
    blob = bytearray(blob)
    i = blob.find(struct.pack("<HHII", 258, 3, 1, 8))
    assert i > 0
    blob[i:i + 12] = struct.pack("<HHII", 258, 3, 1, 16)
    got = decode_tiff_gray(bytes(blob))
    assert got.tolist() == [[0, 1, 255, 156]]   # 40000>>8 = 156

    # big-endian 16-bit: same image, MM byte order, hand-built
    def be_tiff16(w, h, body):
        entries = [(256, w), (257, h), (258, 16), (259, 1), (262, 1),
                   (273, None), (277, 1), (279, len(body))]
        ifd = 8
        data_off = ifd + 2 + 12 * len(entries) + 4
        out = bytearray(b"MM\x00*" + struct.pack(">I", ifd)
                        + struct.pack(">H", len(entries)))
        for tag, val in entries:
            if tag == 273:
                val = data_off
            out += struct.pack(">HHII", tag, 4, 1, val)
        out += struct.pack(">I", 0) + body
        return bytes(out)

    got = decode_tiff_gray(be_tiff16(4, 1, vals.astype(">u2").tobytes()))
    assert got.tolist() == [[0, 1, 255, 156]]

    # 16-bit color stays loud; truncated tile stream raises
    blob = bytearray(_build_tiff(2, 1, 2, 3, b"\x00" * 12))
    i = blob.find(struct.pack("<HHII", 258, 3, 1, 8))
    blob[i:i + 12] = struct.pack("<HHII", 258, 3, 1, 16)
    with pytest.raises(NotImplementedError, match="16-bit"):
        decode_tiff_gray(bytes(blob))
    with pytest.raises(ValueError, match="tile"):
        decode_tiff_gray(tiled_tiff(6, 5, 4, 4, tiles[:2]))


def test_tiff_orientation_and_old_jpeg():
    """Tag 274 maps stored rows/cols to the visual orientation (all 8
    values, hand-computed expectations on an asymmetric image; dims
    probe swaps w/h for the transposing ones), and the common
    broken-writer old-JPEG shape — a complete JPEG stream at the
    strip offset — decodes while the true tag-soup form stays loud."""
    import struct

    import numpy as np
    import pytest

    from exam_pdf_parser_spark.core.jpeg import encode_jpeg_gray
    from exam_pdf_parser_spark.core.tiff import (
        decode_tiff_gray, tiff_dims,
    )

    base = np.array([[1, 2, 3], [4, 5, 6]], np.uint8)

    def with_orient(o):
        return _build_tiff(3, 2, 1, 1, base.tobytes(),
                           [(274, 3, (o,))])

    # hand-worked visual results for a 2x3 stored image
    want = {
        1: [[1, 2, 3], [4, 5, 6]],
        2: [[3, 2, 1], [6, 5, 4]],             # mirror horizontal
        3: [[6, 5, 4], [3, 2, 1]],             # rotate 180
        4: [[4, 5, 6], [1, 2, 3]],             # mirror vertical
        5: [[1, 4], [2, 5], [3, 6]],           # transpose
        6: [[4, 1], [5, 2], [6, 3]],           # rotate 90 CW
        7: [[6, 3], [5, 2], [4, 1]],           # transverse
        8: [[3, 6], [2, 5], [1, 4]],           # rotate 90 CCW
    }
    for o, exp in want.items():
        got = decode_tiff_gray(with_orient(o))
        assert got.tolist() == exp, f"orientation {o}"
        dw, dh = tiff_dims(with_orient(o))
        assert (dw, dh) == ((2, 3) if o >= 5 else (3, 2))

    with pytest.raises(ValueError, match="orientation"):
        decode_tiff_gray(with_orient(9))

    # old-JPEG broken-writer shape: complete JFIF stream at the strip
    # offset (with a deliberately WRONG byte count, the common bug)
    img = (np.arange(256, dtype=np.uint8).reshape(16, 16))
    jpg = encode_jpeg_gray(img)
    entries = [(256, 4, 16), (257, 4, 16), (258, 3, 8), (259, 3, 6),
               (262, 3, 1), (273, 4, None), (277, 3, 1), (279, 4, 2)]
    ifd = 8
    data_off = ifd + 2 + 12 * len(entries) + 4
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd)
                    + struct.pack("<H", len(entries)))
    for tag, typ, val in entries:
        if tag == 273:
            val = data_off
        out += struct.pack("<HHII", tag, typ, 1, val)
    out += struct.pack("<I", 0) + jpg
    got = decode_tiff_gray(bytes(out))
    assert got.shape == (16, 16)
    # baseline JPEG at default quality stays within a loose envelope
    assert float(np.mean(np.abs(got.astype(float) - img))) < 12.0

    # tag-soup old-JPEG (no SOI at the strip) stays loud
    bad = bytearray(out)
    soi = bytes(out).find(b"\xff\xd8", 8)
    bad[soi:soi + 2] = b"\x00\x00"
    with pytest.raises(NotImplementedError, match="old-JPEG"):
        decode_tiff_gray(bytes(bad))


def test_jpeg_precision_and_cmyk_stay_loud():
    """Out-of-spec precisions raise (fail-loud discipline); 12-bit and
    4-component frames — both formerly stubbed — now decode (full
    vectors in test_12bit_jpeg_decode / test_cmyk_ycck_jpeg_decode)."""
    import struct

    import numpy as np
    import pytest

    from exam_pdf_parser_spark.core.jpeg import (
        decode_jpeg_gray, encode_jpeg_gray,
    )

    blob = bytearray(encode_jpeg_gray(
        np.zeros((8, 8), np.uint8)))
    sof = bytes(blob).find(b"\xff\xc0")
    assert sof > 0
    bad = bytearray(blob)
    bad[sof + 4] = 14                        # precision byte: no such
    with pytest.raises(NotImplementedError, match="14-bit"):
        decode_jpeg_gray(bytes(bad))

    # rewrite the SOF to declare 4 components (CMYK shape): keep
    # precision/h/w, clone component 0's sampling/table for ids 1-4
    bad = bytearray(blob)
    comp0 = bytes(bad[sof + 10:sof + 13])
    new_sof = (b"\xff\xc0" + struct.pack(">H", 8 + 3 * 4)
               + bytes(bad[sof + 4:sof + 9]) + b"\x04"
               + b"".join(bytes([i + 1]) + comp0[1:] for i in range(4)))
    old_len = struct.unpack(">H", bytes(bad[sof + 2:sof + 4]))[0]
    spliced = bytes(bad[:sof]) + new_sof + bytes(bad[sof + 2 + old_len:])
    # the round-6 CMYK path: a 4-component frame whose single scan
    # covers only component 1 decodes (unscanned planes stay at the
    # level-shift midpoint) instead of raising the old stub error
    out = decode_jpeg_gray(spliced)
    assert out.shape == (8, 8)


def test_jpeg_exif_orientation():
    """An APP1 Exif segment's tag 274 rotates the decoded luma plane
    and swaps parse_meta dims for the transposing values; absent or
    malformed EXIF leaves the image untouched."""
    import struct

    import numpy as np

    from exam_pdf_parser_spark.core.jpeg import (
        decode_jpeg_gray, encode_jpeg_gray, exif_orientation,
    )
    from exam_pdf_parser_spark.operators.multimodal import parse_meta

    # asymmetric 16x24 gradient; baseline JPEG is lossy so compare
    # the decoded-unrotated plane against the decoded-rotated one
    img = (np.mgrid[0:16, 0:24][1] * 10 % 250).astype(np.uint8)
    jpg = encode_jpeg_gray(img)

    def with_exif(blob, orient):
        tiff = (b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 1)
                + struct.pack("<HHII", 274, 3, 1, orient)
                + struct.pack("<I", 0))
        seg = b"Exif\x00\x00" + tiff
        app1 = b"\xff\xe1" + struct.pack(">H", len(seg) + 2) + seg
        return blob[:2] + app1 + blob[2:]

    plain = decode_jpeg_gray(jpg)
    assert exif_orientation(jpg) == 1
    assert exif_orientation(with_exif(jpg, 6)) == 6

    got = decode_jpeg_gray(with_exif(jpg, 6))
    assert got.shape == (24, 16)                   # transposed dims
    assert np.array_equal(got, plain.T[:, ::-1])   # rotate 90 CW
    got = decode_jpeg_gray(with_exif(jpg, 3))
    assert np.array_equal(got, plain[::-1, ::-1])  # rotate 180

    m = parse_meta(with_exif(jpg, 6))
    assert (m["width"], m["height"]) == (16, 24)   # swapped from 24x16
    m = parse_meta(with_exif(jpg, 2))
    assert (m["width"], m["height"]) == (24, 16)   # non-transposing

    # out-of-range / truncated EXIF falls back to orientation 1
    assert exif_orientation(with_exif(jpg, 0)) == 1
    assert exif_orientation(with_exif(jpg, 9)) == 1
    broken = bytearray(with_exif(jpg, 6))
    broken[6:10] = b"Ezif"                         # not an Exif APP1
    assert exif_orientation(bytes(broken)) == 1


def test_bmp_low_depth_rle4_16bit_os2():
    """Round-5 BMP closure: 1/4-bit palette rows, BI_RLE4 runs,
    16-bit RGB555 + BI_BITFIELDS words, and the OS/2 BITMAPCOREHEADER
    (RGB-triple palette) all decode; the stubs narrow accordingly."""
    import struct

    import numpy as np

    from exam_pdf_parser_spark.core.bmp import (
        _decode_rle4, decode_bmp_gray,
    )

    def build(w, h, bits, comp, body, palette=b"", masks=b""):
        hdr_size = 40
        data_off = 14 + hdr_size + len(masks) + len(palette)
        size = data_off + len(body)
        return (b"BM" + struct.pack("<IHHI", size, 0, 0, data_off)
                + struct.pack("<IiiHHIIiiII", hdr_size, w, h, 1, bits,
                              comp, len(body), 2835, 2835,
                              len(palette) // 4, 0)
                + masks + palette + body)

    # gray-identity palettes (BGRX quads)
    pal4 = b"".join(struct.pack("<BBBB", i * 17, i * 17, i * 17, 0)
                    for i in range(16))
    pal1 = (struct.pack("<BBBB", 0, 0, 0, 0)
            + struct.pack("<BBBB", 255, 255, 255, 0))

    # 4-bit uncompressed, 5x2 bottom-up: nibbles pack MSB-first,
    # rows pad to 4 bytes
    rows = [[1, 2, 3, 4, 5], [15, 0, 15, 0, 15]]
    body = b""
    for r in rows[::-1]:
        packed = bytearray()
        for i in range(0, len(r), 2):
            hi = r[i] << 4
            lo = r[i + 1] if i + 1 < len(r) else 0
            packed.append(hi | lo)
        body += bytes(packed).ljust(4, b"\x00")
    got = decode_bmp_gray(build(5, 2, 4, 0, body, pal4))
    assert got.tolist() == [[17 * v for v in r] for r in rows]

    # 1-bit uncompressed, 10x2: bits MSB-first, white=index 1
    bitrows = [[0, 1, 0, 1, 0, 1, 1, 0, 0, 1],
               [1, 1, 1, 1, 0, 0, 0, 0, 1, 1]]
    body = b""
    for r in bitrows[::-1]:
        acc = bytearray(2)
        for i, v in enumerate(r):
            acc[i // 8] |= v << (7 - i % 8)
        body += bytes(acc).ljust(4, b"\x00")
    got = decode_bmp_gray(build(10, 2, 1, 0, body, pal1))
    assert got.tolist() == [[255 * v for v in r] for r in bitrows]

    # BI_RLE4 stream: encoded run alternates nibbles, absolute is
    # nibble-packed and word-aligned
    rle = bytes([5, 0x12,             # encoded: 1 2 1 2 1
                 0, 3, 0x34, 0x50,    # absolute 3 4 5 (2B, word-even)
                 0, 0,                # end of line
                 2, 0x9A,             # 9 10
                 0, 1])               # end of bitmap
    out = _decode_rle4(rle, 8, 2)
    assert out.shape == (2, 8)
    assert list(out[0]) == [1, 2, 1, 2, 1, 3, 4, 5]
    assert list(out[1]) == [9, 10, 0, 0, 0, 0, 0, 0]
    # end-to-end: RLE4 file maps through the 16-entry palette
    got = decode_bmp_gray(build(8, 2, 4, 2, rle, pal4))
    assert got[-1].tolist() == [v * 17 for v in (1, 2, 1, 2, 1, 3, 4, 5)]

    # 16-bit RGB555 (comp=0): gray g maps to each 5-bit channel
    g5 = [0, 10, 21, 31]
    word = [(v << 10) | (v << 5) | v for v in g5]
    body = b"".join(struct.pack("<H", v) for v in word)  # 4x1 row = 8B
    got = decode_bmp_gray(build(4, 1, 16, 0, body))
    want = [int(v * 255.0 / 31) for v in g5]
    assert [int(x) for x in got[0]] == want

    # 16-bit BI_BITFIELDS with RGB565 masks
    masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    v = (10 << 11) | (20 << 5) | 10
    body = struct.pack("<HH", v, v)
    got = decode_bmp_gray(build(2, 1, 16, 3, body, masks=masks))
    want = int((10 * 255.0 / 31 + 20 * 255.0 / 63 + 10 * 255.0 / 31) / 3)
    assert int(got[0][0]) == want

    # OS/2 BITMAPCOREHEADER: uint16 dims, RGB-TRIPLE palette, 8-bit
    pal3 = b"".join(struct.pack("<BBB", i, i, i) for i in range(256))
    px = np.array([[3, 200, 116]], np.uint8)
    body = px.tobytes().ljust(4, b"\x00")
    blob = (b"BM" + struct.pack("<IHHI", 14 + 12 + len(pal3) + 4, 0, 0,
                                14 + 12 + len(pal3))
            + struct.pack("<IHHHH", 12, 3, 1, 1, 8) + pal3 + body)
    got = decode_bmp_gray(blob)
    assert got.tolist() == [[3, 200, 116]]

    # out-of-range palette index raises (quarantine, not garbage)
    bad = build(5, 2, 4, 0, b"\x35\x35\x35\x00" * 2, pal4[:8 * 4])
    # n_colors comes from the header field; force it below the indices
    bad = bytearray(bad)
    struct.pack_into("<I", bad, 46, 2)
    try:
        decode_bmp_gray(bytes(bad))
        raise AssertionError("expected palette range error")
    except ValueError:
        pass


def test_jpeg_in_tiff_strips():
    """Compression-7 TIFF: every strip is a JPEG stream decoded by
    core/jpeg.py — both self-contained strips and abbreviated strips
    sharing their tables through tag 347."""
    import struct

    import numpy as np

    from exam_pdf_parser_spark.core.jpeg import encode_jpeg_gray
    from exam_pdf_parser_spark.core.tiff import decode_tiff_gray

    def jpeg_segments(blob):
        """Split a JPEG stream into (marker, whole_segment) pieces."""
        segs, i = [], 2
        while i + 4 <= len(blob):
            assert blob[i] == 0xFF
            marker = blob[i + 1]
            if marker == 0xDA:           # SOS: rest of stream
                segs.append((marker, blob[i:]))
                break
            ln = struct.unpack(">H", blob[i + 2:i + 4])[0]
            segs.append((marker, blob[i:i + 2 + ln]))
            i += 2 + ln
        return segs

    rng = np.random.default_rng(8)
    img = ((np.arange(48 * 64).reshape(48, 64) * 5) % 256).astype(np.uint8)
    rows_per = 16
    strips = [encode_jpeg_gray(img[r:r + rows_per])
              for r in range(0, 48, rows_per)]

    def jpeg_tiff(strip_blobs, tables=None, orient=None):
        entries = [(256, 4, 1, 64), (257, 4, 1, 48), (258, 3, 1, 8),
                   (259, 3, 1, 7), (262, 3, 1, 1),
                   (273, 4, len(strip_blobs), None),
                   (277, 3, 1, 1), (278, 4, 1, rows_per),
                   (279, 4, len(strip_blobs), None)]
        if orient is not None:
            entries.append((274, 3, 1, orient))
        if tables is not None:
            entries.append((347, 7, len(tables), None))
        ifd = 8
        arr_off = ifd + 2 + 12 * len(entries) + 4
        off_arr = arr_off
        cnt_arr = off_arr + 4 * len(strip_blobs)
        tab_off = cnt_arr + 4 * len(strip_blobs)
        data_off = tab_off + (len(tables) if tables is not None else 0)
        offs, pos = [], data_off
        for s in strip_blobs:
            offs.append(pos)
            pos += len(s)
        out = bytearray(b"II*\x00" + struct.pack("<I", ifd)
                        + struct.pack("<H", len(entries)))
        for tag, typ, cnt, val in entries:
            if tag == 273:
                val = off_arr
            elif tag == 279:
                val = cnt_arr
            elif tag == 347:
                val = tab_off
            out += struct.pack("<HHII", tag, typ, cnt, val)
        out += struct.pack("<I", 0)
        out += b"".join(struct.pack("<I", o) for o in offs)
        out += b"".join(struct.pack("<I", len(s)) for s in strip_blobs)
        if tables is not None:
            out += tables
        return bytes(out + b"".join(strip_blobs))

    # self-contained strips: the TIFF plumbing must reproduce exactly
    # the stacked per-strip JPEG decodes (codec loss is the codec's)
    from exam_pdf_parser_spark.core.jpeg import decode_jpeg_gray

    dec = decode_tiff_gray(jpeg_tiff(strips))
    assert dec.shape == (48, 64)
    want = np.vstack([decode_jpeg_gray(s) for s in strips])
    assert np.array_equal(dec, want)
    assert float(np.mean(np.abs(dec.astype(float) - img))) < 16.0

    # abbreviated strips: DQT/DHT hoisted into JPEGTables (tag 347)
    segs0 = jpeg_segments(strips[0])
    tables = (b"\xff\xd8"
              + b"".join(s for m, s in segs0 if m in (0xDB, 0xC4))
              + b"\xff\xd9")
    abbreviated = [
        b"\xff\xd8" + b"".join(
            s for m, s in jpeg_segments(blob) if m not in (0xDB, 0xC4))
        for blob in strips
    ]
    assert all(len(a) < len(s) for a, s in zip(abbreviated, strips))
    dec2 = decode_tiff_gray(jpeg_tiff(abbreviated, tables=tables))
    assert np.array_equal(dec2, dec)     # same pixels, shared tables

    # tag-274 orientation applies to the JPEG-strip path too (was a
    # round-5 gap: comp==7 skipped _apply_orientation, so tiff_dims
    # and the decoded shape disagreed for transposing orientations)
    from exam_pdf_parser_spark.core.tiff import tiff_dims

    oriented = jpeg_tiff(strips, orient=6)
    dec6 = decode_tiff_gray(oriented)
    assert dec6.shape == (64, 48)        # 90° cw: w/h swap
    assert tiff_dims(oriented) == (48, 64)   # (w, h) matches pixels
    assert np.array_equal(dec6, np.ascontiguousarray(dec.T[:, ::-1]))


def test_animated_gif_frames_composite():
    """decode_gif_frames composits subrectangles, transparency and
    disposal onto the canvas."""
    import struct

    import numpy as np

    from exam_pdf_parser_spark.core.gif import (
        _lzw_uncompressed, decode_gif_frames, decode_gif_gray,
    )
    gct = bytes(v for i in range(256) for v in (i, i, i))  # luma == idx
    header = (b"GIF89a" + struct.pack("<HHBBB", 10, 10, 0x80 | 7, 0, 0)
              + gct)

    def img_block(left, top, w, h, indices):
        return (b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0)
                + bytes([8]) + _lzw_uncompressed(bytes(indices)))

    def gce(disposal=0, transparent=None):
        flags = ((disposal & 7) << 2) | (1 if transparent is not None
                                         else 0)
        return (b"\x21\xf9\x04" + bytes([flags]) + b"\x00\x00"
                + bytes([transparent or 0]) + b"\x00")

    f1 = img_block(0, 0, 10, 10, [100] * 100)
    f2 = gce(disposal=1) + img_block(2, 3, 4, 4, [200] * 16)
    f3_idx = [7, 50, 7, 50, 7, 50, 7, 50, 7]     # 3×3, 7 = transparent
    f3 = gce(transparent=7) + img_block(0, 0, 3, 3, f3_idx)
    payload = header + f1 + f2 + f3 + b"\x3b"

    frames = decode_gif_frames(payload)
    assert len(frames) == 3
    assert (frames[0] == 100).all()
    assert (frames[1][3:7, 2:6] == 200).all()
    assert frames[1][0, 0] == 100                 # disposal 1 kept f1
    got3 = frames[2][:3, :3]
    want3 = np.array([[100, 50, 100], [50, 100, 50], [100, 50, 100]])
    assert np.array_equal(got3, want3)            # transparency holes
    assert (frames[2][3:7, 2:6] == 200).all()     # rest untouched

    # disposal 2 restores background after the frame is emitted
    f2d = gce(disposal=2) + img_block(2, 3, 4, 4, [200] * 16)
    frames_d = decode_gif_frames(header + f1 + f2d + f2 + b"\x3b")
    assert (frames_d[1][3:7, 2:6] == 200).all()   # visible in its frame
    # the NEXT frame pastes over a background-restored region; outside
    # the repasted rect the background (index 0) shows through
    assert frames_d[2][3, 1] == 100               # untouched column

    # single-frame equivalence with the first-frame decoder
    assert np.array_equal(decode_gif_gray(payload),
                          decode_gif_frames(payload, max_frames=1)[0])


def test_gif_real_multiframe_count():
    """Real-file pin: idlelib ships real GIFs; the frame walk must
    count their descriptors without decoding pixels."""
    import glob

    import pytest

    from exam_pdf_parser_spark.core.gif import gif_frame_count

    paths = sorted(glob.glob(
        "/root/.pyenv/versions/3.11.7/lib/python3.11/idlelib/Icons/*.gif"))
    if not paths:
        pytest.skip("no system GIFs present")
    counts = [gif_frame_count(open(p, "rb").read()) for p in paths[:6]]
    assert all(c is not None and c >= 1 for c in counts), counts


def test_tiff_lzw_predictor():
    """TIFF-variant LZW (MSB-first, early change — the decoder widens
    one entry before its natural fill because it lags the encoder by
    one table entry) and the horizontal-differencing predictor, the
    common libtiff scan pairing.  Property round-trips cross every
    width boundary and the 4094 table reset."""
    import numpy as np

    from exam_pdf_parser_spark.core.tiff import (
        decode_tiff_gray, encode_tiff_gray, lzw_decode, lzw_encode,
    )

    rng = np.random.default_rng(9)
    streams = [
        b"", b"a", b"ab" * 5,
        bytes(rng.integers(0, 256, 50_000).astype(np.uint8)),  # resets
        bytes(rng.integers(0, 4, 120_000).astype(np.uint8)),
        b"the quick brown fox " * 3000,
    ]
    for data in streams:
        assert lzw_decode(lzw_encode(data), len(data)) == data

    img = ((np.arange(120 * 200).reshape(120, 200) % 256)
           ^ rng.integers(0, 16, (120, 200))).astype(np.uint8)
    for codec in ("none", "packbits", "lzw", "deflate"):
        for pred in (1, 2):
            blob = encode_tiff_gray(img, codec=codec, predictor=pred)
            assert np.array_equal(decode_tiff_gray(blob), img), \
                (codec, pred)
    # the smooth gradient really compresses under lzw+predictor
    assert len(encode_tiff_gray(img, codec="lzw", predictor=2)) \
        < 120 * 200


def test_tiff_bmp_real_system_files():
    """Real-file pin: the Python stdlib test data ships the same logo
    as a 32-bit BI_BITFIELDS BMP and an RGBA TIFF — both must decode,
    and pixel-identically to each other (independent containers, one
    source image: a strong cross-codec consistency check)."""
    import os

    import numpy as np
    import pytest

    base = "/root/.pyenv/versions/3.13.0/lib/python3.13/test/test_email/data"
    bmp_p, tif_p = f"{base}/python.bmp", f"{base}/python.tiff"
    if not (os.path.exists(bmp_p) and os.path.exists(tif_p)):
        pytest.skip("system test images not present")
    from exam_pdf_parser_spark.operators.multimodal import decode_image

    a = decode_image(open(bmp_p, "rb").read())
    b = decode_image(open(tif_p, "rb").read())
    assert a.shape == b.shape == (16, 16)
    assert np.array_equal(a, b)
    assert a.std() > 0          # real content, not a flat fill


def test_review_regressions_round4b(spark):
    """Second review pass pins: resize_media never crashes on real-
    format payloads (quarantine contract), empty RLE8 raises instead
    of fabricating black pixels, and off-screen GIF frames clamp."""
    import struct

    import numpy as np
    import pytest

    from exam_pdf_parser_spark.core.bmp import (
        decode_bmp_gray, encode_bmp_gray,
    )
    from exam_pdf_parser_spark.core.gif import (
        _lzw_uncompressed, decode_gif_frames,
    )
    from exam_pdf_parser_spark.operators.multimodal import (
        MEDIA_SCHEMA, resize_media,
    )

    # resize_media passes real-format and weird-meta payloads through
    mp3 = (b"\xff\xfb\x90\x00" + b"\x00" * 413) * 10
    ogg = b"OggS" + b"\x00" * 22 + b"\x01\x13" + b"OpusHead" \
        + bytes([1, 2]) + b"\x00\x00" + struct.pack("<I", 48000) + b"\x00"
    media = spark.createDataFrame(
        [(1, "audio", bytearray(mp3)), (2, "audio", bytearray(ogg))],
        MEDIA_SCHEMA)
    out = {r["media_id"]: bytes(r["payload"])
           for r in resize_media(media).collect()}
    assert out[1] == mp3 and out[2] == ogg           # untouched, no crash

    # empty RLE8 stream raises (no fabricated black image)
    blob = bytearray(encode_bmp_gray(
        np.zeros((4, 4), np.uint8)))
    struct.pack_into("<I", blob, 30, 1)              # comp → RLE8
    struct.pack_into("<I", blob, 10, len(blob))      # data_off → EOF
    with pytest.raises(ValueError, match="RLE8"):
        decode_bmp_gray(bytes(blob))

    # GIF frame fully below the screen: canvas emitted unchanged
    gct = bytes(v for i in range(256) for v in (i, i, i))
    header = (b"GIF89a" + struct.pack("<HHBBB", 6, 6, 0x80 | 7, 0, 0)
              + gct)
    inside = (b"\x2c" + struct.pack("<HHHHB", 0, 0, 6, 6, 0)
              + bytes([8]) + _lzw_uncompressed(bytes([9] * 36)))
    below = (b"\x2c" + struct.pack("<HHHHB", 0, 12, 3, 3, 0)
             + bytes([8]) + _lzw_uncompressed(bytes([1] * 9)))
    frames = decode_gif_frames(header + inside + below + b"\x3b")
    assert len(frames) == 2
    assert np.array_equal(frames[0], frames[1])      # no-op paste


def test_codec_fuzz_no_hang_no_silent_success():
    """Quarantine contract across EVERY codec: random, truncated and
    bit-flipped payloads must raise a controlled exception quickly —
    never hang, loop, or return a plausible decode of garbage.  (The
    Spark stages turn these raises into valid='corrupt' rows.)"""
    import numpy as np

    from exam_pdf_parser_spark.core.bmp import decode_bmp_gray
    from exam_pdf_parser_spark.core.gif import decode_gif_gray
    from exam_pdf_parser_spark.core.jpeg import decode_jpeg_gray
    from exam_pdf_parser_spark.core.png import decode_png_gray
    from exam_pdf_parser_spark.core.tiff import decode_tiff_gray

    decoders = [decode_png_gray, decode_gif_gray, decode_jpeg_gray,
                decode_tiff_gray, decode_bmp_gray]
    ok_errors = (ValueError, NotImplementedError, KeyError, IndexError,
                 EOFError, OSError, struct_error := __import__(
                     "struct").error, ZeroDivisionError,
                 __import__("zlib").error)

    rng = np.random.default_rng(123)
    sigs = [b"\x89PNG\r\n\x1a\n", b"GIF89a", b"\xff\xd8\xff",
            b"II*\x00", b"MM\x00*", b"BM", b""]
    payloads = []
    for sig in sigs:
        for n in (0, 3, 17, 256):
            payloads.append(sig + bytes(
                rng.integers(0, 256, n).astype(np.uint8)))
    # bit-flipped versions of real encodes
    from exam_pdf_parser_spark.core.bmp import encode_bmp_gray
    from exam_pdf_parser_spark.core.tiff import encode_tiff_gray
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    for blob in (encode_tiff_gray(img, codec="lzw"),
                 encode_bmp_gray(img)):
        for _ in range(6):
            b = bytearray(blob)
            for _ in range(4):
                b[rng.integers(0, len(b))] ^= 1 << rng.integers(0, 8)
            payloads.append(bytes(b))
            payloads.append(bytes(b[: rng.integers(1, len(b))]))

    for payload in payloads:
        for dec in decoders:
            try:
                dec(payload)   # a lucky decode of a flipped byte is fine
            except ok_errors:
                pass           # controlled failure — the contract


def test_real_media_corpus_mixed(spark):
    """A mixed batch of REAL image formats — the shape of a crawl's
    media partition — flows through every stage: metadata and pixel
    features for all 90 rows, across PNG, GIF, JPEG, TIFF and BMP.
    Nothing quarantines and every format family is actually present."""
    from exam_pdf_parser_spark.operators.multimodal import (
        extract_metadata, image_pixel_features, real_media_corpus,
    )

    media = real_media_corpus(spark, 90, partitions=4).persist()
    try:
        meta = extract_metadata(media).toPandas()
        assert len(meta) == 90
        assert (meta["valid"] == "ok").all()
        assert meta.groupby("kind").size().to_dict() == {"image": 90}

        imgs = image_pixel_features(media).toPandas()
        assert len(imgs) == 90 and (imgs["valid"] == "ok").all()
        assert imgs["mean_intensity"].between(8, 247).all()

        # all five image containers are actually present
        def container(payload):
            b = bytes(payload)
            for sig, name in ((b"\x89PNG", "png"), (b"GIF8", "gif"),
                              (b"\xff\xd8", "jpeg"), (b"II*\x00", "tiff"),
                              (b"MM\x00*", "tiff"), (b"BM", "bmp")):
                if b.startswith(sig):
                    return name
            return "?"

        payloads = media.select("payload").toPandas()["payload"]
        assert set(payloads.map(container)) == {
            "png", "gif", "jpeg", "tiff", "bmp"}
    finally:
        media.unpersist()


def test_cmyk_ycck_jpeg_decode():
    """4-component Adobe JPEG (round-6 verdict ask #2): CMYK and YCCK
    frames decode through the TIFF ink convention.  The bitstream is
    assembled by test-local code (canonical Huffman + byte stuffing
    written here, not imported from the codec); planes are DC-only
    blocks over an all-ones quant table, so decoded samples are EXACT
    and the expected gray comes from independent scalar formulas."""
    import struct

    import numpy as np
    import pytest

    from exam_pdf_parser_spark.core.jpeg import (
        STD_AC_LUMA, STD_DC_LUMA, decode_jpeg_gray,
    )

    def canonical(counts, syms):
        table, code, i = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                table[syms[i]] = (code, ln)
                i += 1
                code += 1
            code <<= 1
        return table

    DC, AC = canonical(*STD_DC_LUMA), canonical(*STD_AC_LUMA)

    class BW:                                     # test-local writer
        def __init__(self):
            self.buf, self.acc, self.n = bytearray(), 0, 0

        def put(self, v, k):
            for i in range(k - 1, -1, -1):
                self.acc = (self.acc << 1) | ((v >> i) & 1)
                self.n += 1
                if self.n == 8:
                    self.buf.append(self.acc)
                    if self.acc == 0xFF:
                        self.buf.append(0)        # byte stuffing
                    self.acc = self.n = 0

        def flush(self):
            while self.n:
                self.put(1, 1)                    # 1-padding (spec)
            return bytes(self.buf)

    def cmyk_jpeg(mcu_vals, app14_transform=None):
        """mcu_vals[mcu][comp] = constant sample value of that 8x8
        block; image is (8, 8*n_mcu), four 1x1-sampled components."""
        n_mcu = len(mcu_vals)
        h, w = 8, 8 * n_mcu
        out = bytearray(b"\xff\xd8")
        if app14_transform is not None:
            out += b"\xff\xee" + struct.pack(">H", 14) + b"Adobe" \
                + struct.pack(">HHHB", 100, 0, 0, app14_transform)
        out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes([1] * 64)
        out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 12, 8, h, w, 4)
        for cid in range(1, 5):
            out += bytes((cid, 0x11, 0))
        for tc, (counts, syms) in ((0, STD_DC_LUMA), (1, STD_AC_LUMA)):
            out += b"\xff\xc4" + struct.pack(
                ">HB", 19 + len(syms), tc << 4) + bytes(counts) + bytes(syms)
        out += b"\xff\xda" + struct.pack(">HB", 6 + 8, 4)
        for cid in range(1, 5):
            out += bytes((cid, 0x00))
        out += bytes((0, 63, 0))
        bw = BW()
        pred = [0, 0, 0, 0]
        for vals in mcu_vals:
            for ci, v in enumerate(vals):
                dc = (v - 128) * 8                # q=1, DC-only: exact
                diff = dc - pred[ci]
                pred[ci] = dc
                t = abs(diff).bit_length()
                code, ln = DC[t]
                bw.put(code, ln)
                if t:
                    bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
                code, ln = AC[0x00]               # EOB
                bw.put(code, ln)
        return bytes(out + bw.flush() + b"\xff\xd9")

    def expect_gray(vals, adobe, transform):
        sc, sm, sy, sk = (float(v) for v in vals)
        if transform == 2:
            r = sc + 1.402 * (sy - 128.0)         # (y,cb,cr,k) order
            b = sc + 1.772 * (sm - 128.0)
            g = (sc - 0.299 * r - 0.114 * b) / 0.587
            sc, sm, sy = (min(255.0, max(0.0, x)) for x in (r, g, b))
        if adobe:
            rgb = [p * sk / 255.0 for p in (sc, sm, sy)]
        else:
            rgb = [(255.0 - p) * (255.0 - sk) / 255.0
                   for p in (sc, sm, sy)]
        return int(min(255.0, max(0.0, sum(rgb) / 3.0 + 0.5)))

    mcus = [(200, 100, 50, 220), (30, 250, 128, 10)]

    # CMYK with the Adobe marker: stored planes are inverted ink
    dec = decode_jpeg_gray(cmyk_jpeg(mcus, app14_transform=0))
    assert dec.shape == (8, 16)
    want = np.repeat([[expect_gray(v, True, 0) for v in mcus]], 8, 0)
    want = np.repeat(want, 8, 1).astype(np.uint8)
    assert np.array_equal(dec, want)
    assert dec[0, 0] == 101 and dec[0, 8] == 5    # hand-checked spots

    # same stream, no APP14: plain (non-inverted) CMYK ink
    dec2 = decode_jpeg_gray(cmyk_jpeg(mcus))
    want2 = np.repeat([[expect_gray(v, False, 0) for v in mcus]], 8, 0)
    want2 = np.repeat(want2, 8, 1).astype(np.uint8)
    assert np.array_equal(dec2, want2)
    assert dec2[0, 0] == 19 and dec2[0, 8] == 114

    # YCCK: BT.601 inverse on the first three planes, K untouched
    ymcus = [(120, 140, 160, 200), (90, 128, 128, 255)]
    dec3 = decode_jpeg_gray(cmyk_jpeg(ymcus, app14_transform=2))
    want3 = np.repeat([[expect_gray(v, True, 2) for v in ymcus]], 8, 0)
    want3 = np.repeat(want3, 8, 1).astype(np.uint8)
    assert np.array_equal(dec3, want3)
    # cb=cr=128, k=255 → YCbCr identity + full coverage: gray == y
    assert dec3[0, 8] == 90

    # stripping APP14 strips BOTH the YCCK claim and the inverted-ink
    # storage: the same entropy data must now decode as plain CMYK —
    # byte-identical to the marker-free build, different from YCCK
    blob = bytearray(cmyk_jpeg(ymcus, app14_transform=2))
    app14_at = bytes(blob).find(b"\xff\xee")
    del blob[app14_at:app14_at + 16]              # marker + length + body
    dec4 = decode_jpeg_gray(bytes(blob))
    want4 = np.repeat([[expect_gray(v, False, 0) for v in ymcus]], 8, 0)
    want4 = np.repeat(want4, 8, 1).astype(np.uint8)
    assert np.array_equal(dec4, want4)
    assert not np.array_equal(dec4, dec3)

    # deterministic fuzz gate: single byte flips raise or stay sane
    blob = cmyk_jpeg(mcus, app14_transform=0)
    rng = np.random.default_rng(11)
    for _ in range(150):
        bad = bytearray(blob)
        bad[int(rng.integers(2, len(bad)))] ^= int(rng.integers(1, 256))
        try:
            out = decode_jpeg_gray(bytes(bad))
            assert out.shape[0] <= 1 << 16 and out.shape[1] <= 1 << 16
        except (ValueError, NotImplementedError, KeyError, IndexError,
                struct.error):
            pass


def test_12bit_jpeg_decode():
    """12-bit (SOF precision 12) JPEG — the last JPEG stub — decodes:
    level shift 2048, clip to [0,4095], rint-mapped onto the 8-bit
    gray domain.  DC-only blocks over an all-ones quant table make the
    decoded 12-bit samples exact; expectations are independent scalar
    formulas.  The 12-bit DC diff categories (up to 15) exceed the
    8-bit Annex-K table, so the vector carries its own DHT."""
    import struct

    import numpy as np
    import pytest

    from exam_pdf_parser_spark.core.jpeg import decode_jpeg_gray

    # DC table covering categories 0..15: counts say 16 codes of
    # length 5..8ish — simplest canonical: one code per length 4..16?
    # Use counts [0,0,0,16,...]: 16 codes of length 4 is invalid
    # (needs <= 2^4). Use 8 codes of len 4 + 8 of len 5.
    dc_counts = [0, 0, 0, 8, 8, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    dc_syms = list(range(16))
    ac_counts = [0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    ac_syms = [0x00]                      # EOB only

    def canonical(counts, syms):
        table, code, i = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                table[syms[i]] = (code, ln)
                i += 1
                code += 1
            code <<= 1
        return table

    DC, AC = canonical(dc_counts, dc_syms), canonical(ac_counts, ac_syms)

    class BW:
        def __init__(self):
            self.b, self.a, self.n = bytearray(), 0, 0

        def put(self, v, k):
            for i in range(k - 1, -1, -1):
                self.a = (self.a << 1) | ((v >> i) & 1)
                self.n += 1
                if self.n == 8:
                    self.b.append(self.a)
                    if self.a == 0xFF:
                        self.b.append(0)
                    self.a = self.n = 0

        def flush(self):
            while self.n:
                self.put(1, 1)
            return bytes(self.b)

    def jpeg12(vals):                     # one 8x8 block per value
        n_mcu = len(vals)
        h, w = 8, 8 * n_mcu
        out = bytearray(b"\xff\xd8")
        out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes([1] * 64)
        out += b"\xff\xc1" + struct.pack(">HBHHB", 11, 12, h, w, 1) \
            + bytes((1, 0x11, 0))         # SOF1 extended, precision 12
        out += b"\xff\xc4" + struct.pack(
            ">HB", 19 + 16, 0x00) + bytes(dc_counts) + bytes(dc_syms)
        out += b"\xff\xc4" + struct.pack(
            ">HB", 19 + 1, 0x10) + bytes(ac_counts) + bytes(ac_syms)
        out += b"\xff\xda" + struct.pack(">HB", 8, 1) \
            + bytes((1, 0x00, 0, 63, 0))
        bw = BW()
        pred = 0
        for v in vals:
            dc = (v - 2048) * 8           # q=1, DC-only: exact 12-bit
            diff = dc - pred
            pred = dc
            t = abs(diff).bit_length()
            code, ln = DC[t]
            bw.put(code, ln)
            if t:
                bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
            code, ln = AC[0x00]
            bw.put(code, ln)
        return bytes(out + bw.flush() + b"\xff\xd9")

    vals = (4095, 0, 2048, 3000, 137)
    dec = decode_jpeg_gray(jpeg12(vals))
    assert dec.shape == (8, 8 * len(vals))
    want = [int(np.rint(v * 255.0 / 4095.0)) for v in vals]
    assert want == [255, 0, 128, 187, 9]  # hand-checked
    for i, wv in enumerate(want):
        block = dec[:, 8 * i:8 * i + 8]
        assert (block == wv).all(), (i, wv, block[0, 0])

    # precision 10 (not in the spec) still fails loud
    blob = bytearray(jpeg12(vals))
    sof = bytes(blob).find(b"\xff\xc1")
    blob[sof + 4] = 10
    with pytest.raises(NotImplementedError, match="10-bit"):
        decode_jpeg_gray(bytes(blob))


def test_12bit_ycck_jpeg_decode():
    """The 12-bit x 4-component combination: the YCCK inverse and the
    ink math must run in the NATIVE 12-bit domain (chroma center 2048,
    scale 4095) with ONE rint mapping to 8-bit gray at the end.
    Quantizing each plane to 8 bits first — the pre-fix behavior —
    both rounds twice and mis-centers the chroma inverse (2048 maps
    to ~127.53, not 128), a systematic ~±1 gray error.  DC-only
    blocks over an all-ones quant table keep decoded 12-bit samples
    exact; expectations are independent scalar formulas."""
    import struct

    import numpy as np

    from exam_pdf_parser_spark.core.jpeg import decode_jpeg_gray

    dc_counts = [0, 0, 0, 8, 8, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    dc_syms = list(range(16))
    ac_counts = [0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    ac_syms = [0x00]

    def canonical(counts, syms):
        table, code, i = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                table[syms[i]] = (code, ln)
                i += 1
                code += 1
            code <<= 1
        return table

    DC, AC = canonical(dc_counts, dc_syms), canonical(ac_counts, ac_syms)

    class BW:
        def __init__(self):
            self.b, self.a, self.n = bytearray(), 0, 0

        def put(self, v, k):
            for i in range(k - 1, -1, -1):
                self.a = (self.a << 1) | ((v >> i) & 1)
                self.n += 1
                if self.n == 8:
                    self.b.append(self.a)
                    if self.a == 0xFF:
                        self.b.append(0)
                    self.a = self.n = 0

        def flush(self):
            while self.n:
                self.put(1, 1)
            return bytes(self.b)

    def jpeg12x4(mcu_vals, app14_transform):
        n_mcu = len(mcu_vals)
        h, w = 8, 8 * n_mcu
        out = bytearray(b"\xff\xd8")
        out += b"\xff\xee" + struct.pack(">H", 14) + b"Adobe" \
            + struct.pack(">HHHB", 100, 0, 0, app14_transform)
        out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes([1] * 64)
        out += b"\xff\xc1" + struct.pack(">HBHHB", 8 + 12, 12, h, w, 4)
        for cid in range(1, 5):
            out += bytes((cid, 0x11, 0))
        out += b"\xff\xc4" + struct.pack(
            ">HB", 19 + 16, 0x00) + bytes(dc_counts) + bytes(dc_syms)
        out += b"\xff\xc4" + struct.pack(
            ">HB", 19 + 1, 0x10) + bytes(ac_counts) + bytes(ac_syms)
        out += b"\xff\xda" + struct.pack(">HB", 6 + 8, 4)
        for cid in range(1, 5):
            out += bytes((cid, 0x00))
        out += bytes((0, 63, 0))
        bw = BW()
        pred = [0, 0, 0, 0]
        for vals in mcu_vals:
            for ci, v in enumerate(vals):
                dc = (v - 2048) * 8       # q=1, DC-only: exact 12-bit
                diff = dc - pred[ci]
                pred[ci] = dc
                t = abs(diff).bit_length()
                code, ln = DC[t]
                bw.put(code, ln)
                if t:
                    bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
                code, ln = AC[0x00]
                bw.put(code, ln)
        return bytes(out + bw.flush() + b"\xff\xd9")

    def expect(vals, transform):          # native-domain scalar twin
        a, b_, c_, d = (float(v) for v in vals)
        if transform == 2:
            r = a + 1.402 * (c_ - 2048.0)
            bb = a + 1.772 * (b_ - 2048.0)
            g = (a - 0.299 * r - 0.114 * bb) / 0.587
            a, b_, c_ = (min(4095.0, max(0.0, x)) for x in (r, g, bb))
        rgb = [p * d / 4095.0 for p in (a, b_, c_)]  # Adobe inverted
        return int(np.clip(np.rint(sum(rgb) / 3.0 * 255.0 / 4095.0),
                           0, 255))

    # identity spot: cb=cr=2048, k=4095 -> gray == rint(y*255/4095)
    ymcus = [(1800, 2048, 2048, 4095), (2000, 2100, 1900, 3000)]
    dec = decode_jpeg_gray(jpeg12x4(ymcus, app14_transform=2))
    assert dec.shape == (8, 16)
    want = np.repeat([[expect(v, 2) for v in ymcus]], 8, 0)
    want = np.repeat(want, 8, 1).astype(np.uint8)
    assert np.array_equal(dec, want)
    assert dec[0, 0] == 112               # rint(1800*255/4095), hand-checked

    # 12-bit inverted-ink CMYK (transform 0), same stream shape
    cmcus = [(3276, 1638, 819, 3600), (500, 4000, 2048, 150)]
    dec2 = decode_jpeg_gray(jpeg12x4(cmcus, app14_transform=0))
    want2 = np.repeat([[expect(v, 0) for v in cmcus]], 8, 0)
    want2 = np.repeat(want2, 8, 1).astype(np.uint8)
    assert np.array_equal(dec2, want2)


# --- lossless (SOF3) JPEG ----------------------------------------------------
def _lossless_dc_table():
    """Canonical DC table holding categories 0..16 (17 symbols at code
    length 5; the all-ones code 31 stays unused per K.2)."""
    counts = [0, 0, 0, 0, 17] + [0] * 11
    syms = list(range(17))
    return counts, syms


class _LosslessBW:
    def __init__(self):
        self.b, self.a, self.n = bytearray(), 0, 0

    def put(self, v, k):
        for i in range(k - 1, -1, -1):
            self.a = (self.a << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.b.append(self.a)
                if self.a == 0xFF:
                    self.b.append(0)
                self.a = self.n = 0

    def flush(self):
        while self.n:
            self.put(1, 1)
        return bytes(self.b)

    def restart(self, m):
        # 1-pad to a byte boundary (stuffed if the pad byte is FF),
        # then the RSTn marker goes into the entropy stream unstuffed
        while self.n:
            self.put(1, 1)
        self.b += bytes((0xFF, 0xD0 + (m & 7)))


def _encode_lossless(planes, predictor, pt=0, prec=8, restart=0,
                     adobe_transform=None, comp_hv=0x11):
    """Spec-mirror SOF3 encoder: ``planes`` is a list of equal-shape
    int arrays of POINT-TRANSFORMED samples (decoder output is
    plane << pt).  Diffs follow H.1.2: default ``2^(P-Pt-1)`` for the
    scan's (and each restart interval's) first sample per component,
    Ra across the first line OF THE SCAN AND OF EACH RESTART INTERVAL
    (H.1.2), Rb down the first column, else the selected predictor;
    differences are encoded modulo 65536 with category 16 = +32768
    carrying no extra bits."""
    import struct

    import numpy as np

    counts, syms = _lossless_dc_table()
    code_of = {}
    code, i = 0, 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            code_of[syms[i]] = (code, ln)
            i += 1
            code += 1
        code <<= 1
    planes = [np.asarray(p, dtype=np.int64) for p in planes]
    h, w = planes[0].shape
    nc = len(planes)
    out = bytearray(b"\xff\xd8")
    if adobe_transform is not None:
        out += b"\xff\xee" + struct.pack(">H", 14) + b"Adobe" \
            + struct.pack(">HHHB", 100, 0, 0, adobe_transform)
    out += b"\xff\xc4" + struct.pack(">HB", 19 + 17, 0x00) \
        + bytes(counts) + bytes(syms)
    out += b"\xff\xc3" + struct.pack(">HBHHB", 8 + 3 * nc, prec, h, w, nc)
    for cid in range(1, nc + 1):
        out += bytes((cid, comp_hv, 0))
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for cid in range(1, nc + 1):
        out += bytes((cid, 0x00))
    out += bytes((predictor, 0, pt))
    bw = _LosslessBW()
    half = 1 << (prec - pt - 1)
    fresh = [True] * nc
    restart_y = 0
    mcu = 0
    rst = 0
    for y in range(h):
        for x in range(w):
            if restart and mcu and mcu % restart == 0:
                bw.restart(rst)
                rst = (rst + 1) & 7
                fresh = [True] * nc
                restart_y = y
            mcu += 1
            for ci, p in enumerate(planes):
                if fresh[ci]:
                    px = half
                    fresh[ci] = False
                elif y == restart_y:
                    px = int(p[y, x - 1])
                elif x == 0:
                    px = int(p[y - 1, 0])
                elif predictor == 1:
                    px = int(p[y, x - 1])
                elif predictor == 2:
                    px = int(p[y - 1, x])
                elif predictor == 3:
                    px = int(p[y - 1, x - 1])
                else:
                    ra, rb = int(p[y, x - 1]), int(p[y - 1, x])
                    rc = int(p[y - 1, x - 1])
                    px = {4: ra + rb - rc, 5: ra + ((rb - rc) >> 1),
                          6: rb + ((ra - rc) >> 1),
                          7: (ra + rb) >> 1}[predictor]
                d = (int(p[y, x]) - px) % 65536
                if d == 32768:
                    c, ln = code_of[16]
                    bw.put(c, ln)
                    continue
                if d > 32768:
                    d -= 65536
                t = abs(d).bit_length()
                c, ln = code_of[t]
                bw.put(c, ln)
                if t:
                    bw.put(d if d >= 0 else d + (1 << t) - 1, t)
    return bytes(out + bw.flush() + b"\xff\xd9")


def test_lossless_jpeg_hand_vectors():
    """Bit-level hand vectors: the entropy stream is assembled from
    RAW diff codes (no prediction logic on the encode side), and the
    expected sample arrays are hand-traced from the Annex H rules —
    independent of both the decoder and the spec-mirror encoder."""
    import struct

    import numpy as np

    from exam_pdf_parser_spark.core.jpeg import decode_jpeg_gray

    counts, syms = _lossless_dc_table()

    def headers(h, w, predictor, prec=8, pt=0):
        out = bytearray(b"\xff\xd8")
        out += b"\xff\xc4" + struct.pack(">HB", 19 + 17, 0x00) \
            + bytes(counts) + bytes(syms)
        out += b"\xff\xc3" + struct.pack(">HBHHB", 11, prec, h, w, 1)
        out += bytes((1, 0x11, 0))
        out += b"\xff\xda" + struct.pack(">HB", 8, 1)
        out += bytes((1, 0x00))
        out += bytes((predictor, 0, pt))
        return out

    def put_diff(bw, d):
        # category t has 5-bit code == t in this canonical table
        if d == 32768:
            bw.put(16, 5)
            return
        t = abs(d).bit_length()
        bw.put(t, 5)
        if t:
            bw.put(d if d >= 0 else d + (1 << t) - 1, t)

    # predictor 7 ((Ra+Rb)>>1), 2x3: hand trace —
    # s00=128+5=133; s01=133-3=130; s02=130 (first line: Ra);
    # s10=133+10=143 (first column: Rb);
    # s11=((143+130)>>1)+1=137; s12=((137+130)>>1)-2=131
    bw = _LosslessBW()
    for d in (5, -3, 0, 10, 1, -2):
        put_diff(bw, d)
    blob = bytes(headers(2, 3, predictor=7) + bw.flush() + b"\xff\xd9")
    want = np.array([[133, 130, 130], [143, 137, 131]], np.uint8)
    assert np.array_equal(decode_jpeg_gray(blob), want)

    # predictor 6 (Rb + ((Ra-Rc)>>1)) with a NEGATIVE floor shift:
    # s00=128; s01=100; s10=50 (Rb); s11 = 100 + ((50-128)>>1)
    #   = 100 + (-39) = 61  (arithmetic shift, not trunc-toward-zero)
    bw = _LosslessBW()
    for d in (0, -28, -78, 0):
        put_diff(bw, d)
    blob = bytes(headers(2, 2, predictor=6) + bw.flush() + b"\xff\xd9")
    want = np.array([[128, 100], [50, 61]], np.uint8)
    assert np.array_equal(decode_jpeg_gray(blob), want)

    # 16-bit modulo arithmetic + SSSS=16: default pred 2^15=32768,
    # diff +32768 (no extra bits) wraps to 0; then -1 wraps to 65535.
    # Gray mapping: 0 -> 0, 65535 -> 255.
    bw = _LosslessBW()
    put_diff(bw, 32768)
    put_diff(bw, -1)
    blob = bytes(headers(1, 2, predictor=1, prec=16) + bw.flush()
                 + b"\xff\xd9")
    want = np.array([[0, 255]], np.uint8)
    assert np.array_equal(decode_jpeg_gray(blob), want)

    # 12-bit + point transform 2: decoded value is Rx<<2 in a
    # maxv=4095 domain.  s00 = 2^(12-2-1) + 123 = 635 -> 2540 ->
    # rint(2540*255/4095) = rint(158.168) = 158 (hand-checked).
    bw = _LosslessBW()
    put_diff(bw, 123)
    blob = bytes(headers(1, 1, predictor=1, prec=12, pt=2) + bw.flush()
                 + b"\xff\xd9")
    assert decode_jpeg_gray(blob)[0, 0] == 158

    # predictor 4 with DRI=4 (restart at the start of row 1): H.1.2 —
    # the remainder of each restart interval's FIRST LINE predicts
    # with Ra, not the selected predictor.  Hand trace: row 0 =
    # 130,125,128,120 (default then Ra); after RST0, s10 = 128+7 =
    # 135 (default), then Ra: s11 = 135-4 = 131, s12 = 131+6 = 137,
    # s13 = 137-2 = 135.  (Predictor 4 would give s11 = Ra+Rb-Rc + d
    # = 135+125-130-4 = 126 — the vector distinguishes the rules.)
    hdr = bytes(headers(2, 4, predictor=4))
    sos = hdr.rfind(b"\xff\xda")
    hdr = (hdr[:sos] + b"\xff\xdd" + struct.pack(">HH", 4, 4)
           + hdr[sos:])
    bw = _LosslessBW()
    for d in (2, -5, 3, -8):
        put_diff(bw, d)
    bw.restart(0)
    for d in (7, -4, 6, -2):
        put_diff(bw, d)
    blob = hdr + bw.flush() + b"\xff\xd9"
    want = np.array([[130, 125, 128, 120], [135, 131, 137, 135]],
                    np.uint8)
    assert np.array_equal(decode_jpeg_gray(blob), want)


def test_lossless_jpeg_roundtrip_all_predictors():
    """decode(encode(p)) == p for every predictor 1-7 on a grid whose
    gradients exercise negative (Rb-Rc)/(Ra-Rc) shifts, plus point
    transform and restart-interval prediction reset.  The scan-start
    default, first-line/first-column rules, and shift semantics are
    pinned bit-level by test_lossless_jpeg_hand_vectors; this adds
    breadth (the encoder mirrors the spec text, not the decoder
    internals)."""
    import numpy as np

    from exam_pdf_parser_spark.core.jpeg import decode_jpeg_gray

    rng = np.random.RandomState(7)
    grid = rng.randint(0, 256, size=(5, 6))
    grid[2] = [255, 0, 255, 0, 255, 0]       # violent gradients
    for pred in range(1, 8):
        dec = decode_jpeg_gray(_encode_lossless([grid], pred))
        assert np.array_equal(dec, grid.astype(np.uint8)), pred

    # restart every 4 samples resets prediction per interval
    dec = decode_jpeg_gray(_encode_lossless([grid], 4, restart=4))
    assert np.array_equal(dec, grid.astype(np.uint8))

    # point transform: decoded plane is p << 2 (maxv still 255)
    small = (grid // 4).astype(np.int64)
    dec = decode_jpeg_gray(_encode_lossless([small], 5, pt=2))
    assert np.array_equal(dec, (small << 2).astype(np.uint8))

    # 12-bit round-trip maps once at the end: rint(v*255/4095)
    deep = rng.randint(0, 4096, size=(3, 4))
    dec = decode_jpeg_gray(_encode_lossless([deep], 2, prec=12))
    want = np.rint(deep * (255.0 / 4095.0)).astype(np.uint8)
    assert np.array_equal(dec, want)


def test_lossless_jpeg_color_and_failures():
    """3-component lossless frames: RGB (no spec transform) reduces by
    mean-gray; an Adobe APP14 transform=1 declares YCbCr and the luma
    plane wins.  CFA/ink mosaics (2/4 comps), subsampled frames, and
    invalid scan headers fail loud for upstream quarantine."""
    import numpy as np
    import pytest

    from exam_pdf_parser_spark.core.jpeg import decode_jpeg_gray

    r = np.full((2, 2), 30)
    g = np.full((2, 2), 60)
    b = np.full((2, 2), 90)
    dec = decode_jpeg_gray(_encode_lossless([r, g, b], 1))
    assert np.array_equal(dec, np.full((2, 2), 60, np.uint8))

    dec = decode_jpeg_gray(
        _encode_lossless([r, g, b], 1, adobe_transform=1))
    assert np.array_equal(dec, np.full((2, 2), 30, np.uint8))

    # 2/4-component lossless = CFA sensor mosaic (CR2/DNG shape):
    # the decoder emits the RAW mosaic, components column-interleaved
    # in T.81 MCU sample order — no demosaic, every output sample is
    # a decoded sample.  Planes (2,2) of 30s and 60s interleave to a
    # (2,4) plane 30,60,30,60.
    dec = decode_jpeg_gray(_encode_lossless([r, g], 1))
    assert np.array_equal(
        dec, np.tile(np.array([30, 60], np.uint8), (2, 2)))
    dec = decode_jpeg_gray(_encode_lossless([r, g, b, r], 1))
    assert np.array_equal(
        dec, np.tile(np.array([30, 60, 90, 30], np.uint8), (2, 2)))

    # the dims probe mirrors the mosaic width (SOF width × nc)
    from exam_pdf_parser_spark.operators.multimodal import parse_meta
    m = parse_meta(_encode_lossless([r, g], 1))
    assert (m["width"], m["height"]) == (4, 2)
    dec2 = decode_jpeg_gray(_encode_lossless([r, g], 1))
    assert (m["height"], m["width"]) == dec2.shape

    # 5+ components: no CFA layout defines them and the dims probe
    # doesn't mirror the width — stays fail-loud
    with pytest.raises(NotImplementedError, match="5-component"):
        decode_jpeg_gray(_encode_lossless([r, g, b, r, g], 1))
    with pytest.raises(NotImplementedError, match="subsampled"):
        decode_jpeg_gray(_encode_lossless([r], 1, comp_hv=0x21))
    with pytest.raises(ValueError, match="lossless scan header"):
        decode_jpeg_gray(_encode_lossless([r], 1)
                         .replace(bytes((1, 0, 0)), bytes((0, 0, 0))))


def test_lossless_jpeg_in_tiff_strip():
    """The DNG pattern: a compression-7 TIFF whose strip is a LOSSLESS
    (SOF3) JPEG stream.  Unlike the DCT path there is no codec loss,
    so the container decode must reproduce the planted samples
    pixel-exactly."""
    import struct

    import numpy as np

    from exam_pdf_parser_spark.core.tiff import decode_tiff_gray

    grid = ((np.arange(16 * 16).reshape(16, 16) * 7) % 256)
    strip = _encode_lossless([grid], predictor=4)

    entries = [(256, 4, 1, 16), (257, 4, 1, 16), (258, 3, 1, 8),
               (259, 3, 1, 7), (262, 3, 1, 1),
               (273, 4, 1, None), (277, 3, 1, 1), (278, 4, 1, 16),
               (279, 4, 1, len(strip))]
    ifd = 8
    data_off = ifd + 2 + 12 * len(entries) + 4
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd)
                    + struct.pack("<H", len(entries)))
    for tag, typ, cnt, val in entries:
        if tag == 273:
            val = data_off
        out += struct.pack("<HHII", tag, typ, cnt, val)
    out += struct.pack("<I", 0)
    blob = bytes(out + strip)

    assert np.array_equal(decode_tiff_gray(blob), grid.astype(np.uint8))
