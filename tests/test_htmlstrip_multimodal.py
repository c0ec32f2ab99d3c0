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
    # PNG and GIF decode natively; everything else raises
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
    codec: GIF LSD, PNG IHDR.  Anything else, a JPEG marker stream
    included, reads corrupt."""
    import struct

    import numpy as np

    from exam_pdf_parser_spark.core.png import encode_png_gray
    from exam_pdf_parser_spark.operators.multimodal import parse_meta

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

    rows = [
        (1, "image", b"GIF87a" + struct.pack("<HH", 99, 44) + b"\x00"),
        (2, "image", b"not media at all"),
    ]
    out = {r["media_id"]: r for r in extract_metadata(
        spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
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


def test_palette_tiff_rle8_bmp_gif_frames():
    """Round-4 follow-on: GIF metadata counts frames."""
    import struct

    import numpy as np

    from exam_pdf_parser_spark.core.gif import (
        encode_gif_gray, gif_frame_count,
    )
    from exam_pdf_parser_spark.operators.multimodal import parse_meta

    # GIF frame counting through parse_meta (encoder emits one frame)
    img = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3)
    m = parse_meta(encode_gif_gray(img))
    assert m["n_frames"] == 1
    assert gif_frame_count(b"GIF89a" + struct.pack("<HH", 3, 3)
                           + b"\x00\x00\x00") is None


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
    import os

    import pytest

    import idlelib
    from exam_pdf_parser_spark.core.gif import gif_frame_count

    icons = os.path.join(os.path.dirname(idlelib.__file__), "Icons")
    paths = sorted(glob.glob(os.path.join(icons, "*.gif")))
    if not paths:
        pytest.skip("no system GIFs present")
    counts = [gif_frame_count(open(p, "rb").read()) for p in paths[:6]]
    assert all(c is not None and c >= 1 for c in counts), counts


def test_review_regressions_round4b(spark):
    """Second review pass pins: resize_media never crashes on real-
    format payloads (quarantine contract), and off-screen GIF frames
    clamp."""
    import struct

    import numpy as np

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

    from exam_pdf_parser_spark.core.gif import (
        decode_gif_gray, encode_gif_gray,
    )
    from exam_pdf_parser_spark.core.png import (
        decode_png_gray, encode_png_gray,
    )

    decoders = [decode_png_gray, decode_gif_gray]
    ok_errors = (ValueError, NotImplementedError, KeyError, IndexError,
                 EOFError, OSError, struct_error := __import__(
                     "struct").error, ZeroDivisionError,
                 __import__("zlib").error)

    rng = np.random.default_rng(123)
    sigs = [b"\x89PNG\r\n\x1a\n", b"GIF89a", b""]
    payloads = []
    for sig in sigs:
        for n in (0, 3, 17, 256):
            payloads.append(sig + bytes(
                rng.integers(0, 256, n).astype(np.uint8)))
    # bit-flipped versions of real encodes
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    for blob in (encode_png_gray(img), encode_gif_gray(img)):
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
    features for all 90 rows, across PNG and GIF.  Nothing
    quarantines and both format families are actually present."""
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

        # both image containers are actually present
        def container(payload):
            b = bytes(payload)
            for sig, name in ((b"\x89PNG", "png"), (b"GIF8", "gif")):
                if b.startswith(sig):
                    return name
            return "?"

        payloads = media.select("payload").toPandas()["payload"]
        assert set(payloads.map(container)) == {"png", "gif"}
    finally:
        media.unpersist()

