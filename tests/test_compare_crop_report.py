"""Tests for A/B compare (J6), crop sink (S11), report sinks (S8, S10)
and exam_info (A11/F10)."""

from __future__ import annotations

import pytest

from exam_pdf_parser_spark.operators.compare import compare_runs
from exam_pdf_parser_spark.core.png import PNG_SIG
from exam_pdf_parser_spark.operators.crop import crop_regions, pad_clamp
from exam_pdf_parser_spark.operators.extract import corpus_df
from exam_pdf_parser_spark.operators.evaluation import evaluate_questions, score_urls
from exam_pdf_parser_spark.operators.parsed import (
    answer_key_table, exam_info_table, parse_documents,
)
from exam_pdf_parser_spark.sources.report import (
    dump_golden_json, load_golden_json, markdown_summary,
)

from .png_reader import read_png_gray

N_DOCS = 15


@pytest.fixture(scope="module")
def docs(spark):
    d = corpus_df(spark, N_DOCS, partitions=2, with_answer_key=True).persist()
    yield d
    d.unpersist()


def test_compare_identical_runs(spark, docs):
    parsed = parse_documents(docs).persist()
    diff = compare_runs(parsed, parsed).persist()
    assert diff.filter("NOT in_a OR NOT in_b").count() == 0
    assert diff.filter("qtext_sim < 1.0 OR passage_sim < 1.0").count() == 0
    assert diff.filter("points_delta != 0 OR choices_delta != 0").count() == 0
    diff.unpersist()
    parsed.unpersist()


def test_compare_different_configs(spark, docs):
    a = parse_documents(docs, max_q=50)
    b = parse_documents(docs, max_q=10)   # caps detection at Q10
    diff = compare_runs(a, b)
    only_a = diff.filter("in_a AND NOT in_b")
    assert only_a.count() > 0
    assert only_a.filter("number <= 10").count() == 0


def test_crop_sink(spark, docs):
    crops = crop_regions(docs).persist()
    rows = crops.collect()
    assert rows
    for r in rows[:50]:
        assert bytes(r["png"]).startswith(PNG_SIG)
        assert r["x0"] <= r["x1"] and r["y0"] <= r["y1"]
        assert r["file_name"].startswith(f"q{r['question_number']:02d}")
    # crops are REAL PNGs: structurally valid (CRCs, IHDR, zlib) with
    # dimensions matching the padded bbox, and actual ink on the canvas
    for r in rows[:10]:
        img = read_png_gray(bytes(r["png"]))
        h, w = img.shape
        w_pt = max(r["x1"] - r["x0"], 1.0)
        h_pt = max(r["y1"] - r["y0"], 1.0)
        scale = min(1.0, 512 / max(w_pt, h_pt))   # render_region cap
        assert w == max(1, round(w_pt * scale))
        assert h == max(1, round(h_pt * scale))
        assert (img < 255).any()      # the region's blocks rendered
        assert (img == 255).any()     # padding margin stays white
    # cross-page questions get the _pN suffix
    multi = [r for r in rows if "_p" in r["file_name"]]
    assert multi
    # deterministic rerun
    again = {(r["url"], r["file_name"]): bytes(r["png"])
             for r in crop_regions(docs).collect()}
    for r in rows:
        assert again[(r["url"], r["file_name"])] == bytes(r["png"])
    crops.unpersist()


def test_pad_clamp():
    assert pad_clamp((5, 5, 840, 1189), 842, 1191) == (0, 0, 842, 1191)
    assert pad_clamp((100, 100, 200, 200), 842, 1191) == (90, 90, 210, 210)


def test_exam_info(spark, docs):
    from exam_pdf_parser_spark.corpus.generator import build_document

    parsed = parse_documents(docs)
    info = {r["url"]: r for r in exam_info_table(parsed).collect()}
    assert len(info) == N_DOCS
    for r in info.values():
        assert r["exam_type"] in ("수능", "모의고사", "워크북", "기타")
        assert r["n_listening"] == 17
        assert r["total_questions"] >= 20
    # title keywords drive the cascade exactly (src/validator.py:61-75)
    for i in range(N_DOCS):
        row = build_document(i)
        got = info[row["url"]]
        title = (row["exam_title"] or "").lower()
        if "수능" in title or "대학수학능력" in title:
            assert got["exam_type"] == "수능", row["url"]
        elif "모의" in title:
            assert got["exam_type"] == "모의고사", row["url"]
        elif got["n_written"] > 0 or any(
                kw in title for kw in
                ("final test", "chapter test", "워크북", "연습")):
            assert got["exam_type"] == "워크북", row["url"]
        else:
            assert got["exam_type"] == "기타", row["url"]
    # the 30-doc corpus must exercise more than one exam type
    assert len({r["exam_type"] for r in info.values()}) >= 2


def test_golden_json_roundtrip_stable(tmp_path):
    rows = [{"b": 1, "a": "한글", "nested": {"y": [2, 1]}}]
    p1, p2 = str(tmp_path / "g1.json"), str(tmp_path / "g2.json")
    dump_golden_json(rows, p1)
    dump_golden_json(rows, p2)
    assert open(p1, "rb").read() == open(p2, "rb").read()
    assert "한글" in open(p1, encoding="utf-8").read()  # ensure_ascii=False
    assert load_golden_json(p1) == rows


def test_markdown_summary_report(docs):
    scores = score_urls(evaluate_questions(
        parse_documents(docs), answer_key_table(docs))).collect()
    md = markdown_summary("eval", [r.asDict() for r in scores])
    assert "mean overall score" in md and md.count("\n") > N_DOCS


def test_png_codec_roundtrip():
    import numpy as np

    from exam_pdf_parser_spark.core.png import encode_png_gray, render_region

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(37, 53), dtype=np.uint8)
    data = encode_png_gray(img)
    assert (read_png_gray(data) == img).all()
    # byte-determinism
    assert encode_png_gray(img) == data

    # geometry: a text block and a table block land where expected
    blocks = [
        {"type": "text", "bbox": [10, 10, 30, 20]},
        {"type": "table", "bbox": [0, 0, 5, 5]},
        {"type": "text", "bbox": [900, 900, 950, 950]},  # outside crop
    ]
    r = render_region(blocks, (0, 0, 40, 30))
    assert r.shape == (30, 40)
    assert r[15, 20] == 200          # inside the text block
    assert r[2, 2] == 100            # inside the table block
    assert r[25, 35] == 255          # empty canvas stays white
