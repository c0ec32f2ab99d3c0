"""Property-based tests (hypothesis) for the deterministic core —
randomized layouts and strings must uphold the detector/parser
invariants regardless of input shape.  (The reference has no
property tests at all — SURVEY.md §5.6.)
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from exam_pdf_parser_spark.core.detector import detect_regions, split_columns
from exam_pdf_parser_spark.core.fields import (
    parse_choices, parse_question_fields, split_vocabulary,
)
from exam_pdf_parser_spark.core.textfuncs import (
    detect_question_start, is_section_header, normalize_text, similarity,
)

# --- strategies --------------------------------------------------------------

text_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=120)


def block_st():
    return st.builds(
        lambda x0, y0, w, h, words: {
            "type": "text",
            "bbox": [x0, y0, x0 + w, y0 + h],
            "lines": [{"spans": [{"content": " ".join(words)}]}],
        },
        st.floats(0, 800, allow_nan=False),
        st.floats(0, 1100, allow_nan=False),
        st.floats(1, 400, allow_nan=False),
        st.floats(1, 100, allow_nan=False),
        st.lists(st.sampled_from(
            ["1.", "18.", "[41~42]", "다음", "글을", "word", "①", "x"]),
            max_size=6),
    )


def page_st(idx: int):
    return st.builds(
        lambda blocks: {"page_idx": idx, "page_size": [842.0, 1191.0],
                        "blocks": blocks},
        st.lists(block_st(), max_size=12),
    )


# --- textfuncs ---------------------------------------------------------------

@given(text_st)
def test_normalize_idempotent(s):
    once = normalize_text(s)
    assert normalize_text(once) == once
    assert "  " not in once and once == once.strip()


@given(text_st, text_st)
def test_similarity_bounds_and_symmetry_of_equal(a, b):
    r = similarity(a, b)
    assert 0.0 <= r <= 1.0
    assert similarity(a, a) == 1.0 if a else similarity(a, a) == 1.0


@settings(max_examples=300, deadline=None)
@given(st.one_of(
    st.tuples(text_st, text_st),
    # equal strings around the 200-char autojunk boundary
    st.integers(190, 210).flatmap(lambda n: st.text(
        alphabet="abAB ", min_size=n, max_size=n).map(lambda t: (t, t))),
    # strings that differ only in case
    st.text(max_size=250).map(lambda t: (t, t.swapcase())),
))
def test_similarity_matches_plain_sequence_matcher(pair):
    """The equal-string shortcut returns exactly what the matcher
    would: the oracle and Spark share ``similarity``, so any drift
    here would move every eval score on both sides."""
    from difflib import SequenceMatcher

    a, b = pair
    want = (1.0 if not a and not b else 0.0 if not a or not b
            else SequenceMatcher(None, a.lower(), b.lower()).ratio())
    assert similarity(a, b) == want


@given(text_st)
def test_qstart_in_range_or_none(s):
    num, grp = detect_question_start(s)
    if num is not None:
        assert 1 <= num <= 50
    if grp is not None:
        lo, hi = grp.split("~")
        assert int(lo) == num


@given(text_st)
def test_section_header_never_crashes(s):
    is_section_header(s)  # total function over arbitrary text


# --- detector ----------------------------------------------------------------

@settings(max_examples=60, deadline=None)
@given(st.lists(block_st(), max_size=20))
def test_split_columns_partitions_blocks(blocks):
    cols = split_columns(blocks, 842.0)
    flat = [b for c in cols for b in c]
    with_bbox = [b for b in blocks if "bbox" in b]
    assert len(flat) == len(with_bbox)
    for col in cols:
        ys = [b["bbox"][1] for b in col]
        assert ys == sorted(ys)


@settings(max_examples=40, deadline=None)
@given(st.lists(page_st(0), min_size=1, max_size=1),
       st.lists(block_st(), max_size=12))
def test_detector_invariants(pages, extra):
    pages.append({"page_idx": 1, "page_size": [842.0, 1191.0],
                  "blocks": extra})
    regions = detect_regions(pages)
    # determinism
    assert regions == detect_regions(pages)
    nums = [r.question_number for r in regions]
    assert nums == sorted(nums)
    for r in regions:
        assert 1 <= r.question_number <= 50
        assert r.x0 <= r.x1 and r.y0 <= r.y1
        assert len(r.text_preview) <= 80
        assert r.page_idx in (0, 1)
    # fields never crash on whatever the detector produced
    rows = parse_question_fields(regions)
    assert len(rows) == len(set(nums))
    for row in rows:
        assert row["points"] in (2, 3)
        ch_nums = [c["number"] for c in row["choices"]]
        assert ch_nums == sorted(set(ch_nums))


# --- fields ------------------------------------------------------------------

@given(text_st)
def test_parse_choices_sorted_dedup(s):
    ch = parse_choices(s)
    nums = [c["number"] for c in ch]
    assert nums == sorted(set(nums))
    assert all(1 <= n <= 10 for n in nums)


@given(text_st)
def test_split_vocabulary_total(s):
    body, notes = split_vocabulary(s)
    assert isinstance(body, str)
    for n in notes:
        assert n["word"].isalpha()


# --- answerkey parser totality -----------------------------------------------

md_st = st.text(
    alphabet=st.sampled_from(list("문제지답: #*[]~～①②③④⑤-0123456789 \nabc한글")),
    max_size=400)


@given(md_st)
@settings(max_examples=80, deadline=None)
def test_parse_answer_md_total(md):
    from exam_pdf_parser_spark.core.answerkey import parse_answer_md

    entries = parse_answer_md(md)
    nums = [e["number"] for e in entries]
    assert nums == sorted(set(nums))          # unique, ascending
    for e in entries:
        assert e["points"] in (2, 3)
        ch = [c["number"] for c in e["choices"]]
        assert ch == sorted(set(ch))
        assert all(1 <= n <= 10 for n in ch)


@given(st.lists(st.text(
    alphabet=st.sampled_from(list("①②③④⑤- x2한")), max_size=30),
    max_size=10))
def test_parse_choice_lines_total(lines):
    from exam_pdf_parser_spark.core.answerkey import parse_choice_lines

    ch = parse_choice_lines("\n".join(lines))
    nums = [c["number"] for c in ch]
    assert nums == sorted(set(nums))


@given(st.from_regex(r"[가-힣a-z ]{0,40}", fullmatch=True),
       st.lists(st.from_regex(r"[가-힣a-z ]{0,15}", fullmatch=True),
                max_size=4))
@settings(max_examples=60, deadline=None)
def test_split_sub_questions_roundtrip(prefix, subs):
    from exam_pdf_parser_spark.core.fields import split_sub_questions

    body = prefix + "".join(
        f" ({i + 1}) {s}" for i, s in enumerate(subs))
    got_body, got_subs = split_sub_questions(body)
    if subs:
        assert got_body == prefix.strip()
        assert got_subs == [s.strip() for s in subs]
    else:
        assert got_body == body
        assert got_subs == []


@given(st.integers(1, 50), st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80))
@settings(max_examples=100, deadline=None)
def test_classify_total_and_closed(number, text):
    from exam_pdf_parser_spark.core.fields import (
        PASSAGE_TYPES, WRITTEN_TYPES, classify_question_type,
    )

    t = classify_question_type(number, text)
    # total function over a closed set; listening strictly positional
    assert isinstance(t, str) and t
    if number <= 17:
        assert t == "듣기"
    else:
        assert t != "듣기"
        assert t in PASSAGE_TYPES | WRITTEN_TYPES | {
            "기타", "어휘", "문법", "도표"}


@given(st.integers(1, 64), st.integers(1, 64), st.integers(0, 2**32 - 1))
@settings(max_examples=30, deadline=None)
def test_png_roundtrip_any_shape(w, h, seed):
    import numpy as np

    from exam_pdf_parser_spark.core.png import encode_png_gray

    from .png_reader import read_png_gray

    img = np.random.default_rng(seed).integers(
        0, 256, size=(h, w), dtype=np.uint8)
    assert (read_png_gray(encode_png_gray(img)) == img).all()
