"""Unit tests for the shared text functions (SURVEY.md §2.7 F1-F3).

Expected values mirror the reference semantics (citations in
core/textfuncs.py docstrings).
"""

from exam_pdf_parser_spark.core.textfuncs import (
    block_text, detect_question_start, is_section_header, normalize_text,
    page_framed_text, similarity,
)


def test_normalize_collapses_unicode_ws():
    assert normalize_text("  a\t\nb　c  ") == "a b c"
    assert normalize_text("") == ""


def test_similarity_edges():
    assert similarity("", "") == 1.0
    assert similarity("a", "") == 0.0
    assert similarity("ABC", "abc") == 1.0
    assert 0.0 < similarity("kitten", "sitting") < 1.0


def test_qstart_patterns_priority():
    # group pattern wins and yields ASCII-tilde range
    assert detect_question_start("[41~42] long body") == (41, "41~42")
    assert detect_question_start("[41 ∼ 42] x") == (41, "41~42")
    assert detect_question_start("【18】 text") == (18, None)
    assert detect_question_start("[18] text") == (18, None)
    assert detect_question_start("18.다음") == (18, None)   # no space needed
    assert detect_question_start("18 다음") == (18, None)
    assert detect_question_start("없음") == (None, None)
    # out-of-range numbers fall through
    assert detect_question_start("99. text") == (None, None)
    assert detect_question_start("5. ok", min_q=1, max_q=50) == (5, None)


def test_section_header_vs_group_question():
    assert is_section_header("[31~34] 다음 글을 읽고")            # short → header
    assert is_section_header("[31~34]")
    assert not is_section_header("[41~42] " + "x" * 40)          # long → question
    assert not is_section_header("[18] text")                    # no tilde
    assert not is_section_header("그냥 텍스트")


def test_block_text_joins_spans():
    lines = [
        {"spans": [{"content": "a"}, {"content": ""}, {"content": "b"}]},
        {"spans": [{"content": "c"}]},
    ]
    assert block_text(lines) == "a b c"
    assert block_text([]) == ""


def test_page_framing():
    assert page_framed_text(["x", "y"]) == "--- Page 1 ---\nx\n\n--- Page 2 ---\ny"


def test_section_header_latex_sim_literal():
    # the reference also treats OCR'd LaTeX ranges as headers via the
    # literal '\\sim' check (src/cropper/detector.py:226)
    assert is_section_header(r"[31\sim34] 안내")
    assert not is_section_header(r"[31\sim34] " + "x" * 40)


def test_classify_question_type_cascade():
    from exam_pdf_parser_spark.core.fields import (
        PASSAGE_TYPES, WRITTEN_TYPES, classify_question_type,
    )

    # positional listening overrides any keyword
    assert classify_question_type(3, "빈칸에 들어갈 말은?") == "듣기"
    assert classify_question_type(18, "다음 글의 주제로 적절한 것은?") == "주제/요지"
    assert classify_question_type(20, "다음 글의 제목으로 적절한 것은?") == "제목"
    assert classify_question_type(22, "빈칸에 들어갈 말로 적절한 것은?") == "빈칸"
    assert classify_question_type(30, "다음 글을 읽고 우리말로 서술하시오.") == "서술형"
    # ordered cascade: 도표 outranks the 일치 it also contains
    assert classify_question_type(25, "다음 도표의 내용과 일치하지 않는 것은?") == "도표"
    # no keyword → 기타
    assert classify_question_type(40, "아무 관련 없는 텍스트") == "기타"
    # parity sets reference the same values (src/validator.py:32-55)
    assert "서술형" in WRITTEN_TYPES and "빈칸" in PASSAGE_TYPES


def test_split_sub_questions():
    from exam_pdf_parser_spark.core.fields import split_sub_questions

    body, subs = split_sub_questions("본문 텍스트 (1) 첫번째 (2) 두번째")
    assert body == "본문 텍스트"
    assert subs == ["첫번째", "두번째"]
    # empty entry preserved (V6 fodder)
    body, subs = split_sub_questions("stem (1) 내용 (2) (3) 끝")
    assert subs == ["내용", "", "끝"]
    # no markers → untouched
    assert split_sub_questions("그냥 본문") == ("그냥 본문", [])


def test_plus_marker_is_block_scoped():
    """Round-4 parity fix (src/evaluator.py:134-145): only a block
    that IS exactly '+N' counts as the point-marker; prose containing
    +N is never treated as (or stripped like) a marker."""
    from exam_pdf_parser_spark.core.detector import _PLUS_BLOCK_RE
    from exam_pdf_parser_spark.core.fields import _PLUS_POINTS_RE

    # detection mirrors the reference (anywhere in the block)
    assert _PLUS_POINTS_RE.search("수익이 a+3b 올랐다").group(1) == "3"
    # marker-block match is exact-text only
    assert _PLUS_BLOCK_RE.match("+3")
    assert _PLUS_BLOCK_RE.match("+12")
    assert not _PLUS_BLOCK_RE.match("문제 +3")
    assert not _PLUS_BLOCK_RE.match("+3 문제")
    assert not _PLUS_BLOCK_RE.match("a+3")


def test_question_start_gate_is_pure_speedup():
    """The first-char gate added in round 7 must be EXACTLY equivalent
    to the ungated ordered cascade — property-tested over adversarial
    prefixes including Unicode Nd digits (re's \\d is Unicode-aware,
    and int() accepts Nd digits, so the gate uses isdecimal(), not
    an ASCII range)."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from exam_pdf_parser_spark.core.textfuncs import QNUM_PATTERNS

    def ungated(text, min_q=1, max_q=50):
        text = text.strip()
        for pattern in QNUM_PATTERNS:
            m = pattern.match(text)
            if m:
                q_num = int(m.group(1))
                if not (min_q <= q_num <= max_q):
                    continue
                group_range = None
                if len(m.groups()) >= 2 and m.group(2):
                    group_range = f"{m.group(1)}~{m.group(2)}"
                return q_num, group_range
        return None, None

    prefix = st.sampled_from(
        ["", "[", "【", "]", " ", "　", "18", "１８", "٣", "₁", "½",
         "[41~42]", "[41 ∼ 42]", "【7】", "[9]", "18.", "18 ", "0.",
         "99.", "[99]", "x", "다음", "①"])
    body = st.text(max_size=12)

    @settings(max_examples=400, deadline=None)
    @given(prefix, prefix, body)
    def check(p1, p2, b):
        s = p1 + p2 + b
        assert detect_question_start(s) == ungated(s), repr(s)
        assert detect_question_start(s, 5, 9) == ungated(s, 5, 9), repr(s)

    check()
    # the documented tricky cases stay pinned explicitly
    assert detect_question_start("１８. x") == ungated("１８. x")  # fullwidth Nd
    assert detect_question_start("") == (None, None)
    assert detect_question_start("  [3] y") == (3, None)
