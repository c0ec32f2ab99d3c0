"""Pure text functions shared VERBATIM by the Spark UDFs and the
single-node oracle.

Byte-identity contract: every function that touches goldened text lives
here, in plain Python, and is imported by BOTH the oracle
(``core.oracle``) and the Spark pipeline (``operators.extract``).  We
never re-express these in JVM SQL functions because Python ``re`` and
JVM regex disagree on Unicode character classes (SURVEY.md §7.3.1).

Reference parity citations (jawsbaek/exam-pdf-parser, read-only at
/root/reference):
  - question-start patterns     src/cropper/detector.py:20-26
  - section-header predicate    src/cropper/detector.py:219-233
  - question-start detection    src/cropper/detector.py:235-248
  - block text join             src/cropper/detector.py:209-217
  - normalize_text              src/evaluator.py:97-99
  - similarity (SequenceMatcher) src/evaluator.py:263-269
  - circled-digit map           src/evaluator.py:45-48
"""

from __future__ import annotations

import re
from difflib import SequenceMatcher

# Ordered by specificity; first match wins (src/cropper/detector.py:20-26).
QNUM_PATTERNS: list[re.Pattern[str]] = [
    re.compile(r"^\[(\d{1,2})\s*[~∼]\s*(\d{1,2})\]"),  # [41~42] group
    re.compile(r"^【(\d{1,2})】"),                      # 【18】
    re.compile(r"^\[(\d{1,2})\]"),                      # [18]
    re.compile(r"^(\d{1,2})\."),                        # "18." (no space needed)
    re.compile(r"^(\d{1,2})\s"),                        # "18 " last resort
]

# ①..⑩ → 1..10 (src/evaluator.py:45-48)
CIRCLE_DIGITS = {
    "①": 1, "②": 2, "③": 3, "④": 4, "⑤": 5,
    "⑥": 6, "⑦": 7, "⑧": 8, "⑨": 9, "⑩": 10,
}

_WS_RE = re.compile(r"\s+")

# first-char dispatch classes over QNUM_PATTERNS (same objects, same
# relative order — see detect_question_start): '[' can only open
# patterns 0 and 2, '【' only pattern 1, a decimal digit only 3 and 4
_QNUM_BRACKET = [QNUM_PATTERNS[0], QNUM_PATTERNS[2]]
_QNUM_CJK = [QNUM_PATTERNS[1]]
_QNUM_DIGIT = [QNUM_PATTERNS[3], QNUM_PATTERNS[4]]

# Line-level boilerplate rules of ``x_boilerplate_strip``, shared by the
# JVM strip (operators.htmlstrip) and the oracle (core.oracle_x).
NAV_SEP_MIN = 3           # ≥3 "|" separators → navigation line
FOOT_MARKERS = ("©", "all rights reserved", "privacy", "sitemap")
# A line of only these is blank: the 29 characters ``str.isspace()``
# accepts, i.e. what ``str.strip()`` removes (Spark's ``trim`` removes
# U+0020 alone, so it cannot decide blankness).
BLANK_CHARS = ("\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001"
               "\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
               "\u2028\u2029\u202f\u205f\u3000")


def normalize_text(text: str) -> str:
    """Collapse runs of (Unicode) whitespace to one space and strip.

    Parity: src/evaluator.py:97-99.  Python ``\\s`` is Unicode-aware;
    this exact behaviour is part of the byte-identity contract.
    """
    return _WS_RE.sub(" ", text).strip()


def similarity(a: str, b: str) -> float:
    """Ratcliff-Obershelp ratio on lowercased strings.

    Parity: src/evaluator.py:263-269.  Empty-empty → 1.0, one-empty →
    0.0.  NOT Levenshtein — Spark's ``levenshtein()`` is not a drop-in.
    """
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    a, b = a.lower(), b.lower()
    # Most eval calls compare equal strings.  Below 200 chars
    # SequenceMatcher's autojunk is off, so equal strings score exactly
    # 1.0 and the matcher can be skipped.
    if a == b and len(a) < 200:
        return 1.0
    return SequenceMatcher(None, a, b).ratio()


def block_text(lines: list) -> str:
    """Join span contents of a layout block with single spaces.

    Parity: src/cropper/detector.py:209-217 (lines→spans→content).
    ``lines`` is ``[{"spans": [{"content": str}, ...]}, ...]``.
    """
    # r10: this is the highest-call-count text function in extraction
    # (~150 blocks/doc).  Fast path for the dominant layout shape —
    # one line, one span (~65% of blocks; joining a single part is the
    # part itself) — and a single list comprehension otherwise; both
    # produce the identical joined-and-stripped result.
    if lines and len(lines) == 1:
        spans = lines[0].get("spans", ())
        if len(spans) == 1:
            c = spans[0].get("content", "")
            return c.strip() if c else ""
    return " ".join([
        c
        for line in lines or ()
        for span in line.get("spans", ())
        if (c := span.get("content", ""))
    ]).strip()


_SECTION_OPEN_RE = re.compile(r"^\[\s*\d")


def is_section_header(text: str) -> bool:
    """True for short range-bracket headers like ``[31~34] 다음...``.

    Parity: src/cropper/detector.py:219-233 — a leading ``[<digit>``
    with a tilde variant anywhere, and fewer than 30 chars after the
    closing bracket.  Group question starts (``[41~42]`` + long body)
    are NOT headers.
    """
    text = text.strip()
    if _SECTION_OPEN_RE.match(text) and ("\\sim" in text or "~" in text or "∼" in text):
        bracket_end = text.find("]")
        if bracket_end != -1:
            after = text[bracket_end + 1:].strip()
            if not after or len(after) < 30:
                return True
    return False


def detect_question_start(
    text: str, min_q: int = 1, max_q: int = 50
) -> tuple[int | None, str | None]:
    """Return ``(question_number, group_range)`` or ``(None, None)``.

    Parity: src/cropper/detector.py:235-248 — ordered-priority regex
    cascade; out-of-range numbers fall through to the next pattern;
    group range rendered with an ASCII tilde.
    """
    text = text.strip()
    # first-char dispatch (pure speedup, property-tested equivalent):
    # every pattern anchors at ^ and its first char pins which
    # patterns can possibly match — '[' → the two bracket patterns,
    # '【' → the CJK bracket, a decimal digit (re's Unicode \d is
    # category Nd, exactly str.isdecimal()) → the two bare-digit
    # patterns, anything else → no pattern.  The cascade order within
    # each class is the original priority order, and patterns from
    # other classes could never have matched in between, so the
    # result — including the out-of-range fall-through — is identical
    # to trying all five.  This is the hottest per-block call in
    # extraction (body-text blocks exit on the gate; question starts
    # now try 1-2 patterns instead of up to 5).
    c = text[:1]
    if c == "[":
        pats = _QNUM_BRACKET
    elif c == "【":
        pats = _QNUM_CJK
    elif c and c.isdecimal():
        pats = _QNUM_DIGIT
    else:
        return None, None
    for pattern in pats:
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


def page_framed_text(page_texts: list[str]) -> str:
    """Assemble the per-url extracted text with page delimiters.

    Parity: src/ocr/base.py:70-79 — ``--- Page {i+1} ---`` framing,
    pages joined with a blank line.  This string is byte-identity
    target #1 (FIXTURES.md §4 ``extracted``).
    """
    return "\n\n".join(
        f"--- Page {i + 1} ---\n{t}" for i, t in enumerate(page_texts)
    )
