"""Answer-key markdown parser (S6/F8/F9).

Parses the two-dialect markdown the reference evaluator consumes
(parity: src/evaluator.py:165-227):
  * grouped sections ``### [N~M]`` (ASCII or full-width tilde) with a
    shared ``**지문:**`` and ``**문제 NN:**`` sub-blocks
    (src/evaluator.py:183-212, 230-255);
  * regular blocks ``### 문제 N`` / ``문제 N`` with ``문제:`` /
    ``지문:`` / ``답:`` fields (src/evaluator.py:102-162);
  * choices as ``- ① text`` / ``① text`` / bare ``2 text`` lines with
    first-wins dedup (src/evaluator.py:51-94);
  * points: ``+3`` marker (only the value 3 honored) and ``[3점]`` in
    the question text (src/evaluator.py:134-144).

Pure Python, shared by the oracle and the Spark pandas UDF.
"""

from __future__ import annotations

import re

from .textfuncs import CIRCLE_DIGITS, normalize_text

_GROUP_SECTION_RE = re.compile(
    r"###\s*\[(\d+)[~～](\d+)\](.*?)(?=\n###\s|\Z)", re.DOTALL)
_SUB_SPLIT_RE = re.compile(r"(?=\*\*문제\s+\d+[:\*])")
_TOP_SPLIT_RE = re.compile(r"(?=(?:^|\n)(?:#{1,3}\s*)?문제\s+\d+(?!\s*[:\*]))")
_HEADER_RE = re.compile(r"문제\s+(\d+)")
_QT_RE = re.compile(r"(?:\*\*문제:\*\*|문제:)\s*(.+?)(?:\n|$)")
_SUB_QT_RE = re.compile(r"\*\*문제\s+\d+[:\*]\*\*\s*(.+?)(?:\n|$)")
_PASSAGE_RE = re.compile(
    r"(?:\*\*지문:\*\*|지문:)\s*(.*?)(?=\*\*답:\*\*|답:|$)", re.DOTALL)
_SHARED_PASSAGE_RE = re.compile(
    r"(?:\*\*지문:\*\*|지문:)\s*(.*?)(?=\*\*문제\s+\d+|\Z)", re.DOTALL)
_ANSWER_RE = re.compile(r"(?:\*\*답:\*\*|답:)(.*?)$", re.DOTALL)
_POINTS_RE = re.compile(r"\+(\d+)")
_TRAILING_PLUS_RE = re.compile(r"\n?\+\d+\s*$", re.MULTILINE)
_BARE_DIGIT_RE = re.compile(r"^(\d)\s+(.*)")


def parse_choice_lines(block: str) -> list[dict]:
    """Choice lines from an answer block (src/evaluator.py:51-94)."""
    choices: list[dict] = []
    seen: set[int] = set()
    for line in block.splitlines():
        line = line.strip()
        if not line:
            continue
        if line.startswith("_(") or line.startswith("해당 문서"):
            continue
        if line.startswith("- "):
            line = line[2:].strip()
        matched = False
        for circle, num in CIRCLE_DIGITS.items():
            if line.startswith(circle):
                if num not in seen:
                    choices.append(
                        {"number": num, "text": line[len(circle):].strip()})
                    seen.add(num)
                matched = True
                break
        if not matched:
            m = _BARE_DIGIT_RE.match(line)
            if m:
                num = int(m.group(1))
                if num not in seen and 1 <= num <= 10:
                    choices.append({"number": num, "text": m.group(2).strip()})
                    seen.add(num)
    choices.sort(key=lambda c: c["number"])
    return choices


def _parse_regular_block(raw: str) -> dict | None:
    header = _HEADER_RE.search(raw)
    if not header:
        return None
    number = int(header.group(1))

    qt = _QT_RE.search(raw)
    question_text = normalize_text(qt.group(1)) if qt else ""

    passage = None
    pm = _PASSAGE_RE.search(raw)
    if pm:
        passage = normalize_text(_TRAILING_PLUS_RE.sub("", pm.group(1))) or None

    points = 2
    p = _POINTS_RE.search(raw)
    if p and int(p.group(1)) == 3:
        points = 3
    if "[3점]" in question_text:
        points = 3

    am = _ANSWER_RE.search(raw)
    choices = parse_choice_lines(am.group(1)) if am else []
    return {"number": number, "question_text": question_text,
            "passage": passage, "choices": choices, "points": points}


def _parse_sub_block(raw: str, shared_passage: str | None) -> dict | None:
    nm = re.search(r"\*\*문제\s+(\d+)", raw)
    if not nm:
        return None
    qt = _SUB_QT_RE.search(raw)
    question_text = normalize_text(qt.group(1)) if qt else ""
    am = _ANSWER_RE.search(raw)
    choices = parse_choice_lines(am.group(1)) if am else []
    return {
        "number": int(nm.group(1)),
        "question_text": question_text,
        "passage": shared_passage,
        "choices": choices,
        "points": 3 if "[3점]" in question_text else 2,
    }


def parse_answer_md(text: str | None) -> list[dict]:
    """Full two-pass parse; entries sorted by number.  A NULL key
    (``None``) parses as no key, like ``''``."""
    if text is None:
        return []
    entries: dict[int, dict] = {}

    for gmatch in _GROUP_SECTION_RE.finditer(text):
        group_text = gmatch.group(3)
        shared = None
        gp = _SHARED_PASSAGE_RE.search(group_text)
        if gp:
            shared = normalize_text(gp.group(1)) or None
        for part in _SUB_SPLIT_RE.split(group_text):
            part = part.strip()
            if not part:
                continue
            e = _parse_sub_block(part, shared)
            if e:
                entries[e["number"]] = e

    remaining = _GROUP_SECTION_RE.sub("", text)
    for block in _TOP_SPLIT_RE.split(remaining):
        block = block.strip()
        if not block:
            continue
        e = _parse_regular_block(block)
        if e and e["number"] not in entries:
            entries[e["number"]] = e

    return [entries[n] for n in sorted(entries)]
