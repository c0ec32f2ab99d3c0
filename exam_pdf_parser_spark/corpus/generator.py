"""Deterministic synthetic exam-document corpus (FIXTURES.md §1).

Every document is a pure function of ``(seed, doc_id)`` — no wall
clock, no global RNG — so the corpus can be generated on the driver for
unit tests AND distributed via ``spark.range(n).mapInPandas`` for the
scaling/soak benches (120k-250k docs), producing byte-identical rows
either way.

Each document plants known instances of the reference's hard cases
(citations into /root/reference):
  * 2-column paginated layout        src/cropper/detector.py:79-116
  * group sections ``[41~42]``       src/cropper/detector.py:21
  * section headers ``[31~34]``      src/cropper/detector.py:219-233
  * listening block (1-17, no passage) src/validator.py:306-356
  * cross-page question spans        src/cropper/detector.py:59-69
  * digit-split corruption ("34." → "3" + "4.") src/cropper/detector.py:255-257
  * circled-digit choices ①-⑤       src/evaluator.py:45-48
  * ``[3점]`` point markers          src/evaluator.py:143-144
  * answer-key markdown dialect      src/evaluator.py:165-227

Row schema == BASELINE.json input_hint:
  (url string, warc_ts timestamp, html binary, text string, lang string)
plus generator-only columns (answer_md, n_questions, n_listening,
exam_title in the row dict) consumed by tests and the answer-key table.
"""

from __future__ import annotations

import datetime as _dt
import random

from ..core.assemble import encode_payload
from ..core.textfuncs import CIRCLE_DIGITS

PAGE_W, PAGE_H = 842.0, 1191.0
COL_X = [(50.0, 400.0), (442.0, 792.0)]  # left / right column x-extents
TOP_Y, BOTTOM_Y = 60.0, 1120.0

_KO_WORDS = (
    "다음 글을 읽고 물음에 답하시오 내용과 일치하는 것은 대화를 듣고 밑줄 친 "
    "부분의 의미로 가장 적절한 것을 고르시오 빈칸에 들어갈 말로 알맞은 주제로 "
    "필자가 주장하는 바로 요지로 제목으로 심경 변화로 분위기로 어법상 틀린 "
    "문맥상 낱말의 쓰임이 적절하지 않은 순서로 배열한 문장이 들어가기에 "
    "요약하고자 한다 빈칸 에 공통으로 상황에 관한 안내문 도표 실용문"
).split()

_EN_WORDS = (
    "the study found that people who practice regularly tend to improve their "
    "skills over time and research shows consistent effort leads toward better "
    "outcomes while many experts agree learning requires patience focus and a "
    "clear sense of purpose across different domains of human experience"
).split()

_BOILER_NAV = "HOME | NEWS | SPORTS | LOGIN | SUBSCRIBE | CONTACT"
_BOILER_FOOT = "© example.com all rights reserved | privacy | terms | sitemap"

# Planted type stems — each leads with the keyword its QuestionType
# cascade rule matches (core/fields.QUESTION_TYPE_RULES; reference
# taxonomy src/schema.py:20-45).  Random body words may also contain
# cascade keywords; classification stays deterministic because the
# cascade is ordered, not positional.
_TYPE_STEMS = [
    "다음 글의 주제로 가장 적절한 것은?",
    "다음 글의 제목으로 가장 적절한 것은?",
    "다음 글에 드러난 화자의 심경 변화로 가장 적절한 것은?",
    "다음 글의 목적으로 가장 적절한 것은?",
    "필자가 주장하는 바로 가장 적절한 것은?",
    "밑줄 친 부분이 함의하는 바로 가장 적절한 것은?",
    "빈칸에 들어갈 말로 가장 적절한 것을 고르시오.",
    "주어진 글 다음에 이어질 글의 순서로 가장 적절한 것은?",
    "글의 흐름으로 보아 주어진 문장이 들어가기에 가장 적절한 곳은?",
    "다음 글의 내용을 한 문장으로 요약하고자 한다.",
    "다음 글에서 전체 흐름과 무관한 문장은?",
    "밑줄 친 부분이 가리키는 대상이 나머지 넷과 다른 것은?",
    "다음 글의 내용과 일치하지 않는 것은?",
    "다음 도표의 내용과 일치하지 않는 것은?",
    "다음 글의 밑줄 친 부분 중 어법상 틀린 것은?",
    "다음 글의 밑줄 친 낱말의 쓰임이 적절하지 않은 것은?",
]
_WRITTEN_STEM = "다음 글을 읽고 우리말로 서술하시오."


def _rng(seed: int, doc_id: int) -> random.Random:
    # int seeding is deterministic across processes (unlike str hashing)
    return random.Random(seed * 1_000_003 + doc_id)


def _sentence(rng: random.Random, pool: list[str], lo: int, hi: int) -> str:
    return " ".join(rng.choice(pool) for _ in range(rng.randint(lo, hi)))


def _choices_text(rng: random.Random) -> list[str]:
    circles = sorted(CIRCLE_DIGITS, key=CIRCLE_DIGITS.get)
    return [
        f"{circles[i]} {_sentence(rng, _EN_WORDS, 2, 5)}" for i in range(5)
    ]


class _PageFlow:
    """Flow layout: fills 2 columns per page top-to-bottom, overflowing
    to the next column / page.  Produces the MinerU-ish block dicts the
    detector consumes, plus natural cross-page question spans."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.pages: list[dict] = []
        self.page_idx = -1
        self.col = 0
        self.y = BOTTOM_Y + 1  # force first page
        self._new_page()

    def _new_page(self) -> None:
        self.page_idx += 1
        self.col = 0
        self.y = TOP_Y
        self.pages.append({
            "page_idx": self.page_idx,
            "page_size": [PAGE_W, PAGE_H],
            "blocks": [],
        })

    def _advance(self, height: float) -> None:
        if self.y + height > BOTTOM_Y:
            if self.col == 0:
                self.col = 1
            else:
                self._new_page()
            self.y = TOP_Y

    def add_block(self, text: str, height: float | None = None,
                  no_bbox: bool = False, extra_span: str | None = None) -> None:
        rng = self.rng
        h = height if height is not None else float(rng.randint(24, 90))
        self._advance(h)
        x_lo, x_hi = COL_X[self.col]
        x0 = x_lo + rng.randint(0, 8)
        x1 = x_hi - rng.randint(0, 8)
        # split text into 1-3 lines of spans to exercise the span join
        words = text.split(" ") if text else []
        n_lines = 1 if len(words) < 6 else rng.randint(1, 3)
        lines: list[dict] = []
        if words:
            per = max(1, len(words) // n_lines)
            for i in range(0, len(words), per):
                lines.append({"spans": [{"content": " ".join(words[i:i + per])}]})
        else:
            lines = [{"spans": [{"content": ""}]}]
        if extra_span is not None:
            lines.append({"spans": [{"content": extra_span}]})
        block: dict = {"type": "text", "lines": lines}
        if not no_bbox:
            block["bbox"] = [x0, self.y, x1, self.y + h]
        self.pages[-1]["blocks"].append(block)
        if not no_bbox:
            self.y += h + float(rng.randint(6, 14))


def build_document(doc_id: int, seed: int = 42) -> dict:
    """One corpus row + its answer key.  Pure function of (seed, doc_id)."""
    rng = _rng(seed, doc_id)
    n_q = rng.randint(20, 45)
    n_listen = min(17, n_q - 3)
    flow = _PageFlow(rng)

    # --- choose corruption/feature sites deterministically ---
    group_starts: dict[int, int] = {}   # first → last of each group
    g = n_listen + rng.randint(4, 8)
    while g + 1 <= n_q:
        if rng.random() < 0.35:
            last = min(n_q, g + rng.randint(1, 2))
            group_starts[g] = last
            g = last + rng.randint(3, 6)
        else:
            g += rng.randint(3, 6)
    in_group = {q for a, b in group_starts.items() for q in range(a, b + 1)}
    digit_split_q: int | None = None
    if rng.random() < 0.5:
        cands = [q for q in range(31, n_q + 1)
                 if q % 10 in (3, 4, 5, 6, 7) and q not in in_group]
        if cands:
            digit_split_q = rng.choice(cands)

    three_point = {q for q in range(n_listen + 1, n_q + 1) if rng.random() < 0.15}
    # point-marker dialect: [3점] in the stem (canonical) vs a bare
    # "+3" layout block (src/evaluator.py:134-145) — key side emits +3
    # for every 3-point regular entry either way
    plus_style = {q for q in sorted(three_point)
                  if q not in in_group and rng.random() < 0.35}
    # written-response questions (서술형 etc., src/validator.py:32-37):
    # no choices, optional (n)-numbered sub-questions
    written_qs = {
        q for q in range(n_listen + 1, n_q + 1)
        if q not in in_group and q != digit_split_q and rng.random() < 0.08
    }
    # V14 plants: passage-required types with the passage omitted
    # (src/validator.py:293-303)
    no_passage = {
        q for q in range(n_listen + 1, n_q + 1)
        if q not in in_group and q not in written_qs and rng.random() < 0.05
    }

    # --- ground-truth fields (also drive the answer key) ---
    questions: list[dict] = []
    for q in range(1, n_q + 1):
        listening = q <= n_listen
        written = q in written_qs
        if listening:
            qt = _sentence(rng, _KO_WORDS, 4, 9)
        elif written:
            qt = f"{_WRITTEN_STEM} {_sentence(rng, _KO_WORDS, 2, 4)}"
        elif rng.random() < 0.85:
            qt = f"{rng.choice(_TYPE_STEMS)} {_sentence(rng, _KO_WORDS, 3, 6)}"
        else:
            qt = _sentence(rng, _KO_WORDS, 4, 9)
        if q in three_point and q not in plus_style:
            qt += " [3점]"
        passage = (None if listening or written or q in no_passage
                   else _sentence(rng, _EN_WORDS, 20, 60))
        subs: list[str] = []
        if written and rng.random() < 0.6:
            subs = [_sentence(rng, _KO_WORDS, 2, 4)
                    for _ in range(rng.randint(2, 3))]
            if rng.random() < 0.15:
                subs[1] = ""        # V6 plant: empty sub-question entry
        questions.append({
            "number": q,
            "question_text": qt,
            "passage": passage,
            "choices": [] if written else _choices_text(rng),
            "points": 3 if q in three_point else 2,
            "listening": listening,
            "written": written,
            "subs": subs,
        })

    # --- lay out blocks ---
    # exam title banner above Q1 (pre-question pool; the bbox merges
    # into Q1's region per the reference's generous-crop rule while the
    # TEXT feeds exam_info.title — V1 fires for the titleless docs)
    # title variants carry the exam-type keywords the reference's
    # _detect_exam_type cascade keys on (src/validator.py:61-75)
    exam_title = None
    title_style = rng.random()
    if title_style < 0.8:
        year = rng.randint(2020, 2026)
        month = rng.choice([3, 6, 9, 11])
        if title_style < 0.20:
            exam_title = f"{year}학년도 대학수학능력시험 영어영역"
        elif title_style < 0.40:
            exam_title = f"{year}학년도 {month}월 모의평가 영어영역"
        elif title_style < 0.52:
            exam_title = f"영어 워크북 Chapter {rng.randint(1, 12)} Final Test"
        else:
            exam_title = f"{year}학년도 {month}월 전국연합학력평가 영어영역"
        flow.add_block(exam_title, height=30.0)

    for qd in questions:
        q = qd["number"]
        # section header before each group (short text after bracket)
        for a, b in group_starts.items():
            if q == a:
                tilde = "~" if rng.random() < 0.7 else "∼"
                flow.add_block(f"[{a}{tilde}{b}] 다음 글을 읽고 답하시오.",
                               height=26.0)
        if q in group_starts:
            # group first question: bracket start with long body
            a, b = q, group_starts[q]
            start_text = f"[{a}~{b}] {qd['question_text']} {_sentence(rng, _EN_WORDS, 8, 14)}"
        elif digit_split_q == q:
            # corrupt "34." into previous block ending "3" + "4." start
            tens, ones = divmod(q, 10)
            filler = _sentence(rng, _EN_WORDS, 6, 12)
            flow.add_block(filler, extra_span=str(tens))
            start_text = f"{ones}.{qd['question_text']}"

        else:
            style = rng.random()
            if style < 0.70:
                start_text = f"{q}.{qd['question_text']}"
            elif style < 0.80:
                start_text = f"[{q}] {qd['question_text']}"
            elif style < 0.90:
                start_text = f"【{q}】 {qd['question_text']}"
            else:
                start_text = f"{q} {qd['question_text']}"
        flow.add_block(start_text)
        if q in plus_style:
            # bare +N point-marker block (src/evaluator.py:134-145)
            flow.add_block("+3", height=16.0)
        if rng.random() < 0.08:
            flow.add_block("", height=18.0)          # blank block (P2)
        if rng.random() < 0.05:
            flow.add_block(_sentence(rng, _EN_WORDS, 3, 6), no_bbox=True)  # P1
        if qd["passage"] and (q not in in_group or q in group_starts):
            # group members share the group-first passage (real exam
            # layout); others get their own.  Split over 1-2 blocks →
            # natural cross-page spans.
            words = qd["passage"].split(" ")
            half = len(words) // 2
            if len(words) > 30 and rng.random() < 0.5:
                flow.add_block(" ".join(words[:half]), height=float(rng.randint(120, 260)))
                flow.add_block(" ".join(words[half:]), height=float(rng.randint(120, 260)))
            else:
                flow.add_block(qd["passage"], height=float(rng.randint(160, 320)))
        # figures/tables inside some reading questions (has_image /
        # has_table flags; reference src/schema.py:83-84).  A fraction
        # are planted ZERO-AREA (degenerate bbox): the figure is known
        # present but has no describable geometry — the V22 firing
        # path (figure without image_description,
        # src/validator.py:478-498).
        if not qd["listening"] and rng.random() < 0.10:
            kind = "image" if rng.random() < 0.6 else "table"
            degenerate = rng.random() < 0.15
            h = 0.0 if degenerate else float(rng.randint(80, 160))
            flow.add_block("", height=h)
            flow.pages[-1]["blocks"][-1]["type"] = kind
            qd["has_image"] = kind == "image"
            qd["has_table"] = kind == "table"
            qd["fig_degenerate"] = degenerate
        else:
            qd["has_image"] = qd["has_table"] = False
        # sub-question prompts "(1) …" (src/schema.py:86); an empty
        # plant renders as a bare "(n)" marker — V6 catches it
        for i, s in enumerate(qd["subs"], 1):
            flow.add_block(f"({i}) {s}".rstrip(), height=20.0)
        # vocabulary notes (*word : meaning lines; src/schema.py:80-82)
        # — never on written questions: a vocab meaning would swallow
        # the sub-question text (meaning runs to the next * marker)
        if not qd["listening"] and not qd["written"] and rng.random() < 0.12:
            qd["vocab"] = [
                (rng.choice(_EN_WORDS), _sentence(rng, _KO_WORDS, 2, 3))
                for _ in range(rng.randint(1, 3))
            ]
            for w, m in qd["vocab"]:
                flow.add_block(f"*{w} : {m}", height=18.0)
        else:
            qd["vocab"] = []
        if qd["listening"]:
            flow.add_block(" ".join(qd["choices"]), height=60.0)
        else:
            for ch in qd["choices"]:
                flow.add_block(ch, height=24.0)

    payload = {"v": 1, "pages": flow.pages}

    # --- plain-text column with boilerplate (for the DOM-strip stage) ---
    body_lines = [f"{q['number']}. {q['question_text']}" for q in questions[:6]]
    text_col = "\n".join([_BOILER_NAV, *body_lines, _BOILER_FOOT])

    host = 0 if rng.random() < 0.2 else rng.randrange(1, 50)  # host-level skew
    url = f"https://host{host:03d}.example/doc{doc_id:06d}"
    warc_ts = _dt.datetime(2025, 1, 1) + _dt.timedelta(
        seconds=(doc_id * 937) % 31_536_000)
    lang = "ko" if rng.random() < 0.8 else "en"

    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": encode_payload(payload),
        "text": text_col,
        "lang": lang,
        "answer_md": build_answer_md(questions, group_starts),
        "n_questions": n_q,
        "n_listening": n_listen,
        "exam_title": exam_title,
    }


def build_answer_md(questions: list[dict], group_starts: dict[int, int]) -> str:
    """Answer-key markdown in the dialect of parse_answer_md
    (src/evaluator.py:165-227): grouped ``### [N~M]`` sections with a
    shared ``**지문:**`` + ``**문제 NN:**`` sub-blocks, and regular
    ``### 문제 N`` blocks."""
    in_group = {q for a, b in group_starts.items() for q in range(a, b + 1)}
    by_num = {q["number"]: q for q in questions}
    out: list[str] = ["# 정답 및 해설", ""]

    for a, b in sorted(group_starts.items()):
        tilde = "~" if (a + b) % 2 == 0 else "～"  # exercise full-width tilde
        out.append(f"### [{a}{tilde}{b}]")
        shared = by_num[a]["passage"] or ""
        out.append(f"**지문:** {shared}")
        out.append("")
        for q in range(a, b + 1):
            qd = by_num[q]
            out.append(f"**문제 {q}:** {qd['question_text']}")
            out.append("**답:**")
            for ch in qd["choices"]:
                out.append(f"- {ch}")
            out.append("")

    for qd in questions:
        if qd["number"] in in_group:
            continue
        out.append(f"### 문제 {qd['number']}")
        out.append(f"문제: {qd['question_text']}")
        if qd["passage"]:
            out.append(f"지문: {qd['passage']}")
        if qd["points"] == 3:
            out.append("+3")
        out.append("답:")
        for ch in qd["choices"]:
            out.append(f"- {ch}")
        out.append("")

    return "\n".join(out)


def generate_rows(n_docs: int) -> list[dict]:
    """Driver-side corpus for tests.  Distributed path: see
    ``operators.extract.corpus_df`` which maps the same function over
    ``spark.range``."""
    return [build_document(i) for i in range(n_docs)]
