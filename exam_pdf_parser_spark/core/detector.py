"""Question-region detection over a decoded page/block layout.

Single source of truth for the stateful per-document scan (SURVEY.md
§2.5 W1-W6).  This module is pure Python over plain dicts/tuples and is
executed in BOTH places:

  * the single-node oracle (``core.oracle``) — golden producer, and
  * inside the Spark ``mapInArrow`` extraction stage
    (``operators.extract``) — one call per document row, batched by
    Arrow; documents are independent so parallelism is across rows.

Semantics replicate the reference detector exactly (byte-identity
contract).  Parity citations into /root/reference:
  - column split (x-cut)          src/cropper/detector.py:79-116
  - per-column stateful scan      src/cropper/detector.py:118-207
  - cross-page carry-over         src/cropper/detector.py:48,59-69,173-188
  - duplicate / digit-split repair src/cropper/detector.py:250-320
  - cross-page spans flag         src/cropper/detector.py:330-344
  - union bbox                    src/cropper/detector.py:322-328
  - final ordering                src/cropper/detector.py:74

The output row shape is the ``spans`` table of FIXTURES.md §3, plus a
``region_idx`` emission-order tiebreaker so downstream sorts are total
(SURVEY.md §7.3.2: the reference leans on Python's stable sort; we pin
an explicit key).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .textfuncs import block_text, detect_question_start, is_section_header

DEFAULT_PAGE_SIZE = (842.0, 1191.0)  # src/cropper/detector.py:54-55
PREVIEW_LEN = 80                     # src/cropper/detector.py:170
CONTINUATION_PREVIEW = "(continuation from previous page)"  # :180
# question-number bounds: every caller detects from MIN_Q; only the
# compare-configs run lowers the upper bound
MIN_Q = 1
MAX_Q = 50
# a layout block whose entire text is a "+N" point marker
# (src/evaluator.py:134-145 — the reference's line-final +N strip)
_PLUS_BLOCK_RE = re.compile(r"^\+(\d+)$")


@dataclass(slots=True)  # r10: ~14k Region creations per 400 docs —
# slots cut the per-instance dict allocation and speed field access;
# all consumers use the declared fields only
class Region:
    question_number: int
    page_idx: int
    x0: float
    y0: float
    x1: float
    y1: float
    text_preview: str
    spans_page: bool = False
    group_range: str | None = None
    region_idx: int = field(default=-1)
    # full accumulated region text (preview's untruncated source);
    # consumed by the field-extraction stage, not part of the span table
    full_text: str = ""
    # text of pre-question pool blocks merged into this region's bbox by
    # the "generous crop" branch — semantically belongs to the previous
    # question in reading order (field stage reattributes it)
    pre_text: str = ""
    # non-text block presence inside the region (drives has_image /
    # has_table in the parsed table; reference flags at
    # src/schema.py:83-84, checked by V22 src/validator.py:478-498)
    has_image: bool = False
    has_table: bool = False
    # geometry of each figure/table block inside the region, in scan
    # order: (kind, page_idx, w, h) with integer dims — the
    # deterministic source for image_description (reference field
    # src/schema.py:87-88; the reference fills it via LLM, the north
    # rule derives it from layout geometry).  Zero-area figures are
    # known-present but undescribable → V22 fires.
    figures: list = field(default_factory=list)
    # values of standalone "+N" point-marker blocks inside the region
    # (src/evaluator.py:134-145 strips them line-final from the
    # passage; our layout analogue is "the whole block is the
    # marker").  Captured here instead of entering full_text so a
    # legitimate mid-prose "+N" in passage prose is never deleted.
    plus_markers: list = field(default_factory=list)
    # marker blocks swallowed from the pre-question pool — reattributed
    # to the PREVIOUS question by the field stage, like pre_text
    pre_plus: list = field(default_factory=list)


def _union(bboxes: list[list[float]]) -> tuple[float, float, float, float]:
    # src/cropper/detector.py:322-328.  One manual pass instead of four
    # min/max generator expressions — this ran 14k times per 400 docs
    # and the generator overhead was ~11% of the whole kernel (r10
    # profile); the arithmetic is unchanged.
    b = bboxes[0]
    x0, y0, x1, y1 = b[0], b[1], b[2], b[3]
    for b in bboxes:
        if b[0] < x0:
            x0 = b[0]
        if b[1] < y0:
            y0 = b[1]
        if b[2] > x1:
            x1 = b[2]
        if b[3] > y1:
            y1 = b[3]
    return (x0, y0, x1, y1)


def _bbox_y0(b: dict) -> float:
    return b["bbox"][1]


def page_columns(page: dict) -> list[list[dict]]:
    """Column split of one page, cached on the page dict (``_cols``):
    both the reading-order assembly (``core.assemble``) and
    :func:`detect_regions` consume the same split, so the split + two
    y-sorts run once per page instead of twice per document — same
    trick as the ``_txt`` block-text cache (r10)."""
    cols = page.get("_cols")
    if cols is None:
        size = page.get("page_size") or list(DEFAULT_PAGE_SIZE)
        width = size[0] if isinstance(size, list) else DEFAULT_PAGE_SIZE[0]
        cols = split_columns(page.get("blocks", []), width)
        page["_cols"] = cols
    return cols


def split_columns(blocks: list[dict], page_width: float) -> list[list[dict]]:
    """x-cut: classify by bbox center vs page midline, y-sort each side.

    Parity: src/cropper/detector.py:79-116.  Blocks lacking a bbox are
    dropped here (P1).  Python's sort is stable, so equal ``y0`` keeps
    input (emission) order — the reference relies on the same property.
    """
    if not blocks:
        return []
    # compare center*2 vs width instead of center vs width/2 — same
    # IEEE comparison scaled by an exact power of two, one division
    # less per block (r10; classification is bit-identical)
    left: list[dict] = []
    right: list[dict] = []
    for b in blocks:
        bbox = b.get("bbox")
        if bbox is None:
            continue
        (left if bbox[0] + bbox[2] <= page_width else right).append(b)
    left.sort(key=_bbox_y0)
    right.sort(key=_bbox_y0)
    cols = [c for c in (left, right) if c]
    return cols if cols else [[]]


def scan_column(
    blocks: list[dict],
    page_idx: int,
    carry_q: int | None,
    min_q: int,
    max_q: int,
) -> list[Region]:
    """Stateful reading-order scan of one column (W1).

    Parity: src/cropper/detector.py:118-207.
      * blank-text blocks extend the open region, else pool (P2);
      * section headers set a flag and are skipped (P3);
      * pre-question pool → carry-over continuation region when no
        header intervened and ``carry_q`` is set, else merged into the
        first question (generous crop);
      * region text accumulates with single spaces; preview is the
        first 80 chars.
    """
    out: list[Region] = []
    cur_num: int | None = None
    cur_group: str | None = None
    cur_boxes: list[list[float]] = []
    cur_text = ""
    cur_pre = ""
    cur_img = cur_tbl = False
    cur_figs: list = []
    cur_plus: list[int] = []
    cur_pre_plus: list[int] = []
    pool: list[list[float]] = []
    pool_texts: list[str] = []
    pool_img = pool_tbl = False
    pool_figs: list = []
    pool_plus: list[int] = []
    saw_header = False

    def fig_of(btype: str, bbox: list[float]) -> tuple:
        return (btype, page_idx,
                round(bbox[2] - bbox[0]), round(bbox[3] - bbox[1]))

    def emit_current() -> None:
        bb = _union(cur_boxes)
        out.append(Region(cur_num, page_idx, *bb, cur_text[:PREVIEW_LEN],
                          group_range=cur_group, full_text=cur_text,
                          pre_text=cur_pre, has_image=cur_img,
                          has_table=cur_tbl, figures=cur_figs,
                          plus_markers=cur_plus, pre_plus=cur_pre_plus))

    for b in blocks:
        bbox = b.get("bbox")
        if bbox is None:
            continue
        text = b["_txt"] if "_txt" in b else block_text(b.get("lines", []))
        st = text.strip()
        if not st:
            btype = b.get("type", "text")
            if cur_num is not None:
                cur_boxes.append(bbox)
                cur_img = cur_img or btype == "image"
                cur_tbl = cur_tbl or btype == "table"
                if btype in ("image", "table"):
                    cur_figs.append(fig_of(btype, bbox))
            else:
                pool.append(bbox)
                pool_img = pool_img or btype == "image"
                pool_tbl = pool_tbl or btype == "table"
                if btype in ("image", "table"):
                    pool_figs.append(fig_of(btype, bbox))
            continue
        # first-char dispatch over the three matchers (pure speedup,
        # same contract as detect_question_start's internal gate,
        # pinned by test_scan_gate_covers_matcher_prefixes): a section
        # header starts with '[' (after strip), a plus-marker block
        # with '+', a question start with '[', '【' or a decimal
        # digit — each matcher runs only for its possible prefixes,
        # any other first char skips straight to the body-text branch.
        c = st[0]
        if c == "[":
            if is_section_header(st):
                saw_header = True
                continue
            pm = None
            gated = True
        elif c == "+":
            pm = _PLUS_BLOCK_RE.match(st)
            gated = False          # '+' can never open a question start
        else:
            pm = None
            gated = c == "【" or c.isdecimal()
        if pm is not None:
            # standalone "+N" point-marker block (the layout analogue
            # of the reference's line-final +N, src/evaluator.py:134):
            # bbox stays part of the region; the text never enters
            # full_text, so prose "+N" elsewhere is left untouched
            val = int(pm.group(1))
            if cur_num is not None:
                cur_boxes.append(bbox)
                cur_plus.append(val)
            else:
                pool.append(bbox)
                pool_plus.append(val)
            continue
        q_num, group_range = (
            detect_question_start(st, min_q, max_q) if gated
            else (None, None))
        if q_num is not None and q_num != cur_num:
            if cur_num is not None:
                emit_current()
            cur_num = q_num
            cur_group = group_range
            cur_pre = ""
            cur_img = cur_tbl = False
            cur_figs = []
            cur_plus = []
            cur_pre_plus = []
            if pool:
                if not saw_header and carry_q is not None:
                    bb = _union(pool)
                    out.append(Region(carry_q, page_idx, *bb,
                                      CONTINUATION_PREVIEW, spans_page=True,
                                      full_text=" ".join(pool_texts),
                                      has_image=pool_img,
                                      has_table=pool_tbl,
                                      figures=pool_figs,
                                      plus_markers=pool_plus))
                    cur_boxes = [bbox]
                else:
                    cur_boxes = pool + [bbox]
                    cur_pre = " ".join(pool_texts)
                    cur_img, cur_tbl = pool_img, pool_tbl
                    cur_figs = pool_figs
                    cur_pre_plus = pool_plus
                pool = []
                pool_texts = []
                pool_img = pool_tbl = False
                pool_figs = []
                pool_plus = []
            else:
                cur_boxes = [bbox]
            cur_text = text
        elif cur_num is not None:
            cur_boxes.append(bbox)
            cur_text += " " + text
            btype = b.get("type", "text")
            if btype == "image" or btype == "table":
                cur_img = cur_img or btype == "image"
                cur_tbl = cur_tbl or btype == "table"
                cur_figs.append(fig_of(btype, bbox))
        else:
            pool.append(bbox)
            pool_texts.append(text)
            btype = b.get("type", "text")
            if btype == "image" or btype == "table":
                pool_img = pool_img or btype == "image"
                pool_tbl = pool_tbl or btype == "table"
                pool_figs.append(fig_of(btype, bbox))

    if cur_num is not None:
        emit_current()
    return out


def repair_duplicates(regions: list[Region], max_q: int) -> list[Region]:
    """Digit-split repair (W5).

    Parity: src/cropper/detector.py:250-320.  A duplicate number whose
    instance falls outside its page's neighbor envelope (non-duplicate
    neighbors ±3) is remapped to the first free candidate in
    ``[min(neighbors)-2, max(neighbors)+2]`` sharing its last digit.
    """
    counts: dict[int, int] = {}
    for r in regions:
        counts[r.question_number] = counts.get(r.question_number, 0) + 1
    duplicates = {n for n, c in counts.items() if c > 1}
    if not duplicates:
        return regions

    # A duplicate-numbered region's neighbor set is the sorted
    # NON-duplicate numbers on its page; the original "rr is not r"
    # exclusion can never remove anything (r's own number is a
    # duplicate, neighbors are non-duplicates), so one per-page list
    # serves every duplicate on that page.  Precomputing it makes the
    # pass O(n log n) — the n² rescan-per-duplicate made a 50k-page
    # all-duplicates document (the tiled giant-doc stress shape) run
    # for hours in ONE task.
    neighbors_by_page: dict[int, list[int]] = {}
    for rr in regions:
        if rr.question_number not in duplicates:
            neighbors_by_page.setdefault(
                rr.page_idx, []).append(rr.question_number)
    for ns in neighbors_by_page.values():
        ns.sort()

    all_nums = {r.question_number for r in regions}
    fixed: list[Region] = []
    for r in regions:
        if r.question_number not in duplicates:
            fixed.append(r)
            continue
        neighbors = neighbors_by_page.get(r.page_idx, [])
        if not neighbors:
            fixed.append(r)
            continue
        if neighbors[0] - 3 <= r.question_number <= neighbors[-1] + 3:
            fixed.append(r)
            continue
        lo = max(1, neighbors[0] - 2)
        hi = min(max_q, neighbors[-1] + 2)
        for candidate in range(lo, hi + 1):
            if candidate not in all_nums and candidate % 10 == r.question_number % 10:
                fixed.append(Region(
                    candidate, r.page_idx, r.x0, r.y0, r.x1, r.y1,
                    r.text_preview, spans_page=r.spans_page,
                    group_range=r.group_range, full_text=r.full_text,
                    pre_text=r.pre_text, has_image=r.has_image,
                    has_table=r.has_table, figures=r.figures,
                    plus_markers=r.plus_markers, pre_plus=r.pre_plus,
                ))
                all_nums.add(candidate)
                break
        else:
            fixed.append(r)
    return fixed


def detect_regions(
    pages: list[dict], min_q: int = 1, max_q: int = 50
) -> list[Region]:
    """Full per-document detection: W1-W6 + final deterministic order.

    ``pages`` is the decoded payload: a list of
    ``{"page_idx", "page_size", "blocks"}`` dicts (corpus format,
    mirrors MinerU ``pdf_info`` consumed at src/cropper/detector.py:50-57).

    Final order: ``(question_number, emission_idx)`` — equivalent to the
    reference's stable sort by number (src/cropper/detector.py:74) with
    the tiebreaker made explicit.
    """
    regions: list[Region] = []
    prev_page_last_q: int | None = None

    for page in pages:
        page_idx = page.get("page_idx", 0)

        page_regions: list[Region] = []
        for i, col in enumerate(page_columns(page)):
            carry = prev_page_last_q if i == 0 else None
            page_regions.extend(scan_column(col, page_idx, carry, min_q, max_q))
        regions.extend(page_regions)
        if page_regions:
            prev_page_last_q = max(r.question_number for r in page_regions)

    regions = repair_duplicates(regions, max_q)

    # spans_page flag (W6): any number appearing more than once keeps
    # every instance flagged; single instances keep their own flag.
    counts: dict[int, int] = {}
    for r in regions:
        counts[r.question_number] = counts.get(r.question_number, 0) + 1
    for r in regions:
        if counts[r.question_number] > 1:
            r.spans_page = True

    for i, r in enumerate(regions):
        r.region_idx = i
    regions.sort(key=lambda r: (r.question_number, r.region_idx))
    return regions
