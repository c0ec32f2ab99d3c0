"""Single-node oracle: the golden producer for byte-identity tests.

Runs the SAME shared functions (``core.assemble`` / ``core.detector`` /
``core.textfuncs``) over corpus rows in plain Python — no Spark — and
emits the ``spans`` and ``extracted`` golden rows (FIXTURES.md §3-§4).
pytest asserts Spark output == oracle output byte-for-byte per url
(north rule; reference test style: scripts/validate.py golden checks,
test_crop.py:17-62 45/45 region assertion).
"""

from __future__ import annotations

from .assemble import extract_document
from .detector import MAX_Q, MIN_Q

def oracle_spans_and_text(rows: list[dict]) -> tuple[list[dict], list[dict]]:
    """Return ``(span_rows, extracted_rows)`` for corpus rows.

    Deterministic given the rows; row order: input order, regions in
    final detector order (question_number, region_idx).
    """
    span_rows: list[dict] = []
    extracted_rows: list[dict] = []
    for row in rows:
        text, regions = extract_document(row["html"], MIN_Q, MAX_Q)
        extracted_rows.append({"url": row["url"], "extracted_text": text})
        for r in regions:
            span_rows.append({
                "url": row["url"],
                "question_number": r.question_number,
                "page_idx": r.page_idx,
                "x0": r.x0, "y0": r.y0, "x1": r.x1, "y1": r.y1,
                "text_preview": r.text_preview,
                "spans_page": r.spans_page,
                "group_range": r.group_range,
                "region_idx": r.region_idx,
            })
    return span_rows, extracted_rows
