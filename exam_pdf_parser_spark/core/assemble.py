"""Payload decode and extracted-text assembly.

The corpus ``html`` BINARY column carries a zlib-compressed JSON layout
(the Common-Crawl-page stand-in; reference analogue: raw PDF bytes fed
to the layout engine, src/ocr/mineru_ocr.py:105,146).  Decoding it is
stage A of the pipeline (SURVEY.md §7.0) and happens only inside Arrow
batches — never on the driver for real data.

Shared verbatim by the oracle and the Spark UDFs (byte identity).
"""

from __future__ import annotations

import json
import zlib

try:  # r10: orjson parses the layout JSON ~6x faster than stdlib and
    # accepts utf-8 bytes directly (no intermediate .decode()).  Both
    # parsers produce identical dict/str/int/float values for the
    # XLAY1 payload domain (floats are correctly rounded in both) —
    # pinned by test_decode_payload_parser_equivalence; stdlib is the
    # fallback so the module has no hard third-party dependency.
    # orjson is STRICTER than stdlib (it rejects NaN/Infinity literals
    # and >64-bit ints that json.dumps happily emits), so anything it
    # refuses retries on the stdlib parser — the accepted-payload set
    # and every parsed value are therefore identical whether or not
    # orjson is installed (a heterogeneous cluster cannot diverge).
    import orjson as _orjson

    def _json_loads(raw: bytes):
        try:
            return _orjson.loads(raw)
        except Exception:
            return json.loads(raw)
except ImportError:  # pragma: no cover
    _json_loads = json.loads

from .detector import MAX_Q, MIN_Q, Region, detect_regions, page_columns
from .textfuncs import block_text, page_framed_text

PAYLOAD_MAGIC = b"XLAY1"


def encode_payload(doc: dict) -> bytes:
    """Serialize a layout document to the ``html`` binary column."""
    raw = json.dumps(
        doc, ensure_ascii=False, separators=(",", ":"), sort_keys=True
    ).encode("utf-8")
    return PAYLOAD_MAGIC + zlib.compress(raw, 6)


def decode_payload(html: bytes) -> dict:
    """Payload → layout dict.  Two wire formats: the XLAY1 container
    (zlib JSON) and REAL PDF bytes (``%PDF-``), parsed by the stdlib
    PDF reader (``core/pdf.py``) into the same ``pages`` shape — the
    whole pipeline (extract/parse/validate/crop) runs on either.
    Raises on anything else (quarantine upstream)."""
    if html[:5] == b"%PDF-":
        from .pdf import parse_pdf_pages
        return {"v": 1, "pages": parse_pdf_pages(html)}
    if html[: len(PAYLOAD_MAGIC)] != PAYLOAD_MAGIC:
        raise ValueError("not an XLAY1 or PDF payload")
    return _json_loads(zlib.decompress(html[len(PAYLOAD_MAGIC):]))


def page_reading_order(page: dict) -> list[dict]:
    """Blocks of one page in reading order: columns left→right, y-sorted.

    Parity: reading-order semantics of src/cropper/detector.py:107-116
    (column split + per-column y sort, columns processed left first).
    """
    ordered: list[dict] = []
    for col in page_columns(page):
        ordered.extend(col)
    return ordered


# (split_columns itself stays the public splitting primitive in
# core.detector; page_columns caches its result per page dict so the
# assembly and the detector scan share one split — r10.)


def assemble_text(pages: list[dict]) -> str:
    """Byte-identity target #1: page-delimited reading-order text.

    ``--- Page i ---`` framing per src/ocr/base.py:70-79; within a page
    non-empty block texts join with newlines.
    """
    page_texts = []
    for page in pages:
        texts = [
            t for b in page_reading_order(page)
            if (t := (b["_txt"] if "_txt" in b
                      else block_text(b.get("lines", []))))
        ]
        page_texts.append("\n".join(texts))
    return page_framed_text(page_texts)


def annotate_block_texts(pages: list[dict]) -> None:
    """Compute each block's joined text once and cache it on the block
    (``_txt``) — both the reading-order assembly and the detector scan
    consume it, halving the span-join work per document.

    Both caches are assigned UNCONDITIONALLY here, which is also the
    injection guard: a decoded payload that happens to carry ``_txt``
    or ``_cols`` keys of its own gets them overwritten before any
    consumer reads them (review r10 — ``page_columns``'s lazy fallback
    alone would have trusted a payload-supplied ``_cols``)."""
    for page in pages:
        for b in page.get("blocks", []):
            b["_txt"] = block_text(b.get("lines", []))
        page["_cols"] = None
        page_columns(page)


def extract_document(
    html: bytes, min_q: int = MIN_Q, max_q: int = MAX_Q
) -> tuple[str, list[Region]]:
    """Decode one document and run the full deterministic extraction.

    Returns ``(extracted_text, regions)``.  This is THE per-document
    unit of work — called once per row inside the Spark ``mapInArrow``
    stages (``operators.extract.map_rows``) and once per row by the
    single-node oracle.
    """
    pages = decode_payload(html).get("pages", [])
    annotate_block_texts(pages)
    return assemble_text(pages), detect_regions(pages, min_q, max_q)
