"""Single-node oracles for the nine extraction-family driver queries.

The 41 relational queries are hash-gated against DuckDB; the ``x_*``
family was rows-only because DuckDB cannot decode layout payloads.
This module closes that gap: plain-Python producers of the SAME output
tables, hash-compared by ``scripts/crosscheck.py`` (artifact
``XCHECK_X.json``).  Reference anchor: the golden-style validation of
``/root/reference/scripts/validate.py:37-151`` made machine-checked and
corpus-wide.

What each side contributes to the check:
  * per-document stages reuse the shared ``core/`` functions verbatim
    (that IS the byte-identity contract), so the comparison verifies
    the Spark PLUMBING — Arrow batching, explode, quarantine, unions,
    joins, cogroups — not a second copy of the text logic;
  * the relational stages (validation rules, exam-info aggregation,
    the A/B compare join) are INDEPENDENTLY re-expressed here in plain
    Python from the rule semantics (reference citations in
    ``operators/validation.py``), so a wrong join/window/agg on the
    Spark side cannot self-confirm.

Every function takes corpus ``rows`` (dicts with url / html /
answer_md / text — the generator row shape) and returns a list of
plain dicts whose keys match the Spark query's columns exactly.
"""

from __future__ import annotations

import json
import re

from .answerkey import parse_answer_md
from .assemble import extract_document
from .detector import MAX_Q, MIN_Q
from .fields import (
    PASSAGE_TYPES, WRITTEN_TYPES, parse_exam_title, parse_question_fields,
)
from .oracle import oracle_spans_and_text
from .scoring import eval_questions, summarize
from .textfuncs import BLANK_CHARS, FOOT_MARKERS, NAV_SEP_MIN, similarity

LISTENING = "듣기"


def _parsed_by_url(rows: list[dict],
                   max_q: int = MAX_Q) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for row in rows:
        # whole-document quarantine, as in the Spark stage's row
        # emitter (operators.extract.map_rows): a document whose decode,
        # detect or title/field parse raises is dropped, so a parse bug
        # surfaces as a clean hash mismatch, not a crosscheck crash.
        try:
            _, regions = extract_document(row["html"], MIN_Q, max_q)
            title = parse_exam_title(regions)
            qs = []
            for q in parse_question_fields(regions):
                q = dict(q)
                q["exam_title"] = title
                qs.append(q)
        except Exception:
            continue
        if qs:
            out[row["url"]] = qs
    return out


def _key_by_url(rows: list[dict]) -> dict[str, list[dict]]:
    return {row["url"]: parse_answer_md(row["answer_md"]) for row in rows}


# --- x_extract_spans / x_extract_doc_stats -----------------------------------

def x_extract_spans(rows: list[dict]) -> list[dict]:
    spans, _ = oracle_spans_and_text(rows)
    return spans


def x_extract_doc_stats(rows: list[dict]) -> list[dict]:
    out = []
    for row in rows:
        try:
            text, regions = extract_document(row["html"])
        except Exception:
            out.append({"url": row["url"], "text_len": None,
                        "n_spans": 0, "status": "error"})
            continue
        out.append({"url": row["url"], "text_len": len(text),
                    "n_spans": len(regions), "status": "ok"})
    return out


# --- x_parsed_questions -------------------------------------------------------

def _choices_json(choices: list[dict]) -> str:
    """Match Spark's ``to_json(array<struct<number,text>>)`` byte for
    byte: compact separators, struct field order, raw UTF-8."""
    return json.dumps(
        [{"number": c["number"], "text": c["text"]} for c in choices],
        ensure_ascii=False, separators=(",", ":"))


def x_parsed_questions(rows: list[dict]) -> list[dict]:
    out = []
    for url, qs in _parsed_by_url(rows).items():
        for q in qs:
            out.append({
                "url": url, "number": q["number"],
                "question_text": q["question_text"],
                "question_type": q["question_type"],
                "passage": q["passage"],
                "choices_json": _choices_json(q["choices"]),
                "points": q["points"], "group_range": q["group_range"],
                "spans_page": q["spans_page"], "n_regions": q["n_regions"],
            })
    return out


# --- x_validation_issues: independent re-expression of the V-rules -----------

_GROUP_RE = re.compile(r"^\d+[~～]\d+$")


def _validate_url(url: str, qs: list[dict], key: list[dict]) -> list[dict]:
    issues: list[dict] = []

    def add(level, number, rule, message):
        issues.append({"url": url, "level": level,
                       "question_number": number, "rule": rule,
                       "message": message})

    # V1 missing/empty exam title — only for urls WITH parsed rows
    # (the Spark rule aggregates over the parsed table, so a url that
    # parsed nothing never reaches it)
    if qs:
        title = qs[0]["exam_title"]
        if title is None or title.strip() == "":
            add("warning", None, "V1", "exam title missing")

    numbers = [q["number"] for q in qs]
    seen = set(numbers)

    for q in qs:
        n = q["number"]
        if q["question_text"].strip() == "":
            add("error", n, "V3", "question_text is empty")
        if not 1 <= q["points"] <= 5:
            add("error", n, "V4", "points outside 1-5")
        elif q["points"] not in (2, 3):
            add("warning", n, "V4b", "unusual points value")
        qt = q["question_type"]
        if qt is None:
            add("warning", n, "V5", "question_type missing")
        ch = q["choices"]
        # NULL-type guards on V10/V13/V15b mirror Spark's NULL-
        # propagating comparisons (a NULL type never passes
        # `col != LISTENING`); PARSED_SCHEMA makes the type
        # non-nullable, so the branch is unreachable either way —
        # aligned so a future nullable source cannot split the gate
        if qt is not None and qt != LISTENING and len(ch) not in (0, 5):
            add("warning", n, "V10", "non-listening question without 5 choices")
        if ch and sorted(c["number"] for c in ch) != list(range(1, len(ch) + 1)):
            add("warning", n, "V11", "choice numbers not 1..n")
        if any(c["text"].strip() == "" for c in ch):
            add("error", n, "V12", "empty choice text")
        if (qt is not None and qt != LISTENING
                and qt not in WRITTEN_TYPES and n > 17 and not ch):
            add("warning", n, "V13", "question has no choices")
        if qt in PASSAGE_TYPES and q["passage"] is None:
            add("warning", n, "V14", "passage-required type missing passage")
        if qt == LISTENING and q["passage"] is not None:
            add("warning", n, "V15", "listening question has a passage")
        if 1 <= n <= 17 and qt is not None and qt != LISTENING:
            add("warning", n, "V15b", "position 1-17 not typed as listening")
        gr = q["group_range"]
        if gr is not None and not _GROUP_RE.match(gr):
            add("warning", n, "V16", "malformed group_range")
        if any(s.strip() == "" for s in q["sub_questions"]):
            add("warning", n, "V6", "empty sub_question entry")
        if any(v["word"].strip() == "" or v["meaning"].strip() == ""
               for v in q["vocabulary_notes"]):
            add("warning", n, "V6b", "empty vocabulary note")
        if ((q["has_image"] or q["has_table"])
                and q["image_description"] is None):
            add("warning", n, "V22", "figure/table without description")
        if q["passage"] is not None and len(q["passage"].strip()) < 20:
            add("warning", n, "V20", "passage shorter than 20 chars")
        if len(ch) > len({c["text"].strip() for c in ch}):
            add("warning", n, "V21", "duplicate choice texts")

    # V7 duplicate numbers
    counts: dict[int, int] = {}
    for n in numbers:
        counts[n] = counts.get(n, 0) + 1
    for n, c in counts.items():
        if c > 1:
            add("error", n, "V7", f"duplicate question number x{c}")

    # V8 missing numbers in [min, max]
    if numbers:
        for n in range(min(numbers), max(numbers) + 1):
            if n not in seen:
                add("error", n, "V8", "missing question number")

    # V17 group membership gaps — only for groups with ≥1 member in
    # range (matches the Spark inner join + between filter)
    for gr in sorted({q["group_range"] for q in qs
                      if q["group_range"] and _GROUP_RE.match(q["group_range"])}):
        m = re.match(r"(\d+)[~～](\d+)", gr)
        lo, hi = int(m.group(1)), int(m.group(2))
        present = {n for n in numbers if lo <= n <= hi}
        if not present:
            continue
        for n in range(lo, hi + 1):
            if n not in present:
                add("warning", n, "V17", f"group {gr} missing member")

    # V18 group-first without passage (first = lowest number per group)
    firsts: dict[str, dict] = {}
    for q in sorted(qs, key=lambda q: q["number"]):
        gr = q["group_range"]
        if gr is not None and gr not in firsts:
            firsts[gr] = q
    for gr, q in firsts.items():
        if q["passage"] is None:
            add("warning", q["number"], "V18",
                "group-first question has no passage")

    # V19 duplicate question_text, first-wins citation
    first_by_text: dict[str, int] = {}
    for q in sorted(qs, key=lambda q: q["number"]):
        t = q["question_text"].strip()
        if t == "":
            continue
        if t not in first_by_text:
            first_by_text[t] = q["number"]
    for q in qs:
        t = q["question_text"].strip()
        if t != "" and q["number"] != first_by_text[t]:
            add("warning", q["number"], "V19",
                f"question_text duplicates Q{first_by_text[t]}")

    # key-side rules
    if key:
        for e in key:
            if e["number"] not in seen:
                add("error", e["number"], "V23",
                    "in answer key but not parsed")
        expected, got = len(key), len(qs)
        if got != expected:
            add("warning", None, "V9",
                f"parsed {got} of expected {expected}")
        parsed_by_n = {q["number"]: q for q in qs}
        for e in key:
            p = parsed_by_n.get(e["number"])
            if p is None:
                continue
            k_n, p_n = len(e["choices"]), len(p["choices"])
            if k_n > 0 and k_n != p_n:
                add("warning", e["number"], "V24",
                    f"choice count {p_n} != key {k_n}")
    return issues


def x_validation_issues(rows: list[dict]) -> list[dict]:
    parsed = _parsed_by_url(rows)
    keys = _key_by_url(rows)
    out: list[dict] = []
    for url, qs in parsed.items():
        out.extend(_validate_url(url, qs, keys.get(url, [])))
    # urls with key rows but zero parsed rows still yield V23/V9
    for url, key in keys.items():
        if url not in parsed and key:
            out.extend(_validate_url(url, [], key))
    return out


# --- x_eval_scores ------------------------------------------------------------

def x_eval_scores(rows: list[dict]) -> list[dict]:
    parsed = _parsed_by_url(rows)
    keys = _key_by_url(rows)
    out = []
    for url in sorted(set(parsed) | set(keys)):
        qe = eval_questions(parsed.get(url, []), keys.get(url, []))
        out.append({"url": url, **summarize(qe)})
    return out


# --- x_boilerplate_strip ------------------------------------------------------

def _main_text(text: str) -> str:
    kept = []
    for line in text.split("\n"):
        if len(line.split("|")) > NAV_SEP_MIN:
            continue
        low = line.lower()
        if any(m in low for m in FOOT_MARKERS):
            continue
        if line.strip(BLANK_CHARS) == "":
            continue
        kept.append(line)
    return "\n".join(kept)


def x_boilerplate_strip(rows: list[dict]) -> list[dict]:
    out = []
    for row in rows:
        main = _main_text(row["text"])
        out.append({
            "url": row["url"], "raw_len": len(row["text"]),
            "main_len": len(main),
            "stripped_chars": len(row["text"]) - len(main),
        })
    return out


# --- x_exam_info ---------------------------------------------------------------

def x_exam_info(rows: list[dict]) -> list[dict]:
    out = []
    for url, qs in _parsed_by_url(rows).items():
        title = qs[0]["exam_title"]
        n_written = sum(1 for q in qs if q["question_type"] in WRITTEN_TYPES)
        t = (title or "").lower()
        workbook_kw = any(k in t for k in
                          ("final test", "chapter test", "워크북", "연습"))
        if "수능" in t or "대학수학능력" in t:
            exam_type = "수능"
        elif "모의" in t:
            exam_type = "모의고사"
        elif n_written > 0 or workbook_kw:
            exam_type = "워크북"
        else:
            exam_type = "기타"
        out.append({
            "url": url, "title": title,
            "total_questions": len(qs),
            "n_listening": sum(1 for q in qs
                               if q["question_type"] == LISTENING),
            "n_written": n_written,
            "first_number": min(q["number"] for q in qs),
            "last_number": max(q["number"] for q in qs),
            "n_three_point": sum(1 for q in qs if q["points"] == 3),
            "exam_type": exam_type,
        })
    return out


# --- x_crop_manifest ------------------------------------------------------------

def x_crop_manifest(rows: list[dict]) -> list[dict]:
    from .png import crop_document

    out = []
    for row in rows:
        # whole-document quarantine, as in _parsed_by_url
        try:
            crops = crop_document(row["html"])
        except Exception:
            continue
        out.extend({
            "url": row["url"], "question_number": qn, "page_idx": page,
            "file_name": name, "x0": x0, "y0": y0, "x1": x1, "y1": y1,
            "png_bytes": len(png),
        } for qn, page, name, x0, y0, x1, y1, png in crops)
    return out


# --- x_compare_configs -----------------------------------------------------------

def x_compare_configs(rows: list[dict]) -> list[dict]:
    a = _parsed_by_url(rows, max_q=50)
    b = _parsed_by_url(rows, max_q=20)
    a_by = {(url, q["number"]): q for url, qs in a.items() for q in qs}
    b_by = {(url, q["number"]): q for url, qs in b.items() for q in qs}
    out = []
    for url, number in sorted(set(a_by) | set(b_by)):
        qa, qb = a_by.get((url, number)), b_by.get((url, number))
        out.append({
            "url": url, "number": number,
            "in_a": qa is not None, "in_b": qb is not None,
            "qtext_sim": similarity(
                qa["question_text"] if qa else "",
                qb["question_text"] if qb else ""),
            "passage_sim": similarity(
                (qa["passage"] if qa else None) or "",
                (qb["passage"] if qb else None) or ""),
            "points_delta": (qa["points"] if qa else 0)
            - (qb["points"] if qb else 0),
            "choices_delta": len(qa["choices"] if qa else [])
            - len(qb["choices"] if qb else []),
        })
    return out


X_ORACLES = {
    "x_extract_spans": x_extract_spans,
    "x_extract_doc_stats": x_extract_doc_stats,
    "x_parsed_questions": x_parsed_questions,
    "x_validation_issues": x_validation_issues,
    "x_eval_scores": x_eval_scores,
    "x_boilerplate_strip": x_boilerplate_strip,
    "x_exam_info": x_exam_info,
    "x_crop_manifest": x_crop_manifest,
    "x_compare_configs": x_compare_configs,
}


# --- DuckDB-gradable oracle tables (round-6 verdict ask #3) -------------------

def build_xoracle_tables(sf_dir: str) -> dict[str, list[dict]]:
    """Materialize this oracle's tables for the four promotable x_*
    queries, so the driver's DuckDB gate can grade them instead of
    recording ``no_oracle``:

    * ``parsed_a`` / ``parsed_b`` — the parse outputs (max_q 50 / 20)
      reduced to the relational columns; DuckDB RECOMPUTES
      ``x_exam_info`` (group/agg/CASE) and ``x_compare_configs``'s
      full-outer join + presence flags + deltas from these.
    * ``compare_sims`` — the per-(url, number) SequenceMatcher
      similarities, which SQL cannot express; served to the compare
      join as a precomputed column pair.
    * ``eval_scores`` / ``validation_issues`` — final outputs, served
      as-is: the score rollup's float accumulation order is pinned to
      Python's (see core/scoring.py summarize), and the validation
      kernel is 24 rule functions, not a relational plan — SQL
      re-derivation would either diverge bit-wise or re-implement the
      rules a third time.
    * ``extract_docs`` (round-7 promotion) — the doc-level
      (url, text_len, status) table; DuckDB RECOMPUTES
      ``x_extract_doc_stats``'s per-url span count via group-by +
      zero-preserving left join against ``extract_spans``.
    * ``parsed_questions`` (round-7 promotion) — the full
      ``x_parsed_questions`` projection, served as-is: every column is
      the parse kernel's direct output (layout decode → region scan →
      field regexes), nothing relational to recompute.
    * ``extract_spans`` / ``crop_manifest`` / ``boilerplate``
      (round-8 promotion: the last three ``no_oracle`` rows) — the
      span table and crop manifest are the layout-decode kernels'
      direct output (nothing relational to recompute; served as-is,
      same policy as ``parsed_questions``; ``extract_spans`` also
      replaces the narrower ``span_urls`` as the doc-stats recompute
      input).  ``boilerplate`` serves (url, raw_len, main_len) and
      DuckDB recomputes the ``stripped_chars`` delta.

    Row order is deterministic (sorted keys) so the committed parquet
    is byte-stable under regeneration.
    """
    import pyarrow.parquet as pq

    from ..corpus.generator import build_document

    ids = sorted(
        pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
        .column("doc_id").to_pylist())
    rows = [build_document(int(i)) for i in ids]

    def parsed_tbl(parsed: dict[str, list[dict]]) -> list[dict]:
        out = []
        for url in sorted(parsed):
            for q in parsed[url]:
                out.append({
                    "url": url, "number": q["number"],
                    "exam_title": q["exam_title"],
                    "question_type": q["question_type"],
                    "points": q["points"],
                    "n_choices": len(q["choices"]),
                })
        return out

    compare = x_compare_configs(rows)
    doc_stats = x_extract_doc_stats(rows)
    return {
        "parsed_a": parsed_tbl(_parsed_by_url(rows, max_q=50)),
        "parsed_b": parsed_tbl(_parsed_by_url(rows, max_q=20)),
        "compare_sims": [
            {"url": r["url"], "number": r["number"],
             "qtext_sim": r["qtext_sim"], "passage_sim": r["passage_sim"]}
            for r in compare],
        "eval_scores": x_eval_scores(rows),
        "validation_issues": x_validation_issues(rows),
        "extract_docs": [
            {"url": r["url"], "text_len": r["text_len"],
             "status": r["status"]} for r in doc_stats],
        "parsed_questions": x_parsed_questions(rows),
        "extract_spans": x_extract_spans(rows),
        "crop_manifest": x_crop_manifest(rows),
        "boilerplate": [
            {"url": r["url"], "raw_len": r["raw_len"],
             "main_len": r["main_len"]}
            for r in x_boilerplate_strip(rows)],
    }
