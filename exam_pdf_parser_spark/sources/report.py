"""Report/golden sinks (S8, S10).

S8 golden JSON: canonical writer matching the reference's
``json.dump(..., ensure_ascii=False, indent=2)``
(scripts/batch_parser.py:81) with sorted keys pinned — goldens must be
byte-stable across runs (SURVEY.md §4 item 3: no wall-clock in
outputs).

S10 markdown summary: driver-side formatting of small collected
aggregates (scripts/full_flow.py:92-142) — explicitly NOT a
distributed op; inputs must already be aggregated.
"""

from __future__ import annotations

import json


def dump_golden_json(rows: list[dict], path: str) -> None:
    """Byte-stable golden writer (S8)."""
    with open(path, "w", encoding="utf-8") as f:
        json.dump(rows, f, ensure_ascii=False, indent=2, sort_keys=True)
        f.write("\n")


def load_golden_json(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def markdown_summary(title: str, score_rows: list[dict]) -> str:
    """S10: human summary from COLLECTED per-url score rows (small)."""
    lines = [f"# {title}", ""]
    if not score_rows:
        return "\n".join(lines + ["(no results)"])
    cols = ["url", "total_expected", "total_found", "coverage_pct",
            "avg_passage_sim", "avg_choice_acc", "avg_qtext_sim",
            "overall_score"]
    lines.append("| " + " | ".join(cols) + " |")
    lines.append("|" + "---|" * len(cols))
    for r in sorted(score_rows, key=lambda r: r["url"]):
        lines.append("| " + " | ".join(str(r[c]) for c in cols) + " |")
    n = len(score_rows)
    avg = sum(r["overall_score"] for r in score_rows) / n
    lines += ["", f"**{n} documents, mean overall score {avg:.4f}**"]
    return "\n".join(lines)
