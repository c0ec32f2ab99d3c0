"""Static golden-file guard: the live oracle must reproduce the
checked-in goldens byte-for-byte.  Combined with the Spark==oracle
tests this transitively pins Spark output to the committed goldens
(the reference-style golden strategy, scripts/validate.py:37-151)."""

from __future__ import annotations

import json

from exam_pdf_parser_spark.core.assemble import extract_document
from exam_pdf_parser_spark.core.fields import parse_question_fields
from exam_pdf_parser_spark.core.oracle import oracle_spans_and_text
from exam_pdf_parser_spark.corpus.generator import generate_rows
from exam_pdf_parser_spark.sources.report import dump_golden_json, load_golden_json

N = 20


def _canon(obj) -> str:
    return json.dumps(obj, ensure_ascii=False, sort_keys=True)


def test_oracle_matches_committed_goldens(tmp_path):
    rows = generate_rows(N)
    spans, extracted = oracle_spans_and_text(rows)
    parsed = []
    for r in rows:
        _, regions = extract_document(r["html"])
        for p in parse_question_fields(regions):
            parsed.append({"url": r["url"], **p})

    assert _canon(spans) == _canon(load_golden_json("tests/goldens/spans_20.json"))
    assert _canon(extracted) == _canon(
        load_golden_json("tests/goldens/extracted_20.json"))
    assert _canon(parsed) == _canon(load_golden_json("tests/goldens/parsed_20.json"))

    # byte-stability of the golden writer itself (S8)
    p = str(tmp_path / "re.json")
    dump_golden_json(spans, p)
    assert open(p, "rb").read() == open("tests/goldens/spans_20.json", "rb").read()


def test_oracle_sql_text_independent_of_hash_seed():
    """The driver fingerprints the TEXT of every ``oracle_sql()`` entry,
    so no entry may depend on set/dict iteration order: render all 50
    in two interpreters with different ``PYTHONHASHSEED``s and require
    identical md5s."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import hashlib, json, __spark_entry__ as e\n"
        "o = e.oracle_sql()\n"
        "print(json.dumps({k: hashlib.md5(v.encode()).hexdigest()"
        " for k, v in o.items()}, sort_keys=True))\n")

    def render(seed: str) -> dict:
        env = {**os.environ, "PYTHONHASHSEED": seed}
        out = subprocess.run([sys.executable, "-c", code], cwd=root,
                             env=env, capture_output=True, text=True,
                             check=True).stdout
        return json.loads(out.strip().splitlines()[-1])

    first, second = render("1"), render("2")
    assert len(first) == 50
    assert first == second, sorted(
        k for k in first if first[k] != second.get(k))
