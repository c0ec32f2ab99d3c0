"""Byte-identity gate: Spark extraction == single-node oracle, per url
(north rule; BASELINE.json per-row invariant).
"""

from __future__ import annotations

import pandas as pd
import pytest

from exam_pdf_parser_spark.core.oracle import oracle_spans_and_text
from exam_pdf_parser_spark.corpus.generator import generate_rows
from exam_pdf_parser_spark.operators.extract import (
    DOCUMENTS_SCHEMA, corpus_df, extract, extracted_table, spans_table,
)

N_DOCS = 40


@pytest.fixture(scope="module")
def corpus_rows():
    return generate_rows(N_DOCS)


@pytest.fixture(scope="module")
def documents(spark, corpus_rows):
    cols = [f.name for f in DOCUMENTS_SCHEMA.fields]
    data = [tuple(r[c] for c in cols) for r in corpus_rows]
    return spark.createDataFrame(data, DOCUMENTS_SCHEMA)


def _sorted_spans(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    return (
        df[cols]
        .sort_values(["url", "question_number", "region_idx"])
        .reset_index(drop=True)
    )


def test_spark_spans_byte_identical_to_oracle(spark, documents, corpus_rows):
    gold_spans, _ = oracle_spans_and_text(corpus_rows)
    got = spans_table(extract(documents)).toPandas()
    want = pd.DataFrame(gold_spans)
    # the oracle rows name the span columns; Spark must carry each one
    cols = list(gold_spans[0])
    got, want = _sorted_spans(got, cols), _sorted_spans(want, cols)
    # exact comparison — doubles are integer-valued by construction,
    # strings must match byte-for-byte
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_spark_extracted_text_byte_identical(spark, documents, corpus_rows):
    _, gold_text = oracle_spans_and_text(corpus_rows)
    got = dict(
        extracted_table(extract(documents)).toPandas()
        .itertuples(index=False, name=None)
    )
    assert len(got) == N_DOCS
    for row in gold_text:
        assert got[row["url"]] == row["extracted_text"], row["url"]


def test_distributed_corpus_matches_driver_generator(spark, corpus_rows):
    df = corpus_df(spark, N_DOCS, partitions=4).toPandas()
    assert len(df) == N_DOCS
    by_url = {r["url"]: r for r in corpus_rows}
    for rec in df.to_dict("records"):
        want = by_url[rec["url"]]
        assert bytes(rec["html"]) == want["html"]
        assert rec["text"] == want["text"]
        assert rec["lang"] == want["lang"]
        assert rec["warc_ts"] == want["warc_ts"]


def test_extract_plan_has_no_shuffle(spark, documents):
    # The extraction core must be shuffle-free (scales linearly).
    plan = extract(documents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_corrupt_payload_quarantined_not_fatal(spark, documents):
    # A garbage html blob must not fail the job (web-scale invariant):
    # it lands in the quarantine table with an error message.
    import datetime

    from exam_pdf_parser_spark.operators.extract import quarantine_table

    bad = spark.createDataFrame(
        [("https://x.example/bad", datetime.datetime(2025, 1, 1),
          b"\x00garbage", "t", "ko")],
        DOCUMENTS_SCHEMA,
    )
    out = extract(documents.unionAll(bad))
    q = quarantine_table(out).collect()
    assert len(q) == 1 and q[0]["url"] == "https://x.example/bad"
    assert "payload" in q[0]["error"] or "Error" in q[0]["error"]
    assert extracted_table(out).count() == N_DOCS


def test_all_corrupt_partition_survives(spark):
    # a partition where EVERY payload is garbage must not break Arrow
    # conversion (empty pandas frames infer float64 for list<struct>)
    import datetime

    from exam_pdf_parser_spark.operators.parsed import parse_documents

    bad = spark.createDataFrame(
        [(f"https://x.example/bad{i}", datetime.datetime(2025, 1, 1),
          b"\x00junk", "t", "ko") for i in range(5)],
        DOCUMENTS_SCHEMA,
    ).repartition(3)
    out = extract(bad)
    assert out.count() == 5
    assert out.filter("status = 'error'").count() == 5
    assert parse_documents(bad).count() == 0


def test_adversarial_payloads_always_quarantine(spark):
    """Fuzz the quarantine contract: truncations, bit flips, foreign
    bytes, wrong-shape JSON — every row comes back with status ok or
    error, one row per input, never a task failure."""
    import json
    import random
    import zlib

    from exam_pdf_parser_spark.core.assemble import encode_payload
    from exam_pdf_parser_spark.corpus.generator import build_document
    from exam_pdf_parser_spark.operators.extract import (
        DOCUMENTS_SCHEMA, extract,
    )

    valid = build_document(0)["html"]
    rng = random.Random(99)
    payloads: list[bytes] = [
        b"", b"garbage", b"\x00" * 64,
        valid[: len(valid) // 2],          # truncated mid-stream
        valid[:-1], valid[:5],
        zlib.compress(b"not json at all"),
        zlib.compress(json.dumps({"v": 1}).encode()),          # no pages
        zlib.compress(json.dumps({"v": 1, "pages": 3}).encode()),
        zlib.compress(json.dumps(
            {"v": 1, "pages": [{"blocks": "nope"}]}).encode()),
        encode_payload({"v": 1, "pages": []}),                 # empty doc
        valid,                                                 # control
    ]
    for _ in range(10):                    # random single-byte flips
        b = bytearray(valid)
        b[rng.randrange(len(b))] ^= 0xFF
        payloads.append(bytes(b))

    import datetime
    rows = [(f"u://{i}", datetime.datetime(2025, 1, 1), p, "t", "ko")
            for i, p in enumerate(payloads)]
    out = extract(spark.createDataFrame(rows, DOCUMENTS_SCHEMA)).collect()
    assert len(out) == len(payloads)       # nothing dropped, no crash
    by_url = {r["url"]: r for r in out}
    for r in out:
        assert r["status"] in ("ok", "error")
        if r["status"] == "error":
            assert r["error"]
    assert by_url[f"u://{len(payloads) - 11}"]["status"] == "ok"  # control
