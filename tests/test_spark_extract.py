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
    # a partition where EVERY payload is garbage must not break the
    # row emitter: parse_documents has no output rows in any batch
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
    """Hostile-input sweep over every per-document stage: truncations,
    bit flips, foreign bytes and wrong-shape JSON behind a valid XLAY1
    header.  ``extract`` returns one row per input, status ok or error;
    ``parse_documents`` and ``crop_regions`` keep the control row's
    output, drop the bad rows and match their single-node oracles
    (``core/oracle_x``) row for row; ``answer_key_table`` survives
    NULL, empty and garbage keys.  No stage may fail the job."""
    import datetime
    import random

    from exam_pdf_parser_spark.core.assemble import encode_payload
    from exam_pdf_parser_spark.core.oracle_x import (
        x_crop_manifest, x_parsed_questions,
    )
    from exam_pdf_parser_spark.corpus.generator import build_document
    from exam_pdf_parser_spark.core.answerkey import parse_answer_md
    from exam_pdf_parser_spark.operators.crop import crop_regions
    from exam_pdf_parser_spark.operators.parsed import (
        answer_key_table, parse_documents,
    )

    control = build_document(0)
    valid = control["html"]
    rng = random.Random(99)
    payloads: list[bytes] = [
        valid,                                                 # control
        b"", b"garbage", b"\x00" * 64,
        valid[: len(valid) // 2],          # truncated mid-stream
        valid[:-1], valid[:5],
        b"XLAY1" + b"not zlib",
        encode_payload({"v": 1}),                              # no pages
        encode_payload({"v": 1, "pages": 3}),
        encode_payload({"v": 1, "pages": [{"blocks": "nope"}]}),
        encode_payload({"pages": [{"blocks": 5}]}),
        encode_payload({"pages": ["x"]}),
        encode_payload({"pages": [{"blocks": [{"lines": 5}]}]}),
        encode_payload({"v": 1, "pages": []}),                 # empty doc
    ]
    for _ in range(10):                    # random single-byte flips
        b = bytearray(valid)
        b[rng.randrange(len(b))] ^= 0xFF
        payloads.append(bytes(b))
    ctl = "u://0"
    rows = [{"url": f"u://{i}", "html": p} for i, p in enumerate(payloads)]
    docs = spark.createDataFrame(
        [(r["url"], datetime.datetime(2025, 1, 1), r["html"], "t", "ko")
         for r in rows], DOCUMENTS_SCHEMA)

    out = extract(docs).collect()
    assert len(out) == len(payloads)       # nothing dropped, no crash
    by_url = {r["url"]: r for r in out}
    for r in out:
        assert r["status"] in ("ok", "error")
        if r["status"] == "error":
            assert r["error"]
    assert by_url[ctl]["status"] == "ok"

    # parse: every field the x_parsed_questions oracle carries except
    # the choices JSON, whose text Spark's to_json renders
    keys = ("url", "number", "question_text", "question_type", "passage",
            "points", "group_range", "spans_page", "n_regions")
    parsed = sorted(tuple(r[k] for k in keys)
                    for r in parse_documents(docs).collect())
    assert parsed == sorted(tuple(r[k] for k in keys)
                            for r in x_parsed_questions(rows))
    assert ctl in {p[0] for p in parsed}

    crops = sorted(
        (r["url"], r["question_number"], r["page_idx"], r["file_name"],
         r["x0"], r["y0"], r["x1"], r["y1"], len(r["png"]))
        for r in crop_regions(docs).collect())
    assert crops == sorted(tuple(r.values()) for r in x_crop_manifest(rows))
    assert ctl in {c[0] for c in crops}

    keys_in = [(ctl, control["answer_md"]), ("k://null", None),
               ("k://empty", ""), ("k://junk", "\x00### 문제 x\n답: ⑥⑥")]
    key = answer_key_table(spark.createDataFrame(
        keys_in, "url string, answer_md string")).collect()
    assert {r["url"] for r in key} == {ctl}
    assert len(key) == len(parse_answer_md(control["answer_md"]))
