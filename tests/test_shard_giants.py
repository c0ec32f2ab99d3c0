"""Giant-output sharding (round-7 verdict ask #1): the engine bounds
every output ROW so the measured ~250 MB/slot bucketed-write OOM
(BENCH_SCALING.md round 6) cannot recur at any slot size — and byte
identity survives the round trip through the documented reassembly
rule (core/shard.py)."""

from __future__ import annotations

import pytest

from exam_pdf_parser_spark.core.shard import (
    reassemble_rows, shard_count, shard_row,
)
from exam_pdf_parser_spark.operators.extract import corpus_df, extract
from exam_pdf_parser_spark.operators.extract_paged import (
    extract_auto, reassemble_sharded,
)

# --- pure shard rule ---------------------------------------------------------


def test_shard_decision_pinned():
    # the pinned decision: max of the two per-axis ceilings, floor 1
    assert shard_count(0, 0, 100, 10) == 1
    assert shard_count(100, 10, 100, 10) == 1      # exactly at threshold
    assert shard_count(101, 10, 100, 10) == 2      # one char over
    assert shard_count(100, 11, 100, 10) == 2      # one span over
    assert shard_count(1000, 5, 100, 10) == 10     # text-driven
    assert shard_count(5, 95, 100, 10) == 10       # span-driven
    assert shard_count(250, 45, 100, 10) == 5      # max(3, 5)


def _row(text, spans, status="ok", error=None):
    return {"url": "u", "extracted_text": text, "spans": spans,
            "status": status, "error": error}


def test_shard_row_roundtrip_and_bounds():
    spans = [{"region_idx": i} for i in range(37)]
    row = _row("x" * 1234, spans)
    shards = shard_row(row, shard_chars=100, shard_spans=10)
    assert len(shards) == 13                       # ceil(1234/100)
    assert [s["shard_idx"] for s in shards] == list(range(13))
    assert all(s["n_shards"] == 13 for s in shards)
    # every shard is inside the bounds — the whole point
    assert all(len(s["extracted_text"]) <= 100 for s in shards)
    assert all(len(s["spans"]) <= 10 for s in shards)
    # status/error identical on every shard
    assert all(s["status"] == "ok" and s["error"] is None for s in shards)
    back = reassemble_rows(shards)
    assert back == row


def test_error_and_small_rows_never_split():
    err = _row(None, [], status="error", error="Boom: x")
    assert shard_row(err, 10, 1) == [dict(err, shard_idx=0, n_shards=1)]
    small = _row("abc", [{"region_idx": 0}])
    assert shard_row(small, 100, 10) == [dict(small, shard_idx=0, n_shards=1)]
    assert reassemble_rows(shard_row(small, 100, 10)) == small


def test_reassemble_rejects_incomplete_shard_set():
    shards = shard_row(_row("x" * 50, []), 10, 10)
    assert len(shards) == 5
    with pytest.raises(ValueError, match="incomplete shard set"):
        reassemble_rows(shards[:-1])


def test_reassemble_rejects_duplicate_plus_missing_shard():
    """A duplicated shard masking a missing one (e.g. a double-read
    file) passes the count check — the idx-contiguity check must catch
    it instead of silently corrupting the reassembled text (r7 advice)."""
    shards = shard_row(_row("x" * 50, []), 10, 10)
    corrupt = shards[:-1] + [dict(shards[1])]   # two idx-1, no idx-4
    assert len(corrupt) == len(shards)
    with pytest.raises(ValueError, match="corrupt shard set"):
        reassemble_rows(corrupt)


# --- Spark round trip --------------------------------------------------------


def _giant_doc(n_pages: int = 300) -> tuple[str, bytes]:
    from exam_pdf_parser_spark.core.assemble import (
        decode_payload, encode_payload,
    )
    from exam_pdf_parser_spark.corpus.generator import build_document

    base = decode_payload(build_document(0)["html"])["pages"]
    pages = []
    while len(pages) < n_pages:
        for p in base:
            if len(pages) >= n_pages:
                break
            q = dict(p)
            q["page_idx"] = len(pages)
            pages.append(q)
    return "https://giant.example/doc", encode_payload(
        {"v": 1, "pages": pages})


SHARD_CHARS = 5_000
SHARD_SPANS = 40


@pytest.fixture(scope="module")
def sharded_run(spark):
    """One sharded extract_auto over ordinary + giant + corrupt docs,
    against the unsharded extract() reference."""
    url_g, html_g = _giant_doc()
    docs = corpus_df(spark, 8, partitions=2).select("url", "html")
    mixed = docs.unionByName(spark.createDataFrame(
        [(url_g, html_g), ("https://bad.example/x", b"garbage payload")],
        "url string, html binary")).persist()
    want = {r["url"]: r for r in extract(mixed).collect()}
    sharded = extract_auto(mixed, shard_chars=SHARD_CHARS,
                           shard_spans=SHARD_SPANS)
    rows = sharded.collect()
    back = {r["url"]: r for r in reassemble_sharded(
        spark.createDataFrame(rows, sharded.schema)).collect()}
    mixed.unpersist()
    return url_g, want, rows, back


def test_sharded_rows_bounded(sharded_run):
    url_g, want, rows, _ = sharded_run
    # the row-size guarantee holds on EVERY row
    for r in rows:
        if r["extracted_text"] is not None:
            assert len(r["extracted_text"]) <= SHARD_CHARS, r["url"]
        assert len(r["spans"]) <= SHARD_SPANS, r["url"]
    by_url: dict[str, list] = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    # the giant really sharded, with a complete contiguous shard set
    g = sorted(by_url[url_g], key=lambda r: r["shard_idx"])
    assert len(g) > 1
    assert [r["shard_idx"] for r in g] == list(range(g[0]["n_shards"]))
    # the corrupt doc stays one quarantined row
    bad = by_url["https://bad.example/x"]
    assert len(bad) == 1 and bad[0]["status"] == "error" \
        and bad[0]["n_shards"] == 1
    # ordinary docs shard too whenever their output exceeds the bound
    # (the zlib-bomb guard): verify per doc
    for url, w in want.items():
        n = max(1,
                -(-len(w["extracted_text"] or "") // SHARD_CHARS),
                -(-len(w["spans"]) // SHARD_SPANS))
        assert len(by_url[url]) == n, url


def test_sharded_reassembly_byte_identity(sharded_run):
    _, want, _, back = sharded_run
    assert set(back) == set(want)
    for url, w in want.items():
        b = back[url]
        assert b["extracted_text"] == w["extracted_text"], url
        assert [s.asDict() for s in b["spans"]] == \
               [s.asDict() for s in w["spans"]], url
        assert (b["status"], b["error"]) == (w["status"], w["error"]), url


def test_run_extraction_sharded_manifest(spark, tmp_path):
    """The durable pipeline with sharding on: manifest metrics stay
    per-DOCUMENT, resume stays a no-op, and the written (sharded)
    output reassembles byte-identically."""
    from pyspark.sql import functions as F

    from exam_pdf_parser_spark.sources.manifest import run_extraction

    url_g, html_g = _giant_doc()
    docs = corpus_df(spark, 6, partitions=2).select("url", "html")
    mixed = docs.unionByName(spark.createDataFrame(
        [(url_g, html_g), ("https://bad.example/x", b"garbage payload")],
        "url string, html binary")).persist()
    n_docs = mixed.count()
    want = {r["url"]: r for r in extract(mixed).collect()}

    out = str(tmp_path / "sharded_run")
    s1 = run_extraction(spark, mixed, out, "r1", n_buckets=8,
                        shard_chars=SHARD_CHARS)
    assert s1["buckets_processed"] == 8

    written = spark.read.parquet(f"{out}/extracted")
    assert written.count() > n_docs                # shards really wrote
    mdf = spark.read.parquet(f"{out}/manifest")
    agg = mdf.agg(F.sum("docs_in").alias("d"), F.sum("errors").alias("e"),
                  F.sum("rows_out").alias("r")).collect()[0]
    assert agg["d"] == n_docs                      # documents, not shards
    assert agg["e"] == 1                           # the corrupt doc once
    assert agg["r"] == sum(len(w["spans"]) for w in want.values())

    back = {r["url"]: r for r in reassemble_sharded(
        written.select("url", "extracted_text", "spans", "status",
                       "error", "shard_idx", "n_shards")).collect()}
    for url, w in want.items():
        assert back[url]["extracted_text"] == w["extracted_text"], url
        assert [s.asDict() for s in back[url]["spans"]] == \
               [s.asDict() for s in w["spans"]], url

    s2 = run_extraction(spark, mixed, out, "r2", n_buckets=8,
                        shard_chars=SHARD_CHARS)
    mixed.unpersist()
    assert s2["buckets_processed"] == 0            # resume no-op


def test_reassemble_tolerates_null_shard_coords(spark):
    """Rows read from a pre-shard directory under a sharded schema
    carry NULL shard coordinates — each such row IS the whole document
    and must pass through untouched.  In particular an error row's
    NULL text must not be coerced to "" by the concat path (round-7
    review fix: NULL coords coalesce to (0, 1))."""
    df = spark.createDataFrame(
        [("e", None, [], "error", "Boom: x", None, None),
         ("w", "whole doc", [(0,)], "ok", None, None, None),
         ("s", "ab", [(0,)], "ok", None, 0, 2),
         ("s", "cd", [(1,)], "ok", None, 1, 2)],
        "url string, extracted_text string, "
        "spans array<struct<region_idx:int>>, status string, "
        "error string, shard_idx int, n_shards int")
    back = {r["url"]: r for r in reassemble_sharded(df).collect()}
    assert back["e"]["extracted_text"] is None
    assert back["e"]["status"] == "error" and back["e"]["error"] == "Boom: x"
    assert back["w"]["extracted_text"] == "whole doc"
    assert [s["region_idx"] for s in back["w"]["spans"]] == [0]
    assert back["s"]["extracted_text"] == "abcd"
    assert [s["region_idx"] for s in back["s"]["spans"]] == [0, 1]


def test_reassemble_quarantines_corrupt_shard_sets(spark):
    """Round-8 review fix: the Spark reassembly side enforces the same
    shard-set rule as the oracle (core.shard.reassemble_rows): after
    the sort, shard_idx must be exactly 0..n_shards-1.  A missing
    shard, or a duplicated one masking a missing one (a double-read
    file), QUARANTINES the document — status error, NULL text, empty
    spans, the observed idx list named in the error — instead of
    silently emitting truncated or doubled text; intact documents in
    the same frame are untouched."""
    df = spark.createDataFrame(
        [("miss", "ab", [(0,)], "ok", None, 0, 3),
         ("miss", "ef", [(2,)], "ok", None, 2, 3),
         ("dup", "ab", [(0,)], "ok", None, 0, 2),
         ("dup", "ab", [(0,)], "ok", None, 0, 2),
         ("dupwhole", "w", [(0,)], "ok", None, 0, 1),
         ("dupwhole", "w", [(0,)], "ok", None, 0, 1),
         ("good", "ab", [(0,)], "ok", None, 0, 2),
         ("good", "cd", [(1,)], "ok", None, 1, 2),
         # NULL spans on a corrupt set: flatten() yields NULL, and
         # before the r9 fix F.slice(NULL, 1, 0) left spans NULL on
         # the quarantined row — size() would read -1, breaking the
         # docstring's empty-spans contract (r8 ADVICE)
         ("nullspans", "ab", None, "ok", None, 0, 3),
         ("nullspans", "ef", [(2,)], "ok", None, 2, 3)],
        "url string, extracted_text string, "
        "spans array<struct<region_idx:int>>, status string, "
        "error string, shard_idx int, n_shards int")
    back = {r["url"]: r for r in reassemble_sharded(df).collect()}
    assert back["good"]["extracted_text"] == "abcd"
    assert back["good"]["status"] == "ok" and back["good"]["error"] is None
    for url in ("miss", "dup", "dupwhole", "nullspans"):
        r = back[url]
        assert r["status"] == "error", url
        assert r["extracted_text"] is None, url
        assert list(r["spans"]) == [], url
        assert "corrupt shard set" in r["error"], url
    assert "[0,2] != 0..2" in back["miss"]["error"]
    assert "[0,0] != 0..1" in back["dup"]["error"]


def test_reassemble_quarantines_null_spans_in_valid_multi_shard_set(spark):
    """r10 (r8 ADVICE #4): the NULL-spans guard used to cover only the
    quarantine branch — a multi-shard set whose shard_idx list is
    EXACTLY 0..n-1 but with one NULL-spans part flattened to NULL
    spans on an ok-status row (size() reads -1).  The oracle twin
    raises on that input, so the Spark side now quarantines it; a
    SINGLE-shard row with NULL spans still passes through verbatim,
    matching the oracle's n==1 passthrough."""
    df = spark.createDataFrame(
        [("validnull", "ab", None, "ok", None, 0, 2),
         ("validnull", "cd", [(1,)], "ok", None, 1, 2),
         ("solo", "w", None, "ok", None, 0, 1),
         ("good", "ab", [(0,)], "ok", None, 0, 2),
         ("good", "cd", [(1,)], "ok", None, 1, 2)],
        "url string, extracted_text string, "
        "spans array<struct<region_idx:int>>, status string, "
        "error string, shard_idx int, n_shards int")
    back = {r["url"]: r for r in reassemble_sharded(df).collect()}
    r = back["validnull"]
    assert r["status"] == "error"
    assert r["extracted_text"] is None
    assert list(r["spans"]) == []
    assert "NULL spans in a multi-shard part" in r["error"]
    # n==1 passthrough parity with core.shard.reassemble_rows
    assert back["solo"]["status"] == "ok"
    assert back["solo"]["spans"] is None
    assert back["solo"]["extracted_text"] == "w"
    assert back["good"]["status"] == "ok"
    assert back["good"]["extracted_text"] == "abcd"
