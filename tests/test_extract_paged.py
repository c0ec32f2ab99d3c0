"""Paged (giant-doc skew) path: byte-identical to the whole-doc path,
with the expected single url shuffle."""

from __future__ import annotations

import pytest

from exam_pdf_parser_spark.operators.extract import corpus_df, extract
from exam_pdf_parser_spark.operators.extract_paged import (
    extract_paged, paged_corpus_df,
)

N_DOCS = 25


@pytest.fixture(scope="module")
def tables(spark):
    docs = corpus_df(spark, N_DOCS, partitions=3).persist()
    paged = paged_corpus_df(spark, N_DOCS, partitions=3).persist()
    yield docs, paged
    docs.unpersist()
    paged.unpersist()


def test_paged_equals_whole_doc_byte_for_byte(spark, tables):
    docs, paged = tables
    whole = {r["url"]: r for r in extract(docs).collect()}
    by_page = {r["url"]: r for r in extract_paged(paged).collect()}
    assert set(whole) == set(by_page)
    for url, w in whole.items():
        p = by_page[url]
        assert p["extracted_text"] == w["extracted_text"], url
        assert [s.asDict() for s in p["spans"]] == \
               [s.asDict() for s in w["spans"]], url
        assert p["status"] == w["status"] == "ok"


def test_paged_plan_has_single_url_shuffle(spark, tables):
    _, paged = tables
    plan = extract_paged(paged)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "FlatMapGroupsInPandas" in plan


def test_page_rows_outnumber_docs(spark, tables):
    docs, paged = tables
    # the paged table really is page-granular (parallelism units)
    assert paged.count() > docs.count() * 5


def _giant_doc(n_pages: int = 1000) -> tuple[str, bytes]:
    """A pathological document: one ordinary doc's pages tiled out to
    ``n_pages`` with reindexed page_idx (content sanity is irrelevant —
    byte-identity between the two paths is the contract)."""
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


def test_extract_auto_routes_and_matches_whole_doc(spark):
    from pyspark.sql import functions as F

    from exam_pdf_parser_spark.operators.extract_paged import (
        GIANT_BYTES, extract_auto,
    )

    url_g, html_g = _giant_doc()
    assert len(html_g) > GIANT_BYTES          # really routes
    docs = corpus_df(spark, 10, partitions=2).select("url", "html")
    mixed = docs.unionByName(
        spark.createDataFrame([(url_g, html_g), ("https://bad.example/x",
                                                 b"garbage payload")],
                              "url string, html binary")).persist()

    want = {r["url"]: r for r in extract(mixed).collect()}
    got = {r["url"]: r for r in extract_auto(mixed).collect()}
    mixed.unpersist()
    assert set(got) == set(want)
    for url, w in want.items():
        g = got[url]
        assert g["extracted_text"] == w["extracted_text"], url
        assert [s.asDict() for s in g["spans"]] == \
               [s.asDict() for s in w["spans"]], url
    # the giant doc decoded through the paged branch
    assert got[url_g]["status"] == "ok"
    assert len(got[url_g]["spans"]) > 0
    # corrupt payloads still quarantine (small branch)
    assert got["https://bad.example/x"]["status"] == "error"


def _routed_plan(spark, with_timing: bool = False) -> str:
    from exam_pdf_parser_spark.operators.extract_paged import extract_auto

    docs = corpus_df(spark, 5, partitions=2)
    plan = extract_auto(docs, with_timing=with_timing)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Union" in plan
    # giant branch present (url-regrouped applyInPandas)...
    assert "FlatMapGroupsInPandas" in plan
    # ...with exactly one shuffle, the url regroup; the ordinary
    # branch contributes none
    assert plan.count("Exchange hashpartitioning") == 1
    # single-scan routing: BOTH branches read the one cached router
    # output (InMemoryTableScan), never the source twice
    assert plan.count("InMemoryTableScan") == 2
    seg = plan.split("Union", 1)[1]          # Union's first child = small
    assert "Exchange" not in seg[:seg.index("InMemoryTableScan")]
    # the router already decoded the giants: no decode stage between
    # the url regroup and the cached router output
    giant = plan.split("FlatMapGroupsInPandas", 1)[1]
    assert "MapInPandas" not in giant[:giant.index("InMemoryTableScan")]
    return plan


def test_extract_auto_plan_shows_routed_union(spark):
    _routed_plan(spark)


def test_extract_auto_timed_plan_carries_proc_us_through_detect(spark):
    """A giant's router time rides through stage B: no per-url
    aggregate and no join back onto the detect output."""
    from exam_pdf_parser_spark.operators.extract_paged import (
        extract_auto, release_routed_cache,
    )

    plan = _routed_plan(spark, with_timing=True)
    assert "HashAggregate" not in plan
    assert "BroadcastHashJoin" not in plan
    # the time lands once per url: on shard 0, never on the others
    url_g, html_g = _giant_doc()
    giant = spark.createDataFrame([(url_g, html_g)], "url string, html binary")
    result = extract_auto(giant, with_timing=True, shard_chars=10_000)
    proc = {r["shard_idx"]: r["proc_us"] for r in result.collect()}
    release_routed_cache(result)
    assert len(proc) > 1 and proc[0] > 0
    assert all(us == 0 for i, us in proc.items() if i)


def test_extract_auto_cache_is_disk_only(spark):
    """Round-8 measured fix: the routed cache holds the ENTIRE
    extraction output — a memory-tier level competing with 32
    concurrent shuffle writers OOM'd an 8g heap at 240k docs while a
    disk-only cache ran green (BENCH_SCALING.md §soak-under-defaults).
    Pin the level so a convenience revert can't reintroduce the OOM."""
    from pyspark.storagelevel import StorageLevel

    from exam_pdf_parser_spark.operators.extract_paged import (
        extract_auto, release_routed_cache,
    )

    docs = corpus_df(spark, 3, partitions=1)
    result = extract_auto(docs)
    assert result._routed_cache.storageLevel == StorageLevel.DISK_ONLY
    release_routed_cache(result)


def test_extract_auto_reads_source_once(spark):
    """Round-4 ask: the router must scan the input a single time.  An
    accumulator on an instrumented SOURCE counts rows actually read:
    the old two-filter routing read every doc twice; the cached router
    output must read each exactly once."""
    import pandas as pd

    from exam_pdf_parser_spark.operators.extract_paged import (
        GIANT_BYTES, extract_auto,
    )

    url_g, html_g = _giant_doc()
    assert len(html_g) > GIANT_BYTES
    base = corpus_df(spark, 8, partitions=2).select("url", "html")
    mixed = base.unionByName(spark.createDataFrame(
        [(url_g, html_g)], "url string, html binary"))
    n_docs = mixed.count()

    acc = spark.sparkContext.accumulator(0)

    def counting_src(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    instrumented = mixed.mapInPandas(counting_src, mixed.schema)
    rows = extract_auto(instrumented).collect()
    assert len(rows) == n_docs
    assert acc.value == n_docs, (
        f"source read {acc.value} rows for {n_docs} docs — "
        "the routed scan is no longer single-pass")


def test_extract_auto_edge_payload_parity(spark):
    """Giant-side edge payloads keep full extract() parity: a decodable
    payload with ZERO pages yields the same empty-ok row, and a corrupt
    giant blob quarantines with the REAL exception message."""
    from exam_pdf_parser_spark.core.assemble import encode_payload
    from exam_pdf_parser_spark.operators.extract_paged import (
        GIANT_BYTES, extract_auto,
    )

    # pad the empty-pages payload past the giant threshold via an
    # incompressible junk field (contrived, but the invariant must hold)
    import hashlib
    junk = "".join(hashlib.md5(str(i).encode()).hexdigest()
                   for i in range(8000))
    empty_giant = encode_payload({"v": 1, "pages": [], "junk": junk})
    corrupt_giant = b"\xff" + bytes(range(256)) * 500
    assert len(empty_giant) > GIANT_BYTES
    assert len(corrupt_giant) > GIANT_BYTES
    docs = spark.createDataFrame(
        [("https://e.example/empty", empty_giant),
         ("https://e.example/corrupt", corrupt_giant)],
        "url string, html binary")

    want = {r["url"]: r for r in extract(docs).collect()}
    got = {r["url"]: r for r in extract_auto(docs).collect()}
    assert set(got) == set(want)
    e_w, e_g = want["https://e.example/empty"], got["https://e.example/empty"]
    assert (e_g["status"], e_g["extracted_text"], list(e_g["spans"])) == \
        (e_w["status"], e_w["extracted_text"], list(e_w["spans"]))
    c_w = want["https://e.example/corrupt"]
    c_g = got["https://e.example/corrupt"]
    assert c_g["status"] == c_w["status"] == "error"
    assert c_g["error"] == c_w["error"]        # real exception text
