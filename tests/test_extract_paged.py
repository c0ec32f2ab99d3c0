"""``extract_auto``: every document, giant or not, extracted in place
by the one zero-shuffle ``mapInArrow`` pass, byte-identical to
``extract()``."""

from __future__ import annotations

from exam_pdf_parser_spark.operators.extract import corpus_df, extract


def _giant_doc(n_pages: int = 1000) -> tuple[str, bytes]:
    """A pathological document: one ordinary doc's pages tiled out to
    ``n_pages`` with reindexed page_idx (content sanity is irrelevant —
    byte identity with ``extract()`` is the contract)."""
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
    from exam_pdf_parser_spark.core.shard import DEFAULT_SHARD_CHARS
    from exam_pdf_parser_spark.operators.extract_paged import extract_auto

    url_g, html_g = _giant_doc()
    docs = corpus_df(spark, 10, partitions=2).select("url", "html")
    mixed = docs.unionByName(
        spark.createDataFrame([(url_g, html_g), ("https://bad.example/x",
                                                 b"garbage payload")],
                              "url string, html binary")).persist()

    want = {r["url"]: r for r in extract(mixed).collect()}
    # at run_extraction's default threshold every doc here is one shard
    got = {r["url"]: r for r in
           extract_auto(mixed, shard_chars=DEFAULT_SHARD_CHARS).collect()}
    mixed.unpersist()
    assert set(got) == set(want)
    for url, w in want.items():
        g = got[url]
        assert g["extracted_text"] == w["extracted_text"], url
        assert [s.asDict() for s in g["spans"]] == \
               [s.asDict() for s in w["spans"]], url
    # the giant doc extracted in place
    assert got[url_g]["status"] == "ok"
    assert len(got[url_g]["spans"]) > 0
    # corrupt payloads still quarantine
    assert got["https://bad.example/x"]["status"] == "error"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_auto_plan_is_one_map_in_arrow(spark):
    """The pass ``run_extraction`` writes is one source scan into one
    ``mapInArrow``: no exchange, no cache, no union, no pandas stage,
    timed or not, sharded or not."""
    from exam_pdf_parser_spark.core.shard import DEFAULT_SHARD_CHARS
    from exam_pdf_parser_spark.operators.extract_paged import extract_auto

    # a local-rows source, so a pandas stage in the plan can only be
    # the extraction's own (corpus_df generates through mapInPandas)
    rows = corpus_df(spark, 5, partitions=2).select("url", "html").collect()
    docs = spark.createDataFrame(rows, "url string, html binary")
    for with_timing in (False, True):
        for shard_chars in (None, DEFAULT_SHARD_CHARS):
            plan = _plan(extract_auto(docs, with_timing=with_timing,
                                      shard_chars=shard_chars))
            assert plan.count("MapInArrow") == 1, plan
            for node in ("Exchange", "InMemoryTableScan", "Union",
                         "MapInPandas", "FlatMapGroupsInPandas"):
                assert node not in plan, (with_timing, node, plan)


def test_run_extraction_write_plan_has_one_bucket_exchange(
        spark, tmp_path, monkeypatch):
    """``run_extraction``'s write is scan → ``mapInArrow`` extraction →
    ONE exchange, keyed by bucket → ``mapInArrow`` file writer, whose
    rows the driver collects."""
    from exam_pdf_parser_spark.sources.manifest import run_extraction

    docs = corpus_df(spark, 6, partitions=2)
    frame = type(docs)
    written = []
    collect = frame.collect

    def recording(self):
        written.append(_plan(self))
        return collect(self)

    monkeypatch.setattr(frame, "collect", recording)
    run_extraction(spark, docs, str(tmp_path / "run"), "plan", n_buckets=4)
    assert len(written) == 1
    plan = written[0]
    assert plan.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning(bucket#" in plan, plan
    assert plan.count("MapInArrow") == 2, plan
    for node in ("InMemoryTableScan", "Union", "FlatMapGroupsInPandas"):
        assert node not in plan, (node, plan)


def test_extract_auto_timed_plan_carries_proc_us_through_detect(spark):
    """A giant's time rides through the one detect pass: no per-url
    aggregate and no join back onto the detect output, and it lands
    once per url: on shard 0, never on the others."""
    from exam_pdf_parser_spark.operators.extract_paged import extract_auto

    docs = corpus_df(spark, 3, partitions=1)
    plan = _plan(extract_auto(docs, with_timing=True))
    assert "HashAggregate" not in plan
    assert "BroadcastHashJoin" not in plan
    url_g, html_g = _giant_doc()
    giant = spark.createDataFrame([(url_g, html_g)], "url string, html binary")
    result = extract_auto(giant, with_timing=True, shard_chars=10_000)
    assert result.columns[-3:] == ["shard_idx", "n_shards", "proc_us"]
    proc = {r["shard_idx"]: r["proc_us"] for r in result.collect()}
    assert len(proc) > 1 and proc[0] > 0
    assert all(us == 0 for i, us in proc.items() if i)


def test_extract_auto_reads_source_once(spark):
    """``extract_auto`` must scan the input a single time, giant
    included.  An accumulator on an instrumented SOURCE counts rows
    actually read."""
    from exam_pdf_parser_spark.operators.extract_paged import extract_auto

    url_g, html_g = _giant_doc()
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
        "the scan is no longer single-pass")


def test_extract_auto_edge_payload_parity(spark):
    """Large edge payloads keep full extract() parity, sharded: a
    decodable payload with ZERO pages yields the same empty-ok row, and
    a corrupt large blob quarantines with the REAL exception message,
    each as one unsplit shard."""
    from exam_pdf_parser_spark.core.assemble import encode_payload
    from exam_pdf_parser_spark.operators.extract_paged import extract_auto

    # an empty-pages payload padded to >100 KB with an incompressible
    # junk field (contrived, but the invariant must hold)
    import hashlib
    junk = "".join(hashlib.md5(str(i).encode()).hexdigest()
                   for i in range(8000))
    empty_giant = encode_payload({"v": 1, "pages": [], "junk": junk})
    corrupt_giant = b"\xff" + bytes(range(256)) * 500
    assert min(len(empty_giant), len(corrupt_giant)) > 100_000
    docs = spark.createDataFrame(
        [("https://e.example/empty", empty_giant),
         ("https://e.example/corrupt", corrupt_giant)],
        "url string, html binary")

    want = {r["url"]: r for r in extract(docs).collect()}
    got = {r["url"]: r for r in
           extract_auto(docs, shard_chars=10_000).collect()}
    assert set(got) == set(want)
    assert all((g["shard_idx"], g["n_shards"]) == (0, 1)
               for g in got.values())
    e_w, e_g = want["https://e.example/empty"], got["https://e.example/empty"]
    assert (e_g["status"], e_g["extracted_text"], list(e_g["spans"])) == \
        (e_w["status"], e_w["extracted_text"], list(e_w["spans"]))
    c_w = want["https://e.example/corrupt"]
    c_g = got["https://e.example/corrupt"]
    assert c_g["status"] == c_w["status"] == "error"
    assert c_g["error"] == c_w["error"]        # real exception text
