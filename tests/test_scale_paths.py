"""Scale-path mechanics: bucketed co-located joins, binaryFile
ingestion, streaming extraction, hot-key join guards — each asserting the property that matters at 100 TB,
not just that code runs."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from exam_pdf_parser_spark.operators.extract import (
    corpus_df, extract, spans_table,
)


def test_bucketed_join_has_no_exchange(spark):
    """Iceberg-style bucketing stand-in: two tables bucketed by url
    join WITHOUT a shuffle (SortMergeJoin over pre-bucketed scans)."""
    docs = corpus_df(spark, 40, partitions=4)
    ext = extract(docs)
    try:
        (docs.select("url", "lang").write.mode("overwrite")
         .bucketBy(8, "url").sortBy("url").saveAsTable("docs_b"))
        (spans_table(ext).write.mode("overwrite")
         .bucketBy(8, "url").sortBy("url").saveAsTable("spans_b"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("spans_b").join(spark.table("docs_b"), "url")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS docs_b")
        spark.sql("DROP TABLE IF EXISTS spans_b")


def test_binaryfile_ingestion_path(spark, tmp_path):
    """S5: raw-file ingestion via the binaryFile source with a glob
    filter — the WARC-dump-on-disk entry point."""
    from exam_pdf_parser_spark.corpus.generator import generate_rows

    rows = generate_rows(6)
    d = str(tmp_path / "raw")
    os.makedirs(d)
    for i, r in enumerate(rows):
        with open(f"{d}/doc{i:04d}.xlay", "wb") as f:
            f.write(r["html"])
        with open(f"{d}/ignore{i}.txt", "w") as f:
            f.write("junk")

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.xlay")
        .load(d)
        .select(F.col("path").alias("url"), F.col("content").alias("html"))
    )
    assert raw.count() == 6
    out = extract(raw)
    assert out.filter("status = 'ok'").count() == 6
    # same spans as the table path, modulo url naming
    n_spans = spans_table(out).count()
    from exam_pdf_parser_spark.core.oracle import oracle_spans_and_text

    gold_spans, _ = oracle_spans_and_text(rows)
    assert n_spans == len(gold_spans)


def test_streaming_extraction(spark, tmp_path):
    """The extraction core runs unchanged on a file stream (stateless
    mapInPandas is streaming-compatible) — ingest-as-it-lands mode."""
    src = str(tmp_path / "stream_src")
    corpus_df(spark, 12, partitions=3).write.mode("overwrite").parquet(src)

    from exam_pdf_parser_spark.operators.extract import DOCUMENTS_SCHEMA

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = extract(stream).select("url", "status", F.size("spans").alias("n"))
    q = (
        out.writeStream.format("memory").queryName("stream_extract")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from stream_extract").collect()
    assert len(rows) == 12
    assert all(r["status"] == "ok" and r["n"] > 0 for r in rows)
    q.stop()


def test_minhash_band_cap_drops_no_pairs(spark):
    """Round-4 hardening: a duplicate-heavy corpus puts many docs in
    one band bucket; the shared block-grid guard must change only
    task placement — the verified pair set is identical to the
    unguarded band join."""
    from exam_pdf_parser_spark.operators.dedupe import (
        _words, lsh_pairs_from_tokens,
    )
    from pyspark.sql import functions as F

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    # 40 exact copies (one hot band key per band) + distinct noise docs
    rows = [(i, base) for i in range(40)] + [
        (100 + i, f"unique text body number {i} with words w{i} v{i}")
        for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    t = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_words(F.col("text")))).alias("token"))

    capped = {(r["doc_a"], r["doc_b"]) for r in
              lsh_pairs_from_tokens(t, band_cap=8).collect()}
    uncapped = {(r["doc_a"], r["doc_b"]) for r in
                lsh_pairs_from_tokens(t, band_cap=None).collect()}
    assert len(uncapped) >= 40 * 39 // 2    # the dup family is complete
    assert capped == uncapped


def test_block_grid_exchanges_resist_aqe_coalescing(spark):
    """The guard's whole point dies if AQE fuses the tiny-input grid
    join back into one partition (measured WORSE than unguarded in
    BENCH_SCALING.md) — both grid sides must shuffle with the
    numbered-repartition origin, which AQE never coalesces."""
    from exam_pdf_parser_spark.operators.dedupe import block_grid_self_join

    sigs = spark.createDataFrame(
        [(i, 0, i % 3) for i in range(50)],
        "doc_id: long, table: int, bucket: long")
    plan = block_grid_self_join(
        sigs, "doc_id", ["table", "bucket"], "a", "b", 5,
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("REPARTITION_BY_NUM") == 2
    assert "REPARTITION_BY_COL" not in plan


def test_block_grid_skipped_when_no_key_can_be_hot(spark):
    """At ``n_rows <= cap`` no key can occur more than ``cap`` times,
    so the guard's grid would be one (0, 0) block repeating the plain
    join: the plan carries no numbered repartition, and the pairs
    equal the unguarded join's."""
    from exam_pdf_parser_spark.operators.dedupe import block_grid_self_join

    sigs = spark.createDataFrame(
        [(i, 0, i % 3) for i in range(50)],
        "doc_id: long, table: int, bucket: long")

    def pairs(df):
        return {(r["a"], r["b"]) for r in df.collect()}

    uncapped = pairs(block_grid_self_join(
        sigs, "doc_id", ["table", "bucket"], "a", "b", None))
    assert len(uncapped) == 136 + 136 + 120    # keys of 17, 17, 16 ids
    for cap in (50, 500):                  # n_rows == cap, n_rows < cap
        shortcut = block_grid_self_join(
            sigs, "doc_id", ["table", "bucket"], "a", "b", cap)
        plan = shortcut._jdf.queryExecution().executedPlan().toString()
        assert "REPARTITION_BY_NUM" not in plan
        assert pairs(shortcut) == uncapped


def test_simhash_chunk_cap_drops_no_pairs(spark):
    """Same guard, SimHash path: identical docs share every chunk key;
    capped and uncapped pigeonhole joins must emit the same pairs."""
    from exam_pdf_parser_spark.operators.dedupe import (
        simhash_pairs_from_hashes,
    )

    # 30 identical hashes (hot every chunk) + distinct tails
    rows = [(i, 0x5A5A5A5A) for i in range(30)] + [
        (100 + i, 0x5A5A5A5A ^ (1 << (i % 32)) ^ (0xFF << (i % 8)))
        for i in range(20)]
    sh = spark.createDataFrame(rows, "doc_id: long, simhash: long")
    capped = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in
              simhash_pairs_from_hashes(sh, chunk_cap=8).collect()}
    uncapped = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in
                simhash_pairs_from_hashes(sh, chunk_cap=None).collect()}
    assert len(uncapped) >= 30 * 29 // 2
    assert capped == uncapped


def test_exact_tier_guard_raises_on_unbounded_input(spark):
    """The all-pairs demo tiers must fail loudly (naming their bucketed
    scale twin) instead of launching a quadratic join on a large
    input."""
    import pytest

    from exam_pdf_parser_spark.operators.dedupe import assert_exact_tier

    big = spark.range(25_000)
    with pytest.raises(ValueError, match="lsh_pairs_from_tokens"):
        assert_exact_tier(big, 20_000, "dedupe.lsh_pairs_from_tokens")
    small = spark.range(10)
    assert assert_exact_tier(small, 20_000, "unused") is small
