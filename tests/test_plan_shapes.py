"""Physical-plan shape assertions: the optimizations we claim must be
visible in `.explain` output (pushed filters, broadcasts, codegen,
no stray shuffles) — guarding against plan regressions."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pair_scope_filter_pushed_to_scan(spark):
    from exam_pdf_parser_spark.operators.dedupe import jaccard_pairs

    plan = _plan(jaccard_pairs(spark, SF))
    assert "PushedFilters" in plan
    assert "LessThan(doc_id," in plan.replace(" ", "").replace(
        "LessThan(doc_id,", "LessThan(doc_id,")  # pushed predicate present
    assert "IsNotNull(doc_id)" in plan or "LessThan" in plan


def test_dim_joins_are_broadcast(spark):
    from exam_pdf_parser_spark.plans.relational import revenue_by_nation

    plan = _plan(revenue_by_nation(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_column_pruning_reaches_scan(spark):
    from exam_pdf_parser_spark.plans.relational import top10_orders

    plan = _plan(top10_orders(spark, SF))
    # only the two needed columns are read
    assert "ReadSchema" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in read and "o_totalprice" in read
    assert "o_custkey" not in read and "o_orderdate" not in read


def test_textstats_whole_stage_codegen(spark):
    from exam_pdf_parser_spark.operators.textstats import doc_token_stats

    plan = _plan(doc_token_stats(spark, SF))
    # JVM-side expressions only — no Python evaluation nodes
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    # reads exactly the needed columns
    assert "struct<doc_id:bigint,text:string>" in plan.replace(" ", "")


def test_extraction_reads_only_url_and_html(spark):
    from exam_pdf_parser_spark.operators.extract import (
        DOCUMENTS_SCHEMA, extract,
    )

    docs = spark.createDataFrame([], DOCUMENTS_SCHEMA)
    plan = _plan(extract(docs))
    assert "Exchange" not in plan          # zero-shuffle core
    # r10: the emitter builds Arrow record batches directly
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan


def test_simhash_pairs_banded_not_all_pairs(spark):
    # pigeonhole banding replaced the O(n²) theta join: candidates come
    # from a (chunk_idx, chunk_val) equi-join, never a nested loop
    from exam_pdf_parser_spark.operators.dedupe import simhash_near_pairs

    plan = _plan(simhash_near_pairs(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_band_join_carries_ids_only(spark):
    # the band self-join must shuffle (doc_id, band_idx, band_key)
    # only — token sets join back onto the small candidate-pair set,
    # never ride through the band explode
    from exam_pdf_parser_spark.operators.dedupe import minhash_lsh_pairs

    plan = _plan(minhash_lsh_pairs(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        assert not ("band_idx" in line and "toks" in line), line


def test_ann_topk_streams_corpus_once(spark):
    # r10: scoring moved from a BNLJ + Catalyst higher-order dot
    # products into one numpy GEMM per Arrow batch (guide §4.2) with a
    # per-task top-k prune — the corpus streams through Python exactly
    # once and the only exchange is the final ranking window's
    from exam_pdf_parser_spark.operators.similarity import ann_topk_dot

    plan = _plan(ann_topk_dot(spark, SF))
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_eval_single_shuffle_per_cogroup(spark):
    # evaluation co-locates by url: exactly the planned shuffles, no more
    from exam_pdf_parser_spark.operators.evaluation import evaluate_questions
    from exam_pdf_parser_spark.operators.parsed import (
        ANSWER_KEY_SCHEMA, PARSED_SCHEMA,
    )

    p = spark.createDataFrame([], PARSED_SCHEMA)
    k = spark.createDataFrame([], ANSWER_KEY_SCHEMA)
    plan = _plan(evaluate_questions(p, k))
    assert plan.count("Exchange hashpartitioning") == 2  # one per side
    assert "FlatMapCoGroupsInPandas" in plan


# --- round-7 ask #4: pinned per-query plan snapshots -------------------------

# The documented quadratic exact tiers (hard-capped by assert_exact_tier
# with a named scale twin) are the ONLY places a nested-loop join may
# appear; everything else must stay hash/sort-merge/broadcast-hash.
# (r10: ann_topk_dot left the list — its scoring is now a streamed
# numpy GEMM, no join at all.)
BNLJ_ALLOWED = {"embedding_near_dups"}

# Headline-query plan pins at sf0.001 under the session config
# (local[4], shuffle_partitions=4, AQE initial plan):
# (data shuffles, broadcast exchanges, BHJ, SMJ, BNLJ).  These encode
# the scale-safe shapes audited by hand each round — ids-only band
# joins, no-BNLJ pigeonhole, fixed-dim broadcasts, the zero-exchange
# extraction core.  A Spark upgrade or config change that silently
# degrades a plan (e.g. a broadcast flipping to SMJ, a new shuffle in
# the extraction path) fails HERE instead of surfacing as a bench
# mystery two rounds later.  If a change is INTENTIONAL, re-pin and
# say so in the commit message.
HEADLINE_PLAN_PINS = {
    # one shuffle: the groupBy(returnflag, linestatus) agg
    "pricing_summary": (1, 0, 0, 0, 0),
    # dims broadcast (region/nation force-bcast + customer picked by
    # the planner at this sf); r10: lineitem pre-aggregates revenue
    # per order before any join (guide §2.3), so the shuffles are the
    # per-order agg, the per-customer agg, and the final nation agg —
    # each carrying (key, integer-cent sum) instead of wide fact rows
    "revenue_by_nation": (3, 3, 3, 0, 0),
    # part dim broadcast; shuffles: agg + rank window
    "top_parts_by_brand": (2, 1, 1, 0, 0),
    # one shuffle: the per-entity window (carry-forward scan)
    "events_carry_forward": (1, 0, 0, 0, 0),
    # pure narrow column ops — zero exchanges end to end
    "doc_token_stats": (0, 0, 0, 0, 0),
    "doc_quality": (0, 0, 0, 0, 0),
    # one shuffle: groupBy(md5) — the hash carries (doc_id, md5) only
    "exact_dup_assignment": (1, 0, 0, 0, 0),
    # banded ids-only self-join + candidate-restricted token aggs;
    # r10: the cand_ids distinct exchange is gone (the semi join's
    # hash build dedups anyway) and the pair set broadcasts into the
    # verification joins below PAIR_BROADCAST_MAX_ROWS, so the token
    # sets never reshuffle after their aggregation — 8 exchanges → 4
    "minhash_lsh_pairs": (4, 2, 2, 2, 0),
    # 7-chunk pigeonhole equi-join behind the hot-key guard — never a
    # nested loop.  At this sf the 200 in-scope docs give 1,400 chunk
    # rows, at most the 5,000 chunk cap, so no key can be hot and the
    # guard takes the plain self-join (broadcast): the grid's hot-key
    # aggregate, its broadcasts and both numbered repartitions are
    # gone, leaving the pair dedup's one shuffle — (4, 3, 3) → (1, 1, 1)
    "simhash_near_pairs": (1, 1, 1, 0, 0),
    # r10: one streamed numpy-GEMM pass over the corpus (the quantized
    # query matrix ships in the task closure), per-task top-k prune,
    # one exchange for the final ranking window
    "ann_topk_dot": (1, 0, 0, 0, 0),
    # zero-shuffle extraction core + narrow explode
    "x_extract_spans": (0, 0, 0, 0, 0),
}


def _plan_counts(plan: str) -> tuple[int, int, int, int, int]:
    shuffles = (plan.count("Exchange hashpartitioning")
                + plan.count("Exchange rangepartitioning")
                + plan.count("Exchange SinglePartition"))
    return (shuffles,
            plan.count("BroadcastExchange"),
            plan.count("BroadcastHashJoin"),
            plan.count("SortMergeJoin"),
            plan.count("BroadcastNestedLoopJoin"))


def test_headline_query_plans_pinned(spark):
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    bad = {}
    for name, want in HEADLINE_PLAN_PINS.items():
        got = _plan_counts(_plan(q[name](spark, SF)))
        if got != want:
            bad[name] = {"want": want, "got": got}
    assert not bad, (
        "headline plan shape drifted (shuffles, bcasts, BHJ, SMJ, BNLJ) "
        f"— re-pin only if intentional: {bad}")


# Registry builders that start Spark jobs while building their
# DataFrame, each with its reason and a ceiling equal to its measured
# count at SF (local[4], shuffle_partitions=4).  Every table read
# declares its schema (sources/io.SCHEMAS), so every other builder
# starts none.
BUILD_JOBS_ALLOWED = {
    # iterative connected components: each round's eager
    # localCheckpoints and convergence counts (and minhash's 7 below)
    "dedup_cluster_assignment": 47,
    # budget_sample: the range-partition sample and the prefix-sum
    # collect
    "lang_curation_rollup": 4,
    # checkpoint materialization: block_grid_self_join's keys.count()
    # and, for minhash, lsh_pairs_from_tokens' cands.count()
    "minhash_lsh_pairs": 7,
    "simhash_near_pairs": 3,
    # the query-row collect into the scorer's closure
    "ann_topk_dot": 1,
    # assert_exact_tier counts the all-pairs input
    "jaccard_pairs": 2,
    "embedding_near_dups": 2,
}


@pytest.fixture(scope="module")
def registry_builds(spark):
    """Every registry query built once at SF: name → (executed plan,
    Spark jobs its builder started).  The x_* corpus cache is written
    first, so its one-time generation is not counted."""
    import __spark_entry__ as entrymod

    entrymod._corpus_from_docids(spark, SF)
    sc = spark.sparkContext
    out = {}
    for name, fn in entrymod.queries().items():
        group = f"build-{name}"
        sc.setJobGroup(group, group)
        try:
            df = fn(spark, SF)
        finally:
            sc._jsc.clearJobGroup()
        # job-start events reach the status store through the async
        # listener bus: drain it before counting
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out[name] = (_plan(df),
                     len(sc.statusTracker().getJobIdsForGroup(group)))
    return out


def test_no_scale_killers_in_any_query(registry_builds):
    """Universal sweep over the full 50-query registry: no
    CartesianProduct anywhere, no row-at-a-time Python eval anywhere,
    and nested-loop joins only inside the documented hard-capped exact
    tiers (BNLJ_ALLOWED)."""
    bad = []
    for name, (plan, _) in registry_builds.items():
        if "CartesianProduct" in plan:
            bad.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in plan:
            bad.append(f"{name}: row-at-a-time Python UDF")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            bad.append(f"{name}: undocumented BroadcastNestedLoopJoin")
    assert not bad, bad


def test_registry_builders_start_no_jobs(registry_builds):
    """Building a query's DataFrame starts no Spark job, except in the
    named BUILD_JOBS_ALLOWED builders, each at most its ceiling."""
    assert len(registry_builds) == 50
    over = {name: (jobs, BUILD_JOBS_ALLOWED.get(name, 0))
            for name, (_, jobs) in registry_builds.items()
            if jobs > BUILD_JOBS_ALLOWED.get(name, 0)}
    assert not over, f"(build jobs, allowed) per builder: {over}"


def test_time_partition_pruning(spark, tmp_path):
    """Iceberg-style time partitioning on the parquet substitute: a
    crawl-date predicate must prune at the PARTITION level (visible as
    PartitionFilters in the scan), not row-filter the full corpus."""
    from pyspark.sql import functions as F

    from exam_pdf_parser_spark.operators.extract import corpus_df

    docs = corpus_df(spark, 200, partitions=2).withColumn(
        "crawl_date", F.to_date("warc_ts"))
    path = str(tmp_path / "docs_by_date")
    docs.write.partitionBy("crawl_date").parquet(path)

    back = spark.read.parquet(path)
    dates = sorted(r["crawl_date"] for r in
                   back.select("crawl_date").distinct().collect())
    assert len(dates) >= 2          # the corpus spans multiple dates
    pick = dates[0]

    pruned = back.filter(F.col("crawl_date") == F.lit(pick))
    plan = _plan(pruned)
    seg = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "crawl_date" in seg       # predicate prunes partitions
    want = docs.filter(F.col("crawl_date") == F.lit(pick)).count()
    assert pruned.count() == want > 0
