"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction; ``queries()`` /
``oracle_sql()`` expose every operator pair — the relational,
text-stats, dedup, and similarity families are recomputed by DuckDB
from the raw tables, and the nine extraction-family ``x_*`` queries
(DuckDB cannot decode layout payloads) are graded against the
committed tables of the independent single-node Python oracle
(``core/oracle_x.py``, see ``_xoracle_sql``), so every registry entry
is hash-graded in the driver gate.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession


def _corpus_from_docids(
    spark: SparkSession, sf_dir: str, with_answer_key: bool = False
) -> DataFrame:
    """Deterministic synthetic corpus keyed by the testdata doc_ids:
    the same shape as BASELINE.json's input_hint table, derived from
    the driver's own parquet so scale follows sf.

    Synthesis is cached as parquet per sf_dir (the generator is pure,
    so the cache is byte-equivalent to regeneration) — the extraction-
    family queries would otherwise each pay the full generation cost.
    """
    import hashlib
    import os
    import tempfile

    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    from exam_pdf_parser_spark.corpus.generator import build_document
    from exam_pdf_parser_spark.operators.extract import DOCUMENTS_SCHEMA
    from exam_pdf_parser_spark.sources.io import load

    schema = StructType(
        DOCUMENTS_SCHEMA.fields
        + [StructField("answer_md", StringType(), False)])

    # cache key covers the sf dir path, the generator+codec source AND
    # the input parquet's file fingerprint — a change to synthesis code
    # or to the testdata itself invalidates the cache.  (Rare race:
    # two processes missing _SUCCESS simultaneously both overwrite the
    # same dir; the driver runs queries sequentially, and an
    # incomplete write lacks _SUCCESS so it is never read.)
    import exam_pdf_parser_spark.core.assemble as _asm
    import exam_pdf_parser_spark.corpus.generator as _gen

    src = (open(_gen.__file__, "rb").read()
           + open(_asm.__file__, "rb").read()
           # cache-layout version: bump when the WRITE layout changes
           # (content is unchanged — the tag must still rotate so an
           # existing cache with the old physical layout regenerates)
           + b"layout-v2")
    src_dir = f"{sf_dir}/documents.parquet"
    if os.path.isdir(src_dir):
        finger = ";".join(
            f"{f}:{os.path.getsize(os.path.join(src_dir, f))}"
            for f in sorted(os.listdir(src_dir)))
    else:
        finger = str(os.path.getsize(src_dir))
    tag = hashlib.md5(
        sf_dir.encode() + src + finger.encode()).hexdigest()[:12]
    cache = os.path.join(tempfile.gettempdir(), f"epps_corpus_{tag}")
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        ids = load(spark, sf_dir, "documents").select("doc_id")
        # r10: the ids frame is a single small parquet file → ONE scan
        # partition, so generation used to run in one task (~6 ms/doc
        # serially: minutes at sf1) and the cache landed as one file /
        # one row group, capping every downstream scan's parallelism
        # at the row-group count.  Repartition the ids scale-adaptively
        # (~64 docs/task, capped at 8× parallelism) so generation runs
        # wide and the cache layout gives readers real splits.  The
        # generator is pure per doc_id, so the cache contents are
        # row-set-identical — only the file layout changes.
        n_docs = ids.count()
        par = spark.sparkContext.defaultParallelism
        ids = ids.repartition(max(1, min(8 * par, -(-n_docs // 64))))

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cols = [f.name for f in schema.fields]
            for pdf in batches:
                rows = [build_document(int(i)) for i in pdf["doc_id"]]
                yield pd.DataFrame({c: [r[c] for r in rows] for c in cols})

        ids.mapInPandas(gen, schema).write.mode("overwrite").parquet(cache)

    # the declared schema (the one the cache was written with) keeps
    # this read free of a footer-inference job at build time
    df = spark.read.schema(schema).parquet(cache)
    if with_answer_key:
        return df
    return df.select(*[f.name for f in DOCUMENTS_SCHEMA.fields])


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction (layout decode → x/y-cut → region
    detection → span table) over the corpus derived from sf0.001."""
    from exam_pdf_parser_spark.operators.extract import extract, spans_table

    docs = _corpus_from_docids(spark, "/root/testdata/sf0.001")
    return spans_table(extract(docs))


def _x_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exam_pdf_parser_spark.operators.extract import extract, spans_table

    return spans_table(extract(_corpus_from_docids(spark, sf_dir)))


def _x_extract_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from exam_pdf_parser_spark.operators.extract import extract

    ext = extract(_corpus_from_docids(spark, sf_dir))
    return ext.select(
        "url",
        F.length("extracted_text").alias("text_len"),
        F.size("spans").alias("n_spans"),
        "status",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from exam_pdf_parser_spark.operators import dedupe, similarity, textstats
    from exam_pdf_parser_spark.plans import relational, temporal

    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in (relational, temporal, textstats, dedupe, similarity):
        q.update(mod.QUERIES)
    # extraction family: rows-only (oracle is the pytest golden suite)
    q["x_extract_spans"] = _x_extract_spans
    q["x_extract_doc_stats"] = _x_extract_doc_stats
    q["x_parsed_questions"] = _x_parsed_questions
    q["x_validation_issues"] = _x_validation_issues
    q["x_eval_scores"] = _x_eval_scores
    q["x_boilerplate_strip"] = _x_boilerplate_strip
    q["x_exam_info"] = _x_exam_info
    q["x_crop_manifest"] = _x_crop_manifest
    q["x_compare_configs"] = _x_compare_configs
    return q


def _x_exam_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exam_pdf_parser_spark.operators.parsed import (
        exam_info_table, parse_documents,
    )

    return exam_info_table(parse_documents(_corpus_from_docids(spark, sf_dir)))


def _x_crop_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from exam_pdf_parser_spark.operators.crop import crop_regions

    return crop_regions(_corpus_from_docids(spark, sf_dir)).select(
        "url", "question_number", "page_idx", "file_name",
        "x0", "y0", "x1", "y1", F.length("png").alias("png_bytes"),
    )


def _x_compare_configs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exam_pdf_parser_spark.operators.compare import compare_runs
    from exam_pdf_parser_spark.operators.parsed import parse_documents

    docs = _corpus_from_docids(spark, sf_dir)
    a = parse_documents(docs, max_q=50)
    b = parse_documents(docs, max_q=20)
    return compare_runs(a, b)


def _x_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from exam_pdf_parser_spark.operators.htmlstrip import strip_text_lines

    docs = _corpus_from_docids(spark, sf_dir)
    return strip_text_lines(docs).select(
        "url",
        F.length("text").alias("raw_len"),
        F.length("main_text").alias("main_len"),
        (F.length("text") - F.length("main_text")).alias("stripped_chars"),
    )


def _x_parsed_questions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from exam_pdf_parser_spark.operators.parsed import parse_documents

    return parse_documents(_corpus_from_docids(spark, sf_dir)).select(
        "url", "number", "question_text", "question_type", "passage",
        F.to_json("choices").alias("choices_json"),
        "points", "group_range", "spans_page", "n_regions",
    )


def _x_validation_issues(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exam_pdf_parser_spark.operators.parsed import (
        answer_key_table, parse_documents,
    )
    from exam_pdf_parser_spark.operators.validation import validate

    corpus = _corpus_from_docids(spark, sf_dir, with_answer_key=True)
    return validate(parse_documents(corpus), answer_key_table(corpus))


def _x_eval_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exam_pdf_parser_spark.operators.evaluation import (
        evaluate_questions, score_urls,
    )
    from exam_pdf_parser_spark.operators.parsed import (
        answer_key_table, parse_documents,
    )

    corpus = _corpus_from_docids(spark, sf_dir, with_answer_key=True)
    qe = evaluate_questions(parse_documents(corpus), answer_key_table(corpus))
    return score_urls(qe)


def oracle_sql() -> dict[str, str]:
    from exam_pdf_parser_spark.operators import dedupe, similarity, textstats
    from exam_pdf_parser_spark.plans import relational, temporal

    o: dict[str, str] = {}
    for mod in (relational, temporal, textstats, dedupe, similarity):
        o.update(mod.ORACLE)
    o.update(_xoracle_sql())
    return o


def _xoracle_sql() -> dict[str, str]:
    """DuckDB twins for ALL NINE extraction-family queries (four
    promoted round 6, two round 7, the last three — ``x_extract_spans``,
    ``x_crop_manifest``, ``x_boilerplate_strip`` — round 8, closing
    every ``no_oracle`` row).  The independent single-node Python
    oracle (``core/oracle_x.py``) materializes its tables as committed
    parquet at the gate scale (``scripts/make_xoracle_tables.py``,
    staleness-pinned by pytest); DuckDB then RECOMPUTES the relational
    stage — the exam-info aggregation, the A/B compare full-outer
    join, the doc-stats span-count group-by + zero-preserving left
    join, and the boilerplate stripped-chars delta — from the oracle's
    tables, and serves the outputs whose kernels are not relational
    (SequenceMatcher scoring with Python-pinned float accumulation
    order; the 24-rule validation cascade; the parse / span / crop
    kernels' direct projections of the layout decode, which DuckDB
    cannot execute).  Valid only at sf0.01, the driver-gate scale —
    and all nine x_* queries remain hash-graded against the LIVE
    oracle at both sf0.01 and sf0.1 in XCHECK, which is the stronger
    recomputed check; this table-serving layer upgrades the DRIVER
    gate from rows-only to hash-graded."""
    import os

    d = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "tests", "goldens", "xoracle_sf0.01")
    from exam_pdf_parser_spark.core.fields import WRITTEN_TYPES

    written_in = ", ".join(f"'{t}'" for t in sorted(WRITTEN_TYPES))
    exam_info = f"""
        WITH agg AS (
          SELECT url,
                 min(exam_title) AS title,
                 count(*) AS total_questions,
                 CAST(sum(CASE WHEN question_type = '듣기'
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_listening,
                 CAST(sum(CASE WHEN question_type IN ({written_in})
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_written,
                 min(number) AS first_number,
                 max(number) AS last_number,
                 CAST(sum(CASE WHEN points = 3 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_three_point
          FROM read_parquet('{d}/parsed_a.parquet') GROUP BY url)
        SELECT url, title, total_questions, n_listening, n_written,
               first_number, last_number, n_three_point,
               CASE WHEN lower(coalesce(title, '')) LIKE '%수능%'
                      OR lower(coalesce(title, '')) LIKE '%대학수학능력%'
                    THEN '수능'
                    WHEN lower(coalesce(title, '')) LIKE '%모의%'
                    THEN '모의고사'
                    WHEN n_written > 0
                      OR lower(coalesce(title, '')) LIKE '%final test%'
                      OR lower(coalesce(title, '')) LIKE '%chapter test%'
                      OR lower(coalesce(title, '')) LIKE '%워크북%'
                      OR lower(coalesce(title, '')) LIKE '%연습%'
                    THEN '워크북'
                    ELSE '기타' END AS exam_type
        FROM agg
    """
    compare = f"""
        SELECT coalesce(a.url, b.url) AS url,
               coalesce(a.number, b.number) AS number,
               a.url IS NOT NULL AS in_a,
               b.url IS NOT NULL AS in_b,
               s.qtext_sim, s.passage_sim,
               coalesce(a.points, 0) - coalesce(b.points, 0)
                 AS points_delta,
               coalesce(a.n_choices, 0) - coalesce(b.n_choices, 0)
                 AS choices_delta
        FROM read_parquet('{d}/parsed_a.parquet') a
        FULL OUTER JOIN read_parquet('{d}/parsed_b.parquet') b
          ON a.url = b.url AND a.number = b.number
        JOIN read_parquet('{d}/compare_sims.parquet') s
          ON s.url = coalesce(a.url, b.url)
         AND s.number = coalesce(a.number, b.number)
    """
    doc_stats = f"""
        SELECT d.url, d.text_len,
               CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
               d.status
        FROM read_parquet('{d}/extract_docs.parquet') d
        LEFT JOIN (SELECT url, count(*) AS n_spans
                   FROM read_parquet('{d}/extract_spans.parquet')
                   GROUP BY url) s USING (url)
    """
    boilerplate = f"""
        SELECT url, raw_len, main_len,
               raw_len - main_len AS stripped_chars
        FROM read_parquet('{d}/boilerplate.parquet')
    """
    return {
        "x_exam_info": exam_info,
        "x_compare_configs": compare,
        "x_eval_scores":
            f"SELECT * FROM read_parquet('{d}/eval_scores.parquet')",
        "x_validation_issues":
            f"SELECT * FROM "
            f"read_parquet('{d}/validation_issues.parquet')",
        "x_extract_doc_stats": doc_stats,
        "x_parsed_questions":
            f"SELECT * FROM read_parquet('{d}/parsed_questions.parquet')",
        "x_extract_spans":
            f"SELECT * FROM read_parquet('{d}/extract_spans.parquet')",
        "x_crop_manifest":
            f"SELECT * FROM read_parquet('{d}/crop_manifest.parquet')",
        "x_boilerplate_strip": boilerplate,
    }
