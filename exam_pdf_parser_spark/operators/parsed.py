"""Stage C as Spark operators: the ``parsed`` table (structured
question fields) and the ``answer_key`` table.

Both are single ``mapInArrow`` passes through the shared row emitter
(``operators.extract.map_rows``) — no shuffle; cross-document work
stays relational downstream (validation/evaluation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, StringType, StructField, StructType,
)

from ..core.answerkey import parse_answer_md
from ..core.assemble import extract_document
from ..core.detector import MAX_Q, MIN_Q
from ..core.fields import parse_exam_title, parse_question_fields
from .extract import map_rows

CHOICE_STRUCT = ArrayType(StructType([
    StructField("number", IntegerType(), False),
    StructField("text", StringType(), False),
]))

VOCAB_STRUCT = ArrayType(StructType([
    StructField("word", StringType(), False),
    StructField("meaning", StringType(), False),
]))

PARSED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("number", IntegerType(), False),
    StructField("question_text", StringType(), False),
    StructField("question_type", StringType(), False),
    StructField("passage", StringType(), True),
    StructField("choices", CHOICE_STRUCT, False),
    StructField("points", IntegerType(), False),
    StructField("group_range", StringType(), True),
    StructField("spans_page", BooleanType(), False),
    StructField("n_regions", IntegerType(), False),
    StructField("vocabulary_notes", VOCAB_STRUCT, False),
    StructField("has_image", BooleanType(), False),
    StructField("has_table", BooleanType(), False),
    StructField("image_description", StringType(), True),
    StructField("sub_questions", ArrayType(StringType()), False),
    StructField("exam_title", StringType(), True),
])

ANSWER_KEY_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("number", IntegerType(), False),
    StructField("question_text", StringType(), False),
    StructField("passage", StringType(), True),
    StructField("choices", CHOICE_STRUCT, False),
    StructField("points", IntegerType(), False),
])

# the per-question fields, between url and the per-document exam_title
_PARSED_COLS = PARSED_SCHEMA.names[1:-1]


def parse_documents(documents: DataFrame, max_q: int = MAX_Q) -> DataFrame:
    """documents(url, html) → parsed question rows (FIXTURES.md §4).

    One decode+detect+field pass per row; a document whose parse
    raises anywhere is dropped whole (corrupt payloads surface via
    ``extract``'s quarantine)."""

    def row(_state, url, html):
        _, regions = extract_document(bytes(html), MIN_Q, max_q)
        title = parse_exam_title(regions)
        return [(url, *(q[c] for c in _PARSED_COLS), title)
                for q in parse_question_fields(regions)]

    return map_rows(documents.select("url", "html"), PARSED_SCHEMA, row)


def exam_info_table(parsed: DataFrame) -> DataFrame:
    """Per-url exam_info (A11 total_questions sync src/schema.py:109-113
    + F10 exam-type detection).

    exam_type mirrors the reference cascade src/validator.py:61-75
    exactly: title keywords 수능/대학수학능력 → 수능; 모의 → 모의고사;
    any written-response question OR workbook title keywords
    (final test / chapter test / 워크북 / 연습) → 워크북; else 기타."""
    from pyspark.sql import functions as F

    from ..core.fields import WRITTEN_TYPES

    agg = parsed.groupBy("url").agg(
        F.first("exam_title").alias("title"),
        F.count("*").alias("total_questions"),
        F.sum(F.when(F.col("question_type") == "듣기", 1).otherwise(0))
        .alias("n_listening"),
        F.sum(F.when(F.col("question_type").isin(*WRITTEN_TYPES), 1)
              .otherwise(0)).alias("n_written"),
        F.min("number").alias("first_number"),
        F.max("number").alias("last_number"),
        F.sum(F.when(F.col("points") == 3, 1).otherwise(0))
        .alias("n_three_point"),
    )
    t = F.lower(F.coalesce(F.col("title"), F.lit("")))
    workbook_kw = (t.contains("final test") | t.contains("chapter test")
                   | t.contains("워크북") | t.contains("연습"))
    exam_type = (
        F.when(t.contains("수능") | t.contains("대학수학능력"), "수능")
        .when(t.contains("모의"), "모의고사")
        .when((F.col("n_written") > 0) | workbook_kw, "워크북")
        .otherwise("기타")
    )
    return agg.withColumn("exam_type", exam_type)


def answer_key_table(corpus_with_md: DataFrame) -> DataFrame:
    """(url, answer_md) → exploded answer-key rows (S6).  A row whose
    ``answer_md`` is NULL or empty has no key and emits no rows; one
    whose parse raises is dropped."""
    cols = ANSWER_KEY_SCHEMA.names[1:]

    def row(_state, url, md):
        return [(url, *(e[c] for c in cols)) for e in parse_answer_md(md)]

    return map_rows(corpus_with_md.select("url", "answer_md"),
                    ANSWER_KEY_SCHEMA, row)
