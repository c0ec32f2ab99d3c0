"""Evaluation stage (J1/J4 + A5-A7): parsed vs answer key →
per-question eval rows and per-url score summaries.

Spark-first shape: a cogrouped ``applyInPandas`` keyed by url.  The
similarity function is ``difflib.SequenceMatcher`` (F2) which has no
JVM equivalent (SURVEY.md §2.7), and the per-url float rollup must
accumulate in a fixed order to stay byte-identical with the oracle —
so the whole per-url unit runs the shared pure-Python scoring
(core/scoring.py) inside Arrow batches.  Urls are independent →
parallelism across urls, one shuffle to co-locate (url) groups.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType, DoubleType, IntegerType, StringType, StructField, StructType,
)

from ..core.scoring import eval_questions, summarize

QEVAL_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("number", IntegerType(), False),
    StructField("found", BooleanType(), False),
    StructField("passage_sim", DoubleType(), False),
    StructField("choices_correct", IntegerType(), False),
    StructField("choices_total", IntegerType(), False),
    StructField("qtext_sim", DoubleType(), False),
])

SCORE_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("total_expected", IntegerType(), False),
    StructField("total_found", IntegerType(), False),
    StructField("coverage_pct", DoubleType(), False),
    StructField("avg_passage_sim", DoubleType(), False),
    StructField("avg_choice_acc", DoubleType(), False),
    StructField("avg_qtext_sim", DoubleType(), False),
    StructField("overall_score", DoubleType(), False),
])

_QEVAL_COLS = [f.name for f in QEVAL_SCHEMA.fields]


def _rows(pdf: pd.DataFrame, fields: list[str]) -> list[dict]:
    out = []
    for rec in pdf[fields].to_dict("records"):
        ch = rec.get("choices")
        if ch is not None:
            rec["choices"] = [
                c if isinstance(c, dict) else c.asDict() for c in ch]
        # pandas renders null strings as NaN; scoring expects None
        p = rec.get("passage")
        if isinstance(p, float):
            rec["passage"] = None
        out.append(rec)
    return out


def evaluate_questions(parsed: DataFrame, answer_key: DataFrame) -> DataFrame:
    """Per-question eval table via url-cogrouped shared scoring."""

    def score(key, pgroup, kgroup):
        url = key[0]
        prows = _rows(pgroup, ["number", "question_text", "passage", "choices"])
        krows = _rows(kgroup, ["number", "question_text", "passage", "choices"])
        rows = eval_questions(prows, krows)
        return pd.DataFrame(
            [{"url": url, **r} for r in rows], columns=_QEVAL_COLS)

    return (
        parsed.groupBy("url")
        .cogroup(answer_key.groupBy("url"))
        .applyInPandas(score, QEVAL_SCHEMA)
    )


def score_urls(qevals: DataFrame) -> DataFrame:
    """Per-url summary from per-question rows (deterministic order)."""

    def roll(key, pdf):
        rows = pdf.sort_values("number").to_dict("records")
        return pd.DataFrame([{"url": key[0], **summarize(rows)}])

    return qevals.groupBy("url").applyInPandas(roll, SCORE_SCHEMA)
