"""Run-vs-run comparison (J6: scripts/validate.py:626-750 — the A/B
model diff, re-expressed as a full-outer join with per-field similarity
columns).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..core.textfuncs import similarity


@pandas_udf(DoubleType())
def seqmatch_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
    """F2 as a vectorized UDF: difflib ratio per row (no JVM twin —
    SURVEY.md §2.7)."""
    return pd.Series([
        similarity(x if isinstance(x, str) else "",
                   y if isinstance(y, str) else "")
        for x, y in zip(a, b)
    ])


def compare_runs(a: DataFrame, b: DataFrame) -> DataFrame:
    """Full-outer per-question diff of two parsed outputs.

    Columns: presence flags, per-field similarities, points/choice-count
    deltas.  ``a``/``b`` are parsed tables (same schema)."""
    la = a.select(
        "url", "number",
        F.col("question_text").alias("qt_a"),
        F.col("passage").alias("p_a"),
        F.col("points").alias("pts_a"),
        F.size("choices").alias("nch_a"),
    )
    lb = b.select(
        "url", "number",
        F.col("question_text").alias("qt_b"),
        F.col("passage").alias("p_b"),
        F.col("points").alias("pts_b"),
        F.size("choices").alias("nch_b"),
    )
    j = la.join(lb, ["url", "number"], "full_outer")
    return j.select(
        "url", "number",
        F.col("qt_a").isNotNull().alias("in_a"),
        F.col("qt_b").isNotNull().alias("in_b"),
        seqmatch_ratio(F.coalesce("qt_a", F.lit("")),
                       F.coalesce("qt_b", F.lit(""))).alias("qtext_sim"),
        seqmatch_ratio(F.coalesce("p_a", F.lit("")),
                       F.coalesce("p_b", F.lit(""))).alias("passage_sim"),
        (F.coalesce("pts_a", F.lit(0)) - F.coalesce("pts_b", F.lit(0)))
        .alias("points_delta"),
        (F.coalesce("nch_a", F.lit(0)) - F.coalesce("nch_b", F.lit(0)))
        .alias("choices_delta"),
    )
