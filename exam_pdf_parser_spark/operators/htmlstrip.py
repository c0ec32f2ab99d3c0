"""Boilerplate stripping for the pre-extracted ``text`` column:
:func:`strip_text_lines` drops navigation lines (pipe-separated link
lists) and footer lines (copyright markers) using only JVM
expressions — split → per-line filters → re-join.

The reference has no DOM code (it is a PDF pipeline); semantics are
defined by this module and pinned by the generator's known boilerplate
markers (SURVEY.md §7.1 M6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NAV_SEP_MIN = 3           # ≥3 "|" separators → navigation line
FOOT_MARKERS = ("©", "all rights reserved", "privacy", "sitemap")


def strip_text_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """JVM-only line-level boilerplate strip: drops nav lines (pipe-
    separated link lists) and footer lines (copyright markers); keeps
    the rest joined by newlines as ``main_text``."""
    lines = F.split(F.col(text_col), "\n")
    is_nav = lambda x: (  # noqa: E731
        F.size(F.split(x, r"\|")) > NAV_SEP_MIN
    )

    def is_foot(x):
        cond = F.lit(False)
        for marker in FOOT_MARKERS:
            cond = cond | F.lower(x).contains(marker.lower())
        return cond
    kept = F.filter(lines, lambda x: ~is_nav(x) & ~is_foot(x)
                    & (F.length(F.trim(x)) > 0))
    return df.withColumn("main_text", F.array_join(kept, "\n"))
