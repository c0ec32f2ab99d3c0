"""Boilerplate stripping for the pre-extracted ``text`` column:
:func:`strip_text_lines` drops navigation lines (pipe-separated link
lists), footer lines (copyright markers) and blank lines using only JVM
expressions — split → per-line filters → re-join.

The reference has no DOM code (it is a PDF pipeline); the line rules
live in ``core.textfuncs``, shared with the oracle, and are pinned by
the generator's known boilerplate markers (SURVEY.md §7.1 M6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.textfuncs import BLANK_CHARS, FOOT_MARKERS, NAV_SEP_MIN

# JVM regex of a blank line, one \uXXXX escape per BLANK_CHARS member
_BLANK_LINE_RE = "^[" + "".join(
    f"\\u{ord(c):04x}" for c in BLANK_CHARS) + "]*$"


def strip_text_lines(df: DataFrame) -> DataFrame:
    """JVM-only line-level boilerplate strip of the ``text`` column:
    drops nav lines (pipe-separated link lists), footer lines
    (copyright markers) and blank lines; keeps the rest joined by
    newlines as ``main_text``."""
    lines = F.split(F.col("text"), "\n")
    is_nav = lambda x: (  # noqa: E731
        F.size(F.split(x, r"\|")) > NAV_SEP_MIN
    )

    def is_foot(x):
        cond = F.lit(False)
        for marker in FOOT_MARKERS:
            cond = cond | F.lower(x).contains(marker.lower())
        return cond
    kept = F.filter(lines, lambda x: ~is_nav(x) & ~is_foot(x)
                    & ~x.rlike(_BLANK_LINE_RE))
    return df.withColumn("main_text", F.array_join(kept, "\n"))
