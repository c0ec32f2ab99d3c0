"""Main-content extraction for HTML rows: DOM boilerplate stripping
with text-density and link-density heuristics (trafilatura/readability
style — north rule).

Two layers:
  * :func:`strip_html_bytes` — per-document pure function over raw
    HTML: segment blocks with tag-driven regexes (deterministic on
    every machine, no parser dependency), score each block by link
    density / text density / length, keep content blocks.  Shared by
    pytest oracle + the ``mapInPandas`` stage.
  * :func:`strip_text_lines` — Spark-native line-level variant for the
    pre-extracted ``text`` column (nav/footer markers) using only JVM
    expressions: split → per-line density filters → re-join.

The reference has no DOM code (it is a PDF pipeline); semantics are
defined by this module and pinned by the generator's known boilerplate
markers (SURVEY.md §7.1 M6).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# --- per-document HTML stripper ----------------------------------------------

_BLOCK_TAGS = r"p|div|article|section|li|h[1-6]|td|blockquote|pre"
_BLOCK_RE = re.compile(
    rf"<(?:{_BLOCK_TAGS})\b[^>]*>(.*?)</(?:{_BLOCK_TAGS})>",
    re.IGNORECASE | re.DOTALL,
)
_A_RE = re.compile(r"<a\b[^>]*>(.*?)</a>", re.IGNORECASE | re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")
_SCRIPT_RE = re.compile(
    r"<(script|style|nav|header|footer|aside)\b.*?</\1>",
    re.IGNORECASE | re.DOTALL,
)
_WS_RE = re.compile(r"\s+")

LINK_DENSITY_MAX = 0.35   # fraction of chars inside <a> above which a
                          # block is navigation
MIN_BLOCK_CHARS = 25      # shorter blocks are furniture unless dense


def _text_of(fragment: str) -> str:
    return _WS_RE.sub(" ", _TAG_RE.sub(" ", fragment)).strip()


def block_scores(html: str) -> list[dict]:
    """Segment HTML into blocks with (text, link_density, n_chars) by
    deterministic regex segmentation (identical on every machine)."""
    html = _SCRIPT_RE.sub(" ", html)
    blocks = []
    for m in _BLOCK_RE.finditer(html):
        frag = m.group(1)
        text = _text_of(frag)
        if not text:
            continue
        link_chars = sum(len(_text_of(a.group(1)))
                         for a in _A_RE.finditer(frag))
        n = len(text)
        blocks.append({
            "text": text,
            "n_chars": n,
            "link_density": link_chars / n if n else 1.0,
        })
    return blocks


def strip_html_bytes(html: bytes | str) -> str:
    """Main content of one HTML document (pure function)."""
    if isinstance(html, bytes):
        html = html.decode("utf-8", errors="replace")
    kept = [
        b["text"] for b in block_scores(html)
        if b["link_density"] <= LINK_DENSITY_MAX
        and b["n_chars"] >= MIN_BLOCK_CHARS
    ]
    return "\n".join(kept)


MAIN_CONTENT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("main_content", StringType(), False),
])


def strip_html_documents(df: DataFrame, html_col: str = "html") -> DataFrame:
    """(url, html) → (url, main_content) via Arrow batches."""
    src = df.select("url", html_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "url": pdf["url"],
                "main_content": [
                    strip_html_bytes(bytes(h) if h is not None else b"")
                    for h in pdf[html_col]
                ],
            })

    return src.mapInPandas(run, MAIN_CONTENT_SCHEMA)


# --- Spark-native line stripper for the pre-extracted text column ------------

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
