"""Boilerplate stripping tests."""

from __future__ import annotations

from exam_pdf_parser_spark.operators.htmlstrip import strip_text_lines


def test_strip_text_lines_on_corpus(spark):
    from exam_pdf_parser_spark.operators.extract import corpus_df

    docs = corpus_df(spark, 10, partitions=2)
    out = strip_text_lines(docs).select("url", "text", "main_text").collect()
    for r in out:
        assert "HOME | NEWS" in r["text"]
        assert "HOME | NEWS" not in r["main_text"]
        assert "all rights reserved" not in r["main_text"]
        assert len(r["main_text"]) > 0


def test_blank_lines_strip_like_the_oracle(spark):
    """A line of only Unicode whitespace is blank in both engines: the
    JVM strip drops it exactly where ``core.oracle_x`` does, for CRLF
    blank lines, tabs, U+3000, U+00A0 and plain spaces."""
    from exam_pdf_parser_spark.core.oracle_x import _main_text

    texts = ["intro\r\n\r\nbody\r\n", "a\n\t\nb", "a\n\u3000\u3000\nb",
             "a\n\xa0\nb", "a\n \nb", "a\n   \nb", "\t x \t\n \r\n ",
             "HOME | NEWS | ABOUT | HELP\n\u3000\nq\n© 2024"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, text string").coalesce(1)
    got = {r["i"]: r["main_text"] for r in
           strip_text_lines(df).select("i", "main_text").collect()}
    assert got == {i: _main_text(t) for i, t in enumerate(texts)}
