"""Boilerplate stripping tests."""

from __future__ import annotations

from exam_pdf_parser_spark.operators.htmlstrip import (
    block_scores, strip_html_bytes, strip_html_documents, strip_text_lines,
)

HTML = """
<html><head><script>var x=1;</script><style>.a{}</style></head>
<body>
<nav><a href="/">home</a> | <a href="/n">news</a></nav>
<div class="menu"><a href="/a">aaa</a> <a href="/b">bbb</a> <a href="/c">c</a></div>
<p>This is the real article content, long enough to keep and clearly prose.</p>
<p>Second paragraph of body text with plenty of characters to stay above the gate.</p>
<p>tiny</p>
<footer>© example.com | <a href="/privacy">privacy</a></footer>
</body></html>
""".encode("utf-8")


def test_strip_html_keeps_prose_drops_nav():
    out = strip_html_bytes(HTML)
    assert "real article content" in out
    assert "Second paragraph" in out
    assert "aaa" not in out          # link-dense menu dropped
    assert "tiny" not in out         # under min length
    assert "privacy" not in out      # footer removed with the tag


def test_block_scores_link_density():
    blocks = block_scores(HTML.decode())
    menu = [b for b in blocks if "aaa" in b["text"]]
    assert menu and menu[0]["link_density"] > 0.5
    prose = [b for b in blocks if "real article" in b["text"]]
    assert prose and prose[0]["link_density"] == 0.0


def test_strip_html_documents_spark(spark):
    df = spark.createDataFrame(
        [("u1", HTML), ("u2", b"<p>" + b"content words here repeated " * 3 + b"</p>")],
        "url string, html binary")
    out = {r["url"]: r["main_content"]
           for r in strip_html_documents(df).collect()}
    assert "real article content" in out["u1"]
    assert "content words here" in out["u2"]


def test_strip_text_lines_on_corpus(spark):
    from exam_pdf_parser_spark.operators.extract import corpus_df

    docs = corpus_df(spark, 10, partitions=2)
    out = strip_text_lines(docs).select("url", "text", "main_text").collect()
    for r in out:
        assert "HOME | NEWS" in r["text"]
        assert "HOME | NEWS" not in r["main_text"]
        assert "all rights reserved" not in r["main_text"]
        assert len(r["main_text"]) > 0
