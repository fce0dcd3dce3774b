"""HTML->text extraction: byte-identical round trip on the synthetic
pages table (the north-rule invariant), messy-markup zoo, NULL paths,
and the conditional only-missing repair mode."""

from pyspark.sql import functions as F

from dqc_spark.htmlextract import extract_text, extract_text_col, extract_text_py
from dqc_spark.pagesgen import generate_pages, make_page


def test_roundtrip_byte_identity_python():
    # text -> html (pagesgen's wrapper) -> extract == text, byte-for-byte
    for i in range(200):
        p = make_page(i)
        assert extract_text_py(p["html"]) == p["text"]


def test_roundtrip_byte_identity_spark(spark):
    pages = generate_pages(spark, 300, n_partitions=4)
    mism = (
        pages.select(
            "url", "text", extract_text_col("html").alias("extracted")
        )
        .filter(~(F.col("extracted") == F.col("text")))
        .count()
    )
    assert mism == 0


ZOO = [
    (b"<html><body><p>hello world</p></body></html>", "hello world"),
    # paragraph boundary = blank line (both tags emit a newline)
    (b"<p>a</p><p>b</p>", "a\n\nb"),
    (b"<div>x<br>y</div>", "x\ny"),
    (b"<p>keep <b>bold</b> text</p>", "keep bold text"),
    (b"<p>5 &lt; 6 &amp; 7 &gt; 2&#39;s</p>", "5 < 6 & 7 > 2's"),
    (b"<script>var x = '<p>no</p>';</script><p>yes</p>", "yes"),
    (b"<style>p { color: red }</style><p>styled</p>", "styled"),
    (b"<!-- <p>comment</p> --><p>real</p>", "real"),
    (b"<ul><li>one</li><li>two</li></ul>", "one\n\ntwo"),
    (b"<h1>Title</h1><p>body</p>", "Title\n\nbody"),
    # interior newlines in a text node survive verbatim
    (b"<p>line1\nline2</p>", "line1\nline2"),
    # tag-introduced blank runs collapse to one blank line
    (b"<div></div><div></div><div></div><p>tail</p>", "tail"),
    (b"<p>a</p><div></div><div></div><p>b</p>", "a\n\nb"),
    # attributes, self-closing, uppercase tags
    (b'<P CLASS="x">Upper</P><BR/><p>case</p>', "Upper\n\ncase"),
    # invalid utf-8 is replaced, not fatal
    ("<p>caf\xe9</p>".encode("latin-1"), "caf�"),
    (b"", ""),
    # a '</style>' STRING inside a script must not terminate it (the
    # close tag is backreference-pinned to the open tag): the whole
    # script body is removed, nothing leaks into training text
    (b'<script>var css = "</style>"; steal();</script><p>real</p>',
     "real"),
    (b'<style>s::after { content: "</script>" }</style><p>ok</p>', "ok"),
    # case-insensitive backreference
    (b"<SCRIPT>var y = 1;</script><p>z</p>", "z"),
    # normal-form collapse: text newline runs >= 3 become one blank
    # line, leading/trailing newlines trimmed (documented: round trip
    # is byte-identical only for text already in normal form)
    (b"<p>a\n\n\nb</p>", "a\n\nb"),
    (b"<p>\nx\n</p>", "x"),
]


def test_zoo_python():
    for html, want in ZOO:
        assert extract_text_py(html) == want, html


def test_zoo_spark_matches_python(spark):
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(ZOO)], "i long, html binary"
    )
    got = {r["i"]: r["text"]
           for r in df.select("i", extract_text_col("html")).collect()}
    for i, (html, want) in enumerate(ZOO):
        assert got[i] == want, html


def test_null_html(spark):
    assert extract_text_py(None) is None
    df = spark.createDataFrame([(1, None)], "i long, html binary")
    assert df.select(extract_text_col("html")).collect()[0]["text"] is None


def test_only_missing_repair(spark):
    rows = [
        (1, b"<p>from html</p>", None),          # repaired from html
        (2, b"<p>ignored</p>", "existing text"),  # existing text wins
        (3, None, None),                          # nothing to extract
    ]
    df = spark.createDataFrame(rows, "i long, html binary, text string")
    got = {r["i"]: r["text"] for r in extract_text(df).collect()}
    assert got == {1: "from html", 2: "existing text", 3: None}
    # repair mode re-extracts everything
    got2 = {r["i"]: r["text"]
            for r in extract_text(df, only_missing=False).collect()}
    assert got2 == {1: "from html", 2: "ignored", 3: None}


def test_missing_text_column(spark):
    df = spark.createDataFrame([(1, b"<p>x</p>")], "i long, html binary")
    out = extract_text(df)
    assert out.collect()[0]["text"] == "x"

