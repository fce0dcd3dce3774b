"""HTML -> text extraction for web-crawl pages (``html:binary`` ->
``text:string``), as ONE vectorized Arrow kernel.

The north-star input table carries both the raw ``html`` bytes and the
extracted ``text`` per url, with a byte-identity invariant between
them.  This operator IS that extraction step, so a crawl that arrives
with only ``html`` can be brought into the pipeline's expected shape:
``extract_text(pages)`` populates/repairs ``text`` and the golden
round-trip test pins ``extract_text(html(text)) == text`` byte-for-byte
on the synthetic pages table (the driver separately pins scrub byte
parity downstream).

Scale shape: a single ``pandas_udf`` (Arrow batches, no per-row Python
at the Spark layer) mapping binary -> string; no shuffle, composes into
the page scan, and column pruning still drops ``html`` for every
downstream stage that doesn't need it.  The per-document work is
regex/state-machine string processing — the same class of kernel as
``scrub.py`` — which is exactly what belongs inside an Arrow batch.

Extraction semantics (deterministic, dependency-free; a simplified
trafilatura/jusText shape):
  * HTML comments, ``<script>``/``<style>`` elements (including their
    content) are removed
  * block-level tags (``html body p div br h1..h6 li ul ol table tr td
    th blockquote pre section article header footer``) become ``\\n``
  * every other tag is dropped
  * character/entity references are decoded (``html.unescape``)
  * runs of >2 newlines collapse to exactly two, and the result is
    stripped of leading/trailing newlines

The text -> html -> text round trip is byte-identical exactly for text
already in that normal form (no leading/trailing newlines, no runs of
3+ newlines — tag-introduced newlines are indistinguishable from text
newlines, so a looser invariant is unachievable without a side
channel).  The synthetic pages table and every scrubbed corpus the
pipeline emits satisfy the form; for anything else extraction is
idempotent (extract(html(extract(h))) == extract(h)).

Reference parity: the reference validates pre-extracted text columns
(data_quality_checker has no HTML layer); this operator extends the
surface to raw-crawl inputs per the north rule.
"""

from __future__ import annotations

import html as _html
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

__all__ = [
    "extract_text_py",
    "extract_text_col",
    "extract_text",
]

_COMMENT = re.compile(r"<!--.*?-->", re.S)
# backreference (\1) pins the CLOSE tag to the OPEN tag: with an
# alternation on both ends, <script>var s="</style>";evil()</script>
# terminates at the string literal and leaks script source into the
# extracted text (re.I makes the backreference case-insensitive too)
_SCRIPT_STYLE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.S | re.I
)
_BLOCK = re.compile(
    r"</?(?:html|body|p|div|br|h[1-6]|li|ul|ol|table|tr|td|th|blockquote"
    r"|pre|section|article|header|footer)\b[^>]*/?>",
    re.I,
)
_ANY_TAG = re.compile(r"<[^>]+>")
_TAG_NL_RUNS = re.compile(r"\n{3,}")


def extract_text_py(html_bytes: bytes | None) -> str | None:
    """Pure-python kernel: one document's html bytes -> extracted text.

    Shared verbatim by the distributed UDF and the golden oracle — the
    same never-fork rule as features_py/scrub_text_py."""
    if html_bytes is None:
        return None
    s = html_bytes.decode("utf-8", errors="replace")
    s = _COMMENT.sub("", s)
    s = _SCRIPT_STYLE.sub("", s)
    s = _BLOCK.sub("\n", s)
    s = _ANY_TAG.sub("", s)
    s = _html.unescape(s)
    # normal form: blank runs collapse to one blank line, outer frame
    # trimmed; single/double newlines (real text structure) survive
    s = _TAG_NL_RUNS.sub("\n\n", s)
    return s.strip("\n")


@pandas_udf(T.StringType())
def _extract_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in it:
        yield s.map(extract_text_py, na_action="ignore")


def extract_text_col(html: Column | str) -> Column:
    """Extracted text as a Column (one Arrow kernel, no shuffle)."""
    h = F.col(html) if isinstance(html, str) else html
    return _extract_udf(h).alias("text")


def extract_text(
    df: DataFrame,
    html_col: str = "html",
    text_col: str = "text",
    only_missing: bool = True,
) -> DataFrame:
    """Populate ``text_col`` from ``html_col``.

    ``only_missing=True`` (default) extracts only where ``text_col`` is
    NULL/absent.  Catalyst hoists pandas UDFs into an UNCONDITIONAL
    ArrowEvalPython node, so a ``when()`` around the UDF would not skip
    anything — instead the ``when()`` sits INSIDE the UDF argument
    (rows with text ship a NULL into the batch, which the kernel skips
    via na_action) and a ``coalesce`` outside picks the existing text;
    same conditional-UDF shape as pipeline.py's scrub stage.
    ``only_missing=False`` re-extracts everything (repair mode)."""
    if only_missing and text_col in df.columns:
        new = F.coalesce(
            F.col(text_col),
            extract_text_col(F.when(F.col(text_col).isNull(),
                                    F.col(html_col))),
        )
    else:
        new = extract_text_col(html_col)
    return df.withColumn(text_col, new)

