"""WARC ingestion: Common-Crawl's native archive format -> pages rows.

The corpus north rule's input table (url, warc_ts, html, text, lang)
is what a crawl DELIVERS as WARC files (ISO 28500): a stream of
records, each a header block (CRLF-separated ``Name: value`` lines
ending in a blank line) followed by ``Content-Length`` payload bytes.
``response`` records carry an HTTP response (status line + headers +
body) whose body is the page html.  Common Crawl ships them as
``.warc.gz`` with ONE GZIP MEMBER PER RECORD so readers can split
without decompressing the whole file.

Spark shape (the standard Common-Crawl-on-Spark pattern):

  * one WARC file == one task.  ``spark.read.format("binaryFile")``
    lists the files into a DataFrame (path, content); a mapInPandas
    kernel walks each file's records and emits (url, warc_ts, html)
    rows.  No shuffle anywhere — ingestion is a pure map, and the
    downstream pipeline (htmlextract -> annotate -> curate) starts
    from exactly the hinted table shape.
  * parallelism = number of WARC files (Common Crawl segments are
    ~1 GB so a crawl dump is tens of thousands of files — plenty).
    ``binaryFile`` keeps whole files as single rows by design; that is
    the memory unit here, same as every production WARC reader.
  * malformed records are SKIPPED, counted per file when
    ``with_errors`` is set — a crawl always contains truncated tails
    and the job must not die at file 48,191 of 64,000.

Writing is intentionally driver-side only (``warc_bytes``): WARC is an
INPUT format at 100 TB — tests and fixtures author small archives
locally, the engine never round-trips a corpus back to WARC.

Reference parity: the reference reads CSVs off disk (connector.go);
this is the web-corpus generalization of its file-ingestion surface.
"""

from __future__ import annotations

import gzip
import io
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b"

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
    ]
)


# ---------------------------------------------------------------------------
# record authoring (driver-side: fixtures, tests, the synthetic corpus)
# ---------------------------------------------------------------------------


def warc_record_bytes(url: str, ts_iso: str, body: bytes,
                      content_type: str = "text/html") -> bytes:
    """One WARC/1.0 response record wrapping an HTTP 200 response."""
    http = (
        b"HTTP/1.1 200 OK" + _CRLF
        + f"Content-Type: {content_type}".encode() + _CRLF
        + f"Content-Length: {len(body)}".encode() + _CRLF
        + _CRLF
        + body
    )
    header = (
        b"WARC/1.0" + _CRLF
        + b"WARC-Type: response" + _CRLF
        + f"WARC-Target-URI: {url}".encode() + _CRLF
        + f"WARC-Date: {ts_iso}".encode() + _CRLF
        + b"Content-Type: application/http; msgtype=response" + _CRLF
        + f"Content-Length: {len(http)}".encode() + _CRLF
        + _CRLF
    )
    return header + http + _CRLF + _CRLF


def wet_record_bytes(url: str, ts_iso: str, text: str) -> bytes:
    """One WARC/1.0 conversion record (the WET shape): the payload is
    the extracted text itself — no HTTP envelope."""
    body = text.encode("utf-8")
    header = (
        b"WARC/1.0" + _CRLF
        + b"WARC-Type: conversion" + _CRLF
        + f"WARC-Target-URI: {url}".encode() + _CRLF
        + f"WARC-Date: {ts_iso}".encode() + _CRLF
        + b"Content-Type: text/plain" + _CRLF
        + f"Content-Length: {len(body)}".encode() + _CRLF
        + _CRLF
    )
    return header + body + _CRLF + _CRLF


def wet_bytes(rows, gzip_members: bool = True) -> bytes:
    """A whole WET file from (url, ts_iso, text_str) triples —
    member-per-record gzip by default (the .warc.wet.gz convention)."""
    out = io.BytesIO()
    for url, ts_iso, text in rows:
        rec = wet_record_bytes(url, ts_iso, text)
        out.write(gzip.compress(rec, mtime=0) if gzip_members else rec)
    return out.getvalue()


def warc_bytes(rows, gzip_members: bool = False) -> bytes:
    """A whole WARC file from (url, ts_iso, body_bytes) triples —
    per-record gzip members when ``gzip_members`` (the .warc.gz
    convention), plain concatenation otherwise."""
    out = io.BytesIO()
    for url, ts_iso, body in rows:
        rec = warc_record_bytes(url, ts_iso, body)
        out.write(gzip.compress(rec, mtime=0) if gzip_members else rec)
    return out.getvalue()


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------


def parse_warc_records(data: bytes, record_types: tuple = ("response",),
                       stats: dict | None = None):
    """Yield (url, ts_iso, body_bytes) from one WARC file's bytes.

    Handles plain and gzip (single- or member-per-record) input.
    Records whose WARC-Type is not in ``record_types`` are skipped;
    structurally broken records end the file (a truncated tail, the
    common real-world corruption) after yielding everything parseable
    before them.  When ``stats`` is given, each structural error
    (corrupt/truncated gzip member, non-WARC leftover bytes, bad
    Content-Length, truncated payload) increments ``stats['bad']`` —
    the per-file count ``read_warc(with_errors=True)`` surfaces.

    Body framing is per-type, per ISO 28500: a ``response`` payload is
    an HTTP message (status line + headers + CRLFCRLF + body — the body
    is yielded), while a ``conversion`` payload (WET files: Common
    Crawl's pre-extracted text) IS the body verbatim.
    """
    if data[:2] == _GZIP_MAGIC:
        # multi-member decompress: zlib fed in bounded chunks through a
        # memoryview.  A CC .warc.gz is one member PER RECORD (10^5
        # members per ~1 GB file) — `d.decompress(data[pos:])` per
        # member would copy the whole remaining buffer each time,
        # O(members * filesize) memcpy.  The chunked form's only copies
        # are `unused_data` tails, each bounded by the chunk size.  A
        # member's bytes are flushed only on d.eof so a truncated final
        # member (CRC unverifiable) is dropped whole, as before.
        import zlib

        chunk_sz = 1 << 20
        out = io.BytesIO()
        member = io.BytesIO()
        mv = memoryview(data)
        pos, n = 0, len(data)
        d = zlib.decompressobj(wbits=31)
        buf: object = b""
        while True:
            if not buf:
                if pos >= n:
                    break
                buf = mv[pos:pos + chunk_sz]
                pos += len(buf)
            try:
                member.write(d.decompress(buf))
            except zlib.error:
                # trailing garbage / corrupt member: drop it and stop
                if stats is not None:
                    stats["bad"] = stats.get("bad", 0) + 1
                member = None
                break
            if d.eof:
                out.write(member.getbuffer())
                member = io.BytesIO()
                buf = d.unused_data  # bounded by chunk_sz
                d = zlib.decompressobj(wbits=31)
            else:
                buf = b""
        if member is not None and member.tell() and stats is not None:
            stats["bad"] = stats.get("bad", 0) + 1  # truncated member
        data = out.getvalue()

    pos = 0
    n = len(data)
    while pos < n:
        head_end = data.find(_CRLF + _CRLF, pos)
        if head_end < 0 or not data.startswith(b"WARC/", pos):
            if stats is not None:
                stats["bad"] = stats.get("bad", 0) + 1
            return
        headers: dict[str, str] = {}
        for line in data[pos:head_end].split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("ascii", "replace")] = (
                v.strip().decode("utf-8", "replace"))
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            if stats is not None:
                stats["bad"] = stats.get("bad", 0) + 1
            return
        payload = data[head_end + 4: head_end + 4 + length]
        if len(payload) < length:
            if stats is not None:
                stats["bad"] = stats.get("bad", 0) + 1
            return  # truncated tail
        pos = head_end + 4 + length
        # skip the inter-record CRLF CRLF (tolerate its absence at EOF)
        while data[pos:pos + 2] == _CRLF:
            pos += 2
        rtype = headers.get("warc-type")
        if rtype not in record_types:
            continue
        url = headers.get("warc-target-uri")
        ts = headers.get("warc-date")
        if url is None or ts is None:
            continue
        if rtype == "response":
            body_at = payload.find(_CRLF + _CRLF)
            body = payload[body_at + 4:] if body_at >= 0 else b""
        else:
            body = payload
        yield url, ts, body


def read_warc(spark: SparkSession, path: str,
              with_errors: bool = False) -> DataFrame:
    """WARC file(s) -> DataFrame(url, warc_ts, html) — the north-rule
    input shape minus the derived columns (htmlextract adds ``text``,
    langid adds ``lang``).

    ``path`` accepts everything ``binaryFile`` does (dir, glob, list).
    ``with_errors=True`` appends ``warc_path`` (source file, lineage)
    and ``warc_errors`` (that file's structural-error count — corrupt/
    truncated members, bad lengths; see ``parse_warc_records``) to each
    row, so corruption rates are auditable per file from the output
    itself.  A file so broken it yields ZERO rows carries no rows to
    ride on — reconcile against the crawl's own file listing when
    complete file-level accounting matters.
    """
    schema = PAGES_SCHEMA if not with_errors else T.StructType(
        list(PAGES_SCHEMA) + [T.StructField("warc_path", T.StringType()),
                              T.StructField("warc_errors", T.LongType())])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, tss, bodies, paths, errs = [], [], [], [], []
            for fpath, blob in zip(pdf["path"], pdf["content"]):
                stats: dict = {}
                n0 = len(urls)
                for url, ts, body in parse_warc_records(bytes(blob),
                                                        stats=stats):
                    urls.append(url)
                    tss.append(ts)
                    bodies.append(body)
                    paths.append(fpath)
                errs.extend([stats.get("bad", 0)] * (len(urls) - n0))
            out = {
                "url": urls,
                # WARC-Date is ISO-8601 UTC ("2025-01-01T00:00:05Z")
                "warc_ts": pd.to_datetime(
                    pd.Series(tss, dtype="object"), utc=True, errors="coerce"
                ).dt.tz_localize(None),
                "html": bodies,
            }
            if with_errors:
                out["warc_path"] = paths
                out["warc_errors"] = pd.Series(errs, dtype="int64")
            yield pd.DataFrame(out)

    files = spark.read.format("binaryFile").load(path)
    return files.select("path", "content").mapInPandas(kernel, schema=schema)


WET_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET file(s) (WARC ``conversion`` records — Common Crawl's
    pre-extracted text dumps, ~1/5 the bytes of the WARC) ->
    DataFrame(url, warc_ts, text).  Pipelines that trust CC's own
    extraction start HERE and skip htmlextract entirely; the text
    column feeds `with_langid`/`annotate`/`curate` unchanged.

    Same execution shape as ``read_warc``: one file == one task, a
    pure map, no shuffle; decode is utf-8 with replacement (a crawl
    conversion record is utf-8 by convention but never by guarantee —
    `encodingfix.py` downstream repairs what survives as mojibake).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, tss, texts = [], [], []
            for blob in pdf["content"]:
                for url, ts, body in parse_warc_records(
                        bytes(blob), record_types=("conversion",)):
                    urls.append(url)
                    tss.append(ts)
                    texts.append(body.decode("utf-8", "replace"))
            yield pd.DataFrame({
                "url": urls,
                "warc_ts": pd.to_datetime(
                    pd.Series(tss, dtype="object"), utc=True,
                    errors="coerce").dt.tz_localize(None),
                "text": texts,
            })

    files = spark.read.format("binaryFile").load(path)
    return files.select("content").mapInPandas(kernel, schema=WET_SCHEMA)


def wet_to_pages(spark: SparkSession, path: str) -> DataFrame:
    """read_wet + langid: WET files straight to (url, warc_ts, text,
    lang) — the hinted pages shape minus ``html`` (WET never carried
    it), one shuffle-free map lineage."""
    from dqc_spark.langid import with_langid

    pages = with_langid(read_wet(spark, path), "text")
    return pages.withColumnRenamed("lang_pred", "lang").drop("lang_conf")


def warc_to_pages(
    spark: SparkSession, path: str, main_content: bool = False
) -> DataFrame:
    """read_warc + html->text extraction + langid: WARC files to the
    full hinted pages table (url, warc_ts, html, text, lang) in one
    shuffle-free map lineage.  ``main_content=True`` swaps the
    everything-textual extractor for the block-classified article text
    (maincontent.py) — nav/footer/link-box boilerplate never enters the
    corpus, so langid and every downstream stage score the article."""
    from dqc_spark.langid import with_langid

    pages = read_warc(spark, path)
    if main_content:
        from dqc_spark.maincontent import main_content_col

        pages = pages.withColumn("text", main_content_col("html"))
    else:
        from dqc_spark.htmlextract import extract_text

        pages = extract_text(pages, html_col="html", text_col="text")
    pages = with_langid(pages, "text")
    return pages.withColumnRenamed("lang_pred", "lang").drop("lang_conf")
