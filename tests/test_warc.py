"""WARC ingestion: author archives with the pure-python writer, read
them back through the distributed reader, and pin the full
WARC -> pages-table lineage (url, warc_ts, html, text, lang)."""

import datetime
import gzip

import pytest

from dqc_spark.warc import (
    parse_warc_records,
    read_warc,
    warc_bytes,
    warc_record_bytes,
    warc_to_pages,
)

ROWS = [
    ("http://example.com/a", "2025-01-01T00:00:05Z",
     b"<html><body>Hello A, the quick brown fox.</body></html>"),
    ("http://example.com/b", "2025-01-02T10:30:00Z",
     "<html><body>中文文档内容</body></html>".encode()),
    ("http://example.com/c", "2025-01-03T23:59:59Z", b""),
]


# ---------------------------------------------------------------------------
# pure-python parser
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("gz", [False, True])
def test_roundtrip(gz):
    data = warc_bytes(ROWS, gzip_members=gz)
    assert list(parse_warc_records(data)) == ROWS


def test_whole_file_gzip():
    # single-member gzip of the whole archive (not the CC convention,
    # but readers must tolerate it)
    data = gzip.compress(warc_bytes(ROWS), mtime=0)
    assert list(parse_warc_records(data)) == ROWS


def test_truncated_tail_yields_prefix():
    data = warc_bytes(ROWS)
    assert list(parse_warc_records(data[:-20])) == ROWS[:2]


def test_truncated_gzip_member_yields_prefix():
    data = warc_bytes(ROWS, gzip_members=True)
    assert list(parse_warc_records(data[:-10])) == ROWS[:2]


def test_non_response_records_skipped():
    req = warc_record_bytes("http://x/", "2025-01-01T00:00:00Z", b"GET /")
    req = req.replace(b"WARC-Type: response", b"WARC-Type: request")
    data = req + warc_bytes(ROWS[:1]) + req
    assert list(parse_warc_records(data)) == ROWS[:1]


def test_garbage_and_empty_inputs():
    assert list(parse_warc_records(b"")) == []
    assert list(parse_warc_records(b"not a warc at all")) == []
    assert list(parse_warc_records(b"WARC/1.0\r\nno-blank-line")) == []


def test_bad_content_length_ends_file():
    rec = warc_record_bytes("http://x/", "2025-01-01T00:00:00Z", b"ok")
    broken = rec.replace(b"Content-Length: ", b"Content-Length: zz", 1)
    assert list(parse_warc_records(broken)) == []
    # parseable prefix before the broken record still comes through
    assert list(parse_warc_records(warc_bytes(ROWS[:1]) + broken)) == ROWS[:1]


def test_headerless_http_payload_gives_empty_body():
    # a response record whose payload has no CRLFCRLF split
    rec = warc_record_bytes("http://x/", "2025-01-01T00:00:00Z", b"b")
    # strip the HTTP header block entirely: rebuild with a raw payload
    http = b"HTTP/1.1 200 OK"  # no blank line, no body
    header = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://y/\r\n"
        b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(http)
    )
    out = list(parse_warc_records(header + http + b"\r\n\r\n" + rec))
    assert out[0] == ("http://y/", "2025-01-01T00:00:00Z", b"")
    assert out[1][0] == "http://x/"


# ---------------------------------------------------------------------------
# distributed reader
# ---------------------------------------------------------------------------


def _write_archives(tmp_path):
    (tmp_path / "part-0.warc.gz").write_bytes(
        warc_bytes(ROWS[:2], gzip_members=True))
    (tmp_path / "part-1.warc").write_bytes(warc_bytes(ROWS[2:]))
    return str(tmp_path)


def test_read_warc(spark, tmp_path):
    path = _write_archives(tmp_path)
    out = read_warc(spark, path).orderBy("url").collect()
    assert [r.url for r in out] == [u for u, _, _ in ROWS]
    assert [bytes(r.html) for r in out] == [b for _, _, b in ROWS]
    assert out[0].warc_ts == datetime.datetime(2025, 1, 1, 0, 0, 5)


def test_read_warc_with_errors_lineage(spark, tmp_path):
    path = _write_archives(tmp_path)
    out = read_warc(spark, path, with_errors=True).orderBy("url").collect()
    assert out[0].warc_path.endswith("part-0.warc.gz")
    assert out[2].warc_path.endswith("part-1.warc")
    # clean archives: zero structural errors counted
    assert [r.warc_errors for r in out] == [0, 0, 0]


def test_read_warc_error_count(spark, tmp_path):
    """A truncated file's surviving rows carry its error count — the
    documented 'counted per file when with_errors is set' contract."""
    (tmp_path / "good.warc").write_bytes(warc_bytes(ROWS[:1]))
    (tmp_path / "trunc.warc").write_bytes(warc_bytes(ROWS[1:])[:-10])
    out = {r.url: r for r in
           read_warc(spark, str(tmp_path), with_errors=True).collect()}
    assert out[ROWS[0][0]].warc_errors == 0
    assert out[ROWS[1][0]].warc_errors >= 1  # lost its tail record
    assert ROWS[2][0] not in out


def test_parse_warc_records_stats():
    stats: dict = {}
    assert list(parse_warc_records(warc_bytes(ROWS), stats=stats)) == ROWS
    assert stats.get("bad", 0) == 0
    stats = {}
    data = warc_bytes(ROWS, gzip_members=True)
    assert list(parse_warc_records(data[:-20], stats=stats)) == ROWS[:2]
    assert stats["bad"] >= 1  # truncated final gzip member
    stats = {}
    assert list(parse_warc_records(warc_bytes(ROWS)[:-10],
                                   stats=stats)) == ROWS[:2]
    assert stats["bad"] == 1  # truncated plain payload


def test_warc_to_pages_full_lineage(spark, tmp_path):
    path = _write_archives(tmp_path)
    pages = warc_to_pages(spark, path)
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    rows = {r.url: r for r in pages.collect()}
    assert "Hello A, the quick brown fox." in rows["http://example.com/a"].text
    assert rows["http://example.com/a"].lang == "en"
    assert "中文" in rows["http://example.com/b"].text
    # ingestion is a pure map lineage: no exchange anywhere in the plan
    plan = pages._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# CLI verb
# ---------------------------------------------------------------------------


def test_cli_ingest_warc(capsys, spark, tmp_path):
    from dqc_spark import cli

    path = _write_archives(tmp_path)
    out_p = str(tmp_path / "pages.parquet")
    rc = cli.main(["--db-path", str(tmp_path / "q.db"),
                   "ingest-warc", "--input", path, "--output", out_p])
    printed = capsys.readouterr().out
    assert rc == 0
    assert "ingested 3 pages" in printed
    pages = spark.read.parquet(out_p)
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert pages.count() == 3


def test_cli_ingest_warc_raw(capsys, spark, tmp_path):
    from dqc_spark import cli

    path = _write_archives(tmp_path)
    out_p = str(tmp_path / "raw.parquet")
    rc = cli.main(["--db-path", str(tmp_path / "q.db"),
                   "ingest-warc", "--input", path, "--output", out_p,
                   "--raw"])
    assert rc == 0
    assert spark.read.parquet(out_p).columns == ["url", "warc_ts", "html"]


# ---------------------------------------------------------------------------
# WET (conversion records)
# ---------------------------------------------------------------------------

WET_ROWS = [
    ("http://example.com/a", "2025-01-01T00:00:05Z",
     "Hello A, the quick brown fox."),
    ("http://example.com/b", "2025-01-02T10:30:00Z", "中文文档内容 line\ntwo"),
    ("http://example.com/c", "2025-01-03T23:59:59Z", ""),
]


@pytest.mark.parametrize("gz", [False, True])
def test_wet_roundtrip(gz):
    from dqc_spark.warc import parse_warc_records, wet_bytes

    data = wet_bytes(WET_ROWS, gzip_members=gz)
    got = list(parse_warc_records(data, record_types=("conversion",)))
    assert [(u, t, b.decode()) for u, t, b in got] == WET_ROWS
    # default record_types must NOT surface conversion records
    assert list(parse_warc_records(data)) == []


def test_wet_mixed_archive_type_routing():
    """An archive holding response + conversion records routes each
    record type to the right reader — and a conversion body containing
    CRLFCRLF is NOT mis-framed as an HTTP envelope."""
    from dqc_spark.warc import (parse_warc_records, warc_bytes,
                                wet_record_bytes)

    tricky = "para one\r\n\r\npara two"
    data = (warc_bytes(ROWS[:1])
            + wet_record_bytes("http://w/", "2025-01-01T00:00:00Z", tricky))
    assert list(parse_warc_records(data)) == ROWS[:1]
    got = list(parse_warc_records(data, record_types=("conversion",)))
    assert got == [("http://w/", "2025-01-01T00:00:00Z", tricky.encode())]


def test_read_wet(spark, tmp_path):
    from dqc_spark.warc import read_wet, wet_bytes

    (tmp_path / "part-0.warc.wet.gz").write_bytes(wet_bytes(WET_ROWS[:2]))
    (tmp_path / "part-1.warc.wet.gz").write_bytes(wet_bytes(WET_ROWS[2:]))
    got = {r.url: r for r in read_wet(spark, str(tmp_path)).collect()}
    assert set(got) == {u for u, _, _ in WET_ROWS}
    assert got["http://example.com/b"].text == WET_ROWS[1][2]
    assert got["http://example.com/c"].text == ""
    assert got["http://example.com/a"].warc_ts == datetime.datetime(
        2025, 1, 1, 0, 0, 5)


def test_wet_to_pages(spark, tmp_path):
    from dqc_spark.warc import wet_bytes, wet_to_pages

    en = ("the quick brown fox jumps over the lazy dog and then "
          "the fox sleeps because it is tired of all the jumping")
    (tmp_path / "d.warc.wet.gz").write_bytes(wet_bytes(
        [("http://example.com/en", "2025-01-01T00:00:00Z", en)]))
    rows = wet_to_pages(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0].text == en
    assert rows[0].lang == "en"
    assert set(rows[0].asDict()) == {"url", "warc_ts", "text", "lang"}
