"""``curate_incremental`` hands ``curate`` a frame whose plan is cut
below the digest anti-join: ``curate`` makes dozens of DataFrame calls,
and each one re-analyzed the join inside an ever deeper plan (the second
increment stalled for minutes in Catalyst constraint inference)."""

import pytest

from dqc_spark import resume
from dqc_spark.audit import ParquetAuditSink
from dqc_spark.pagesgen import generate_pages
from dqc_spark.snapshot import content_digests


class _Captured(Exception):
    pass


def test_curate_incremental_gives_curate_a_join_free_plan(
        spark, tmp_path, monkeypatch):
    pages = generate_pages(spark, 40, n_partitions=2)
    state = str(tmp_path / "state")
    # a prior run ingested part of the input, so this run anti-joins
    content_digests(pages.orderBy("url").limit(15), "text") \
        .write.parquet(state)
    seen = {}

    def _capture(df, **_kw):
        seen["plan"] = df._jdf.queryExecution().analyzed().toString()
        seen["rows"] = df.count()
        raise _Captured

    monkeypatch.setattr(resume, "curate", _capture)
    with pytest.raises(_Captured):
        resume.curate_incremental(
            spark, pages, str(tmp_path / "out"),
            ParquetAuditSink(spark, str(tmp_path / "audit")), "rg",
            state_path=state)
    assert "Join" not in seen["plan"], seen["plan"]
    assert 0 < seen["rows"] < 40
