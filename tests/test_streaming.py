"""Streaming parity: the micro-batch pipeline produces the same kept
set as the batch pipeline, and resumes from its checkpoint."""

from pyspark.sql import functions as F

from dqc_spark.audit import MemoryAuditSink
from dqc_spark.pagesgen import generate_pages
from dqc_spark.pipeline import annotate
from dqc_spark.streaming import stream_quality_pipeline


def test_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, 150, n_partitions=3)
    pages.write.parquet(src)

    sink = MemoryAuditSink()
    q = stream_quality_pipeline(spark, src, out, ckpt, audit=sink)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = annotate(spark.read.parquet(src)).filter(F.col("keep"))
    assert got.count() == want.count()
    assert (
        got.select("url", "scrubbed_text").exceptAll(
            want.select("url", "scrubbed_text")
        ).count()
        == 0
    )
    assert sink.rows and all(r["check_type"] == "stream_batch_complete"
                             for r in sink.rows)
    total = sum(int(r["params"]["n_docs"]) for r in sink.rows)
    assert total == 150

    # resume: no new files -> a new availableNow run processes nothing new
    q2 = stream_quality_pipeline(spark, src, out, ckpt, audit=sink)
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == want.count()


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    """The watermarked window agg gives the same totals run as a stream
    (availableNow over files) and as a batch frame."""
    from dqc_spark.streaming import windowed_event_counts

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "ev")
    ev.write.parquet(src)

    batch = windowed_event_counts(ev, window="1 hour").select(
        F.col("window.start").alias("ws"), "event_type", "n")

    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    agg = windowed_event_counts(stream, window="1 hour")
    q = (agg.select(F.col("window.start").alias("ws"), "event_type", "n")
         .writeStream.outputMode("complete")
         .format("memory").queryName("winout")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT ws, event_type, n FROM winout")
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_stateful_first_seen_dedup_across_runs(spark, tmp_path):
    """applyInPandasWithState dedup: the seen-set survives micro-batches
    AND query restarts (state store in the checkpoint)."""
    from dqc_spark.pagesgen import PAGES_SCHEMA
    from dqc_spark.streaming import stream_dedup_pipeline

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    import datetime as dt
    ts = dt.datetime(2024, 1, 1)

    def write_round(rows, part):
        df = spark.createDataFrame(
            [(u, ts, b"<html>", t, "en") for u, t in rows], PAGES_SCHEMA
        )
        df.coalesce(1).write.mode("append").parquet(src)

    # round 1: A twice (same text), B once
    write_round([("u1", "text A"), ("u2", "text B"), ("u3", "text A")], 1)
    q = stream_dedup_pipeline(spark, src, out, ckpt)
    q.awaitTermination(120)
    got1 = spark.read.parquet(out)
    assert got1.count() == 2
    assert {r.text_hash for r in got1.collect()} == {
        r.text_hash
        for r in spark.createDataFrame([("text A",), ("text B",)], "t string")
        .select(F.md5("t").alias("text_hash")).collect()
    }
    # same-batch duplicates are counted on the emitted first occurrence
    dups = {r.key: r.n_prior_dups for r in got1.collect()}
    assert dups == {"u1": 1, "u2": 0}

    # round 2 (restarted query, same checkpoint): B again + new C
    write_round([("u4", "text B"), ("u5", "text C")], 2)
    q2 = stream_dedup_pipeline(spark, src, out, ckpt)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(out)
    assert got2.count() == 3  # only C was new; B was absorbed by state
    keys = {r.key for r in got2.collect()}
    assert "u5" in keys and "u4" not in keys


def test_stream_curate_filters_and_dedups_incrementally(spark, tmp_path):
    """One continuous query: gates + scrub + stateful exact dedup.
    Kept set matches the batch pipeline; duplicates never re-emit across
    restarted runs."""
    from dqc_spark.pagesgen import generate_pages
    from dqc_spark.streaming import stream_curate_pipeline

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pages = generate_pages(spark, 120, n_partitions=2)
    pages.write.parquet(src)
    q = stream_curate_pipeline(spark, src, out, ckpt)
    q.awaitTermination(180)

    got = spark.read.parquet(out)
    want = annotate(pages).filter(F.col("keep"))
    n_want_distinct = want.select(F.md5("scrubbed_text")).distinct().count()
    assert got.count() == n_want_distinct
    assert got.select("text_hash").distinct().count() == got.count()
    # streamed rows are genuine pipeline survivors with their payload
    assert got.filter(F.col("scrubbed_text").isNull()).count() == 0

    # second run over the SAME files: nothing new emitted
    q2 = stream_curate_pipeline(spark, src, out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_want_distinct


def test_watermark_drops_late_events_in_append_mode(spark, tmp_path):
    """Late-data semantics pinned explicitly: an event whose timestamp
    is older than (max seen event time - watermark) when its micro-batch
    arrives must be DROPPED from the windowed aggregate in append mode.
    Two file-source micro-batches: batch 1 advances the watermark far
    past the late event's window; batch 2 delivers the late event."""
    import datetime as dt
    import os

    from dqc_spark.streaming import windowed_event_counts

    schema = "event_id long, user_id long, event_type string, value double, ts timestamp, props string"
    src = str(tmp_path / "late_src")
    os.makedirs(src)
    base = dt.datetime(2024, 3, 1, 0, 0, 0)

    def rows(ids_times):
        return spark.createDataFrame(
            [(i, 1, "click", 1.0, t, "{}") for i, t in ids_times], schema
        )

    # batch 1: events at t0 and t0+10h -> watermark (10 min) advances to
    # ~t0+9h50m, far past t0's 1-hour window
    rows([(1, base), (2, base + dt.timedelta(hours=10))]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # batch 2: a LATE event back at t0+5min — its window is finalized
    late_file = rows([(3, base + dt.timedelta(minutes=5))]).coalesce(1)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # ONE checkpoint + file sink across both runs (the memory sink
    # cannot recover from a checkpoint): the watermark advanced by run 1
    # is restored by run 2, which is what makes event 3 late
    ckpt = str(tmp_path / "late_ckpt")
    out = str(tmp_path / "late_out")
    agg = windowed_event_counts(stream, window="1 hour", watermark="10 minutes")

    def run():
        q = (
            agg.select(F.col("window.start").alias("ws"), "event_type", "n")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    first = {(r.ws, r.n) for r in spark.read.parquet(out).collect()}
    assert (base, 1) in first  # t0 window finalized with event 1 only

    late_file.write.mode("append").parquet(src)
    run()
    second = {(r.ws, r.n) for r in spark.read.parquet(out).collect()}
    # the late event's window was already finalized: it must be DROPPED —
    # the restarted run appends nothing for the t0 window (a (t0, 2) row
    # or a duplicate (t0, 1) would mean the watermark state leaked)
    assert second == first, second - first


def test_stateful_dedup_null_text_passthrough(spark, tmp_path):
    """NULL-text docs carry no content evidence: they bypass the
    stateful seen-set (never collapse into one phantom group) and are
    ALL emitted — the snapshot null-digest convention."""
    import datetime as dt

    from dqc_spark.pagesgen import PAGES_SCHEMA
    from dqc_spark.streaming import stream_dedup_pipeline

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ts = dt.datetime(2024, 1, 1)
    from pyspark.sql import types as T

    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in PAGES_SCHEMA]
    )
    df = spark.createDataFrame(
        [
            ("u1", ts, b"<html>", None, "en"),
            ("u2", ts, b"<html>", "text A", "en"),
            ("u3", ts, b"<html>", None, "en"),
            ("u4", ts, b"<html>", "text A", "en"),
        ],
        nullable,
    )
    df.coalesce(1).write.parquet(src)
    q = stream_dedup_pipeline(spark, src, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    keys = {r.key for r in got.collect()}
    # both NULL-text docs survive; the real duplicate pair collapses
    assert {"u1", "u3"} <= keys
    assert ("u2" in keys) ^ ("u4" in keys)
    assert got.count() == 3
    assert got.filter(F.col("text_hash").isNull()).count() == 2


def test_stream_to_snaptable_exactly_once(spark, tmp_path):
    """Micro-batches land as atomic epoch-stamped snapshot commits:
    content matches batch, one version per epoch, a replayed epoch is
    a no-op, and a restart with new files appends only the new
    epochs."""
    from dqc_spark.snaptable import SnapshotTable
    from dqc_spark.streaming import (snaptable_epoch_sink,
                                     stream_curate_to_snaptable)

    src = str(tmp_path / "src")
    root = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, 120, n_partitions=3)
    pages.write.parquet(src)

    sink = MemoryAuditSink()
    q = stream_curate_to_snaptable(spark, src, root, ckpt, audit=sink)
    q.awaitTermination(120)

    t = SnapshotTable(spark, root)
    want = annotate(spark.read.parquet(src)).filter(F.col("keep"))
    assert t.read().count() == want.count()
    hist = t.history()
    epochs = [h["props"]["stream_epoch"] for h in hist]
    assert len(epochs) == len(set(epochs))  # one commit per epoch
    assert hist[0]["operation"] == "create"
    assert all(h["operation"] == "append" for h in hist[1:])

    # direct replay of an already-committed (run, epoch): no new version
    v_before = t.current_version()
    run = hist[0]["props"]["stream_run"]
    replay = snaptable_epoch_sink(spark, root, audit=sink, run_id=run)
    replay(spark.read.parquet(src).limit(5), int(epochs[0]))
    assert t.current_version() == v_before
    assert any(r["check_type"] == "stream_epoch_replay_skipped"
               for r in sink.rows)

    # restart with more files: only the new pages commit.  Pages are a
    # pure function of (SEED, doc_id), so the first 120 of a 180-page
    # generation equal the original set — anti-join selects the rest.
    more = generate_pages(spark, 180, n_partitions=2).join(
        pages.select("url"), "url", "left_anti")
    more.write.mode("append").parquet(src)
    q2 = stream_curate_to_snaptable(spark, src, root, ckpt, audit=sink)
    q2.awaitTermination(120)
    want_all = annotate(spark.read.parquet(src)).filter(F.col("keep"))
    assert t.read().count() == want_all.count()
    assert (
        t.read().select("url", "scrubbed_text").exceptAll(
            want_all.select("url", "scrubbed_text")).count() == 0)


def test_snaptable_sink_run_scoping_and_crash_recovery(spark, tmp_path):
    """The epoch marker is scoped by run id: a NEW query's epoch 0 is
    not an old run's replay (bare batch ids are not globally unique),
    and a crash during the first create (meta/ exists, no committed
    manifest) must retake the create path instead of wedging on
    append."""
    import os

    import pytest

    from dqc_spark.snaptable import SnapshotTable
    from dqc_spark.streaming import snaptable_epoch_sink

    pages = generate_pages(spark, 40, n_partitions=2)
    root = str(tmp_path / "tbl")
    with pytest.raises(ValueError, match="run_id or checkpoint"):
        snaptable_epoch_sink(spark, root)
    # simulate the first-epoch crash window: dirs exist, nothing committed
    os.makedirs(os.path.join(root, "meta"))
    s1 = snaptable_epoch_sink(spark, root, run_id="runA")
    s1(pages, 0)
    t = SnapshotTable(spark, root)
    assert t.current_version() == 1
    n1 = t.read().count()
    # same (run, epoch) -> replay skip, no new version
    s1(pages, 0)
    assert t.current_version() == 1
    # same epoch id from a DIFFERENT run -> real data, commits
    s2 = snaptable_epoch_sink(spark, root, run_id="runB")
    s2(pages, 0)
    assert t.current_version() == 2
    assert t.read().count() == 2 * n1


def test_snaptable_sink_replay_survives_concurrent_writers(
        spark, tmp_path):
    """The replay guard must find this run's marker however many
    versions OTHER writers committed since (a fixed global-version
    window would scroll it out of sight and double-commit), and must
    treat any epoch <= the run's newest marker as a replay."""
    from pyspark.sql import Row

    from dqc_spark.snaptable import SnapshotTable
    from dqc_spark.streaming import snaptable_epoch_sink

    pages = generate_pages(spark, 30, n_partitions=2)
    root = str(tmp_path / "tbl")
    s = snaptable_epoch_sink(spark, root, run_id="runA")
    s(pages, 0)
    t = SnapshotTable(spark, root)
    n_after_epoch0 = t.read().count()
    # other writers advance the table many versions
    extra = t.read().limit(1)
    for _ in range(6):
        t.append(extra)
    # replay of runA epoch 0: marker is 6 versions back — still found
    s(pages, 0)
    assert t.current_version() == 7  # no new commit
    # an epoch BELOW the run's newest marker is also a replay
    s(pages, 1)
    assert t.current_version() == 8  # epoch 1 committed
    s(pages, 0)
    assert t.current_version() == 8  # 0 <= newest(1) -> skip
    assert t.read().count() == n_after_epoch0 * 2 + 6
