"""Driver-side audit commits: ``SnapshotTable.append_rows`` and the
audit sinks that flush through it write one pyarrow parquet file and
start no Spark job.  Files written this way must read back exactly like
the files the Spark write path produced (a table may hold both), keep
the snapshot commit protocol (crash orphans, concurrent appends), and
store ``ts`` as the logged UTC instant whatever the driver's zone."""

import collections
import datetime as dt
import json
import os
import subprocess
import sys
import threading

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dqc_spark import snaptable
from dqc_spark.audit import (
    AUDIT_SCHEMA,
    ParquetAuditSink,
    SnapshotAuditSink,
)
from dqc_spark.monitor import audit_anomalies

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_EPOCH = dt.datetime(1970, 1, 1)


def _log_sample(sink) -> list[dict]:
    sink.log("is_column_unique", True, {"column": "id", "table": "t"},
             error_count=0, partition_id=3, input_snapshot="v7")
    sink.log("is_not_null", False, {"column": "name"}, error_count=12)
    sink.log("partition_complete", True, {})
    return [dict(r) for r in sink.rows]


def _spark_written(spark, rows):
    """The Spark write path's frame for ``rows``: ``ts`` made UTC-aware
    so the legacy file holds the right instant in any driver zone."""
    fixed = [dict(r, ts=r["ts"].replace(tzinfo=dt.timezone.utc))
             for r in rows]
    return spark.createDataFrame(fixed, schema=AUDIT_SCHEMA).coalesce(1)


def _as_dicts(df, run_id):
    out = (df.filter(F.col("run_id") == run_id)
           .withColumn("ts", F.unix_micros("ts")).drop("run_id")
           .orderBy("seq").collect())
    return [r.asDict(recursive=True) for r in out]


def _expected(rows):
    return [
        {**{k: v for k, v in r.items() if k != "run_id"},
         "ts": (r["ts"] - _EPOCH) // dt.timedelta(microseconds=1)}
        for r in rows
    ]


def _data_files(tbl) -> set[str]:
    return {os.path.relpath(os.path.join(d, n), tbl.root)
            for d, _, names in os.walk(tbl.data) for n in names
            if n.endswith(".parquet") and not n.startswith(".")}


def _types(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_snapshot_sink_driver_file_matches_spark_file(spark, tmp_path):
    sink = SnapshotAuditSink(spark, str(tmp_path / "audit"))
    rows = _log_sample(sink)
    tbl = sink._tbl()
    v_spark = tbl.append(_spark_written(spark, rows))
    sink.rows = [dict(r, run_id="driver") for r in rows]
    sink.flush()
    v_driver = tbl.current_version()
    assert v_driver == v_spark + 1 and sink.rows == []

    got = sink.read()
    # the mergeSchema read over both files keeps the audit types; the
    # parquet reader reports every column nullable for both writers
    assert _types(got.schema) == _types(AUDIT_SCHEMA)
    assert {f.nullable for f in got.schema.fields} == {True}
    want = _expected(rows)
    assert _as_dicts(got, rows[0]["run_id"]) == want
    assert _as_dicts(got, "driver") == want
    assert want[2]["error_count"] is None
    assert want[2]["partition_id"] is None
    assert want[0]["params"] == {"column": "id", "table": "t"}

    assert sink.read_version(v_spark).count() == 3
    assert sink.read_version(v_driver).count() == 6
    # show-logs prints no run_id: each line must appear once per file
    body = sink.print_all_logs().splitlines()[2:]
    assert len(body) == 6
    assert set(collections.Counter(body).values()) == {2}
    an = audit_anomalies(got)

    def _anomalies(run_id):
        return sorted(tuple(r) for r in an.filter(
            F.col("run_id") == run_id).drop("run_id").collect())

    assert _anomalies(rows[0]["run_id"]) == _anomalies("driver")
    assert len(_anomalies("driver")) == 3
    sink.clear_logs()
    assert sink.read().count() == 0
    assert sink.read_version(v_driver).count() == 6


def test_parquet_sink_driver_file_matches_spark_file(spark, tmp_path):
    path = str(tmp_path / "audit")
    sink = ParquetAuditSink(spark, path)
    rows = _log_sample(sink)
    _spark_written(spark, rows).write.mode("append").parquet(path)
    sink.rows = [dict(r, run_id="driver") for r in rows]
    sink.flush()
    driver_files = [n for n in os.listdir(path)
                    if n.startswith("part-") and n.endswith(".parquet")
                    and not n.endswith(".snappy.parquet")]
    assert len(driver_files) == 1
    assert not [n for n in os.listdir(path) if n.endswith(".tmp")]
    got = sink.read()
    assert _as_dicts(got, "driver") == _as_dicts(got, rows[0]["run_id"]) \
        == _expected(rows)
    body = sink.print_all_logs().splitlines()[2:]
    assert set(collections.Counter(body).values()) == {2}
    sink.clear_logs()
    assert sink.read().count() == 0


def test_snapshot_sink_flush_starts_no_spark_job(spark, tmp_path):
    sink = SnapshotAuditSink(spark, str(tmp_path / "audit"))
    sink._tbl()  # creating the table is a Spark write; flushes are not
    sc = spark.sparkContext
    group = "audit-flush-no-job"
    sc.setJobGroup(group, "audit flush guard")
    try:
        _log_sample(sink)
        sink.flush()
        jobs_in_flush = sc.statusTracker().getJobIdsForGroup(group)
        spark.range(3).count()  # the guard does see this group's jobs
        jobs_after_count = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs_in_flush == []
    assert jobs_after_count
    assert sink.read().count() == 3


def test_append_rows_rejects_partitioned_table(spark, tmp_path):
    df = spark.createDataFrame([Row(k="a", day="d1")])
    part = snaptable.create(spark, str(tmp_path / "p"), df,
                            partition_cols=["day"])
    with pytest.raises(ValueError, match="unpartitioned"):
        part.append_rows([{"k": "b", "day": "d2"}])
    assert part.current_version() == 1
    flat = snaptable.create(spark, str(tmp_path / "f"), df)
    flat.append_rows([{"k": "b", "day": "d2"}])
    assert sorted(r["k"] for r in flat.read().collect()) == ["a", "b"]


def test_append_rows_crash_before_manifest_leaves_vacuumable_orphan(
        spark, tmp_path, monkeypatch):
    sink = SnapshotAuditSink(spark, str(tmp_path / "audit"))
    _log_sample(sink)
    sink.flush()
    tbl = sink._tbl()
    v0 = tbl.current_version()
    before = _data_files(tbl)

    def _die(*_a, **_k):
        raise OSError("writer died before its manifest")

    monkeypatch.setattr(tbl, "_commit", _die)
    sink.log("lost", True, {})
    with pytest.raises(OSError):
        sink.flush()
    monkeypatch.undo()
    orphans = _data_files(tbl) - before
    assert len(orphans) == 1
    assert tbl.current_version() == v0
    assert sink.read().filter(F.col("check_type") == "lost").count() == 0
    assert tbl.vacuum() == sorted(orphans)
    assert _data_files(tbl) == before
    assert sink.read().count() == 3
    sink.flush()  # the buffered row survives the failed flush
    assert sink.read().filter(F.col("check_type") == "lost").count() == 1


def test_append_rows_racing_spark_append_both_land(spark, tmp_path):
    sink = SnapshotAuditSink(spark, str(tmp_path / "audit"))
    rows = _log_sample(sink)
    sink.rows = []
    tbl = sink._tbl()
    v0 = tbl.current_version()
    frame = _spark_written(spark, [dict(r, run_id="spark") for r in rows])
    rounds = 3
    errors: list[BaseException] = []
    gate = threading.Barrier(2)

    def _run(fn):
        try:
            for _ in range(rounds):
                gate.wait()
                fn()
        except BaseException as exc:  # surfaced by the assert below
            errors.append(exc)
            gate.abort()

    arrow_tbl = snaptable.SnapshotTable(spark, tbl.root)
    spark_tbl = snaptable.SnapshotTable(spark, tbl.root)
    threads = [
        threading.Thread(target=_run, args=(
            lambda: arrow_tbl.append_rows(
                [dict(r, run_id="driver") for r in rows]),)),
        threading.Thread(target=_run, args=(
            lambda: spark_tbl.append(frame),)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert tbl.current_version() == v0 + 2 * rounds
    counts = {r["run_id"]: r["count"] for r in
              tbl.read().groupBy("run_id").count().collect()}
    assert counts == {"driver": 3 * rounds, "spark": 3 * rounds}


_TZ_SCRIPT = r"""
import json, sys
from dqc_spark.audit import ParquetAuditSink, SnapshotAuditSink
from dqc_spark.session import get_spark

spark = get_spark(app_name="audit_tz", master="local[1]",
                  shuffle_partitions=1)
out = {}
for name, cls in (("parquet", ParquetAuditSink),
                  ("snapshot", SnapshotAuditSink)):
    sink = cls(spark, f"{sys.argv[1]}/{name}")
    sink.log("check", True, {})
    logged = sink.rows[0]["ts"]
    sink.flush()
    got = sink.read().selectExpr("cast(ts as string) AS s").first()["s"]
    shown = " ".join(sink.print_all_logs().splitlines()[2].split()[1:3])
    out[name] = [logged.isoformat(sep=" "), got, shown]
spark.stop()
print("RESULT " + json.dumps(out))
"""


def test_audit_ts_is_utc_under_non_utc_driver_zone(tmp_path):
    """``ts`` is logged as naive UTC; the sinks must store that instant,
    and show-logs print it, even when the driver's local zone is not
    UTC."""
    env = dict(os.environ, TZ="America/New_York", PYTHONPATH=REPO,
               DQC_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _TZ_SCRIPT, str(tmp_path)],
        env=env, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-2000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert set(out) == {"parquet", "snapshot"}
    for name, (logged, got, shown) in out.items():
        for seen in (got, shown):
            skew = abs(dt.datetime.fromisoformat(seen)
                       - dt.datetime.fromisoformat(logged))
            assert skew < dt.timedelta(seconds=5), (name, logged, seen)


@pytest.mark.parametrize("cls", [ParquetAuditSink, SnapshotAuditSink])
def test_sink_path_takes_file_uri_and_refuses_other_schemes(
        spark, tmp_path, cls):
    path = tmp_path / "audit"
    sink = cls(spark, path.as_uri())
    assert sink.path == str(path)
    _log_sample(sink)
    sink.flush()
    assert sink.read().count() == 3
    assert cls(spark, str(path)).read().count() == 3
    with pytest.raises(ValueError, match="local directory"):
        cls(spark, "hdfs://namenode/audit")
