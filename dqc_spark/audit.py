"""Audit-log sinks.

The reference logs every check to a SQLite table
``log(id INTEGER PRIMARY KEY AUTOINCREMENT, timestamp TEXT,
data_quality_check_type TEXT, result INTEGER, additional_params TEXT)``
(/root/reference/internal/db/connector.go:50-57; insert :97-101; params
JSON-serialized :74; RFC3339 timestamps :86-94).  SQLite is the
non-distributed piece the north rule replaces: here the primary sink is
an append-only Parquet (Iceberg-shaped) table that tolerates concurrent
appends from distributed runs and carries per-partition lineage for
checkpoint-resume; a SQLite sink is kept for byte-level test parity
with the reference.

Audit schema (FIXTURES.md §4):
  run_id:string, seq:long, ts:timestamp, check_type:string,
  result:boolean, error_count:long, params:map<string,string>,
  partition_id:int, input_snapshot:string

``(run_id, seq)`` replaces SQLite AUTOINCREMENT — there are no global
sequences in a distributed engine; run_id is unique per run and seq is
a driver-side counter (checks are driven from the driver, so this is a
plain int, not a coordination problem).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import sqlite3
import urllib.parse
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from dqc_spark import snaptable

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("check_type", T.StringType(), False),
        T.StructField("result", T.BooleanType(), False),
        T.StructField("error_count", T.LongType(), True),
        T.StructField("params", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("input_snapshot", T.StringType(), True),
    ]
)


def _local_dir(path: str) -> str:
    """The sink's directory as a local path: flushes write it with os
    calls while reads go through Spark, so a ``file:`` URI is reduced to
    its path and any other URI scheme is refused (its rows would land in
    a literal local ``hdfs:`` directory that ``read()`` never looks at)."""
    u = urllib.parse.urlparse(path)
    if u.scheme == "file" and u.netloc in ("", "localhost"):
        return u.path
    if u.scheme:
        raise ValueError(f"audit sink path must be a local directory: {path}")
    return path


def _utcnow() -> _dt.datetime:
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)


class MemoryAuditSink:
    """In-memory sink for unit tests."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self.run_id = uuid.uuid4().hex
        self._seq = 0

    def log(self, check_type: str, result: bool, params: dict,
            error_count: int | None = None, partition_id: int | None = None,
            input_snapshot: str | None = None) -> None:
        self._seq += 1
        self.rows.append(
            {
                "run_id": self.run_id,
                "seq": self._seq,
                "ts": _utcnow(),
                "check_type": check_type,
                "result": bool(result),
                "error_count": error_count,
                "params": {k: str(v) for k, v in (params or {}).items()},
                "partition_id": partition_id,
                "input_snapshot": input_snapshot,
            }
        )

    def clear(self) -> None:
        self.rows.clear()


class ParquetAuditSink(MemoryAuditSink):
    """Append-only Parquet audit table (Iceberg-shaped).

    Rows are buffered driver-side and appended on ``flush()`` (one file
    per flush — audit volume is one row per check per run, so tiny).
    The flush writes that file with pyarrow on the driver, not with a
    Spark job, under a hidden temp name that ``os.replace`` publishes
    whole (Spark's listing skips ``.``-prefixed files), so a reader
    never sees a half-written file; the path is a local directory.
    Concurrent runs write distinct files (distinct run_id); readers see
    a union — the same append-only contract an Iceberg commit gives,
    minus snapshot isolation, which ``SnapshotAuditSink`` adds.
    """

    def __init__(self, spark: SparkSession, path: str) -> None:
        super().__init__()
        self.spark = spark
        self.path = _local_dir(path)

    def flush(self) -> None:
        if not self.rows:
            return
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        snaptable.write_rows(self.rows, AUDIT_SCHEMA, tmp)
        os.replace(tmp, os.path.join(self.path, name))
        self.rows = []

    def read(self):
        return self.spark.read.schema(AUDIT_SCHEMA).parquet(self.path)

    def print_all_logs(self) -> str:
        """show-logs parity (connector.go:109-157): ordered fixed-width
        render with PASS/FAIL.  ts leads the sort — run_id is a random
        uuid, so (run_id, seq) alone would interleave runs arbitrarily
        instead of chronologically (the reference orders by its
        AUTOINCREMENT id = insertion order)."""
        rows = self.read().orderBy("ts", "run_id", "seq").collect()
        # collect turns ts into a naive datetime in the driver's local
        # zone; print the logged UTC time, as the other sinks do
        return format_log_rows([
            dict(r.asDict(), ts=r["ts"].astimezone(_dt.timezone.utc)
                 .replace(tzinfo=None))
            for r in rows])

    def clear_logs(self) -> None:
        """clean-logs parity (connector.go:160-172 DELETE FROM log):
        overwrite with empty."""
        empty = self.spark.createDataFrame([], schema=AUDIT_SCHEMA)
        empty.write.mode("overwrite").parquet(self.path)
        self.rows = []


class SnapshotAuditSink(ParquetAuditSink):
    """Audit sink backed by a snapshot table (snaptable.py): every
    flush is an ATOMIC versioned commit, so concurrent runs' audit
    appends serialize cleanly and "the metrics as of run N" is a time
    travel read — the full Iceberg-audit-table contract the north rule
    names, not just append-only parquet.  A flush is one driver-side
    file plus one manifest (``SnapshotTable.append_rows``), no Spark
    job.  ``clear_logs`` is itself a committed version (delete-all), so
    the history survives the wipe.
    """

    def __init__(self, spark: SparkSession, path: str) -> None:
        super().__init__(spark, path)
        self._table = None

    def _tbl(self):
        if self._table is None:
            t = snaptable.SnapshotTable(self.spark, self.path)
            try:
                t.current_version()
            except FileNotFoundError:
                t = snaptable.create(
                    self.spark,
                    self.path,
                    self.spark.createDataFrame([], schema=AUDIT_SCHEMA),
                )
            self._table = t
        return self._table

    def flush(self) -> None:
        if not self.rows:
            return
        self._tbl().append_rows(self.rows)
        self.rows = []

    def read(self):
        return self._tbl().read()

    def read_version(self, version: int):
        """Time travel: the audit table as of commit ``version``."""
        return self._tbl().read(version=version)

    def clear_logs(self) -> None:
        self._tbl().delete_where("true")
        self.rows = []


def format_log_rows(rows) -> str:
    header = f"{'SEQ':>4}  {'TIMESTAMP':<27} {'CHECK':<34} {'RESULT':<6} PARAMS"
    lines = [header, "-" * len(header)]
    for r in rows:
        res = "PASS" if r["result"] else "FAIL"
        params = json.dumps(r["params"] or {}, sort_keys=True)
        lines.append(
            f"{r['seq']:>4}  {str(r['ts']):<27} {r['check_type']:<34} {res:<6} {params}"
        )
    return "\n".join(lines)


class SQLiteAuditSink:
    """Reference-parity local sink: identical DDL and row shape to
    connector.go:50-57 / :97-101 (timestamp RFC3339, result 0/1, params
    as a JSON string).  Only for single-node test parity — never used in
    the distributed pipeline."""

    CREATE = """
    CREATE TABLE IF NOT EXISTS log (
        id INTEGER PRIMARY KEY AUTOINCREMENT,
        timestamp TEXT,
        data_quality_check_type TEXT,
        result INTEGER,
        additional_params TEXT
    )
    """

    def __init__(self, db_path: str) -> None:
        self.db_path = db_path
        os.makedirs(os.path.dirname(os.path.abspath(db_path)), exist_ok=True)
        with self._conn() as c:
            c.execute(self.CREATE)

    def _conn(self):
        # sqlite3's `with conn` ends the TRANSACTION, not the connection;
        # closing() makes the handle lifetime explicit instead of leaving
        # it to refcount GC (latent fd leak / 'database is locked')
        import contextlib

        return contextlib.closing(sqlite3.connect(self.db_path))

    def log(self, check_type: str, result: bool, params: dict,
            error_count: int | None = None, **_ignored) -> None:
        ts = _dt.datetime.now(_dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
        payload = dict(params or {})
        if error_count is not None:
            payload["error_count"] = str(error_count)
        with self._conn() as c, c:
            c.execute(
                "INSERT INTO log (timestamp, data_quality_check_type, result,"
                " additional_params) VALUES (?, ?, ?, ?)",
                (ts, check_type, 1 if result else 0, json.dumps(payload, sort_keys=True)),
            )

    def all_logs(self) -> list[tuple]:
        with self._conn() as c:
            return list(c.execute("SELECT * FROM log ORDER BY id"))

    def clear(self) -> None:
        with self._conn() as c, c:
            c.execute("DELETE FROM log")
