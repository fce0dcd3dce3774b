"""Snapshot-versioned parquet tables: the Iceberg semantics the north
rule assumes, implemented over plain files so the sandbox (no Iceberg
jars) can test them for real instead of hand-waving a SURVEY note.

What production Iceberg gives a 10^12-doc curation pipeline and plain
``df.write.parquet`` does not:

  * **atomic commits** — a crashed writer leaves no half-visible
    output (readers only ever see a committed manifest);
  * **snapshot isolation / time travel** — "the corpus as of run N"
    is a stable input for reproducible training-data builds;
  * **DELETE / MERGE** — takedown requests and re-crawl upserts
    rewrite only the files that contain affected rows (copy-on-write);
  * **manifest-level partition pruning** — the planner selects FILES
    from metadata before Spark ever lists a directory.

This module is the minimal faithful core of that contract:

  layout   <root>/data/<uuid>.parquet        immutable data files
           <root>/meta/v<N>.json             manifest per version
           <root>/meta/_current              pointer to live version

  manifest {version, parent, ts, operation, schema, files:
            [{path, rows, partition: {col: val}}]}

Commit protocol (the same rename-based optimistic concurrency Iceberg
uses on HDFS): data files are written first (invisible until
referenced), then the manifest is created with ``open(..., 'x')`` —
exclusive create, so two writers racing to commit version N+1 collide
on the filename and the loser retries against the winner's manifest.
The ``_current`` pointer is advanced with ``os.replace`` (atomic on
POSIX) and is only a cache: readers that find a stale pointer re-scan
``meta/`` for the max committed version, so a crash between manifest
create and pointer swap loses nothing.

Scale shape: manifests carry file paths + per-file partition values +
row counts — metadata proportional to FILE count, never row count (at
100 TB you would shard the file list into avro manifest-lists exactly
as Iceberg does; JSON is the sandbox spelling of the same structure).
Reads hand Spark an explicit pruned file list, so column pruning /
predicate pushdown on the parquet scan are unchanged.  DELETE/MERGE
read only the files whose partition values can match, rewrite only
the files that actually contain matches, and carry every untouched
file into the new manifest by reference.

Reference parity: the reference stores results in embedded SQLite
(/root/reference/internal/db/connector.go:50-57) — single-writer,
no snapshots; this is the distributed replacement the north rule
names ("Iceberg audit table", checkpoint-resumable runs).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import urllib.parse
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# Spark/Hive writes NULL partition values as this path segment
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

__all__ = [
    "SnapshotTable",
    "create",
    "CommitConflict",
    "write_layout",
    "write_rows",
]

_MAX_COMMIT_RETRIES = 10


def write_layout(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """The layout rule of every ``partitionBy`` write: rebalance by the
    partition columns, so each value lands as about one file, not one
    per (task, value); AQE splits a value above its advisory partition
    size (the Iceberg Spark writer's hash distribution).  No columns:
    ``df`` as is."""
    return df.hint("rebalance", *partition_cols) if partition_cols else df


class CommitConflict(RuntimeError):
    """Another writer committed the same version and the retry budget
    ran out — the caller's read-modify-write must be re-run against
    the new current snapshot (optimistic concurrency contract)."""


def _utc_iso() -> str:
    return _dt.datetime.now(_dt.timezone.utc).isoformat()


def write_rows(rows: list[dict], schema: T.StructType, path: str) -> None:
    """Write driver-resident ``rows`` (dicts keyed by column name) as one
    parquet file at ``path``, typed by the Spark ``schema``: one schema,
    no hand-written Arrow twin, and no Spark job.  ``TimestampType``
    maps to ``timestamp[us, tz=UTC]``, so naive datetimes are taken as
    UTC (not the driver's local zone) and Spark reads the column back
    as ``timestamp``."""
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    # no ARROW:schema footer: Spark reads the parquet types, and that
    # copy is ~0.9 KB of a ~3 KB audit file
    pq.write_table(table, path, store_schema=False)


def _atomic_write(path: str, text: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class SnapshotTable:
    """Handle on a snapshot table rooted at ``root`` (local path).

    All mutation methods commit a NEW version and return its number;
    they never mutate committed files.  Readers pass ``version=`` or
    ``as_of=`` for time travel; default is the current snapshot.
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self.meta = os.path.join(root, "meta")
        self.data = os.path.join(root, "data")

    # -- manifest plumbing -------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.meta, f"v{version}.json")

    def current_version(self) -> int:
        """Live version: the pointer if fresh, else the max committed
        manifest (the pointer is a cache — a crash between manifest
        create and pointer swap must not hide a committed version)."""
        best = 0
        try:
            with open(os.path.join(self.meta, "_current")) as f:
                best = int(f.read().strip())
        except (OSError, ValueError):
            pass
        for name in os.listdir(self.meta):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    best = max(best, int(name[1:-5]))
                except ValueError:
                    continue
        if best == 0:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        return best

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        try:
            with open(self._manifest_path(v)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot v{v} does not exist under {self.root} "
                f"(history: {[m['version'] for m in self.history()]})"
            ) from None

    def history(self) -> list[dict]:
        """Committed snapshots, oldest first: (version, ts, operation,
        n_files, n_rows) — the audit trail of the table itself."""
        out = []
        for name in sorted(os.listdir(self.meta)):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            with open(os.path.join(self.meta, name)) as f:
                m = json.load(f)
            out.append(
                {
                    "version": m["version"],
                    "parent": m["parent"],
                    "ts": m["ts"],
                    "operation": m["operation"],
                    "n_files": len(m["files"]),
                    "n_rows": sum(fe["rows"] for fe in m["files"]),
                    "props": m.get("props", {}),
                }
            )
        out.sort(key=lambda m: m["version"])
        return out

    def _resolve_as_of(self, as_of: str) -> int:
        """Largest version committed at or before ISO timestamp
        ``as_of`` (time travel by wall clock)."""
        best = None
        for m in self.history():
            if m["ts"] <= as_of:
                best = m["version"]
        if best is None:
            raise ValueError(
                f"no snapshot of {self.root} existed at or before {as_of}")
        return best

    # -- write path ---------------------------------------------------------

    def _write_data_files(
        self, df: DataFrame, partition_cols: list[str]
    ) -> list[dict]:
        """Materialize ``df`` as immutable files under data/ and return
        manifest entries, about one file per partition tuple
        (``write_layout``).  Spark writes into a staging dir whose files
        are then registered file-by-file — files are INVISIBLE until a
        manifest references them, which is what makes the commit
        atomic."""
        stage = os.path.join(self.data, f"stage-{uuid.uuid4().hex}")
        w = (write_layout(df, partition_cols).write.mode("overwrite")
             .partitionBy(*partition_cols))
        w.parquet(stage)
        entries: list[dict] = []
        for dirpath, _dirs, files in os.walk(stage):
            rel = os.path.relpath(dirpath, stage)
            part: dict[str, str | None] = {}
            if rel != ".":
                for seg in rel.split(os.sep):
                    k, _, v = seg.partition("=")
                    # Spark URL-escapes special chars in partition paths
                    # and spells NULL as the Hive sentinel
                    part[k] = (None if v == _HIVE_NULL
                               else urllib.parse.unquote(v))
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                fpath = os.path.join(dirpath, name)
                # footer metadata, not a Spark job per file
                n = pq.ParquetFile(fpath).metadata.num_rows
                entries.append(
                    {
                        "path": os.path.relpath(fpath, self.root),
                        "rows": n,
                        "partition": part,
                    }
                )
        return entries

    def _commit(
        self,
        files: list[dict],
        operation: str,
        schema_json: str,
        partition_cols: list[str],
        expected_parent: int | None,
        props: dict | None = None,
    ) -> int:
        """Exclusive-create the next manifest.  ``expected_parent``
        pins the read-modify-write base for operations whose file list
        DEPENDS on the parent (delete/merge/compact): if someone else
        committed meanwhile, raise instead of silently undoing their
        rows.  Append-shaped commits (file list independent of the
        parent) pass None and retry onto the new head, merging its
        file list."""
        for _ in range(_MAX_COMMIT_RETRIES):
            try:
                head = self.current_version()
            except FileNotFoundError:
                head = 0
            if expected_parent is not None and head != expected_parent:
                raise CommitConflict(
                    f"{operation}: snapshot advanced to v{head} during a "
                    f"read-modify-write based on v{expected_parent}; re-run "
                    "against the current snapshot"
                )
            version = head + 1
            if operation == "append" and head > 0:
                # carry the live head's files AND its schema: a retry
                # that raced a concurrent add_column must not stamp the
                # caller's pre-evolution schema into the new manifest
                # (silently reverting the evolution for every reader)
                head_m = self.manifest(head)
                base_files = head_m["files"]
                schema_json = head_m["schema"]
            elif operation == "append":
                base_files = []
            else:
                base_files = None  # caller supplied the full list
            manifest = {
                "version": version,
                "parent": head if head else None,
                "ts": _utc_iso(),
                "operation": operation,
                "schema": schema_json,
                "partition_cols": partition_cols,
                "files": (base_files + files) if base_files is not None else files,
            }
            if props:
                # commit metadata (e.g. the streaming sink's epoch id):
                # atomically visible WITH the data, which is what makes
                # replay-idempotence checks race-free
                manifest["props"] = dict(props)
            try:
                with open(self._manifest_path(version), "x", encoding="utf-8") as f:
                    json.dump(manifest, f)
                    f.flush()
                    os.fsync(f.fileno())
            except FileExistsError:
                continue  # lost the race; retry against the new head
            _atomic_write(os.path.join(self.meta, "_current"), str(version))
            return version
        raise CommitConflict(
            f"{operation}: gave up after {_MAX_COMMIT_RETRIES} commit races")

    def _check_schema(self, df: DataFrame, m: dict, op: str) -> None:
        expected = T.StructType.fromJson(json.loads(m["schema"]))
        got = df.select(*[f.name for f in expected.fields]).schema \
            if set(df.columns) == {f.name for f in expected.fields} else df.schema
        if [(f.name, f.dataType) for f in got.fields] != [
            (f.name, f.dataType) for f in expected.fields
        ]:
            raise ValueError(
                f"{op}: frame schema {got.simpleString()} does not match "
                f"table schema {expected.simpleString()} (this format does "
                "not do schema evolution)")

    def append(self, df: DataFrame, props: dict | None = None) -> int:
        """Atomically add ``df``'s rows; concurrent appends both land
        (the retry merges onto whichever manifest won).  ``props`` ride
        the manifest (visible in ``history()``) — the streaming sink
        stamps its epoch id here so replays are detectable."""
        m = self.manifest()
        self._check_schema(df, m, "append")
        files = self._write_data_files(df, m["partition_cols"])
        return self._commit(
            files, "append", m["schema"], m["partition_cols"], None,
            props=props)

    def append_rows(self, rows: list[dict]) -> int:
        """``append`` for driver-resident rows (an audit flush): one
        parquet file written by pyarrow, no Spark job.  The file lands
        under its final ``data/`` name but stays invisible until the
        manifest references it, like a staged Spark file, and ``vacuum``
        reclaims it if the writer dies first.  Same commit, retry and
        schema carry as ``append``.  Unpartitioned tables only."""
        m = self.manifest()
        if m["partition_cols"]:
            raise ValueError("append_rows needs an unpartitioned table")
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        path = os.path.join("data", f"{uuid.uuid4().hex}.parquet")
        write_rows(rows, schema, os.path.join(self.root, path))
        return self._commit(
            [{"path": path, "rows": len(rows), "partition": {}}], "append",
            m["schema"], [], None)

    def overwrite(self, df: DataFrame) -> int:
        """Replace the ENTIRE table contents as one atomic commit (a
        full curation rebuild): readers see the old corpus until the
        manifest lands, then the new one — never a mix, never a
        half-written directory.  Old versions stay time-travelable."""
        base = self.current_version()
        m = self.manifest(base)
        self._check_schema(df, m, "overwrite")
        files = self._write_data_files(df, m["partition_cols"])
        return self._commit(
            files, "overwrite", m["schema"], m["partition_cols"], base)

    def overwrite_partitions(self, df: DataFrame) -> int:
        """Replace exactly the partitions present in ``df`` (dynamic
        partition overwrite — the resume-idempotency primitive): new
        files for df's partitions, every other live file carried by
        reference."""
        base = self.current_version()
        m = self.manifest(base)
        pcols = m["partition_cols"]
        if not pcols:
            raise ValueError("overwrite_partitions needs a partitioned table")
        self._check_schema(df, m, "overwrite_partitions")
        new_files = self._write_data_files(df, pcols)
        touched = {tuple(sorted(fe["partition"].items())) for fe in new_files}
        kept = [
            fe
            for fe in m["files"]
            if tuple(sorted(fe["partition"].items())) not in touched
        ]
        return self._commit(
            kept + new_files, "overwrite_partitions", m["schema"], pcols, base)

    def delete_where(self, condition: str) -> int:
        """Copy-on-write DELETE: rewrite only the files that contain
        matching rows; untouched files carry by reference.  Takedown /
        GDPR shape — at 100 TB the rewrite cost is proportional to
        affected files, not table size."""
        base = self.current_version()
        m = self.manifest(base)
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        cond = F.expr(condition)
        kept_files: list[dict] = []
        new_files: list[dict] = []
        for fe in m["files"]:
            fdf = self._read_file(fe, schema)
            n_hit = fdf.filter(cond).count()
            if n_hit == 0:
                kept_files.append(fe)
                continue
            survivors = fdf.filter(~cond)
            if survivors.limit(1).count() > 0:
                new_files.extend(
                    self._write_data_files(survivors, m["partition_cols"]))
        return self._commit(
            kept_files + new_files, "delete", m["schema"],
            m["partition_cols"], base)

    def _read_file(self, fe: dict, schema: T.StructType) -> DataFrame:
        """One manifest file with its path-encoded partition columns
        re-attached at their original types — conditions and merge keys
        on partition columns must resolve like any other column.
        Columns the file predates (schema evolution) come back as
        typed NULLs, exactly Iceberg's add-column read semantics."""
        fdf = self.spark.read.parquet(os.path.join(self.root, fe["path"]))
        for k, v in fe["partition"].items():
            fdf = fdf.withColumn(k, self._pcol_lit(schema, k, v))
        return self._reconcile(fdf, schema)

    @staticmethod
    def _reconcile(fdf: DataFrame, schema: T.StructType) -> DataFrame:
        for f in schema.fields:
            if f.name not in fdf.columns:
                fdf = fdf.withColumn(f.name, F.lit(None).cast(f.dataType))
        return fdf.select(*[f.name for f in schema.fields])

    def merge_upsert(self, df: DataFrame, key_cols: list[str]) -> int:
        """MERGE: rows of ``df`` replace live rows with equal keys and
        insert otherwise (the re-crawl upsert).  Copy-on-write like
        delete_where: only files containing a matched key rewrite.
        Duplicate keys WITHIN ``df`` are rejected — 'last wins' has no
        deterministic meaning for a distributed frame."""
        base = self.current_version()
        m = self.manifest(base)
        dup = (
            df.groupBy(*key_cols).count().filter(F.col("count") > 1)
            .limit(1).count()
        )
        if dup:
            raise ValueError(
                f"merge_upsert: source has duplicate keys on {key_cols}")
        self._check_schema(df, m, "merge_upsert")
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        src = df.persist()
        try:
            keys = src.select(*key_cols).persist()
            kept_files: list[dict] = []
            new_files: list[dict] = []
            for fe in m["files"]:
                fdf = self._read_file(fe, schema)
                hit = (
                    fdf.join(F.broadcast(keys), on=key_cols, how="left_semi")
                    .limit(1).count()
                )
                if hit == 0:
                    kept_files.append(fe)
                    continue
                survivors = fdf.join(
                    F.broadcast(keys), on=key_cols, how="left_anti")
                if survivors.limit(1).count() > 0:
                    new_files.extend(
                        self._write_data_files(
                            survivors, m["partition_cols"]))
            new_files.extend(self._write_data_files(src, m["partition_cols"]))
            return self._commit(
                kept_files + new_files, "merge", m["schema"],
                m["partition_cols"], base)
        finally:
            src.unpersist()
            keys.unpersist()

    # -- read path ----------------------------------------------------------

    def read(
        self,
        version: int | None = None,
        as_of: str | None = None,
        partition_filter: dict | None = None,
    ) -> DataFrame:
        """Snapshot read.  ``partition_filter`` prunes FILES from the
        manifest before Spark sees them (metadata pruning — the scan
        never lists or opens excluded files); partition columns are
        re-attached from manifest values.  An empty post-prune file
        list still returns a correctly-typed empty frame."""
        if version is not None and as_of is not None:
            raise ValueError("pass version OR as_of, not both")
        if as_of is not None:
            version = self._resolve_as_of(as_of)
        m = self.manifest(version)
        files = m["files"]
        if partition_filter:

            def _match(fe: dict) -> bool:
                for k, v in partition_filter.items():
                    pv = fe["partition"].get(k)
                    if (pv is None) != (v is None):
                        return False
                    if v is not None and pv != str(v):
                        return False
                return True

            files = [fe for fe in files if _match(fe)]
        pcols = m["partition_cols"]
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        if not files:
            return self.spark.createDataFrame([], schema)
        # one scan per distinct partition tuple (not per file): plan
        # size tracks partition count, and within a group Spark gets
        # the whole path list at once
        groups: dict[tuple, list[str]] = {}
        for fe in files:
            key = tuple(sorted(fe["partition"].items()))
            groups.setdefault(key, []).append(
                os.path.join(self.root, fe["path"]))
        parts = []
        # NULL partition values sort last (tuples may hold None)
        for key, paths in sorted(
                groups.items(),
                key=lambda kv: [(k, v is None, v or "") for k, v in kv[0]]):
            # mergeSchema: one partition group can mix files written
            # before and after an add_column evolution — the default
            # first-footer schema would silently DROP the new column
            # from the whole group
            fdf = self.spark.read.option("mergeSchema", "true").parquet(*paths)
            for k, v in key:
                fdf = fdf.withColumn(k, self._pcol_lit(schema, k, v))
            parts.append(self._reconcile(fdf, schema))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def diff_versions(
        self,
        key_cols: list[str],
        v_from: int,
        v_to: int | None = None,
    ) -> DataFrame:
        """Row-level change audit between two snapshot versions: which
        keys were ``added``, ``removed`` or ``changed`` from ``v_from``
        to ``v_to`` (default: current).  The incremental-curation audit
        question — "what did run N actually do to the corpus" —
        answered from the table itself, no external log needed.

        Scale shape: each side collapses to (key, count, multiset
        fingerprint) BEFORE the join, so the shuffle carries ~50 bytes
        per key and never a text/html column; the join output is only
        the keys that differ.  Unchanged keys (the overwhelming mass of
        a 10^12-doc table between adjacent versions) are filtered out,
        never materialized.

        Row identity: md5 over ``to_json(struct(common non-key cols))``
        in the ``v_to`` schema's column order.  Columns present in only
        ONE version (add_column evolution) are excluded — an added
        column alone does not mark every old row "changed", matching
        Iceberg's add-column read semantics where pre-evolution rows
        surface typed NULLs.  Caveat: map-typed columns have no
        guaranteed to_json key order; diff keys on them are unsupported.

        Duplicate keys are handled as multisets: per key each side
        aggregates (row count, sums of TWO disjoint 31-bit digest
        slices) — a collision would need two different row-sets with
        equal count AND equal sums of both independent slices, ~2^-62
        per changed key, negligible even at 10^9 changed keys per diff
        (a single slice's 2^-31 would expect ~0.5 silent misses at
        that scale) — and a key is ``changed`` when the triple
        differs.  ``n_from``/``n_to`` carry the per-key row counts for
        dup-key diagnosis.

        Returns: ``key_cols…, change ('added'|'removed'|'changed'),
        n_from, n_to`` (counts NULL on the absent side).
        """
        if v_to is None:
            v_to = self.current_version()
        old = self.read(version=v_from)
        new = self.read(version=v_to)
        for k in key_cols:
            if k not in old.columns or k not in new.columns:
                raise ValueError(
                    f"diff_versions: key column {k!r} missing from "
                    f"v{v_from if k not in old.columns else v_to}")
        common = [c for c in new.columns
                  if c in set(old.columns) and c not in key_cols]

        def _fp(df: DataFrame) -> DataFrame:
            # two disjoint 31-bit slices of the row digest: each is
            # summable without bigint overflow below ~2^31 rows per
            # key, and together they give ~62-bit change resistance
            sig = (F.md5(F.to_json(F.struct(*[F.col(c) for c in common])))
                   if common else F.lit(""))
            h = F.md5(sig)

            def _slice(start: int):
                return F.conv(F.substring(h, start, 8), 16, 10) \
                    .cast("bigint") % F.lit(1 << 31)

            return df.groupBy(*key_cols).agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum(_slice(1)).alias("__s"),
                F.sum(_slice(9)).alias("__s2"))

        o = _fp(old).alias("o")
        n = _fp(new).alias("n")
        cond = None
        for k in key_cols:
            c = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
            cond = c if cond is None else (cond & c)
        j = o.join(n, cond, "full_outer")
        change = (
            F.when(F.col("o.__n").isNull(), F.lit("added"))
            .when(F.col("n.__n").isNull(), F.lit("removed"))
            .when(
                (F.col("o.__n") != F.col("n.__n"))
                | (F.col("o.__s") != F.col("n.__s"))
                | (F.col("o.__s2") != F.col("n.__s2")),
                F.lit("changed"))
        )
        keys = [
            F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k)
            for k in key_cols
        ]
        return (
            j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(
                *keys,
                "change",
                F.col("o.__n").alias("n_from"),
                F.col("n.__n").alias("n_to"),
            )
        )

    @staticmethod
    def _pcol_lit(schema: T.StructType, name: str, value: str | None):
        """Partition value (path string or None) as a literal of the
        column's ORIGINAL type — path encoding must not degrade an int
        day column to string on read."""
        dtype = schema[name].dataType
        return (F.lit(None).cast(dtype) if value is None
                else F.lit(value).cast(dtype))

    def add_column(self, name: str, dtype: T.DataType) -> int:
        """Schema evolution: add a nullable column as a METADATA-ONLY
        commit — zero data files touched or rewritten.  Files written
        before the evolution read back with typed NULLs in the new
        column (Iceberg's add-column contract); subsequent writes must
        carry it.  Dropping/renaming/retyping are deliberately not
        offered — each silently breaks old readers, and Iceberg itself
        needs field-ID indirection to do them safely."""
        base = self.current_version()
        m = self.manifest(base)
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        if name in {f.name for f in schema.fields}:
            raise ValueError(f"column {name!r} already exists")
        schema = schema.add(T.StructField(name, dtype, True))
        return self._commit(
            m["files"], "add_column", json.dumps(schema.jsonValue()),
            m["partition_cols"], base)

    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        """Drop the manifests of all but the newest ``keep_last``
        versions (every manifest is self-contained, so removing old
        ones never breaks newer reads), then ``vacuum`` reclaims the
        data files only they referenced.  The retention/storage dial
        a production table needs: time travel works within the kept
        window, storage is bounded by it.  Returns the expired
        version numbers.

        Stream markers survive expiry: before a manifest carrying a
        ``stream_run`` commit marker is removed, its (run, epoch) is
        max-merged into ``meta/stream_markers.json`` so the
        exactly-once replay check (``streaming.snaptable_epoch_sink``)
        still sees the run's newest committed epoch even when a
        crashed query's checkpoint lags the expiry window — without
        the carry-forward a replayed epoch would silently commit
        twice.  Carried markers cost bytes, not retained data files."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        head = self.current_version()
        expired = [
            h["version"] for h in self.history()
            if h["version"] <= head - keep_last
        ]
        carried = self.stream_markers()
        for v in expired:
            props = self.manifest(v).get("props", {})
            run, epoch = props.get("stream_run"), props.get("stream_epoch")
            if run is not None and epoch is not None:
                prev = carried.get(run)
                if prev is None or int(epoch) > prev:
                    carried[run] = int(epoch)
        # markers are persisted BEFORE any manifest is removed: a crash
        # between the two would otherwise lose exactly the markers the
        # carry-forward exists to keep, re-enabling the double-commit
        # (carrying a marker early is harmless — it only ever matches
        # its own run, and max-merge makes the write idempotent)
        if expired and carried:
            _atomic_write(
                os.path.join(self.meta, "stream_markers.json"),
                json.dumps(carried, sort_keys=True),
            )
        for v in expired:
            os.remove(self._manifest_path(v))
        if expired:
            self.vacuum()
        return expired

    def stream_markers(self) -> dict[str, int]:
        """Per-stream-run newest epochs carried forward from EXPIRED
        manifests (``{stream_run: max committed epoch}``).  Live
        manifests are authoritative for anything newer; this file only
        backstops the replay walk when expiry removed the marker."""
        try:
            with open(os.path.join(self.meta, "stream_markers.json")) as f:
                return {str(k): int(v) for k, v in json.load(f).items()}
        except (OSError, ValueError):
            return {}

    def vacuum(self) -> list[str]:
        """Delete data files referenced by NO committed manifest —
        orphans from crashed writers (files land before the manifest;
        a writer that dies in between leaves them).  Files of OLD
        versions are still referenced (time travel) and are never
        touched; marker/checksum files (``_SUCCESS``, ``.crc``) are
        skipped.  Maintenance op: run with no writer in flight — an
        uncommitted writer's staged files look like orphans.  Returns
        the deleted paths."""
        live: set[str] = set()
        for h in self.history():
            for fe in self.manifest(h["version"])["files"]:
                live.add(os.path.normpath(fe["path"]))
        removed: list[str] = []
        for dirpath, _dirs, files in os.walk(self.data, topdown=False):
            for name in files:
                if name.startswith((".", "_")):
                    continue
                fpath = os.path.join(dirpath, name)
                rel = os.path.normpath(os.path.relpath(fpath, self.root))
                if rel not in live:
                    os.remove(fpath)
                    removed.append(rel)
            if not os.listdir(dirpath) and dirpath != self.data:
                os.rmdir(dirpath)
        return sorted(removed)

    def rollback(self, version: int) -> int:
        """Revert the table to ``version``'s contents as a NEW commit
        (the bad-curation-run escape hatch).  Nothing is rewritten:
        the new manifest re-references ``version``'s files and schema,
        so rollback is metadata-only and O(files), and the bad
        versions stay time-travelable for diagnosis until
        ``expire_snapshots`` reclaims them.  Read-modify-write
        semantics: pins the current head as ``expected_parent`` and
        raises ``CommitConflict`` if a writer races the rollback."""
        base = self.current_version()
        if version == base:
            raise ValueError(
                f"rollback: v{version} is already the current version")
        m = self.manifest(version)  # raises ValueError if expired/absent
        return self._commit(
            m["files"], "rollback", m["schema"], m["partition_cols"],
            base, props={"rollback_of": str(version)})

    def compact(self, target_max_files: int = 1) -> int:
        """Rewrite the live snapshot into ≤ ``target_max_files`` files
        (small-file compaction — audit tables accrete one file per
        flush); a partitioned table lands under the ``write_layout``
        rule, about one file per partition value.  Pure rewrite: same
        rows, new version."""
        base = self.current_version()
        m = self.manifest(base)
        live = self.read(version=base).coalesce(max(1, target_max_files))
        files = self._write_data_files(live, m["partition_cols"])
        return self._commit(
            files, "compact", m["schema"], m["partition_cols"], base)


def create(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_cols: list[str] | None = None,
    props: dict | None = None,
) -> SnapshotTable:
    """Create a new snapshot table at ``root`` with ``df`` as v1."""
    t = SnapshotTable(spark, root)
    os.makedirs(t.meta, exist_ok=True)
    os.makedirs(t.data, exist_ok=True)
    if os.path.exists(t._manifest_path(1)):
        raise FileExistsError(f"snapshot table already exists at {root}")
    pcols = list(partition_cols or [])
    for c in pcols:
        if c not in df.columns:
            raise ValueError(f"partition column {c!r} not in frame")
    schema_json = json.dumps(df.schema.jsonValue())
    files = t._write_data_files(df, pcols)
    # expected_parent=0: a concurrent create of the same root raises
    # instead of silently stacking a second v-chain
    t._commit(files, "create", schema_json, pcols, 0, props=props)
    return t
