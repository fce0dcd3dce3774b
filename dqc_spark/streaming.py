"""Structured Streaming surface: incremental quality filtering.

The reference is strictly batch (SURVEY §1.1), and so is the primary
pipeline here; this module covers the incremental-ingest shape a crawl
pipeline actually runs — new page files land in a directory (or Kafka
topic), each micro-batch flows through the SAME annotate() used in
batch, kept docs append to the output table, and per-batch audit rows
record lineage.  All gate expressions and pandas UDFs are
streaming-safe (stateless projections), so batch/stream parity is
structural, not re-implemented.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dqc_spark.pagesgen import PAGES_SCHEMA
from dqc_spark.pipeline import annotate


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of pages parquet (schema pinned — streaming
    readers must not infer)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (works on both a static
    DataFrame and a stream): per (window, event_type) counts + value sum.
    The watermark bounds state: late rows beyond it are dropped instead
    of growing the state store forever.

    Event-time columns must be TIMESTAMP (not NTZ) for watermarks; the
    cast is value-preserving with the session timezone pinned to UTC."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
    )


def stream_dedup_first_seen(
    pages: DataFrame,
    key_col: str = "url",
    text_col: str = "text",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: emit only the FIRST document
    ever seen per content hash; later exact duplicates (across
    micro-batches, crawls, and restarts) are dropped.

    This is the crawl-ingest dedup that a stateless filter cannot express
    — the "seen" set must survive between micro-batches.  Implemented
    with ``applyInPandasWithState``: state is keyed by ``md5(text)``
    (16-byte digests, not text, so the state store stays small — ~48
    bytes/key including the dup counter), partitioned by the state key
    across executors, and checkpointed with the query, so a restart
    neither re-emits nor forgets.

    State growth at scale is bounded by distinct-content cardinality;
    for an unbounded crawl horizon, swap NoTimeout for a processing-time
    timeout to expire content not re-seen within the dedup window.

    Output: (<key_col>, *payload_cols, text_hash, n_prior_dups) — one
    row per first occurrence (its full payload), with the number of
    duplicates absorbed from the same micro-batch (re-emitted never;
    later-batch duplicates accumulate only in the state counter).

    NULL-content rows (md5(text) IS NULL) BYPASS the stateful operator
    and are always emitted: NULL is the absence of content, not shared
    content, so two NULL-text docs are not duplicates of each other —
    the same null-digest convention snapshot.new_docs pins
    (grouping them would silently drop every NULL-text doc after the
    first, forever, across the whole stream).
    """
    payload_cols = payload_cols or []
    src_fields = {f.name: f for f in pages.schema.fields}
    out_schema = T.StructType(
        [T.StructField("key", src_fields[key_col].dataType)]
        + [src_fields[c] for c in payload_cols]
        + [
            T.StructField("text_hash", T.StringType()),
            T.StructField("n_prior_dups", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("n_seen", T.LongType())])

    def first_seen(
        key: tuple, pdfs: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        n_seen = state.get[0] if state.exists else 0
        first_row = None
        for pdf in pdfs:
            if n_seen == 0 and len(pdf) > 0:
                first_row = pdf.iloc[0]
            n_seen += len(pdf)
        state.update((n_seen,))
        if first_row is not None:
            # duplicates absorbed in the same micro-batch as the first
            # occurrence (later batches never re-emit, so their dups are
            # visible only in the state counter)
            row = {"key": [first_row[key_col]]}
            for c in payload_cols:
                row[c] = [first_row[c]]
            row["text_hash"] = [key[0]]
            row["n_prior_dups"] = [n_seen - 1]
            yield pd.DataFrame(row)

    hashed = pages.select(
        F.col(key_col), *payload_cols,
        F.md5(F.col(text_col)).alias("text_hash"),
    )
    deduped = hashed.filter(
        F.col("text_hash").isNotNull()
    ).groupBy("text_hash").applyInPandasWithState(
        first_seen,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    null_content = hashed.filter(F.col("text_hash").isNull()).select(
        F.col(key_col).alias("key"),
        *payload_cols,
        F.col("text_hash"),
        F.lit(0).cast("long").alias("n_prior_dups"),
    )
    return deduped.unionByName(null_content)


def stream_dedup_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """readStream -> stateful first-seen dedup -> append parquet sink.
    availableNow + checkpoint: each run drains pending files exactly
    once; the seen-set persists across runs via the state store."""
    q = (
        stream_dedup_first_seen(stream_pages(spark, input_dir))
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    return q


def stream_curate_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    thresholds: dict | None = None,
):
    """The streaming CURATION graph: quality filter + exact dedup in ONE
    continuous query — stateless annotate/scrub stages feed the stateful
    first-seen operator, so a crawl feed is gated AND deduplicated
    incrementally (across micro-batches and restarts) with a single
    checkpoint.  Batch counterpart: pipeline.curate (minus the near-dup
    LSH stage, which needs all-pairs candidate joins and stays batch)."""
    pages = stream_pages(spark, input_dir)
    ann = annotate(pages, thresholds=thresholds).filter(F.col("keep"))
    deduped = stream_dedup_first_seen(
        ann, key_col="url", text_col="scrubbed_text",
        payload_cols=["lang", "scrubbed_text"],
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_quality_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    audit=None,
    thresholds: dict | None = None,
):
    """readStream -> annotate -> keep-filter -> append sink.

    foreachBatch is used instead of a plain writeStream so each
    micro-batch can also fold its audit metrics (count/kept per batch)
    — the streaming analogue of the per-day lineage rows in resume.py.
    foreachBatch is at-least-once (a crash between the write and the
    epoch commit replays the batch), so the write must be IDEMPOTENT:
    each epoch overwrites its own ``epoch=<id>`` partition directory —
    a replay rewrites the same files instead of appending duplicates
    (epoch_id is stable across replays of the same batch).  Readers see
    one partitioned table at ``output_dir``.
    """
    ann_stream = stream_pages(spark, input_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # persist: the annotated frame embeds the scoring pandas UDF and
        # feeds TWO consumers (audit agg + sink write) — unpersisted,
        # Spark recomputes the whole Python stage per consumer
        ann = annotate(batch_df, thresholds=thresholds).persist()
        row = ann.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"),
        ).first()
        ann.filter(F.col("keep")).write.mode("overwrite").parquet(
            f"{output_dir}/epoch={epoch_id}"
        )
        ann.unpersist()
        if audit is not None:
            audit.log(
                "stream_batch_complete",
                True,
                {"epoch": str(epoch_id), "n_docs": str(row["n"]),
                 "n_kept": str(row["kept"])},
                input_snapshot=f"epoch={epoch_id}",
            )

    return (
        ann_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _query_run_id(checkpoint_dir: str) -> str:
    """The StreamingQuery's persistent id from the checkpoint's
    ``metadata`` file.  Stable across restarts of the SAME checkpoint
    (so replays are recognized), regenerated when the checkpoint is
    lost or a different query targets the table (so a fresh query's
    epoch 0 is never mistaken for an old run's epoch 0 — batch ids
    alone are NOT globally unique, only (query, batch) is)."""
    import json as _json

    with open(os.path.join(checkpoint_dir, "metadata")) as f:
        return str(_json.load(f)["id"])


def snaptable_epoch_sink(
    spark: SparkSession,
    table_root: str,
    thresholds: dict | None = None,
    audit=None,
    run_id: str | None = None,
    checkpoint_dir: str | None = None,
):
    """foreachBatch body for ``stream_curate_to_snaptable`` (factored
    out so tests can replay an epoch directly).

    Exactly-once construction: foreachBatch is at-least-once, and the
    (run, epoch) pair is stamped into the SAME manifest that commits
    the data (``props``) — so a replayed batch finds its marker and
    skips, and a crash between data files landing and the manifest
    create leaves only orphans that ``vacuum()`` reclaims, never
    half-visible rows.  at-least-once + atomic data-with-marker commit
    + idempotent skip = exactly-once, the same recipe as Iceberg's
    Structured Streaming sink (which scopes its marker by queryId for
    the same reason: a NEW query writing to an existing table restarts
    batch ids at 0 and must not see them as replays).

    ``run_id`` scopes the marker; when omitted it resolves lazily from
    ``checkpoint_dir``'s query-metadata file (written at query start).
    One of the two must be provided.

    The replay guard walks manifests newest-first and STOPS at the
    first one carrying this run's marker: epochs within a run commit
    in order, so that marker holds the run's max committed epoch, and
    the batch is a replay iff its epoch is <= that.  The walk must not
    be a fixed version window — concurrent writers (other appends,
    compaction, a second stream) advance the table's version count
    between this run's commits, and a window measured in global
    versions could scroll this run's marker out of sight and commit a
    replayed epoch twice.  Cost: O(versions since this run's last
    commit) manifest reads — ~1 in steady state (every batch commits,
    even empty ones), full history only on a new run's first batch.

    The create-vs-append decision keys on ``current_version()`` (is
    there a COMMITTED manifest), not on directory existence: a crash
    during the first epoch's create leaves ``meta/`` existing but
    empty, and the sink must retake the create path, not wedge on
    append-without-a-table.
    """
    from dqc_spark import snaptable as st

    if run_id is None and checkpoint_dir is None:
        raise ValueError(
            "snaptable_epoch_sink needs run_id or checkpoint_dir — an "
            "unscoped epoch marker would treat a new query's first "
            "batches as replays of an old run's epochs")
    resolved: list[str] = [run_id] if run_id is not None else []

    def _is_replay(t: "st.SnapshotTable", run: str,
                   epoch_id: int) -> bool | None:
        """None -> no committed manifest (take the create path)."""
        try:
            head = t.current_version()
        except FileNotFoundError:
            return None
        for v in range(head, 0, -1):
            try:
                p = t.manifest(v).get("props", {})
            except ValueError:
                continue  # expired snapshot
            if p.get("stream_run") == run:
                # this run's newest marker = its max committed epoch
                return int(p["stream_epoch"]) >= epoch_id
        # no live manifest carries this run's marker — consult the
        # markers carried forward by expire_snapshots.  Carried epochs
        # are always <= any live manifest's epoch for the same run
        # (expiry only removes OLDER versions), so checking them last
        # is safe; without this a crashed query restarting after an
        # expiry would re-commit its already-committed epochs.
        carried = t.stream_markers().get(run)
        if carried is not None:
            return carried >= epoch_id
        return False

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if not resolved:
            resolved.append(_query_run_id(checkpoint_dir))
        run = resolved[0]
        marker = {"stream_run": run, "stream_epoch": str(epoch_id)}
        t = st.SnapshotTable(spark, table_root)
        recent = _is_replay(t, run, epoch_id)
        if recent is True:
            if audit is not None:
                audit.log("stream_epoch_replay_skipped", True,
                          dict(marker),
                          input_snapshot=f"epoch={epoch_id}")
            return
        # persist only when audited: the annotated frame embeds the
        # scoring pandas UDF and feeds TWO consumers then (audit agg +
        # commit write); with no audit sink the agg job (and the
        # persist that pays for it) would be a wasted extra Spark job
        # per micro-batch
        ann = annotate(batch_df, thresholds=thresholds)
        if audit is not None:
            ann = ann.persist()
        row = None
        try:
            if audit is not None:
                row = ann.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(F.col("keep"), 1).otherwise(0))
                    .alias("kept"),
                ).first()
            kept = ann.filter(F.col("keep"))
            if recent is None:
                st.create(spark, table_root, kept, props=marker)
                version = 1
            else:
                version = t.append(kept, props=marker)
        finally:
            if audit is not None:
                ann.unpersist()
        if audit is not None:
            audit.log(
                "stream_epoch_committed", True,
                {**marker, "version": str(version),
                 "n_docs": str(row["n"]), "n_kept": str(row["kept"])},
                input_snapshot=f"epoch={epoch_id}",
            )

    return sink


def stream_curate_to_snaptable(
    spark: SparkSession,
    input_dir: str,
    table_root: str,
    checkpoint_dir: str,
    thresholds: dict | None = None,
    audit=None,
):
    """readStream -> annotate -> keep-filter -> ATOMIC snapshot-table
    commits, one version per micro-batch, exactly once (see
    ``snaptable_epoch_sink``).  Readers time-travel the growing corpus
    mid-stream; ``table-history`` shows one epoch-stamped commit per
    batch; ``diff_versions`` audits what any batch added."""
    return (
        stream_pages(spark, input_dir)
        .writeStream.foreachBatch(
            snaptable_epoch_sink(spark, table_root, thresholds, audit,
                                 checkpoint_dir=checkpoint_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
