"""Checkpoint-resumable pipeline runs with per-partition lineage.

The unit of checkpointing is the natural input partition (warc_ts day —
the same key the production Iceberg table is partitioned by), because
that is what a re-run can skip via partition pruning.  Completion is
recorded in the audit table itself (check_type = 'partition_complete',
one row per day with metrics), so resume state needs no extra store:

    pending = distinct input days  ANTI JOIN  completed audit days

A crashed run leaves at most one day partially written; output goes to
``<out>/day=<d>`` directories that are atomically replaced per day
(dynamic partition overwrite), so re-processing a day is idempotent.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dqc_spark import snaptable
from dqc_spark.audit import ParquetAuditSink
from dqc_spark.pipeline import annotate, curate

PARTITION_DONE = "partition_complete"


def completed_days(audit: ParquetAuditSink, run_group: str) -> set[str]:
    from pyspark.errors import AnalysisException

    try:
        audit_df = audit.read()
    except AnalysisException as exc:
        # only a genuinely-missing table means "nothing completed yet";
        # any other read failure (corrupt footer, permissions) must NOT
        # silently disable resume and reprocess the whole input
        if "PATH_NOT_FOUND" in str(exc) or "does not exist" in str(exc):
            return set()
        raise
    rows = (
        audit_df.filter(
            (F.col("check_type") == PARTITION_DONE)
            & (F.col("input_snapshot") == run_group)
            & F.col("result")
        )
        .select(F.col("params")["day"].alias("day"))
        .collect()
    )
    return {r["day"] for r in rows if r["day"] is not None}


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    audit: ParquetAuditSink,
    run_group: str,
    thresholds: dict | None = None,
    output_format: str = "parquet",
    max_ppl: float | None = None,
) -> dict:
    """Process only the not-yet-completed day partitions.

    Returns {'processed': [...], 'skipped': [...]}.  All pending days run
    in ONE Spark job (a single isin filter + partitioned write), not a
    per-day loop — day count can be large.

    ``output_format="snapshot"`` writes through a snapshot table
    (snaptable.py) instead of raw dynamic partition overwrite: the
    run's whole day batch lands as ONE atomic ``overwrite_partitions``
    commit, so a crash mid-write leaves the prior corpus fully intact
    (raw dynamic overwrite can die with some days replaced and some
    not — recoverable via the audit anti-join, but visible to
    concurrent readers; the snapshot commit is not).
    """
    if output_format not in ("parquet", "snapshot"):
        raise ValueError(f"unknown output_format {output_format!r}")
    days_df = pages.select(F.to_date("warc_ts").alias("day")).distinct()
    all_days = sorted(str(r["day"]) for r in days_df.collect())
    done = completed_days(audit, run_group)
    pending = [d for d in all_days if d not in done]
    if not pending:
        return {"processed": [], "skipped": all_days}

    subset = pages.filter(
        F.to_date("warc_ts").isin([_dt.date.fromisoformat(d) for d in pending])
    )
    _ppl_kw = {} if max_ppl is None else {"max_ppl": max_ppl}
    ann = annotate(subset, thresholds=thresholds, **_ppl_kw).withColumn(
        "day", F.to_date("warc_ts")
    )
    if output_format == "snapshot":
        t = snaptable.SnapshotTable(spark, output_path)
        try:
            t.current_version()
        except FileNotFoundError:
            t = None
        if t is None:
            t = snaptable.create(spark, output_path, ann,
                                 partition_cols=["day"])
        else:
            t.overwrite_partitions(ann)
        out = t.read()
    else:
        # dynamic overwrite (replace only the written days) — scoped
        # with a save/restore: leaking the session-wide conf would
        # silently turn run_pipeline's later full overwrites into
        # partial ones
        conf_key = "spark.sql.sources.partitionOverwriteMode"
        prev_mode = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "dynamic")
        try:
            (
                snaptable.write_layout(ann, ["day"])
                .write.mode("overwrite")
                .partitionBy("day")
                .parquet(output_path)
            )
        finally:
            if prev_mode is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev_mode)
        out = spark.read.parquet(output_path)

    # per-partition lineage metrics from the written output (cheap: the
    # day column prunes, and only 3 small aggregates per day)
    metrics = (
        out.filter(F.col("day").isin(pending))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        )
        .collect()
    )
    for i, m in enumerate(sorted(metrics, key=lambda r: str(r["day"]))):
        audit.log(
            PARTITION_DONE,
            True,
            {
                "day": str(m["day"]),
                "n_docs": str(m["n_docs"]),
                "n_kept": str(m["n_kept"]),
            },
            error_count=None,
            partition_id=i,
            input_snapshot=run_group,
        )
    audit.flush()
    return {"processed": pending, "skipped": [d for d in all_days if d in done]}


INCREMENT_DONE = "curate_increment"


def curate_incremental(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    audit: ParquetAuditSink,
    run_group: str,
    state_path: str | None = None,
    text_col: str = "text",
    near_index_path: str | None = None,
    near_index_threshold: float = 0.7,
    **curate_kwargs,
) -> dict:
    """Curate only content never processed by a previous run and APPEND
    it to the same output table — the content-level sibling of
    ``run_resumable`` (which skips whole day partitions; this skips at
    document-content granularity, so a re-crawl of an unchanged page
    costs one digest probe, not a re-curation).

    State is a digest table at ``state_path`` (default
    ``<output>_ingested``): md5 content digests of every INPUT document
    a prior run processed — inputs, not survivors, so a document the
    gates dropped is not re-scored on every run.  The increment is
    ``snapshot.new_docs``-shaped: one anti-join on digests, text never
    shuffles.  Each run logs one audit row (check_type =
    'curate_increment', input_snapshot = run_group) with
    n_input/n_new/n_appended, so `show-logs` answers "what did each
    incremental run actually add".

    Empty increments short-circuit before building the curation plan
    (one count — the CLAUDE.md empty-round rule) and still log an
    audit row recording the skip.

    Write-order contract: curated rows are appended BEFORE the digest
    state.  A crash between the two writes therefore re-processes the
    last increment on the next run (bounded duplicate rows, removable
    by exact content dedup over the output) — the alternative order
    would silently LOSE the increment, which is worse.  At cluster
    scale both writes would be one Iceberg transaction.

    Cross-run near-dup: dedup inside ``curate`` sees only the current
    increment, so by default a new document that is a near-duplicate
    of a PRIOR run's survivor is appended anyway.  ``near_index_path``
    closes that hole with the persisted MinHash band index
    (``bandindex.py``): each run band-joins its curated increment
    against the stored index (prior text is never re-read), drops the
    cross-run near-dups, and appends the survivors' signatures to the
    index.  The first run bootstraps the index from its survivors.
    ``near_index_threshold`` is the estimated-Jaccard cut, matching
    ``minhash_near_dups``.  Intra-increment near-dups stay ``curate``'s
    job (``near_dup_threshold``), so the index pass runs with
    ``include_new_new=False`` — only the new-vs-prior question.

    Returns {'n_input', 'n_new', 'n_appended', 'n_near_dropped',
    'skipped'}.
    """
    from pyspark.errors import AnalysisException

    from dqc_spark.cache import track
    from dqc_spark.snapshot import content_digests

    state_path = state_path or output_path.rstrip("/") + "_ingested"
    try:
        seen = spark.read.parquet(state_path)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "does not exist" in str(exc):
            seen = None  # bootstrap: nothing ingested yet
        else:
            # same rule as completed_days: a corrupt state table must
            # not silently re-curate (and re-append) the whole input
            raise
    n_input = pages.count()
    if seen is None:
        new = pages
        n_new = n_input
    else:
        # NULL-text rows digest to NULL, and a null-unsafe anti-join
        # would re-classify them as "new" on EVERY run (three-valued
        # equality — the CLAUDE.md left_anti/NOT-IN rule), making the
        # nothing-new short-circuit unreachable and appending a NULL
        # state row per run.  Coalesce BOTH sides to a sentinel that no
        # real md5 hex can collide with; the state table keeps storing
        # raw digests (content_digests is shared with snapshot.new_docs,
        # whose always-new NULL semantics is oracle-pinned).
        nullsafe = lambda c: F.coalesce(c, F.lit("<null-text>"))  # noqa: E731
        new = pages.withColumn(
            "__digest", nullsafe(F.md5(F.col(text_col)))).join(
            seen.select(nullsafe(F.col("digest")).alias("__digest")),
            on="__digest", how="left_anti").drop("__digest")
        # cut the lineage before curate plans over it: every DataFrame
        # call in curate would otherwise re-analyze this anti-join
        # inside an ever deeper plan (Catalyst constraint inference
        # stalled the second increment for minutes)
        new = new.localCheckpoint()
        n_new = new.count()
    if n_new == 0:
        audit.log(INCREMENT_DONE, True,
                  {"n_input": str(n_input), "n_new": "0",
                   "n_appended": "0"},
                  error_count=None, partition_id=0,
                  input_snapshot=run_group)
        audit.flush()
        return {"n_input": n_input, "n_new": 0, "n_appended": 0,
                "n_near_dropped": 0, "skipped": True}
    cur = track(curate(new, text_col=text_col, **curate_kwargs))
    n_near_dropped = 0
    idx = None
    sigs_cur = drop_keys = None
    if near_index_path is not None:
        from dqc_spark.bandindex import (
            incremental_near_dups, load_band_index)
        from dqc_spark.dedup import minhash_signatures

        key_col = curate_kwargs.get("key_col", "url")
        try:
            idx = load_band_index(spark, near_index_path)
        except FileNotFoundError:
            idx = None  # first run bootstraps the index below
        if idx is not None:
            # ONE signature pass per increment: the same frame feeds
            # the near-dup query here and the index extend below
            # (the minhash kernel is the expensive Python stage)
            sigs_cur = track(minhash_signatures(
                cur, key_col, text_col, idx.num_perm, idx.shingle_k))
            pairs = incremental_near_dups(
                idx, cur, key_col, text_col,
                threshold=near_index_threshold,
                include_new_new=False, signatures=sigs_cur)
            drop_keys = pairs.select(
                F.when(F.col("a_is_new"), F.col("key_a"))
                .otherwise(F.col("key_b")).alias(key_col)).distinct()
            drop_keys = track(drop_keys)
            n_near_dropped = drop_keys.count()
            if n_near_dropped:
                cur = track(cur.join(drop_keys, on=key_col,
                                     how="left_anti"))
        # break lineage before the writes: appending the digest state
        # below triggers refreshByPath(state_path), which invalidates
        # any cached plan that reads `seen` — cur would silently
        # recompute over the UPDATED state (an empty increment) right
        # when the index append consumes it (found live: the index
        # gained 0 rows while the output gained the increment)
        cur = cur.localCheckpoint()
    n_appended = cur.count()
    cur.write.mode("append").parquet(output_path)
    if near_index_path is not None:
        # index extends BEFORE the digest-state commit: the digest
        # append is the only "increment done" marker, so a crash
        # anywhere earlier re-processes the increment (bounded
        # duplicate OUTPUT rows, the contract above) and the replayed
        # extend is a no-op (extend_band_index anti-joins keys already
        # present).  The reverse order would let a crash between
        # digests and extend silently omit these survivors from the
        # index FOREVER — their future near-dups would all pass.  Only
        # SURVIVORS are indexed: dropped docs must not anchor future
        # near-dup decisions.
        from dqc_spark.bandindex import create_band_index, extend_band_index

        key_col = curate_kwargs.get("key_col", "url")
        if idx is None:
            create_band_index(cur, key_col, near_index_path,
                              text_col=text_col)
        else:
            sigs_surv = sigs_cur
            if n_near_dropped:
                sigs_surv = sigs_cur.join(
                    drop_keys.withColumnRenamed(key_col, "key"),
                    on="key", how="left_anti")
            extend_band_index(idx, cur, key_col, text_col,
                              signatures=sigs_surv)
    content_digests(new, text_col).write.mode("append").parquet(state_path)
    audit.log(INCREMENT_DONE, True,
              {"n_input": str(n_input), "n_new": str(n_new),
               "n_appended": str(n_appended),
               "n_near_dropped": str(n_near_dropped)},
              error_count=None, partition_id=0, input_snapshot=run_group)
    audit.flush()
    return {"n_input": n_input, "n_new": n_new, "n_appended": n_appended,
            "n_near_dropped": n_near_dropped, "skipped": False}
