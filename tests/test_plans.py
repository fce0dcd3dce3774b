"""Physical-plan regression tests.

Correctness tests prove the small-SF answers; these pin the *plan shapes*
the 100 TB deployment depends on, so a refactor that silently de-optimizes
(drops a pushed filter, widens a scan, loses a broadcast, adds a shuffle)
fails CI even though results stay right.
"""

import os

import pytest
from pyspark.sql import functions as F

from dqc_spark.checks import (
    between_pred,
    enum_pred,
    not_null_pred,
    referential_violations,
    unique_violations,
)


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))


def test_check_predicates_push_down_to_scan(docs):
    # range/null/enum gates must reach the parquet reader: at 100 TB the
    # difference is row-group skipping vs a full scan
    df = docs.filter(between_pred("n_chars", 100, 5000)).select("doc_id", "n_chars")
    p = plan_str(df)
    assert "PushedFilters: [" in p
    assert "n_chars" in p.split("PushedFilters:")[1].split("]")[0]

    p2 = plan_str(docs.filter(not_null_pred("lang")).select("doc_id"))
    assert "IsNull(lang)" in p2.split("PushedFilters:")[1].split("]")[0]

    p3 = plan_str(docs.filter(enum_pred("lang", ["en", "de"])).select("doc_id"))
    assert "lang" in p3.split("PushedFilters:")[1].split("]")[0]


def test_column_pruning_never_reads_text_payload(docs):
    # checks that touch only metadata columns must not deserialize the
    # (dominant) text payload — ReadSchema is the contract
    df = docs.filter(between_pred("n_chars", 100, 5000)).select("doc_id", "n_chars")
    p = plan_str(df)
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema
    assert "doc_id" in read_schema and "n_chars" in read_schema


def test_referential_check_is_broadcast_anti_join(spark, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select("c_custkey")
    p = plan_str(referential_violations(orders, cust, ["c_custkey"]))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_unique_check_partial_aggregates_before_shuffle(lineitem):
    # map-side combine: a partial_count aggregate BELOW the single exchange
    p = plan_str(unique_violations(lineitem, "l_orderkey"))
    assert "partial_count" in p
    assert p.count("HashAggregate") >= 2
    assert p.count("Exchange") == 1
    # only the groupBy key is read from parquet, never the payload
    assert "ReadSchema: struct<l_orderkey:bigint>" in p


def test_groupby_agg_stays_in_codegen(lineitem):
    q1 = (
        lineitem.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("s"), F.avg("l_discount").alias("a"))
    )
    assert "ObjectHashAggregate" not in plan_str(q1)  # fast hash-agg path
    assert "partial_sum" in plan_str(q1)
    assert plan_str(q1).count("Exchange") == 1
    # execute, then assert the final adaptive plan ran inside whole-stage
    # codegen (the "*(n)" markers on aggregate/filter/scan nodes)
    q1.collect()
    final = plan_str(q1)
    assert "isFinalPlan=true" in final
    assert "*(1) HashAggregate" in final and "*(1) Filter" in final


def test_stratified_sample_single_shuffle_when_precap_off(docs):
    from dqc_spark.sampling import stratified_sample

    p = plan_str(stratified_sample(docs, "source", "doc_id", 5,
                                   pre_cap_overshoot=None))
    assert p.count("Exchange") == 1  # one hash partition on the stratum key


def test_stratified_sample_precap_bounds_window_input(docs):
    # the hot-stratum pre-filter must sit UPSTREAM of the window sort:
    # a broadcast join against the stratum counts plus the hash-prefix
    # filter, so the window never ingests an unbounded stratum
    from dqc_spark.sampling import stratified_sample

    p = plan_str(stratified_sample(docs, "source", "doc_id", 5))
    assert "BroadcastHashJoin" in p
    # physical plans print root-first, children indented BELOW — so
    # "upstream of the Window" means a LARGER string index.  Both the
    # cutoff filter (__cnt) and the broadcast count join must sit in
    # the Window's input subtree, not above it.
    win_ix = p.index("Window")
    assert p.index("__cnt") > win_ix
    assert p.index("BroadcastHashJoin") > win_ix


def test_stratified_sample_precap_is_exact_on_hot_stratum(spark):
    # one hot stratum (3000 rows) + one small: pre-capped result must
    # equal the exact (pre_cap_overshoot=None) result row-for-row
    from dqc_spark.sampling import stratified_sample

    rows = [(i, "hot") for i in range(3000)] + [
        (10_000 + i, "cold") for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    exact = {
        (r.doc_id, r.sample_rank)
        for r in stratified_sample(
            df, "source", "doc_id", 5, pre_cap_overshoot=None
        ).collect()
    }
    capped = {
        (r.doc_id, r.sample_rank)
        for r in stratified_sample(df, "source", "doc_id", 5).collect()
    }
    assert capped == exact
    assert len({d for d, _ in capped}) == 9  # 5 hot + all 4 cold


def test_stratified_sample_precap_keeps_null_stratum_and_null_keys(spark):
    # NULL stratum is a legitimate window partition and NULL keys sort
    # first in the hash order; the pre-cap join/filter must not drop
    # either (a plain inner equi-join silently did)
    from dqc_spark.sampling import stratified_sample

    rows = (
        [(i, "hot") for i in range(2500)]
        + [(20_000 + i, None) for i in range(6)]   # NULL stratum
        + [(None, "hot")]                           # NULL key in hot stratum
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    exact = {
        (r.doc_id, r.source, r.sample_rank)
        for r in stratified_sample(
            df, "source", "doc_id", 5, pre_cap_overshoot=None
        ).collect()
    }
    capped = {
        (r.doc_id, r.source, r.sample_rank)
        for r in stratified_sample(df, "source", "doc_id", 5).collect()
    }
    assert capped == exact
    assert sum(1 for _, s, _ in capped if s is None) == 5  # null stratum kept
    assert any(d is None for d, _, _ in capped)  # null key ranks first, kept


def test_hash_sample_is_pure_narrow_filter(docs):
    from dqc_spark.sampling import hash_sample

    p = plan_str(hash_sample(docs, "doc_id", 10))
    assert "Exchange" not in p


def test_fused_suite_is_single_scan_single_shuffle(lineitem):
    from dqc_spark.suite import Check, CheckSuite

    suite = CheckSuite(
        [
            Check.not_null("l_orderkey"),
            Check.enum("l_returnflag", ["A", "N", "R"]),
            Check.between("l_discount", 0.0, 0.1),
            Check.length("l_linestatus", 1, 1),
            Check.mean_between("l_quantity", 0, 100),
            Check.max_between("l_extendedprice", 0, 1e9),
        ]
    )
    agg_df = suite.fused_agg_frame(lineitem)
    p = plan_str(agg_df)
    assert p.count("Scan parquet") == 1  # N checks, ONE pass over the data
    assert p.count("Exchange") == 1  # only the final single-row agg exchange


def test_top_ngrams_uses_takeordered_not_global_sort(docs):
    from dqc_spark.textstats import top_ngrams

    p = plan_str(top_ngrams(docs, "text", 3, 20))
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p  # map-side combine before the gram shuffle


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling (session default skewJoin.enabled=true):
    a 90%-hot key in a sort-merge join gets its partition SPLIT at
    runtime — `skew=true` in the final adaptive plan.  (Skewed
    AGGREGATIONS need no split: a partial aggregate merges a hot key's
    rows map side before the exchange, as pipeline.table_checks'
    groupBy(url) relies on.)"""
    import re

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # thresholds scaled down so a ~200k-row local fixture exhibits
        # what a multi-GB hot partition does in production
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(200000).select(
            F.when(F.rand(7) < 0.9, 0)
            .otherwise((F.rand(11) * 1000).cast("long"))
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("v"),
        )
        dim = spark.range(1001).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k").select(F.count("v").alias("n"))
        assert j.collect()[0]["n"] == 200000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert re.search(r"skew=true", plan), "AQE did not split the hot partition"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_day_partitioned_pages(spark, tmp_path):
    """The per-day reprocessing pattern (SURVEY 4.2): joining the
    day-partitioned pages table against a runtime-filtered dim must
    prune partitions DYNAMICALLY — only the selected days' files are
    scanned, which at 10^12 docs is the difference between reading two
    days and reading the archive."""
    from dqc_spark.pagesgen import generate_pages

    fact_path = str(tmp_path / "pages_by_day")
    dim_path = str(tmp_path / "day_status")
    pages = generate_pages(spark, 1000, n_partitions=4).withColumn(
        "day", F.to_date("warc_ts")
    )
    pages.write.mode("overwrite").partitionBy("day").parquet(fact_path)
    pt = spark.read.parquet(fact_path)
    days = sorted(r.day for r in pt.select("day").distinct().collect())
    spark.createDataFrame(
        [(d, "reprocess" if i < 2 else "done") for i, d in enumerate(days)],
        "day date, status string",
    ).write.mode("overwrite").parquet(dim_path)

    dim = spark.read.parquet(dim_path).filter(F.col("status") == "reprocess")
    j = pt.join(dim, "day").agg(F.count(F.lit(1)).alias("n"))
    n = j.collect()[0]["n"]
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan
    # and the pruned count equals a static two-day filter
    want = pt.filter(F.col("day").isin(days[:2])).count()
    assert n == want


# ---------------------------------------------------------------------------
# round-3 web operators: plan-shape pins for the 100 TB claims
# ---------------------------------------------------------------------------

def _url_docs(docs):
    return docs.select(
        F.concat(F.lit("http://site"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example.com/p/"), F.col("doc_id").cast("string"))
        .alias("url"),
        "text",
    )


def test_domain_filter_const_list_is_pure_filter(docs):
    """Python-list blocklists compose into the scan: ONE stage, zero
    Exchange — the 'cheapest possible row reduction' claim."""
    from dqc_spark.urlops import domain_filter

    out = domain_filter(_url_docs(docs), ["site3.example.com", "x.org"])
    plan = plan_str(out)
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1


def test_url_dedup_is_two_phase_agg_not_window(docs):
    """Winner election must be a partial-aggregatable min(struct), never
    a hot-partition window, and text must not reach the agg."""
    from dqc_spark.urlops import url_dedup

    out = url_dedup(_url_docs(docs), key_cols=["url"])
    plan = plan_str(out)
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine before the shuffle


def test_repetition_signals_plan_has_no_shuffle(docs):
    """One mapInPandas kernel composed into the scan: per-doc n-gram
    work never moves data."""
    from dqc_spark.textstats import repetition_signals

    out = repetition_signals(docs, "doc_id")
    plan = plan_str(out)
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_lm_gram_counts_shuffle_pre_aggregated_rows_only(docs):
    """LM training counting pass: ONE exchange, carrying the kernel's
    per-batch (gram, cnt) combiner partials — never per-token rows.
    HashAggregate above a single mapInPandas stage; a second exchange
    would mean the combiner shape regressed."""
    from dqc_spark.lmtrain import word_counts

    p = plan_str(word_counts(docs, "text"))
    assert p.count("Exchange") == 1
    assert "MapInPandas" in p


def test_pii_spans_is_shuffle_free_and_prunes_to_key_and_text(docs):
    from dqc_spark.piispans import pii_spans

    p = plan_str(pii_spans(docs, "doc_id", "text"))
    # one Arrow kernel over the scan: no exchange anywhere
    assert "Exchange" not in p
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    # the scan must not drag the rest of the table through the kernel
    assert "lang" not in read_schema and "source" not in read_schema


def test_redact_spans_shuffles_spans_not_pages(spark, docs):
    """The replay join aggregates the NARROW span table per key and
    joins it back; the page text itself must never hash-shuffle."""
    from dqc_spark.piispans import pii_spans, redact_spans

    spans = pii_spans(docs, "doc_id", "text")
    p = plan_str(redact_spans(docs, spans, "doc_id", "text"))
    # page text enters only via the final (post-join) projection: no
    # hashpartitioning exchange keyed on a plan branch carrying text
    import re

    for m in re.finditer(r"Exchange hashpartitioning[^\n]*", p):
        assert "text" not in m.group(0)


def test_diff_versions_joins_fingerprints_not_rows(spark, tmp_path):
    """Version diff must collapse each side to (key, count, digest)
    BEFORE the join — a partial-aggregatable groupBy under the join,
    never a row-level full-outer join carrying the text payload."""
    from pyspark.sql import Row

    from dqc_spark import snaptable

    t = snaptable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame(
            [Row(url=f"u{i}", text=f"body {i}") for i in range(6)]))
    t.delete_where("url = 'u0'")
    plan = plan_str(t.diff_versions(["url"], 1))
    # map-side combine on both sides of the join
    assert plan.count("partial_count") >= 2
    assert "FullOuter" in plan
    # the join itself compares fingerprints; text appears only below
    # the aggregates (inside the digest), never as a join output
    post_join = plan.split("FullOuter", 1)[0]
    assert "text" not in post_join.split("Aggregate", 1)[0]


def test_corpus_report_is_single_fused_aggregation(docs):
    """Data card = one partial-aggregatable groupBy + a broadcast
    1-row total: no Python stage, no window, one shuffle of group
    rows."""
    from dqc_spark.report import corpus_report

    out = corpus_report(docs.withColumn("lang", F.lit("en")))
    plan = plan_str(out)
    assert "Window" not in plan
    for py_stage in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_stage not in plan
    assert "partial_count" in plan  # map-side combine
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total literal
    # the grouped frame feeds TWO branches (report + corpus total) and
    # must be persisted — otherwise each branch plans its own full
    # corpus scan (column pruning defeats ReusedExchange)
    assert "InMemoryRelation" in plan


def _parquet_files(path: str) -> int:
    return sum(1 for _d, _s, fs in os.walk(path)
               for f in fs if f.endswith(".parquet"))


def test_run_pipeline_write_rebalances_by_day_in_five_jobs(
        spark, tmp_path, monkeypatch):
    """run_pipeline's write goes through ONE rebalance exchange on
    ``day`` with both pandas UDFs still evaluated (score and scrub), and
    a whole op — write, schema read-back, fused table checks, audit
    commit — starts at most 5 Spark jobs."""
    import uuid

    from dqc_spark import pipeline
    from dqc_spark.audit import SnapshotAuditSink
    from dqc_spark.pagesgen import generate_pages

    pages = generate_pages(spark, 120, n_partitions=4)
    layout, written = pipeline.write_layout, []

    def recording_layout(df, cols):
        written.append(layout(df, cols))
        return written[-1]

    monkeypatch.setattr(pipeline, "write_layout", recording_layout)
    audit = SnapshotAuditSink(spark, str(tmp_path / "audit"))
    audit.log("table_created", True, {})  # the create commit runs a job
    audit.flush()

    sc = spark.sparkContext
    group = f"run_pipeline_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "run_pipeline job count")
    try:
        pipeline.run_pipeline(pages, str(tmp_path / "out"), audit=audit)
        audit.flush()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 5, jobs

    (df,) = written
    plan = plan_str(df)
    rebalance = [ln for ln in plan.splitlines()
                 if "REBALANCE_PARTITIONS_BY_COL" in ln]
    assert len(rebalance) == 1, plan
    assert "hashpartitioning(day" in rebalance[0], plan
    udfs = sorted(ln.split("ArrowEvalPython [", 1)[1].split("(", 1)[0]
                  for ln in plan.splitlines() if "ArrowEvalPython [" in ln)
    assert udfs == ["score_udf", "scrub_udf"], plan


def test_each_partitioned_writer_writes_one_file_per_day(spark, tmp_path):
    """The shared layout rule (snaptable.write_layout): a 4-partition
    input spanning D days lands as exactly D data files through each
    day-partitioned writer — run_pipeline, run_resumable's parquet path
    and a partitioned snapshot table — not one per (task, day)."""
    from dqc_spark import snaptable
    from dqc_spark.audit import ParquetAuditSink
    from dqc_spark.pagesgen import generate_pages
    from dqc_spark.pipeline import run_pipeline
    from dqc_spark.resume import run_resumable

    pages = generate_pages(spark, 120, n_partitions=4)
    days = pages.select(F.to_date("warc_ts")).distinct().count()
    assert days > 1

    run_pipeline(pages, str(tmp_path / "pipeline"))
    assert _parquet_files(str(tmp_path / "pipeline")) == days

    run_resumable(spark, pages, str(tmp_path / "resume"),
                  ParquetAuditSink(spark, str(tmp_path / "audit")), "g")
    assert _parquet_files(str(tmp_path / "resume")) == days

    t = snaptable.create(
        spark, str(tmp_path / "tbl"),
        pages.withColumn("day", F.to_date("warc_ts")), partition_cols=["day"])
    m = t.manifest(t.current_version())
    assert len(m["files"]) == days
    assert len({tuple(fe["partition"].items()) for fe in m["files"]}) == days
