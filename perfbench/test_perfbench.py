"""Tests of the benchmark itself.  Run from the repository root:

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest

from run import tail_percentile
from tracing import driver_only_s
from workloads import (QualityFilter, content_digest, curated_invariants,
                       tpch_tables, udf_nodes, write_pages)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    from dqc_spark.session import get_spark

    return get_spark(app_name="perfbench_tests", master="local[2]",
                     shuffle_partitions=2)


def test_quality_filter_op_plan_evaluates_score_and_scrub_udfs(spark,
                                                               tmp_path):
    from pyspark.sql import functions as F

    from dqc_spark.pipeline import annotate

    write_pages(str(tmp_path / "pages"), 0, 40, 2)
    pages = spark.read.parquet(str(tmp_path / "pages"))
    written = annotate(pages).withColumn("day", F.to_date("warc_ts"))
    assert sorted(udf_nodes(written)) == ["score_udf", "scrub_udf"]
    # an aggregate over keep alone lets Catalyst prune the scrub UDF
    pruned = annotate(pages).agg(F.sum(F.col("keep").cast("int")))
    assert udf_nodes(pruned) == ["score_udf"]


def test_written_pages_equal_the_distributed_generator(spark, tmp_path):
    from dqc_spark.pagesgen import generate_pages

    assert write_pages(str(tmp_path / "pages"), 0, 30, 4)[0] == 30
    ours = spark.read.parquet(str(tmp_path / "pages")).collect()
    theirs = generate_pages(spark, 30, n_partitions=2).collect()
    assert sorted(map(tuple, ours)) == sorted(map(tuple, theirs))


def test_quality_filter_op_matches_oracle(spark, tmp_path):
    wl = QualityFilter(str(tmp_path), seed=7)
    wl.docs, wl.hi = 60, wl.lo + 60
    wl.make_inputs(spark)
    wl.prepare(spark, traced=False)
    wl.op(spark, 0)
    assert wl.check(spark, 0) is None


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 10) is None
    p, v = tail_percentile([float(i) for i in range(20)])
    assert (p, v) == (50.0, 9.0)
    p, v = tail_percentile([float(i) for i in range(100)])
    assert (p, v) == (90.0, 89.0)


def test_driver_only_time_is_wall_minus_stage_union():
    # stages overlap in [10, 40) and [60, 70) of a [0, 100) op
    assert driver_only_s([(10, 30), (20, 40), (60, 70)], 0, 100) == 0.06
    assert driver_only_s([], 0, 2500) == 2.5
    assert driver_only_s([(-50, 10), (90, 500)], 0, 100) == 0.08


def test_curated_invariants_catch_each_violation():
    oracle = Counter({("u1", True, "a b"): 1, ("u2", True, "c"): 1,
                      ("u3", False, None): 1})

    def row(url, text, domain="d", lang="en", key=1, n=2, bin_id=0):
        return {"url": url, "scrubbed_text": text, "domain": domain,
                "lang": lang, "doc_key": key, "n_words": n, "n_tokens": n,
                "bin_id": bin_id}

    good = [row("u1", "a b", key=1), row("u2", "c", key=2, n=1)]
    assert curated_invariants(good, oracle, 2, 8, "none", 0) is None
    assert "drops" in curated_invariants(
        [row("u3", "x")], oracle, 2, 8, "none", 0)
    assert "quota" in curated_invariants(good, oracle, 1, 8, "none", 0)
    bad_bin = [row("u1", "a b", key=1), row("u2", "c", key=2, n=1, bin_id=1)]
    assert "packing" in curated_invariants(bad_bin, oracle, 2, 8, "none", 0)
    assert content_digest([("u1", "a b"), ("u2", "c")]) == content_digest(
        [("u2", "c"), ("u1", "a b")])


def test_tpch_tables_follow_the_seed():
    a, _ = tpch_tables(3, 2000)
    b, _ = tpch_tables(3, 2000)
    c, _ = tpch_tables(4, 2000)
    assert a.equals(b) and not a.equals(c)
    assert a["l_orderkey"].isna().sum() >= 1


def test_run_refuses_a_directory_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "check_suite",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
