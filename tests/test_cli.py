"""CLI dispatch: reference-parity check verbs + the curation verbs.

Calls ``cli.main(argv)`` in-process (same SparkSession via get_spark's
session reuse) and asserts exit codes, printed outcomes, and written
outputs.  Mirrors the reference's cobra surface (main.go:39-61)."""

import os

import pytest

from dqc_spark import cli
from tests.conftest import fixture_path


@pytest.fixture()
def db_path(tmp_path):
    return str(tmp_path / "quality_checks.db")


def _run(capsys, argv):
    rc = cli.main(argv)
    return rc, capsys.readouterr().out


def test_check_unique_pass_and_fail(capsys, spark, db_path):
    rc, out = _run(capsys, ["--db-path", db_path, "check-unique",
                            "--data", fixture_path("unique_data.csv"),
                            "--column", "id"])
    assert rc == 0 and "[PASS]" in out
    rc, out = _run(capsys, ["--db-path", db_path, "check-unique",
                            "--data", fixture_path("duplicate_data.csv"),
                            "--column", "id"])
    assert rc == 1 and "[FAIL]" in out


def test_check_enum_and_logs_roundtrip(capsys, spark, db_path):
    rc, _ = _run(capsys, ["--db-path", db_path, "check-enum",
                          "--data", fixture_path("invalid_enum.csv"),
                          "--column", "status", "--values", "active,inactive"])
    assert rc == 1
    rc, out = _run(capsys, ["--db-path", db_path, "show-logs"])
    assert rc == 0 and "enum" in out and "FAIL" in out
    rc, _ = _run(capsys, ["--db-path", db_path, "clean-logs"])
    assert rc == 0
    rc, out = _run(capsys, ["--db-path", db_path, "show-logs"])
    assert "enum" not in out


@pytest.fixture(scope="module")
def docs_parquet(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("cli_docs")
    p = str(base / "docs.parquet")
    rows = [
        (0, "shared boilerplate line\nthe quick brown fox jumps today"),
        (1, "shared boilerplate line\ncompletely different content here"),
        (2, "the quick brown fox jumps today\nunique tail line content"),
        (3, "cafeé accent line only"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(p)
    return p


def test_cli_normalize(capsys, spark, db_path, docs_parquet, tmp_path):
    out_p = str(tmp_path / "norm.parquet")
    rc, out = _run(capsys, ["--db-path", db_path, "normalize",
                            "--input", docs_parquet, "--output", out_p])
    assert rc == 0 and os.path.exists(out_p)
    texts = {r["doc_id"]: r["text"]
             for r in spark.read.parquet(out_p).collect()}
    assert texts[3] == "cafe\u00e9 accent line only"  # NFC-composed, NBSP collapsed


def test_cli_dedup_lines(capsys, spark, db_path, docs_parquet, tmp_path):
    out_p = str(tmp_path / "lded.parquet")
    rc, out = _run(capsys, ["--db-path", db_path, "dedup-lines",
                            "--input", docs_parquet, "--output", out_p])
    assert rc == 0 and "line-dedup: kept" in out
    kept = {r["doc_id"]: r["n_lines_kept"]
            for r in spark.read.parquet(out_p).collect()}
    assert kept[0] == 2 and kept[1] == 1  # doc 1 loses the shared banner


def test_cli_decontaminate(capsys, spark, db_path, docs_parquet, tmp_path):
    out_p = str(tmp_path / "decon.parquet")
    rc, out = _run(capsys, ["--db-path", db_path, "decontaminate",
                            "--input", docs_parquet,
                            "--benchmark", docs_parquet,
                            "--output", out_p, "--ngram", "3",
                            "--max-frac", "0.99"])
    # benchmark == corpus -> every doc has >= 3 words, so every doc is
    # fully contaminated (frac 1.0 >= 0.99) and must be dropped; an
    # exact 0 pins the argparse->decontaminate threshold plumbing
    assert rc == 0
    assert spark.read.parquet(out_p).count() == 0


def test_cli_snapshot_new_exact_and_bloom(capsys, spark, db_path,
                                          docs_parquet, tmp_path):
    out_a = str(tmp_path / "new_a.parquet")
    out_b = str(tmp_path / "new_b.parquet")
    rc, _ = _run(capsys, ["--db-path", db_path, "snapshot-new",
                          "--input", docs_parquet, "--prior", docs_parquet,
                          "--output", out_a])
    assert rc == 0 and spark.read.parquet(out_a).count() == 0
    rc, _ = _run(capsys, ["--db-path", db_path, "snapshot-new",
                          "--input", docs_parquet, "--prior", docs_parquet,
                          "--output", out_b, "--bloom-bits", str(1 << 16)])
    assert rc == 0 and spark.read.parquet(out_b).count() == 0


def test_cli_profile(capsys, spark, db_path):
    rc, out = _run(capsys, ["--db-path", db_path, "profile",
                            "--data", fixture_path("has_nulls.csv")])
    assert rc == 0 and "nulls=" in out and "distinct=" in out


def test_cli_curate_blocked_domains(capsys, spark, db_path, tmp_path):
    from dqc_spark.pagesgen import generate_pages

    src = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "curated.parquet")
    generate_pages(spark, 120, n_partitions=2).write.parquet(src)
    rc, txt = _run(capsys, [
        "--db-path", db_path, "curate", "--input", src, "--output", out,
        "--near-dup-threshold", "-1",
        "--blocked-domains", "site0.example.com,site1.example.com",
    ])
    assert rc == 0 and "curated" in txt
    doms = {r["domain"]
            for r in spark.read.parquet(out).select("domain").distinct()
            .collect()}
    assert doms and not doms & {"site0.example.com", "site1.example.com"}


def test_cli_blocked_domains_file_paths(spark, tmp_path):
    """Path-shaped --blocked-domains values are READ (UT1 lists ship as
    extensionless 'domains' text files) — never comma-split into one
    bogus inline entry that silently no-ops the blocklist."""
    from dqc_spark.cli import _parse_blocked

    lst = tmp_path / "domains"  # no extension, like UT1
    lst.write_text("site0.example.com\n  site1.example.com  \n\n")
    df = _parse_blocked(spark, str(lst))
    assert sorted(r["domain"] for r in df.collect()) == [
        "site0.example.com", "site1.example.com"]
    # inline lists (no '/') still parse inline
    assert _parse_blocked(spark, "a.com, b.org") == ["a.com", "b.org"]
    # a typo'd path errors instead of silently matching nothing
    with pytest.raises(Exception):
        _parse_blocked(spark, str(tmp_path / "nope" / "domains")).collect()


def test_cli_source_overlap(capsys, spark, db_path, tmp_path):
    p = str(tmp_path / "src_docs.parquet")
    rows = [("a", "same text"), ("b", "same text"), ("b", "only b"),
            ("c", "other text")]
    spark.createDataFrame(rows, "source string, text string").write.parquet(p)
    rc, out = _run(capsys, ["--db-path", db_path, "source-overlap",
                            "--data", p])
    assert rc == 0
    assert "1  a ~ b" in out
    assert "source-overlap: 1 overlapping pairs" in out


def test_cli_curate_split(capsys, spark, db_path, tmp_path):
    from dqc_spark.pagesgen import generate_pages

    src = str(tmp_path / "pages_split.parquet")
    out_p = str(tmp_path / "curated_split.parquet")
    generate_pages(spark, 80, n_partitions=2).write.parquet(src)
    rc, out = _run(capsys, [
        "--db-path", db_path, "curate", "--input", src, "--output", out_p,
        "--near-dup-threshold", "-1", "--split", "train=0.9,val=0.1"])
    assert rc == 0
    splits = {r["split"] for r in spark.read.parquet(out_p).collect()}
    assert splits <= {"train", "val"} and "train" in splits


def test_cli_completeness_and_freshness(capsys, spark, db_path, tmp_path):
    import datetime as dt

    p = str(tmp_path / "fresh_docs.parquet")
    rows = [(1, "a", dt.datetime(2024, 1, 10)),
            (2, None, dt.datetime(2024, 1, 20))]
    spark.createDataFrame(rows, "id long, v string, ts timestamp"
                          ).write.parquet(p)
    rc, out = _run(capsys, ["--db-path", db_path, "check-completeness",
                            "--data", p, "--column", "v",
                            "--max-fraction", "0.5"])
    assert rc == 0 and "[PASS] is_column_null_fraction_max" in out
    rc, out = _run(capsys, ["--db-path", db_path, "check-completeness",
                            "--data", p, "--column", "v",
                            "--max-fraction", "0.1"])
    assert rc == 1 and "[FAIL]" in out and "observed=0.5" in out
    rc, out = _run(capsys, ["--db-path", db_path, "check-freshness",
                            "--data", p, "--column", "ts",
                            "--newer-than", "2024-01-15T00:00:00"])
    assert rc == 0 and "[PASS] is_column_fresh" in out
    rc, out = _run(capsys, ["--db-path", db_path, "check-freshness",
                            "--data", p, "--column", "ts",
                            "--newer-than", "2025-01-01T00:00:00"])
    assert rc == 1
    # both verbs logged to the audit sink like every reference check
    rc, out = _run(capsys, ["--db-path", db_path, "show-logs"])
    assert "is_column_null_fraction_max" in out and "is_column_fresh" in out


def test_cli_induce_blocklist_and_reuse(capsys, spark, db_path, tmp_path):
    src = str(tmp_path / "labeled.parquet")
    rows = ([(f"http://farm.net/{i}", i % 10 == 0) for i in range(20)]
            + [(f"http://ok.com/{i}", True) for i in range(20)])
    spark.createDataFrame(rows, "url string, keep boolean") \
         .write.parquet(src)
    bl_p = str(tmp_path / "blocklist.parquet")
    rc, out = _run(capsys, ["--db-path", db_path, "induce-blocklist",
                            "--data", src, "--max-keep-rate", "0.25",
                            "--min-docs", "5", "--output", bl_p])
    assert rc == 0
    assert "farm.net" in out and "ok.com" not in out
    assert "induce-blocklist: 1 domains" in out
    # the written parquet feeds curate --blocked-domains directly
    doms = {r["domain"] for r in spark.read.parquet(bl_p).collect()}
    assert doms == {"farm.net"}
    # missing column errors cleanly, not a traceback
    with pytest.raises(SystemExit, match="keep"):
        cli.main(["--db-path", db_path, "induce-blocklist",
                  "--data", src, "--keep-column", "nope"])


def test_cli_audit_anomalies(capsys, spark, db_path, tmp_path):
    audit_p = str(tmp_path / "audit_hist.parquet")
    rows = []
    for i in range(6):
        rows.append((f"r{i}", "check-unique", 200 + (i % 3)))
        rows.append((f"r{i}", "check-not-null", 0))
    rows.append(("r6", "check-unique", 40000))
    rows.append(("r6", "check-not-null", 0))
    spark.createDataFrame(
        rows, "run_id string, check_type string, error_count long"
    ).write.parquet(audit_p)
    rc, out = _run(capsys, ["--db-path", db_path, "audit-anomalies",
                            "--audit", audit_p, "--k", "3"])
    assert rc == 0
    assert "check-unique" in out and "run=r6" in out
    assert "audit-anomalies: 1 anomalous runs" in out


def test_cli_tag_and_apply_attributes(capsys, spark, db_path, tmp_path):
    from dqc_spark.pagesgen import generate_pages
    from dqc_spark.pipeline import annotate

    src = str(tmp_path / "pages_attr.parquet")
    attrs_p = str(tmp_path / "attrs.parquet")
    out_p = str(tmp_path / "filtered.parquet")
    pages = generate_pages(spark, 80, n_partitions=2).dropDuplicates(["url"])
    pages.write.parquet(src)

    rc, out = _run(capsys, ["--db-path", db_path, "tag",
                            "--input", src, "--output", attrs_p])
    assert rc == 0 and "tagged" in out
    attrs = spark.read.parquet(attrs_p)
    assert "text" not in attrs.columns and "keep" in attrs.columns

    # re-gate from the stored table with a tighter word floor
    rc, out = _run(capsys, ["--db-path", db_path, "apply-attributes",
                            "--input", src, "--attributes", attrs_p,
                            "--output", out_p,
                            "--thresholds", "min_words=150"])
    assert rc == 0 and "kept" in out
    got = {r["url"] for r in spark.read.parquet(out_p).select("url").collect()}
    want = {r["url"] for r in
            annotate(spark.read.parquet(src), thresholds={"min_words": 150})
            .filter("keep").select("url").collect()}
    assert got == want


def test_cli_mix_epochs(capsys, spark, db_path, tmp_path):
    src = str(tmp_path / "mix_docs.parquet")
    rows = [(i, "hot" if i < 90 else "rare", f"doc {i}") for i in range(100)]
    spark.createDataFrame(
        rows, "doc_id long, source string, text string").write.parquet(src)
    out_p = str(tmp_path / "mixed.parquet")
    rc, out = _run(capsys, [
        "--db-path", db_path, "mix-epochs", "--input", src,
        "--output", out_p, "--alpha", "0.0", "--budget-docs", "200",
        "--max-epochs", "4"])
    assert rc == 0 and "epoch-tagged rows" in out
    from pyspark.sql import functions as F

    got = spark.read.parquet(out_p)
    # uniform mix at budget 200: each source owes 100 -> rare (10 docs)
    # repeats for 10 full epochs, capped at 4
    per = {r["source"]: r["max_e"] for r in
           got.groupBy("source").agg(F.max("epoch").alias("max_e")).collect()}
    assert per["rare"] == 3  # 4 full passes = epochs 0..3
    assert got.filter("source = 'rare'").count() == 40
    # validation surfaces as a clean exit code, not a traceback
    rc2, _ = _run(capsys, [
        "--db-path", db_path, "mix-epochs", "--input", src,
        "--output", out_p, "--max-epochs", "0"])
    assert rc2 == 2


def test_cli_curate_config_equivalent_and_override(
        capsys, spark, db_path, tmp_path):
    """A JSON --config produces the same corpus as the equivalent flags;
    flags typed on the command line override the file (last-wins)."""
    import json

    from dqc_spark.pagesgen import generate_pages

    src = str(tmp_path / "pages_cfg.parquet")
    generate_pages(spark, 80, n_partitions=2).write.parquet(src)
    cfg = str(tmp_path / "pipeline.json")
    with open(cfg, "w") as f:
        json.dump({
            "near_dup_threshold": -1,          # underscore form
            "normalize": True,                 # switch
            "split": {"train": 0.9, "val": 0.1},  # dict -> k=v,...
            "blocked-domains": ["site0.example.com",
                                "site1.example.com"],  # list -> csv
        }, f)

    out_cfg = str(tmp_path / "cur_cfg.parquet")
    rc, _ = _run(capsys, ["--db-path", db_path, "curate",
                          "--config", cfg,
                          "--input", src, "--output", out_cfg])
    assert rc == 0
    out_flags = str(tmp_path / "cur_flags.parquet")
    rc, _ = _run(capsys, [
        "--db-path", db_path, "curate", "--input", src,
        "--output", out_flags, "--near-dup-threshold", "-1",
        "--normalize", "--split", "train=0.9,val=0.1",
        "--blocked-domains", "site0.example.com,site1.example.com"])
    assert rc == 0
    a = {tuple(r) for r in spark.read.parquet(out_cfg)
         .select("url", "split").collect()}
    b = {tuple(r) for r in spark.read.parquet(out_flags)
         .select("url", "split").collect()}
    assert a == b and a
    doms = {r["domain"] for r in spark.read.parquet(out_cfg)
            .select("domain").distinct().collect()}
    assert not doms & {"site0.example.com", "site1.example.com"}

    # CLI overrides the file: config says train-only, CLI re-splits
    with open(cfg, "w") as f:
        json.dump({"near_dup_threshold": -1,
                   "split": {"train": 1.0}}, f)
    out_ovr = str(tmp_path / "cur_ovr.parquet")
    rc, _ = _run(capsys, ["--db-path", db_path, "curate",
                          "--config", cfg, "--input", src,
                          "--output", out_ovr,
                          "--split", "train=0.5,val=0.5"])
    assert rc == 0
    splits = {r["split"] for r in spark.read.parquet(out_ovr).collect()}
    assert splits == {"train", "val"}


def test_cli_curate_config_rejects_bad_keys(capsys, tmp_path):
    """Unknown / malformed config keys fail fast with rc 2 — a typo'd
    stage name must not silently skip the stage.  No Spark work runs."""
    import json

    from dqc_spark import cli

    cfg = str(tmp_path / "bad.json")
    with open(cfg, "w") as f:
        json.dump({"near_dup_treshold": -1}, f)   # typo
    rc = cli.main(["curate", "--config", cfg,
                   "--input", "x", "--output", "y"])
    assert rc == 2
    err = capsys.readouterr().err
    assert "unknown config key" in err and "near_dup_treshold" in err

    # a saved spec naming a deleted stage (domain-rank gate, trained
    # quality classifier) fails the same way instead of skipping it
    for key, val in (("min_domain_rank", 0.1),
                     ("quality_labels", "labels.parquet")):
        with open(cfg, "w") as f:
            json.dump({key: val}, f)
        rc = cli.main(["curate", "--config", cfg,
                       "--input", "x", "--output", "y"])
        assert rc == 2
        err = capsys.readouterr().err
        assert "unknown config key" in err and key in err

    with open(cfg, "w") as f:
        json.dump({"normalize": 0.5}, f)          # switch needs bool
    rc = cli.main(["curate", "--config", cfg,
                   "--input", "x", "--output", "y"])
    assert rc == 2 and "switch" in capsys.readouterr().err

    with open(cfg, "w") as f:
        f.write("[1, 2]")                          # not an object
    rc = cli.main(["curate", "--config", cfg,
                   "--input", "x", "--output", "y"])
    assert rc == 2 and "JSON object" in capsys.readouterr().err


def test_cli_curate_print_config_roundtrip(capsys, tmp_path):
    """--print-config freezes the effective flags into --config-ready
    JSON (no Spark session): flags -> JSON -> --config -> identical
    JSON.  Defaults are omitted; the file+CLI merge is what prints."""
    import json

    from dqc_spark import cli

    flags = ["curate", "--input", "in.parquet", "--output", "out.parquet",
             "--near-dup-threshold", "-1", "--normalize",
             "--split", "train=0.9,val=0.1"]
    rc = cli.main(flags + ["--print-config"])
    assert rc == 0
    cfg1 = json.loads(capsys.readouterr().out)
    assert cfg1["normalize"] is True
    assert cfg1["split"] == "train=0.9,val=0.1"
    assert "pack_budget" not in cfg1          # defaults omitted

    p = str(tmp_path / "frozen.json")
    with open(p, "w") as f:
        json.dump(cfg1, f)
    rc = cli.main(["curate", "--config", p, "--print-config"])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == cfg1

    # CLI still overrides the frozen file in the printed merge
    rc = cli.main(["curate", "--config", p,
                   "--split", "train=1.0", "--print-config"])
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["split"] == "train=1.0"


def test_cli_pii_spans_and_redact(capsys, spark, db_path, tmp_path):
    src = str(tmp_path / "pii_docs.parquet")
    spark.createDataFrame(
        [(1, "mail a@b.co from 10.0.0.1"), (2, "clean page")],
        "doc_id long, text string").write.parquet(src)
    spans_p = str(tmp_path / "spans.parquet")
    rc, out = _run(capsys, ["--db-path", db_path, "pii-spans",
                            "--input", src, "--output", spans_p,
                            "--key-column", "doc_id"])
    assert rc == 0 and "tagged 2 spans across 1 docs" in out
    out_p = str(tmp_path / "redacted.parquet")
    rc, out = _run(capsys, ["--db-path", db_path, "redact",
                            "--input", src, "--spans", spans_p,
                            "--output", out_p,
                            "--key-column", "doc_id",
                            "--rules", "email"])
    assert rc == 0
    got = {r["doc_id"]: r["scrubbed_text"]
           for r in spark.read.parquet(out_p).collect()}
    assert got == {1: "mail <EMAIL> from 10.0.0.1", 2: "clean page"}


def test_cli_curate_incremental_logs_config_provenance(
        capsys, spark, db_path, tmp_path):
    """The CLI --incremental path end-to-end: second identical run
    short-circuits, and each run's audit trail carries a curate_config
    row with the effective policy in params."""
    from dqc_spark.pagesgen import generate_pages

    src = str(tmp_path / "pages_inc.parquet")
    out_p = str(tmp_path / "cur_inc.parquet")
    generate_pages(spark, 60, n_partitions=2).write.parquet(src)
    argv = ["--db-path", db_path, "curate", "--input", src,
            "--output", out_p, "--near-dup-threshold", "-1",
            "--normalize", "--incremental"]
    rc, out = _run(capsys, argv)
    assert rc == 0 and "incremental:" in out
    n1 = spark.read.parquet(out_p).count()
    assert n1 > 0
    rc, out = _run(capsys, argv)
    assert rc == 0 and "nothing new" in out
    assert spark.read.parquet(out_p).count() == n1  # no duplicate append

    audit = spark.read.parquet(out_p.rstrip("/") + "_audit")
    cfg_rows = audit.filter("check_type = 'curate_config'").collect()
    assert len(cfg_rows) == 2  # one per run, including the skip run
    params = cfg_rows[0]["params"]
    assert params["normalize"] == "True"
    assert params["near_dup_threshold"] == "-1.0"
    assert params["input"] == src


def test_cli_table_diff(capsys, spark, db_path, tmp_path):
    from pyspark.sql import Row

    from dqc_spark import snaptable

    root = str(tmp_path / "tbl")
    t = snaptable.create(spark, root, spark.createDataFrame(
        [Row(url="a", text="one"), Row(url="b", text="two")]))
    t.delete_where("url = 'a'")
    t.append(spark.createDataFrame([Row(url="c", text="three")]))
    out_p = str(tmp_path / "diff.parquet")
    rc, out = _run(capsys, ["--db-path", db_path, "table-diff",
                            "--table", root, "--keys", "url",
                            "--from", "1", "--output", out_p])
    assert rc == 0
    assert "added=1 removed=1 changed=0" in out
    got = {r["url"]: r["change"]
           for r in spark.read.parquet(out_p).collect()}
    assert got == {"a": "removed", "c": "added"}
    # bad version / missing table surface as clean SystemExit
    with pytest.raises(SystemExit):
        _run(capsys, ["--db-path", db_path, "table-diff",
                      "--table", root, "--keys", "", "--from", "1"])
    with pytest.raises(SystemExit):
        _run(capsys, ["--db-path", db_path, "table-diff",
                      "--table", str(tmp_path / "nope"), "--keys", "url",
                      "--from", "1"])


def test_cli_report(capsys, spark, db_path, docs_parquet, tmp_path):
    from pyspark.sql import functions as F

    # docs_parquet has no lang column -> group by a derived parquet
    src = str(tmp_path / "langdocs.parquet")
    spark.read.parquet(docs_parquet).withColumn(
        "lang", F.when(F.col("doc_id") < 2, "en").otherwise("fr")
    ).write.parquet(src)
    out_p = str(tmp_path / "report.parquet")
    rc, out = _run(capsys, ["--db-path", db_path, "report",
                            "--input", src, "--output", out_p])
    assert rc == 0
    assert "| **TOTAL** | 4 | 100.0% |" in out
    assert "report written to" in out
    rep = {r["lang"]: r["n_docs"]
           for r in spark.read.parquet(out_p).collect()}
    assert rep == {"en": 2, "fr": 2}
    with pytest.raises(SystemExit):
        _run(capsys, ["--db-path", db_path, "report", "--input", src,
                      "--group-column", "nope"])
    with pytest.raises(SystemExit):
        _run(capsys, ["--db-path", db_path, "report", "--input", src,
                      "--short-chars", "500", "--long-chars", "100"])


def test_cli_curate_report_flag(capsys, spark, db_path, tmp_path):
    from dqc_spark.pagesgen import generate_pages

    src = str(tmp_path / "pages.parquet")
    generate_pages(spark, 60).write.parquet(src)
    out_p = str(tmp_path / "cur")
    rc, out = _run(capsys, ["--db-path", db_path, "curate",
                            "--input", src, "--output", out_p,
                            "--near-dup-threshold", "-1", "--report"])
    assert rc == 0
    assert "| lang | docs | share |" in out
    assert "| **TOTAL** |" in out and "curated 60 ->" in out


def test_cli_report_over_snapshot_table_version(capsys, spark, db_path,
                                                tmp_path):
    from pyspark.sql import Row

    from dqc_spark import snaptable

    root = str(tmp_path / "tbl")
    t = snaptable.create(spark, root, spark.createDataFrame(
        [Row(url="a", text="one two", lang="en"),
         Row(url="b", text="trois", lang="fr")]))
    t.delete_where("lang = 'fr'")
    # current version: en only
    rc, out = _run(capsys, ["--db-path", db_path, "report",
                            "--table", root])
    assert rc == 0 and "| **TOTAL** | 1 |" in out and "| fr |" not in out
    # time travel: v1 still shows both languages
    rc, out = _run(capsys, ["--db-path", db_path, "report",
                            "--table", root, "--version", "1"])
    assert rc == 0 and "| fr | 1 |" in out and "| **TOTAL** | 2 |" in out
    with pytest.raises(SystemExit):
        _run(capsys, ["--db-path", db_path, "report",
                      "--table", root, "--version", "99"])
    with pytest.raises(SystemExit):
        _run(capsys, ["--db-path", db_path, "report",
                      "--input", root, "--version", "1"])


def test_cli_calibrate_and_gate_thresholds(capsys, spark, db_path,
                                           tmp_path):
    import json

    from dqc_spark.pagesgen import generate_pages

    src = str(tmp_path / "pages.parquet")
    generate_pages(spark, 80).write.parquet(src)
    out_json = str(tmp_path / "th.json")
    rc, out = _run(capsys, ["--db-path", db_path, "calibrate",
                            "--trusted", src, "--quantile", "0.05",
                            "--output", out_json])
    assert rc == 0 and "--gate-thresholds min_words=" in out
    th = json.load(open(out_json))["gate_thresholds"]
    assert set(th) == {
        "min_words", "max_words", "min_mean_word_length",
        "max_mean_word_length", "min_stopword_ratio", "min_alpha_ratio",
        "max_symbol_word_ratio", "max_dup_line_fraction",
        "max_dup_bigram_fraction"}
    # an impossible min_words bound through --gate-thresholds drops all
    out_p = str(tmp_path / "cur")
    rc, out = _run(capsys, ["--db-path", db_path, "curate",
                            "--input", src, "--output", out_p,
                            "--near-dup-threshold", "-1",
                            "--gate-thresholds", "min_words=100000"])
    assert rc == 0 and "-> 0 docs" in out
    with pytest.raises(SystemExit, match="unknown gate threshold"):
        _run(capsys, ["--db-path", db_path, "curate",
                      "--input", src, "--output", out_p,
                      "--near-dup-threshold", "-1",
                      "--gate-thresholds", "min_wordz=1"])
