"""Persisted cross-run MinHash band index (bandindex.py): two-run
parity with the whole-corpus operator, partition invariance, the
never-re-read-prior-text plan pin, artifact lifecycle, and the
curate --incremental wiring."""

import pytest
from pyspark.sql import functions as F

from dqc_spark.bandindex import (
    create_band_index,
    extend_band_index,
    incremental_near_dups,
    load_band_index,
)
from dqc_spark.dedup import minhash_near_dups, minhash_signatures

BASE = (
    "the quick brown fox jumps over the lazy dog and keeps running "
    "through the quiet forest while the morning light slowly rises"
)
ALT = (
    "spark shuffles partition data across executors for wide joins "
    "while the scheduler assigns tasks to free cores in waves"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "key long, text string")


@pytest.fixture(scope="module")
def corpora(spark):
    # run-A corpus: an internal near-dup pair (1,2) + two singletons
    a = [
        (1, BASE),
        (2, BASE + " extra tail words here"),
        (3, ALT),
        (4, "completely different content about cooking pasta at home "
            "with fresh tomatoes garlic olive oil and basil leaves"),
    ]
    # run-B increment: 11 near-dups A's 1, (12,13) near-dup each other,
    # 14 is fresh, 15 near-dups A's 3
    b = [
        (11, BASE + " appended by a mirror site"),
        (12, "numbers stations broadcast coded messages at night over "
             "shortwave radio to unknown listeners across the ocean"),
        (13, "numbers stations broadcast coded messages at night over "
             "shortwave radio to unknown listeners across the sea"),
        (14, "a fresh unrelated document about mountain hiking trails "
             "and the gear you should carry for a long alpine day"),
        (15, ALT + " with a small suffix"),
    ]
    return _docs(spark, a), _docs(spark, b)


def _pairs(df):
    return {(r["key_a"], r["key_b"]) for r in df.collect()}


def test_two_run_parity_with_whole_corpus(spark, tmp_path, corpora):
    """prior-run pairs ∪ incremental pairs == whole-corpus
    minhash_near_dups over the union, bit-for-bit on est_jaccard —
    signatures are a pure per-doc function, and the union band table
    is identical either way."""
    a, b = corpora
    whole = {
        (r["key_a"], r["key_b"]): r["est_jaccard"]
        for r in minhash_near_dups(a.unionByName(b), "key").collect()
    }
    prior = {
        (r["key_a"], r["key_b"]): r["est_jaccard"]
        for r in minhash_near_dups(a, "key").collect()
    }
    idx = create_band_index(a, "key", str(tmp_path / "idx"))
    incr_rows = incremental_near_dups(idx, b, "key").collect()
    incr = {(r["key_a"], r["key_b"]): r["est_jaccard"] for r in incr_rows}

    assert whole  # the fixture must actually produce near-dup pairs
    assert {**prior, **incr} == whole
    # every incremental pair touches >= 1 new key, flags track sides
    new_keys = {r["key"] for r in b.select("key").collect()}
    for r in incr_rows:
        assert r["a_is_new"] == (r["key_a"] in new_keys)
        assert r["b_is_new"] == (r["key_b"] in new_keys)
        assert r["a_is_new"] or r["b_is_new"]
    # and the prior-only pairs are exactly what run 1 already found
    assert set(whole) - set(incr) == set(prior)


def test_partition_invariance(spark, tmp_path, corpora):
    a, b = corpora
    idx = create_band_index(a, "key", str(tmp_path / "idx"))
    many = _pairs(incremental_near_dups(idx, b.repartition(7), "key"))
    one = _pairs(incremental_near_dups(idx, b.coalesce(1), "key"))
    assert many == one


def test_three_run_growth(spark, tmp_path, corpora):
    """After extending the index with run B, run C's increment sees
    near-dups of BOTH earlier runs."""
    a, b = corpora
    c = _docs(spark, [
        (21, BASE + " third crawl copy"),                       # ~ A's 1
        (22, "numbers stations broadcast coded messages at night over "
             "shortwave radio to unknown listeners across the water"),  # ~ B
        (23, "entirely new material on deep sea creatures and the "
             "pressure adaptations their bodies evolved over time"),
    ])
    idx = create_band_index(a, "key", str(tmp_path / "idx"))
    extend_band_index(idx, b, "key")
    got = _pairs(incremental_near_dups(idx, c, "key"))
    whole = minhash_near_dups(
        a.unionByName(b).unionByName(c), "key")
    want = {(ka, kb) for (ka, kb) in _pairs(whole) if ka >= 21 or kb >= 21}
    assert got == want
    assert any(kb == 21 or ka == 21 for ka, kb in got)  # vs run A
    assert any(ka == 12 or ka == 13 for ka, _ in got)   # vs run B


def test_prior_text_never_read_plan_pin(spark, tmp_path, corpora):
    """The scale contract: the incremental query's plan scans the new
    snapshot and the index parquet — never the prior corpus's text."""
    a, b = corpora
    prior_dir = str(tmp_path / "prior_pages_xyz")
    a.write.parquet(prior_dir)
    prior_pages = spark.read.parquet(prior_dir)
    idx = create_band_index(prior_pages, "key", str(tmp_path / "idx"))
    plan = incremental_near_dups(
        idx, b, "key")._jdf.queryExecution().toString()
    assert "prior_pages_xyz" not in plan
    assert "idx" in plan


def test_artifact_lifecycle(spark, tmp_path, corpora):
    a, b = corpora
    path = str(tmp_path / "idx")
    with pytest.raises(FileNotFoundError):
        load_band_index(spark, path)
    idx = create_band_index(a, "key", path, num_perm=32, bands=8)
    with pytest.raises(FileExistsError):
        create_band_index(a, "key", path)
    with pytest.raises(ValueError):
        create_band_index(a, "key", str(tmp_path / "bad"),
                          num_perm=64, bands=7)
    re = load_band_index(spark, path)
    assert (re.num_perm, re.shingle_k, re.bands, re.rows_per_band) == \
        (32, 5, 8, 4)
    # extend with caller-precomputed signatures: no re-signature pass
    sigs = minhash_signatures(b, "key", num_perm=32)
    extend_band_index(re, b, "key", signatures=sigs)
    keys = {r["key"] for r in re.signatures().collect()}
    assert keys == {1, 2, 3, 4, 11, 12, 13, 14, 15}
    assert re.banded().count() == len(keys) * 8


def test_curate_incremental_near_index(spark, tmp_path):
    """End-to-end wiring: run 2's increment contains a near-dup of a
    run-1 SURVIVOR — with --near-index it is dropped before the
    append, the audit row records it, and the index only ever carries
    survivors."""
    from dqc_spark.audit import ParquetAuditSink
    from dqc_spark.pagesgen import generate_pages
    from dqc_spark.resume import curate_incremental

    out = str(tmp_path / "corpus.parquet")
    nidx = str(tmp_path / "nearidx")
    audit = ParquetAuditSink(spark, str(tmp_path / "audit.parquet"))
    pages1 = generate_pages(spark, 40, n_partitions=2)
    s1 = curate_incremental(spark, pages1, out, audit, "rg",
                            near_dup_threshold=None,
                            near_index_path=nidx)
    assert s1["n_appended"] > 0 and s1["n_near_dropped"] == 0
    assert load_band_index(spark, nidx).signatures().count() == \
        s1["n_appended"]

    # run 2: one near-mirror of a run-1 SURVIVOR (tail words appended
    # -> new digest, passes the exact-new probe, but ~identical
    # shingle set) + one genuinely new page from a later crawl; both
    # keep the full input-page schema so the appends stay homogeneous
    survivor_url = spark.read.parquet(out).orderBy("url").first()["url"]
    run1_urls = [r["url"] for r in pages1.select("url").collect()]
    mirror = (pages1.filter(F.col("url") == survivor_url)
              .withColumn("url", F.lit("https://mirror.example/copy"))
              .withColumn("text", F.concat(
                  F.col("text"), F.lit(" mirrored by another site"))))
    fresh = (generate_pages(spark, 60, n_partitions=1)
             .filter(~F.col("url").isin(run1_urls)).orderBy("url").limit(1))
    pages2 = mirror.unionByName(fresh)
    s2 = curate_incremental(spark, pages2, out, audit, "rg",
                            near_dup_threshold=None,
                            near_index_path=nidx)
    assert s2["n_new"] == 2
    assert s2["n_near_dropped"] >= 1
    urls = {r["url"] for r in spark.read.parquet(out).collect()}
    assert "https://mirror.example/copy" not in urls
    # index carries exactly the appended survivors of both runs
    assert load_band_index(spark, nidx).signatures().count() == \
        s1["n_appended"] + s2["n_appended"]
    row = (audit.read()
           .filter(F.col("check_type") == "curate_increment")
           .orderBy(F.col("seq").desc()).first())
    assert int(row["params"]["n_near_dropped"]) >= 1


def test_extend_is_first_wins_and_idempotent(spark, tmp_path, corpora):
    """Review fixes: (a) a replayed extend (crash-reprocess contract)
    must be a no-op, not a duplicate-signature append that would
    multiply every scored pair touching the key; (b) a re-crawled key
    with CHANGED text keeps its original signature (first-wins —
    revision dedup is the url-canonicalization layer's job)."""
    a, b = corpora
    idx = create_band_index(a, "key", str(tmp_path / "idx"))
    n0 = idx.signatures().count()
    extend_band_index(idx, a, "key")  # replay: all keys already present
    assert idx.signatures().count() == n0
    assert idx.banded().count() == n0 * idx.bands
    changed = a.withColumn("text", F.concat(F.col("text"), F.lit(" v2")))
    extend_band_index(idx, changed, "key")  # re-crawl, same keys
    assert idx.signatures().count() == n0
    extend_band_index(idx, b, "key")  # genuinely new keys still land
    assert idx.signatures().count() == n0 + b.count()
    # pairs stay unique per (key_a, key_b) — no duplicate scored rows
    pairs = incremental_near_dups(idx, b, "key").collect()
    keys = [(r["key_a"], r["key_b"]) for r in pairs]
    assert len(keys) == len(set(keys))


def test_extend_crash_between_appends_is_replayable(spark, tmp_path,
                                                   corpora, monkeypatch):
    """A crash after the signature append but before the band append
    must not leave keys with no band rows: the replay skips the landed
    signatures and still writes their bands, or those docs would stay
    invisible to candidate generation for good."""
    import dqc_spark.bandindex as bi

    a, b = corpora
    idx = create_band_index(a, "key", str(tmp_path / "idx"))

    def boom(*args, **kwargs):
        raise RuntimeError("simulated crash between the appends")

    monkeypatch.setattr(bi, "band_frame", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        extend_band_index(idx, b, "key")
    monkeypatch.undo()
    assert idx.signatures().count() == a.count() + b.count()

    extend_band_index(idx, b, "key")  # the crash-reprocess replay
    keys = [r["key"] for r in idx.signatures().select("key").collect()]
    assert len(keys) == len(set(keys)) == a.count() + b.count()
    assert idx.banded().count() == idx.signatures().count() * idx.bands
    # the replayed band table is the one a clean build over a ∪ b makes
    clean = create_band_index(a.unionByName(b), "key",
                              str(tmp_path / "clean"))
    assert sorted(map(tuple, idx.banded().collect())) == sorted(
        map(tuple, clean.banded().collect()))


def test_create_crash_leaves_no_wedged_index(spark, tmp_path, corpora,
                                             monkeypatch):
    """Review fix: create builds under a scratch dir and renames into
    place LAST — a crash mid-build must leave the path absent (so the
    next run bootstraps cleanly), never a loadable index whose parquet
    dirs are missing (which would wedge every later incremental run)."""
    import dqc_spark.bandindex as bi

    a, _ = corpora
    path = str(tmp_path / "idx")

    def boom(*args, **kwargs):
        raise RuntimeError("simulated mid-build crash")

    monkeypatch.setattr(bi, "minhash_signatures", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        create_band_index(a, "key", path)
    monkeypatch.undo()
    import os

    assert not os.path.exists(path)
    with pytest.raises(FileNotFoundError):
        load_band_index(spark, path)
    # and the path is immediately re-creatable
    idx = create_band_index(a, "key", path)
    assert idx.signatures().count() == a.count()
