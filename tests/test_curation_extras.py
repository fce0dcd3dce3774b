"""Round-2 curation operators: decontamination and cross-split leakage,
incremental snapshot dedup (+bloom), NFC normalization, deterministic
global ordering, compression-ratio signal."""

import hashlib
import random
import zlib

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def _py_grams(text: str, n: int) -> set:
    toks = [t for t in text.lower().split() if t]
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@pytest.fixture(scope="module")
def contam_docs(spark):
    bench_text = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (0, bench_text),  # verbatim benchmark copy -> fully contaminated
        (1, "completely unrelated words about spark shuffles and joins today"),
        (2, "prefix words then the quick brown fox jumps over something else"),
        (3, "tiny doc"),  # < n words -> zero grams
        (4, None),  # NULL text
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    return docs, bench, bench_text


def test_contamination_scores_match_python(spark, contam_docs):
    from dqc_spark.decontam import contamination_scores

    docs, bench, bench_text = contam_docs
    got = {
        r["doc_id"]: (r["n_grams"], r["n_hit"], r["contam_frac"])
        for r in contamination_scores(docs, bench, n=3).collect()
    }
    bg = _py_grams(bench_text, 3)
    for doc_id, text in [(0, bench_text),
                         (1, "completely unrelated words about spark shuffles and joins today"),
                         (2, "prefix words then the quick brown fox jumps over something else"),
                         (3, "tiny doc"), (4, None)]:
        g = _py_grams(text or "", 3)
        hit = len(g & bg)
        exp_frac = hit / len(g) if g else 0.0
        assert got[doc_id] == (len(g), hit, pytest.approx(exp_frac)), doc_id
    assert got[0][2] == 1.0  # verbatim copy
    assert got[1][1] == 0


def test_decontaminate_drops_contaminated(spark, contam_docs):
    from dqc_spark.decontam import decontaminate

    docs, bench, _ = contam_docs
    kept = sorted(
        r["doc_id"] for r in decontaminate(docs, bench, n=3, max_frac=0.5).collect()
    )
    # doc 0 (frac 1.0) dropped; docs 1-4 survive (3/4 have frac < 0.5)
    assert kept == [1, 2, 3, 4]


def test_decontaminate_cjk_benchmark(spark):
    # a space-free CJK benchmark decontaminates per character n-gram
    # (the fold_tokens CCNet fallback): a doc embedding the benchmark
    # sentence is fully flagged, an unrelated CJK doc is untouched
    from dqc_spark.decontam import contamination_scores
    from dqc_spark.wordhash import fold_tokens

    bench_text = "日本語の文書です"
    rows = [
        (0, "前置き" + bench_text + "後書き"),  # embeds the benchmark
        (1, "完全に無関係な中国宇宙計画"),
        (2, "plain ascii text only here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(9, bench_text)],
                                  "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_hit"])
           for r in contamination_scores(docs, bench, n=3).collect()}

    def grams(t):
        toks = fold_tokens(t)
        return {" ".join(toks[i:i + 3])
                for i in range(len(toks) - 2)} if len(toks) >= 3 else set()

    bg = grams(bench_text)
    assert len(bg) == len(bench_text) - 2  # per-codepoint grams
    for i, t in rows:
        g = grams(t)
        assert got[i] == (len(g), len(g & bg)), (i, t)
    assert got[0][1] == len(bg)  # every benchmark gram leaked
    assert got[1][1] == 0 and got[2][1] == 0


def test_contamination_plan_broadcasts_benchmark(spark, contam_docs):
    from dqc_spark.decontam import contamination_scores

    docs, bench, _ = contam_docs
    plan = contamination_scores(docs, bench, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # corpus side never shuffles for the probe


def test_split_leakage_detects_planted_pair(spark):
    from dqc_spark.decontam import split_leakage

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base + " one", "train"),
        (2, base + " one extra", "val"),      # near-dup of 1, cross-split
        (3, "completely different content about spark shuffles", "train"),
        (4, base + " one tweak", "train"),    # near-dup of 1, SAME split
        (5, "unrelated validation document text entirely", "val"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, split string")
    got = split_leakage(df, "doc_id", threshold=0.5).collect()
    pairs = {frozenset((r["key_a"], r["key_b"])) for r in got}
    assert frozenset((1, 2)) in pairs
    # same-split near-dup (1,4) must NOT be reported
    assert frozenset((1, 4)) not in pairs
    for r in got:
        assert r["split_a"] != r["split_b"]
        assert r["est_jaccard"] >= 0.5


def test_split_leakage_clean_corpus_empty(spark):
    from dqc_spark.decontam import split_leakage

    rows = [(1, "alpha beta gamma delta epsilon", "train"),
            (2, "zeta eta theta iota kappa", "val")]
    df = spark.createDataFrame(rows, "doc_id long, text string, split string")
    assert split_leakage(df, "doc_id", threshold=0.5).count() == 0


def test_split_leakage_surfaces_null_labels(spark):
    from dqc_spark.decontam import split_leakage

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, base + " one", "train"),
            (2, base + " one extra", None),   # unlabeled near-dup
            (3, base + " one tweak", None)]   # NULL-vs-NULL: NOT a pair
    df = spark.createDataFrame(rows, "doc_id long, text string, split string")
    pairs = {frozenset((r["key_a"], r["key_b"]))
             for r in split_leakage(df, "doc_id", threshold=0.5).collect()}
    assert frozenset((1, 2)) in pairs   # train-vs-NULL surfaced
    assert frozenset((2, 3)) not in pairs  # both unlabeled: same bucket


# ---------------------------------------------------------------------------
# incremental snapshot dedup
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def snapshots(spark):
    rng = random.Random(7)
    prior_texts = [f"prior document number {i} body {rng.random():.6f}" for i in range(200)]
    # snapshot: 100 genuinely new + 50 exact re-crawls of prior content
    new_texts = [f"fresh document {i} body {rng.random():.6f}" for i in range(100)]
    snap_rows = [(i, t) for i, t in enumerate(new_texts + prior_texts[:50])]
    prior = spark.createDataFrame(
        list(enumerate(prior_texts)), "doc_id long, text string"
    )
    snap = spark.createDataFrame(snap_rows, "doc_id long, text string")
    return snap, prior, set(new_texts)


def test_new_docs_exact(spark, snapshots):
    from dqc_spark.snapshot import new_docs

    snap, prior, truly_new = snapshots
    got = new_docs(snap, prior).collect()
    assert {r["text"] for r in got} == truly_new
    assert len(got) == 100


def test_bloom_no_false_negatives(spark, snapshots):
    from dqc_spark.snapshot import BloomFilter, build_bloom, content_digests

    snap, prior, _ = snapshots
    bloom = build_bloom(content_digests(prior, "text"), "digest", n_bits=1 << 16, k=5)
    # every prior digest must probe positive (bloom guarantee)
    for r in content_digests(prior, "text").collect():
        assert bloom.might_contain(r["digest"])
    # local add/probe roundtrip agrees with the distributed build
    local = BloomFilter(1 << 16, 5)
    for r in content_digests(prior, "text").collect():
        local.add(r["digest"])
    assert (local.bits == bloom.bits).all()


def test_probe_matrix_matches_scalar_reference():
    # vectorized uint64 kernel == scalar python-int reference, including
    # NON-power-of-two n_bits where the mod-2^64 wrap placement matters,
    # and the non-hex fallback path (md5'd first)
    import hashlib

    import numpy as np

    from dqc_spark.snapshot import _probe_matrix, _probe_positions

    digests = [hashlib.md5(f"doc{i}".encode()).hexdigest() for i in range(64)]
    for n_bits in (1 << 16, 9_585_059 * 8):  # sized_for-style odd bitmap
        mat = _probe_matrix(np.array(digests), n_bits, 7)
        for row, d in zip(mat, digests):
            assert list(row) == _probe_positions(d, n_bits, 7)
    # arbitrary (non-digest) strings: both sides md5 first
    weird = ["not hex", "x" * 32, ""]
    mat = _probe_matrix(np.array(weird), 4096, 4)
    for row, v in zip(mat, weird):
        assert list(row) == _probe_positions(v, 4096, 4)


def test_bloom_sized_for_and_autosize(spark, snapshots):
    from dqc_spark.snapshot import BloomFilter, new_docs, new_docs_bloom

    # classic sizing: ~9.6 bits/item at 1% FP, k ~= 7
    b = BloomFilter.sized_for(10_000, 0.01)
    assert 9 * 10_000 <= b.n_bits <= 11 * 10_000
    assert 6 <= b.k <= 8
    # auto-sized end-to-end path gives the exact answer
    snap, prior, _ = snapshots
    exact = {r["doc_id"] for r in new_docs(snap, prior).collect()}
    auto = {r["doc_id"] for r in new_docs_bloom(snap, prior).collect()}
    assert auto == exact


def test_new_docs_bloom_matches_exact(spark, snapshots):
    from dqc_spark.snapshot import new_docs, new_docs_bloom

    snap, prior, _ = snapshots
    exact = {(r["doc_id"], r["text"]) for r in new_docs(snap, prior).collect()}
    bloomed = {
        (r["doc_id"], r["text"])
        for r in new_docs_bloom(snap, prior, n_bits=1 << 16, k=5).collect()
    }
    assert bloomed == exact


def test_bloom_fp_rate_bounded(spark, snapshots):
    from dqc_spark.snapshot import bloom_partition, build_bloom, content_digests

    snap, prior, truly_new = snapshots
    bloom = build_bloom(content_digests(prior, "text"), "digest", n_bits=1 << 16, k=5)
    tagged = bloom_partition(snap, bloom, "text").collect()
    fp = sum(1 for r in tagged if r["maybe_seen"] and r["text"] in truly_new)
    # 1<<16 bits for 200 items -> FP rate ~0; allow a loose 5% bound
    assert fp / 100 <= 0.05
    # all 50 re-crawls are (correctly) flagged maybe_seen
    assert sum(1 for r in tagged if r["maybe_seen"]) >= 50


# ---------------------------------------------------------------------------
# NFC normalization
# ---------------------------------------------------------------------------


NORM_CASES = [
    ("café du monde", "café du monde"),  # decomposed -> composed
    # control char BETWEEN base char and combining mark: stripping it
    # must happen BEFORE NFC or the mark never composes (found by the
    # round-2 review; ordering regression pin)
    ("cafe\x07\u0301 x", "caf\u00e9 x"),
    ("a\x00b\x07c", "abc"),  # control chars stripped
    ("x\xa0\xa0y", "x y"),  # NBSP runs collapse
    ("  spaced\t\tout\n\nlines  ", "spaced out lines"),
    ("", ""),
    (None, None),
    ("already clean", "already clean"),
]


def test_normalize_py_pins():
    from dqc_spark.normalize import normalize_text_py

    for raw, want in NORM_CASES:
        assert normalize_text_py(raw) == want, repr(raw)
        if want is not None:  # idempotent
            assert normalize_text_py(want) == want


def test_normalize_udf_matches_py(spark):
    from dqc_spark.normalize import normalize_text_py, normalized_col

    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(NORM_CASES)], "i long, text string"
    )
    got = {
        r["i"]: r["norm"]
        for r in df.select("i", normalized_col(F.col("text")).alias("norm")).collect()
    }
    for i, (raw, want) in enumerate(NORM_CASES):
        assert got[i] == want == normalize_text_py(raw), repr(raw)


# ---------------------------------------------------------------------------
# deterministic global ordering
# ---------------------------------------------------------------------------


def test_training_order_matches_oracle_and_partition_count(spark):
    from dqc_spark.ordering import training_order

    rows = [(i, f"document body {i * 37 % 101}") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def oracle():
        keyed = sorted(
            (hashlib.md5(t.encode()).hexdigest(), i) for i, t in rows
        )
        return {doc_id: pos for pos, (_, doc_id) in enumerate(keyed)}

    want = oracle()
    for nparts in (3, 8):  # positions must not depend on partitioning
        got = {
            r["doc_id"]: r["position"]
            for r in training_order(df, num_partitions=nparts).collect()
        }
        assert got == want, nparts


def test_global_order_index_positions_contiguous(spark):
    from dqc_spark.ordering import global_order_index

    df = spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "k long, grp long"
    )
    out = global_order_index(df, ["grp"], "k", num_partitions=4).collect()
    assert sorted(r["position"] for r in out) == list(range(100))
    # order respects (grp, k)
    by_pos = sorted(out, key=lambda r: r["position"])
    assert [(r["grp"], r["k"]) for r in by_pos] == sorted(
        (r["grp"], r["k"]) for r in out
    )


def test_global_order_plan_no_global_sort_and_narrow_range_shuffle(spark):
    """Two plan pins for the 100-TB shape:

    1. no single-partition Exchange in the data path (the whole point
       over row_number()-without-partition);
    2. the caller-side query serves positions from the cached NARROW
       keyed frame — the executed main branch must not contain its own
       range exchange (the earlier multi-branch spelling planned THREE
       full range shuffles because column pruning defeated
       ReusedExchange)."""
    from dqc_spark.ordering import training_order

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    out = training_order(df, num_partitions=8).select("doc_id", "position")
    out.count()  # execute so AQE finalizes and the cache materializes
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    # strip InMemoryRelation's embedded description of the cached plan:
    # only the live operators above it count
    main = plan.split("InMemoryRelation")[0]
    assert "Exchange rangepartitioning" not in main
    assert "SinglePartition" not in main.split("BroadcastExchange")[0]


# ---------------------------------------------------------------------------
# compression ratio
# ---------------------------------------------------------------------------


def test_compression_ratios(spark):
    from dqc_spark.textstats import compression_ratios

    boiler = "spam spam spam " * 200
    rng = random.Random(3)
    prose = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(7))
        for _ in range(400)
    )
    df = spark.createDataFrame(
        [(1, boiler), (2, prose), (3, ""), (4, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in compression_ratios(df, "doc_id").collect()}
    assert got[1]["n_bytes"] == len(boiler.encode())
    assert got[1]["n_compressed"] == len(zlib.compress(boiler.encode(), 6))
    # boilerplate compresses dramatically better than random prose
    assert got[1]["compression_ratio"] < 0.05 < got[2]["compression_ratio"]
    assert got[3]["compression_ratio"] == 0.0 and got[3]["n_bytes"] == 0
    assert got[4]["n_bytes"] == 0  # NULL -> empty


def test_curate_split_weights_stage(spark):
    from dqc_spark.pagesgen import generate_pages
    from dqc_spark.pipeline import curate
    from dqc_spark.sampling import split_corpus

    pages = generate_pages(spark, 120, n_partitions=4)
    out = curate(pages, near_dup_threshold=None, domain_quota=None,
                 split_weights={"train": 0.8, "val": 0.2})
    rows = out.select("url", "split").collect()
    assert rows and set(r["split"] for r in rows) <= {"train", "val"}
    # the split equals hashing the final keys directly (pure function)
    direct = {r["url"]: r["split"] for r in split_corpus(
        out.select("url"), "url", {"train": 0.8, "val": 0.2}).collect()}
    assert all(direct[r["url"]] == r["split"] for r in rows)
    # default: no split column
    assert "split" not in curate(pages, near_dup_threshold=None,
                                 domain_quota=None).columns


def test_assign_shards_deterministic_and_fixed_size(spark, sf_dir):
    from dqc_spark.ordering import assign_shards, training_order

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = assign_shards(docs, 64).select("doc_id", "shard")
    got = {r.doc_id: r.shard for r in a.collect()}
    # python twin over the same global order
    ordered = sorted(
        (r.position, r.doc_id)
        for r in training_order(docs).select("position", "doc_id").collect())
    for pos, did in ordered:
        assert got[did] == pos // 64, did
    # every shard but the last holds exactly 64 docs
    from collections import Counter
    sizes = Counter(got.values())
    for s in range(max(sizes)):
        assert sizes[s] == 64, s
    # partition invariance
    b = assign_shards(docs.repartition(13), 64).select("doc_id", "shard")
    assert {r.doc_id: r.shard for r in b.collect()} == got


def test_assign_shards_validates(spark, sf_dir):
    import pytest

    from dqc_spark.ordering import assign_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="positive"):
        assign_shards(docs, 0)


def test_write_shards_layout(spark, sf_dir, tmp_path):
    import os

    from dqc_spark.ordering import write_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(130) \
        .repartition(4)
    out = str(tmp_path / "shards")
    n = write_shards(docs, out, 50)
    assert n == 3
    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert dirs == ["shard=0", "shard=1", "shard=2"]
    back = spark.read.parquet(out)
    assert back.count() == 130
    assert back.filter("shard = 0").count() == 50
    assert back.filter("shard = 2").count() == 30


def test_write_shards_jsonl(spark, sf_dir, tmp_path):
    """JSON Lines shard export: same layout and content as parquet,
    gzip-compressed part files, readable by any loader."""
    import gzip as _gzip
    import json as _json
    import os

    from dqc_spark.ordering import assign_shards, write_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(90) \
        .repartition(4).select("doc_id", "text")
    out = str(tmp_path / "shards_json")
    n = write_shards(docs, out, 40, fmt="json", compression="gzip")
    assert n == 3
    back = spark.read.json(out)
    assert back.count() == 90
    assert back.filter("shard = 0").count() == 40
    # the files really are gzipped JSONL a non-Spark loader can read
    d0 = os.path.join(out, "shard=0")
    files = [f for f in os.listdir(d0) if f.endswith(".json.gz")]
    assert files
    with _gzip.open(os.path.join(d0, files[0]), "rt") as f:
        rec = _json.loads(f.readline())
    assert {"doc_id", "text", "position"} <= set(rec)
    # positions inside shard 0 are exactly [0, 40) — the deterministic
    # global-order contract, independent of sink format
    got = sorted(r.position for r in back.filter("shard = 0")
                 .select("position").collect())
    assert got == list(range(40))
    exp = assign_shards(docs, 40)
    pairs_json = {(r.doc_id, r.shard) for r in
                  back.select("doc_id", "shard").collect()}
    pairs_pq = {(r.doc_id, r.shard) for r in
                exp.select("doc_id", "shard").collect()}
    assert pairs_json == pairs_pq
    # null-valued fields are emitted as explicit JSON nulls, not
    # silently dropped (Spark's writer default) — a loader doing
    # rec["meta"] must not KeyError, and the JSON/parquet sinks stay
    # content-equivalent
    withnull = docs.withColumn(
        "meta", F.when(F.col("doc_id") % 2 == 0, F.lit("m")))
    out2 = str(tmp_path / "shards_json_null")
    write_shards(withnull, out2, 40, fmt="json", compression="gzip")
    d0 = os.path.join(out2, "shard=0")
    nulls_seen = 0
    for fn in os.listdir(d0):
        if not fn.endswith(".json.gz"):
            continue
        with _gzip.open(os.path.join(d0, fn), "rt") as f:
            for line in f:
                rec = _json.loads(line)
                assert "meta" in rec
                nulls_seen += rec["meta"] is None
    assert nulls_seen > 0


def test_write_shards_bad_format(spark, sf_dir):
    import pytest

    from dqc_spark.ordering import write_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    with pytest.raises(ValueError, match="fmt"):
        write_shards(docs, "/tmp/never", 5, fmt="csv")


def test_bloom_artifact_roundtrip(spark, tmp_path):
    """save_bloom/load_bloom: the persisted seen-set answers byte-
    identically to the in-memory filter, and new_docs_bloom(bloom=)
    returns the exact new_docs answer without rebuilding."""
    import numpy as np

    from dqc_spark.snapshot import (BloomFilter, build_bloom,
                                    content_digests, load_bloom,
                                    new_docs, new_docs_bloom, save_bloom)

    prior = spark.createDataFrame(
        [(i, f"prior doc {i} body") for i in range(200)],
        "doc_id int, text string")
    snap = spark.createDataFrame(
        [(i, f"prior doc {i} body") for i in range(150, 200)]
        + [(i, f"new doc {i} body") for i in range(40)],
        "doc_id int, text string")

    sized = BloomFilter.sized_for(200)
    bloom = build_bloom(content_digests(prior), "digest",
                        sized.n_bits, sized.k)
    path = str(tmp_path / "seen.bloom")
    save_bloom(bloom, spark, path)
    back = load_bloom(spark, path)
    assert back.n_bits == bloom.n_bits and back.k == bloom.k
    assert np.array_equal(back.bits, bloom.bits)

    got = sorted(r.doc_id for r in
                 new_docs_bloom(snap, prior, bloom=back).collect())
    exp = sorted(r.doc_id for r in new_docs(snap, prior).collect())
    assert got == exp == list(range(40))


def test_bloom_artifact_multichunk_and_corrupt(spark, tmp_path):
    import dqc_spark.snapshot as snapmod
    from dqc_spark.snapshot import BloomFilter, load_bloom, save_bloom
    import numpy as np
    import pytest

    # force multiple chunks with a tiny chunk size
    orig = snapmod._BLOOM_CHUNK
    snapmod._BLOOM_CHUNK = 16
    try:
        b = BloomFilter(512, 3)  # 64 bitmap bytes -> 4 chunks
        for v in ("alpha", "beta", "gamma"):
            b.add(v)
        path = str(tmp_path / "multi.bloom")
        save_bloom(b, spark, path)
        back = load_bloom(spark, path)
        assert np.array_equal(back.bits, b.bits)
        assert back.might_contain("alpha") and not back.might_contain("zzz")
    finally:
        snapmod._BLOOM_CHUNK = orig

    # a truncated artifact must fail loudly, not answer 'all new'
    bad = spark.read.parquet(path).filter("chunk < 2")
    bad_path = str(tmp_path / "trunc.bloom")
    bad.write.parquet(bad_path)
    with pytest.raises(ValueError, match="corrupt"):
        load_bloom(spark, bad_path)


def test_global_enumerate_rejects_null_tiebreak(spark):
    from dqc_spark.ordering import training_order

    df = spark.createDataFrame(
        [(1, "x"), (None, "y")], "doc_id long, text string")
    with pytest.raises(ValueError, match="NULL"):
        training_order(df).collect()


def test_decontaminate_rejects_null_keys(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from dqc_spark.decontam import decontaminate

    # a MIXED corpus: Catalyst infers isnotnull from the semi-join and
    # would empty an all-NULL left side before the kernel runs (AQE
    # then skips the scores subtree entirely) — with any non-NULL row
    # present the kernel executes and the guard fires
    docs = spark.createDataFrame(
        [(None, "clean text about spark executors and shuffles"),
         (1, "another clean document with plenty of words")],
        "doc_id long, text string")
    bench = spark.createDataFrame([("unrelated benchmark text",)], "text string")
    with pytest.raises((PythonException, Py4JJavaError), match="NULL"):
        decontaminate(docs, bench, "doc_id").collect()
    # contamination_scores alone (no join inference) also guards
    from dqc_spark.decontam import contamination_scores

    with pytest.raises((PythonException, Py4JJavaError), match="NULL"):
        contamination_scores(docs, bench, "doc_id").collect()


def test_write_shards_manifest_verifies_transfer(spark, sf_dir, tmp_path):
    """_shards_manifest.json: per-shard rows + per-file bytes/md5 must
    match an independent recomputation from the written files — the
    downstream loader's verification contract."""
    import hashlib
    import json
    import os

    from dqc_spark.ordering import write_shards

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = str(tmp_path / "shards")
    n = write_shards(docs, out, 100, manifest=True)
    with open(os.path.join(out, "_shards_manifest.json")) as f:
        man = json.load(f)
    assert man["n_shards"] == n == len(man["shards"])
    assert man["n_rows"] == docs.count()
    assert man["format"] == "parquet" and man["docs_per_shard"] == 100
    for e in man["shards"]:
        # per-shard rows match the written partition
        got = spark.read.parquet(os.path.join(out, f"shard={e['shard']}"))
        assert got.count() == e["n_rows"]
        # marker files never enter the manifest; data files all do
        for fe in e["files"]:
            assert not os.path.basename(fe["path"]).startswith(("_", "."))
            full = os.path.join(out, fe["path"])
            blob = open(full, "rb").read()
            assert len(blob) == fe["bytes"]
            assert hashlib.md5(blob).hexdigest() == fe["md5"]
    # tamper detection: flip one byte -> recomputed md5 diverges
    fe = man["shards"][0]["files"][0]
    full = os.path.join(out, fe["path"])
    blob = bytearray(open(full, "rb").read())
    blob[len(blob) // 2] ^= 0xFF
    assert hashlib.md5(bytes(blob)).hexdigest() != fe["md5"]


def test_calibrate_thresholds_from_trusted_corpus(spark):
    """Thresholds derive from the trusted corpus's tail quantiles, and
    gating that same corpus with its own calibrated thresholds keeps
    the bulk of it (per-gate tail mass ~quantile)."""
    import pytest
    from pyspark.sql import functions as F

    from dqc_spark.features import FEATURE_NAMES
    from dqc_spark.gates import calibrate_thresholds, gate_predicates
    from dqc_spark.scoring import with_scores

    docs = spark.createDataFrame(
        [(i, ("the word list number %d " % i) * (2 + i // 2))
         for i in range(100)],
        "doc_id long, text string")
    th = calibrate_thresholds(docs, quantile=0.05)
    # n_words spans 10..257 in steps of 5; the 5%/95% cuts land inside
    assert 10 <= th["min_words"] <= 30
    assert 220 <= th["max_words"] <= 257
    assert 0.0 < th["min_stopword_ratio"] <= 0.25  # 'the' is 1/5 words
    # self-consistency: the trusted corpus passes its own gates almost
    # everywhere (<= ~8 gates x 2x5% tails, loosely bounded)
    feats = {k: F.col(k) for k in FEATURE_NAMES}
    drop = None
    for p in gate_predicates(feats, th).values():
        drop = p if drop is None else (drop | p)
    assert with_scores(docs).filter(drop).count() <= 30
    with pytest.raises(ValueError, match="quantile"):
        calibrate_thresholds(docs, quantile=0.7)
    with pytest.raises(ValueError, match="empty"):
        calibrate_thresholds(docs.filter(F.lit(False)))


def test_calibrate_thresholds_match_annotate_features_on_unicode_space(spark):
    """Calibration and the gates read ONE feature definition: on words
    separated by NBSP / U+3000 (Python's \\s, not Java's ASCII \\s),
    every calibrated percentile equals the same percentile over
    annotate()'s feature columns, and annotate's n_words is the
    oracle's features_py count."""
    from pyspark.sql import functions as F

    from dqc_spark.features import features_py
    from dqc_spark.gates import calibrate_thresholds
    from dqc_spark.pipeline import annotate

    texts = [("\u00a0" if i % 2 else "\u3000").join(
        ["the", "cat", "sat", "on", "mat", "word%d" % i] * (2 + i % 7))
        for i in range(60)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    q = 0.05
    th = calibrate_thresholds(docs, quantile=q)

    ann = annotate(docs, lang_col=None, scrub=False).persist()
    got = {r["doc_id"]: r["n_words"]
           for r in ann.select("doc_id", "n_words").collect()}
    assert got == {i: features_py(t)["n_words"] for i, t in enumerate(texts)}

    def pct(col, p):
        return ann.agg(F.percentile_approx(col, F.lit(p), 10_000)).first()[0]

    assert th["min_words"] == pct("n_words", q)
    assert th["max_words"] == pct("n_words", 1 - q)
    assert th["min_mean_word_length"] == pct("mean_word_len", q)
    assert th["max_mean_word_length"] == pct("mean_word_len", 1 - q)
    assert th["min_stopword_ratio"] == pct("stopword_ratio", q)
    assert th["min_alpha_ratio"] == pct("alpha_ratio", q)
    assert th["max_symbol_word_ratio"] == pct("symbol_word_ratio", 1 - q)
    assert th["max_dup_line_fraction"] == pct("dup_line_fraction", 1 - q)
    assert th["max_dup_bigram_fraction"] == pct("dup_bigram_fraction", 1 - q)
    ann.unpersist()


def test_verify_shards_detects_tampering(spark, sf_dir, tmp_path):
    """verify_shards: clean export passes; a flipped byte, a deleted
    file and an extra file are each named in the errors."""
    import os

    import pytest

    from dqc_spark.ordering import verify_shards, write_shards

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = str(tmp_path / "shards")
    write_shards(docs, out, 200, manifest=True)
    res = verify_shards(spark, out)
    assert res["ok"] and res["errors"] == [] and res["n_files"] > 0

    # tamper: flip one byte mid-file (size unchanged -> checksum error)
    victim = None
    for dirpath, _dirs, files in os.walk(out):
        for name in files:
            if name.endswith(".parquet"):
                victim = os.path.join(dirpath, name)
                break
        if victim:
            break
    blob = bytearray(open(victim, "rb").read())
    blob[len(blob) // 2] ^= 0xFF
    open(victim, "wb").write(bytes(blob))
    res = verify_shards(spark, out)
    assert not res["ok"]
    assert any("checksum mismatch" in e for e in res["errors"])

    # restore via rewrite (fresh filenames), then delete a file +
    # plant an extra one
    write_shards(docs, out, 200, manifest=True)
    victim = None
    for dirpath, _dirs, files in os.walk(out):
        for name in files:
            if name.endswith(".parquet"):
                victim = os.path.join(dirpath, name)
                break
        if victim:
            break
    os.remove(victim)
    extra = os.path.join(out, "shard=0", "part-extra.parquet")
    open(extra, "wb").write(b"not parquet")
    res = verify_shards(spark, out)
    assert any(e.startswith("missing file") for e in res["errors"])
    assert any("not in manifest" in e for e in res["errors"])
    with pytest.raises(FileNotFoundError, match="manifest"):
        verify_shards(spark, str(tmp_path / "nowhere"))


def test_write_shards_manifest_rejects_uri_paths(spark, sf_dir):
    import os

    import pytest

    from dqc_spark.ordering import write_shards

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    with pytest.raises(ValueError, match="local filesystem"):
        write_shards(docs, "hdfs://nn/exports/run1", 100, manifest=True)
