"""Unit tests for dedup / textstats operators
with planted duplicates and known-answer fixtures."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dqc_spark.textmodels import corpus_seq


def _doc(seed: int, n: int = 120, lang: str = "en") -> str:
    seq = corpus_seq(lang)
    start = seed * 37 % len(seq)
    return " ".join(seq[(start + j) % len(seq)] for j in range(n))


@pytest.fixture(scope="module")
def docs(spark):
    base = _doc(1)
    rows = [
        (0, base),                       # original
        (1, base),                       # exact dup of 0
        (2, base.replace("the", "thy", 3)),  # near dup of 0
        (3, _doc(7)),                    # different doc
        (4, _doc(13, lang="de")),        # different lang
        (5, _doc(29)),                   # another distinct doc
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_groups(spark, docs):
    from dqc_spark.dedup import dedup_exact, exact_dup_groups

    groups = exact_dup_groups(docs, "text").collect()
    assert len(groups) == 1 and groups[0]["n"] == 2
    kept = dedup_exact(docs, ["doc_id"], "text")
    assert kept.count() == 5  # one of the exact pair dropped
    assert kept.filter("doc_id = 0").count() == 1  # min key wins


def test_minhash_finds_planted_near_dups(spark, docs):
    from dqc_spark.dedup import minhash_near_dups

    pairs = {(r["key_a"], r["key_b"]): r["est_jaccard"]
             for r in minhash_near_dups(docs, "doc_id", threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0          # exact dup -> identical signatures
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup caught
    assert not any({a, b} & {3, 4, 5} and {a, b} <= {3, 4, 5}
                   for a, b in pairs)    # distinct docs not paired


def test_minhash_estimates_track_exact_jaccard(spark, docs):
    from dqc_spark.dedup import (minhash_near_dups, ngram_jaccard_pairs)

    pairs = minhash_near_dups(docs, "doc_id", threshold=0.3)
    both = ngram_jaccard_pairs(docs, pairs.select("key_a", "key_b"), "doc_id")
    est = {(r["key_a"], r["key_b"]): r["est_jaccard"] for r in pairs.collect()}
    for r in both.collect():
        assert abs(est[(r["key_a"], r["key_b"])] - r["jaccard"]) < 0.25


@pytest.mark.parametrize("max_hamming", [0, 3, 6, 10])
def test_simhash_finds_planted_near_dups(spark, docs, max_hamming):
    # radii 0/3, 6 and 10 run the 4x16, 8x8 and 16x4 chunk layouts of
    # the pigeonhole join; each must find exactly the all-pairs answer
    from dqc_spark.dedup import (hamming_near_dups, simhash_near_dups,
                                 simhash_py)

    def within(sims):
        dist = {(a, b): bin(sims[a] ^ sims[b]).count("1")
                for a in sims for b in sims if a < b}
        return {k: h for k, h in dist.items() if h <= max_hamming}

    assert simhash_py("") == 0
    pairs = {(r["key_a"], r["key_b"]): r["hamming"]
             for r in simhash_near_dups(docs, "doc_id",
                                        max_hamming=max_hamming).collect()}
    assert pairs[(0, 1)] == 0
    sims = {r["doc_id"]: simhash_py(r["text"]) for r in docs.collect()}
    assert pairs == within(sims)

    # the fixture's hashes sit 0 or 9 bits apart; planted signatures
    # with 0..11 flipped bits also put pairs just inside and outside
    # every radius
    rng = np.random.Generator(np.random.Philox(key=[11, 0]))
    planted = {}
    for b in range(3):
        base = int("".join(map(str, rng.integers(0, 2, 63))), 2)
        for k in range(12):
            flips = rng.choice(63, size=k, replace=False)
            planted[f"b{b}k{k:02d}"] = base ^ sum(1 << int(i) for i in flips)
    sig = spark.createDataFrame(list(planted.items()), "key string, sim long")
    got = {(r["key_a"], r["key_b"]): r["hamming"] for r in
           hamming_near_dups(sig, max_hamming=max_hamming).collect()}
    assert got == within(planted)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dups(docs, "doc_id", max_hamming=16)


def test_textstats_known_answers(spark):
    from dqc_spark.textstats import (fingerprint, langid_heuristic,
                                     token_stats)

    df = spark.createDataFrame(
        [
            (1, "The cat and the dog, of course!"),
            (2, "der hund und die katze ist nicht hier"),
            (3, "的 一 是 不 了 在 有"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    langs = {r["doc_id"]: r["lang"] for r in df.select(
        "doc_id", langid_heuristic(F.col("text")).alias("lang")).collect()}
    assert langs == {1: "en", 2: "de", 3: "zh", 4: "und"}

    ts = {r["doc_id"]: r for r in token_stats(df, "doc_id").collect()}
    assert ts[1]["ws_tokens"] == 7
    assert ts[1]["bpeish_tokens"] == 9  # 7 words + ',' + '!'
    fp = df.select(fingerprint(F.col("text")).alias("f")).collect()
    assert all(len(r["f"]) == 32 for r in fp)
    # fingerprint is whitespace/case normalized
    df2 = spark.createDataFrame(
        [(1, "THE   cat and the\ndog, of course!")], "doc_id long, text string")
    f1 = df.filter("doc_id=1").select(fingerprint(F.col("text")).alias("f")).first()["f"]
    f2 = df2.select(fingerprint(F.col("text")).alias("f")).first()["f"]
    assert f1 == f2


def test_dedup_exact_multi_key_no_phantom_winner(spark):
    # regression: per-column minima over a dup group with keys (1,5) and
    # (2,3) elect phantom winner (1,3) -- matches no row, semi-join drops
    # BOTH copies.  min(struct) must elect the real tuple (1,5).
    from dqc_spark.dedup import dedup_exact

    rows = [(1, 5, "dup dup dup"), (2, 3, "dup dup dup"), (9, 9, "solo")]
    df = spark.createDataFrame(rows, "k1 long, k2 long, text string")
    got = {(r["k1"], r["k2"]) for r in dedup_exact(df, ["k1", "k2"]).collect()}
    assert got == {(1, 5), (9, 9)}


def test_minhash_and_simhash_string_keys(spark, docs):
    # signature kernels must preserve the actual key dtype: a corpus
    # keyed by raw url strings (no xxhash64 pre-step) goes end-to-end
    from dqc_spark.dedup import minhash_near_dups, simhash_near_dups

    urls = docs.select(
        F.concat(F.lit("https://example.com/p"), F.col("doc_id")).alias("url"),
        "text",
    )
    mh = {(r["key_a"], r["key_b"])
          for r in minhash_near_dups(urls, "url", threshold=0.5).collect()}
    assert ("https://example.com/p0", "https://example.com/p1") in mh
    sh = {(r["key_a"], r["key_b"]): r["hamming"]
          for r in simhash_near_dups(urls, "url", max_hamming=3).collect()}
    assert sh[("https://example.com/p0", "https://example.com/p1")] == 0


def test_dedup_exact_priority_prefers_low_rank(spark):
    from dqc_spark.dedup import dedup_exact_priority, source_priority_col

    rows = [
        (1, "crawl", "shared page"),
        (2, "wiki", "shared page"),
        (3, "curated", "shared page"),
        (4, "crawl", "crawl only"),
        (5, None, "null vs crawl"),       # NULL source ranks worst
        (6, "crawl", "null vs crawl"),
        (7, "mystery", "unlisted tie"),   # unlisted sources tie at worst...
        (8, "enigma", "unlisted tie"),    # ...so the smallest key wins
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    pri = source_priority_col("source", {"curated": 0, "wiki": 1, "crawl": 2})
    kept = {r["doc_id"] for r in dedup_exact_priority(df, ["doc_id"], pri).collect()}
    assert kept == {3, 4, 6, 7}

    # equal-priority groups degrade to dedup_exact's smallest-key rule
    from dqc_spark.dedup import dedup_exact

    flat = dedup_exact_priority(df, ["doc_id"], F.lit(1))
    assert {r["doc_id"] for r in flat.collect()} == {
        r["doc_id"] for r in dedup_exact(df, ["doc_id"]).collect()}


def test_dedup_exact_priority_null_text_and_column_name(spark):
    from dqc_spark.dedup import dedup_exact_priority

    rows = [
        (1, 2, None),   # NULL texts form one group (md5 NULL groups)
        (2, 1, None),   # lower stored priority wins it
        (3, 1, "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, pri int, text string")
    kept = {r["doc_id"]
            for r in dedup_exact_priority(df, ["doc_id"], "pri").collect()}
    assert kept == {2, 3}


def test_soft_weights(spark):
    from dqc_spark.dedup import dedup_soft_weights

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (4, "y"), (5, None), (6, None)],
        "doc_id bigint, text string")
    rows = {r["doc_id"]: r for r in dedup_soft_weights(
        df, "doc_id").collect()}
    assert len(rows) == 6  # every row kept, including NULL texts
    assert [rows[i]["n_copies"] for i in (1, 2, 3)] == [3, 3, 3]
    assert rows[1]["weight"] == pytest.approx(1 / 3)
    assert rows[4]["n_copies"] == 1 and rows[4]["weight"] == 1.0
    # NULL texts form one group of their own
    assert rows[5]["n_copies"] == 2 and rows[5]["weight"] == 0.5
    # total mass == number of distinct contents (incl. the NULL group)
    assert sum(r["weight"] for r in rows.values()) == pytest.approx(3.0)
