"""Unit tests for dedup / similarity / textstats operators
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


def test_brute_force_topk_exact(spark):
    from dqc_spark.similarity import brute_force_topk

    rng = np.random.Generator(np.random.Philox(key=[3, 0]))
    vecs = rng.standard_normal((50, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    q = vecs[5]
    got = brute_force_topk(df, [float(x) for x in q], k=5).collect()
    sims = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    want = list(np.argsort(-sims)[:5])
    assert [r["vec_id"] for r in got] == [int(i) for i in want]
    assert got[0]["vec_id"] == 5 and got[0]["cosine"] == pytest.approx(1.0)


def test_lsh_topk_contains_self(spark):
    from dqc_spark.similarity import lsh_topk

    rng = np.random.Generator(np.random.Philox(key=[4, 0]))
    vecs = rng.standard_normal((80, 64)).astype("float32")
    vecs[11] = vecs[3] + rng.standard_normal(64).astype("float32") * 0.01
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    got = lsh_topk(df, [float(x) for x in vecs[3]], k=3, max_hamming=2)
    ids = [r["vec_id"] for r in got.collect()]
    assert ids[0] == 3 and 11 in ids  # self + planted neighbor retrieved


def test_lsh_index_matches_oneoff_and_reuses_signatures(spark):
    # the batch-query index must return the same answers as the one-off
    # lsh_topk for the same planes/seed, without recomputing signatures
    from dqc_spark.similarity import LshIndex, lsh_topk

    rng = np.random.Generator(np.random.Philox(key=[9, 0]))
    vecs = rng.standard_normal((120, 64)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    idx = LshIndex(df)
    for qi in (3, 40, 77):
        q = [float(x) for x in vecs[qi]]
        a = [(r.vec_id, r.cosine) for r in idx.topk(q, k=5, max_hamming=3).collect()]
        b = [(r.vec_id, r.cosine)
             for r in lsh_topk(df, q, k=5, max_hamming=3).collect()]
        assert a == b
        assert a[0][0] == qi  # self is always retrieved
    idx.close()


def test_embedding_near_dups_lsh_finds_planted(spark):
    from dqc_spark.similarity import embedding_near_dups

    rng = np.random.Generator(np.random.Philox(key=[5, 0]))
    vecs = rng.standard_normal((60, 64)).astype("float32")
    vecs[20] = vecs[7] * 1.001  # cosine ~ 1
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    pairs = embedding_near_dups(df, threshold=0.95).collect()
    assert any(r["key_a"] == 7 and r["key_b"] == 20 for r in pairs)


def test_embedding_near_dups_recall_vs_exact(spark):
    # recall of the banded LSH against the exact all-pairs oracle on a
    # corpus with PLANTED near-dup clusters (the stored test embeddings
    # are near-random, so the planting happens here): 100 bases x 2
    # noisy copies each + the bases themselves
    from dqc_spark.similarity import embedding_near_dups

    rng = np.random.Generator(np.random.Philox(key=[6, 0]))
    base = rng.standard_normal((100, 64))
    rows = []
    vid = 0
    all_vecs = []
    for v in base:
        for _ in range(3):  # base + 2 noisy copies
            w = v + 0.10 * rng.standard_normal(64)
            all_vecs.append(w)
            rows.append((vid, [float(x) for x in w]))
            vid += 1
    m = np.stack(all_vecs)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = mn @ mn.T
    iu = np.triu_indices(len(m), 1)
    exact = {
        (int(a), int(b))
        for a, b in zip(iu[0][cos[iu] >= 0.9], iu[1][cos[iu] >= 0.9])
    }
    assert len(exact) >= 200  # planting worked

    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["key_a"], r["key_b"])
        for r in embedding_near_dups(df, threshold=0.9).collect()
    }
    # precision is 1.0 by construction (exact cosine re-score)
    assert got <= exact
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.3f} below 0.9"


def test_lsh_candidates_bounded_under_skew(spark):
    # a degenerate corpus (one vector repeated 400x) would emit ~80k
    # candidate pairs per band uncapped; the bucket cap must drop the
    # hot buckets so the join fanout stays bounded — this is the
    # 100-TB-safety property the round-1 implementation lacked
    from dqc_spark.similarity import (
        hyperplane_lsh_candidate_pairs,
        hyperplane_signatures,
    )

    rng = np.random.Generator(np.random.Philox(key=[7, 0]))
    hot = rng.standard_normal(64)
    vecs = [hot] * 400 + [rng.standard_normal(64) for _ in range(100)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    sigs = hyperplane_signatures(df, n_planes=64)
    n_cand = hyperplane_lsh_candidate_pairs(sigs, max_bucket=50).count()
    # every bucket containing the hot vector exceeds the cap and is
    # dropped; remaining candidates come from the 100 random vectors
    assert n_cand < 400 * 399 / 2 / 10, n_cand


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


def test_arrow_topk_zero_and_null_vectors_never_top_k(spark):
    """Zero-norm / NULL embeddings yield NULL cosine (sorted last) in
    BOTH brute-force twins — an unguarded NaN would sort FIRST."""
    from dqc_spark.similarity import brute_force_topk, brute_force_topk_arrow

    q = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),   # zero vector -> NaN unguarded
        (3, None),                    # NULL -> np.stack crash unguarded
        (4, [0.5, 0.5, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for fn in (brute_force_topk, brute_force_topk_arrow):
        got = fn(df, q, k=2, round_to=6).collect()
        assert [r["vec_id"] for r in got] == [1, 4], fn.__name__
        assert all(r["cosine"] is not None for r in got), fn.__name__


def test_lsh_topk_64_planes_sign_bit(spark):
    """n_planes=64 packs bit 63 into the int64 sign bit; the query
    signature must wrap identically (the plain 1<<63 python int could
    not even be F.lit'd)."""
    import numpy as np

    from dqc_spark.similarity import LshIndex, lsh_topk

    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(64).tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # query = vector 7 itself: its signature matches exactly, so it must
    # be retrievable at hamming 0 regardless of which sign bits are set
    q = rows[7][1]
    got = lsh_topk(df, q, k=1, n_planes=64, max_hamming=0).collect()
    assert got and got[0]["vec_id"] == 7
    ix = LshIndex(df, n_planes=64)
    got2 = ix.topk(q, k=1, max_hamming=0).collect()
    ix.close()
    assert got2 and got2[0]["vec_id"] == 7


def test_signatures_reject_uniform_dim_mismatch(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from dqc_spark.similarity import embedding_near_dups

    rows = [(i, [float(i), 1.0]) for i in range(20)]  # dim 2, default 64
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises((PythonException, Py4JJavaError), match="dim"):
        embedding_near_dups(df).collect()
