"""Distributed LM training (lmtrain.py): exact Spark-vs-python model
parity, pruning determinism, and the trained model scoring through the
perplexity UDF bit-identically to the python kernel."""

import pytest
from pyspark.sql import functions as F

from dqc_spark.lmtrain import (
    bigram_counts,
    train_bigram_lm,
    train_lm_py,
    word_counts,
)
from dqc_spark.pagesgen import generate_pages
from dqc_spark.textmodels import perplexity
from dqc_spark.wordhash import fold_tokens


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 120, n_partitions=5).persist()


def _texts(pages):
    return [r["text"] for r in pages.select("text").collect()]


def test_word_counts_match_counter(spark, pages):
    from collections import Counter

    want = Counter()
    for t in _texts(pages):
        want.update(fold_tokens(t))
    got = {r["word"]: r["n_occurrences"] for r in word_counts(pages).collect()}
    assert got == dict(want)


def test_bigram_counts_match_counter_and_vocab_filter(spark, pages):
    from collections import Counter

    want = Counter()
    for t in _texts(pages):
        toks = fold_tokens(t)
        want.update(f"{a} {b}" for a, b in zip(toks, toks[1:]))
    got = {r["gram"]: r["n_occurrences"]
           for r in bigram_counts(pages).collect()}
    assert got == dict(want)

    # vocabulary restriction drops OOV pairs inside the kernel
    vocab = frozenset(list(zip(*Counter(
        w for t in _texts(pages)
        for w in fold_tokens(t)).most_common(40)))[0])
    got_v = {r["gram"]: r["n_occurrences"]
             for r in bigram_counts(pages, vocab=vocab).collect()}
    want_v = {g: c for g, c in want.items()
              if all(w in vocab for w in g.split(" ", 1))}
    assert got_v == want_v


def test_trained_model_matches_python_reference_exactly(spark, pages):
    texts = _texts(pages)
    got = train_bigram_lm(pages, max_vocab=None, min_count=1,
                          max_bigrams=None)
    want = train_lm_py(texts)
    assert got == want


def test_trained_model_pruning_parity(spark, pages):
    texts = _texts(pages)
    got = train_bigram_lm(pages, max_vocab=50, min_count=2, max_bigrams=80)
    want = train_lm_py(texts, max_vocab=50, min_count=2, max_bigrams=80)
    assert got == want
    assert len(got["unigrams"]) <= 50
    assert len(got["bigrams"]) <= 80
    assert min(got["bigrams"].values()) >= 2
    # every bigram's words are in the kept vocabulary
    for key in got["bigrams"]:
        a, b = key.split("\x00")
        assert a in got["unigrams"] and b in got["unigrams"]


def test_trained_model_scores_through_udf(spark, pages):
    """with_perplexity(lm=trained) == python perplexity with the same
    model — the trained dict is a drop-in for the scoring slot."""
    from dqc_spark.perplexity import with_perplexity

    lm = train_bigram_lm(pages, max_vocab=200, min_count=1,
                         max_bigrams=None)
    # compare (text, ppl) jointly per row — pagesgen plants duplicate
    # urls with DIFFERENT texts, so a url-keyed dict would cross-pair
    rows = with_perplexity(pages, lm=lm).select("text", "ppl").collect()
    assert len(rows) == 120
    for r in rows:
        assert r["ppl"] == perplexity(r["text"], lm)


def test_partition_invariance(spark, pages):
    one = train_bigram_lm(pages.repartition(1), max_vocab=60, min_count=1,
                          max_bigrams=100)
    many = train_bigram_lm(pages.repartition(13), max_vocab=60, min_count=1,
                           max_bigrams=100)
    assert one == many


def test_annotate_with_trained_lm_matches_golden_oracle(spark, pages):
    """The CCNet loop end-to-end: a Spark-trained LM drives the high-ppl
    gate, and annotate's keep decisions match the golden oracle with the
    same model."""
    from dqc_spark.pipeline import annotate
    from dqc_spark.pipeline_oracle import gate_flags_py

    lm = train_bigram_lm(pages, max_vocab=None, min_count=1,
                         max_bigrams=None)

    rows = annotate(pages, lm=lm).select("text", "lang", "keep").collect()
    assert len(rows) == 120
    for r in rows:
        flags = gate_flags_py(r["text"], r["lang"], lm=lm)
        want = not any(v for k, v in flags.items()
                       if k.startswith("gate_"))
        assert r["keep"] == want, r["text"][:40]
    # the trained model must actually change SOMETHING vs the default
    # (the corpus contains gibberish docs whose bigrams the self-trained
    # LM has seen — their ppl drops), otherwise this test pins nothing
    default_keep = sum(r["keep"] for r in annotate(pages).select(
        "keep").collect())
    trained_keep = sum(r["keep"] for r in rows)
    assert trained_keep != default_keep


def test_multilingual_gram_tables(spark):
    # CJK trains per-codepoint grams (CCNet fallback), NBSP splits,
    # Cyrillic folds case — the Unicode-tokenizer contract end-to-end
    docs = [
        (0, "Доброе утро мир"),
        (1, "доброе утро снова"),
        (2, "日本語です"),
        (3, "good morning plain"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    wc = {r["word"]: r["n_occurrences"] for r in word_counts(df).collect()}
    assert wc["доброе"] == 2 and wc["утро"] == 2
    assert wc["日"] == 1 and wc["本"] == 1 and wc["語"] == 1
    # NBSP is a separator: 'good\xa0morning' is two tokens
    assert wc["good"] == 1 and wc["morning"] == 1
    from collections import Counter

    want = Counter()
    for _, t in docs:
        toks = fold_tokens(t)
        want.update(f"{a} {b}" for a, b in zip(toks, toks[1:]))
    got = {r["gram"]: r["n_occurrences"]
           for r in bigram_counts(df).collect()}
    assert got == dict(want)
    assert "日 本" in got  # CJK bigram = character bigram


def test_lm_parquet_round_trip_is_exact(spark, pages, tmp_path):
    """lm_to_df/lm_from_df: the persisted model scores every document
    bit-identically to the in-memory one (counts are ints, k is one
    float — nothing to drift), and a foreign/truncated table fails
    loudly instead of scoring everything OOV."""
    from dqc_spark.lmtrain import lm_from_df, lm_to_df, train_bigram_lm

    lm = train_bigram_lm(pages, max_vocab=500, max_bigrams=2000)
    path = str(tmp_path / "lm.parquet")
    lm_to_df(spark, lm).write.parquet(path)
    back = lm_from_df(spark.read.parquet(path))
    assert back == lm  # dict equality: exact counts, exact k
    texts = [r["text"] for r in pages.limit(20).collect()]
    assert [perplexity(t, back) for t in texts] == \
        [perplexity(t, lm) for t in texts]
    with pytest.raises(ValueError, match="not an LM table"):
        lm_from_df(spark.createDataFrame(
            [("uni", "word", 1, None)],
            "kind string, gram string, n long, f double"))


def test_cli_train_lm_then_curate_with_it(capsys, spark, tmp_path):
    """The CCNet loop from the CLI: train-lm on a trusted slice, curate
    the crawl with --ppl-model/--max-ppl.  A permissive cutoff keeps
    docs the default model's gate would also keep; an absurdly strict
    one drops everything — proving the flags actually reach the gate."""
    from dqc_spark import cli

    src = str(tmp_path / "pages.parquet")
    model = str(tmp_path / "lm.parquet")
    generate_pages(spark, 120, n_partitions=2).write.parquet(src)
    db = str(tmp_path / "q.db")
    rc = cli.main(["--db-path", db, "train-lm", "--input", src,
                   "--output", model, "--max-vocab", "2000"])
    assert rc == 0 and "trained bigram LM" in capsys.readouterr().out

    out1 = str(tmp_path / "curated1")
    rc = cli.main(["--db-path", db, "curate", "--input", src,
                   "--output", out1, "--near-dup-threshold", "-1",
                   "--ppl-model", model, "--max-ppl", "1e9"])
    assert rc == 0
    capsys.readouterr()
    n_loose = spark.read.parquet(out1).count()
    assert n_loose > 0

    out2 = str(tmp_path / "curated2")
    rc = cli.main(["--db-path", db, "curate", "--input", src,
                   "--output", out2, "--near-dup-threshold", "-1",
                   "--ppl-model", model, "--max-ppl", "0.1"])
    assert rc == 0
    capsys.readouterr()
    assert spark.read.parquet(out2).count() == 0
